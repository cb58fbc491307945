package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.LocalDate
import java.time.format.TextStyle
import java.util.{Locale, SplittableRandom}
import scala.collection.mutable

/** Seeded generator of the reference-shaped dirty landing CSVs for the
  * `medallion` workload, with the clean ground truth kept beside them.
  *
  * Every dirty pattern of the reference data appears at its observed rate:
  * duplicate rows, name case/space noise, city typos and empty cities
  * (customers); duplicate rows, the Protien misspelling, lowercase
  * categories and an alphanumeric id (products); `M/d/yy` months, negative
  * and non-numeric prices, bogus product ids (gross price); the four
  * order-date styles plus the single-digit-day long form that parses to
  * null, empty quantities, noise customer ids, duplicate rows and unknown
  * product ids (orders). The program receives only the files; the same
  * seed gives byte-identical files.
  */
object MedallionGen {

  final case class Sizes(
      fullRows: Int = 600000, fullDays: Int = 151,
      incDays: Int = 34, incRowsPerDay: Int = 310,
      parentCustomers: Int = 18, parentProducts: Int = 397, parentDivisions: Int = 25,
      parentFactRows: Int = 93055, parentIncRows: Int = 4485)

  /** Gold-grain key: (month start yyyy-MM-dd, product_code, customer_code). */
  type Key = (String, String, String)

  /** Where the files landed and what gold must hold after each step. */
  final case class Dataset(
      root: File,
      parentDir: File, parentIncDir: File,
      customersCsv: File, productsCsv: File, grossPriceCsv: File,
      landingDir: File, incDirs: Vector[File],
      parentFact: Map[Key, Long], parentInc: Map[Key, Long],
      childFull: Map[Key, Long], childInc: Vector[Map[Key, Long]],
      fullBytes: Long, incBytes: Vector[Long], parentBytes: Long, parentIncBytes: Long) {
    /** Expected child rows of gold after the full load and `n` increments. */
    def childAfter(n: Int): Map[Key, Long] =
      childInc.take(n).foldLeft(childFull)(Dataset.addAll)
  }

  object Dataset {
    def addAll(a: Map[Key, Long], b: Map[Key, Long]): Map[Key, Long] =
      b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v) }
  }

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  val LookupIds = Seq(789403, 789420, 789521, 789603)
  private val ValidCities = Seq("New York", "Chicago", "Austin")
  private val CityTypos = Seq("Austn", "Austiin", "Austinn", "Newyork", "New yok",
    "Chicagoo", "Chciago", "Chicgo", "Chcago")
  private val UnknownCities = Seq("Boston", "Dallas")
  private val NoiseCustomers = Seq("ABC987", "XYZ123", "INVALID")
  private val Categories = Seq("energy bars", "protien bars", "granola & cereals",
    "recovery dairy", "healthy snacks", "electrolyte mix")
  private val ProductBases = Seq("PowerBite Protien Bar", "Endura Energy Bar",
    "Summit Granola", "Recovery Shake", "Trail Snack Mix", "HydraFuel Mix",
    "Oat Crunch Cereal", "Greek Recovery Yogurt", "Protien Crisp Bar",
    "Almond Energy Bites", "Electrolyte Tabs", "Muesli Clusters", "Choco Protien Bar",
    "Rice Cake Snacks", "Peak Energy Chews", "Whey Recovery Milk", "Citrus Hydration Mix")
  private val Variants = Seq("60g", "30 Sachets", "500g", "1kg", "45g", "12 Pack", "250ml")
  private val FirstNames = Seq("Hydro", "Sprint", "Peak", "Iron", "Vita", "Power",
    "Endure", "Summit", "Core", "Prime", "Apex", "Trail")
  private val LastNames = Seq("Boost Nutrition", "X Foods", "Fuel Co", "Supplements",
    "Labs", "Snack Co", "Edge", "Wellness", "Market", "Mart")

  private final class Csv(f: File) {
    f.getParentFile.mkdirs()
    private val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    def line(cells: String*): Unit = { w.write(cells.mkString(",")); w.write('\n') }
    def close(): Unit = w.close()
  }

  private def monthStart(d: LocalDate): String = d.withDayOfMonth(1).toString

  /** The order-date renderings of one day in the reference's styles:
    * dd-MM-yyyy, dd/MM/yyyy, yyyy/MM/dd, the quoted long form, and the
    * single-digit-day long form ("Saturday, January 3, 2026") that the
    * reference's formats read as null (days 1-9 only).
    */
  private def renderings(d: LocalDate): (Seq[String], Option[String]) = {
    val dd = f"${d.getDayOfMonth}%02d"
    val mm = f"${d.getMonthValue}%02d"
    val wd = d.getDayOfWeek.getDisplayName(TextStyle.FULL, Locale.US)
    val mon = d.getMonth.getDisplayName(TextStyle.FULL, Locale.US)
    def long(day: String) = s"\"$wd, $mon $day, ${d.getYear}\""
    (Seq(s"$dd-$mm-${d.getYear}", s"$dd/$mm/${d.getYear}", s"${d.getYear}/$mm/$dd", long(dd)),
      if (d.getDayOfMonth < 10) Some(long(d.getDayOfMonth.toString)) else None)
  }

  def generate(root: File, seed: Long, sizes: Sizes = Sizes()): Dataset = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    root.mkdirs()
    val parentDir = new File(root, "parent/full_load")
    val parentIncDir = new File(root, "parent/incremental_load")

    // ---- parent (already gold-shaped) ----
    val markets = Seq("Northeast", "Midwest", "South", "West Coast")
    val pCust = (1 to sizes.parentCustomers).map(i => f"AT$i%03d")
    val dc = new Csv(new File(parentDir, "dim_customers.csv"))
    dc.line("customer_code", "customer", "market", "platform", "channel")
    pCust.foreach { c =>
      val online = r.nextInt(3) == 0
      dc.line(c, s"Atliq ${FirstNames(r.nextInt(FirstNames.length))}-$c",
        markets(r.nextInt(markets.length)), if (online) "Online" else "In-Store",
        if (online) "DTC" else "Retail")
    }
    dc.close()
    val alnum = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    val pProd = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < sizes.parentProducts)
        seen += (1 to 10).map(_ => alnum.charAt(r.nextInt(alnum.length))).mkString
      seen.toVector
    }
    val dp = new Csv(new File(parentDir, "dim_products.csv"))
    dp.line("product_code", "division", "category", "product", "variant")
    pProd.zipWithIndex.foreach { case (p, i) =>
      val div = f"Division ${i % sizes.parentDivisions}%02d"
      dp.line(p, div, s"Category ${i % 40}", s"Summit Item $i", Variants(r.nextInt(Variants.length)))
    }
    dp.close()
    val dg = new Csv(new File(parentDir, "dim_gross_price.csv"))
    dg.line("product_code", "price_usd", "year")
    pProd.foreach { p =>
      val base = 2 + r.nextInt(600) / 10.0
      dg.line(p, base.toString, "2024")
      dg.line(p, (math.rint(base * 11) / 10).toString, "2025")
    }
    dg.close()

    /** Exactly k of the product × customer combos of `month` (Knuth's
      * selection sampling), each with a quantity. */
    def parentMonth(month: String, k: Int, out: Csv, acc: mutable.Map[Key, Long]): Unit = {
      val n = pProd.length * pCust.length
      var picked = 0
      var i = 0
      for (p <- pProd; c <- pCust) {
        if (r.nextInt(n - i) < k - picked) {
          val q = 1L + r.nextInt(500)
          out.line(month, p, c, q.toString)
          acc((month, p, c)) = q
          picked += 1
        }
        i += 1
      }
    }
    val months = (0 until 23).map(m => LocalDate.of(2024, 1, 1).plusMonths(m).toString)
    val pf = new Csv(new File(parentDir, "fact_orders.csv"))
    pf.line("date", "product_code", "customer_code", "sold_quantity")
    val parentFact = mutable.LinkedHashMap.empty[Key, Long]
    months.zipWithIndex.foreach { case (m, i) =>
      val k = sizes.parentFactRows / months.length + (if (i < sizes.parentFactRows % months.length) 1 else 0)
      parentMonth(m, k, pf, parentFact)
    }
    pf.close()
    val pi = new Csv(new File(parentIncDir, "fact_orders.csv"))
    pi.line("date", "product_code", "customer_code", "sold_quantity")
    val parentInc = mutable.LinkedHashMap.empty[Key, Long]
    parentMonth("2025-12-01", sizes.parentIncRows, pi, parentInc)
    pi.close()
    // the reference's drop directory also holds the COPY INTO statement,
    // which the load must skip
    val q = new Csv(new File(parentIncDir, "incremental_data_parent_company_query.txt"))
    q.line("COPY INTO gold_fact_orders FROM 'incremental_load/' FILEFORMAT = CSV")
    q.close()

    // ---- child customers: 35 distinct ids + 4 exact duplicate rows ----
    val custIds = {
      val s = mutable.LinkedHashSet[Int](LookupIds: _*)
      while (s.size < 35) s += 789401 + r.nextInt(220)
      s.toVector.sorted
    }
    val cc = new Csv(new File(root, "child/customers/customers.csv"))
    cc.line("customer_id", "customer_name", "city")
    val custRows = custIds.map { id =>
      val name0 = s"${FirstNames(r.nextInt(FirstNames.length))}${LastNames(r.nextInt(LastNames.length))}"
      val name = r.nextInt(5) match {
        case 0 => s"\" $name0 \""
        case 1 => name0.toLowerCase
        case _ => name0
      }
      val city =
        if (LookupIds.contains(id)) ""
        else r.nextInt(20) match {
          case x if x < 11 => ValidCities(r.nextInt(ValidCities.length))
          case x if x < 19 => CityTypos(r.nextInt(CityTypos.length))
          case _ => UnknownCities(r.nextInt(UnknownCities.length))
        }
      Seq(id.toString, name, city)
    }
    val dupCust = (0 until 4).map(_ => r.nextInt(custRows.length)).toSet
    custRows.zipWithIndex.foreach { case (row, i) =>
      cc.line(row: _*)
      if (dupCust(i)) cc.line(row: _*)
    }
    (dupCust.size until 4).foreach(_ => cc.line(custRows.head: _*))
    cc.close()

    // ---- child products: 17 valid + 1 alphanumeric id + 2 duplicate rows ----
    val prodIds = (1 to ProductBases.length).map(i => (25891100 + i).toString)
    val prodNames = ProductBases.map(b => s"$b (${Variants(r.nextInt(Variants.length))})")
    val prodCodes: Map[String, String] = prodIds.zip(prodNames).map { case (id, n) =>
      id -> sha256Hex(n.replaceAll("(?i)Protien", "Protein"))
    }.toMap
    val pc = new Csv(new File(root, "child/products/products.csv"))
    pc.line("product_name", "product_id", "category")
    val prodRows = prodIds.zip(prodNames).zipWithIndex.map { case ((id, n), i) =>
      val cat = if (n.contains("Protien")) "protien bars" else Categories(i % Categories.length)
      Seq(n, id, cat)
    }
    prodRows.zipWithIndex.foreach { case (row, i) =>
      pc.line(row: _*)
      if (i == 0 || i == 1) pc.line(row: _*)
    }
    pc.line("Recovery Shake Max (1kg)", "XYZ123", "shakes")
    pc.close()

    // ---- child gross price: 108 rows, 11 negative, 6 non-numeric, bogus ids ----
    val gp = new Csv(new File(root, "child/gross_price/gross_price.csv"))
    gp.line("product_id", "month", "gross_price")
    val bogus = Seq("77777777", "88888888", "99999999")
    val priceRows = (0 until 108).map { i =>
      val pid = if (i >= 105) bogus(i - 105) else prodIds(i % prodIds.length)
      val m = 7 + (i / prodIds.length) % 6
      val (mon, yy) = if (m <= 12) (m, 25) else (m - 12, 26)
      val price =
        if (i % 10 == 3) f"-${2 + r.nextInt(300) / 10.0}%.1f"
        else if (i % 18 == 6) (if (r.nextInt(2) == 0) "unknown" else "not_available")
        else f"${2 + r.nextInt(300) / 10.0}%.1f"
      Seq(pid, s"$mon/1/$yy", price)
    }
    priceRows.foreach(row => gp.line(row: _*))
    gp.close()

    // ---- child orders ----
    var nextOrder = 100000L
    /** One day file of about `rows` lines; returns the clean contribution. */
    def dayFile(f: File, d: LocalDate, rows: Int): Map[Key, Long] = {
      val out = new Csv(f)
      out.line("order_id", "order_placement_date", "customer_id", "product_id", "order_qty")
      val acc = mutable.HashMap.empty[Key, Long]
      val (styles, unpadded) = renderings(d)
      val month = monthStart(d)
      var written = 0
      while (written < rows) {
        nextOrder += 1
        val oid = s"ORD$nextOrder"
        val cust = custIds(r.nextInt(custIds.length)).toString
        val custRaw = if (r.nextInt(100) == 0) NoiseCustomers(r.nextInt(NoiseCustomers.length)) else cust
        val custCode = if (custRaw.forall(_.isDigit)) custRaw else "999999"
        val lines = 1 + r.nextInt(3)
        val prods = r.ints(0, prodIds.length).distinct().limit(lines.toLong).toArray.toSeq
        prods.foreach { pi =>
          val unknownProduct = r.nextInt(200) == 0
          val pid = if (unknownProduct) (25891190 + r.nextInt(9)).toString else prodIds(pi)
          val style = r.nextInt(4)
          val nullDate = style == 3 && unpadded.nonEmpty && r.nextInt(2) == 0
          val ds = if (nullDate) unpadded.get else styles(style)
          val nullQty = r.nextInt(20) == 0
          val qty = 1L + r.nextInt(50)
          val row = Seq(oid, ds, custRaw, pid, if (nullQty) "" else qty.toString)
          out.line(row: _*)
          written += 1
          if (r.nextInt(100) == 0) { out.line(row: _*); written += 1 }
          if (!nullDate && !nullQty && !unknownProduct) {
            val k = (month, prodCodes(pid), custCode)
            acc(k) = acc.getOrElse(k, 0L) + qty
          }
        }
      }
      out.close()
      acc.toMap
    }
    def name(d: LocalDate) = f"orders_${d.getYear}_${d.getMonthValue}%02d_${d.getDayOfMonth}%02d.csv"

    val landingDir = new File(root, "child/landing")
    val firstFull = LocalDate.of(2025, 12, 1).minusDays(sizes.fullDays.toLong)
    val perDay = sizes.fullRows / sizes.fullDays
    val childFull = (0 until sizes.fullDays).foldLeft(Map.empty[Key, Long]) { (m, i) =>
      val d = firstFull.plusDays(i.toLong)
      Dataset.addAll(m, dayFile(new File(landingDir, name(d)), d, perDay))
    }
    val incDirs = (0 until sizes.incDays).map(i => new File(root, f"child/increments/day$i%03d")).toVector
    val childInc = incDirs.zipWithIndex.map { case (dir, i) =>
      val d = LocalDate.of(2025, 12, 1).plusDays(i.toLong)
      dayFile(new File(dir, name(d)), d, sizes.incRowsPerDay)
    }

    def bytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum else f.length()
    Dataset(root, parentDir, parentIncDir,
      new File(root, "child/customers/customers.csv"),
      new File(root, "child/products/products.csv"),
      new File(root, "child/gross_price/gross_price.csv"),
      landingDir, incDirs,
      parentFact.toMap, parentInc.toMap, childFull, childInc,
      bytes(landingDir) + bytes(new File(root, "child/customers")) +
        bytes(new File(root, "child/products")) + bytes(new File(root, "child/gross_price")),
      incDirs.map(bytes), bytes(parentDir), bytes(new File(parentIncDir, "fact_orders.csv")))
  }

  /** SHA-256 over every generated file (path and bytes), in path order. */
  def digest(root: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(files)
      else Seq(f)
    val base = root.getAbsolutePath.length
    files(root).foreach { f =>
      md.update(f.getAbsolutePath.substring(base).getBytes(UTF_8))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
