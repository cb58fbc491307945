package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = Files.createTempDirectory("perfbench-spec").toFile
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()
  override def afterAll(): Unit = { spark.stop(); Main.deleteTree(tmp) }

  private val small = MedallionGen.Sizes(fullRows = 2000, fullDays = 4, incDays = 2,
    incRowsPerDay = 50, parentFactRows = 500, parentIncRows = 50)
  private val smallCorpus = CorpusGen.Sizes(docs = 300, exactGroups = 5, nearCopies = 3,
    batches = 2, batchDocs = 10)

  // ---- generators ----

  test("medallion generator: same seed gives byte-identical files, another seed differs") {
    def gen(name: String, seed: Long) = {
      val d = new File(tmp, name)
      MedallionGen.generate(d, seed, small)
      MedallionGen.digest(d)
    }
    assert(gen("m1a", 1) == gen("m1b", 1))
    assert(gen("m1a", 1) != gen("m2", 2))
  }

  test("medallion generator covers every dirty pattern") {
    val d = MedallionGen.generate(new File(tmp, "patterns"), 7, small)
    def read(f: File) = new String(Files.readAllBytes(f.toPath), "UTF-8")
    val orders = (d.landingDir +: d.incDirs).flatMap(dir => Option(dir.listFiles()).toSeq.flatten)
      .map(read).mkString
    val customers = read(d.customersCsv)
    val products = read(d.productsCsv)
    val prices = read(d.grossPriceCsv)
    assert(Seq("-20", "/20", "2025/").forall(orders.contains))            // three numeric styles
    assert(""""[A-Z][a-z]+day, [A-Z][a-z]+ \d{2}, 2025"""".r.findFirstIn(orders).nonEmpty)
    assert(""""[A-Z][a-z]+day, [A-Z][a-z]+ \d, 20\d\d"""".r.findFirstIn(orders).nonEmpty) // reads as null
    assert(orders.linesIterator.exists(_.endsWith(",")))                   // null quantity
    assert(Seq("ABC987", "XYZ123", "INVALID").exists(orders.contains))    // noise customer ids
    assert(orders.linesIterator.toSeq.diff(orders.linesIterator.toSeq.distinct).nonEmpty) // dup rows
    assert(customers.linesIterator.toSeq.diff(customers.linesIterator.toSeq.distinct).size == 4)
    assert(MedallionGen.LookupIds.forall(id => customers.contains(s"$id,") ))
    assert(Seq("Austn", "Newyork", "Chicagoo", "Chciago", "Austiin").exists(customers.contains))
    assert(products.contains("Protien") && products.contains("XYZ123"))
    assert(products.linesIterator.toSeq.diff(products.linesIterator.toSeq.distinct).size == 2)
    assert(prices.linesIterator.count(_.contains(",-")) == 11)
    assert(prices.linesIterator.count(l => l.endsWith("unknown") || l.endsWith("not_available")) == 6)
    assert(Seq("77777777", "88888888", "99999999").forall(prices.contains))
  }

  test("corpus generator: same seed gives byte-identical files, another seed differs") {
    def gen(name: String, seed: Long) = {
      val d = new File(tmp, name)
      CorpusGen.generate(d, seed, smallCorpus)
      MedallionGen.digest(d)
    }
    assert(gen("c1a", 1) == gen("c1b", 1))
    assert(gen("c1a", 1) != gen("c2", 2))
  }

  // ---- output checks reject one altered row ----

  private val truth: Map[MedallionGen.Key, Long] = Map(
    ("2025-07-01", "a" * 64, "789401") -> 12L,
    ("2025-07-01", "b" * 64, "999999") -> 3L,
    ("2025-08-01", "a" * 64, "789402") -> 7L,
    ("2025-07-01", "AB12CD34EF", "AT001") -> 120L)

  test("gold check passes the truth and rejects one altered row") {
    val want = Checks.expectedDigest(truth)
    assert(Checks.compareGold(want, want).isEmpty)
    val k = ("2025-07-01", "a" * 64, "789401")
    for (altered <- Seq(
        truth.updated(k, 13L),                                          // quantity
        truth - k + (("2025-07-01", "a" * 64, "789409") -> 12L),        // customer
        truth - k + (("2025-09-01", "a" * 64, "789401") -> 12L),        // month
        truth.updated(("2025-07-01", "AB12CD34EF", "AT001"), 121L)))    // a parent row
      assert(Checks.compareGold(Checks.expectedDigest(altered), want).nonEmpty)
  }

  test("KPI and monthly-trend checks reject one altered value") {
    assert(Checks.kpiQuantity(142.0, 142L).isEmpty)
    assert(Checks.kpiQuantity(141.0, 142L).nonEmpty)
    val m = Map("2025-07-01" -> 135L, "2025-08-01" -> 7L)
    assert(Checks.monthlyQuantity(m.map { case (k, v) => k -> v.toDouble }, m).isEmpty)
    assert(Checks.monthlyQuantity(Map("2025-07-01" -> 135.0, "2025-08-01" -> 8.0), m).nonEmpty)
    assert(Checks.monthlyQuantity(Map("2025-07-01" -> 135.0), m).nonEmpty)
  }

  test("crawl checks reject one altered group, id or pair") {
    val groups = Map(3L -> 2L, 9L -> 3L)
    assert(Checks.exactGroups(groups, groups).isEmpty)
    assert(Checks.exactGroups(groups.updated(9L, 2L), groups).nonEmpty)
    val kept = Set(1L, 2L, 3L)
    assert(Checks.keptIds(kept, kept).isEmpty)
    assert(Checks.keptIds(kept - 2L, kept).nonEmpty)
    assert(Checks.keptIds(kept + 4L, kept).nonEmpty)
    val pairs = Set((1L, 5L), (2L, 6L))
    assert(Checks.nearPairs(pairs + ((7L, 8L)), pairs).isEmpty)
    assert(Checks.nearPairs(pairs - ((2L, 6L)), pairs).nonEmpty)
    assert(Checks.selfHit("bm25", 4L, Seq(9L, 4L)).isEmpty)
    assert(Checks.selfHit("bm25", 4L, Seq(9L, 5L)).nonEmpty)
  }

  test("gate identity rejects one leaked copy or one lost novel doc") {
    val base = Set(1L, 2L)
    val novel = Set(10L, 11L)
    val planted = Set(12L)
    assert(Checks.gateTotals(base ++ novel, base, novel, planted).isEmpty)
    assert(Checks.gateTotals(base ++ novel + 12L, base, novel, planted).nonEmpty)
    assert(Checks.gateTotals(base + 10L, base, novel, planted).nonEmpty)
  }

  test("Spark's gold digest equals the generator's and sees one altered row") {
    import spark.implicits._
    def gold(rows: Map[MedallionGen.Key, Long]) = rows.toSeq
      .map { case ((m, p, c), q) => (java.sql.Date.valueOf(m), p, c, q.toDouble) }
      .toDF("date", "product_code", "customer_code", "sold_quantity")
    val want = Checks.expectedDigest(truth)
    assert(Checks.compareGold(Checks.goldDigest(gold(truth)), want).isEmpty)
    val altered = truth.updated(("2025-08-01", "a" * 64, "789402"), 8L)
    assert(Checks.compareGold(Checks.goldDigest(gold(altered)), want).nonEmpty)
  }

  test("planted stream copies carry exactly the text the crawl indexes") {
    import spark.implicits._
    val c = CorpusGen.generate(new File(tmp, "planted"), 3, smallCorpus)
    val pages = c.docs.values.filter(_.id < 1000000L).toSeq
    val stripped = pages.map(d => (d.id, CorpusGen.page(d))).toDF("id", "html")
      .select($"id", graft.ext.Html.stripHtml($"html")).as[(Long, String)].collect().toMap
    pages.foreach(d => assert(stripped(d.id) == CorpusGen.visible(d)))
    val indexed = c.kept.map(stripped)
    assert(c.planted.nonEmpty && c.planted.forall(id => indexed(c.docs(id).text)))
  }

  // ---- tail percentile ----

  test("tail uses only ranks with at least ten samples beyond them") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val (v11, p11, n11) = Stats.tail((1 to 11).map(_.toDouble).reverse).get
    assert(v11 == 1.0 && n11 == 11 && math.abs(p11 - 100.0 / 11) < 1e-9)
    val xs = scala.util.Random.shuffle((1 to 40).map(_.toDouble))
    val (v, p, n) = Stats.tail(xs).get
    assert(xs.count(_ > v) == 10 && v == 30.0 && p == 75.0 && n == 40)
  }

  test("median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
