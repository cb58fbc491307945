package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer

import graft.pipeline.Pipelines
import graft.serve.EnrichedView
import graft.tables.TableStore
import org.apache.spark.sql.{DataFrame, Row}

/** `medallion`: the reference's own pipeline, closed loop, one operator.
  * Parent seed, the three dims and the fact full load (the bulk build),
  * the parent's new month by COPY INTO, then one `runFactIncremental` per
  * day file (the repeated operation), each followed by a dashboard refresh
  * whose six queries are the reads.
  */
final class Medallion extends Workload {
  val name = "medallion"

  /** Increments run until the time budget is spent, but never fewer than
    * this. */
  val MinIncrements = 2

  private var data: MedallionGen.Dataset = _
  private var store: File = _
  private var consumed = 0L
  private var increments = 0
  /** Per-increment store figures (traced runs): files written, bytes. */
  private val incFiles = ArrayBuffer.empty[(Int, Long)]
  private val factFiles = ArrayBuffer.empty[Int]
  private val servedFiles = ArrayBuffer.empty[Int]

  def inputBytes: Long = consumed
  def storeDir: File = store

  def generate(ctx: Ctx, reps: Int): Seq[Double] = {
    val root = new File(ctx.work, "inputs")
    val times = (0 until reps).map { i =>
      val dir = new File(root, s"gen$i")
      val t0 = System.nanoTime()
      data = MedallionGen.generate(dir, ctx.seed)
      (System.nanoTime() - t0) / 1e9
    }
    // same seed, byte-identical files: the repetitions must agree
    val digests = (0 until reps).map(i => MedallionGen.digest(new File(root, s"gen$i"))).distinct
    require(digests.length == 1, s"generator is not deterministic: ${digests.length} digests")
    (0 until reps - 1).foreach(i => Main.deleteTree(new File(root, s"gen$i")))
    times
  }

  def measure(ctx: Ctx): Unit = {
    store = new File(ctx.work, "store")
    val d = data
    val spark = ctx.spark
    val st = new TableStore(spark, store.getAbsolutePath)
    val traced = ctx.tracer.traced
    def goldCheck(child: Map[MedallionGen.Key, Long], withParentInc: Boolean): Seq[String] = {
      val parent = if (withParentInc) d.parentFact ++ d.parentInc else d.parentFact
      Checks.compareGold(Checks.goldDigest(st.read("gold_fact_orders")),
        Checks.expectedDigest(parent ++ child))
    }

    val full = ctx.op("pipeline.full_load", Kind.Build) {
      ctx.step("pipeline.seed_parent")(Pipelines.seedParent(spark, st, d.parentDir.getAbsolutePath))
      ctx.step("pipeline.dim_customers")(Pipelines.runDimCustomers(spark, st, d.customersCsv.getAbsolutePath))
      ctx.step("pipeline.dim_products")(Pipelines.runDimProducts(spark, st, d.productsCsv.getAbsolutePath))
      ctx.step("pipeline.dim_pricing")(Pipelines.runDimPricing(spark, st, d.grossPriceCsv.getAbsolutePath))
      ctx.step("pipeline.fact_full")(Pipelines.runFactFull(spark, st, d.landingDir.getAbsolutePath))
    }(_ => goldCheck(d.childFull, withParentInc = false))
    if (full.isEmpty) return
    consumed = d.fullBytes + d.parentBytes

    val copied = ctx.op("ingest.copy_into", Kind.Other) {
      Pipelines.copyParentIncrement(spark, st, d.parentIncDir.getAbsolutePath)
    }(n => (if (n == 1L) Nil else Seq(s"COPY INTO loaded $n files, want 1")) ++
      goldCheck(d.childFull, withParentInc = true))
    if (copied.isEmpty) return
    consumed += d.parentIncBytes

    var i = 0
    while (i < d.incDirs.length && (i < MinIncrements || ctx.elapsed < ctx.seconds)) {
      val before = if (traced) dataFiles(store) else Map.empty[String, Long]
      val expected = d.childAfter(i + 1)
      val ok = ctx.op("pipeline.fact_incremental", Kind.Op) {
        Pipelines.runFactIncremental(spark, st, d.incDirs(i).getAbsolutePath)
      }(_ => goldCheck(expected, withParentInc = true))
      if (traced) {
        val after = dataFiles(store)
        val fresh = after.keySet -- before.keySet
        incFiles += ((fresh.size, fresh.toSeq.map(after).sum))
        factFiles += after.keys.count(_.contains("/gold_fact_orders/"))
      }
      if (ok.isEmpty) return
      consumed += d.incBytes(i)
      increments = i + 1
      dashboard(ctx, st, d.parentFact ++ d.parentInc ++ expected)
      i += 1
    }
  }

  /** The dashboard refresh: the enriched view and its six queries, each
    * timed on its own; KPI quantity and the monthly trend are checked. */
  private def dashboard(ctx: Ctx, st: TableStore, gold: Map[MedallionGen.Key, Long]): Unit = {
    if (ctx.tracer.traced)
      servedFiles += dataFiles(store).keys.count(k => StarTables.exists(t => k.contains(s"/$t/")))
    val view = ctx.op("serve.view", Kind.Other)(EnrichedView.build(st))(_ => Nil)
    view.foreach { v =>
      val total = gold.values.sum
      val byMonth = gold.groupBy(_._1._1).map { case (m, rs) => m -> rs.values.sum }
      def q(n: String)(f: DataFrame => DataFrame)(check: Array[Row] => Seq[String]): Unit =
        ctx.op(n, Kind.Read)(f(v).collect())(check)
      q("serve.kpis")(EnrichedView.kpis)(rs => Checks.kpiQuantity(rs(0).getAs[Double]("quantity"), total))
      q("serve.top_products")(EnrichedView.topProducts(_))(rs => nonEmpty(rs))
      q("serve.top_customers")(EnrichedView.topCustomers(_))(rs => nonEmpty(rs))
      q("serve.revenue_by_market")(EnrichedView.revenueBy(_, "market"))(rs => nonEmpty(rs))
      q("serve.revenue_by_channel")(EnrichedView.revenueBy(_, "channel"))(rs => nonEmpty(rs))
      q("serve.monthly_trend")(EnrichedView.monthlyTrend)(rs => Checks.monthlyQuantity(
        rs.map(r => r.getAs[java.sql.Date]("date").toString -> r.getAs[Double]("quantity")).toMap, byMonth))
    }
  }

  private def nonEmpty(rs: Array[Row]): Seq[String] = if (rs.nonEmpty) Nil else Seq("empty result")

  private val StarTables = Seq("gold_fact_orders", "gold_dim_date", "gold_dim_customers",
    "gold_dim_products", "gold_dim_gross_price")

  /** Parquet data files under the store (path → bytes). */
  private def dataFiles(dir: File): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val base = dir.getPath.length
    walk(dir).filter(f => f.getName.endsWith(".parquet") && !f.getPath.substring(base).contains("/."))
      .map(f => f.getPath.substring(base) -> f.length()).toMap
  }

  def detail(ctx: Ctx): Seq[(String, Any)] = {
    def s(k: Kind.Value) = ctx.samples.getOrElse(k, ArrayBuffer.empty[Double]).toSeq
    Seq("metrics" -> Map(
      "full_load_s" -> Main.p50(s(Kind.Build)),
      "increment_p50_s" -> Main.p50(s(Kind.Op)), "increment_tail_s" -> Main.tail(s(Kind.Op)),
      "dashboard_p50_s" -> Main.p50(s(Kind.Read)), "dashboard_tail_s" -> Main.tail(s(Kind.Read))),
      "increments" -> increments)
  }

  def layers(ctx: Ctx, rec: Recorder): Seq[(String, Double, String)] = {
    val tr = ctx.tracer
    def spans(n: String) = tr.spans.filter(s => s.name == n && s.ok).toSeq
    def total(n: String) = spans(n).map(_.dur).sum
    def medOr0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val fullIds = spans("pipeline.full_load").flatMap(tr.subtree).toSet
    val incSpans = spans("pipeline.fact_incremental")
    def execsIn(ids: Set[Int]) = rec.allExecs.filter(x => ids(x.span))
    def stagesOf(xs: Seq[ExecRec]) = { val e = xs.map(_.id).toSet; rec.allStages.filter(s => e(s.exec)) }
    def isBronze(x: ExecRec) = !x.merge && (x.table.startsWith("bronze_") || x.table == "staging_orders")
    def isSilver(x: ExecRec) = !x.merge && x.table.startsWith("silver_")
    val fullExecs = execsIn(fullIds)
    val bronze = fullExecs.filter(isBronze)
    val silver = fullExecs.filter(isSilver)
    val perInc = incSpans.map { sp =>
      val ids = tr.subtree(sp)
      val ex = execsIn(ids)
      val merges = ex.filter(_.merge)
      val (st, jobs) = Main.stagesUnder(ctx, rec, Seq(sp))
      (merges.map(_.wallS).sum, Agg.of(stagesOf(merges), 0), ex.count(_.table.nonEmpty), jobs,
        Agg.of(st, jobs))
    }
    val dayBytes = data.incBytes.take(math.max(1, incSpans.length))
    val readSpans = ctx.opSpans.getOrElse(Kind.Read, ArrayBuffer.empty[Span]).toSeq
    val refreshInput = {
      // input read per refresh: the six queries after each write
      val aggs = readSpans.map(sp => Agg.of(Main.stagesUnder(ctx, rec, Seq(sp))._1, 0).inMb)
      medOr0(aggs.grouped(7).map(_.sum).toSeq)
    }
    Seq(
      ("ingest.bronze_s", bronze.map(_.wallS).sum, "s"),
      ("ingest.csv_mb", Agg.of(stagesOf(bronze), 0).inMb, "MB"),
      ("ingest.copy_into_s", total("ingest.copy_into"), "s"),
      ("clean.silver_s", silver.map(_.wallS).sum, "s"),
      ("clean.silver_task_s", Agg.of(stagesOf(silver), 0).taskS, "s"),
      ("tables.merge_s", medOr0(perInc.map(_._1)), "s"),
      ("tables.merge.output_mb", medOr0(perInc.map(_._2.outMb)), "MB"),
      ("tables.merge.shuffle_write_mb", medOr0(perInc.map(_._2.shuffleMb)), "MB"),
      ("tables.commits", medOr0(perInc.map(_._3.toDouble)), "count"),
      ("tables.files_written", medOr0(incFiles.map(_._1.toDouble).toSeq), "count"),
      ("tables.fact_files", factFiles.lastOption.fold(0.0)(_.toDouble), "count"),
      ("tables.write_amp", medOr0(incFiles.zip(dayBytes).map { case ((_, b), in) =>
        b.toDouble / math.max(1L, in) }.toSeq), "bytes/byte"),
      ("pipeline.seed_parent_s", total("pipeline.seed_parent"), "s"),
      ("pipeline.dims_s", total("pipeline.dim_customers") + total("pipeline.dim_products") +
        total("pipeline.dim_pricing"), "s"),
      ("pipeline.fact_full_s", total("pipeline.fact_full"), "s"),
      ("pipeline.fact_incremental_s", medOr0(incSpans.map(_.dur)), "s"),
      ("pipeline.fact_incremental.jobs", medOr0(perInc.map(_._4.toDouble)), "count"),
      ("serve.view_s", medOr0(spans("serve.view").map(_.dur)), "s"),
      ("serve.kpis_s", medOr0(spans("serve.kpis").map(_.dur)), "s"),
      ("serve.top_products_s", medOr0(spans("serve.top_products").map(_.dur)), "s"),
      ("serve.top_customers_s", medOr0(spans("serve.top_customers").map(_.dur)), "s"),
      ("serve.revenue_by_market_s", medOr0(spans("serve.revenue_by_market").map(_.dur)), "s"),
      ("serve.revenue_by_channel_s", medOr0(spans("serve.revenue_by_channel").map(_.dur)), "s"),
      ("serve.monthly_trend_s", medOr0(spans("serve.monthly_trend").map(_.dur)), "s"),
      ("serve.files_read", medOr0(servedFiles.map(_.toDouble).toSeq), "count"),
      ("serve.input_mb", refreshInput, "MB")) ++ perIncrement(perInc.map(_._5))
  }

  /** Layer figures of each increment, in order (the trace file keeps them). */
  private def perIncrement(aggs: Seq[Agg]): Seq[(String, Double, String)] =
    aggs.zipWithIndex.flatMap { case (a, i) =>
      val p = f"increment.$i%02d"
      Seq((s"$p.jobs", a.jobs.toDouble, "count"), (s"$p.task_s", a.taskS, "s"),
        (s"$p.output_mb", a.outMb, "MB"),
        (s"$p.files_written", incFiles.lift(i).fold(0.0)(_._1.toDouble), "count"))
    }
}
