package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.ext.{AnnIndex, Bm25, Dedup, DedupIndex, Html, TextAnalysis}
import graft.streaming.Streams
import graft.tables.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `crawl_stream`: the composed curation flow, then the streaming ingest
  * sink on the indexes it built.
  *
  *  - Build (closed loop, one client): HTML strip → Gopher gate → exact md5
  *    grouping → DedupIndex, AnnIndex and Bm25 over the kept corpus, and the
  *    near-copy pairs read back from the DedupIndex.
  *  - Reads: seed-chosen self-queries, one `Bm25.searchIndex` and one
  *    `AnnIndex.search` each, run one at a time.
  *  - Operations (open loop): a generator thread lands one batch file of
  *    new docs at a fixed interval; `Streams.retrievalIngestSink` (the
  *    DedupIndex gate in front of AnnIndex and Bm25) runs an AvailableNow
  *    tick whenever the previous one has finished. Each batch is timed from
  *    when its file was due to when a lookup sees its docs.
  */
final class CrawlStream extends Workload {
  import CrawlStream._

  val name = "crawl_stream"

  /** Self-query docs per run (two lookups each). */
  val QueryDocs = 6
  /** Stream batches per run, at least. */
  val MinBatches = 2
  /** Seconds between batch files: above the sink's per-batch time on a
    * 4-core box (8-11 s a tick), so a batch never waits for the previous one. */
  val IntervalS = 12.0

  private var corpus: CorpusGen.Corpus = _
  private var store: File = _
  private var streamedBytes = 0L
  private var indexMb = 0.0
  private var lookups = 0
  private var hits = 0
  private var gateKeepFrac = 0.0
  private var plantedRecall = 0.0
  private var generatorLagS = 0.0
  /** Streamed docs, and those the indexes admitted. */
  private var streamSeen = 0
  private var streamAdmitted = 0
  private var stream: Option[StreamRun] = None

  def inputBytes: Long = corpus.bytes + streamedBytes
  def storeDir: File = store

  def generate(ctx: Ctx, reps: Int): Seq[Double] = {
    val root = new File(ctx.work, "inputs")
    val times = (0 until reps).map { i =>
      val t0 = System.nanoTime()
      corpus = CorpusGen.generate(new File(root, s"gen$i"), ctx.seed)
      (System.nanoTime() - t0) / 1e9
    }
    val digests = (0 until reps).map(i => MedallionGen.digest(new File(root, s"gen$i"))).distinct
    require(digests.length == 1, s"generator is not deterministic: ${digests.length} digests")
    (0 until reps - 1).foreach(i => Main.deleteTree(new File(root, s"gen$i")))
    times
  }

  private val Pages = "crawl"
  private val Dd = "crawl_dedup"
  private val Ann = "crawl_ann"
  private val Bm = "crawl_bm25"

  def measure(ctx: Ctx): Unit = {
    store = new File(ctx.work, "store")
    val st = new TableStore(ctx.spark, store.getAbsolutePath)
    if (build(ctx, st).isEmpty) return
    val rnd = new scala.util.Random(ctx.seed)
    val queries = rnd.shuffle(corpus.kept.toVector.sorted).take(QueryDocs)
    queries.foreach(id => lookup(ctx, st, corpus.docs(id)))
    stream = Some(runStream(ctx, st))
  }

  // ---- build ----

  private def build(ctx: Ctx, st: TableStore): Option[Unit] = {
    val spark = ctx.spark
    ctx.op("crawl.build", Kind.Build) {
      ctx.step("ext.html_gate") {
        val pages = spark.read.schema("doc_id BIGINT, html STRING").json(corpus.pagesFile.getAbsolutePath)
        val vecs = spark.read.schema("doc_id BIGINT, embedding ARRAY<FLOAT>")
          .json(corpus.vectorsFile.getAbsolutePath)
        st.overwrite(s"${Pages}_clean", pages
          .select(col("doc_id"), Html.stripHtml(col("html")).as("text"))
          .filter(TextAnalysis.gopherKeep(col("text"), minWords = 20)))
        st.overwrite(s"${Pages}_groups", Dedup.exactGroups(st.read(s"${Pages}_clean"), "doc_id", "text"))
        st.overwrite(s"${Pages}_corpus", st.read(s"${Pages}_clean")
          .join(st.read(s"${Pages}_groups").select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
          .join(vecs, Seq("doc_id")))
      }
      val docs = st.read(s"${Pages}_corpus")
      ctx.step("ext.dedup_index.build")(DedupIndex.build(st, Dd, docs, "doc_id", "text"))
      ctx.step("ext.dedup_index.pairs")(st.overwrite(s"${Pages}_pairs", nearPairs(st)))
      ctx.step("ext.ann_index.build")(AnnIndex.build(st, Ann, docs, "doc_id", "embedding",
        dim = 64, nlist = 8, coarseIters = 2, m = 8, k = 16, pqIters = 2, sampleMod = Some(4)))
      ctx.step("ext.bm25.build")(Bm25.buildIndex(st, Bm, docs, "doc_id", "text"))
    } { _ =>
      val kept = st.read(s"${Pages}_corpus").select("doc_id").collect().map(_.getLong(0)).toSet
      val groups = st.read(s"${Pages}_groups").filter(col("n_copies") > 1)
        .collect().map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies")).toMap
      val pairs = st.read(s"${Pages}_pairs").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      gateKeepFrac = st.read(s"${Pages}_clean").count().toDouble / corpus.docs.count(_._1 < 1000000L)
      plantedRecall = (corpus.nearPairs intersect pairs).size.toDouble / corpus.nearPairs.size
      indexMb = Seq(Dd, Ann, Bm).map(p => Option(store.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(p)).map(Main.dirBytes).sum).sum / (1024.0 * 1024.0)
      Checks.keptIds(kept, corpus.kept) ++ Checks.exactGroups(groups, corpus.exactGroups) ++
        Checks.nearPairs(pairs, corpus.nearPairs)
    }
  }

  /** Near-copy pairs from the stored DedupIndex: documents sharing a band
    * bucket, verified by exact Jaccard ≥ 0.8 over the stored shingles. */
  private def nearPairs(st: TableStore): DataFrame = {
    val b = DedupIndex.bandsOf(st, Dd)
    val cand = b.select(col("doc_id").as("id_a"), col("band"), col("bucket"))
      .join(b.select(col("doc_id").as("id_b"), col("band"), col("bucket")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
    val sh = DedupIndex.shinglesOf(st, Dd, "doc_id")
    val sizes = DedupIndex.sizesOf(st, Dd)
    cand.join(sh.select(col("doc_id").as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .filter(col("n_inter") >= lit(0.8) * (col("n_a") + col("n_b") - col("n_inter")))
      .select("id_a", "id_b")
  }

  // ---- lookups ----

  /** Query terms of a doc: its own rare term plus two other distinct words. */
  private def terms(d: CorpusGen.Doc): Seq[String] =
    (d.rare +: d.text.split(" ").filter(w => w.length > 3 && w != d.rare).distinct.take(2)).toSeq

  private def bm25Lookup(ctx: Ctx, st: TableStore, d: CorpusGen.Doc, name: String): Boolean =
    ctx.op(name, Kind.Read) {
      Bm25.searchIndex(st, Bm, "doc_id", terms(d), topK = 10).select("doc_id").collect().map(_.getLong(0))
    }(ids => Checks.selfHit("bm25", d.id, ids.toSeq)).nonEmpty

  private def lookup(ctx: Ctx, st: TableStore, d: CorpusGen.Doc): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    lookups += 2
    if (bm25Lookup(ctx, st, d, "ext.bm25.search")) hits += 1
    // the query carries an id no document has: search excludes the query's
    // own id from its results
    val q = Seq((-1L, d.vec.toSeq)).toDF("doc_id", "embedding")
    if (ctx.op("ext.ann_index.search", Kind.Read) {
        AnnIndex.search(st, Ann, q, "doc_id", "embedding", k = 10)
          .select("neighbor_id").collect().map(_.getLong(0))
      }(ids => Checks.selfHit("ann", d.id, ids.toSeq)).nonEmpty) hits += 1
  }

  // ---- stream ----

  private def runStream(ctx: Ctx, st: TableStore): StreamRun = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = new File(ctx.work, "stream")
    val landing = new File(dir, "landing")
    landing.mkdirs()
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("embedding", ArrayType(FloatType))))
    val n = math.min(corpus.batches.length,
      math.max(MinBatches, ((ctx.seconds - ctx.elapsed) / IntervalS).toInt))
    val t0 = tr.now() + 0.2
    val batches = (0 until n).map(i => Batch(i, t0 + i * IntervalS))
    val landedCount = new AtomicInteger(0)
    val gen = new Thread(() => batches.foreach { b =>
      val wait = b.due - tr.now()
      if (wait > 0) Thread.sleep((wait * 1000).toLong)
      val tmp = new File(landing, f"_batch_${b.i}%04d.json")
      CorpusGen.writeLines(tmp, corpus.batches(b.i).iterator.map(CorpusGen.streamLine))
      require(tmp.renameTo(new File(landing, f"batch_${b.i}%04d.json")))
      b.landed = tr.now()
      landedCount.incrementAndGet()
    }, "perfbench-batch-generator")
    gen.setDaemon(true)
    gen.start()

    val ticks = ArrayBuffer.empty[Span]
    var done = 0
    while (done < n) {
      while (landedCount.get() <= done) Thread.sleep(5)
      val start = tr.now()
      val pending = batches.slice(done, landedCount.get())
      var rows = 0L
      // a tick's own duration is no sample: its batches are timed from due
      val tick = ctx.op("streaming.tick", Kind.Op, sample = false) {
        val q = Streams.retrievalIngestSink(
          spark.readStream.schema(schema).json(landing.getAbsolutePath), st, "doc_id",
          new File(dir, "checkpoint").getAbsolutePath,
          annIndex = Some(Ann), bm25Index = Some(Bm), dedupGate = Some(Dd),
          gatePairsTable = Some(s"${Pages}_gate_pairs"))
        q.awaitTermination()
        rows = q.recentProgress.map(_.numInputRows).sum
        tr.spans.last
      }(_ => Nil)
      val files = (rows / corpus.batches.head.length).toInt
      val committed = batches.slice(done, done + files)
      // the commit is visible when a lookup finds the newest batch's docs;
      // batches whose commit no lookup sees stay uncommitted (and fail)
      val seen = corpus.batches(committed.lastOption.fold(done)(_.i)).find(d => !corpus.planted(d.id))
        .forall(d => bm25Lookup(ctx, st, d, "streaming.visible"))
      val visible = tr.now()
      if (seen) committed.foreach { b =>
        b.tickStart = start; b.visible = visible; b.backlog = pending.length
        b.tick = tick.fold(0)(_.id)
      }
      tick.foreach(ticks += _)
      if (tick.isEmpty || files == 0) {
        // a failed or empty tick: count the pending batches as failed
        done = n
      } else done += files
    }
    gen.join()
    generatorLagS = batches.map(b => b.landed - b.due).max
    streamedBytes = batches.map(b => new File(landing, f"batch_${b.i}%04d.json").length()).sum
    checkStream(ctx, st, batches)
    StreamRun(batches, ticks.toSeq)
  }

  /** Every planted copy dropped, every novel doc admitted, in both indexes;
    * a batch with a wrong doc reports no time. */
  private def checkStream(ctx: Ctx, st: TableStore, batches: Seq[Batch]): Unit = {
    val ann = AnnIndex.knownIds(st, Ann, "doc_id").collect().map(_.getLong(0)).toSet
    val bm = Bm25.knownIds(st, Bm, "doc_id").collect().map(_.getLong(0)).toSet
    val streamed = batches.flatMap(b => corpus.batches(b.i)).map(_.id).toSet
    val novel = streamed -- corpus.planted
    val planted = streamed intersect corpus.planted
    streamSeen = streamed.size
    streamAdmitted = (streamed intersect ann).size
    val problems = Checks.gateTotals(ann, corpus.kept, novel, planted) ++
      Checks.gateTotals(bm, corpus.kept, novel, planted)
    batches.foreach { b =>
      ctx.attempted += 1
      val ids = corpus.batches(b.i).map(_.id)
      val wrong = ids.filter(id => ann(id) == corpus.planted(id) || bm(id) == corpus.planted(id))
      if (b.visible.isNaN) ctx.fail(s"stream batch ${b.i}: never committed")
      else if (wrong.nonEmpty) ctx.fail(s"stream batch ${b.i}: gate wrong for ${wrong.take(3)}; ${problems.take(2)}")
      else ctx.samples.getOrElseUpdate(Kind.Op, ArrayBuffer.empty) += b.visible - b.due
    }
    if (problems.nonEmpty && batches.forall(b => !b.visible.isNaN)) {
      // base docs lost from an index belong to no batch
      val baseLost = corpus.kept -- ann ++ (corpus.kept -- bm)
      if (baseLost.nonEmpty) { ctx.attempted += 1; ctx.fail(s"indexes lost base docs: ${baseLost.take(3)}") }
    }
  }

  def detail(ctx: Ctx): Seq[(String, Any)] = {
    def s(k: Kind.Value) = ctx.samples.getOrElse(k, ArrayBuffer.empty[Double]).toSeq
    val search = s(Kind.Read)
    Seq("metrics" -> Map(
      "crawl_build_s" -> Main.p50(s(Kind.Build)),
      "search_p50_s" -> Main.p50(search), "search_tail_s" -> Main.tail(search),
      "batch_p50_s" -> Main.p50(s(Kind.Op)), "batch_tail_s" -> Main.tail(s(Kind.Op))),
      "stream" -> Map("interval_s" -> IntervalS, "batch_docs" -> corpus.batches.head.length,
        "batches" -> stream.fold(0)(_.batches.length), "ticks" -> stream.fold(0)(_.ticks.length)))
  }

  def layers(ctx: Ctx, rec: Recorder): Seq[(String, Double, String)] = {
    val tr = ctx.tracer
    def spans(n: String) = tr.spans.filter(s => s.name == n && s.ok).toSeq
    def total(n: String) = spans(n).map(_.dur).sum
    def medOr0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def agg(n: String) = { val (st, j) = Main.stagesUnder(ctx, rec, spans(n)); Agg.of(st, j) }
    val run = stream.getOrElse(StreamRun(Nil, Nil))
    val tables = rec.allExecs.map(x => x.id -> x.table).toMap
    val perTick = run.ticks.map { t =>
      val (st, jobs) = Main.stagesUnder(ctx, rec, Seq(t))
      val legs = st.groupBy(s => leg(s, tables.getOrElse(s.exec, ""))).map { case (k, v) => k -> v.map(_.wallS).sum }
      (Agg.of(st, jobs), legs.getOrElse("gate", 0.0), legs.getOrElse("ann", 0.0),
        legs.getOrElse("bm25", 0.0), legs.getOrElse("marker", 0.0), legs.getOrElse("compact", 0.0))
    }
    val committed = run.batches.filter(!_.visible.isNaN)
    val indexFiles = Option(store.listFiles()).toSeq.flatten
      .filter(f => Seq(Ann + "_codes", Bm + "_postings", Dd + "_bands").contains(f.getName))
      .map(f => countData(f)).sum
    Seq(
      ("ext.html_gate_s", total("ext.html_gate"), "s"),
      ("ext.gate_keep_frac", gateKeepFrac, "ratio"),
      ("ext.dedup_index.build_s", total("ext.dedup_index.build"), "s"),
      ("ext.dedup_index.pairs_s", total("ext.dedup_index.pairs"), "s"),
      ("ext.dedup_index.shuffle_write_mb", agg("ext.dedup_index.build").shuffleMb, "MB"),
      ("ext.dedup_index.planted_recall", plantedRecall, "ratio"),
      ("ext.ann_index.build_s", total("ext.ann_index.build"), "s"),
      ("ext.bm25.build_s", total("ext.bm25.build"), "s"),
      ("ext.index_mb", indexMb, "MB"),
      ("ext.bm25.search_s", medOr0(spans("ext.bm25.search").map(_.dur)), "s"),
      ("ext.ann_index.search_s", medOr0(spans("ext.ann_index.search").map(_.dur)), "s"),
      ("ext.search.self_hit_frac", if (lookups == 0) 0.0 else hits.toDouble / lookups, "ratio"),
      ("streaming.batch.jobs", medOr0(perTick.map(_._1.jobs.toDouble)), "count"),
      ("streaming.batch.task_s", medOr0(perTick.map(_._1.taskS)), "s"),
      ("streaming.batch.sched_delay_s", medOr0(perTick.map(_._1.schedS)), "s"),
      ("streaming.gate_s", medOr0(perTick.map(_._2)), "s"),
      ("streaming.ann_leg_s", medOr0(perTick.map(_._3)), "s"),
      ("streaming.bm25_leg_s", medOr0(perTick.map(_._4)), "s"),
      ("streaming.marker_s", medOr0(perTick.map(_._5)), "s"),
      ("streaming.compact_s", medOr0(perTick.map(_._6)), "s"),
      ("streaming.index_files", indexFiles.toDouble, "count"),
      ("streaming.commit_mb", medOr0(perTick.map(_._1.outMb)), "MB"),
      ("streaming.queue_wait_s", medOr0(committed.map(b => b.tickStart - b.landed)), "s"),
      ("streaming.backlog_files", medOr0(committed.map(_.backlog.toDouble)), "count"),
      ("streaming.generator_lag_s", generatorLagS, "s"),
      ("streaming.gate_drop_frac",
        if (streamSeen == 0) 0.0 else 1.0 - streamAdmitted.toDouble / streamSeen, "ratio"))
  }

  /** The sink leg a stage belongs to: by the table its SQL execution
    * writes (the sink stages every leg's output under the index's name),
    * else by the graft module on its call site. */
  private def leg(s: StageRec, table: String): String =
    if (s.callerModule == "tables.Compact") "compact"
    else if (table.startsWith(Dd)) "gate"
    else if (table.startsWith(Ann)) "ann"
    else if (table.startsWith(Bm)) "bm25"
    else if (table.nonEmpty) "marker"
    else s.callerModule match {
      case "ext.DedupIndex" | "ext.Dedup" => "gate"
      case "ext.AnnIndex" | "ext.Similarity" => "ann"
      case "ext.Bm25" => "bm25"
      case _ => "marker"
    }

  private def countData(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countData).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0
}

object CrawlStream {
  /** What the open loop recorded: per batch file its due and landing times,
    * and the tick that committed it. */
  final case class Batch(i: Int, due: Double, var landed: Double = Double.NaN,
      var tickStart: Double = Double.NaN, var visible: Double = Double.NaN,
      var backlog: Int = 0, var tick: Int = 0)
  final case class StreamRun(batches: Seq[Batch], ticks: Seq[Span])
}
