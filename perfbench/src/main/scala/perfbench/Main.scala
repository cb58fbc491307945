package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one benchmark call is, for the end-to-end metrics: the workload's
  * one-off bulk step, its repeated operation, or its read. */
object Kind extends Enumeration {
  val Build, Op, Read, Other = Value
}

/** State shared by a workload run: session, tracer, counters and samples. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: File,
    val seed: Long, val seconds: Double, val cpus: Int) {
  var attempted = 0
  var failed = 0
  val errors = ArrayBuffer.empty[String]
  /** Seconds per successful call, by kind. */
  val samples = mutable.LinkedHashMap.empty[Kind.Value, ArrayBuffer[Double]]
  /** Top-level spans of successful calls, by kind. */
  val opSpans = mutable.LinkedHashMap.empty[Kind.Value, ArrayBuffer[Span]]
  /** Seconds per successful call, by span name. */
  val byName = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private var measureT0 = Double.NaN

  def startMeasuring(): Unit = measureT0 = tracer.now()
  def elapsed: Double = tracer.now() - measureT0

  def fail(what: String): Unit = { failed += 1; errors += what }

  /** One operation: a call into the program, timed under its own span, and
    * the checks on its result. A call that throws or fails a check counts
    * as failed and reports no time.
    */
  def op[T](name: String, kind: Kind.Value, sample: Boolean = true)(call: => T)(
      check: T => Seq[String]): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    var span: Span = null
    val res =
      try Right(tracer.span(name, newOp = true) { span = tracer.spans.last; call })
      catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    System.err.println(f"perfbench: $name%s $secs%.3f s")
    val bad = res match {
      case Left(e) => Seq(e.toString.take(300))
      case Right(v) => try check(v) catch { case NonFatal(e) => Seq(s"check threw ${e.toString.take(300)}") }
    }
    if (bad.nonEmpty) { fail(s"$name: ${bad.take(3).mkString("; ")}"); None }
    else {
      if (sample) samples.getOrElseUpdate(kind, ArrayBuffer.empty) += secs
      opSpans.getOrElseUpdate(kind, ArrayBuffer.empty) += span
      byName.getOrElseUpdate(name, ArrayBuffer.empty) += secs
      res.toOption
    }
  }

  /** A nested call inside an operation, timed under a child span. */
  def step[T](name: String)(call: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(name)(call)
    finally System.err.println(f"perfbench:   $name%s ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }
}

/** One benchmark workload. */
trait Workload {
  def name: String
  /** Generate the inputs `reps` times from the seed; returns the seconds
    * of each repetition. The inputs of the last repetition are used. */
  def generate(ctx: Ctx, reps: Int): Seq[Double]
  /** The measured flow. */
  def measure(ctx: Ctx): Unit
  /** Generated input bytes the measured flow consumed. */
  def inputBytes: Long
  /** Directory of the tables the measured flow wrote. */
  def storeDir: File
  /** Workload-specific figures under the flow-level metric names. */
  def detail(ctx: Ctx): Seq[(String, Any)]
  /** Per-module layer metrics of a traced run (name, value, unit). */
  def layers(ctx: Ctx, rec: Recorder): Seq[(String, Double, String)]
}

object Main {

  val Workloads: Map[String, () => Workload] = Map(
    "medallion" -> (() => new Medallion),
    "crawl_stream" -> (() => new CrawlStream))

  /** The engine under test: the verified one (Verify and the test suite),
    * with nothing else set. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def sessionSettings(cpus: Int): Seq[(String, String)] = Seq(
    "master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length() else 0L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** A flow-level latency figure for the detail line: the median. */
  def p50(xs: Seq[Double]): Map[String, Any] =
    Map("value" -> (if (xs.isEmpty) None else Some(Stats.median(xs))), "unit" -> "s",
      "samples" -> xs.length)

  /** The tail figure, with its percentile and sample count; no value when
    * fewer than 11 samples leave no rank with ten beyond it. */
  def tail(xs: Seq[Double]): Map[String, Any] = Stats.tail(xs) match {
    case Some((v, p, n)) => Map("value" -> v, "unit" -> "s", "percentile" -> p, "samples" -> n)
    case None => Map("value" -> None, "unit" -> "s", "samples" -> xs.length)
  }

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val work = new File(arg(args, "--work").getOrElse("work")).getAbsoluteFile
    val results = new File(arg(args, "--results").getOrElse("results")).getAbsoluteFile
    val cpus = Runtime.getRuntime.availableProcessors()
    val workload = Workloads.getOrElse(wl,
      sys.error(s"unknown workload $wl; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))()
    work.mkdirs()

    val spark = session(cpus)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, tracer, work, seed, seconds, cpus)
    try {
      val genS = workload.generate(ctx, 3)
      System.err.println(s"perfbench: generate ${genS.mkString(" ")} s")
      // No warm-up: each flow is a fresh process's batch job and pays class
      // loading and code generation, as a scheduled pipeline run does.
      val setupS = sessionS + Stats.median(genS)

      val rec = new Recorder
      if (traced) spark.sparkContext.addSparkListener(rec)
      val m0 = tracer.now()
      ctx.startMeasuring()
      try workload.measure(ctx)
      catch { case NonFatal(e) => ctx.attempted += 1; ctx.fail(s"${workload.name}: ${e.toString.take(300)}") }
      val measuredS = tracer.now() - m0
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(rec)
      }
      report(workload, ctx, rec, results, traced, setupS, sessionS, genS, measuredS)
    } finally spark.stop()
  }

  private def report(w: Workload, ctx: Ctx, rec: Recorder, results: File, traced: Boolean, setupS: Double,
      sessionS: Double, genS: Seq[Double], measuredS: Double): Unit = {
    def s(k: Kind.Value) = ctx.samples.getOrElse(k, ArrayBuffer.empty[Double]).toSeq
    def med(k: Kind.Value) = if (s(k).isEmpty) Double.NaN else Stats.median(s(k))
    def tailOf(k: Kind.Value) = Stats.tail(s(k))
    val storeBytes = dirBytes(w.storeDir)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("build_s", med(Kind.Build), "s"),
      ("op_p50_s", med(Kind.Op), "s"),
      ("read_p50_s", med(Kind.Read), "s"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("store_bytes_ratio", storeBytes.toDouble / math.max(1L, w.inputBytes), "bytes/byte"))
    // a metric that could not be measured is a failure, never a number
    e2e.filter(_._2.isNaN).foreach { case (n, _, _) => ctx.fail(s"$n: too few successful samples") }
    if (ctx.attempted == 0) ctx.attempted = 1

    val layers: Seq[(String, Double, String)] =
      if (traced) genericLayers(ctx, rec, measuredS) ++ w.layers(ctx, rec) else Nil
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> ctx.seed, "traced" -> traced,
      "cpus" -> ctx.cpus, "session" -> sessionSettings(ctx.cpus).toMap,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS),
      "measured_s" -> measuredS,
      "error_rate" -> ctx.failed.toDouble / ctx.attempted,
      "samples" -> ctx.samples.map { case (k, v) => k.toString.toLowerCase -> v.length },
      "store_bytes" -> storeBytes, "input_bytes" -> w.inputBytes)
    w.detail(ctx).foreach { case (k, v) => detail(k) = v }
    if (traced) detail("layers") = layers.map(t => t._1 -> Map("value" -> t._2, "unit" -> t._3)).toMap
    if (ctx.errors.nonEmpty) detail("errors") = ctx.errors.take(20).toSeq

    val out = results
    out.mkdirs()
    val base = s"${w.name}-seed${ctx.seed}-trace${if (traced) 1 else 0}"
    if (!traced) write(new File(out, s"$base.json"), Json.render(e2e.map(t => t._1 -> t._2).toMap))
    if (traced) {
      // overhead: traced minus the untraced run of the same workload and
      // seed, when one was made in this checkout
      val untraced = new File(out, s"${w.name}-seed${ctx.seed}-trace0.json")
      val overhead: Option[Map[String, Double]] =
        if (!untraced.isFile) None
        else {
          val prev = """"([\w.]+)":(-?[\d.eE+-]+)""".r
            .findAllMatchIn(new String(Files.readAllBytes(untraced.toPath), UTF_8))
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
          Some(e2e.flatMap { case (n, v, _) => prev.get(n).map(p => n -> (v - p)) }.toMap)
        }
      detail("tracing_overhead") = overhead.getOrElse("no untraced run of this workload and seed")
      val spans = ctx.tracer.spans.map(sp => Map("id" -> sp.id, "name" -> sp.name,
        "parent" -> sp.parent, "op" -> sp.op, "start" -> sp.start, "end" -> sp.end,
        "ok" -> sp.ok, "self_s" -> ctx.tracer.selfTime(sp)))
      write(new File(out, s"$base.json"), Json.render(Map(
        "detail" -> detail,
        "end_to_end" -> e2e.map(t => t._1 -> Map("value" -> t._2, "unit" -> t._3)).toMap,
        "layers" -> layers.map(t => t._1 -> Map("value" -> t._2, "unit" -> t._3)).toMap,
        "spans" -> spans,
        "sql_executions" -> rec.allExecs.sortBy(_.id).map(x => Map("id" -> x.id, "span" -> x.span,
          "table" -> x.table, "merge" -> x.merge, "wall_s" -> x.wallS,
          "frames" -> rec.allStages.filter(_.exec == x.id).sortBy(_.id).headOption.fold(Seq.empty[String])(_.frames.take(4)))))))
    }
    println(Json.render(detail))
    val shown = if (traced) layers.filter(l => LayerNames.contains(l._1)) else e2e
    val metrics = shown.map { case (n, v, u) =>
      n -> Map("value" -> (if (v.isNaN) 0.0 else v), "unit" -> u) }.toMap
    println(Json.render(Map("correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted,
      "failed" -> ctx.failed, "metrics" -> metrics)))
  }

  /** The per-layer metrics every workload reports (BENCHMARK.json's list). */
  val LayerNames: Set[String] = Set(
    "build.jobs", "build.task_s", "build.sched_delay_s", "build.shuffle_write_mb",
    "build.input_mb", "build.output_mb", "build.parallel_eff",
    "op.jobs", "op.task_s", "op.sched_delay_s", "op.shuffle_write_mb", "op.input_mb",
    "op.output_mb", "op.commits",
    "read.jobs", "read.task_s", "read.sched_delay_s", "read.input_mb",
    "engine.jobs", "engine.tasks", "engine.task_s", "engine.sched_delay_s",
    "engine.parallel_eff", "engine.task_skew", "engine.gc_s", "engine.shuffle_write_mb",
    "engine.spill_mb", "engine.failed_tasks")

  /** Stages submitted under any span of `spans`' subtrees, and their jobs. */
  def stagesUnder(ctx: Ctx, rec: Recorder, spans: Seq[Span]): (Seq[StageRec], Int) = {
    val ids = spans.flatMap(ctx.tracer.subtree).toSet
    val jobs = rec.jobSpan.values.toArray.count(v => ids(v.asInstanceOf[Int]))
    (rec.allStages.filter(st => ids(st.span)), jobs)
  }

  /** Medians over operations of one kind, or the single build's figures. */
  private def genericLayers(ctx: Ctx, rec: Recorder, measuredS: Double): Seq[(String, Double, String)] = {
    def perOp(k: Kind.Value): Seq[(Agg, Int)] =
      ctx.opSpans.getOrElse(k, ArrayBuffer.empty[Span]).toSeq.map { sp =>
        val (st, jobs) = stagesUnder(ctx, rec, Seq(sp))
        val ids = ctx.tracer.subtree(sp)
        (Agg.of(st, jobs), rec.allExecs.count(x => ids(x.span) && x.table.nonEmpty))
      }
    def medOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def kindLayers(k: Kind.Value, prefix: String, build: Boolean): Seq[(String, Double, String)] = {
      val aggs = perOp(k)
      val wall = medOf(ctx.samples.getOrElse(k, ArrayBuffer.empty[Double]).toSeq)
      def m(f: Agg => Double) = medOf(aggs.map(a => f(a._1)))
      Seq(
        (s"$prefix.jobs", m(_.jobs.toDouble), "count"),
        (s"$prefix.task_s", m(_.taskS), "s"),
        (s"$prefix.sched_delay_s", m(_.schedS), "s"),
        (s"$prefix.shuffle_write_mb", m(_.shuffleMb), "MB"),
        (s"$prefix.input_mb", m(_.inMb), "MB"),
        (s"$prefix.output_mb", m(_.outMb), "MB"),
        (s"$prefix.commits", medOf(aggs.map(_._2.toDouble)), "count")) ++
        (if (build) Seq((s"$prefix.parallel_eff", if (wall > 0) m(_.taskS) / (wall * ctx.cpus) else 0.0, "ratio"))
         else Nil)
    }
    val all = Agg.of(rec.allStages, rec.jobs)
    kindLayers(Kind.Build, "build", build = true) ++ kindLayers(Kind.Op, "op", build = false) ++
      kindLayers(Kind.Read, "read", build = false) ++ Seq(
        ("engine.jobs", rec.jobs.toDouble, "count"),
        ("engine.tasks", all.tasks.toDouble, "count"),
        ("engine.task_s", all.taskS, "s"),
        ("engine.sched_delay_s", all.schedS, "s"),
        ("engine.parallel_eff", all.taskS / (measuredS * ctx.cpus), "ratio"),
        ("engine.task_skew", all.skew, "ratio"),
        ("engine.gc_s", all.gcS, "s"),
        ("engine.shuffle_write_mb", all.shuffleMb, "MB"),
        ("engine.spill_mb", all.spillMb, "MB"),
        ("engine.failed_tasks", all.failedTasks.toDouble, "count"))
  }

  private def write(f: File, s: String): Unit = Files.write(f.toPath, s.getBytes(UTF_8))
}
