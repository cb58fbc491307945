package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One benchmark call into the program: a name, its interval (seconds from
  * the tracer's start), the span that caused it and the operation it
  * belongs to. Spans stay in memory and are written out at the end.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double) {
  var end: Double = Double.NaN
  var ok: Boolean = true
  def dur: Double = end - start
}

/** Records spans around the benchmark's calls. With `traced` on, each span
  * also runs under its own Spark job group and tags its jobs with the
  * span id (a local property, so a streaming query started inside the span
  * carries it too), for the [[Recorder]] to attribute work to.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val t0 = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var ops = 0

  def now(): Double = (System.nanoTime() - t0) / 1e9

  /** Run `body` inside a span; `newOp` starts a new operation id. */
  def span[T](name: String, newOp: Boolean = false)(body: => T): T = {
    val parent = stack.headOption
    val op = parent match {
      case Some(p) if !newOp => p.op
      case _ => ops += 1; ops
    }
    val s = Span(spans.length + 1, name, parent.fold(0)(_.id), op, now())
    spans += s
    stack = s :: stack
    if (traced) tag(Some(s))
    try body
    catch { case e: Throwable => s.ok = false; throw e }
    finally {
      s.end = now()
      stack = stack.tail
      if (traced) tag(stack.headOption)
    }
  }

  private def tag(s: Option[Span]): Unit = {
    val sc = spark.sparkContext
    s match {
      case Some(x) =>
        sc.setJobGroup(s"perfbench-${x.id}", x.name, interruptOnCancel = false)
        sc.setLocalProperty(Tracer.SpanProp, x.id.toString)
      case None =>
        sc.clearJobGroup()
        sc.setLocalProperty(Tracer.SpanProp, null)
    }
  }

  /** Seconds of `s` not covered by its direct children. */
  def selfTime(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    kids.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    s.dur - covered
  }

  /** Ids of `s` and all spans below it. */
  def subtree(s: Span): Set[Int] = {
    val byParent = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: byParent.getOrElse(id, Nil).flatMap(k => walk(k.id)).toSeq
    walk(s.id).toSet
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Per-stage counts, attributed to the span that submitted the stage's job
  * and to the graft modules on the stage's call site.
  */
final class StageRec(val id: Int, val span: Int, val exec: Long) {
  @volatile var frames: Seq[String] = Nil
  @volatile var submitMs = 0L
  @volatile var completeMs = 0L
  var tasks = 0L
  var failed = 0L
  var runMs = 0L
  var schedMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inBytes = 0L
  var outBytes = 0L
  val taskMs = ArrayBuffer.empty[Long]

  def wallS: Double = if (completeMs > submitMs) (completeMs - submitMs) / 1e3 else 0.0

  /** Innermost graft module on the call site, skipping the table-store
    * plumbing every module writes through. */
  def callerModule: String =
    frames.find(f => !f.startsWith("graft.tables.TableStore") && !f.startsWith("graft.tables.Scratch"))
      .orElse(frames.headOption).map(Recorder.moduleOf).getOrElse("")
}

/** One SQL execution: its interval, the table it writes (if any) and
  * whether its plan is an `Upsert` merge. */
final class ExecRec(val id: Long, val startMs: Long, val table: String, val merge: Boolean) {
  @volatile var endMs = 0L
  @volatile var span = 0
  def wallS: Double = if (endMs > startMs) (endMs - startMs) / 1e3 else 0.0
}

/** The traced run's SparkListener: jobs, stages, tasks and SQL executions,
  * attributed to benchmark spans. Registered per workload and removed
  * after it, so no job is counted twice.
  */
final class Recorder extends SparkListener {
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val execs = new ConcurrentHashMap[Long, ExecRec]()
  val jobSpan = new ConcurrentHashMap[Int, Int]()
  @volatile var jobs = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toInt).getOrElse(0)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs += 1
    jobSpan.put(e.jobId, span)
    e.stageIds.foreach(id => stages.putIfAbsent(id, new StageRec(id, span, exec)))
    Option(execs.get(exec)).foreach(x => if (x.span == 0) x.span = span)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.frames = Recorder.graftFrames(e.stageInfo.details)
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      if (s.frames.isEmpty) s.frames = Recorder.graftFrames(e.stageInfo.details)
      if (s.submitMs == 0L) s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
      s.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      val info = e.taskInfo
      s.synchronized {
        s.tasks += 1
        if (info != null && info.failed) s.failed += 1
        if (m != null) {
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled
          s.inBytes += m.inputMetrics.bytesRead
          s.outBytes += m.outputMetrics.bytesWritten
          if (info != null) {
            s.schedMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
            s.taskMs += info.duration
          }
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val plan = Option(s.physicalPlanDescription).getOrElse("")
      execs.put(s.executionId, new ExecRec(s.executionId, s.time,
        Recorder.writtenTable(plan), plan.contains("_gm_t")))
    case x: SparkListenerSQLExecutionEnd =>
      Option(execs.get(x.executionId)).foreach(_.endMs = x.time)
    case _ =>
  }

  def allStages: Seq[StageRec] = stages.values.asScala.toSeq
  def allExecs: Seq[ExecRec] = execs.values.asScala.toSeq
}

object Recorder {
  private val Frame = """^\s*((?:org\.apache\.spark\.sql\.)?graft\.[\w.$]+)\(.*$""".r
  // formatted plan: the node's detail block lists its output path first
  private val Insert = """\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\s]+)""".r
  private val Swap = """^\.(?:staging|trash)_(.+)_[0-9a-f]{8}$""".r

  /** graft frames of a stage's call site, innermost first. */
  def graftFrames(details: String): Seq[String] =
    Option(details).toSeq.flatMap(_.split("\n")).collect { case Frame(f) => f }

  /** `graft.ext.DedupIndex$.build` → `ext.DedupIndex`. */
  def moduleOf(frame: String): String = {
    val cls = frame.substring(0, frame.lastIndexOf('.')).stripSuffix("$")
    cls.stripPrefix("org.apache.spark.sql.").stripPrefix("graft.").split('$').head
  }

  /** Table name a write plan targets: the last path segment, with a
    * table store's staging-dir decoration removed. */
  def writtenTable(plan: String): String =
    Insert.findFirstMatchIn(plan).map { m =>
      val seg = m.group(1).stripSuffix("/").split('/').last
      seg match {
        case Swap(name) => name
        case other => other
      }
    }.getOrElse("")
}

/** Sums over a set of stages. */
final case class Agg(jobs: Int, tasks: Long, taskS: Double, schedS: Double,
    gcS: Double, shuffleMb: Double, spillMb: Double, inMb: Double, outMb: Double,
    failedTasks: Long, skew: Double)

object Agg {
  private val MB = 1024.0 * 1024.0

  def of(stages: Seq[StageRec], jobs: Int): Agg = {
    var tasks, failed, run, sched, gc, sw, sp, in, out = 0L
    var skew = 1.0
    stages.foreach { s =>
      s.synchronized {
        tasks += s.tasks; failed += s.failed; run += s.runMs; sched += s.schedMs
        gc += s.gcMs; sw += s.shuffleWrite; sp += s.spill; in += s.inBytes; out += s.outBytes
        if (s.taskMs.length >= 2) {
          val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
          if (med > 0) skew = math.max(skew, s.taskMs.max / med)
        }
      }
    }
    Agg(jobs, tasks, run / 1e3, sched / 1e3, gc / 1e3, sw / MB, sp / MB, in / MB, out / MB,
      failed, skew)
  }
}
