package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A timed call into one layer, opened and closed by the benchmark's code.
  * `round` is shared by every span of one crawl or frontier round.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    round: Long, startMs: Long, var endMs: Long = -1L)

/** One Spark job: the span it ran under, and the innermost `graft.*` frame
  * (`Class.method`) and package of the code that submitted it.
  */
final case class JobRec(id: Int, span: Int, frame: String, pkg: String,
    startMs: Long, var endMs: Long = -1L)

final case class StageRec(id: Int, span: Int, startMs: Long, endMs: Long,
    tasks: Int, runMs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** What the tracer attributes to one span and everything under it. */
final case class SpanStats(wallS: Double, jobs: Int, stages: Int, tasks: Long,
    stageActiveS: Double, executorBusyFrac: Double, shuffleWriteMb: Double,
    spillMb: Double, gcS: Double, jobSByFrame: Map[String, Double],
    jobsByFrame: Map[String, Int]) {
  def driverGapS: Double = wallS - stageActiveS
}

/** Span recorder plus a SparkListener registered from the benchmark's own
  * code. Jobs are joined to spans through a thread-local property set before
  * each layer call (Spark copies it to jobs that adaptive execution submits
  * from its own threads), and labelled by the call site of their SQL
  * execution: the stage call site alone misses stages launched from
  * `CompletableFuture` threads. Everything stays in memory until
  * [[writeSpans]]. When disabled, [[span]] only runs its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, cores: Int) extends SparkListener {
  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val execFrames = new ConcurrentHashMap[Long, (String, String)]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  private val listenerNanos = new AtomicLong()

  if (enabled) sc.addSparkListener(this)

  def span[T](name: String, layer: String, round: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.headOption
      val s = Span(spans.size, name, layer, parent.map(_.id).getOrElse(-1),
        if (round >= 0) round else parent.map(_.round).getOrElse(-1L),
        System.currentTimeMillis())
      spans += s
      open = s :: open
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProp, prev)
      }
    }

  /** Time spent inside this listener's callbacks (its own overhead). */
  def listenerS: Double = listenerNanos.get() / 1e9

  /** Wait until every posted event has reached the listener. */
  def drain(): Unit = if (enabled) Bus.drain(sc)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally listenerNanos.addAndGet(System.nanoTime() - t0)
  }

  private def spanProp(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProp))).map(_.toInt).getOrElse(-1)

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execFrames.put(s.executionId, Tracer.frameOf(s.details))
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execFrames.get(id.toLong)))
    val stage = e.stageInfos.sortBy(_.stageId).lastOption.map(si => Tracer.frameOf(si.details))
    val (frame, pkg) = exec.filter(_._1.nonEmpty)
      .orElse(stage.filter(_._1.nonEmpty)).getOrElse(("", ""))
    jobs.put(e.jobId, JobRec(e.jobId, spanProp(e.properties), frame, pkg, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    stageSpan.put(e.stageInfo.stageId, spanProp(e.properties))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    val m = si.taskMetrics
    stages.add(StageRec(si.stageId, stageSpan.getOrDefault(si.stageId, -1),
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled))
  }

  // ---- analysis (after drain) -------------------------------------------

  def allSpans: Seq[Span] = spans.toSeq

  /** The span an event belongs to: its property, else the innermost span
    * whose interval holds the event's start.
    */
  private def owner(prop: Int, atMs: Long): Int =
    if (prop >= 0) prop
    else spans.filter(s => s.startMs <= atMs && atMs <= s.endMs)
      .sortBy(s => -s.startMs).headOption.map(_.id).getOrElse(-1)

  private def subtree(id: Int): Set[Int] = {
    val out = mutable.Set(id)
    var grew = true
    while (grew) {
      val more = spans.filter(s => out(s.parent) && !out(s.id)).map(_.id)
      out ++= more
      grew = more.nonEmpty
    }
    out.toSet
  }

  def jobsOf(s: Span): Seq[JobRec] = {
    val ids = subtree(s.id)
    jobs.values.asScala.filter(j => ids(owner(j.span, j.startMs))).toSeq.sortBy(_.id)
  }

  private def stagesOf(s: Span): Seq[StageRec] = {
    val ids = subtree(s.id)
    stages.asScala.filter(st => ids(owner(st.span, st.startMs))).toSeq
  }

  /** Layer of a job: the package of its innermost `graft.*` frame, or, for
    * jobs the benchmark submits itself, the layer of the span it ran under.
    */
  def layerOf(j: JobRec): String =
    if (j.pkg.nonEmpty) j.pkg
    else spans.lift(owner(j.span, j.startMs)).map(_.layer).getOrElse("bench")

  def frameLabel(j: JobRec): String = if (j.frame.nonEmpty) j.frame else "bench"

  def stats(s: Span): SpanStats = {
    val wall = (s.endMs - s.startMs) / 1e3
    val js = jobsOf(s)
    val ss = stagesOf(s)
    val active = Tracer.unionMs(ss.map(st =>
      (math.max(st.startMs, s.startMs), math.min(st.endMs, s.endMs)))) / 1e3
    val busy = ss.map(_.runMs).sum / 1e3
    SpanStats(wall, js.size, ss.size, ss.map(_.tasks.toLong).sum, active,
      if (wall > 0) busy / (cores * wall) else 0.0,
      ss.map(_.shuffleWriteBytes).sum / 1e6, ss.map(_.spillBytes).sum / 1e6,
      ss.map(_.gcMs).sum / 1e3,
      js.groupBy(frameLabel).map { case (f, g) =>
        f -> g.map(j => math.max(j.endMs - j.startMs, 0L)).sum / 1e3 },
      js.groupBy(frameLabel).map { case (f, g) => f -> g.size })
  }

  /** Self time per layer under the given spans: a span's own layer gets its
    * duration minus the time its child spans and other-layer jobs cover;
    * each other layer gets the union of its jobs' intervals.
    */
  def selfSecondsByLayer(roots: Seq[Span]): Map[String, Double] = {
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    val ids = roots.flatMap(r => subtree(r.id)).toSet
    spans.filter(s => ids(s.id)).foreach { s =>
      val children = spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)).toSeq
      val direct = jobs.values.asScala.filter(j => owner(j.span, j.startMs) == s.id).toSeq
      val foreign = direct.filter(j => layerOf(j) != s.layer)
      val covered = Tracer.unionMs(children ++ foreign.map(j => (j.startMs, j.endMs)))
      out(s.layer) += (s.endMs - s.startMs - covered) / 1e3
      foreign.groupBy(layerOf).foreach { case (l, g) =>
        out(l) += Tracer.unionMs(g.map(j => (j.startMs, j.endMs))) / 1e3
      }
    }
    out.toMap
  }

  /** Write every span (with its attributed totals) and every job, one JSON
    * object per line.
    */
  def writeSpans(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val st = stats(s)
      Json.obj("kind" -> "span", "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "round" -> s.round, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks,
        "stage_active_s" -> st.stageActiveS, "shuffle_write_mb" -> st.shuffleWriteMb,
        "spill_mb" -> st.spillMb, "gc_s" -> st.gcS)
    } ++ jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj("kind" -> "job", "id" -> j.id, "span" -> owner(j.span, j.startMs),
        "frame" -> frameLabel(j), "layer" -> layerOf(j), "start_ms" -> j.startMs,
        "end_ms" -> j.endMs)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** The innermost `graft.*` frame of a call-site stack as (`Class.method`,
    * package), lambdas folded into their enclosing method; empty when the
    * stack holds none.
    */
  def frameOf(details: String): (String, String) =
    Option(details).iterator.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith("graft."))
      .map { line =>
        val parts = line.takeWhile(_ != '(').split('.')
        val pkg = if (parts.length > 3) parts(1) else ""
        val cls = parts(parts.length - 2).split('$').head
        val method = parts.last.split('$')
          .find(p => p.nonEmpty && p != "anonfun" && p != "adapted" && !p.forall(_.isDigit))
          .getOrElse("?")
        (s"$cls.$method", pkg)
      }
      .getOrElse(("", ""))

  /** Total length of the union of [start, end) intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
