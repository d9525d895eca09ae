package pjbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One reported number. */
final case class Metric(name: String, value: Double, unit: String)

/** A result the program got wrong. It fails the whole run; it is never
  * counted as a failed op.
  */
final class WrongAnswer(msg: String) extends RuntimeException(msg)

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def ratio(a: Double, b: Double): Double = if (b == 0.0) 0.0 else a / b

  /** The p90 is reported only where at least 10 samples lie beyond it. */
  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.size >= 100) Some(quantile(xs, 0.9)) else None
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  def metrics(ms: Seq[Metric]): String =
    ms.map(m => s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
      .mkString("{", ", ", "}")
}

/** What the engine did for one job group: jobs with their wall intervals,
  * stages, tasks, task run time and the task I/O counters.
  */
final class EngineAcc {
  val jobs = mutable.ArrayBuffer[(Long, Long)]() // (start ms, end ms)
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var bytesRead = 0L
  var recordsRead = 0L

  def +=(o: EngineAcc): EngineAcc = {
    jobs ++= o.jobs; stages += o.stages; tasks += o.tasks; taskRunMs += o.taskRunMs
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    this
  }
}

/** Spark listener that accumulates an [[EngineAcc]] per job group. Each
  * benchmark op runs under its own job group; only groups starting with
  * the traced prefix are recorded.
  */
final class EngineRecorder(tracedPrefix: String) extends SparkListener {
  private val byGroup = mutable.HashMap[String, EngineAcc]()
  private val jobGroup = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val stageGroup = mutable.HashMap[Int, String]()

  private def acc(group: String): EngineAcc = byGroup.getOrElseUpdate(group, new EngineAcc)

  /** Everything recorded under job group `group` and its sub-groups
    * (`group/<name>`).
    */
  def sum(group: String): EngineAcc = synchronized {
    val out = new EngineAcc
    byGroup.foreach { case (g, a) => if (g == group || g.startsWith(group + "/")) out += a }
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (g.startsWith(tracedPrefix)) {
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      acc(g).jobs += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => acc(g).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.taskRunMs += m.executorRunTime
        a.bytesRead += m.inputMetrics.bytesRead
        a.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }
}

/** In-memory spans of traced ops. The root span of each traced op is named
  * `op`; children are the timed public calls, and the listener's jobs are
  * attached afterwards to the innermost span that contains their start.
  */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String, op: Int, start: Long, var end: Long)
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  var active = false

  def open(name: String, op: Int, now: Long): Unit = {
    val s = Span(spans.size, stack.headOption.getOrElse(-1), name, op, now, now)
    spans += s
    stack = s.id :: stack
  }
  def close(now: Long): Unit = {
    spans(stack.head).end = now
    stack = stack.tail
  }

  /** Attach listener jobs (epoch-ms intervals) as `job` spans. */
  def attachJobs(op: Int, jobs: Seq[(Long, Long)], msToNs: Long => Long): Unit = {
    val opSpans = spans.filter(_.op == op).toVector
    jobs.foreach { case (s, e) =>
      val (js, je) = (msToNs(s), msToNs(e))
      val inner = opSpans.filter(p => p.start <= js && js <= p.end)
      val parent = if (inner.isEmpty) opSpans.headOption.map(_.id).getOrElse(-1)
        else inner.maxBy(_.start).id
      spans += Span(spans.size, parent, "job", op, js, math.max(js, je))
    }
  }

  /** Self time (duration minus direct children), summed per layer, in ms. */
  def selfMsByLayer: Map[String, Double] = {
    val childNs = mutable.HashMap[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(s => Tracer.layer(s.name)).map { case (l, ss) =>
      l -> ss.map(s => math.max(0L, s.end - s.start - childNs(s.id))).sum / 1e6
    }
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"op":${s.op},""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** The layers self time is reported for, in report order. */
  val Layers: Seq[String] =
    Seq("op", "scan.resolve", "scan.plan", "scan.exec", "core", "commit", "maint", "query", "job")
  def layer(name: String): String =
    if (name.startsWith("core.")) "core"
    else if (name.startsWith("commit.")) "commit"
    else if (name.startsWith("maint.")) "maint"
    else if (name.startsWith("query.")) "query"
    else name
}
