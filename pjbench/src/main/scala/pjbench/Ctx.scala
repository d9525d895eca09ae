package pjbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** What every workload shares: the session, the run's seed and mode, the
  * per-call timings of the timed phase, and the tracer.
  *
  * `tiny` shrinks every workload for the smoke tests; `wrong` perturbs
  * each expected answer so the smoke tests can check that a wrong
  * expectation fails the run.
  */
final class Ctx(
    val spark: SparkSession, val seed: Long, val tiny: Boolean, val wrong: Boolean) {
  val tracer = new Tracer
  /** Milliseconds per timed call, recorded only in the timed phase. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Counters of the timed phase (rows, bytes, files, ...). */
  val counts = mutable.HashMap[String, Double]().withDefaultValue(0.0)
  var recording = false
  var opIndex = -1
  /** Job group of the current op; statements inside it run under
    * `group/<name>` sub-groups (see [[sub]]).
    */
  var group = ""

  def sub[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"$group/$name", "pjbench", false)
    try body finally sc.setJobGroup(group, "pjbench", false)
  }

  def time[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    if (tracer.active) tracer.open(name, opIndex, t0)
    try body
    finally {
      val t1 = System.nanoTime()
      if (tracer.active) tracer.close(t1)
      if (recording) samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += (t1 - t0) / 1e6
    }
  }

  def count(name: String, v: Double): Unit = if (recording) counts(name) += v
  def ms(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  /** The expected value a check compares with, perturbed in `wrong` mode. */
  def expect(v: Long): Long = if (wrong) v + 1 else v

  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new WrongAnswer(what)

  def fs(path: String) = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Bytes of every regular file under `dir` (hidden sidecars, logs and
    * deletion vectors included).
    */
  def bytesUnder(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum else f.length()
    walk(new java.io.File(dir))
  }

  /** Sum of one custom scan metric over every scan of an executed plan. */
  def scanMetric(plan: SparkPlan, name: String): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    nodes(plan).flatMap(_.metrics.get(name)).map(_.value).sum
  }
}

/** One benchmark workload: a seeded fixture, one homogeneous op shape, and
  * the per-layer numbers it owns.
  */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** The fixed number of timed ops for a run of about `seconds`. */
  def opsFor(seconds: Int): Int
  /** How many times a run sets up; `setup_s` is the median. */
  def setupReps: Int = 3
  /** Set once, before set-up, to `opsFor(seconds)`. */
  var nOps = 0
  /** Untimed, once per run: generate the workload's input data under
    * `dir`. This is the benchmark's own work, not the program's.
    */
  def prepare(dir: String): Unit = ()
  /** The program's set-up work on the prepared inputs, into a fresh `dir`
    * (index builds, table creation). Timed as `setup_s`; run several times.
    */
  def setup(dir: String): Unit
  /** Untimed: touch every op type once or more. */
  def warmup(): Unit
  /** One timed op, checked for correctness. */
  def op(i: Int): Unit
  /** Work between ops that is not an op (maintenance); counted in the
    * run's wall time, not in the op latency.
    */
  def afterOp(i: Int): Unit = ()
  /** Bytes under the workload's roots per live row, after the run. */
  def spaceBytesPerRow: Double
  /** Named end-to-end figures of this workload (read/write/pass p50s). */
  def detail: Seq[Metric]
  /** Per-layer values this workload owns, by per-layer metric name, from
    * the traced ops and the engine record of a job group.
    */
  def layers(traced: Seq[Int], engine: String => EngineAcc): Map[String, Double]
  /** Untimed checks after the timed phase (trace mode only). */
  def probeLayers(): Unit = ()
}
