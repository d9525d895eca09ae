package graft

import org.apache.spark.sql.SparkSession

import graft.sources.pjparquet.{PjCommitLog, PjParquetTable}

/** The one place that builds Spark sessions: the four mains (`Bench`,
  * `Verify`, `PlanDump`, `ProfileOne`), the test session and the sibling
  * session that carries the SQL extensions all come from here, so a
  * measurement taken by one harness is comparable with another's.
  */
object GraftSession {
  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val TimeZone = "spark.sql.session.timeZone"

  /** Task threads for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Fixture directory for the mains: `SPARK_GRAFT_SF_DIR`. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The query filter a comma-separated list of prefixes names: `p` keeps
    * a query named `p` or starting with `p_`, so `q1` keeps `q1_…` but
    * not `q10_…`. No list keeps every query.
    */
  def queryFilter(prefixes: Option[String]): String => Boolean = prefixes match {
    case None => _ => true
    case Some(list) =>
      val ps = list.split(",").map(_.trim).toSet
      name => ps.exists(p => name == p || name.startsWith(p + "_"))
  }

  /** The mains' query filter, read from `SPARK_GRAFT_ONLY` (e.g. `q80,q32`). */
  lazy val only: String => Boolean = queryFilter(sys.env.get("SPARK_GRAFT_ONLY"))

  private def builder = SparkSession.builder()

  /** The local session every main and test runs on. */
  def local(cpus: Int): SparkSession = {
    val spark = builder
      .master(s"local[$cpus]")
      .config(ShufflePartitions, cpus.toString)
      .config(TimeZone, "UTC")
      // Older fixtures store events.ts as timestamp[ns], which Spark only
      // reads (as a Long) under this flag. It is static for the whole run
      // (Tables.events normalizes both shapes), so no query mutates the
      // session conf.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Local mode runs driver and executor in one JVM, and the executor
      // exits (code 56) after heartbeat.maxFailures missed heartbeats. Long
      // intervals and timeouts make a GC or scheduler stall on a loaded box
      // a slow run instead of a dead one; a missed in-process heartbeat can
      // never mean a lost executor, so the failure bound is disabled.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.rpc.askTimeout", "600s")
      .config("spark.executor.heartbeat.maxFailures", "1000000")
      // Keep the in-memory SQL and app status stores bounded: hundreds of
      // retained execution graphs are pure ballast in local mode.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  @volatile private var extSession: SparkSession = null

  /** The sibling session carrying
    * [[org.apache.spark.sql.execution.datasources.parquet.PjSparkExtensions]]
    * (the SQL statements, functions and auto-substitution), one per
    * SparkContext. `base` stays extension-free, so everything else proves
    * stock-Spark behavior. It copies `base`'s shuffle partitions and time
    * zone; the default and active sessions are restored afterwards.
    */
  def withPjExtensions(base: SparkSession): SparkSession = synchronized {
    if (extSession == null || (extSession.sparkContext ne base.sparkContext)) {
      val oldDefault = SparkSession.getDefaultSession
      val oldActive = SparkSession.getActiveSession
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      try {
        extSession = builder
          .config(ShufflePartitions, base.conf.get(ShufflePartitions))
          .config(TimeZone, base.conf.get(TimeZone))
          .withExtensions(
            new org.apache.spark.sql.execution.datasources.parquet.PjSparkExtensions())
          .getOrCreate()
      } finally {
        oldDefault.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
        oldActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      }
    }
    extSession
  }

  /** The untimed step between two queries. Each logged-table query leaves
    * its table's resolved layout pinned in graft's caches, and Spark's
    * ContextCleaner reclaims broadcast blocks and shuffle files only when a
    * GC runs: its own periodic GC fires every 30 min, and a large heap may
    * see no other GC in a whole run, so without this step every later query
    * drags the earlier ones' leftovers. A short
    * `spark.cleaner.periodicGC.interval` is no substitute: it fires full
    * stop-the-world collections inside timed runs.
    */
  def resetBetweenQueries(): Unit = {
    PjParquetTable.clearLayoutCache()
    PjCommitLog.clearSnapshotCache()
    System.gc()
  }
}
