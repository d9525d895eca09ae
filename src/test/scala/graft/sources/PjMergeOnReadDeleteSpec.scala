package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.sources.pjparquet.PjCommitLog

/** Which mechanism each SQL `DELETE` on a pjparquet table takes. A data
  * predicate on a logged table — pushable or not — is a merge-on-read
  * delta command: it writes deletion vectors, rewrites no data file and,
  * on an unpartitioned table, runs as one job with no shuffle. A
  * partition-exact predicate stays a metadata-only commit with no job,
  * `deletionVectors.enabled=false` copies on write, and a time-travel
  * snapshot refuses.
  */
class PjMergeOnReadDeleteSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private case class Ran(jobs: Int, stages: Int, plan: SparkPlan)

  /** Run one SQL statement, counting the jobs and stages it starts. */
  private def run(sql: String): Ran = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val df =
      try {
        val d = spark.sql(sql)
        GraftListenerBus.drain(sc)
        d
      } finally sc.removeSparkListener(listener)
    Ran(jobs.get, stages.get, df.queryExecution.executedPlan)
  }

  /** Every node of a physical plan, through commands, AQE and its stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other.children.flatMap(nodes)
  })

  /** A logged table of ids 0..999 with `m = id % 10`, in `files` files. */
  private def table(name: String, files: Int, partitionBy: Seq[String] = Nil,
      options: String = ""): (String, Path) = {
    val dir = tempDir(name)
    spark.range(0, 1000).select(col("id"), (col("id") % 10).as("m"))
      .repartition(files).write.format("pjparquet").partitionBy(partitionBy: _*)
      .mode("append").option("log.enabled", "true").save(dir) // v1
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING pjparquet OPTIONS (path '$dir'$options)")
    (dir, new Path(dir))
  }

  private def fsOf(root: Path) = root.getFileSystem(spark.sessionState.newHadoopConf())

  test("a pushable data-predicate DELETE is one job, no shuffle, vectors only") {
    val (_, root) = table("pj_mor_del_t", files = 2)
    val fs = fsOf(root)
    val before = PjCommitLog.latest(fs, root).get.entries
      .map(e => e.path -> fs.getFileStatus(new Path(root, e.path)).getModificationTime).toMap
    val r = run("DELETE FROM pj_mor_del_t WHERE m = 3")
    assert(nodes(r.plan).exists(_.nodeName.contains("WriteDelta")),
      s"the DELETE must plan as a delta write:\n${r.plan}")
    assert(!nodes(r.plan).exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"shuffle in the DELETE's plan:\n${r.plan}")
    assert(r.jobs == 1 && r.stages == 1, s"ran ${r.jobs} jobs, ${r.stages} stages")
    val head = PjCommitLog.latest(fs, root).get
    assert(head.version == 2L && PjCommitLog.delta(fs, root, 2L).action == "delete-dv")
    assert(head.entries.map(_.path).toSet == before.keySet, "no data file added or retired")
    assert(head.entries.forall(_.dv.isDefined) && head.entries.map(_.dv.get.deleted).sum == 100L)
    head.entries.foreach(e => assert(
      before(e.path) == fs.getFileStatus(new Path(root, e.path)).getModificationTime,
      s"data file ${e.path} must not be rewritten"))
    // a commit that adds no data file leaves the recorded schema to replay
    val in = fs.open(new Path(PjCommitLog.logDir(root), f"${2L}%020d.json"))
    val commitJson = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(commitJson.contains("\"version\"") && !commitJson.contains("\"dataSchema\""),
      "the DELETE's commit re-records the schema")
    val t = spark.table("pj_mor_del_t")
    assert(t.count() == 900L && t.filter(col("m") === 3).count() == 0L)
  }

  test("a partition-exact DELETE commits metadata-only with no job") {
    val (_, root) = table("pj_mor_del_part", files = 1, partitionBy = Seq("m"))
    val fs = fsOf(root)
    val r = run("DELETE FROM pj_mor_del_part WHERE m = 3")
    assert(r.jobs == 0, s"ran ${r.jobs} jobs")
    val d = PjCommitLog.delta(fs, root, 2L)
    assert(d.add.isEmpty && d.remove.nonEmpty && d.remove.forall(_.startsWith("m=3/")))
    assert(PjCommitLog.latest(fs, root).get.entries.forall(_.dv.isEmpty))
    assert(spark.table("pj_mor_del_part").count() == 900L)
  }

  test("deletionVectors.enabled=false copies on write") {
    val (_, root) = table("pj_mor_del_cow", files = 2,
      options = ", `deletionVectors.enabled` 'false'")
    val fs = fsOf(root)
    val before = PjCommitLog.latest(fs, root).get.entries.map(_.path).toSet
    spark.sql("DELETE FROM pj_mor_del_cow WHERE m = 3")
    val head = PjCommitLog.latest(fs, root).get
    assert(head.version == 2L && head.entries.forall(_.dv.isEmpty))
    assert((head.entries.map(_.path).toSet & before).isEmpty, "every hit file is rewritten")
    assert(spark.table("pj_mor_del_cow").count() == 900L)
  }

  test("a DELETE on a time-travel snapshot refuses") {
    val (dir, root) = table("pj_mor_del_tt", files = 1, partitionBy = Seq("m"))
    spark.sql("DELETE FROM pj_mor_del_tt WHERE id < 10") // v2
    spark.sql("DROP TABLE IF EXISTS pj_mor_del_tt1")
    spark.sql(
      s"CREATE TABLE pj_mor_del_tt1 USING pjparquet OPTIONS (path '$dir', versionAsOf '1')")
    for (pred <- Seq("id < 100", "m = 3")) { // data predicate, partition-exact
      val e = intercept[Exception](spark.sql(s"DELETE FROM pj_mor_del_tt1 WHERE $pred"))
      assert(e.getMessage.contains("time-travel"), s"$pred: ${e.getMessage}")
    }
    assert(PjCommitLog.latest(fsOf(root), root).get.version == 2L)
    assert(spark.table("pj_mor_del_tt1").count() == 1000L)
  }
}
