package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{DynamicPruningExpression, Literal}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkTestSession}
import graft.sources.pjparquet.{PjSingleSplitExchange, PjWriter}

/** A pjparquet read that plans exactly one split runs as ONE stage under a
  * global aggregate, limit or window: the extension session's AQE prep rule
  * drops the `Exchange SinglePartition` Spark would put above the scan.
  * Everything else keeps its exchange: several splits, 0 splits (the
  * exchange is what turns "no partition" into one empty partition, so a
  * global `count(*)` still returns its 0 row), runtime-filtered scans and a
  * user's `repartition(1)`. Results always match stock parquet.
  */
class PjSingleSplitExchangeSpec
    extends AnyFunSuite with AdaptiveSparkPlanHelper with BeforeAndAfterAll {

  private lazy val base = SparkTestSession.spark
  private lazy val ext: SparkSession = GraftSession.withPjExtensions(base)

  private lazy val root = java.nio.file.Files.createTempDirectory("pj_single_split").toString

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    finally super.afterAll()

  /** 600 rows (id, k = id % 7, v = 2 id) in `files` data files. */
  private def table(files: Int): String = {
    val d = s"$root/files$files"
    PjWriter.writeWithIndex(
      base.range(0, 600).select(col("id"), (col("id") % 7).as("k"), (col("id") * 2).as("v"))
        .repartition(files),
      d)
    d
  }
  private lazy val oneFile = table(1)
  private lazy val threeFiles = table(3)

  // aggregate pushdown would answer count(*) from the index with no scan
  private def pj(session: SparkSession, dir: String): DataFrame =
    session.read.format("pjparquet").option("aggregatePushdown", "false").load(dir)
  private def stock(dir: String): DataFrame = base.read.parquet(dir)

  private val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "sum and count" -> (_.select(sum(col("v")).as("s"), count(lit(1)).as("n"))),
    // the filter above the limit keeps it a GlobalLimit (a bare limit
    // under collect plans as CollectLimit, with no exchange to drop)
    "limit" -> (_.limit(50).filter(col("k") === 3)),
    "window without PARTITION BY" -> (_.select(
      col("id"),
      row_number().over(Window.orderBy(col("id"))).as("rn"),
      sum(col("v")).over(Window.orderBy(col("id"))).as("running")))
  )

  /** Rows, Spark jobs started, the final plan's shuffle exchanges and the
    * splits each pjparquet scan planned.
    */
  private case class Ran(
      rows: Seq[Row], jobs: Int, exchanges: Seq[ShuffleExchangeExec], splits: Seq[Int])

  private def run(df: DataFrame): Ran = {
    val sc = df.sparkSession.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val rows =
      try {
        val r = df.collect().toSeq
        GraftListenerBus.drain(sc)
        r
      } finally sc.removeSparkListener(listener)
    val plan = df.queryExecution.executedPlan
    Ran(rows, jobs.get, collect(plan) { case e: ShuffleExchangeExec => e },
      collect(plan) { case b: BatchScanExec => b.inputPartitions.length })
  }

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("a one-split aggregate, limit and window run as one job with no exchange") {
    for ((name, q) <- queries) {
      val r = run(q(pj(ext, oneFile)))
      assert(r.splits == Seq(1), s"$name: the fixture must plan one split")
      assert(sorted(r.rows) == sorted(q(stock(oneFile)).collect().toSeq), name)
      assert(r.exchanges.isEmpty, s"$name: exchange left in the final plan: ${r.exchanges}")
      assert(r.jobs == 1, s"$name: ran ${r.jobs} jobs")
    }
  }

  test("every copy of the scan node shares the scan's one planning") {
    val df = pj(ext, oneFile).select(sum(col("v")))
    df.collect()
    val scan = collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }.head
    assert(scan.copy().inputPartitions.head eq scan.inputPartitions.head)
  }

  test("a multi-split scan keeps its exchange") {
    for ((name, q) <- queries.filterNot(_._1 == "limit")) {
      val r = run(q(pj(ext, threeFiles)))
      assert(r.splits == Seq(3), s"$name: the fixture must plan three splits")
      assert(sorted(r.rows) == sorted(q(stock(threeFiles)).collect().toSeq), name)
      assert(r.exchanges.exists(_.outputPartitioning == SinglePartition), name)
    }
  }

  test("a scan pruned to 0 splits still returns one count(*) = 0 row") {
    val r = run(pj(ext, oneFile).filter(col("id") > 100000).select(count(lit(1))))
    assert(r.splits == Seq(0), "the filter must prune every row group")
    assert(r.rows == Seq(Row(0L)))
    assert(r.exchanges.exists(_.outputPartitioning == SinglePartition))
  }

  test("a runtime-filtered scan and a user's repartition(1) keep their exchange") {
    val scan = collect(pj(ext, oneFile).select(col("v")).queryExecution.executedPlan) {
      case b: BatchScanExec => b
    }.head
    assert(PjSingleSplitExchange(ShuffleExchangeExec(SinglePartition, scan)) eq scan)
    val filtered = scan.copy(runtimeFilters = Seq(DynamicPruningExpression(Literal.TrueLiteral)))
    assert(PjSingleSplitExchange(ShuffleExchangeExec(SinglePartition, filtered))
      .isInstanceOf[ShuffleExchangeExec])
    assert(PjSingleSplitExchange(ShuffleExchangeExec(SinglePartition, scan, REPARTITION_BY_NUM))
      .isInstanceOf[ShuffleExchangeExec])

    val r = run(pj(ext, oneFile).repartition(1).filter(col("k") === 3))
    assert(r.exchanges.exists(_.shuffleOrigin == REPARTITION_BY_NUM), "repartition(1) was dropped")
    assert(sorted(r.rows) == sorted(stock(oneFile).filter(col("k") === 3).collect().toSeq))
  }

  test("a dynamically pruned join side matches stock parquet") {
    val fact = s"$root/fact"
    PjWriter.writeWithIndex(
      base.range(0, 400).select(col("id"), lit("k0").as("part")).repartition(1), fact,
      partitionBy = Seq("part"))
    val dim = s"$root/dim"
    base.createDataFrame(Seq(("k0", 1), ("k1", 2))).toDF("dk", "grp").write.parquet(dim)
    def q(f: DataFrame, d: DataFrame): DataFrame =
      f.join(broadcast(d.filter(col("grp") === 1)), col("part") === col("dk"))
        .select(count(lit(1)), sum(col("id")))
    val df = q(pj(ext, fact), ext.read.parquet(dim))
    val r = run(df)
    assert(collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.runtimeFilters.nonEmpty => b
    }.nonEmpty, "the fact scan must carry a runtime filter")
    assert(r.rows == q(stock(fact), base.read.parquet(dim)).collect().toSeq)
    assert(r.rows == Seq(Row(400L, (0L until 400L).sum)))
  }

  test("AQE off and a session without the extensions give the same results") {
    // a limit over several splits may keep any of their rows
    for ((name, q) <- queries; dir <- Seq(oneFile, threeFiles)
        if name != "limit" || dir == oneFile) {
      val want = sorted(run(q(pj(ext, dir))).rows)
      val plain = run(q(pj(base, dir)))
      assert(sorted(plain.rows) == want, s"$name over $dir without extensions")
      assert(plain.exchanges.exists(_.outputPartitioning == SinglePartition),
        s"$name over $dir: a session without the extensions must plan as stock")
      ext.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val r = run(q(pj(ext, dir)))
        assert(sorted(r.rows) == want, s"$name over $dir with AQE off")
        assert(r.exchanges.exists(_.outputPartitioning == SinglePartition),
          s"$name over $dir: AQE off must plan as stock")
      } finally ext.conf.unset("spark.sql.adaptive.enabled")
    }
  }
}
