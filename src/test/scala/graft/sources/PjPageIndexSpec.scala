package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Page-level (ColumnIndex/OffsetIndex) skipping through the pjparquet
  * shipped-footer read path. The splice preserves each column chunk's
  * `column_index_offset`/`offset_index_offset` verbatim (the reference
  * does the same, `parquet_types_palletjack.h:2589,2637` — deliberately,
  * so downstream readers can page-filter), and Spark's
  * `VectorizedParquetRecordReader` builds its `ParquetFileReader` from the
  * footer we hand it plus the hadoop conf carrying our pushed
  * `FilterPredicate` — so a selective filter must decode only the matching
  * pages, not the whole row group. This spec PROVES it with the scan's
  * `numOutputRows` metric: same file, same filter, page skipping on vs
  * off, and the on-path must output a small fraction of the rows.
  */
class PjPageIndexSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  // the fixture is shared by every test, so it goes when the suite ends
  private lazy val fixtureDir = java.nio.file.Files.createTempDirectory("pj_pageidx").toString

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(fixtureDir))
    finally super.afterAll()

  private val totalRows = 200000L
  private val pageRows = 1000

  /** One row group, ~200 pages of ~1000 rows, `k` sorted ascending — so
    * row-group stats can never skip (every row group matches) and only
    * page-level pruning can shrink the scan's output.
    */
  private lazy val fixtureFile: String = {
    val dir = fixtureDir
    spark.range(totalRows).toDF("k")
      .withColumn("payload", concat(lit("row-"), col("k")))
      .coalesce(1)
      .sortWithinPartitions("k")
      .write.mode("overwrite")
      .option("parquet.block.size", (512L * 1024 * 1024).toString) // 1 row group
      .option("parquet.page.row.count.limit", pageRows.toString)
      .option("parquet.page.size", "16384")
      .parquet(dir)
    new java.io.File(dir).listFiles().find(_.getName.endsWith(".parquet")).get.getPath
  }

  /** Runs a point-filter scan and returns the BatchScan's numOutputRows —
    * rows the parquet reader actually surfaced, BEFORE Spark's own Filter
    * re-applies the predicate. AQE is disabled for the query so the
    * executed plan exposes the scan node directly.
    */
  private def scanOutputRows(columnIndexEnabled: Boolean): Long = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // session-conf keys are copied verbatim into newHadoopConf(), so this
      // reaches the executor-side ParquetFileReader options
      spark.conf.set("parquet.filter.columnindex.enabled", columnIndexEnabled.toString)
      import spark.implicits._
      val df = spark.read.format("pjparquet").load(fixtureFile)
        .filter($"k" === 100500L)
      val rows = df.collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(100500L),
        "query answer must be correct regardless of page skipping")
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.getOrElse(fail("no BatchScanExec in the executed plan"))
      scan.metrics("numOutputRows").value
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.unset("parquet.filter.columnindex.enabled")
    }
  }

  test("fixture is one row group with many pages and a column index") {
    val idx = graft.core.PJSplice.Index.fromBytes(graft.core.PJIndex.generate(fixtureFile))
    assert(idx.header.rowGroups == 1, "fixture must be a single row group")
    // the spliced footer must still carry the page-index offsets (verbatim
    // chunk copy) — materialize and check via parquet-mr's own metadata
    val footer = graft.core.PalletJack.materialize(
      graft.core.PJSplice.splice(idx, Seq(0), Nil, Nil, schemaOnly = false))
    val chunk = footer.getBlocks.get(0).getColumns.get(0)
    assert(chunk.getColumnIndexReference != null,
      "spliced chunk metadata lost its ColumnIndex reference")
    assert(chunk.getOffsetIndexReference != null,
      "spliced chunk metadata lost its OffsetIndex reference")
  }

  test("a selective pushed filter decodes only the matching pages") {
    val withPageSkip = scanOutputRows(columnIndexEnabled = true)
    val withoutPageSkip = scanOutputRows(columnIndexEnabled = false)
    // off-path: row-group stats can't skip (sorted full-range rg) → the
    // whole row group surfaces
    assert(withoutPageSkip == totalRows,
      s"control read should surface the full row group, got $withoutPageSkip")
    // on-path: only the page(s) containing k=100500 (+ alignment slack)
    assert(withPageSkip <= pageRows * 8L,
      s"page skipping not effective through the shipped footer: " +
        s"$withPageSkip rows surfaced of $totalRows")
    assert(withPageSkip < withoutPageSkip / 10,
      s"expected ≥10× reduction from page skipping, got $withPageSkip vs $withoutPageSkip")
  }
}
