package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.pjparquet.PjWriter

/** The auto-substitution extension: `spark.read.parquet` plans must flip to
  * `pjparquet` index-planned scans when (and only when) sidecars exist.
  */
class PjAutoSubstituteSpec extends AnyFunSuite {

  /** A second session (same SparkContext) built with the extensions; the
    * shared default session is restored afterwards.
    */
  private lazy val extSpark: SparkSession =
    graft.GraftSession.withPjExtensions(SparkTestSession.spark)

  test("parquet scans with sidecars are substituted; without, left alone") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("pjsub").toString

    // write WITH sidecars via the writer hook
    val written = PjWriter.writeWithIndex(
      extSpark.range(0, 1000).select(col("id"), (col("id") * 2).as("v")), s"$dir/with_idx")
    assert(written >= 1L)

    SparkSession.setActiveSession(extSpark)
    val subbed = extSpark.read.parquet(s"$dir/with_idx").filter(col("id") < 10)
    val planStr = subbed.queryExecution.executedPlan.toString
    assert(planStr.contains("pjparquet"), s"expected pjparquet substitution:\n$planStr")
    assert(subbed.select(sum("v")).collect()(0).getLong(0) == (0L until 10L).map(_ * 2).sum)

    // write WITHOUT sidecars → stock scan stays
    extSpark.range(0, 100).select(col("id")).write.mode("overwrite").parquet(s"$dir/no_idx")
    val stock = extSpark.read.parquet(s"$dir/no_idx")
    val stockPlan = stock.queryExecution.executedPlan.toString
    assert(!stockPlan.contains("pjparquet"), s"must not substitute without sidecars:\n$stockPlan")
    assert(stock.count() == 100)
  }

  test("corrupt sidecar disables substitution gracefully (stock plan, right answer)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("pjsub3").toString
    PjWriter.writeWithIndex(
      extSpark.range(0, 200).select(col("id")), s"$dir/t")
    // corrupt every sidecar in place
    for (sc <- new java.io.File(s"$dir/t").listFiles().filter(_.getName.endsWith(".index"))) {
      java.nio.file.Files.write(sc.toPath, Array.fill[Byte](32)(0x11))
      val crc = new java.io.File(sc.getParentFile, "." + sc.getName + ".crc")
      if (crc.exists()) crc.delete()
    }
    graft.sources.pjparquet.PjParquetTable.clearLayoutCache()
    SparkSession.setActiveSession(extSpark)
    val df = extSpark.read.parquet(s"$dir/t")
    val planStr = df.queryExecution.executedPlan.toString
    // the rule resolves with autogen=false → corrupt sidecar is a loud WARN
    // + fallback to the stock scan, never an exception or a wrong answer
    assert(!planStr.contains("pjparquet"), s"corrupt sidecar must not substitute:\n$planStr")
    assert(df.count() == 200)
  }

  test("substituted plan preserves join/aggregate correctness vs stock session") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("pjsub2").toString
    PjWriter.writeWithIndex(
      extSpark.range(0, 500).select(col("id"), (col("id") % 7).as("k")), s"$dir/t")

    SparkSession.setActiveSession(extSpark)
    val viaExt = extSpark.read.parquet(s"$dir/t")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("s"))
      .orderBy("k").collect().map(_.toSeq).toSeq
    val viaStock = SparkTestSession.spark.read.parquet(s"$dir/t")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("s"))
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(viaExt == viaStock)
  }
}
