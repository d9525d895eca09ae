package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.pjparquet.PjIndexJob

/** r18 optimization pin: `generateForPaths` runs small commits on the
  * driver (bounded thread pool, no cluster job) and large ones through the
  * executor-parallel job — both lanes must produce IDENTICAL per-file
  * facts and identical sidecars, since the commit log records them.
  */
class PjIndexJobLocalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("driver-local lane facts == executor-job lane facts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pj_idxjob_local").toString
    (0L until 400L).map(i => (i, s"v$i")).toDF("id", "name")
      .repartition(40).write.mode("overwrite").parquet(dir)
    val paths = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(_.getPath).sorted
    assert(paths.size == 40 && paths.size > PjIndexJob.LocalMaxPaths)
    def norm(fs: Seq[graft.sources.pjparquet.PjFileFacts]) =
      fs.sortBy(_.path).map(f =>
        (f.path, f.size, f.rows, f.rowGroups, f.fingerprint,
          f.zeroRowGroups, f.cols.toList, f.dataSchemaJson,
          // ColStat bounds are Array[Byte]: compare by value, not reference
          f.stats.toSeq.sortBy(_._1).map { case (c, st) =>
            (c, st.productIterator.map {
              case Some(a: Array[Byte]) => Some(a.toSeq)
              case x => x
            }.toList)
          }))
    // batches of 20 stay on the driver; all 40 at once take the job lane
    val local = paths.grouped(20).flatMap(PjIndexJob.generateForPaths(spark, _)).toSeq
    val dist = PjIndexJob.generateForPaths(spark, paths)
    assert(norm(local) == norm(dist))
    assert(local.forall(_.sidecarWritten))
  }
}
