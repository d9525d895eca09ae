package graft.sources.pjparquet

import java.io.File

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}

/** A writer or vacuum prunes only the partition directories it emptied
  * itself. A concurrent writer makes its `k=v` directory before its first
  * file lands; an operation that pruned every empty directory of the table
  * would delete that directory under it. Each test plants such a fresh
  * empty directory before the operation: it must survive, while the
  * directory the operation emptied must go.
  */
class PjEmptyDirPruneSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def write(dir: String, rows: Seq[(Long, Long)], mode: String,
      logged: Boolean): Unit =
    rows.toDF("id", "k").coalesce(1).write.format("pjparquet").mode(mode)
      .option("log.enabled", logged.toString).partitionBy("k").save(dir)

  /** The "concurrent writer's" directory, made and not yet written into. */
  private def plant(dir: String): File = {
    val d = new File(dir, "k=9")
    assert(d.mkdir())
    d
  }

  test("unlogged overwrite prunes the partition it emptied, not a fresh empty one") {
    val dir = tempDir("pj_prune_unlogged")
    write(dir, Seq((1L, 1L), (2L, 2L)), "append", logged = false)
    val fresh = plant(dir)
    write(dir, Seq((3L, 1L)), "overwrite", logged = false)
    assert(fresh.isDirectory, "a concurrent writer's fresh directory must survive")
    assert(!new File(dir, "k=2").exists(), "the emptied partition must go")
    assert(spark.read.format("pjparquet").load(dir).as[(Long, Long)].collect().toSeq ==
      Seq((3L, 1L)))
  }

  test("an aborted write prunes the directories it wrote into, not a fresh empty one") {
    val dir = tempDir("pj_prune_abort")
    write(dir, Seq((1L, 1L)), "append", logged = false)
    val fresh = plant(dir)
    val schema = StructType(Seq(StructField("id", LongType), StructField("k", LongType)))
    val job = new PjBatchWrite(dir, Seq("k"), schema, PjWriteMode.Append)
    val factory = job.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    val task = factory.createWriter(0, 0L)
    task.write(InternalRow(2L, 7L))
    val msg = task.commit()
    task.close()
    assert(new File(dir, "k=7").listFiles().exists(_.getName.endsWith(".parquet")))
    job.abort(Array(msg))
    assert(fresh.isDirectory, "a concurrent writer's fresh directory must survive")
    assert(!new File(dir, "k=7").exists(), "the aborted job's directory must go")
    assert(new File(dir, "k=1").isDirectory)
  }

  test("expireVersions prunes the partition it emptied, not a fresh empty one") {
    val dir = tempDir("pj_prune_expire")
    write(dir, Seq((1L, 1L), (2L, 2L)), "append", logged = true)
    // the logged overwrite retires both files; their bytes stay for time
    // travel until expiry reclaims them
    write(dir, Seq((3L, 1L)), "overwrite", logged = true)
    assert(new File(dir, "k=2").listFiles().exists(_.getName.endsWith(".parquet")))
    val fresh = plant(dir)
    PjVacuum.expireVersions(spark, dir, keepVersions = 1)
    assert(fresh.isDirectory, "a concurrent writer's fresh directory must survive")
    assert(!new File(dir, "k=2").exists(), "the emptied partition must go")
    assert(spark.read.format("pjparquet").load(dir).as[(Long, Long)].collect().toSeq ==
      Seq((3L, 1L)))
  }
}
