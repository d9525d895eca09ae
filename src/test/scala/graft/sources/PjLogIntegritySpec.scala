package graft.sources

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.core.PJException
import graft.sources.pjparquet.{PjCommitLog, PjParquetTable}

/** Log corruption detection: every commit/checkpoint body is sealed —
  * `"sealed":true` in the body plus a trailing `{"crc32c":…,"len":…}`
  * line over the body bytes. Replay and history validate, so a
  * bit-rotted, truncated or hand-edited commit file fails LOUDLY with the
  * version named instead of silently misreading. A file without a seal
  * line is corruption.
  */
class PjLogIntegritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"pj_seal_$tag").toString

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def writeLogged(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
    df.write.format("pjparquet").mode("append").option("log.enabled", "true").save(dir)

  private def logFile(dir: String, v: Long, checkpoint: Boolean = false): java.io.File =
    new java.io.File(dir,
      f"_pj_log/$v%020d${if (checkpoint) ".checkpoint" else ""}.json")

  private def rewrite(f: java.io.File, bytes: Array[Byte]): Unit = {
    java.nio.file.Files.write(f.toPath, bytes)
    PjCommitLog.clearSnapshotCache()
    PjParquetTable.clearLayoutCache()
  }

  private def coldRead(dir: String): Long = {
    PjCommitLog.clearSnapshotCache()
    PjParquetTable.clearLayoutCache()
    spark.read.format("pjparquet").load(dir).count()
  }

  test("a bit-flipped commit file fails replay AND history, naming the version") {
    val dir = tempDir("flip")
    writeLogged(spark.range(0, 10).toDF("id").coalesce(1), dir) // v1
    writeLogged(spark.range(10, 20).toDF("id").coalesce(1), dir) // v2
    assert(coldRead(dir) == 20L)
    val f = logFile(dir, 2L)
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val mid = bytes.length / 3
    bytes(mid) = (bytes(mid) ^ 0x40).toByte // flip one bit mid-body
    rewrite(f, bytes)
    val e = intercept[PJException](coldRead(dir))
    assert(e.getMessage.contains("corrupt commit-log entry"), e.getMessage)
    assert(e.getMessage.contains("CRC32C mismatch"), e.getMessage)
    assert(e.getMessage.contains("version 2"), e.getMessage)
    val eh = intercept[PJException](
      PjCommitLog.history(fsOf(dir), new Path(dir)))
    assert(eh.getMessage.contains("corrupt commit-log entry"), eh.getMessage)
  }

  test("truncation that drops exactly the seal line is still detected") {
    val dir = tempDir("dropseal")
    writeLogged(spark.range(0, 5).toDF("id").coalesce(1), dir) // v1
    val f = logFile(dir, 1L)
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val bodyEnd = text.lastIndexOf('\n') // the seal's separating newline
    assert(bodyEnd > 0 && text.substring(bodyEnd + 1).startsWith("{\"crc32c\":"),
      s"expected a sealed file, got:\n$text")
    rewrite(f, text.substring(0, bodyEnd).getBytes("UTF-8")) // valid JSON, no seal
    val e = intercept[PJException](coldRead(dir))
    assert(e.getMessage.contains("seal line is missing"), e.getMessage)
    assert(e.getMessage.contains("truncated"), e.getMessage)
  }

  test("truncation inside the body fails loudly") {
    val dir = tempDir("midtrunc")
    writeLogged(spark.range(0, 5).toDF("id").coalesce(1), dir) // v1
    val f = logFile(dir, 1L)
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    rewrite(f, java.util.Arrays.copyOfRange(bytes, 0, (bytes.length * 3) / 5))
    val e = intercept[PJException](coldRead(dir))
    assert(e.getMessage.contains("corrupt commit-log entry"), e.getMessage)
    // the failing version is named via its log file path
    assert(e.getMessage.contains("00000000000000000001.json"), e.getMessage)
  }

  test("a corrupted checkpoint fails loudly too (both corruption classes)") {
    val dir = tempDir("ckpt")
    writeLogged(spark.range(0, 10).toDF("id").coalesce(1), dir) // v1
    PjCommitLog.writeCheckpoint(fsOf(dir), new Path(dir), 1L,
      entryFormat = Some(false)) // inline-JSON checkpoint, sealed
    // make the checkpoint the only replay source for v1
    val cf = logFile(dir, 1L, checkpoint = true)
    assert(cf.exists, "checkpoint must exist")
    assert(logFile(dir, 1L).delete(), "retire the delta so replay uses the checkpoint")
    PjCommitLog.clearSnapshotCache(); PjParquetTable.clearLayoutCache()
    assert(coldRead(dir) == 10L, "checkpoint-only replay must work before corruption")
    val bytes = java.nio.file.Files.readAllBytes(cf.toPath)
    val mid = bytes.length / 2
    bytes(mid) = (bytes(mid) ^ 0x10).toByte
    rewrite(cf, bytes)
    val e = intercept[PJException](coldRead(dir))
    assert(e.getMessage.contains("corrupt commit-log entry"), e.getMessage)
    // and the drop-the-seal truncation class
    val text = new String(java.nio.file.Files.readAllBytes(cf.toPath), "UTF-8")
    // restore valid content first
    bytes(mid) = (bytes(mid) ^ 0x10).toByte
    rewrite(cf, bytes)
    assert(coldRead(dir) == 10L)
    val fixed = new String(bytes, "UTF-8")
    val bodyEnd = fixed.lastIndexOf('\n')
    rewrite(cf, fixed.substring(0, bodyEnd).getBytes("UTF-8"))
    val e2 = intercept[PJException](coldRead(dir))
    assert(e2.getMessage.contains("seal line is missing"), e2.getMessage)
  }

  test("CALL pj.system.verify_log reports per-file status without throwing") {
    val dir = tempDir("audit")
    writeLogged(spark.range(0, 5).toDF("id").coalesce(1), dir) // v1
    writeLogged(spark.range(5, 9).toDF("id").coalesce(1), dir) // v2
    spark.conf.set("spark.sql.catalog.pjseal", "graft.sources.pjparquet.PjCatalog")
    val healthy = spark.sql(s"CALL pjseal.system.verify_log('$dir')").collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getString(3)))
    assert(healthy.length == 2 && healthy.forall { case (_, s, st) => s && st == "ok" },
      s"got: ${healthy.toSeq}")
    // corrupt v1, leave v2 intact: the audit names the damage, keeps going
    val f = logFile(dir, 1L)
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    bytes(bytes.length / 3) = (bytes(bytes.length / 3) ^ 0x20).toByte
    rewrite(f, bytes)
    val audited = spark.sql(s"CALL pjseal.system.verify_log('$dir')").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(audited(1L).contains("corrupt commit-log entry"), s"got: $audited")
    assert(audited(2L) == "ok", s"got: $audited")
  }

  test("an unsealed commit file reads as corruption") {
    val dir = tempDir("unsealed")
    writeLogged(spark.range(0, 4).toDF("id").coalesce(1), dir) // v1, sealed
    // plant a v2 body that parses as JSON but carries no seal line
    val fs = fsOf(dir)
    val snap = PjCommitLog.latest(fs, new Path(dir)).get
    val body = s"""{"version":2,"ts":${snap.ts + 10},"action":"append","nFiles":1,""" +
      """"add":[],"remove":[]}""" + "\n"
    val p = new Path(new Path(dir, "_pj_log"), f"${2L}%020d.json")
    val out = fs.create(p, false)
    out.write(body.getBytes("UTF-8")); out.close()
    val e = intercept[PJException](coldRead(dir))
    assert(e.getMessage.contains("00000000000000000002.json"), e.getMessage)
    assert(e.getMessage.contains("seal line is missing"), e.getMessage)
    val eh = intercept[PJException](PjCommitLog.history(fs, new Path(dir)))
    assert(eh.getMessage.contains("corrupt commit-log entry"), eh.getMessage)
    spark.conf.set("spark.sql.catalog.pjseal", "graft.sources.pjparquet.PjCatalog")
    val audited = spark.sql(s"CALL pjseal.system.verify_log('$dir')").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(audited(1L) == "ok", s"got: $audited")
    assert(audited(2L).contains("corrupt commit-log entry") &&
      audited(2L).contains("seal line is missing"), s"got: $audited")
  }
}
