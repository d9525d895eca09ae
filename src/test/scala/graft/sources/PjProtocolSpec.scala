package graft.sources

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.pjparquet.{PjCommitLog, PjProtocol}

/** Round-13 feature-flag guard: the commit log records required table
  * features ([[PjProtocol]]) and unknown required features fail reads
  * AND writes loudly instead of silently misreading (e.g. a pre-DV
  * build resurrecting deleted rows).
  */
class PjProtocolSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"pj_protocol_$tag").toString

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def writeLogged(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
    df.write.format("pjparquet").mode("append").option("log.enabled", "true").save(dir)

  /** Hand-edit the log: claim the next version with a commit that
    * requires the given protocol — simulating a FUTURE build's table,
    * sealed as every build seals its log files (CRC32C + length line).
    */
  private def commitFutureProtocol(dir: String, reader: Seq[String], writer: Seq[String]): Long = {
    val fs = fsOf(dir)
    val root = new Path(dir)
    val v = PjCommitLog.versions(fs, root).last + 1
    def arr(s: Seq[String]) = s.map("\\\"" + _ + "\\\"").mkString("[", ",", "]")
    val protocol = s"""{\\"readerFeatures\\":${arr(reader)},\\"writerFeatures\\":${arr(writer)}}"""
    val body =
      s"""{"version":$v,"ts":${System.currentTimeMillis()},"action":"upgrade",""" +
        s""""nFiles":1,"protocol":"$protocol","add":[],"remove":[]}"""
    val bytes = body.getBytes("UTF-8")
    val crc = new java.util.zip.CRC32C()
    crc.update(bytes)
    val p = new Path(new Path(root, "_pj_log"), f"$v%020d.json")
    val out = fs.create(p, false)
    out.write(bytes)
    out.write(s"""\n{"crc32c":${crc.getValue},"len":${bytes.length}}""".getBytes("UTF-8"))
    out.close()
    PjCommitLog.clearSnapshotCache()
    v
  }

  test("a fresh plain table records no protocol; a DV delete upgrades it to require dv") {
    import spark.implicits._
    val dir = tempDir("dv")
    writeLogged(spark.range(0, 50).select($"id", ($"id" % 5).as("k")).coalesce(1), dir)
    val fs = fsOf(dir)
    assert(PjCommitLog.latest(fs, new Path(dir)).get.protocolJson.isEmpty,
      "a table using no features must not require any")
    spark.sql("DROP TABLE IF EXISTS pj_protocol_dv")
    spark.sql(s"CREATE TABLE pj_protocol_dv USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_protocol_dv WHERE id < 10")
    val p = PjProtocol.parse(PjCommitLog.latest(fs, new Path(dir)).get.protocolJson)
    assert(p.reader.contains("dv") && p.writer.contains("dv"),
      s"the first DV commit must record the dv feature, got $p")
    // and this build supports it: reads/writes keep working
    assert(spark.read.format("pjparquet").load(dir).count() == 40L)
    spark.sql("DROP TABLE IF EXISTS pj_protocol_dv")
  }

  test("unknown REQUIRED READER feature fails reads and writes loudly; history survives") {
    import spark.implicits._
    val dir = tempDir("futureread")
    writeLogged(spark.range(0, 10).toDF("id").coalesce(1), dir)
    commitFutureProtocol(dir, reader = Seq("v9-temporal-index"), writer = Seq("v9-temporal-index"))
    val fs = fsOf(dir)
    // read fails with an upgrade message
    val readErr = intercept[Exception] {
      spark.read.format("pjparquet").load(dir).count()
    }
    assert(readErr.getMessage.contains("v9-temporal-index") &&
      readErr.getMessage.contains("reader table feature"),
      s"unexpected: ${readErr.getMessage}")
    // write fails too (cannot even read the predecessor state)
    val writeErr = intercept[Exception] {
      writeLogged(spark.range(10, 20).toDF("id").coalesce(1), dir)
    }
    assert(writeErr.getMessage.contains("v9-temporal-index"))
    // header-only surfaces keep working (Delta parity): history needs no replay
    val hist = PjCommitLog.history(fs, new Path(dir))
    assert(hist.size == 2 && hist.last.action == "upgrade")
  }

  test("unknown WRITER-ONLY feature keeps reads working but refuses writes") {
    import spark.implicits._
    val dir = tempDir("futurewrite")
    writeLogged(spark.range(0, 10).toDF("id").coalesce(1), dir)
    commitFutureProtocol(dir, reader = Nil, writer = Seq("auto-compaction-v7"))
    // reads fine: the feature only constrains writers
    assert(spark.read.format("pjparquet").load(dir).count() == 10L)
    val writeErr = intercept[Exception] {
      writeLogged(spark.range(10, 20).toDF("id").coalesce(1), dir)
    }
    assert(writeErr.getMessage.contains("auto-compaction-v7") &&
      writeErr.getMessage.contains("does not support writing"),
      s"unexpected: ${writeErr.getMessage}")
  }

  test("protocol survives checkpoints (both formats) and version expiry") {
    import spark.implicits._
    val dir = tempDir("ckpt")
    writeLogged(spark.range(0, 30).select($"id", ($"id" % 3).as("k")).coalesce(1), dir)
    spark.sql("DROP TABLE IF EXISTS pj_protocol_ck")
    spark.sql(s"CREATE TABLE pj_protocol_ck USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_protocol_ck WHERE id = 0") // v2: dv => protocol
    val fs = fsOf(dir)
    val root = new Path(dir)
    // force both checkpoint formats at the head version
    val head = PjCommitLog.versions(fs, root).last
    PjCommitLog.writeCheckpoint(fs, root, head, entryFormat = Some(false))
    PjCommitLog.clearSnapshotCache()
    val viaJson = PjCommitLog.read(fs, root, head)
    assert(PjProtocol.parse(viaJson.protocolJson).reader.contains("dv"),
      "inline-JSON checkpoint must carry the protocol")
    // expire everything below head: the checkpoint is now the only base
    graft.sources.pjparquet.PjVacuum.expireVersions(spark, dir, keepVersions = 1)
    PjCommitLog.clearSnapshotCache()
    val afterExpiry = PjCommitLog.latest(fs, root).get
    assert(PjProtocol.parse(afterExpiry.protocolJson).reader.contains("dv"),
      "post-expiry checkpoint-only replay must keep the protocol")
    spark.sql("DROP TABLE IF EXISTS pj_protocol_ck")
  }

  test("RESTORE to a pre-feature version never downgrades the protocol") {
    import spark.implicits._
    val dir = tempDir("restore")
    writeLogged(spark.range(0, 20).select($"id", ($"id" % 2).as("k")).coalesce(1), dir) // v1
    spark.sql("DROP TABLE IF EXISTS pj_protocol_rs")
    spark.sql(s"CREATE TABLE pj_protocol_rs USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_protocol_rs WHERE id < 5") // v2: dv => protocol upgrade
    val fs = fsOf(dir)
    val root = new Path(dir)
    assert(PjProtocol.parse(PjCommitLog.latest(fs, root).get.protocolJson).reader.contains("dv"))
    graft.sources.pjparquet.PjRestore.restore(spark, dir, 1L)
    PjCommitLog.clearSnapshotCache()
    val afterRestore = PjCommitLog.latest(fs, root).get
    assert(PjProtocol.parse(afterRestore.protocolJson).reader.contains("dv"),
      "restore rolled data back but must keep the feature protection")
    // rows really are the v1 state
    assert(spark.read.format("pjparquet").load(dir).count() == 20L)
    spark.sql("DROP TABLE IF EXISTS pj_protocol_rs")
  }

  test("pj.rowTracking.required records the rowTracking writer feature") {
    import spark.implicits._
    val dir = tempDir("rowtrack")
    writeLogged(spark.range(0, 10).toDF("id").coalesce(1), dir)
    spark.sql(s"ALTER TABLE pjcat_protocol.`$dir` SET TBLPROPERTIES " +
      "('pj.rowTracking.required' = 'true')")
    val fs = fsOf(dir)
    val p = PjProtocol.parse(PjCommitLog.latest(fs, new Path(dir)).get.protocolJson)
    assert(p.writer.contains("rowTracking") && !p.reader.contains("rowTracking"),
      s"declaring id stability must record the WRITER feature only, got $p")
    // this build supports it: writes keep working, and ids stay stable
    writeLogged(spark.range(10, 15).toDF("id").coalesce(1), dir)
    assert(spark.read.format("pjparquet").load(dir)
      .selectExpr("_row_id").distinct().count() == 15L)
  }

  test("detail exposes the protocol; a later append keeps it") {
    import spark.implicits._
    val dir = tempDir("detail")
    writeLogged(spark.range(0, 12).select($"id", ($"id" % 4).as("k")).coalesce(1), dir)
    spark.sql("DROP TABLE IF EXISTS pj_protocol_dt")
    spark.sql(s"CREATE TABLE pj_protocol_dt USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_protocol_dt WHERE id = 1")
    val d = spark.sql(s"CALL pjcat_protocol.system.detail('$dir')").collect().head
    val protoCol = d.getString(d.length - 1)
    assert(protoCol != null && protoCol.contains("dv"),
      s"detail must expose the protocol, got $protoCol")
    // a commit that records no protocol of its own leaves the lane intact
    writeLogged(spark.range(100, 102).select($"id", ($"id" % 4).as("k")).coalesce(1), dir)
    val fs = fsOf(dir)
    val head = PjCommitLog.latest(fs, new Path(dir)).get
    assert(PjProtocol.parse(head.protocolJson).reader.contains("dv"),
      s"a later append must not erase the protocol lane, got ${head.protocolJson}")
    spark.sql("DROP TABLE IF EXISTS pj_protocol_dt")
  }

  override def withFixture(test: NoArgTest) = {
    spark.conf.set("spark.sql.catalog.pjcat_protocol", "graft.sources.pjparquet.PjCatalog")
    super.withFixture(test)
  }
  test("DROP FEATURE: refuse with live vectors; purge then drop; old readers regain access") {
    import spark.implicits._
    val dir = tempDir("dropf")
    writeLogged(spark.range(0, 60).select($"id", ($"id" % 6).as("k")).coalesce(1), dir)
    spark.conf.set("spark.sql.catalog.pjproto", "graft.sources.pjparquet.PjCatalog")
    spark.sql(s"DELETE FROM pjproto.`$dir` WHERE id < 10")
    val fs = fsOf(dir)
    val root = new Path(dir)
    assert(PjProtocol.parse(
      PjCommitLog.latest(fs, root).get.protocolJson).reader.contains("dv"))
    // live vectors: the drop must refuse loudly with the remedy
    val e = intercept[Exception] {
      spark.sql(s"CALL pjproto.system.drop_feature(table => '$dir', feature => 'dv')")
        .collect()
    }
    assert(e.getMessage.contains("purge_deletion_vectors"), e.getMessage)
    // purge rewrites the vector-carriers, then the drop succeeds
    spark.sql(s"CALL pjproto.system.purge_deletion_vectors(table => '$dir')").collect()
    assert(PjCommitLog.latest(fs, root).get.entries.forall(_.dv.isEmpty))
    val row = spark.sql(
      s"CALL pjproto.system.drop_feature(table => '$dir', feature => 'dv')").head()
    assert(row.getString(0) == "dv")
    // the recorded protocol no longer names dv — exactly the input
    // checkRead evaluates, so a build without dv support reads again
    val after = PjProtocol.parse(PjCommitLog.latest(fs, root).get.protocolJson)
    assert(!after.reader.contains("dv") && !after.writer.contains("dv"), s"$after")
    assert(spark.read.format("pjparquet").load(dir).count() == 50L)
    // the DV-era snapshot keeps its own protocol: time travel into the
    // past still carries the protection
    val dvVersion = row.getLong(1) - 2 // before purge + drop
    val past = PjCommitLog.read(fs, root, dvVersion)
    assert(PjProtocol.parse(past.protocolJson).reader.contains("dv"),
      "historical snapshots keep their recorded protocol")
    // dropping a feature the table never required refuses
    val e2 = intercept[Exception] {
      spark.sql(s"CALL pjproto.system.drop_feature(table => '$dir', feature => 'identity')")
        .collect()
    }
    assert(e2.getMessage.contains("does not require"), e2.getMessage)
  }

  test("DROP FEATURE cdf: refused while pj.changeFeed.enabled, allowed after unset") {
    import spark.implicits._
    val dir = tempDir("dropcdf")
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir))
    spark.conf.set("spark.sql.catalog.pjproto", "graft.sources.pjparquet.PjCatalog")
    spark.sql(s"CREATE TABLE pjproto.`$dir` (id BIGINT, k BIGINT) USING pjparquet " +
      "TBLPROPERTIES ('pj.changeFeed.enabled'='true')")
    spark.range(0, 10).select($"id", ($"id" % 2).as("k")).writeTo(s"pjproto.`$dir`").append()
    val fs = fsOf(dir)
    assert(PjProtocol.parse(
      PjCommitLog.latest(fs, new Path(dir)).get.protocolJson).writer.contains("cdf"))
    val e = intercept[Exception] {
      spark.sql(s"CALL pjproto.system.drop_feature(table => '$dir', feature => 'cdf')")
        .collect()
    }
    assert(e.getMessage.contains("changeFeed"), e.getMessage)
    spark.sql(s"ALTER TABLE pjproto.`$dir` UNSET TBLPROPERTIES ('pj.changeFeed.enabled')")
    spark.sql(s"CALL pjproto.system.drop_feature(table => '$dir', feature => 'cdf')").collect()
    val after = PjProtocol.parse(PjCommitLog.latest(fs, new Path(dir)).get.protocolJson)
    assert(!after.writer.contains("cdf"), s"$after")
    // writes keep working after the downgrade
    spark.range(10, 15).select($"id", ($"id" % 2).as("k")).writeTo(s"pjproto.`$dir`").append()
    assert(spark.table(s"pjproto.`$dir`").count() == 15L)
  }
}
