package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.pjparquet.PjCommitLog

/** Delta-parity maintenance SQL statements (`OPTIMIZE`, `VACUUM`) via the
  * parser extension — sugar over the CALL procedures; ordinary SQL (and
  * malformed claims) must keep Spark's own parsing untouched.
  */
class PjSqlMaintenanceSpec extends AnyFunSuite {

  private lazy val extSpark: SparkSession =
    graft.GraftSession.withPjExtensions(SparkTestSession.spark)

  private def freshLogged(tag: String, nFiles: Int): String = {
    import extSpark.implicits._
    val d = java.nio.file.Files.createTempDirectory(tag).toString
    for (i <- 0 until nFiles)
      Seq((i.toLong, i.toLong * 2)).toDF("id", "v").coalesce(1)
        .write.format("pjparquet").mode("append")
        .option("log.enabled", "true").save(d)
    d
  }

  test("OPTIMIZE compacts; report row surfaces the consumption") {
    val t = freshLogged("pj_sqlopt", 4)
    val r = extSpark.sql(s"OPTIMIZE '$t'").collect().head
    assert(r.getLong(0) == 4L, s"files_before: $r")
    assert(r.getLong(2) == 1L, s"files_written: $r")
    assert(extSpark.read.format("pjparquet").load(t).count() == 4L)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(extSpark.sessionState.newHadoopConf())
    assert(PjCommitLog.latest(fs, new org.apache.hadoop.fs.Path(t)).get.files.size == 1)
  }

  test("OPTIMIZE ... ZORDER BY clusters and records provenance; FULL re-rewrites") {
    val t = freshLogged("pj_sqlzorder", 3)
    extSpark.sql(s"OPTIMIZE '$t' ZORDER BY (id, v)").collect()
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(extSpark.sessionState.newHadoopConf())
    val head = PjCommitLog.latest(fs, new org.apache.hadoop.fs.Path(t)).get
    assert(head.entries.forall(_.clusteredBy.exists(_.startsWith("zorder:"))),
      s"provenance: ${head.entries.map(_.clusteredBy)}")
    // same-spec rerun skips (0 rewritten); FULL forces the re-rewrite
    val rerun = extSpark.sql(s"OPTIMIZE '$t' ZORDER BY (id, v)").collect().head
    assert(rerun.getLong(1) == 0L, s"same-spec rerun must skip: $rerun")
    val full = extSpark.sql(s"OPTIMIZE '$t' ZORDER BY (id, v) FULL").collect().head
    assert(full.getLong(1) >= 1L, s"FULL must re-rewrite: $full")
    assert(extSpark.read.format("pjparquet").load(t).count() == 3L)
  }

  test("VACUUM RETAIN 0 HOURS: dry run reports, wet run reclaims; orphan sweep runs") {
    val t = freshLogged("pj_sqlvac", 3)
    extSpark.sql(s"OPTIMIZE '$t'").collect() // retire the 3 small files
    val dry = extSpark.sql(s"VACUUM '$t' RETAIN 0 HOURS DRY RUN").collect().head
    assert(dry.getBoolean(3), s"$dry")
    assert(dry.getLong(2) == 3L, s"3 retired files to reclaim: $dry")
    val wet = extSpark.sql(s"VACUUM '$t' RETAIN 0 HOURS").collect().head
    assert(!wet.getBoolean(3) && wet.getLong(2) == 3L, s"$wet")
    assert(extSpark.read.format("pjparquet").load(t).count() == 3L,
      "live data survives the vacuum")
    // RETAIN omitted without a recorded retention property refuses loudly
    val e = intercept[Exception](extSpark.sql(s"VACUUM '$t'").collect())
    assert(e.getMessage.contains("RETAIN"), e.getMessage)
  }

  test("DESCRIBE HISTORY lists commits newest-first; other DESCRIBE forms stay Spark's") {
    val t = freshLogged("pj_sqlhist", 2)
    val rows = extSpark.sql(s"DESCRIBE HISTORY '$t'").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 1L), "newest first")
    assert(rows.forall(_.getString(2) == "append"))
    // plain DESCRIBE still parses through Spark (on a temp view)
    import extSpark.implicits._
    Seq((1, 2)).toDF("a", "b").createOrReplaceTempView("pj_sqlhist_v")
    assert(extSpark.sql("DESCRIBE pj_sqlhist_v").collect().nonEmpty)
    val e = intercept[Exception] {
      extSpark.sql(s"DESCRIBE HISTORY '${t}_nope'").collect()
    }
    assert(e.getMessage.contains("commit log") || e.getMessage.contains("History"),
      e.getMessage)
    // a table literally named `history` keeps Spark's column-describe
    // syntax: DESCRIBE history c — the claim needs a PATH-shaped operand
    Seq((1, "x")).toDF("c", "d").createOrReplaceTempView("history")
    val cd = extSpark.sql("DESCRIBE history c").collect()
    assert(cd.exists(_.toString.contains("c")), cd.mkString(";"))
    assert(extSpark.sql("DESCRIBE history").collect()
      .exists(_.getString(0) == "d"))
  }

  test("DESCRIBE HISTORY: a checkpoint-only version lists a null operation") {
    val t = freshLogged("pj_sqlhistckpt", 2) // v1, v2
    val root = new org.apache.hadoop.fs.Path(t)
    val fs = root.getFileSystem(extSpark.sessionState.newHadoopConf())
    // force a checkpoint and drop the commit files: v2 survives only as
    // its checkpoint, so its operation is unknowable
    PjCommitLog.writeCheckpoint(fs, root, 2L, entryFormat = Some(true))
    for (v <- 1L to 2L)
      fs.delete(new org.apache.hadoop.fs.Path(PjCommitLog.logDir(root), f"$v%020d.json"), false)
    PjCommitLog.clearSnapshotCache()
    import extSpark.implicits._
    Seq((9L, 18L)).toDF("id", "v").coalesce(1)
      .write.format("pjparquet").mode("append").save(t) // v3
    extSpark.sql(s"RESTORE TABLE '$t' TO VERSION AS OF 2").collect() // v4
    val rows = extSpark.sql(s"DESCRIBE HISTORY '$t'").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(4L, 3L, 2L), rows.mkString(";"))
    val ops = rows.map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(ops(4L).contains("RESTORE VERSION AS OF 2"), s"$ops")
    assert(ops(2L).isEmpty, s"$ops")
  }

  test("DESCRIBE DETAIL and GENERATE symlink_format_manifest as SQL") {
    val t = freshLogged("pj_sqldetail", 3)
    val d = extSpark.sql(s"DESCRIBE DETAIL '$t'").collect().head
    assert(d.getLong(0) == 3L, s"version: $d") // three appends
    assert(d.getLong(2) == 3L, s"n_files: $d")
    assert(d.getLong(4) == 3L && d.getLong(5) == 3L, s"rows: $d")
    // column-describe on a table named `detail` stays Spark's
    import extSpark.implicits._
    Seq((1, 2)).toDF("c", "d2").createOrReplaceTempView("detail")
    assert(extSpark.sql("DESCRIBE detail").collect().exists(_.getString(0) == "d2"))
    val g = extSpark.sql(
      s"GENERATE symlink_format_manifest FOR TABLE '$t'").collect().head
    assert(g.getLong(0) == 3L && g.getLong(1) == 3L && g.getLong(2) >= 1L, g.toString)
    assert(new java.io.File(s"$t/_symlink_format_manifest").exists())
    // malformed GENERATE falls through to Spark's parse error
    val e = intercept[Exception](extSpark.sql("GENERATE something FOR TABLE x"))
    assert(e.getMessage.toLowerCase.contains("syntax") ||
      e.getMessage.contains("PARSE"), e.getMessage)
  }

  test("COPY INTO as SQL: idempotent ingest, PATTERN filter, same report as CALL") {
    import extSpark.implicits._
    val t = freshLogged("pj_sqlcopy", 1)
    val src = java.nio.file.Files.createTempDirectory("pj_sqlcopy_src").toString
    Seq((100L, 1L), (101L, 2L)).toDF("id", "v").coalesce(1).write.mode("append").parquet(src)
    val r = extSpark.sql(s"COPY INTO '$t' FROM '$src' FILEFORMAT = PARQUET").collect().head
    assert(r.getLong(0) == 1L && r.getLong(3) == 2L, s"first ingest: $r")
    // re-run: exactly-once — zero files, zero rows
    val again = extSpark.sql(s"COPY INTO '$t' FROM '$src'").collect().head
    assert(again.getLong(0) == 0L && again.getLong(1) == 1L, s"replay: $again")
    assert(extSpark.read.format("pjparquet").load(t).count() == 3L)
    // PATTERN excludes everything -> nothing ingested
    val none = extSpark.sql(
      s"COPY INTO '$t' FROM '$src' PATTERN = 'nope/*.parquet'").collect().head
    assert(none.getLong(0) == 0L, s"pattern-filtered: $none")
  }

  test("RESTORE TABLE ... TO VERSION AS OF as SQL: one metadata commit back in time") {
    val t = freshLogged("pj_sqlrestore", 3) // v1..v3, one row each
    val r = extSpark.sql(s"RESTORE TABLE '$t' TO VERSION AS OF 1").collect().head
    assert(r.getLong(0) == 1L, s"restored_to: $r")
    assert(!r.isNullAt(1) && r.getLong(1) == 4L, s"committed_version: $r")
    assert(extSpark.read.format("pjparquet").load(t).count() == 1L)
    // timestamp form parses and runs through the same lane (resolve the
    // newest in-commit timestamp -> restores to head state, a no-op)
    val ts = extSpark.sql(s"DESCRIBE HISTORY '$t'").collect().head.getTimestamp(1)
    val r2 = extSpark.sql(s"RESTORE '$t' TO TIMESTAMP AS OF '$ts'").collect().head
    assert(r2.getLong(0) >= 1L, r2.toString)
  }

  test("ordinary SQL and malformed claims keep Spark's own parser behavior") {
    import extSpark.implicits._
    // a normal query is untouched
    assert(extSpark.sql("SELECT 1 + 1 AS x").head().getInt(0) == 2)
    // an identifier merely STARTING with the keyword is not claimed
    Seq((1L, 2L)).toDF("optimize", "vacuum").createOrReplaceTempView("kwcols")
    assert(extSpark.sql("SELECT optimize, vacuum FROM kwcols").head().getLong(0) == 1L)
    // a malformed claim falls through to Spark's standard parse error
    val e = intercept[Exception](extSpark.sql("OPTIMIZE"))
    assert(e.getMessage.toLowerCase.contains("syntax") ||
      e.getMessage.contains("PARSE"), e.getMessage)
    val e2 = intercept[Exception](extSpark.sql("COPY INTO '/tmp/x'")) // no FROM
    assert(e2.getMessage.toLowerCase.contains("syntax") ||
      e2.getMessage.contains("PARSE"), e2.getMessage)
    val e3 = intercept[Exception](extSpark.sql("RESTORE TABLE '/tmp/x'")) // no target
    assert(e3.getMessage.toLowerCase.contains("syntax") ||
      e3.getMessage.contains("PARSE"), e3.getMessage)
  }
}
