package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.sources.pjparquet.{PjCommitLog, PjVacuum}

/** Commit-log snapshots + time travel ([[graft.sources.pjparquet.PjCommitLog]]):
  * every logged commit appends a full live-file snapshot, reads plan
  * exactly the chosen snapshot's files, overwrites RETIRE files instead of
  * deleting them, and [[PjVacuum.expireVersions]] is the only thing that
  * reclaims a logged table's bytes.
  */
class PjTimeTravelSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def write(df: org.apache.spark.sql.DataFrame, dir: String,
      mode: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.format("pjparquet").mode(mode).option("log.enabled", "true")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).save(dir)
  }

  private def readVersion(dir: String, v: Long): org.apache.spark.sql.DataFrame =
    spark.read.format("pjparquet").option("versionAsOf", v.toString).load(dir)

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("append -> overwrite -> append: every version stays readable with exact contents") {
    import spark.implicits._
    val dir = tempDir("pj_tt_basic")
    write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir, "append")      // v1
    write(Seq((10L, "x"), (11L, "y")).toDF("id", "name"), dir, "overwrite") // v2 (truncate)
    write(Seq((12L, "z")).toDF("id", "name"), dir, "append")                // v3

    val fs = fsOf(dir)
    assert(PjCommitLog.versions(fs, new Path(dir)) == Seq(1L, 2L, 3L))
    // HEAD = v3
    assert(ids(spark.read.format("pjparquet").load(dir)) == Set(10L, 11L, 12L))
    assert(ids(readVersion(dir, 1)) == Set(1L, 2L))
    assert(ids(readVersion(dir, 2)) == Set(10L, 11L))
    assert(ids(readVersion(dir, 3)) == Set(10L, 11L, 12L))
    // the overwrite retired v1's files but did NOT delete them
    val v1Files = PjCommitLog.read(fs, new Path(dir), 1L).files
    assert(v1Files.nonEmpty &&
      v1Files.forall(rel => fs.exists(new Path(dir, rel))),
      "retired files must stay on disk for time travel")
    // a missing version fails with the available range
    val e = intercept[graft.core.PJException](readVersion(dir, 9).collect())
    assert(e.getMessage.contains("version 9") && e.getMessage.contains("1..3"))
  }

  test("dynamic partition overwrite retires only the touched partition's files") {
    import spark.implicits._
    val dir = tempDir("pj_tt_dyn")
    write(Seq((1L, 0L), (2L, 1L)).toDF("id", "k"), dir, "append", Seq("k"))   // v1
    spark.sql("DROP TABLE IF EXISTS pj_tt_dyn")
    spark.sql(s"CREATE TABLE pj_tt_dyn USING pjparquet OPTIONS (path '$dir')")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq((20L, 1L)).toDF("id", "k").createOrReplaceTempView("pj_tt_dyn_src")
      spark.sql("INSERT OVERWRITE pj_tt_dyn SELECT id, k FROM pj_tt_dyn_src") // v2
    } finally {
      spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      spark.sql("DROP TABLE IF EXISTS pj_tt_dyn")
    }
    assert(ids(spark.read.format("pjparquet").load(dir)) == Set(1L, 20L))
    assert(ids(readVersion(dir, 1)) == Set(1L, 2L))
    // partition k=0 files are SHARED between v1 and v2 (not rewritten)
    val fs = fsOf(dir)
    val v1 = PjCommitLog.read(fs, new Path(dir), 1L).files.toSet
    val v2 = PjCommitLog.read(fs, new Path(dir), 2L).files.toSet
    assert((v1 & v2).nonEmpty && (v1 & v2).forall(_.startsWith("k=0/")))
  }

  test("logged metadata DELETE retires files without touching bytes; time travel sees them") {
    import spark.implicits._
    val dir = tempDir("pj_tt_del")
    write(Seq((1L, 0L), (2L, 1L), (3L, 1L)).toDF("id", "k"), dir, "append", Seq("k")) // v1
    spark.sql("DROP TABLE IF EXISTS pj_tt_del")
    spark.sql(s"CREATE TABLE pj_tt_del USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_tt_del WHERE k = 1")                                    // v2
    assert(ids(spark.read.format("pjparquet").load(dir)) == Set(1L))
    assert(ids(readVersion(dir, 1)) == Set(1L, 2L, 3L))
    val fs = fsOf(dir)
    assert(PjCommitLog.versions(fs, new Path(dir)) == Seq(1L, 2L))
    spark.sql("DROP TABLE IF EXISTS pj_tt_del")
  }

  test("expireVersions closes the travel window and reclaims exactly the unreferenced bytes") {
    import spark.implicits._
    val dir = tempDir("pj_tt_expire")
    write(Seq((1L, "a")).toDF("id", "name"), dir, "append")      // v1
    write(Seq((2L, "b")).toDF("id", "name"), dir, "overwrite")   // v2
    write(Seq((3L, "c")).toDF("id", "name"), dir, "append")      // v3
    val r = PjVacuum.expireVersions(spark, dir, keepVersions = 2)
    assert(r.versionsDropped == 1 && r.versionsKept == 2)
    assert(r.filesReclaimed >= 1, "v1's retired file must be reclaimed")
    // HEAD and v2 survive intact
    assert(ids(spark.read.format("pjparquet").load(dir)) == Set(2L, 3L))
    assert(ids(readVersion(dir, 2)) == Set(2L))
    // v1 is gone — either the log entry is dropped or its files are missing
    val e = intercept[graft.core.PJException](readVersion(dir, 1).collect())
    assert(e.getMessage.contains("version 1"))
  }

  test("snapshot isolation: files on disk but outside the snapshot are invisible") {
    import spark.implicits._
    val dir = tempDir("pj_tt_iso")
    write(Seq((1L, "a")).toDF("id", "name"), dir, "append") // v1
    // simulate a racing writer's uncommitted file: a valid parquet data
    // file dropped into the directory without a log commit
    val tmp = tempDir("pj_tt_ghost")
    Seq((99L, "ghost")).toDF("id", "name").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(dir, "part-uncommitted-ghost.parquet")
    java.nio.file.Files.copy(part.toPath, dest.toPath)
    // the logged read ignores it; an unlogged directory read would see it
    assert(ids(spark.read.format("pjparquet").load(dir)) == Set(1L))
  }

  test("unlogged tables are untouched: no _pj_log appears, overwrite still deletes") {
    import spark.implicits._
    val dir = tempDir("pj_tt_unlogged")
    Seq((1L, "a")).toDF("id", "name").write.format("pjparquet").mode("append").save(dir)
    Seq((2L, "b")).toDF("id", "name").write.format("pjparquet").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    assert(!PjCommitLog.isEnabled(fs, new Path(dir)))
    assert(ids(spark.read.format("pjparquet").load(dir)) == Set(2L))
    // versionAsOf on an unlogged table fails with a clear message
    val e = intercept[graft.core.PJException](readVersion(dir, 1).collect())
    assert(e.getMessage.contains("no commit log"))
  }

  test("timestampAsOf resolves to the latest commit at or before the instant; history reports all versions") {
    import spark.implicits._
    val dir = tempDir("pj_tt_ts")
    write(Seq((1L, "a")).toDF("id", "name"), dir, "append")      // v1
    write(Seq((2L, "b")).toDF("id", "name"), dir, "overwrite")   // v2
    val fs = fsOf(dir)
    val hist = PjCommitLog.history(fs, new Path(dir))
    assert(hist.map(_.version) == Seq(1L, 2L))
    assert(hist.map(_.action) == Seq("append", "truncate"))
    assert(hist.forall(_.ts > 0) && hist(0).ts <= hist(1).ts)
    // just before v2's commit instant -> v1 (commits are >1 ms apart: each
    // involves a full parquet write)
    val atV1 = spark.read.format("pjparquet")
      .option("timestampAsOf", (hist(1).ts - 1).toString).load(dir)
    assert(ids(atV1) == Set(1L))
    // far future -> HEAD
    val atHead = spark.read.format("pjparquet")
      .option("timestampAsOf", (hist(1).ts + 60000).toString).load(dir)
    assert(ids(atHead) == Set(2L))
    // before the first commit -> clear error
    val e = intercept[graft.core.PJException] {
      spark.read.format("pjparquet")
        .option("timestampAsOf", (hist(0).ts - 60000).toString).load(dir).collect()
    }
    assert(e.getMessage.contains("no commit at or before"))
    // both options together are refused
    val e2 = intercept[graft.core.PJException] {
      spark.read.format("pjparquet").option("versionAsOf", "1")
        .option("timestampAsOf", hist(0).ts.toString).load(dir).collect()
    }
    assert(e2.getMessage.contains("mutually exclusive"))
  }

  test("in-commit timestamps stay strictly monotone across a wall-clock step-back") {
    import spark.implicits._
    val dir = tempDir("pj_tt_clockback")
    write(Seq((1L, "a")).toDF("id", "name"), dir, "append")      // v1, real clock
    val fs = fsOf(dir)
    val v1ts = PjCommitLog.history(fs, new Path(dir)).head.ts
    // simulate an NTP step-back / slower writer host: the next commit's
    // wall clock reads BEHIND the predecessor's header timestamp
    val saved = PjCommitLog.nowMs
    try {
      PjCommitLog.nowMs = () => v1ts - 60000
      write(Seq((2L, "b")).toDF("id", "name"), dir, "append")    // v2, rewound clock
      write(Seq((3L, "c")).toDF("id", "name"), dir, "append")    // v3, rewound clock
    } finally PjCommitLog.nowMs = saved
    val hist = PjCommitLog.history(fs, new Path(dir))
    assert(hist.map(_.version) == Seq(1L, 2L, 3L))
    // the clamp: each header ts strictly after its predecessor, never rewound
    assert(hist.map(_.ts) == hist.map(_.ts).sorted && hist.map(_.ts).distinct == hist.map(_.ts),
      s"header timestamps must be strictly increasing: ${hist.map(_.ts)}")
    assert(hist(1).ts == v1ts + 1 && hist(2).ts == v1ts + 2,
      "rewound clock commits clamp to predecessor ts + 1")
    // TIMESTAMP AS OF still resolves correctly against the clamped lane
    val atV2 = spark.read.format("pjparquet")
      .option("timestampAsOf", hist(1).ts.toString).load(dir)
    assert(ids(atV2) == Set(1L, 2L))
    val atV1 = spark.read.format("pjparquet")
      .option("timestampAsOf", (hist(1).ts - 1).toString).load(dir)
    assert(ids(atV1) == Set(1L))
  }

  test("writes and DML against a versionAsOf snapshot are refused") {
    import spark.implicits._
    val dir = tempDir("pj_tt_romode")
    write(Seq((1L, "a")).toDF("id", "name"), dir, "append")
    write(Seq((2L, "b")).toDF("id", "name"), dir, "append")
    val e = intercept[Exception] {
      Seq((3L, "c")).toDF("id", "name").write.format("pjparquet")
        .mode("append").option("versionAsOf", "1").save(dir)
    }
    assert(e.getMessage.contains("read-only"))
  }

  test("logged static partition overwrite retires exactly the filtered partition") {
    import spark.implicits._
    val dir = tempDir("pj_tt_static")
    write(Seq((1L, 0L), (2L, 1L), (3L, 1L)).toDF("id", "k"), dir, "append", Seq("k")) // v1
    spark.sql("DROP TABLE IF EXISTS pj_tt_static")
    spark.sql(s"CREATE TABLE pj_tt_static USING pjparquet OPTIONS (path '$dir')")
    try {
      spark.sql("INSERT OVERWRITE pj_tt_static PARTITION (k = 1) VALUES (30)") // v2
      assert(ids(spark.read.format("pjparquet").load(dir)) == Set(1L, 30L))
      assert(ids(readVersion(dir, 1)) == Set(1L, 2L, 3L))
      val fs = fsOf(dir)
      val v2 = PjCommitLog.read(fs, new Path(dir), 2L)
      assert(v2.action == "overwrite-static")
      // k=0's file is shared; k=1's v1 files are retired but on disk
      val v1 = PjCommitLog.read(fs, new Path(dir), 1L)
      assert(v1.files.forall(rel => fs.exists(new Path(dir, rel))))
      assert((v1.files.toSet & v2.files.toSet).forall(_.startsWith("k=0/")))
    } finally spark.sql("DROP TABLE IF EXISTS pj_tt_static")
  }

  test("logged row-level UPDATE (merge-on-read) versions the delta; untouched files shared") {
    import spark.implicits._
    val dir = tempDir("pj_tt_dml")
    write(Seq((1L, 0L), (2L, 1L)).toDF("id", "k"), dir, "append", Seq("k")) // v1
    spark.sql("DROP TABLE IF EXISTS pj_tt_dml")
    spark.sql(s"CREATE TABLE pj_tt_dml USING pjparquet OPTIONS (path '$dir')")
    try {
      spark.sql("UPDATE pj_tt_dml SET id = id + 100 WHERE k = 1") // v2 (write-delta)
      assert(ids(spark.read.format("pjparquet").load(dir)) == Set(1L, 102L))
      assert(ids(readVersion(dir, 1)) == Set(1L, 2L))
      val fs = fsOf(dir)
      val v1 = PjCommitLog.read(fs, new Path(dir), 1L)
      val v2 = PjCommitLog.read(fs, new Path(dir), 2L)
      assert(v2.action == "write-delta")
      // the k=0 file was not touched and is SHARED; the single-row k=1
      // file had EVERY row updated, so it retires outright (a partially
      // hit file would gain a deletion vector instead) and the new row
      // appends
      assert((v1.files.toSet & v2.files.toSet).exists(_.startsWith("k=0/")))
      val v1k1 = v1.files.filter(_.startsWith("k=1/")).toSet
      assert(v1k1.nonEmpty && (v1k1 & v2.files.toSet).isEmpty,
        "a fully-updated file retires from the head")
      assert(v2.entries.forall(_.dv.isEmpty))
      assert(v1.files.forall(rel => fs.exists(new Path(dir, rel))))
    } finally spark.sql("DROP TABLE IF EXISTS pj_tt_dml")
  }

  test("logged compaction: merges only the LIVE snapshot, retired rows never come back") {
    import spark.implicits._
    val dir = tempDir("pj_tt_compact")
    // v1: two small files that will later be RETIRED by an overwrite
    write(Seq((1L, "dead")).toDF("id", "name").coalesce(1), dir, "append")
    write(Seq((2L, "dead2")).toDF("id", "name").coalesce(1), dir, "append") // v2
    // v3: truncate-overwrite with several small LIVE files
    val live = Seq((10L, "x"), (11L, "y"), (12L, "z"))
      .toDF("id", "name").repartition(3)
    write(live, dir, "overwrite")
    val r = graft.sources.pjparquet.PjCompaction.compact(
      spark, dir, targetBytes = 1L << 20, minFilesPerDir = 2) // v4
    assert(r.smallFiles >= 2, s"live small files must compact, got $r")
    // HEAD holds exactly the live rows — the retired v1/v2 rows must NOT
    // have been merged back in by the compaction read
    assert(ids(spark.read.format("pjparquet").load(dir)) == Set(10L, 11L, 12L))
    // all earlier versions still travel
    assert(ids(readVersion(dir, 1)) == Set(1L))
    assert(ids(readVersion(dir, 2)) == Set(1L, 2L))
    assert(ids(readVersion(dir, 3)) == Set(10L, 11L, 12L))
    val fs = fsOf(dir)
    val v4 = PjCommitLog.read(fs, new Path(dir), 4L)
    assert(v4.action == "compact")
    assert(ids(readVersion(dir, 4)) == Set(10L, 11L, 12L))
    // retention pass reclaims everything the kept snapshots do not reference
    val e = PjVacuum.expireVersions(spark, dir, keepVersions = 1)
    assert(e.filesReclaimed >= 2, s"retired + consumed files must go, got $e")
    assert(ids(spark.read.format("pjparquet").load(dir)) == Set(10L, 11L, 12L))
  }

  test("streaming read of a logged table ingests committed files only") {
    import spark.implicits._
    val dir = tempDir("pj_tt_stream")
    write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir, "append") // v1
    // ghost: a valid parquet data file with NO commit — must never stream
    val tmp = tempDir("pj_tt_stream_ghost")
    Seq((99L, "ghost")).toDF("id", "name").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(dir, "part-uncommitted-ghost.parquet").toPath)

    val q = spark.readStream.format("pjparquet").load(dir)
      .writeStream.format("memory").queryName("pj_tt_stream_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(!q.isActive)
    val got = spark.table("pj_tt_stream_out").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L), s"only committed files may stream, got $got")
  }

  test("SQL VERSION AS OF / TIMESTAMP AS OF through the path catalog") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.pj", "graft.sources.pjparquet.PjCatalog")
    try {
      val dir = tempDir("pj_tt_sql")
      write(Seq((1L, "a")).toDF("id", "name"), dir, "append")                 // v1
      write(Seq((2L, "b"), (3L, "c")).toDF("id", "name"), dir, "overwrite")   // v2
      def sql(q: String): Set[Long] =
        spark.sql(q).collect().map(_.getLong(0)).toSet
      assert(sql(s"SELECT id FROM pj.`$dir`") == Set(2L, 3L))
      assert(sql(s"SELECT id FROM pj.`$dir` VERSION AS OF 1") == Set(1L))
      assert(sql(s"SELECT id FROM pj.`$dir` VERSION AS OF 2") == Set(2L, 3L))
      val hist = PjCommitLog.history(fsOf(dir), new Path(dir))
      // timestamp as an expression (timezone-proof: epoch millis in, the
      // catalog receives micros)
      assert(sql(s"SELECT id FROM pj.`$dir` " +
        s"TIMESTAMP AS OF timestamp_millis(${hist(1).ts})") == Set(2L, 3L))
      assert(sql(s"SELECT id FROM pj.`$dir` " +
        s"TIMESTAMP AS OF timestamp_millis(${hist(1).ts - 1})") == Set(1L))
      // DML through the catalog still works on HEAD (read-only applies to
      // snapshot reads only); the rewrite is a new version
      spark.sql(s"DELETE FROM pj.`$dir` WHERE id = 2")
      assert(sql(s"SELECT id FROM pj.`$dir`") == Set(3L))
      assert(sql(s"SELECT id FROM pj.`$dir` VERSION AS OF 2") == Set(2L, 3L))
    } finally spark.conf.unset("spark.sql.catalog.pj")
  }

  test("log layer at planning scale: a 50k-file snapshot round-trips fast and bounded") {
    val dir = tempDir("pj_tt_scale")
    val root = new Path(dir)
    val fs = fsOf(dir)
    // escapePathValue-hostile names included: round-trip must be exact
    val files = (0 until 50000).map(i =>
      f"k=${i % 37}%d/part-$i%05d-weird %%2F name-$i.parquet")
    val t0 = System.nanoTime()
    val v = PjCommitLog.commit(fs, root, "append",
      files.map(PjCommitLog.FileEntry(_)), Set.empty)
    val snap = PjCommitLog.read(fs, root, v)
    val dt = (System.nanoTime() - t0) / 1e9
    assert(snap.files.sorted == files.sorted)
    assert(dt < 5.0, f"50k-path snapshot commit+read took $dt%.2f s")
    // O(live files) on disk: ~60 B/path here, far under any listing cost
    val bytes = fs.getFileStatus(
      new Path(PjCommitLog.logDir(root), f"$v%020d.json")).getLen
    assert(bytes < 10L * 1024 * 1024, s"snapshot file unexpectedly large: $bytes B")
  }
}
