package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.sources.pjparquet.{PjCommitLog, PjCopyInto}

/** Idempotent COPY INTO ([[PjCopyInto]]): exactly-once ingest across
  * re-runs, incremental pickup of new source files, claim repair after a
  * crash between commit and finalize, and the pending/reclaim contract for
  * claims whose data never landed.
  */
class PjCopyIntoSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A fresh NONEXISTENT path (CREATE TABLE refuses an existing dir). */
  private def mkdir(prefix: String): String = s"${tempDir(prefix)}/t"

  private def freshTable(): String = {
    val t = mkdir("pj_ci_table")
    spark.conf.set("spark.sql.catalog.pjci", "graft.sources.pjparquet.PjCatalog")
    spark.sql(s"CREATE TABLE pjci.`$t` (id BIGINT, v BIGINT) USING pjparquet")
    t
  }

  private def writeSource(dir: String, name: String, ids: Range): Unit =
    ids.map(i => (i.toLong, i.toLong * 10)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")

  test("re-running copy_into never duplicates; new files ingest incrementally") {
    val (t, src) = (freshTable(), mkdir("pj_ci_src"))
    writeSource(src, "a", 0 until 50)
    writeSource(src, "b", 50 until 80)

    val r1 = PjCopyInto.copyInto(spark, t, src)
    assert(r1.filesIngested == 2 && r1.rowsIngested == 80, s"got $r1")
    assert(spark.table(s"pjci.`$t`").count() == 80)

    // second run: all skipped, zero rows, no new commit
    val r2 = PjCopyInto.copyInto(spark, t, src)
    assert(r2.filesIngested == 0 && r2.filesSkipped == 2 && r2.rowsIngested == 0, s"got $r2")
    assert(r2.version == r1.version, "a no-op run must not commit")
    assert(spark.table(s"pjci.`$t`").count() == 80)

    // a new source file lands: only it ingests
    writeSource(src, "c", 80 until 100)
    val r3 = PjCopyInto.copyInto(spark, t, src)
    assert(r3.filesIngested == 1 && r3.filesSkipped == 2 && r3.rowsIngested == 20, s"got $r3")
    val rows = spark.table(s"pjci.`$t`")
    assert(rows.count() == 100)
    assert(rows.agg(sum($"id")).head().getLong(0) == (0L until 100L).sum)
    // exactly once: no id appears twice
    assert(rows.groupBy($"id").count().filter($"count" > 1).count() == 0)
  }

  test("SQL CALL surface reports the same facts") {
    val (t, src) = (freshTable(), mkdir("pj_ci_sql"))
    writeSource(src, "a", 0 until 10)
    val r = spark.sql(s"CALL pjci.system.copy_into('$t', '$src')").collect().head
    assert(r.getLong(0) == 1 && r.getLong(3) == 10, s"got $r")
    val again = spark.sql(s"CALL pjci.system.copy_into('$t', '$src')").collect().head
    assert(again.getLong(0) == 0 && again.getLong(1) == 1, s"got $again")
  }

  test("crash between commit and finalize repairs, never re-ingests") {
    val (t, src) = (freshTable(), mkdir("pj_ci_crash"))
    writeSource(src, "a", 0 until 30)
    val r1 = PjCopyInto.copyInto(spark, t, src)
    assert(r1.filesIngested == 1)
    // simulate the crash: rewind the marker to its claimed state (the
    // covering commit IS in the log under copy-into:<runId>)
    val root = new org.apache.hadoop.fs.Path(t)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val ingest = new org.apache.hadoop.fs.Path(s"$t/${PjCommitLog.DirName}/ingest")
    val marker = fs.listStatus(ingest).head.getPath
    val body = {
      val in = fs.open(marker)
      val s = scala.io.Source.fromInputStream(in).mkString; in.close(); s
    }
    assert(body.contains("\"done\""))
    val claimed = body.replace("\"state\":\"done\"", "\"state\":\"claimed\"")
    val out = fs.create(marker, true)
    out.write(claimed.getBytes("UTF-8")); out.close()
    // next run resolves the claim against the commit tag and skips
    val r2 = PjCopyInto.copyInto(spark, t, src)
    assert(r2.filesIngested == 0 && r2.filesSkipped == 1 && r2.filesPending == 0, s"got $r2")
    assert(spark.table(s"pjci.`$t`").count() == 30, "repair must not re-ingest")
    // and the marker is finalized again
    val repaired = {
      val in = fs.open(marker)
      val s = scala.io.Source.fromInputStream(in).mkString; in.close(); s
    }
    assert(repaired.contains("\"done\""))
  }

  test("orphaned claims report pending; reclaim_claims re-loads them") {
    val (t, src) = (freshTable(), mkdir("pj_ci_orphan"))
    writeSource(src, "a", 0 until 25)
    // forge a claim whose runId never committed (a dead ingester)
    val root = new org.apache.hadoop.fs.Path(t)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val ingest = new org.apache.hadoop.fs.Path(s"$t/${PjCommitLog.DirName}/ingest")
    fs.mkdirs(ingest)
    val srcFile = new org.apache.hadoop.fs.Path(s"$src/a")
      .getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(new org.apache.hadoop.fs.Path(s"$src/a")).toSeq
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(srcFile.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = fs.create(new org.apache.hadoop.fs.Path(ingest, digest), false)
    out.write(
      s"""{"path":"$srcFile","size":1,"state":"claimed","runId":"dead-run","version":-1}"""
        .getBytes("UTF-8"))
    out.close()
    // default: the file is PENDING — not loaded, not stolen
    val r1 = PjCopyInto.copyInto(spark, t, src)
    assert(r1.filesIngested == 0 && r1.filesPending == 1, s"got $r1")
    assert(spark.table(s"pjci.`$t`").count() == 0)
    // explicit reclaim: the stale claim is deleted and the file loads
    val r2 = PjCopyInto.copyInto(spark, t, src, reclaimClaims = true)
    assert(r2.filesIngested == 1 && r2.filesPending == 0 && r2.rowsIngested == 25, s"got $r2")
    assert(spark.table(s"pjci.`$t`").count() == 25)
  }

  test("racing ingesters partition the work: union exact, zero duplicates") {
    val (t, src) = (freshTable(), mkdir("pj_ci_race"))
    (0 until 8).foreach(i => writeSource(src, s"f$i", i * 100 until (i + 1) * 100))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val reports = Seq(
        pool.submit(() => PjCopyInto.copyInto(spark, t, src)),
        pool.submit(() => PjCopyInto.copyInto(spark, t, src))).map(_.get())
      // every file ingested exactly once, by exactly one of the racers
      assert(reports.map(_.filesIngested).sum == 8,
        s"claims must partition, got $reports")
      val rows = spark.table(s"pjci.`$t`")
      assert(rows.count() == 800)
      assert(rows.groupBy($"id").count().filter($"count" > 1).count() == 0)
      assert(rows.agg(sum($"id")).head().getLong(0) == (0L until 800L).sum)
      // a third run is a full no-op
      val r3 = PjCopyInto.copyInto(spark, t, src)
      assert(r3.filesIngested == 0 && r3.filesSkipped == 8 && r3.filesPending == 0)
    } finally pool.shutdown()
  }

  test("PATTERN scopes the ingest; non-matching files stay claimable later") {
    val (t, src) = (freshTable(), mkdir("pj_ci_pat"))
    writeSource(src, "lang=en/part1", 0 until 10)
    writeSource(src, "lang=de/part1", 10 until 20)
    writeSource(src, "lang=en/part2", 20 until 30)
    val r1 = PjCopyInto.copyInto(spark, t, src, pattern = Some("lang=en/**"))
    assert(r1.filesIngested == 2 && r1.rowsIngested == 20, s"got $r1")
    assert(spark.table(s"pjci.`$t`").filter($"id" >= 10 && $"id" < 20).count() == 0)
    // the de file was never claimed — a later unscoped run picks it up
    val r2 = PjCopyInto.copyInto(spark, t, src)
    assert(r2.filesIngested == 1 && r2.filesSkipped == 2 && r2.rowsIngested == 10, s"got $r2")
    assert(spark.table(s"pjci.`$t`").count() == 30)
    // `*` stays within a segment: no lang dir matches a one-level glob
    val r3 = spark.sql(
      s"CALL pjci.system.copy_into('$t', '$src', pattern => '*.parquet')")
      .collect().head
    assert(r3.getLong(0) == 0, s"got $r3")
  }

  test("maintenance interplay: vacuum + expire_versions leave markers; skips hold") {
    val (t, src) = (freshTable(), mkdir("pj_ci_vac"))
    writeSource(src, "a", 0 until 20)
    PjCopyInto.copyInto(spark, t, src)
    writeSource(src, "b", 20 until 40)
    PjCopyInto.copyInto(spark, t, src)
    spark.sql(s"CALL pjci.system.expire_versions('$t', keep_versions => 1)")
    spark.sql(s"CALL pjci.system.vacuum('$t')")
    val r = PjCopyInto.copyInto(spark, t, src)
    assert(r.filesIngested == 0 && r.filesSkipped == 2 && r.filesPending == 0,
      s"markers must survive maintenance: $r")
    assert(spark.table(s"pjci.`$t`").count() == 40)
  }

  test("copy_into commits flow into a streaming read of the table") {
    val (t, src) = (freshTable(), mkdir("pj_ci_stream"))
    writeSource(src, "a", 0 until 15)
    PjCopyInto.copyInto(spark, t, src)
    val ckpt = mkdir("pj_ci_ckpt")
    val q = spark.readStream.format("pjparquet").load(t)
      .writeStream.format("memory").queryName("pj_ci_sink")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("pj_ci_sink").count() == 15)
      writeSource(src, "b", 15 until 40)
      PjCopyInto.copyInto(spark, t, src)
      q.processAllAvailable()
      assert(spark.table("pj_ci_sink").count() == 40)
      assert(spark.table("pj_ci_sink").groupBy($"id").count()
        .filter($"count" > 1).count() == 0)
    } finally q.stop()
  }

  test("schema mismatch refuses; unknown format refuses; unlogged table refuses") {
    val (t, src) = (freshTable(), mkdir("pj_ci_bad"))
    Seq(("x", 1.5)).toDF("name", "score").write.mode("overwrite").parquet(s"$src/bad")
    val eSchema = intercept[Exception] { PjCopyInto.copyInto(spark, t, src) }
    assert(eSchema.getMessage.contains("does not match table"), s"got: $eSchema")
    // a schema refusal releases its claims — a rerun refuses again (loud)
    // instead of silently skipping the unloaded file
    intercept[Exception] { PjCopyInto.copyInto(spark, t, src) }
    assert(spark.table(s"pjci.`$t`").count() == 0)
    intercept[graft.core.PJException] {
      PjCopyInto.copyInto(spark, t, src, format = "avro")
    }
    val unlogged = mkdir("pj_ci_unlogged")
    Seq((1L, 2L)).toDF("id", "v").write.parquet(unlogged)
    intercept[graft.core.PJException] {
      PjCopyInto.copyInto(spark, unlogged, src)
    }
  }

  test("marker fold: ingest dir stays bounded, idempotence exact across fold + expiry") {
    val (t, src) = (freshTable(), mkdir("pj_ci_fold"))
    val old = PjCopyInto.FoldThreshold
    PjCopyInto.FoldThreshold = 5
    try {
      for (i <- 0 until 8) writeSource(src, s"f$i", (i * 10) until (i * 10 + 10))
      val r1 = PjCopyInto.copyInto(spark, t, src)
      assert(r1.filesIngested == 8 && r1.rowsIngested == 80, s"$r1")
      // the NEXT run sees 8 done markers >= threshold and folds them
      val r2 = PjCopyInto.copyInto(spark, t, src)
      assert(r2.filesIngested == 0 && r2.filesSkipped == 8, s"$r2")
      val ingest = new java.io.File(s"$t/_pj_log/ingest")
      def markers = ingest.listFiles().toSeq.map(_.getName)
        .filter(n => n.length == 64 && n.forall(c => c.isDigit || (c >= 'a' && c <= 'f')))
      def manifests = ingest.listFiles().toSeq.map(_.getName)
        .filter(_.startsWith("manifest-"))
      assert(markers.isEmpty, s"done markers must fold away: $markers")
      assert(manifests.size == 1, s"one delta manifest: $manifests")
      // exact idempotence THROUGH the manifest: nothing re-ingests
      val r3 = PjCopyInto.copyInto(spark, t, src)
      assert(r3.filesIngested == 0 && r3.filesSkipped == 8, s"$r3")
      assert(spark.table(s"pjci.`$t`").count() == 80)
      // expiry doesn't shake it: versions drop, skips hold
      graft.sources.pjparquet.PjVacuum.expireVersions(spark, t, keepVersions = 1)
      val r4 = PjCopyInto.copyInto(spark, t, src)
      assert(r4.filesIngested == 0 && r4.filesSkipped == 8, s"$r4")
      assert(spark.table(s"pjci.`$t`").count() == 80)
      // new files keep ingesting; their markers fold on a later run
      for (i <- 8 until 14) writeSource(src, s"f$i", (i * 10) until (i * 10 + 10))
      val r5 = PjCopyInto.copyInto(spark, t, src)
      assert(r5.filesIngested == 6 && r5.rowsIngested == 60, s"$r5")
      val r6 = PjCopyInto.copyInto(spark, t, src)
      assert(r6.filesIngested == 0 && r6.filesSkipped == 14, s"$r6")
      assert(markers.isEmpty && manifests.size == 2, s"$markers / $manifests")
      assert(spark.table(s"pjci.`$t`").count() == 140)
      assert(spark.table(s"pjci.`$t`").groupBy($"id").count()
        .filter($"count" > 1).count() == 0)
    } finally PjCopyInto.FoldThreshold = old
  }

  test("JSON ingest: declared-type casts applied, idempotent") {
    val (t, src) = (freshTable(), mkdir("pj_ci_json"))
    val lines = (0 until 30).map(i => s"""{"id": $i, "v": ${i * 10}}""")
    val d = new java.io.File(s"$src/j1"); d.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(d, "part-0.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val r1 = PjCopyInto.copyInto(spark, t, src, format = "json")
    assert(r1.filesIngested == 1 && r1.rowsIngested == 30, s"$r1")
    val got = spark.table(s"pjci.`$t`")
    assert(got.count() == 30)
    assert(got.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(got.agg(sum($"v")).head().getLong(0) == (0 until 30).map(_ * 10).sum)
    val r2 = PjCopyInto.copyInto(spark, t, src, format = "json")
    assert(r2.filesIngested == 0 && r2.filesSkipped == 1, s"$r2")
  }

  test("pending scopes to the current source set; skip counts never skew") {
    val (t, src) = (freshTable(), mkdir("pj_ci_scope"))
    writeSource(src, "keep", 0 until 10)
    writeSource(src, "doomed", 10 until 20)
    // orphan a claim on 'doomed' (simulated crash before commit), then
    // DELETE the source file — the stale claim is now outside any source
    // listing and must not depress filesSkipped or count pending
    val dir = new java.io.File(s"$t/_pj_log/ingest"); dir.mkdirs()
    val doomedPath = new org.apache.hadoop.fs.Path(s"$src/doomed")
      .getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(new org.apache.hadoop.fs.Path(s"$src/doomed"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val fsq = doomedPath.getFileSystem(spark.sessionState.newHadoopConf())
    val abs = fsq.makeQualified(doomedPath).toString
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(abs.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.nio.file.Files.write(new java.io.File(dir, sha).toPath,
      (s"""{"path":"$abs","size":1,"state":"claimed","runId":"dead","version":-1}""")
        .getBytes("UTF-8"))
    // delete the source file: the claim's path vanishes from the listing
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/doomed"))
    val r = PjCopyInto.copyInto(spark, t, src)
    assert(r.filesIngested == 1 && r.filesPending == 0 && r.filesSkipped == 0,
      s"a dir-wide orphan outside the source set must not skew the report: $r")
    assert(spark.table(s"pjci.`$t`").count() == 10)
  }

  test("CSV ingest: header read, declared-type casts applied") {
    val (t, src) = (freshTable(), mkdir("pj_ci_csv"))
    Seq(("id", "v"), ("1", "10"), ("2", "20")).map(_.productIterator.mkString(","))
      .toDF("line").coalesce(1).write.mode("overwrite").text(s"$src/drop")
    val r = PjCopyInto.copyInto(spark, t, src, format = "csv")
    assert(r.filesIngested == 1 && r.rowsIngested == 2, s"got $r")
    val rows = spark.table(s"pjci.`$t`").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rows == Map(1L -> 10L, 2L -> 20L))
  }
}
