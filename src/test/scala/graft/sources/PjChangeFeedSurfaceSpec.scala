package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.sources.pjparquet.{PjChangeFeed, PjCommitLog}

/** First-class change-data-feed read surface (round 11):
  * `option("readChangeFeed", true)` batch reads routed through the data
  * source, the one-plan long-range feed, and the streaming variant whose
  * offsets are commit versions (exactly-once per version across
  * restarts).
  */
class PjChangeFeedSurfaceSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** v1: append ids 1..4; v2: UPDATE id>=3 (+10); v3: append ids 5..6. */
  private def threeVersionTable(cdc: Boolean): String = {
    import spark.implicits._
    val dir = tempDir(if (cdc) "pj_cdfsurf_cdc3" else "pj_cdfsurf_plain3")
    Seq(1L, 2L, 3L, 4L).toDF("id").coalesce(1).write.format("pjparquet")
      .mode("append").option("log.enabled", "true").save(dir) // v1
    val t = s"pj_cdfsurf_${System.nanoTime()}"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t USING pjparquet OPTIONS (path '$dir'" +
      (if (cdc) ", `log.enabled` 'true', `cdc.enabled` 'true'" else "") + ")")
    spark.sql(s"UPDATE $t SET id = id + 10 WHERE id >= 3") // v2
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Seq(5L, 6L).toDF("id").coalesce(1).write.format("pjparquet")
      .mode("append").option("log.enabled", "true").save(dir) // v3
    dir
  }

  private def feedSet(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
    df.select(col("id"), col("_change_type"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private val expectedAll = Set(
    (1L, "insert", 1L), (2L, "insert", 1L), (3L, "insert", 1L), (4L, "insert", 1L),
    (3L, "update_preimage", 2L), (4L, "update_preimage", 2L),
    (13L, "update_postimage", 2L), (14L, "update_postimage", 2L),
    (5L, "insert", 3L), (6L, "insert", 3L))

  test("batch readChangeFeed option reads the full range through the source") {
    val dir = threeVersionTable(cdc = false)
    val df = spark.read.format("pjparquet")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(dir)
    assert(df.columns.toSeq ==
      Seq("id", "_change_type", "_commit_version", "_commit_timestamp"))
    assert(feedSet(df) == expectedAll)
    // _commit_timestamp: one real, non-decreasing instant per version,
    // exactly the log header's commit ts
    val fs = fsOf(dir)
    val headerTs = graft.sources.pjparquet.PjCommitLog
      .history(fs, new Path(dir)).map(h => h.version -> h.ts).toMap
    val tsByVersion = df.select(col("_commit_version"), col("_commit_timestamp"))
      .distinct().collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(tsByVersion.keySet == Set(1L, 2L, 3L))
    tsByVersion.foreach { case (v, ms) =>
      assert(ms == headerTs(v), s"version $v: feed ts $ms != header ts ${headerTs(v)}")
    }
    // endingVersion bounds the range
    val sub = spark.read.format("pjparquet")
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").option("endingVersion", "2").load(dir)
    assert(feedSet(sub) == expectedAll.filter(_._3 == 2L))
    // startingTimestamp resolves through the same per-version headers
    val viaTs = spark.read.format("pjparquet")
      .option("readChangeFeed", "true").option("startingTimestamp", "0").load(dir)
    assert(feedSet(viaTs) == expectedAll)
  }

  test("batch readChangeFeed requires startingVersion; rejects time travel combo") {
    val dir = threeVersionTable(cdc = false)
    val noStart = intercept[Exception] {
      spark.read.format("pjparquet").option("readChangeFeed", "true")
        .load(dir).collect()
    }
    assert(noStart.getMessage != null &&
      noStart.getMessage.contains("startingVersion"),
      s"got: ${noStart.getMessage}")
    val combo = intercept[Exception] {
      spark.read.format("pjparquet").option("readChangeFeed", "true")
        .option("startingVersion", "1").option("versionAsOf", "1").load(dir)
    }
    assert(combo.getMessage.contains("mutually exclusive"))
  }

  test("long range plans as ONE labeled scan, not one union branch per version") {
    import spark.implicits._
    val dir = tempDir("pj_cdfsurf_long")
    val root = new Path(dir)
    val fs = fsOf(dir)
    Seq(100L).toDF("id").coalesce(1).write.format("pjparquet")
      .mode("append").option("log.enabled", "true").save(dir) // v1
    // 100 more pure-add versions, each a byte-copy of v1's file under a
    // new name (cheap, no jobs) committed with full stats entries
    val head = PjCommitLog.latest(fs, root).get
    val template = head.entries.head
    val srcData = new Path(root, template.path)
    val srcIdx = new Path(root, s".${template.path}.index")
    for (v <- 2 to 101) {
      val dataName = f"part-copy-$v%04d.parquet"
      org.apache.hadoop.fs.FileUtil.copy(fs, srcData, fs, new Path(root, dataName),
        false, spark.sessionState.newHadoopConf())
      org.apache.hadoop.fs.FileUtil.copy(fs, srcIdx, fs, new Path(root, s".$dataName.index"),
        false, spark.sessionState.newHadoopConf())
      PjCommitLog.commit(fs, root, "append",
        Seq(template.copy(path = dataName)), Set.empty)
    }
    val df = PjChangeFeed.changes(spark, dir, 1L, 101L)
    val rows = df.select(col("_commit_version")).collect().map(_.getLong(0))
    assert(rows.length == 101 && rows.toSet == (1L to 101L).toSet,
      s"expected one insert row per version, got ${rows.length}")
    // the whole 101-version feed must be a bounded plan: one file-source
    // scan (all 101 files together), not 101 union branches
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size <= 2, s"expected a bounded scan count, got ${scans.size}")
    val nodes = df.queryExecution.optimizedPlan.collect { case n => n }
    assert(nodes.size < 40, s"plan has ${nodes.size} nodes — grows with versions?")
  }

  test("streaming CDF delivers each version exactly once across restarts") {
    import spark.implicits._
    val dir = threeVersionTable(cdc = true)
    val ckpt = tempDir("pj_cdfsurf_ckpt")
    val sink = tempDir("pj_cdfsurf_sink")
    // file sink: the one sink class that supports checkpoint RECOVERY, so
    // the restart below genuinely resumes from the committed version cursor
    def runOnce(): Unit = {
      val q = spark.readStream.format("pjparquet")
        .option("readChangeFeed", "true").option("startingVersion", "1").load(dir)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce()
    assert(feedSet(spark.read.parquet(sink)) == expectedAll,
      "first run must deliver versions 1..3 exactly")
    // the streamed feed carries the same per-version commit timestamps as
    // the batch surface (typed per-split constants)
    val streamTs = spark.read.parquet(sink)
      .select(col("_commit_version"), col("_commit_timestamp")).distinct()
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    val headerTs = graft.sources.pjparquet.PjCommitLog
      .history(fsOf(dir), new Path(dir)).map(h => h.version -> h.ts).toMap
    streamTs.foreach { case (v, ms) =>
      assert(ms == headerTs(v), s"streamed ts for v$v ($ms) != header ts (${headerTs(v)})")
    }
    // v4 lands between runs; the restarted stream (same checkpoint) must
    // deliver ONLY v4 — versions 1..3 were committed to the offset log
    Seq(7L).toDF("id").coalesce(1).write.format("pjparquet")
      .mode("append").option("log.enabled", "true").save(dir) // v4
    runOnce()
    assert(feedSet(spark.read.parquet(sink)) == expectedAll + ((7L, "insert", 4L)),
      "restart must deliver exactly the one new version on top (no replays)")
  }

  test("streaming CDF materializes un-persisted rewrite diffs once, then reuses them") {
    val dir = threeVersionTable(cdc = false) // UPDATE at v2 did NOT persist
    val fs = fsOf(dir)
    assert(!fs.exists(new Path(dir, "_pj_cdc/v=2")), "fixture: v2 unpersisted")
    val ckpt = tempDir("pj_cdfsurf_ckpt_mat")
    val out = s"pj_cdf_stream_m_${System.nanoTime()}"
    val q = spark.readStream.format("pjparquet")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(dir)
      .writeStream.format("memory").queryName(out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(feedSet(spark.table(out)) == expectedAll)
    assert(fs.exists(new Path(dir, "_pj_cdc/v=2")),
      "planning must have materialized the rewrite diff for streaming")
  }

  test("streaming CDF over deletion-vector commits: exactly the deleted positions") {
    import spark.implicits._
    val dir = tempDir("pj_cdfsurf_dvstream")
    spark.range(0, 40).select($"id", lit("a").as("s")).coalesce(1)
      .write.format("pjparquet").mode("append").option("log.enabled", "true").save(dir) // v1
    spark.sql(s"DROP TABLE IF EXISTS pj_cdf_dv")
    spark.sql(s"CREATE TABLE pj_cdf_dv USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_cdf_dv WHERE id IN (5, 9)")       // v2: vector
    spark.sql("UPDATE pj_cdf_dv SET s = 'b' WHERE id = 11")      // v3: merge-on-read
    val ckpt = tempDir("pj_cdfsurf_ckpt_dv")
    val out = s"pj_cdf_stream_dv_${System.nanoTime()}"
    val q = spark.readStream.format("pjparquet")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(dir)
      .writeStream.format("memory").queryName(out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table(out)
      .select(col("id"), col("s"), col("_change_type"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val want = (0L until 40L).map(i => (i, "a", "insert", 1L)).toSet ++
      Set((5L, "a", "delete", 2L), (9L, "a", "delete", 2L),
        (11L, "a", "update_preimage", 3L), (11L, "b", "update_postimage", 3L))
    assert(got == want, s"diff: ${(got diff want).take(5)} / ${(want diff got).take(5)}")
  }

  test("partitioned table: one-plan feed aligns partition types and survives hostile values") {
    import spark.implicits._
    val dir = tempDir("pj_cdfsurf_part")
    // long-typed partition column (the inference convention) PLUS a
    // second table with URL-hostile string partition values
    Seq((1L, 10L), (2L, 10L), (3L, 20L)).toDF("id", "k").coalesce(1)
      .write.format("pjparquet").mode("append")
      .option("log.enabled", "true").partitionBy("k").save(dir) // v1
    Seq((4L, 20L)).toDF("id", "k").coalesce(1)
      .write.format("pjparquet").mode("append")
      .option("log.enabled", "true").partitionBy("k").save(dir) // v2
    val t = s"pj_cdfsurf_part_${System.nanoTime()}"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t USING pjparquet OPTIONS (path '$dir')")
    spark.sql(s"UPDATE $t SET id = id + 100 WHERE id = 3") // v3 rewrite in k=20
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val df = spark.read.format("pjparquet")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(dir)
    // partition column typed LONG in the feed, exactly like table reads
    assert(df.schema("k").dataType == org.apache.spark.sql.types.LongType)
    val got = df.select($"id", $"k", $"_change_type", $"_commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, 10L, "insert", 1L), (2L, 10L, "insert", 1L), (3L, 20L, "insert", 1L),
      (4L, 20L, "insert", 2L),
      (3L, 20L, "update_preimage", 3L), (103L, 20L, "update_postimage", 3L)))
    // URL-hostile string partition values round-trip through the
    // broadcast canonical-path map (encoded dirs, spaces, '#')
    val dir2 = tempDir("pj_cdfsurf_hostile")
    Seq((1L, "a b#c"), (2L, "plain")).toDF("id", "p").coalesce(1)
      .write.format("pjparquet").mode("append")
      .option("log.enabled", "true").partitionBy("p").save(dir2)
    Seq((3L, "a b#c")).toDF("id", "p").coalesce(1)
      .write.format("pjparquet").mode("append")
      .option("log.enabled", "true").partitionBy("p").save(dir2)
    val feed2 = spark.read.format("pjparquet")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(dir2)
      .select($"id", $"p", $"_change_type", $"_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(feed2 == Set(
      (1L, "a b#c", "insert", 1L), (2L, "plain", "insert", 1L),
      (3L, "a b#c", "insert", 2L)))
  }

  test("maxVersionsPerTrigger drains a backlog as bounded per-version batches") {
    val dir = threeVersionTable(cdc = true)
    val out = s"pj_cdf_stream_cap_${System.nanoTime()}"
    val q = spark.readStream.format("pjparquet")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .option("maxVersionsPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName(out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(feedSet(spark.table(out)) == expectedAll,
      "the capped stream must still drain the whole backlog under AvailableNow")
    // three versions, one per trigger: at least 3 micro-batches ran
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      s"expected >=3 data batches, got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
  }

  test("maxFilesPerTrigger / maxBytesPerTrigger: a deep backlog drains in bounded " +
      "batches on version boundaries, exactly-once labels preserved") {
    import spark.implicits._
    // 30-version backlog, one 1-file commit each (the restart-100-behind
    // shape, scaled for test time)
    val dir = tempDir("pj_cdfsurf_cdf_budget")
    for (i <- 1 to 30)
      Seq(i.toLong).toDF("id").coalesce(1).write.format("pjparquet")
        .mode("append").option("log.enabled", "true").save(dir)
    def drain(opts: (String, String)*): (Set[(Long, String, Long)], Int) = {
      val out = s"pj_cdf_budget_${System.nanoTime()}"
      var r = spark.readStream.format("pjparquet")
        .option("readChangeFeed", "true").option("startingVersion", "1")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(dir)
        .writeStream.format("memory").queryName(out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      (feedSet(spark.table(out)), q.recentProgress.count(_.numInputRows > 0))
    }
    val expected = (1 to 30).map(i => (i.toLong, "insert", i.toLong)).toSet
    // file budget: 7 files/trigger over 30 one-file versions -> >= 5 batches
    val (gotF, batchesF) = drain("maxFilesPerTrigger" -> "7")
    assert(gotF == expected, "file-budgeted drain must deliver every change exactly once")
    assert(batchesF >= 5, s"30 one-file versions at 7 files/trigger: got $batchesF batches")
    // byte budget: each file is a few hundred bytes; 2KB/trigger bounds batches
    val (gotB, batchesB) = drain("maxBytesPerTrigger" -> "2048")
    assert(gotB == expected, "byte-budgeted drain must deliver every change exactly once")
    assert(batchesB >= 2, s"byte budget must split the backlog, got $batchesB batches")
    // a single over-budget commit still forms its own batch (no stall)
    val (gotOne, _) = drain("maxBytesPerTrigger" -> "1")
    assert(gotOne == expected, "an over-budget version must still admit alone")
  }

  test("batch option API agrees with the persisted-vs-computed classification") {
    val dir = threeVersionTable(cdc = true) // v2 persisted at commit time
    val fs = fsOf(dir)
    assert(fs.exists(new Path(dir, "_pj_cdc/v=2")))
    val df = spark.read.format("pjparquet")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(dir)
    assert(feedSet(df) == expectedAll)
  }

  test("batch and streaming feeds agree over DV, copy-on-write, clone and compaction versions") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.pjcdf", "graft.sources.pjparquet.PjCatalog")
    def append(dir: String, rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("id", "v", "p").coalesce(1).write.format("pjparquet")
        .mode("append").option("log.enabled", "true").partitionBy("p").save(dir)
    // the source's files become the clone's external (absolute) entries;
    // one partition value is URL-hostile (encoded on disk)
    val src = tempDir("pj_cdfsurf_agree_src")
    append(src, (1L to 6L).map(i => (i, i * 10, if (i % 2 == 0) "a b#c" else "plain")))
    val dir = s"${tempDir("pj_cdfsurf_agree")}/t"
    graft.sources.pjparquet.PjClone.shallowClone(spark, src, dir) // v1
    val t = s"pjcdf.`$dir`"
    append(dir, Seq((7L, 70L, "a b#c"), (8L, 80L, "plain"))) // v2
    append(dir, Seq((9L, 90L, "plain"))) // v3
    spark.sql(s"DELETE FROM $t WHERE id IN (2, 7)") // v4: vectors, one on an external file
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE id IN (3, 8)") // v5: merge-on-read
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('pj.deletionVectors.enabled'='false')")
    spark.sql(s"UPDATE $t SET v = v + 2 WHERE id = 9") // copy-on-write
    append(dir, Seq((10L, 100L, "plain")))
    append(dir, Seq((11L, 110L, "plain")))
    // id-preserving compaction of the local files: a pure move
    graft.sources.pjparquet.PjCompaction.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    val fs = fsOf(dir)
    val head = PjCommitLog.latest(fs, new Path(dir)).get
    assert(PjCommitLog.delta(fs, new Path(dir), head.version).preservedRows,
      "fixture: the last version must be an id-preserving compaction")
    assert(head.entries.exists(_.path.startsWith("/")), "fixture: an external entry")
    assert(!fs.exists(new Path(dir, "_pj_cdc")), "fixture: no persisted change files")

    def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
      df.select("id", "v", "p", "_change_type", "_commit_version", "_commit_timestamp")
        .collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
    // batch first: the stream persists the rewrite diffs it reads
    val batchDf = spark.read.format("pjparquet")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(dir)
    val batch = rowsOf(batchDf)
    val out = s"pj_cdf_agree_${System.nanoTime()}"
    val q = spark.readStream.format("pjparquet")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(dir)
      .writeStream.format("memory").queryName(out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamDf = spark.table(out)
    assert(batchDf.schema.map(f => f.name -> f.dataType) ==
      streamDf.schema.map(f => f.name -> f.dataType))
    val stream = rowsOf(streamDf)
    assert(batch == stream,
      s"batch only: ${(batch.toSet -- stream.toSet).take(5)} / " +
        s"stream only: ${(stream.toSet -- batch.toSet).take(5)}")
    // every version class is present in the compared feed
    val kinds = batch.keySet.map(r => (r(0), r(3)))
    Seq((1L, "insert"), (2L, "insert"), (7L, "insert"), (2L, "delete"), (7L, "delete"),
      (3L, "update_preimage"), (3L, "update_postimage"), (9L, "update_preimage"),
      (9L, "update_postimage"), (11L, "insert")).foreach { k =>
      assert(kinds.contains(k), s"missing $k in $kinds")
    }
    assert(batch.keySet.exists(r => r(2) == "a b#c" && r(3) == "delete"))
  }

  test("old versions' rows read through a later RENAME COLUMN and partition-spec evolution") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.pjcdf", "graft.sources.pjparquet.PjCatalog")
    val dir = s"${tempDir("pj_cdfsurf_evolve")}/t"
    val t = s"pjcdf.`$dir`"
    spark.sql(s"CREATE TABLE $t (id BIGINT, day BIGINT, val BIGINT) " +
      "USING pjparquet PARTITIONED BY (day)")
    (0L until 4L).map(i => (i, i % 2, i * 10)).toDF("id", "day", "val")
      .write.format("pjparquet").mode("append").save(dir)
    spark.sql(s"ALTER TABLE $t RENAME COLUMN val TO amount")
    spark.sql(s"ALTER TABLE $t ADD COLUMN tenant STRING")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      "('pj.partition.columns' = 'day:bigint,tenant:string')")
    Seq((4L, 0L, 40L, "t0")).toDF("id", "day", "amount", "tenant")
      .write.format("pjparquet").mode("append").save(dir)
    val want = (0L until 4L).map(i => (i, i % 2, i * 10, null: String, "insert")).toSet +
      ((4L, 0L, 40L, "t0", "insert"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "day", "amount", "tenant", "_change_type")
        .as[(Long, Long, Long, String, String)].collect().toSet
    val batch = spark.read.format("pjparquet")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(dir)
    assert(rows(batch) == want)
    val out = s"pj_cdf_evolve_${System.nanoTime()}"
    spark.readStream.format("pjparquet")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(dir)
      .writeStream.format("memory").queryName(out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)
    assert(rows(spark.table(out)) == want)
  }

  test("raw stock-parquet reads of table files remain only in PjCompaction") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    def offenders(needle: String): List[String] = {
      val stream = java.nio.file.Files.walk(root)
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "PjCompaction.scala")
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains(needle))
        .map(p => root.relativize(p).toString).toList
      finally stream.close()
    }
    Seq("pjAutoSubstitute\", \"false", "_metadata.file_path", "_metadata.row_index").foreach { n =>
      assert(offenders(n).isEmpty, s"live rows are read through PjScan, not raw `$n`: ${offenders(n)}")
    }
  }
}
