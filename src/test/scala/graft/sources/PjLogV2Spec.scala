package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.sources.pjparquet.{PjChangeFeed, PjCommitLog, PjParquetTable, PjVacuum}

/** Round-10 commit-log v2: per-file stats in log entries (Delta
  * `add.stats` parity), delta-encoded commits + periodic checkpoints,
  * ONE-read lazy resolution with zero sidecar opens, optimistic
  * concurrency for disjoint appends, change data feed, and time-based
  * vacuum retention.
  */
class PjLogV2Spec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  override protected def tempDir(tag: String): String = super.tempDir(s"pj_logv2_$tag")

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def writeLogged(df: org.apache.spark.sql.DataFrame, dir: String,
      mode: String = "append"): Unit =
    df.write.format("pjparquet").mode(mode).option("log.enabled", "true").save(dir)

  private def leLong(b: Array[Byte]): Long = {
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (b.length == 4) bb.getInt.toLong else bb.getLong
  }

  test("stats-carrying commit: entries record size, rows, fingerprint, cols, min/max") {
    import spark.implicits._
    val dir = tempDir("stats")
    writeLogged(Seq((5L, "ee"), (9L, "ii"), (2L, "bb")).toDF("id", "name").coalesce(1), dir)
    val snap = PjCommitLog.latest(fsOf(dir), new Path(dir)).get
    assert(snap.entries.size == 1)
    val e = snap.entries.head
    assert(e.planned, s"entry must carry full planning facts: $e")
    assert(e.rows == 3 && e.rowGroups == 1 && e.size > 0)
    assert(e.cols.contains(Seq("id", "name")))
    val idStats = e.stats("id")
    assert(idStats.physType == 2) // INT64
    assert(leLong(idStats.min.get) == 2L && leLong(idStats.max.get) == 9L)
    assert(idStats.nullCount == 0)
    val nameStats = e.stats("name")
    assert(nameStats.physType == 6) // BYTE_ARRAY
    assert(new String(nameStats.min.get, "UTF-8") == "bb")
    assert(new String(nameStats.max.get, "UTF-8") == "ii")
    // data schema recorded: resolution never opens a file for schema
    assert(snap.dataSchemaJson.isDefined)
  }

  test("stats envelope over MANY row groups is the true min-of-mins / max-of-maxes") {
    import spark.implicits._
    val dir = tempDir("envelope")
    // one file, several row groups, values deliberately NOT ordered so
    // the global min/max live in different row groups; the entry is built
    // by the same entryFromIndex the commit path records, then committed
    val df = (0L until 4000L).map(i =>
      ((i * 2654435761L) % 100000L, s"s$i-" + ("x" * 64))).toDF("k", "s").coalesce(1)
    graft.sources.pjparquet.PjWriter.writeWithIndex(
      df, dir, options = Map("parquet.block.size" -> "4096"))
    val fs = fsOf(dir)
    val file = fs.listStatus(new Path(dir)).find(s =>
      s.getPath.getName.endsWith(".parquet") && !s.getPath.getName.startsWith(".")).get
    val e = PjCommitLog.entryFromIndex(
      file.getPath.getName, file.getLen,
      graft.core.PJIndex.generate(file.getPath.toUri.getPath))
    fs.mkdirs(PjCommitLog.logDir(new Path(dir)))
    PjCommitLog.commit(fs, new Path(dir), "append", Seq(e), Set.empty)
    assert(e.rowGroups > 1, s"fixture needs several row groups, got ${e.rowGroups}")
    val expectMin = (0L until 4000L).map(i => (i * 2654435761L) % 100000L).min
    val expectMax = (0L until 4000L).map(i => (i * 2654435761L) % 100000L).max
    val ks = e.stats("k")
    assert(leLong(ks.min.get) == expectMin && leLong(ks.max.get) == expectMax,
      s"envelope [${leLong(ks.min.get)}, ${leLong(ks.max.get)}] " +
        s"must equal the file-global [$expectMin, $expectMax]")
    assert(ks.nullCount == 0)
    // and pruning on the envelope agrees with the data: a value outside
    // the envelope plans nothing, a value inside returns exactly its rows
    assert(spark.read.format("pjparquet").load(dir)
      .where($"k" === (expectMax + 1)).count() == 0)
    val probe = (1234L * 2654435761L) % 100000L
    assert(spark.read.format("pjparquet").load(dir)
      .where($"k" === probe).count() ==
      (0L until 4000L).count(i => (i * 2654435761L) % 100000L == probe))
  }

  test("logged resolution is lazy: planning touches no sidecar until a scan needs one") {
    import spark.implicits._
    val dir = tempDir("lazy")
    writeLogged(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir)
    PjParquetTable.clearLayoutCache()
    val layout = PjParquetTable.resolveFiles(
      dir, spark.sessionState.newHadoopConf(), autogen = true)
    assert(layout.files.nonEmpty)
    assert(layout.files.forall(f => !f.index.isLoaded),
      "resolution must not load any index — planning facts come from the log")
    assert(layout.dataSchema.isDefined, "schema must come from the log, not a file")
    // forcing one file loads exactly that file
    layout.files.head.indexBytes
    assert(layout.files.head.index.isLoaded)
    assert(layout.files.tail.forall(f => !f.index.isLoaded))
  }

  test("stats pruning from the log: a pruned file's sidecar is NEVER opened") {
    import spark.implicits._
    val dir = tempDir("prune")
    // two files with disjoint id ranges, two commits
    writeLogged((0L until 100L).toDF("id").coalesce(1), dir)          // v1: ids 0..99
    writeLogged((1000L until 1100L).toDF("id").coalesce(1), dir)      // v2: ids 1000..1099
    PjParquetTable.clearLayoutCache()
    val got = spark.read.format("pjparquet").load(dir)
      .where($"id" === 1042L).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1042L))
    // the layout cache returns the very objects the query planned with
    val layout = PjParquetTable.resolveFiles(
      dir, spark.sessionState.newHadoopConf(), autogen = true)
    val loaded = layout.files.filter(_.index.isLoaded).map(_.path)
    val notLoaded = layout.files.filterNot(_.index.isLoaded).map(_.path)
    assert(loaded.size == 1 && notLoaded.size == 1,
      s"exactly the matching file may load its index; loaded=$loaded notLoaded=$notLoaded")
    // and the pruned-away file is the low-range one (committed first)
    val lowEntry = layout.files.find(f => !f.index.isLoaded).get.entry.get
    assert(leLong(lowEntry.stats("id").max.get) == 99L)
  }

  test("planning scale: a 50k-entry snapshot resolves from ONE log read, zero file I/O") {
    import spark.implicits._
    // harvest one real rich entry as the template
    val seed = tempDir("scale_seed")
    writeLogged(Seq((1L, "a")).toDF("id", "name").coalesce(1), seed)
    val template = PjCommitLog.latest(fsOf(seed), new Path(seed)).get
    val tEntry = template.entries.head

    val dir = tempDir("scale")
    val fs = fsOf(dir)
    fs.mkdirs(PjCommitLog.logDir(new Path(dir)))
    val entries = (0 until 50000).map { i =>
      tEntry.copy(path = f"k=${i % 37}%d/part-$i%05d-synthetic-$i.parquet")
    }
    val t0 = System.nanoTime()
    val v = PjCommitLog.commit(fs, new Path(dir), "append", entries, Set.empty,
      template.dataSchemaJson)
    val tCommit = (System.nanoTime() - t0) / 1e9
    PjParquetTable.clearLayoutCache()
    val t1 = System.nanoTime()
    val layout = PjParquetTable.resolveFiles(
      dir, spark.sessionState.newHadoopConf(), autogen = true)
    val tResolve = (System.nanoTime() - t1) / 1e9
    assert(v == 1L && layout.files.size == 50000)
    // the data files DO NOT EXIST on disk — resolution completing at all
    // proves zero per-file I/O; the lazy refs prove no sidecar opens
    assert(layout.files.forall(f => !f.index.isLoaded))
    assert(layout.partitionSchema.fieldNames.toSeq == Seq("k"))
    assert(layout.dataSchema.get.fieldNames.toSeq == Seq("id", "name"))
    assert(tCommit < 10.0, f"50k-entry commit took $tCommit%.2f s")
    assert(tResolve < 10.0, f"50k-entry resolution took $tResolve%.2f s")
  }

  test("delta log growth: 300 epoch-style commits stay O(changes + periodic checkpoints)") {
    val dir = tempDir("growth")
    val root = new Path(dir)
    val fs = fsOf(dir)
    fs.mkdirs(PjCommitLog.logDir(root))
    // 10k-file base, then 300 single-file commits
    val base = (0 until 10000).map(i => PjCommitLog.FileEntry(f"part-base-$i%05d.parquet", 100L))
    PjCommitLog.commit(fs, root, "append", base, Set.empty)
    for (i <- 0 until 300)
      PjCommitLog.commit(fs, root, s"stream-epoch-$i",
        Seq(PjCommitLog.FileEntry(f"part-epoch-$i%05d.parquet", 100L)), Set.empty)
    val logBytes = fs.listStatus(PjCommitLog.logDir(root)).map(_.getLen).sum
    // full-snapshot-per-commit would be ~301 × 10k entries; delta +
    // every-10th checkpoint is ~(301 deltas + 30 checkpoints × 10k)
    val fullSnapshotCost = 301L * 10000L * 30L // ≈ 90 MB at ~30 B/path
    assert(logBytes < fullSnapshotCost / 5,
      s"log must be delta-sized: $logBytes B vs full-snapshot ~$fullSnapshotCost B")
    // replay correctness: HEAD holds base + every epoch file
    val head = PjCommitLog.latest(fs, root).get
    assert(head.version == 301L && head.entries.size == 10300)
    // time travel into the middle of the delta chain is exact
    val mid = PjCommitLog.read(fs, root, 151L)
    assert(mid.entries.size == 10150)
    // history reads per-version headers without replay
    val hist = PjCommitLog.history(fs, root)
    assert(hist.size == 301 && hist.last.nFiles == 10300)
  }

  test("logged NESTED table: PJ_3 entries carry stats, plan lazily, time travel exact") {
    import spark.implicits._
    val dir = tempDir("nestedlog")
    spark.range(100).select($"id",
      struct(($"id" % 3).as("a"), concat(lit("v"), $"id").as("b")).as("meta"))
      .coalesce(1)
      .write.format("pjparquet").mode("append").option("log.enabled", "true").save(dir) // v1
    spark.range(100, 150).select($"id",
      struct(($"id" % 3).as("a"), concat(lit("v"), $"id").as("b")).as("meta"))
      .coalesce(1)
      .write.format("pjparquet").mode("append").save(dir) // v2
    val snap = PjCommitLog.latest(fsOf(dir), new Path(dir)).get
    assert(snap.entries.size == 2 && snap.entries.forall(_.planned),
      "nested files must commit stats-carrying PJ_3 entries")
    // the scalar top-level leaf keeps its envelope; the struct records none
    val e = snap.entries.head
    assert(e.stats.contains("id") && !e.stats.contains("meta"),
      s"only plain top-level leaves may carry stats, got ${e.stats.keySet}")
    assert(e.cols.contains(Seq("id", "meta")))
    assert(snap.dataSchemaJson.isDefined)
    // lazy resolution, schema from the log
    PjParquetTable.clearLayoutCache()
    val layout = PjParquetTable.resolveFiles(
      dir, spark.sessionState.newHadoopConf(), autogen = true)
    assert(layout.files.forall(f => !f.index.isLoaded))
    assert(layout.dataSchema.get.fieldNames.toSeq == Seq("id", "meta"))
    // stats pruning on the scalar leaf never loads the out-of-range file
    val hit = spark.read.format("pjparquet").load(dir)
      .where($"id" === 120L).select($"meta.b").collect().map(_.getString(0)).toSeq
    assert(hit == Seq("v120"))
    val l2 = PjParquetTable.resolveFiles(dir, spark.sessionState.newHadoopConf(), autogen = true)
    assert(l2.files.count(_.index.isLoaded) == 1,
      "only the id-range-matching nested file may load its PJ_3 index")
    // time travel reads v1 exactly, struct fields intact
    val v1 = spark.read.format("pjparquet").option("versionAsOf", "1").load(dir)
    assert(v1.count() == 100 && v1.agg(sum($"meta.a")).head().getLong(0) ==
      (0L until 100L).map(_ % 3).sum)
  }

  test("logged table with mergeSchema: adopted evolved files union; the cols guard stays loud") {
    import spark.implicits._
    // schema evolution reaches a log via ADOPTION (the write path itself
    // validates against the table schema, q94 convention): two stock
    // parquet generations, then the first logged commit adopts both
    val dir = tempDir("mergelog")
    Seq((1L, "a")).toDF("id", "name").coalesce(1)
      .write.mode("append").parquet(dir)
    Seq((2L, "b", 7L)).toDF("id", "name", "extra").coalesce(1)
      .write.mode("append").parquet(dir)
    graft.sources.pjparquet.PjIndexJob.generateAll(spark, dir)
    val fs = fsOf(dir)
    val root = new Path(dir)
    val rels = fs.listStatus(root).filter(s =>
      s.getPath.getName.endsWith(".parquet") && !s.getPath.getName.startsWith("."))
      .map(s => PjCommitLog.FileEntry(s.getPath.getName, s.getLen)).toSeq
    fs.mkdirs(PjCommitLog.logDir(root))
    PjCommitLog.commit(fs, root, "append", rels, Set.empty)
    val merged = spark.read.format("pjparquet").option("mergeSchema", "true").load(dir)
    assert(merged.columns.toSeq.sorted == Seq("extra", "id", "name"))
    val rows = merged.orderBy($"id").select($"id", $"name", $"extra")
      .collect().map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(rows.toSeq == Seq((1L, "a", -1L), (2L, "b", 7L)),
      "old files null-fill the evolved column")
    // without mergeSchema the guard fails loudly (legacy entries force names)
    val e = intercept[graft.core.PJException] {
      spark.read.format("pjparquet").load(dir).collect()
    }
    assert(e.getMessage.contains("schema mismatch across files"), e.getMessage)

    // RICH entries disagree on recorded column names -> the guard fires
    // from the LOG alone, before any file would even need to exist
    val dir2 = tempDir("mergelog_rich")
    val fs2 = fsOf(dir2)
    val root2 = new Path(dir2)
    fs2.mkdirs(PjCommitLog.logDir(root2))
    val seed = tempDir("mergelog_seed")
    writeLogged(Seq((1L, "x")).toDF("id", "name").coalesce(1), seed)
    val template = PjCommitLog.latest(fsOf(seed), new Path(seed)).get.entries.head
    PjCommitLog.commit(fs2, root2, "append", Seq(
      template.copy(path = "p1.parquet"),
      template.copy(path = "p2.parquet", cols = Some(Seq("id", "other")))), Set.empty)
    val e2 = intercept[graft.core.PJException] {
      PjParquetTable.resolveFiles(dir2, spark.sessionState.newHadoopConf(), autogen = true)
    }
    assert(e2.getMessage.contains("schema mismatch across files"), e2.getMessage)
  }

  test("optimistic concurrency: racing pure appends all land; every file visible at HEAD") {
    val dir = tempDir("race")
    val root = new Path(dir)
    val fs = fsOf(dir)
    fs.mkdirs(PjCommitLog.logDir(root))
    val nThreads = 4
    val perThread = 8
    val barrier = new java.util.concurrent.CyclicBarrier(nThreads)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val futures = (0 until nThreads).map { t =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          barrier.await()
          for (i <- 0 until perThread)
            PjCommitLog.commit(fs, root, "append",
              Seq(PjCommitLog.FileEntry(s"part-t$t-c$i.parquet", 10L)), Set.empty)
        }
      })
    }
    try futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    finally pool.shutdown()
    val head = PjCommitLog.latest(fs, root).get
    assert(head.version == (nThreads * perThread).toLong,
      s"every append must claim its own version, head=${head.version}")
    assert(head.entries.size == nThreads * perThread,
      "no append may be lost to a clobbered commit file")
  }

  test("conflicting remove-bearing commits fail loudly instead of rebasing") {
    val dir = tempDir("conflict")
    val root = new Path(dir)
    val fs = fsOf(dir)
    fs.mkdirs(PjCommitLog.logDir(root))
    PjCommitLog.commit(fs, root, "append",
      Seq(PjCommitLog.FileEntry("a.parquet", 1L), PjCommitLog.FileEntry("b.parquet", 1L)),
      Set.empty)
    // two racing writers, both retiring a file: at most one may win
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val results = (0 until 2).map { t =>
      pool.submit(new java.util.concurrent.Callable[Either[String, Long]] {
        def call(): Either[String, Long] = {
          barrier.await()
          try Right(PjCommitLog.commit(fs, root, "overwrite-static",
            Seq(PjCommitLog.FileEntry(s"rewrite-$t.parquet", 1L)),
            Set("a.parquet")))
          catch { case e: graft.core.PJException => Left(e.getMessage) }
        }
      })
    }
    val outcomes = try results.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    finally pool.shutdown()
    val wins = outcomes.count(_.isRight)
    assert(wins >= 1, s"one writer must win: $outcomes")
    outcomes.filter(_.isLeft).foreach { l =>
      assert(l.swap.exists(_.contains("version conflict")), s"loser must fail loudly: $l")
    }
    // the log is never corrupted: HEAD replays cleanly either way
    val head = PjCommitLog.latest(fs, root).get
    assert(head.files.contains("b.parquet"))
  }

  test("change data feed: UPDATE emits exact pre/postimages, append emits inserts") {
    import spark.implicits._
    val dir = tempDir("cdf")
    writeLogged(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v").coalesce(1), dir) // v1
    spark.sql("DROP TABLE IF EXISTS pj_logv2_cdf")
    spark.sql(s"CREATE TABLE pj_logv2_cdf USING pjparquet OPTIONS (path '$dir')")
    try {
      spark.sql("UPDATE pj_logv2_cdf SET v = v + 1 WHERE id >= 2") // v2
      val v2 = PjChangeFeed.changesAt(spark, dir, 2L)
        .select("id", "v", "_change_type")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(v2 == Set(
        (2L, 20L, "update_preimage"), (3L, 30L, "update_preimage"),
        (2L, 21L, "update_postimage"), (3L, 31L, "update_postimage")),
        s"got $v2")
      // row 1 was rewritten byte-identically (file-granular copy-on-write)
      // and must NOT surface as a change
      assert(!v2.exists(_._1 == 1L))
      // v1 was a pure append: every row an insert
      val v1 = PjChangeFeed.changesAt(spark, dir, 1L)
        .select("_change_type").distinct().collect().map(_.getString(0)).toSeq
      assert(v1 == Seq("insert"))
      // the ranged read unions both versions
      assert(PjChangeFeed.changes(spark, dir, 1L, 2L).count() == 3 + 4)
    } finally spark.sql("DROP TABLE IF EXISTS pj_logv2_cdf")
  }

  test("change data feed: DELETE labels removed rows delete; compaction diffs to empty") {
    import spark.implicits._
    val dir = tempDir("cdfdel")
    writeLogged((0L until 50L).map(i => (i, s"r$i")).toDF("id", "name").coalesce(1), dir) // v1
    writeLogged((50L until 60L).map(i => (i, s"r$i")).toDF("id", "name").coalesce(1), dir) // v2
    spark.sql("DROP TABLE IF EXISTS pj_logv2_cdfdel")
    spark.sql(s"CREATE TABLE pj_logv2_cdfdel USING pjparquet OPTIONS (path '$dir')")
    try {
      spark.sql("DELETE FROM pj_logv2_cdfdel WHERE id IN (55, 57)") // v3: rewrite of file 2
      val v3 = PjChangeFeed.changesAt(spark, dir, 3L)
        .select("id", "_change_type")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(v3 == Set((55L, "delete"), (57L, "delete")), s"got $v3")
    } finally spark.sql("DROP TABLE IF EXISTS pj_logv2_cdfdel")
    // layout-only rewrite: compaction's CDF is EMPTY (data unchanged)
    val r = graft.sources.pjparquet.PjCompaction.compact(
      spark, dir, targetBytes = 1L << 20, minFilesPerDir = 2) // v4
    assert(r.compactedInto >= 1)
    assert(PjChangeFeed.changesAt(spark, dir, 4L).count() == 0,
      "a compaction changes no data and must diff to an empty feed")
  }

  test("expireOlderThan: time-based retention keeps a contiguous suffix; expired reads error with the range") {
    import spark.implicits._
    val dir = tempDir("retention")
    writeLogged(Seq((1L, "a")).toDF("id", "name"), dir)            // v1
    writeLogged(Seq((2L, "b")).toDF("id", "name"), dir)            // v2
    writeLogged(Seq((3L, "c")).toDF("id", "name"), dir)            // v3
    // retention 0 ms: nothing is young enough -> keep HEAD only
    val r = PjVacuum.expireOlderThan(spark, dir, retentionMillis = 0L)
    assert(r.versionsDropped == 2 && r.versionsKept == 1)
    val head = spark.read.format("pjparquet").load(dir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(head == Set(1L, 2L, 3L)) // appends: HEAD content unchanged
    val e = intercept[graft.core.PJException] {
      spark.read.format("pjparquet").option("versionAsOf", "1").load(dir).collect()
    }
    assert(e.getMessage.contains("version 1 does not exist") &&
      e.getMessage.contains("available: 3..3"), e.getMessage)
  }

  test("expire with minFileAgeMillis spares young unreferenced files (in-flight writer guard)") {
    import spark.implicits._
    val dir = tempDir("ageguard")
    writeLogged(Seq((1L, "a")).toDF("id", "name"), dir)            // v1
    writeLogged(Seq((2L, "b")).toDF("id", "name"), dir, "overwrite") // v2 retires v1's file
    // an uncommitted in-flight file (racing writer mid-commit)
    val inflight = new java.io.File(dir, "part-inflight-racer.parquet")
    java.nio.file.Files.write(inflight.toPath, Array[Byte](1, 2, 3))
    val r = PjVacuum.expireVersions(spark, dir, keepVersions = 1,
      minFileAgeMillis = 60 * 60 * 1000L)
    // v1's retired file is young too (written seconds ago) -> also spared;
    // with a zero guard both would die. The guard protects BOTH classes.
    assert(r.filesReclaimed == 0 && inflight.exists(),
      s"young files must survive an age-guarded expiry: $r")
    val r2 = PjVacuum.expireVersions(spark, dir, keepVersions = 1)
    assert(r2.filesReclaimed >= 1, "ungated expiry reclaims the retired bytes")
  }

  test("cdc.enabled persists DML change files; the feed streams; vacuum expires them") {
    import spark.implicits._
    val dir = tempDir("cdcfiles")
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v").coalesce(1)
      .write.format("pjparquet").mode("append").option("log.enabled", "true").save(dir) // v1
    spark.sql("DROP TABLE IF EXISTS pj_logv2_cdcf")
    spark.sql("CREATE TABLE pj_logv2_cdcf USING pjparquet " +
      s"OPTIONS (path '$dir', `log.enabled` 'true', `cdc.enabled` 'true')")
    try {
      spark.sql("UPDATE pj_logv2_cdcf SET v = v + 1 WHERE id >= 2") // v2: persists cdc
      val fs = fsOf(dir)
      val cdcV2 = new Path(dir, "_pj_cdc/v=2")
      assert(fs.exists(cdcV2), "cdc.enabled DML must persist change files")
      // the persisted feed serves changesAt (and matches the diff exactly)
      val rows = PjChangeFeed.changesAt(spark, dir, 2L)
        .select("id", "v", "_change_type")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(rows == Set(
        (2L, 20L, "update_preimage"), (3L, 30L, "update_preimage"),
        (2L, 21L, "update_postimage"), (3L, 31L, "update_postimage")), s"got $rows")
      // STREAMING read of the persisted feed: plain file streaming over
      // _pj_cdc, the v partition column carrying the commit version
      val schema = spark.read.parquet(new Path(dir, "_pj_cdc").toString).schema
      val q = spark.readStream.schema(schema).parquet(new Path(dir, "_pj_cdc").toString)
        .writeStream.format("memory").queryName("pj_cdc_stream")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val streamed = spark.table("pj_cdc_stream")
        .select(col("id"), col("_change_type"), col("v").cast("long"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed.size == 4 && streamed.forall(_._3 == 2L), s"got $streamed")
      // maintenance must not eat the feed: compaction ignores _pj_cdc
      graft.sources.pjparquet.PjCompaction.compact(
        spark, dir, targetBytes = 1L << 20, minFilesPerDir = 1) // v3 (or no-op)
      assert(fs.exists(cdcV2), "compaction must never consume change files")
      // expiry takes the expired versions' change files with it
      PjVacuum.expireVersions(spark, dir, keepVersions = 1)
      assert(!fs.exists(cdcV2), "expired versions drop their change files")
    } finally spark.sql("DROP TABLE IF EXISTS pj_logv2_cdcf")
  }

  test("checkpoint cadence: every 10th commit writes a checkpoint and replay uses it") {
    val dir = tempDir("ckpt")
    val root = new Path(dir)
    val fs = fsOf(dir)
    fs.mkdirs(PjCommitLog.logDir(root))
    for (i <- 0 until 23)
      PjCommitLog.commit(fs, root, "append",
        Seq(PjCommitLog.FileEntry(f"part-$i%03d.parquet", 1L)), Set.empty)
    val names = fs.listStatus(PjCommitLog.logDir(root)).map(_.getPath.getName).toSet
    assert(names.contains(f"${10L}%020d.checkpoint.json"))
    assert(names.contains(f"${20L}%020d.checkpoint.json"))
    // deleting every pre-checkpoint delta must leave v20+ readable
    for (v <- 1 to 9) fs.delete(new Path(PjCommitLog.logDir(root), f"$v%020d.json"), false)
    val v20 = PjCommitLog.read(fs, root, 20L)
    assert(v20.entries.size == 20)
    val head = PjCommitLog.latest(fs, root).get
    assert(head.version == 23L && head.entries.size == 23)
  }

  test("disjoint-DML concurrency: partition-disjoint rewrites both land, overlaps conflict") {
    val dir = tempDir("dmlconc")
    val root = new Path(dir)
    val fs = fsOf(dir)
    fs.mkdirs(PjCommitLog.logDir(root))
    def e(p: String) = PjCommitLog.FileEntry(p, 1L)
    // v1: two partitions
    PjCommitLog.commit(fs, root, "append",
      Seq(e("k=1/a.parquet"), e("k=2/b.parquet")), Set.empty)
    // UPDATE-A on k=1 lands first (planned against v1)
    PjCommitLog.commit(fs, root, "replace-files",
      Seq(e("k=1/a2.parquet")), Set("k=1/a.parquet"),
      operation = Some("update"),
      readVersion = Some(1L), readPartitions = Some(Set(Seq("1"))))
    // UPDATE-B on k=2, ALSO planned against v1 (a true race: its base
    // moved underneath it) — disjoint partitions, must rebase and land
    val vB = PjCommitLog.commit(fs, root, "replace-files",
      Seq(e("k=2/b2.parquet")), Set("k=2/b.parquet"),
      operation = Some("update"),
      readVersion = Some(1L), readPartitions = Some(Set(Seq("2"))))
    assert(vB == 3L)
    val head = PjCommitLog.latest(fs, root).get
    assert(head.files.toSet == Set("k=1/a2.parquet", "k=2/b2.parquet"),
      s"both updates must be live, got ${head.files}")
    // UPDATE-C also against v1 retiring the SAME file UPDATE-A retired:
    // overlap — must conflict loudly even though no version-claim race
    // happened (full validation since the read base)
    val overlap = intercept[graft.core.PJException] {
      PjCommitLog.commit(fs, root, "replace-files",
        Seq(e("k=1/a3.parquet")), Set("k=1/a.parquet"),
        operation = Some("update"),
        readVersion = Some(1L), readPartitions = Some(Set(Seq("1"))))
    }
    assert(overlap.getMessage.contains("conflict"))
    // UPDATE-D against v3 on k=2 while a winner APPENDS into k=2: the
    // appended rows could match D's predicate — conflict
    PjCommitLog.commit(fs, root, "append", Seq(e("k=2/c.parquet")), Set.empty) // v4
    val addedInRead = intercept[graft.core.PJException] {
      PjCommitLog.commit(fs, root, "replace-files",
        Seq(e("k=2/b3.parquet")), Set("k=2/b2.parquet"),
        operation = Some("update"),
        readVersion = Some(3L), readPartitions = Some(Set(Seq("2"))))
    }
    assert(addedInRead.getMessage.contains("conflict"))
    // same rewrite racing an append into a DIFFERENT partition: lands
    PjCommitLog.commit(fs, root, "append", Seq(e("k=9/z.parquet")), Set.empty) // v5
    val vD = PjCommitLog.commit(fs, root, "replace-files",
      Seq(e("k=2/b3.parquet")), Set("k=2/b2.parquet"),
      operation = Some("update"),
      readVersion = Some(5L), readPartitions = Some(Set(Seq("2"))))
    assert(vD == 6L)
    // a remove-bearing commit WITHOUT a declared read base keeps the
    // historical loud-conflict behavior on a claim race — and never
    // silently drops: here it simply wins (no race), proving the default
    // path is untouched
    val vE = PjCommitLog.commit(fs, root, "replace-files",
      Seq(e("k=9/z2.parquet")), Set("k=9/z.parquet"))
    assert(vE == 7L)
  }

  test("parquet checkpoint round-trips bit-identically to JSON replay") {
    import spark.implicits._
    val dir = tempDir("pqckpt")
    val root = new Path(dir)
    val fs = fsOf(dir)
    // real commits so entries carry the full stats envelope (the part a
    // format change is most likely to mangle: raw binary min/max bytes)
    writeLogged(Seq((5L, "ee"), (9L, "ii")).toDF("id", "name").coalesce(1), dir)
    writeLogged(Seq((1L, "aa"), (7L, "gg")).toDF("id", "name").coalesce(1), dir)
    writeLogged(Seq((3L, "cc"), (4L, "dd")).toDF("id", "name").coalesce(1), dir)
    val head = PjCommitLog.latest(fs, root).get
    def normStats(e: PjCommitLog.FileEntry): Seq[(String, Int, Long, Seq[Byte], Seq[Byte])] =
      e.stats.toSeq.sortBy(_._1).map { case (k, cs) =>
        (k, cs.physType, cs.nullCount,
          cs.min.map(_.toSeq).getOrElse(Nil), cs.max.map(_.toSeq).getOrElse(Nil))
      }
    // write the SAME version's checkpoint in both formats and replay each
    val jsonCkptDir = tempDir("pqckpt_json")
    fs.mkdirs(PjCommitLog.logDir(new Path(jsonCkptDir)))
    // parquet-forced checkpoint at head on the real table
    PjCommitLog.writeCheckpoint(fs, root, head.version, entryFormat = Some(true))
    assert(fs.exists(new Path(PjCommitLog.logDir(root),
      f"${head.version}%020d.checkpoint.parquet")), "parquet entry dir must exist")
    // drop the delta files so replay MUST come from the parquet checkpoint
    for (v <- 1L to head.version)
      fs.delete(new Path(PjCommitLog.logDir(root), f"$v%020d.json"), false)
    graft.sources.pjparquet.PjParquetTable.clearLayoutCache()
    val viaParquet = PjCommitLog.read(fs, root, head.version)
    assert((viaParquet.version, viaParquet.ts, viaParquet.action) ==
      (head.version, head.ts, head.action), "snapshot header differs")
    assert(viaParquet.entries.map(_.path) == head.entries.map(_.path))
    assert(viaParquet.entries.map(normStats) == head.entries.map(normStats),
      "stats envelopes must survive the parquet round-trip byte-for-byte")
    assert(viaParquet.entries.map(e => (e.size, e.rows, e.rowGroups, e.fingerprint,
      e.cols)) == head.entries.map(e => (e.size, e.rows, e.rowGroups,
      e.fingerprint, e.cols)))
    assert(viaParquet.dataSchemaJson == head.dataSchemaJson)
    // and the table still reads correctly through the parquet checkpoint
    val got = spark.read.format("pjparquet").load(dir)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 3L, 4L, 5L, 7L, 9L))
  }

  test("incremental parquet checkpoint (engine-built delta apply) equals a full replay") {
    import spark.implicits._
    val dir = tempDir("pqckpt_inc")
    val root = new Path(dir)
    val fs = fsOf(dir)
    writeLogged(Seq((1L, "aa"), (2L, "bb")).toDF("id", "name").coalesce(1), dir)
    writeLogged(Seq((3L, "cc"), (4L, "dd")).toDF("id", "name").coalesce(1), dir)
    writeLogged(Seq((5L, "ee"), (6L, "ff")).toDF("id", "name").coalesce(1), dir)
    // parquet-backed base checkpoint at v3 (forced: below the auto threshold)
    PjCommitLog.writeCheckpoint(fs, root, 3L, entryFormat = Some(true))
    // delta tail: a plain add (v4), a DV re-add of an existing path (v5),
    // and another add (v6) — every entry-mutation shape the apply handles
    writeLogged(Seq((7L, "gg"), (8L, "hh")).toDF("id", "name").coalesce(1), dir)
    spark.sql("DROP TABLE IF EXISTS pj_inc_ck")
    spark.sql(s"CREATE TABLE pj_inc_ck USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_inc_ck WHERE id = 3")
    writeLogged(Seq((9L, "ii")).toDF("id", "name").coalesce(1), dir)
    PjCommitLog.clearSnapshotCache()
    val before = PjCommitLog.read(fs, root, 6L) // parquet base + json tail replay
    assert(before.entries.exists(_.dv.isDefined), "tail must carry a DV re-add")
    // default-format checkpoint at v6: the engine-built incremental path
    PjCommitLog.writeCheckpoint(fs, root, 6L)
    assert(fs.exists(new Path(PjCommitLog.logDir(root), f"${6L}%020d.checkpoint.parquet")),
      "incremental checkpoint must stay parquet-backed")
    // replay MUST now come from the v6 checkpoint alone
    for (v <- 1L to 6L)
      fs.delete(new Path(PjCommitLog.logDir(root), f"$v%020d.json"), false)
    PjCommitLog.clearSnapshotCache()
    graft.sources.pjparquet.PjParquetTable.clearLayoutCache()
    val after = PjCommitLog.read(fs, root, 6L)
    def normStats(e: PjCommitLog.FileEntry): Seq[(String, Int, Long, Seq[Byte], Seq[Byte])] =
      e.stats.toSeq.sortBy(_._1).map { case (k, cs) =>
        (k, cs.physType, cs.nullCount,
          cs.min.map(_.toSeq).getOrElse(Nil), cs.max.map(_.toSeq).getOrElse(Nil))
      }
    assert((after.version, after.ts, after.action) == (before.version, before.ts, before.action))
    assert(after.entries.map(_.path) == before.entries.map(_.path))
    assert(after.entries.map(normStats) == before.entries.map(normStats))
    assert(after.entries.map(e => (e.size, e.rows, e.rowGroups, e.fingerprint,
      e.cols, e.dv)) == before.entries.map(e => (e.size, e.rows, e.rowGroups,
      e.fingerprint, e.cols, e.dv)))
    assert(after.dataSchemaJson == before.dataSchemaJson)
    // the table still reads correctly (DV applied) through the checkpoint
    assert(spark.read.format("pjparquet").load(dir).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L))
    spark.sql("DROP TABLE IF EXISTS pj_inc_ck")
  }

  test("string stats envelopes are prefix-truncated to 32 bytes; pruning stays sound") {
    import spark.implicits._
    val dir = tempDir("stattrunc")
    // three files with 100-byte string values around distinct prefixes:
    // parquet stores these bounds IN FULL in the chunk stats (its own
    // drop guard only kicks in at multi-KB), so without the envelope cap
    // every log entry and checkpoint row would carry them verbatim
    val pad = "x" * 100
    writeLogged(Seq(("aaa" + pad, 1L)).toDF("text", "id").coalesce(1), dir)
    writeLogged(Seq(("mmm" + pad, 2L)).toDF("text", "id").coalesce(1), dir)
    writeLogged(Seq(("zzz" + pad, 3L)).toDF("text", "id").coalesce(1), dir)
    val snap = PjCommitLog.latest(fsOf(dir), new Path(dir)).get
    assert(snap.entries.size == 3)
    snap.entries.foreach { e =>
      val ts = e.stats("text")
      assert(ts.min.forall(_.length <= 32), s"min bound not truncated: ${ts.min.map(_.length)}")
      assert(ts.max.forall(_.length <= 33), s"max bound not truncated: ${ts.max.map(_.length)}")
      // the entry as a whole stays small — the 10 KB value must not ride it
      assert(e.stats.values.flatMap(s => s.min ++ s.max).map(_.length).sum < 200)
    }
    // pruning is still SOUND and still effective: an equality on a prefix
    // inside one file's range matches only that file; rows are never lost
    val df = spark.read.format("pjparquet").load(dir)
    assert(df.filter($"text".startsWith("mmm")).count() == 1L)
    assert(df.count() == 3L)
    // soundness of the rounded-up max: a predicate above every bound
    // ("zz" < "zzz"+pad <= rounded max) still finds the row
    assert(df.filter($"text" > "zz").count() == 1L)
    // and effectiveness: the envelope still prunes disjoint ranges — a
    // value below every file's min matches nothing (metadata-rate no)
    assert(df.filter($"text" < "a").count() == 0L)
  }

  test("parquet checkpoint cleans up on expiry and json-forced checkpoints still work") {
    val dir = tempDir("pqckpt_exp")
    val root = new Path(dir)
    val fs = fsOf(dir)
    fs.mkdirs(PjCommitLog.logDir(root))
    for (i <- 0 until 12)
      PjCommitLog.commit(fs, root, "append",
        Seq(PjCommitLog.FileEntry(f"part-$i%03d.parquet", 1L)), Set.empty)
    // force a parquet checkpoint at v5 (below the auto threshold) and a
    // json one at v7; both must replay
    PjCommitLog.writeCheckpoint(fs, root, 5L, entryFormat = Some(true))
    PjCommitLog.writeCheckpoint(fs, root, 7L, entryFormat = Some(false))
    assert(PjCommitLog.read(fs, root, 5L).entries.size == 5)
    assert(PjCommitLog.read(fs, root, 7L).entries.size == 7)
    assert(PjCommitLog.read(fs, root, 12L).entries.size == 12)
    // history streams headers without materializing parquet entries
    val hist = PjCommitLog.history(fs, root)
    assert(hist.size == 12 && hist.forall(_.nFiles > 0))
  }
}
