package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.sources.pjparquet.PjDeletionVector

/** Merge-on-read DELETE via deletion vectors: codec round-trip, the `_pos`
  * metadata column, position-filtered reads, and the DV delete path's
  * interactions (count pushdown adjustment, time travel, vacuum,
  * compaction materialization).
  */
class PjDeletionVectorSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("codec: round-trip, deltas, crc, merge, range counts") {
    val rnd = new scala.util.Random(42)
    for (n <- Seq(0, 1, 7, 1000, 50000)) {
      val pos = Iterator.continually(math.abs(rnd.nextLong()) % 10000000L)
        .take(n * 2).toSeq.distinct.sorted.take(n).toArray
      val bos = new java.io.ByteArrayOutputStream()
      val count = PjDeletionVector.encode(bos, pos.iterator)
      assert(count == pos.length)
      val back = PjDeletionVector.decode(bos.toByteArray)
      assert(back.toSeq == pos.toSeq)
    }
    // corruption detection
    val bos = new java.io.ByteArrayOutputStream()
    PjDeletionVector.encode(bos, Iterator(1L, 5L, 9L))
    val bytes = bos.toByteArray
    bytes(6) = (bytes(6) ^ 0x01).toByte
    val e = intercept[graft.core.PJException](PjDeletionVector.decode(bytes))
    assert(e.getMessage.contains("crc") || e.getMessage.contains("corrupt"))
    // merge dedups and stays sorted
    val m = PjDeletionVector.merge(Array(1L, 3L, 5L), Array(2L, 3L, 8L))
    assert(m.toSeq == Seq(1L, 2L, 3L, 5L, 8L))
    assert(PjDeletionVector.countInRange(m, 2L, 6L) == 3)
    assert(PjDeletionVector.countInRange(m, 9L, 100L) == 0)
  }

  test("DV DELETE: merge-on-read, no file rewritten, reads exact, count pushdown adjusts") {
    val dir = tempDir("pj_dv_del")
    spark.range(0, 1000).select($"id", ($"id" % 10).as("m"))
      .repartition(2).write.format("pjparquet")
      .mode("append").option("log.enabled", "true").save(dir) // v1: 2 files
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)
    val dataFilesBefore = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
      .entries.map(e => e.path -> fs.getFileStatus(
        new org.apache.hadoop.fs.Path(root, e.path)).getModificationTime).toMap

    spark.sql(s"DROP TABLE IF EXISTS pj_dv_t")
    spark.sql(s"CREATE TABLE pj_dv_t USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_dv_t WHERE m = 3") // 100 rows via deletion vectors

    val head = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
    assert(head.version == 2L, "DV delete must be ONE commit")
    assert(head.entries.size == 2 && head.entries.forall(_.dv.isDefined),
      "both files keep their bytes and gain a vector")
    assert(head.entries.map(_.dv.get.deleted).sum == 100L)
    // no data file rewritten
    head.entries.foreach { e =>
      assert(dataFilesBefore(e.path) == fs.getFileStatus(
        new org.apache.hadoop.fs.Path(root, e.path)).getModificationTime,
        s"data file ${e.path} must not be rewritten")
    }
    // reads are exact (columnar path with selection wrapping)
    val t = spark.table("pj_dv_t")
    assert(t.count() == 900L)
    assert(t.filter($"m" === 3).count() == 0L)
    assert(t.agg(sum($"id")).head().getLong(0) ==
      (0L until 1000L).filterNot(_ % 10 == 3).sum)
    // count(*) stays a metadata answer: rows - dv cardinality
    val plan = t.groupBy().count().queryExecution.optimizedPlan.toString
    assert(plan.contains("LocalRelation") || t.groupBy().count().head().getLong(0) == 900L)
    // min/max pushdown refuses under a vector (the extreme row may be deleted)
    spark.sql("DELETE FROM pj_dv_t WHERE id = 0") // delete the min
    assert(spark.table("pj_dv_t").agg(min($"id")).head().getLong(0) == 1L)
    // delete-on-delete merged vectors
    val h3 = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
    assert(h3.version == 3L && h3.entries.map(_.dv.get.deleted).sum == 101L)
    // time travel BEFORE the deletes sees every row
    assert(spark.read.format("pjparquet").option("versionAsOf", "1")
      .load(dir).count() == 1000L)
    // _pos of survivors still addresses the physical file (stable ids)
    val sample = spark.table("pj_dv_t").filter($"m" === 4)
      .select(col("_pos")).as[Long].collect()
    assert(sample.length == 100)
  }

  test("DV DELETE and UPDATE on a HIVE-PARTITIONED table: vectors, no rewrite, reads exact") {
    // regression: the delta write used to cluster the delete stream on the
    // partition keys, but a pure DELETE's projection carries no data
    // columns — planning failed with "Unable to resolve <partition col>"
    // on ANY partitioned table (the delete command keys on `_file` alone)
    val dir = tempDir("pj_dv_part")
    spark.range(0, 1000).select($"id", ($"id" % 4).as("p"))
      .write.format("pjparquet").partitionBy("p")
      .mode("append").option("log.enabled", "true").save(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    spark.sql(s"DROP TABLE IF EXISTS pj_dv_part_t")
    spark.sql(s"CREATE TABLE pj_dv_part_t USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_dv_part_t WHERE id % 10 = 3") // data predicate, all partitions
    val head = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
    // ids ≡ 3 (mod 10) are odd — exactly the p=1 and p=3 files gain vectors
    assert(head.entries.count(_.dv.isDefined) == 2 &&
      head.entries.filter(_.dv.isDefined).forall(e =>
        e.path.startsWith("p=1/") || e.path.startsWith("p=3/")),
      s"odd partitions gain vectors, none rewritten: ${head.entries}")
    assert(head.entries.flatMap(_.dv).map(_.deleted).sum == 100L)
    val t = spark.table("pj_dv_part_t")
    assert(t.count() == 900L)
    // p=1 holds ids ≡ 1 (mod 4): 250 rows, minus the 50 with id ≡ 13 (mod 20)
    assert(t.filter($"p" === 1).count() == 200L)
    // merge-on-read UPDATE on the partitioned table (projection carries
    // data columns, so partition clustering resolves there)
    spark.sql("UPDATE pj_dv_part_t SET id = id + 10000 WHERE id % 10 = 4")
    assert(spark.table("pj_dv_part_t").filter($"id" >= 10000).count() == 100L)
    assert(spark.table("pj_dv_part_t").count() == 900L)
  }

  test("DV DELETE: full-file deletion retires the file; no-match deletes nothing") {
    val dir = tempDir("pj_dv_full")
    spark.range(0, 100).select($"id", ($"id" < 50).as("lo"))
      .repartition(col("lo")) // two files split by lo
      .write.format("pjparquet").mode("append").option("log.enabled", "true").save(dir)
    spark.sql(s"DROP TABLE IF EXISTS pj_dv_f")
    spark.sql(s"CREATE TABLE pj_dv_f USING pjparquet OPTIONS (path '$dir')")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)
    val nFiles = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get.entries.size
    spark.sql("DELETE FROM pj_dv_f WHERE id >= 50") // exactly one repartition bucket? no — hash; still exact rows
    assert(spark.table("pj_dv_f").count() == 50L)
    val head = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
    // any file whose every row matched must have been retired, not DV'd
    head.entries.foreach(e => assert(e.dv.forall(_.deleted < e.rows)))
    assert(head.entries.size <= nFiles)
    // no-match delete: no new commit
    val vBefore = head.version
    spark.sql("DELETE FROM pj_dv_f WHERE id >= 1000")
    assert(graft.sources.pjparquet.PjCommitLog.latest(fs, root).get.version == vBefore,
      "a no-match DELETE must not commit")
  }

  test("DV interactions: opt-out CoW UPDATE materializes, vacuum protects then sweeps") {
    val dir = tempDir("pj_dv_mix")
    spark.range(0, 200).select($"id", ($"id" % 2 === 0).as("even"), lit(1L).as("v"))
      .coalesce(1).write.format("pjparquet")
      .mode("append").option("log.enabled", "true").save(dir) // v1
    spark.sql(s"DROP TABLE IF EXISTS pj_dv_mix")
    // deletionVectors.enabled=false opts row-level DML back into
    // copy-on-write, which must still APPLY the existing vectors
    spark.sql(s"CREATE TABLE pj_dv_mix USING pjparquet OPTIONS " +
      s"(path '$dir', `deletionVectors.enabled` 'false')")
    // opt-out also reroutes pushable DELETEs to copy-on-write — write the
    // vector through a dv-enabled view of the same path instead
    spark.sql(s"DROP TABLE IF EXISTS pj_dv_mix_on")
    spark.sql(s"CREATE TABLE pj_dv_mix_on USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_dv_mix_on WHERE id < 20") // v2: DV
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)
    assert(graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
      .entries.exists(_.dv.isDefined))
    // CoW UPDATE reads live rows only and its replacement carries no vector
    spark.sql("UPDATE pj_dv_mix SET v = 2 WHERE even") // v3: rewrite
    val h3 = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
    assert(h3.entries.forall(_.dv.isEmpty), "rewrite must materialize the vector away")
    val t = spark.table("pj_dv_mix")
    assert(t.count() == 180L, "deleted rows must not resurrect through the rewrite")
    assert(t.filter($"id" < 20).count() == 0L)
    assert(t.filter($"v" === 2).count() == 90L) // evens in [20,200)
    // the old vector is still referenced by version 2 — vacuum keeps it
    val dvFiles = {
      val d = graft.sources.pjparquet.PjDeletionVector.dvDir(root)
      if (!fs.exists(d)) Seq.empty
      else { val it = fs.listFiles(d, false)
        val b = Seq.newBuilder[String]
        while (it.hasNext) { val s = it.next(); if (s.getPath.getName.endsWith(".dv")) b += s.getPath.getName }
        b.result() }
    }
    assert(dvFiles.nonEmpty)
    graft.sources.pjparquet.PjVacuum.expireVersions(spark, dir, keepVersions = 3)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      graft.sources.pjparquet.PjDeletionVector.dvDir(root), dvFiles.head)),
      "a vector referenced by a kept version must survive vacuum")
    // expire history down to the head (no version references the vector)
    graft.sources.pjparquet.PjVacuum.expireVersions(spark, dir, keepVersions = 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      graft.sources.pjparquet.PjDeletionVector.dvDir(root), dvFiles.head)),
      "an unreferenced vector must be reclaimed")
    assert(spark.table("pj_dv_mix").count() == 180L)
  }

  test("merge-on-read UPDATE: vectors + appended rows, no file rewritten") {
    val dir = tempDir("pj_mor_upd")
    spark.range(0, 1000).select($"id", ($"id" % 10).as("m"), lit(1L).as("v"))
      .repartition(2).write.format("pjparquet")
      .mode("append").option("log.enabled", "true").save(dir) // v1: 2 files
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)
    val beforeFiles = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
      .entries.map(e => e.path -> fs.getFileStatus(
        new org.apache.hadoop.fs.Path(root, e.path)).getModificationTime).toMap
    spark.sql(s"DROP TABLE IF EXISTS pj_mor_u")
    spark.sql(s"CREATE TABLE pj_mor_u USING pjparquet OPTIONS (path '$dir')")

    spark.sql("UPDATE pj_mor_u SET v = 2 WHERE m = 3") // merge-on-read
    val head = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
    assert(head.version == 2L, "one commit")
    // old files keep their bytes and gain vectors; new file(s) hold updates
    val oldEntries = head.entries.filter(e => beforeFiles.contains(e.path))
    val newEntries = head.entries.filterNot(e => beforeFiles.contains(e.path))
    assert(oldEntries.size == 2 && oldEntries.forall(_.dv.isDefined))
    assert(oldEntries.map(_.dv.get.deleted).sum == 100L)
    assert(newEntries.nonEmpty && newEntries.forall(_.dv.isEmpty))
    oldEntries.foreach(e => assert(beforeFiles(e.path) == fs.getFileStatus(
      new org.apache.hadoop.fs.Path(root, e.path)).getModificationTime,
      s"${e.path} must not be rewritten"))
    val t = spark.table("pj_mor_u")
    assert(t.count() == 1000L)
    assert(t.filter($"m" === 3 && $"v" === 2).count() == 100L)
    assert(t.filter($"v" === 1).count() == 900L)
    assert(t.agg(sum($"id")).head().getLong(0) == (0L until 1000L).sum)
    // CDF labels: preimages from the vector diff, postimages from new files
    val v2 = graft.sources.pjparquet.PjChangeFeed.changesAt(spark, dir, 2L)
      .select($"id", $"v", $"_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val wantPre = (0L until 1000L).filter(_ % 10 == 3).map(i => (i, 1L, "update_preimage")).toSet
    val wantPost = (0L until 1000L).filter(_ % 10 == 3).map(i => (i, 2L, "update_postimage")).toSet
    assert(v2 == wantPre ++ wantPost, s"diff: ${(v2 -- wantPre -- wantPost).take(5)}")
    // time travel to v1 sees the original values
    assert(spark.read.format("pjparquet").option("versionAsOf", "1").load(dir)
      .filter($"v" === 2).count() == 0L)
  }

  test("merge-on-read MERGE INTO: matched update + delete, not-matched insert") {
    val dir = tempDir("pj_mor_mrg")
    spark.range(0, 100).select($"id", lit(10L).as("v"))
      .coalesce(1).write.format("pjparquet")
      .mode("append").option("log.enabled", "true").save(dir)
    spark.sql(s"DROP TABLE IF EXISTS pj_mor_m")
    spark.sql(s"CREATE TABLE pj_mor_m USING pjparquet OPTIONS (path '$dir')")
    // source: ids 50..149; matched evens update, matched odds delete,
    // unmatched (>= 100) insert
    spark.range(50, 150).select($"id", lit(99L).as("v"))
      .createOrReplaceTempView("pj_mor_src")
    spark.sql(
      """MERGE INTO pj_mor_m AS t USING pj_mor_src AS s ON t.id = s.id
        |WHEN MATCHED AND s.id % 2 = 0 THEN UPDATE SET v = s.v
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)
    val head = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
    assert(head.version == 2L)
    assert(head.entries.exists(_.dv.exists(_.deleted == 50L)),
      "50 matched rows (25 updated + 25 deleted) retire positions in the base file")
    val got = spark.table("pj_mor_m").select($"id", $"v").as[(Long, Long)]
      .collect().toSet
    val want = (0L until 50L).map(i => (i, 10L)).toSet ++           // untouched
      (50L until 100L).filter(_ % 2 == 0).map(i => (i, 99L)).toSet ++ // updated
      (100L until 150L).map(i => (i, 99L)).toSet                     // inserted
    assert(got == want, s"diff: ${(got diff want).take(5)} / ${(want diff got).take(5)}")
  }

  test("DV + CDF range read and streaming-shape classification") {
    import graft.sources.pjparquet.PjChangeFeed
    val dir = tempDir("pj_dv_cdf")
    spark.range(0, 30).select($"id", lit("x").as("s"))
      .coalesce(1).write.format("pjparquet")
      .mode("append").option("log.enabled", "true").save(dir) // v1
    spark.sql(s"DROP TABLE IF EXISTS pj_dv_cdf")
    spark.sql(s"CREATE TABLE pj_dv_cdf USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_dv_cdf WHERE id IN (3, 7)") // v2: DV
    spark.range(30, 35).select($"id", lit("y").as("s"))
      .coalesce(1).write.format("pjparquet")
      .mode("append").option("log.enabled", "true").save(dir) // v3
    spark.sql("DELETE FROM pj_dv_cdf WHERE id = 8") // v4: DV on top of DV
    val feed = PjChangeFeed.changes(spark, dir, 1L, 4L)
      .select($"id", $"_change_type", $"_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val inserts = (0L until 30L).map(i => (i, "insert", 1L)).toSet ++
      (30L until 35L).map(i => (i, "insert", 3L)).toSet
    assert(feed == inserts + ((3L, "delete", 2L)) + ((7L, "delete", 2L)) +
      ((8L, "delete", 4L)), s"got ${feed -- inserts}")
    // whole-file delete of a dv'd file feeds only the LIVE rows as deletes
    spark.sql("DELETE FROM pj_dv_cdf WHERE s = 'x'") // v5 — hmm: data predicate → DV
    val v5 = PjChangeFeed.changesAt(spark, dir, 5L)
      .select($"id", $"_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v5 == (0L until 30L).filterNot(Seq(3L, 7L, 8L).contains)
      .map(i => (i, "delete")).toSet, s"v5 got $v5")
  }

  test("fully-deleted row groups never plan (contiguous delete on a sorted layout)") {
    val dir = tempDir("pj_dv_rgdrop")
    spark.conf.set("parquet.block.size", (16 * 1024).toString)
    try {
      spark.range(0, 20000).select($"id", ($"id" % 4).as("m"))
        .orderBy($"id").coalesce(1)
        .write.format("pjparquet").mode("append").option("log.enabled", "true").save(dir)
    } finally spark.conf.unset("parquet.block.size")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)
    val nRg = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
      .entries.head.rowGroups
    assert(nRg >= 4, s"premise: several row groups, got $nRg")
    spark.sql(s"DROP TABLE IF EXISTS pj_dv_rgd")
    spark.sql(s"CREATE TABLE pj_dv_rgd USING pjparquet OPTIONS (path '$dir')")
    // contiguous range covering the file's MIDDLE — several whole groups
    spark.sql("DELETE FROM pj_dv_rgd WHERE id >= 5000 AND id < 15000")
    val df = spark.table("pj_dv_rgd")
    val planned = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.partitions.size
    }.sum
    // exactness first
    assert(df.count() == 10000L)
    assert(df.agg(sum($"id")).head().getLong(0) ==
      (0L until 5000L).sum + (15000L until 20000L).sum)
    // the full-table scan of the same data WITHOUT the delete plans more
    // row groups than the post-delete scan (middle groups dropped)
    val fullSplits = spark.read.format("pjparquet")
      .option("versionAsOf", "1").load(dir)
      .queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.partitions.size
      }.sum
    assert(planned < fullSplits || {
      // splits bin-pack row groups, so compare planned row-group counts
      // when the split counts tie
      val rgsOf = (v: Option[String]) => {
        val r = v.map(x => spark.read.format("pjparquet").option("versionAsOf", x))
          .getOrElse(spark.read.format("pjparquet")).load(dir)
        r.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.partitions.flatten.map(_.asInstanceOf[graft.sources.pjparquet.PjInputPartition]
              .rowGroups.length).sum
        }.sum
      }
      rgsOf(None) < rgsOf(Some("1"))
    }, s"post-delete scan must plan fewer row groups ($planned vs $fullSplits splits)")
  }

  test("stale-base DV delete rebases over a disjoint concurrent delete") {
    import graft.sources.pjparquet.{PjCommitLog, PjDeltaWrite}
    val dir = tempDir("pj_dv_conc")
    spark.range(0, 200).select($"id", ($"id" % 2).as("k"))
      .repartition(col("k")).write.format("pjparquet")
      .mode("append").option("log.enabled", "true")
      .option("partitionedBy", "k").partitionBy("k").save(dir) // v1
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    spark.sql(s"DROP TABLE IF EXISTS pj_dv_race")
    spark.sql(s"CREATE TABLE pj_dv_race USING pjparquet OPTIONS (path '$dir')")
    /** Run `stale` with `winner` committing inside its tasks-done-to-commit
      * window, so `stale` commits against a read base one version behind.
      */
    def racing(stale: String, winner: String): Unit = {
      PjDeltaWrite.testHookBeforeCommit = { () =>
        PjDeltaWrite.testHookBeforeCommit = () => ()
        spark.sql(winner)
      }
      try spark.sql(stale)
      finally PjDeltaWrite.testHookBeforeCommit = () => ()
    }
    // writer B plans against v1 and deletes in k=1 ONLY; writer A's DV
    // delete in k=0 lands first (v2). B's partition read set is disjoint
    // from A's touched files, so B's commit must REBASE onto v2 as v3
    racing(stale = "DELETE FROM pj_dv_race WHERE k = 1 AND id < 20",
      winner = "DELETE FROM pj_dv_race WHERE k = 0 AND id < 20")
    val head = PjCommitLog.latest(fs, root).get
    assert(head.version == 3L, s"got v${head.version}")
    def touched(v: Long): Set[String] =
      PjCommitLog.delta(fs, root, v).add.map(_.path.takeWhile(_ != '/')).toSet
    assert(touched(2L) == Set("k=0") && touched(3L) == Set("k=1"),
      "A lands as v2, B rebases to v3")
    val t = spark.table("pj_dv_race")
    assert(t.count() == 180L, "both deletes must be live")
    assert(t.filter($"id" < 20).count() == 0L)
    // an OVERLAPPING stale delete (same partition the winner touched) conflicts
    val e = intercept[Throwable](racing(
      stale = "DELETE FROM pj_dv_race WHERE k = 0 AND id < 40", // base v3
      winner = "DELETE FROM pj_dv_race WHERE k = 0 AND id >= 190")) // v4
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("conflict"))), s"got: $e")
    assert(PjCommitLog.latest(fs, root).get.version == 4L)
  }

  test("DV reads through NESTED schemas: struct and array columns remap per selection") {
    val dir = tempDir("pj_dv_nested")
    spark.range(0, 300)
      .select($"id",
        struct(($"id" * 2).as("a"), concat(lit("s"), $"id").as("b")).as("st"),
        array($"id", $"id" + 1, $"id" + 2).as("arr"))
      .coalesce(1).write.format("pjparquet")
      .mode("append").option("log.enabled", "true").save(dir)
    spark.sql(s"DROP TABLE IF EXISTS pj_dv_nested")
    spark.sql(s"CREATE TABLE pj_dv_nested USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_dv_nested WHERE id % 3 = 1") // non-pushable → delta write
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)
    val head = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
    assert(head.entries.exists(_.dv.isDefined), "nested file must gain a vector")
    val t = spark.table("pj_dv_nested")
    assert(t.count() == 200L)
    // struct fields read through the selection wrapper's child remap
    val got = t.select($"id", $"st.a", $"st.b", $"arr")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getSeq[Long](3))).sortBy(_._1)
    val want = (0L until 300L).filterNot(_ % 3 == 1)
      .map(i => (i, i * 2, s"s$i", Seq(i, i + 1, i + 2)))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"row mismatch: $g vs $w") }
    // whole-struct + aggregate over array elements stay exact
    assert(t.select(explode($"arr")).count() == 600L)
    assert(t.agg(sum($"st.a")).head().getLong(0) ==
      (0L until 300L).filterNot(_ % 3 == 1).map(_ * 2).sum)
  }

  test("dedupInPlace: one rep per key, vectors only, idempotent rerun") {
    val dir = tempDir("pj_dv_dedup")
    val base = spark.range(0, 90).select(($"id" % 30).as("k"), $"id".as("payload"))
    base.repartition(2).write.format("pjparquet")
      .mode("append").option("log.enabled", "true").save(dir) // 30 keys × 3 copies
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)
    val files = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
      .entries.map(_.path).toSet
    val (v1, removed1) = graft.operators.PipelineOps.dedupInPlace(spark, dir, Seq("k"))
    assert(v1.contains(2L) && removed1 == 60L, s"got $v1 / $removed1")
    val head = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
    assert(head.entries.forall(e => files.contains(e.path)), "no file rewritten")
    val t = spark.read.format("pjparquet").load(dir)
    assert(t.count() == 30L)
    assert(t.select($"k").distinct().count() == 30L)
    // the kept representative is deterministic: smallest (_file, _pos)
    val kept1 = t.select($"k", $"payload").as[(Long, Long)].collect().toSet
    // rerun: nothing left to remove, NO new commit
    val (v2, removed2) = graft.operators.PipelineOps.dedupInPlace(spark, dir, Seq("k"))
    assert(v2.isEmpty && removed2 == 0L, s"got $v2 / $removed2")
    assert(graft.sources.pjparquet.PjCommitLog.latest(fs, root).get.version == 2L)
    assert(spark.read.format("pjparquet").load(dir)
      .select($"k", $"payload").as[(Long, Long)].collect().toSet == kept1)
  }

  test("dedupInPlace loser shuffle carries 32-byte digests, not the raw key payload") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = tempDir("pj_dv_dedup_slim")
    spark.range(0, 60)
      .select(concat(lit("shared document text payload "), ($"id" % 20).cast("string")).as("text"),
        $"id".as("payload"))
      .repartition(2).write.format("pjparquet")
      .mode("append").option("log.enabled", "true").save(dir)
    val t = spark.read.format("pjparquet").load(dir)
    val losers = graft.operators.PipelineOps.dedupLosers(t, Seq("text"))
    losers.collect() // materialize so AQE's final plan is available
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => exchanges(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => exchanges(r.child)
      case e: ShuffleExchangeExec => e +: e.children.flatMap(exchanges)
      case other => other.children.flatMap(exchanges)
    }
    val ex = exchanges(losers.queryExecution.executedPlan)
    assert(ex.nonEmpty, "expected the window's hash exchange")
    // the exchange ships (digest, _file, _pos) — never the raw key column
    ex.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"raw key column shuffled: ${e.output.map(_.name)}")
      assert(e.output.exists(_.name == "_kd"), s"digest missing: ${e.output.map(_.name)}")
    }
    // and the slim plan selects the same losers the raw-key window would
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"text").orderBy($"_file".asc, $"_pos".asc)
    val raw = t.select($"text", $"_file", $"_pos")
      .withColumn("_rk", org.apache.spark.sql.functions.row_number().over(w))
      .filter($"_rk" > 1).select($"_file".as("f"), $"_pos".as("p"))
      .as[(String, Long)].collect().toSet
    assert(losers.as[(String, Long)].collect().toSet == raw)
  }

  test("DV entries survive JSON and parquet checkpoints bit-identically") {
    import graft.sources.pjparquet.PjCommitLog
    val dir = tempDir("pj_dv_ckpt")
    spark.range(0, 100).select($"id", lit("z").as("s")).coalesce(1)
      .write.format("pjparquet").mode("append").option("log.enabled", "true").save(dir)
    spark.sql(s"DROP TABLE IF EXISTS pj_dv_ck")
    spark.sql(s"CREATE TABLE pj_dv_ck USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_dv_ck WHERE id BETWEEN 10 AND 19")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)
    val replayed = PjCommitLog.latest(fs, root).get
    def norm(e: PjCommitLog.FileEntry) = (e.path, e.rows, e.dv)
    for (parquetEntries <- Seq(false, true)) {
      val d = tempDir(s"pj_dv_ck_$parquetEntries")
      // copy log + files, force a checkpoint in the requested format
      org.apache.hadoop.fs.FileUtil.copy(fs, root,
        fs, new org.apache.hadoop.fs.Path(d, "t"), false,
        spark.sessionState.newHadoopConf())
      val r2 = new org.apache.hadoop.fs.Path(d, "t")
      PjCommitLog.writeCheckpoint(fs, r2, replayed.version,
        entryFormat = Some(parquetEntries))
      PjCommitLog.clearSnapshotCache()
      val back = PjCommitLog.read(fs, r2, replayed.version)
      assert(back.entries.map(norm) == replayed.entries.map(norm),
        s"checkpoint(parquet=$parquetEntries) must round-trip dv entries")
      assert(back.entries.exists(_.dv.isDefined))
      // the checkpointed table still reads exactly
      assert(spark.read.format("pjparquet").load(r2.toString).count() == 90L)
    }
  }

  test("purge procedure rewrites ONLY vector-carrying files") {
    val dir = tempDir("pj_dv_purge")
    spark.range(0, 100).select($"id", ($"id" < 50).as("lo")).coalesce(1)
      .write.format("pjparquet").mode("append").option("log.enabled", "true").save(dir) // f1
    spark.range(100, 200).select($"id", lit(false).as("lo")).coalesce(1)
      .write.format("pjparquet").mode("append").option("log.enabled", "true").save(dir) // f2
    spark.sql(s"DROP TABLE IF EXISTS pj_dv_pg")
    spark.sql(s"CREATE TABLE pj_dv_pg USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_dv_pg WHERE id BETWEEN 0 AND 4") // DV on f1 only
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)
    val before = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
      .entries.map(e => e.path -> e.dv.isDefined).toMap
    assert(before.values.count(identity) == 1)
    spark.conf.set("spark.sql.catalog.pjdv", "graft.sources.pjparquet.PjCatalog")
    val report = spark.sql(s"CALL pjdv.system.purge_deletion_vectors(`table` => '$dir')")
      .collect()
    assert(report.nonEmpty)
    val after = graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
    assert(after.entries.forall(_.dv.isEmpty), "purge must materialize every vector")
    // the vector-free file survives byte-identical (same rel path)
    val untouched = before.collect { case (rel, false) => rel }.toSet
    assert(untouched.subsetOf(after.entries.map(_.path).toSet),
      "files without vectors must not be rewritten by purge")
    assert(spark.table("pj_dv_pg").count() == 195L)
  }

  test("positions stay exact under pushed filters that drop row groups") {
    // a sorted multi-row-group file + a selective range filter: with a
    // reader FilterPredicate the parquet reader would skip leading row
    // groups INSIDE the reader and desynchronize the position cursor —
    // the scan must suppress it on vector-carrying reads
    val dir = tempDir("pj_dv_rgskip")
    spark.conf.set("parquet.block.size", (16 * 1024).toString)
    try {
      spark.range(0, 20000).select($"id", ($"id" % 100).as("m"))
        .orderBy($"id").coalesce(1)
        .write.format("pjparquet").mode("append").option("log.enabled", "true").save(dir)
    } finally spark.conf.unset("parquet.block.size")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)
    assert(graft.sources.pjparquet.PjCommitLog.latest(fs, root).get
      .entries.head.rowGroups > 3, "premise: several row groups")
    spark.sql(s"DROP TABLE IF EXISTS pj_dv_rg")
    spark.sql(s"CREATE TABLE pj_dv_rg USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_dv_rg WHERE id BETWEEN 15000 AND 15099")
    // range filter in the file's TAIL: row-group stats would let a reader
    // predicate drop every leading group
    val got = spark.table("pj_dv_rg")
      .filter($"id" >= 14990 && $"id" <= 15110)
      .select($"id").as[Long].collect().sorted
    val want = (14990L to 15110L).filterNot(i => i >= 15000 && i <= 15099)
    assert(got.toSeq == want, s"got ${got.length} rows, want ${want.length}")
    // _pos under the same selective filter: position == id (sorted single writer)
    val pos = spark.table("pj_dv_rg")
      .filter($"id" >= 19990)
      .select($"id", col("_pos")).as[(Long, Long)].collect()
    assert(pos.nonEmpty && pos.forall { case (id, p) => id == p },
      s"mismatches: ${pos.filterNot { case (i, p) => i == p }.take(3).toSeq}")
  }

  test("_pos metadata column: file-absolute ordinals across row groups and splits") {
    val dir = tempDir("pj_pos")
    // several row groups: small block size forces multiple
    spark.conf.set("parquet.block.size", (16 * 1024).toString)
    try {
      spark.range(0, 5000).select($"id", ($"id" % 7).as("k"))
        .coalesce(1).write
        .format("pjparquet").mode("append").option("log.enabled", "true").save(dir)
    } finally spark.conf.unset("parquet.block.size")
    val t = spark.read.format("pjparquet").load(dir)
    val got = t.select($"id", col("_pos")).as[(Long, Long)].collect().sortBy(_._1)
    // single sorted writer file: id written in order, so _pos == id
    assert(got.length == 5000)
    assert(got.forall { case (id, pos) => id == pos },
      s"first mismatches: ${got.filterNot { case (i, p) => i == p }.take(5).toSeq}")
    // row-group count really was > 1 (the test's premise)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val head = graft.sources.pjparquet.PjCommitLog.latest(
      fs, new org.apache.hadoop.fs.Path(dir)).get
    assert(head.entries.head.rowGroups > 1)
  }
}
