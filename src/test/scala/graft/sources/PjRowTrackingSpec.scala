package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.sources.pjparquet.{PjCommitLog, PjCompaction}

/** Round-13 row tracking (Delta-style stable row ids): appends mint
  * disjoint id ranges from a log watermark (`_row_id` = baseRowId +
  * position), DV deletes keep ids trivially, and id-preserving rewrites
  * (compaction / OPTIMIZE ZORDER) MATERIALIZE ids so they survive the
  * move — which also makes the rewrite a provable pure-move the change
  * feed skips at metadata rate (no diff, no data read).
  */
class PjRowTrackingSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newDir(tag: String): String = tempDir(s"pj_rowtrack_$tag")

  /** A fresh NONEXISTENT path (CREATE TABLE refuses an existing dir). */
  private def freshPath(tag: String): String = s"${newDir(tag)}/t"

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def writeLogged(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
    df.write.format("pjparquet").mode("append").option("log.enabled", "true").save(dir)

  private def idsByKey(dir: String): Map[Long, Long] =
    spark.read.format("pjparquet").load(dir)
      .selectExpr("id", "_row_id").as[(Long, Long)].collect().toMap

  test("appends mint disjoint contiguous id ranges; _row_id = base + pos") {
    val dir = newDir("mint")
    writeLogged(spark.range(0, 10).toDF("id").coalesce(1), dir)
    writeLogged(spark.range(100, 105).toDF("id").coalesce(1), dir)
    val snap = PjCommitLog.latest(fsOf(dir), new Path(dir)).get
    assert(snap.entries.forall(_.baseRowId >= 0), s"entries must be tracked: ${snap.entries}")
    assert(snap.rowWatermark.contains("15"), s"watermark must be 15, got ${snap.rowWatermark}")
    val rids = spark.read.format("pjparquet").load(dir)
      .selectExpr("_row_id").as[Long].collect().sorted.toSeq
    assert(rids == (0L until 15L), s"ids must be the dense watermark range, got $rids")
    // multi-file append: per-entry ranges stay disjoint
    writeLogged(spark.range(200, 230).toDF("id").repartition(3), dir)
    val all = spark.read.format("pjparquet").load(dir)
      .selectExpr("_row_id").as[Long].collect().toSeq
    assert(all.distinct.size == 45, s"duplicate row ids: ${all.sorted}")
    assert(all.max == 44L)
  }

  test("DV delete keeps survivors' ids; compaction preserves them exactly") {
    val dir = newDir("compact")
    writeLogged(spark.range(0, 30).select($"id", ($"id" % 3).as("k")).coalesce(1), dir)
    writeLogged(spark.range(30, 60).select($"id", ($"id" % 3).as("k")).coalesce(1), dir)
    val before = idsByKey(dir)
    spark.sql("DROP TABLE IF EXISTS pj_rt_t")
    spark.sql(s"CREATE TABLE pj_rt_t USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_rt_t WHERE id % 10 = 0") // DV: files stay
    val afterDelete = idsByKey(dir)
    assert(afterDelete.size == 54)
    afterDelete.foreach { case (id, rid) =>
      assert(rid == before(id), s"DV delete changed row $id's id: ${before(id)} -> $rid")
    }
    // compaction consumes the DV files and MATERIALIZES ids
    PjCompaction.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    val afterCompact = idsByKey(dir)
    assert(afterCompact == afterDelete,
      "compaction must preserve every surviving row's stable id")
    val snap = PjCommitLog.latest(fsOf(dir), new Path(dir)).get
    assert(snap.entries.forall(_.materializedRowIds),
      s"compacted entries must materialize ids: ${snap.entries.map(e => (e.path, e.cols))}")
    // and the hidden column never surfaces in the table schema
    val cols = spark.read.format("pjparquet").load(dir).columns.toSeq
    assert(!cols.exists(_.contains("_pj_row_id")), s"hidden column leaked: $cols")
    // appends after compaction mint ABOVE the watermark (no reuse)
    writeLogged(spark.range(1000, 1005).select($"id", ($"id" % 3).as("k")).coalesce(1), dir)
    val post = idsByKey(dir)
    val fresh = (post.keySet -- afterCompact.keySet).map(post)
    assert(fresh.forall(_ >= 60L), s"fresh ids must stay above the watermark: $fresh")
    assert(post.values.toSeq.distinct.size == post.size, "id collision after compaction")
    spark.sql("DROP TABLE IF EXISTS pj_rt_t")
  }

  test("a second compaction passes materialized ids through unchanged") {
    val dir = newDir("double")
    writeLogged(spark.range(0, 20).select($"id", lit("x").as("s")).coalesce(1), dir)
    writeLogged(spark.range(20, 40).select($"id", lit("y").as("s")).coalesce(1), dir)
    val before = idsByKey(dir)
    PjCompaction.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    // add small files so the SECOND compaction consumes materialized + fresh
    writeLogged(spark.range(40, 45).select($"id", lit("z").as("s")).coalesce(1), dir)
    writeLogged(spark.range(45, 50).select($"id", lit("z").as("s")).coalesce(1), dir)
    val mid = idsByKey(dir)
    before.foreach { case (id, rid) => assert(mid(id) == rid) }
    PjCompaction.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    val after = idsByKey(dir)
    assert(after == mid, "re-compaction must pass materialized ids through")
  }

  test("change feed skips an id-preserving compaction at metadata rate (no scan)") {
    val dir = newDir("cdf")
    writeLogged(spark.range(0, 25).select($"id", ($"id" * 2).as("v")).coalesce(1), dir) // v1
    writeLogged(spark.range(25, 50).select($"id", ($"id" * 2).as("v")).coalesce(1), dir) // v2
    PjCompaction.compact(spark, dir, targetBytes = 512L * 1024 * 1024) // v3: pure move
    val fs = fsOf(dir)
    val d = PjCommitLog.delta(fs, new Path(dir), 3L)
    assert(d.preservedRows, "an all-tracked compaction must record preservedRows")
    val cdf = graft.sources.pjparquet.PjChangeFeed.changesAt(spark, dir, 3L)
    assert(cdf.count() == 0L, "a pure-move rewrite must emit no changes")
    // plan-shape proof: the feed never scans data (folds to an empty
    // local relation — O(changed)=O(0), not a multiset diff)
    val plan = cdf.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("pjparquet") || plan.contains("Empty"),
      s"preserved-rows CDF must not plan a data scan:\n$plan")
    // a REAL change after the compaction still diffs normally
    spark.sql("DROP TABLE IF EXISTS pj_rt_cdf")
    spark.sql(s"CREATE TABLE pj_rt_cdf USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_rt_cdf WHERE id = 7") // v4
    val cdf4 = graft.sources.pjparquet.PjChangeFeed.changesAt(spark, dir, 4L)
    assert(cdf4.count() == 1L)
    spark.sql("DROP TABLE IF EXISTS pj_rt_cdf")
  }

  test("OPTIMIZE ZORDER preserves ids and records the pure move") {
    val dir = newDir("zorder")
    writeLogged(spark.range(0, 64)
      .select($"id", ($"id" % 8).as("x"), ($"id" / 8).cast("long").as("y"))
      .coalesce(1), dir)
    val before = idsByKey(dir)
    PjCompaction.optimize(spark, dir, Seq("x", "y"), targetBytes = 512L * 1024 * 1024)
    val after = idsByKey(dir)
    assert(after == before, "ZORDER must preserve stable row ids")
    val fs = fsOf(dir)
    val head = PjCommitLog.versions(fs, new Path(dir)).last
    assert(PjCommitLog.delta(fs, new Path(dir), head).preservedRows)
  }

  test("merge-on-read UPDATE keeps row ids; MERGE inserts mint fresh ones") {
    val dir = newDir("update")
    writeLogged(spark.range(0, 20).select($"id", ($"id" * 10).as("v")).coalesce(1), dir)
    val before = idsByKey(dir)
    spark.sql("DROP TABLE IF EXISTS pj_rt_up")
    spark.sql(s"CREATE TABLE pj_rt_up USING pjparquet OPTIONS (path '$dir')")
    // merge-on-read UPDATE: delete positions + reinsert into a new file —
    // the reinserted rows must KEEP their stable ids
    spark.sql("UPDATE pj_rt_up SET v = v + 1 WHERE id % 4 = 0")
    val after = idsByKey(dir)
    assert(after.size == 20)
    after.foreach { case (id, rid) =>
      assert(rid == before(id), s"UPDATE changed row $id's id: ${before(id)} -> $rid")
    }
    // values really changed
    val updated = spark.read.format("pjparquet").load(dir)
      .where($"id" % 4 === 0).selectExpr("id", "v").as[(Long, Long)].collect().toMap
    assert(updated.forall { case (id, v) => v == id * 10 + 1 })
    // MERGE: matched rows keep ids, NOT MATCHED inserts mint fresh unique
    // ids above the watermark
    Seq((3L, 999L), (100L, 1000L), (101L, 1010L)).toDF("id", "v")
      .createOrReplaceTempView("pj_rt_src")
    spark.sql(
      """MERGE INTO pj_rt_up AS t USING pj_rt_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val post = idsByKey(dir)
    assert(post.size == 22)
    assert(post(3L) == before(3L), "MERGE-matched row must keep its id")
    val minted = Seq(post(100L), post(101L))
    assert(minted.forall(_ >= 20L), s"fresh ids must mint above the watermark: $minted")
    assert(post.values.toSeq.distinct.size == 22, s"id collision: ${post.toSeq.sorted}")
    spark.sql("DROP TABLE IF EXISTS pj_rt_up")
  }

  test("the row-id watermark survives version expiry (checkpoint-only replay)") {
    val dir = newDir("expiry")
    writeLogged(spark.range(0, 30).toDF("id").coalesce(1), dir) // ids 0..29
    // full-table DV delete retires every row, then expiry drops history:
    // the only thing carrying the watermark forward is the checkpoint
    spark.sql("DROP TABLE IF EXISTS pj_rt_exp")
    spark.sql(s"CREATE TABLE pj_rt_exp USING pjparquet OPTIONS (path '$dir')")
    spark.sql("DELETE FROM pj_rt_exp WHERE id >= 0")
    graft.sources.pjparquet.PjVacuum.expireVersions(spark, dir, keepVersions = 1)
    PjCommitLog.clearSnapshotCache()
    val snap = PjCommitLog.latest(fsOf(dir), new Path(dir)).get
    assert(snap.rowWatermark.exists(_.toLong >= 30L),
      s"expiry must not lose the watermark, got ${snap.rowWatermark}")
    // fresh rows mint ABOVE the expired generation's ids — never recycled
    writeLogged(spark.range(100, 105).toDF("id").coalesce(1), dir)
    val rids = spark.read.format("pjparquet").load(dir)
      .selectExpr("_row_id").as[Long].collect().toSeq
    assert(rids.forall(_ >= 30L), s"recycled ids after expiry: $rids")
    spark.sql("DROP TABLE IF EXISTS pj_rt_exp")
  }

  test("time travel serves each version's own row ids consistently") {
    val dir = newDir("travel")
    writeLogged(spark.range(0, 10).toDF("id").coalesce(1), dir) // v1: ids 0..9
    writeLogged(spark.range(10, 15).toDF("id").coalesce(1), dir) // v2: ids 10..14
    PjCompaction.compact(spark, dir, targetBytes = 512L * 1024 * 1024) // v3: materialized
    def idsAt(v: Long): Map[Long, Long] =
      spark.read.format("pjparquet").option("versionAsOf", v.toString).load(dir)
        .selectExpr("id", "_row_id").as[(Long, Long)].collect().toMap
    val v1 = idsAt(1L)
    assert(v1.size == 10 && v1.values.toSeq.sorted == (0L until 10L))
    val v2 = idsAt(2L)
    assert(v2.size == 15)
    v1.foreach { case (id, rid) => assert(v2(id) == rid) }
    val v3 = idsAt(3L)
    assert(v3 == v2, "compaction must serve the same ids at head as pre-compaction")
  }

  test("racing appenders never mint the same row id (claim-loop reassignment)") {
    val dir = newDir("race")
    writeLogged(spark.range(0, 5).toDF("id").coalesce(1), dir) // v1 seeds the log
    // 6 concurrent appends: losers of the version claim rebase and must
    // RE-MINT from the winner's advanced watermark
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val futs = (0 until 6).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            writeLogged(
              spark.range(100L * (t + 1), 100L * (t + 1) + 10).toDF("id").coalesce(1), dir)
        })
      }
      futs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val rids = spark.read.format("pjparquet").load(dir)
      .selectExpr("_row_id").as[Long].collect().toSeq
    assert(rids.size == 65)
    assert(rids.distinct.size == 65, s"duplicate row ids under racing appends: ${rids.sorted}")
    // the watermark covers every minted id
    val snap = PjCommitLog.latest(fsOf(dir), new Path(dir)).get
    assert(snap.rowWatermark.exists(_.toLong > rids.max),
      s"watermark ${snap.rowWatermark} must exceed max id ${rids.max}")
  }

  test("detail exposes row-tracking facts: tracked file count + id watermark") {
    val dir = newDir("detail")
    writeLogged(spark.range(0, 12).toDF("id").coalesce(1), dir)
    writeLogged(spark.range(12, 20).toDF("id").coalesce(1), dir)
    spark.conf.set("spark.sql.catalog.pjrtd", "graft.sources.pjparquet.PjCatalog")
    val d = spark.sql(s"CALL pjrtd.system.detail('$dir')").collect().head
    val byName = d.schema.fieldNames.zipWithIndex.toMap
    assert(d.getLong(byName("row_tracked_files")) == 2L)
    assert(d.getLong(byName("row_id_watermark")) == 20L)
  }

  test("copy-on-write UPDATE preserves row ids (generated-column table routes CoW)") {
    val dir = freshPath("cow_gen")
    spark.conf.set("spark.sql.catalog.pjrt", "graft.sources.pjparquet.PjCatalog")
    spark.sql(s"CREATE TABLE pjrt.`$dir` (x BIGINT, " +
      "doubled BIGINT GENERATED ALWAYS AS (x * 2)) USING pjparquet")
    spark.range(0, 20).toDF("x").coalesce(1)
      .write.format("pjparquet").mode("append").save(dir)
    val before = spark.table(s"pjrt.`$dir`")
      .selectExpr("x", "_row_id").as[(Long, Long)].collect().toMap
    assert(before.size == 20 && before.values.toSeq.distinct.size == 20)
    // generated column forces the COPY-ON-WRITE route (dependents recompute)
    spark.sql(s"UPDATE pjrt.`$dir` SET x = x + 100 WHERE x % 4 = 0")
    val after = spark.table(s"pjrt.`$dir`")
      .selectExpr("x", "_row_id", "doubled").as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(after.size == 20)
    // untouched rows of the REWRITTEN files keep their ids…
    (0L until 20L).filterNot(_ % 4 == 0).foreach { x =>
      assert(after(x)._1 == before(x), s"CoW UPDATE reminted untouched row $x's id")
    }
    // …and updated rows keep theirs too (Delta semantics: the id survives
    // the update; only the values change)
    (0L until 20L).filter(_ % 4 == 0).foreach { x =>
      assert(after(x + 100)._1 == before(x), s"CoW UPDATE reminted updated row $x's id")
      assert(after(x + 100)._2 == (x + 100) * 2, "generated column must recompute")
    }
    // replacement files are row-TRACKED entries (materialized id column),
    // and the hidden column never leaks into the user schema
    val snap = PjCommitLog.latest(fsOf(dir), new Path(dir)).get
    assert(snap.entries.forall(_.rowTracked), s"CoW entries must be tracked: ${snap.entries}")
    assert(!spark.table(s"pjrt.`$dir`").columns.exists(_.equalsIgnoreCase("_pj_row_id")))
    assert(!snap.dataSchemaJson.exists(_.contains("_pj_row_id")),
      "materialized id column must not enter the recorded schema")
    spark.sql(s"DROP TABLE pjrt.`$dir`")
  }

  test("copy-on-write MERGE keeps matched ids, mints fresh for inserts (identity table)") {
    val dir = freshPath("cow_merge")
    spark.conf.set("spark.sql.catalog.pjrt", "graft.sources.pjparquet.PjCatalog")
    spark.sql(s"CREATE TABLE pjrt.`$dir` (id BIGINT GENERATED ALWAYS AS IDENTITY " +
      "(START WITH 1000 INCREMENT BY 1), k BIGINT, v BIGINT) USING pjparquet")
    spark.range(0, 12).select($"id".as("k"), ($"id" * 7).as("v")).coalesce(1)
      .write.format("pjparquet").mode("append").save(dir)
    val before = spark.table(s"pjrt.`$dir`")
      .selectExpr("k", "_row_id").as[(Long, Long)].collect().toMap
    Seq((3L, 999L), (50L, 500L)).toDF("k", "v").createOrReplaceTempView("pj_rt_cow_src")
    // identity table → MERGE routes copy-on-write (watermark minting)
    spark.sql(
      s"""MERGE INTO pjrt.`$dir` AS t USING pj_rt_cow_src AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val post = spark.table(s"pjrt.`$dir`")
      .selectExpr("k", "_row_id").as[(Long, Long)].collect().toMap
    assert(post.size == 13)
    (0L until 12L).foreach { k =>
      assert(post(k) == before(k), s"CoW MERGE reminted row $k's id: ${before(k)} -> ${post(k)}")
    }
    assert(post(50L) >= 12L, s"insert must mint above the watermark, got ${post(50L)}")
    assert(post.values.toSeq.distinct.size == 13, s"id collision: ${post.toSeq.sorted}")
    spark.sql(s"DROP TABLE pjrt.`$dir`")
  }

  test("rowTracking.required + deletionVectors disabled: CoW UPDATE and DELETE keep ids") {
    val dir = freshPath("cow_nodv")
    spark.conf.set("spark.sql.catalog.pjrt", "graft.sources.pjparquet.PjCatalog")
    spark.sql(s"CREATE TABLE pjrt.`$dir` (id BIGINT, v BIGINT) USING pjparquet " +
      "TBLPROPERTIES ('pj.rowTracking.required'='true', " +
      "'pj.deletionVectors.enabled'='false')")
    spark.range(0, 24).select($"id", ($"id" * 3).as("v")).coalesce(1)
      .write.format("pjparquet").mode("append").save(dir)
    val before = spark.table(s"pjrt.`$dir`")
      .selectExpr("id", "_row_id").as[(Long, Long)].collect().toMap
    // with vectors disabled, UPDATE and DELETE both copy-on-write
    spark.sql(s"UPDATE pjrt.`$dir` SET v = v + 1 WHERE id % 6 = 0")
    val afterUpdate = spark.table(s"pjrt.`$dir`")
      .selectExpr("id", "_row_id").as[(Long, Long)].collect().toMap
    afterUpdate.foreach { case (id, rid) =>
      assert(rid == before(id), s"no-DV CoW UPDATE reminted row $id's id")
    }
    spark.sql(s"DELETE FROM pjrt.`$dir` WHERE id % 2 = 1")
    val afterDelete = spark.table(s"pjrt.`$dir`")
      .selectExpr("id", "_row_id").as[(Long, Long)].collect().toMap
    assert(afterDelete.size == 12)
    afterDelete.foreach { case (id, rid) =>
      assert(rid == before(id), s"no-DV CoW DELETE reminted survivor $id's id")
    }
    // no deletion vector was involved: every live entry is vector-free
    val snap = PjCommitLog.latest(fsOf(dir), new Path(dir)).get
    assert(snap.entries.forall(_.dv.isEmpty), "deletion vectors must stay disabled")
    spark.sql(s"DROP TABLE pjrt.`$dir`")
  }

  test("untracked legacy entries read _row_id as NULL; fresh appends are tracked") {
    val dir = newDir("legacy")
    // an adopted pre-log file: entry has no facts, no baseRowId
    spark.range(0, 5).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    writeLogged(spark.range(5, 8).toDF("id").coalesce(1), dir) // adopts + appends
    val rows = spark.read.format("pjparquet").load(dir)
      .selectExpr("id", "_row_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows.size == 8)
    assert((0L until 5L).forall(i => rows(i).isEmpty),
      s"adopted rows must read NULL _row_id, got $rows")
    assert((5L until 8L).forall(i => rows(i).isDefined),
      s"fresh rows must be tracked, got $rows")
  }
}
