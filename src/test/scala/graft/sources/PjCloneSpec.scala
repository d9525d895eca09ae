package graft.sources

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.core.PJException
import graft.sources.pjparquet.{PjClone, PjCommitLog, PjVacuum}

/** SHALLOW CLONE ([[graft.sources.pjparquet.PjClone]]): a zero-copy fork
  * whose first commit references the source's files absolutely. The
  * contract under test: clone reads equal the source snapshot; DML,
  * appends, vacuum and expiry on the clone NEVER touch source bytes; the
  * clone carries schema, constraints and table properties; cloning at an
  * old version forks history.
  */
class PjCloneSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.pjc", "graft.sources.pjparquet.PjCatalog")

  private def newDir(tag: String): String = tempDir(s"pj_clone_$tag")
  /** A fresh NONEXISTENT path (a clone target must not exist yet). */
  private def freshTarget(tag: String): String = s"${newDir(tag)}/t"
  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def mkSource(tag: String, rows: Int = 40): String = {
    val dir = newDir(tag)
    (1 to rows).map(i => (i.toLong, s"name_$i", i % 4))
      .toDF("id", "name", "grp").coalesce(2)
      .write.format("pjparquet").mode("append").option("log.enabled", "true").save(dir)
    dir
  }

  private def fileListing(dir: String): Map[String, Long] = {
    val fs = fsOf(dir)
    val it = fs.listFiles(new Path(dir), true)
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile) b += (s.getPath.toString ->
        (s.getLen * 31 + s.getModificationTime))
    }
    b.result()
  }

  test("clone is a one-commit zero-copy fork; reads match the source") {
    val src = mkSource("basic")
    val tgt = freshTarget("basic_t")
    val r = PjClone.shallowClone(spark, src, tgt)
    assert(r.targetVersion == 1L && r.files == 2L && r.sourceVersion == 1L)
    // no data bytes under the clone — only the log
    val localParquet = fsOf(tgt).listFiles(new Path(tgt), true)
    var dataFiles = 0
    while (localParquet.hasNext) {
      val s = localParquet.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.toString.contains("_pj_log")) dataFiles += 1
    }
    assert(dataFiles == 0, "shallow clone copied data files")
    val a = spark.read.format("pjparquet").load(src).orderBy("id").collect()
    val b = spark.read.format("pjparquet").load(tgt).orderBy("id").collect()
    assert(a.toSeq == b.toSeq)
    // entries in the clone's log are absolute
    val snap = PjCommitLog.latest(fsOf(tgt), new Path(tgt)).get
    assert(snap.entries.forall(_.path.startsWith("/")))
    assert(snap.action == "clone" &&
      snap.operation.exists(_.startsWith("SHALLOW CLONE source=")))
  }

  test("DML on the clone (DV delete + append) never touches source bytes") {
    val src = mkSource("dml")
    val tgt = freshTarget("dml_t")
    PjClone.shallowClone(spark, src, tgt)
    val before = fileListing(src)
    spark.sql(s"DELETE FROM pjc.`$tgt` WHERE id % 2 = 0")
    Seq((1000L, "extra", 9)).toDF("id", "name", "grp")
      .write.format("pjparquet").mode("append").save(tgt)
    assert(fileListing(src) == before, "source files changed under clone DML")
    // clone sees the delete + the append; source is untouched
    val cloneIds = spark.read.format("pjparquet").load(tgt)
      .select("id").as[Long].collect().sorted
    val expected = ((1L to 40L).filter(_ % 2 == 1) :+ 1000L).toArray
    assert(cloneIds.toSeq == expected.toSeq)
    assert(spark.read.format("pjparquet").load(src).count() == 40L)
    // the delete wrote its vector under the CLONE's root
    val dv = PjCommitLog.latest(fsOf(tgt), new Path(tgt)).get
      .entries.flatMap(_.dv)
    assert(dv.nonEmpty && dv.forall(!_.path.startsWith("/")),
      "clone DV should be clone-local (relative)")
  }

  test("copy-on-write UPDATE on the clone rewrites into the clone only") {
    val src = mkSource("cow")
    val tgt = freshTarget("cow_t")
    PjClone.shallowClone(spark, src, tgt)
    val before = fileListing(src)
    // deletionVectors off → copy-on-write path (rewrites touched files)
    spark.sql(s"ALTER TABLE pjc.`$tgt` SET TBLPROPERTIES(" +
      "'pj.deletionVectors.enabled'='false')")
    spark.sql(s"UPDATE pjc.`$tgt` SET name = 'renamed' WHERE id = 7")
    assert(fileListing(src) == before, "source files changed under clone UPDATE")
    val got = spark.read.format("pjparquet").load(tgt)
      .where($"id" === 7L).select("name").as[String].head()
    assert(got == "renamed")
    assert(spark.read.format("pjparquet").load(src)
      .where($"id" === 7L).select("name").as[String].head() == "name_7")
    // rewritten file is clone-local; untouched entries stay absolute
    val snap = PjCommitLog.latest(fsOf(tgt), new Path(tgt)).get
    assert(snap.entries.exists(!_.path.startsWith("/")), "rewrite not clone-local")
    assert(snap.entries.exists(_.path.startsWith("/")), "untouched entry lost")
  }

  test("vacuum + expire on the clone reclaim nothing from the source") {
    val src = mkSource("vac")
    val tgt = freshTarget("vac_t")
    PjClone.shallowClone(spark, src, tgt)
    spark.sql(s"DELETE FROM pjc.`$tgt` WHERE id <= 20")
    val before = fileListing(src)
    PjVacuum.clean(spark, tgt)
    val rep = PjVacuum.expireVersions(spark, tgt, keepVersions = 1)
    assert(fileListing(src) == before,
      s"clone expiry deleted source bytes (reclaimed=${rep.filesReclaimed})")
    assert(spark.read.format("pjparquet").load(src).count() == 40L)
    assert(spark.read.format("pjparquet").load(tgt).count() == 20L)
  }

  test("clone at an old version forks pre-DML history; props+constraints carry") {
    val src = mkSource("ver")
    spark.sql(s"ALTER TABLE pjc.`$src` SET TBLPROPERTIES('team'='ml')") // v2
    spark.sql(s"DELETE FROM pjc.`$src` WHERE id > 10") // v3
    val tgt = freshTarget("ver_t")
    val r = PjClone.shallowClone(spark, src, tgt, version = 2L)
    assert(r.sourceVersion == 2L)
    assert(spark.read.format("pjparquet").load(tgt).count() == 40L,
      "clone at v2 must predate the delete")
    val shown = spark.sql(s"SHOW TBLPROPERTIES pjc.`$tgt`")
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(shown.get("team").contains("ml"), "properties did not carry")
  }

  test("change feed on the clone: v1 bulk insert, DML deltas label correctly") {
    val src = mkSource("cdf")
    val tgt = freshTarget("cdf_t")
    PjClone.shallowClone(spark, src, tgt)
    spark.sql(s"DELETE FROM pjc.`$tgt` WHERE id = 3")
    val feed = spark.read.format("pjparquet")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(tgt)
    val byType = feed.groupBy("_change_type").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byType.get("insert").contains(40L), s"got $byType")
    assert(byType.get("delete").contains(1L), s"got $byType")
  }

  test("SQL CALL clone; refuses unlogged sources and non-empty targets") {
    val src = mkSource("call")
    val tgt = freshTarget("call_t")
    val row = spark.sql(
      s"CALL pjc.system.clone(source => '$src', target => '$tgt')").collect().head
    assert(row.getLong(0) == 1L && row.getLong(1) == 2L && row.getLong(3) == 1L)
    assert(spark.read.format("pjparquet").load(tgt).count() == 40L)
    val e1 = intercept[PJException] {
      PjClone.shallowClone(spark, src, tgt) // target now non-empty
    }
    assert(e1.getMessage.contains("already exists"))
    val unlogged = newDir("unlogged")
    Seq((1, "x")).toDF("a", "b").write.mode("overwrite").parquet(unlogged)
    val e2 = intercept[PJException] {
      PjClone.shallowClone(spark, unlogged, freshTarget("u_t"))
    }
    assert(e2.getMessage.contains("no commit log"))
  }

  test("streaming read of a clone: cloned backlog first, then local appends") {
    val src = mkSource("stream")
    val tgt = freshTarget("stream_t")
    PjClone.shallowClone(spark, src, tgt)
    val ckpt = newDir("stream_ck")
    val sink = newDir("stream_sink")
    def runOnce(): Unit = {
      val q = spark.readStream.format("pjparquet").load(tgt)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce()
    assert(spark.read.parquet(sink).count() == 40L,
      "first run must deliver the cloned (external) backlog")
    Seq((2000L, "late", 1)).toDF("id", "name", "grp")
      .write.format("pjparquet").mode("append").save(tgt)
    runOnce()
    val ids = spark.read.parquet(sink).select("id").as[Long].collect().sorted
    assert(ids.length == 41 && ids.last == 2000L,
      "second run must deliver exactly the local append")
  }

  test("materialize localizes the clone: source becomes deletable, DVs fold away") {
    val src = mkSource("mat")
    val tgt = freshTarget("mat_t")
    PjClone.shallowClone(spark, src, tgt)
    spark.sql(s"DELETE FROM pjc.`$tgt` WHERE id % 4 = 0") // DV on external files
    val expected = spark.read.format("pjparquet").load(tgt)
      .orderBy("id").collect().toSeq
    val row = spark.sql(s"CALL pjc.system.materialize(table => '$tgt')").collect().head
    assert(row.getLong(0) == 2L, "both external files must materialize")
    assert(row.getLong(2) >= 1L)
    val snap = PjCommitLog.latest(fsOf(tgt), new Path(tgt)).get
    assert(snap.entries.forall(!_.path.startsWith("/")), "external entries must be gone")
    assert(snap.entries.forall(_.dv.isEmpty), "materialized rows are live; no vectors")
    assert(spark.read.format("pjparquet").load(tgt)
      .orderBy("id").collect().toSeq == expected, "materialize must not change rows")
    // the source is now disposable: delete it outright, the clone still reads
    fsOf(src).delete(new Path(src), true)
    graft.sources.pjparquet.PjParquetTable.clearLayoutCache()
    PjCommitLog.clearSnapshotCache()
    assert(spark.read.format("pjparquet").load(tgt)
      .orderBy("id").collect().toSeq == expected, "clone must outlive its source")
    // idempotent: nothing external remains
    val again = spark.sql(s"CALL pjc.system.materialize(table => '$tgt')").collect().head
    assert(again.getLong(0) == 0L)
  }

  test("clone of a partitioned source keeps partition pruning + CDF schema") {
    val src = newDir("part")
    (1 to 30).map(i => (i.toLong, s"n$i", (i % 3).toLong))
      .toDF("id", "name", "grp")
      .write.format("pjparquet").mode("append").option("log.enabled", "true")
      .partitionBy("grp").save(src)
    val tgt = freshTarget("part_t")
    PjClone.shallowClone(spark, src, tgt)
    val pruned = spark.read.format("pjparquet").load(tgt).where($"grp" === 1)
    assert(pruned.count() == 10L)
    val before = fileListing(src)
    spark.sql(s"DELETE FROM pjc.`$tgt` WHERE id <= 3")
    assert(fileListing(src) == before)
    assert(spark.read.format("pjparquet").load(tgt).count() == 27L)
    // change feed over the partitioned clone's DML keeps partition columns
    val feed = spark.read.format("pjparquet")
      .option("readChangeFeed", "true").option("startingVersion", "2").load(tgt)
    assert(feed.columns.contains("grp"))
    assert(feed.where($"_change_type" === "delete").count() == 3L)
  }

  test("materialize keeps a renamed column's values (files store its physical name)") {
    val src = mkSource("rename")
    spark.sql(s"ALTER TABLE pjc.`$src` RENAME COLUMN name TO label")
    val tgt = freshTarget("rename_t")
    PjClone.shallowClone(spark, src, tgt)
    spark.sql(s"DELETE FROM pjc.`$tgt` WHERE id % 4 = 0")
    val expected = spark.read.format("pjparquet").load(tgt).orderBy("id").collect().toSeq
    assert(expected.forall(_.getAs[String]("label") != null))
    assert(spark.sql(s"CALL pjc.system.materialize(table => '$tgt')").collect().head
      .getLong(0) == 2L)
    assert(spark.read.format("pjparquet").load(tgt).orderBy("id").collect().toSeq == expected)
  }
}
