package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.core.PJException
import graft.sources.pjparquet.{PjCommitLog, PjRefs, PjVacuum}

/** Branch/tag refs (round 18, [[PjRefs]]): tags pin snapshot versions —
  * tag reads are bit-exact time travel and expiry keeps tagged versions;
  * branches stage one audited append (write-audit-publish) that
  * fast-forwards into a live commit or drops.
  */
class PjRefsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.pjref", "graft.sources.pjparquet.PjCatalog")

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(tag)
    java.nio.file.Files.delete(d)
    d.toString
  }

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  test("tag read is bit-exact time travel; expiry keeps tagged versions' files") {
    val t = freshDir("pj_refs_tag")
    spark.sql(s"CREATE TABLE pjref.`$t` (k BIGINT, v BIGINT) USING pjparquet")
    spark.range(0, 10).select($"id".as("k"), ($"id" * 2).as("v"))
      .writeTo(s"pjref.`$t`").append() // v2
    spark.sql(s"CALL pjref.system.tag(table => '$t', name => 'audited')")
    // churn: overwrite everything twice, so v2's files are retired
    for (i <- 1 to 2)
      spark.range(100 * i, 100 * i + 5).select($"id".as("k"), ($"id" * 2).as("v"))
        .writeTo(s"pjref.`$t`").overwritePartitions()
    val headRows = spark.read.format("pjparquet").load(t).count()
    assert(headRows == 5)
    def tagRows() = spark.read.format("pjparquet").option("tag", "audited").load(t)
      .orderBy($"k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(tagRows() == (0L until 10L).map(i => (i, i * 2)))
    // expire down to ONE version: the tagged version (and its files) must
    // survive — kept versions clamp down to the oldest tag
    PjVacuum.expireVersions(spark, t, keepVersions = 1)
    graft.sources.pjparquet.PjParquetTable.clearLayoutCache()
    PjCommitLog.clearSnapshotCache()
    assert(tagRows() == (0L until 10L).map(i => (i, i * 2)),
      "expiry reclaimed a tagged version's files")
    // versions BELOW the tag are expired; tag..head survive
    val versions = PjCommitLog.versions(fsOf(t), new Path(t))
    assert(versions.head == 2L, s"kept: $versions")
    // refs listing + drop; after drop, expiry may reclaim
    val refs = spark.sql(s"CALL pjref.system.refs(table => '$t')").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(refs == Seq(("audited", "tag", 2L)))
    spark.sql(s"CALL pjref.system.drop_ref(table => '$t', name => 'audited')")
    val e = intercept[PJException] {
      spark.read.format("pjparquet").option("tag", "audited").load(t).count()
    }
    assert(e.getMessage.contains("no tag"), e.getMessage)
  }

  test("branch write stages invisibly; audit reads overlay; fast_forward publishes") {
    val t = freshDir("pj_refs_wap")
    spark.sql(s"CREATE TABLE pjref.`$t` (k BIGINT, v BIGINT) USING pjparquet")
    spark.range(0, 10).select($"id".as("k"), ($"id" * 2).as("v"))
      .writeTo(s"pjref.`$t`").append()
    val headV = PjCommitLog.latest(fsOf(t), new Path(t)).get.version
    // stage a batch on branch `wip`
    spark.range(100, 105).select($"id".as("k"), ($"id" * 2).as("v"))
      .write.format("pjparquet").mode("append").option("branch", "wip").save(t)
    // main readers see NOTHING new; no new version published
    assert(spark.read.format("pjparquet").load(t).count() == 10)
    assert(PjCommitLog.latest(fsOf(t), new Path(t)).get.version == headV)
    // the audit read sees head + staged
    val audit = spark.read.format("pjparquet").option("branch", "wip").load(t)
    assert(audit.count() == 15)
    assert(audit.filter($"k" >= 100L).count() == 5)
    // a second staged batch on the same branch refuses (one audited batch)
    val dup = intercept[Exception] {
      spark.range(200, 202).select($"id".as("k"), ($"id" * 2).as("v"))
        .write.format("pjparquet").mode("append").option("branch", "wip").save(t)
    }
    assert(dup.getMessage.contains("already holds a staged batch"), dup.getMessage)
    // vacuum with zero retention must NOT reclaim the staged files
    PjVacuum.expireVersions(spark, t, keepVersions = 1)
    graft.sources.pjparquet.PjParquetTable.clearLayoutCache()
    assert(spark.read.format("pjparquet").option("branch", "wip").load(t).count() == 15)
    // publish: one new validated commit; ref gone; main sees everything
    val v = spark.sql(s"CALL pjref.system.fast_forward(table => '$t', branch => 'wip')")
      .collect().head.getLong(0)
    assert(v > headV)
    assert(spark.read.format("pjparquet").load(t).count() == 15)
    assert(PjRefs.readBranch(fsOf(t), new Path(t), "wip").isEmpty)
    // time travel to the pre-publish version still shows 10 rows
    assert(spark.read.format("pjparquet")
      .option("versionAsOf", headV.toString).load(t).count() == 10)
  }

  test("dropped branch's staged files reclaim on the next expiry") {
    val t = freshDir("pj_refs_drop")
    spark.sql(s"CREATE TABLE pjref.`$t` (k BIGINT) USING pjparquet")
    spark.range(0, 5).select($"id".as("k")).writeTo(s"pjref.`$t`").append()
    spark.range(10, 15).select($"id".as("k"))
      .write.format("pjparquet").mode("append").option("branch", "dead").save(t)
    val staged = PjRefs.branchStagedPaths(fsOf(t), new Path(t))
    assert(staged.nonEmpty)
    spark.sql(s"CALL pjref.system.drop_ref(table => '$t', name => 'dead')")
    PjVacuum.expireVersions(spark, t, keepVersions = 1)
    val fs = fsOf(t)
    for (rel <- staged)
      assert(!fs.exists(new Path(t, rel)), s"dropped staged file survived: $rel")
    assert(spark.read.format("pjparquet").load(t).count() == 5)
  }

  test("racing tag vs expire smoke: the table stays consistent either way") {
    val t = freshDir("pj_refs_race")
    spark.sql(s"CREATE TABLE pjref.`$t` (k BIGINT) USING pjparquet")
    for (i <- 0 until 6)
      spark.range(i * 10, i * 10 + 3).select($"id".as("k"))
        .writeTo(s"pjref.`$t`").append()
    val fs = fsOf(t)
    val root = new Path(t)
    // interleave taggers and expirers on their own threads
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val tagger = pool.submit(new Runnable {
        def run(): Unit = for (v <- 3L to 6L) {
          try PjRefs.tag(fs, root, s"t$v", Some(v))
          catch { case _: PJException => () } // version already expired: legal
        }
      })
      val expirer = pool.submit(new Runnable {
        def run(): Unit = for (_ <- 1 to 4) {
          PjVacuum.expireVersions(spark, t, keepVersions = 2)
        }
      })
      tagger.get(); expirer.get()
    } finally pool.shutdown()
    PjCommitLog.clearSnapshotCache()
    graft.sources.pjparquet.PjParquetTable.clearLayoutCache()
    // head stays exact regardless of the interleaving
    assert(spark.read.format("pjparquet").load(t).count() == 18)
    // every surviving tag resolves to a readable version
    for ((name, _, v) <- PjRefs.listRefs(fs, root)) {
      val versions = PjCommitLog.versions(fs, root)
      if (versions.contains(v))
        assert(spark.read.format("pjparquet").option("tag", name).load(t).count() >= 3)
    }
  }

  test("a ref write racing a table rename refuses and leaves no _pj_log husk") {
    // the local file system, with a rename of the whole table planted at
    // the moment a ref write creates `_pj_log/_refs`: the race a catalog
    // RENAME runs against a tag or a branch staging
    def racing(root: Path, movedTo: Path) =
      new org.apache.hadoop.fs.FilterFileSystem(fsOf(root.toString)) {
        private var planted = false
        override def mkdirs(f: Path): Boolean = {
          if (!planted && f.getName == PjRefs.DirName) {
            planted = true
            assert(fs.rename(root, movedTo))
          }
          super.mkdirs(f)
        }
      }
    def table(tag: String): (Path, Path) = {
      val t = freshDir(tag)
      spark.sql(s"CREATE TABLE pjref.`$t` (k BIGINT) USING pjparquet")
      spark.range(0, 5).select($"id".as("k")).writeTo(s"pjref.`$t`").append()
      (new Path(t), new Path(s"$t-moved"))
    }
    def assertRefused(root: Path, movedTo: Path)(write: => Unit): Unit = {
      val e = intercept[PJException](write)
      assert(e.getMessage.contains("vanished"), e.getMessage)
      assert(!fsOf(root.toString).exists(PjCommitLog.logDir(root)),
        "the ref write left a resurrected _pj_log at the stale path")
      assert(PjCommitLog.versions(fsOf(movedTo.toString), movedTo).nonEmpty)
    }
    val (tagRoot, tagMoved) = table("pj_refs_race_tag")
    assertRefused(tagRoot, tagMoved) {
      PjRefs.tag(racing(tagRoot, tagMoved), tagRoot, "audited", None)
    }
    val (branchRoot, branchMoved) = table("pj_refs_race_branch")
    val base = PjCommitLog.versions(fsOf(branchRoot.toString), branchRoot).last
    assertRefused(branchRoot, branchMoved) {
      PjRefs.stageBranch(racing(branchRoot, branchMoved), branchRoot, "wip", base, Nil)
    }
  }
}
