package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.core.PJException
import graft.sources.pjparquet.{PjCommitLog, PjManifest}

/** Symlink-format manifest generation (Delta's GENERATE
  * symlink_format_manifest): external engines get the snapshot's exact
  * file list — retired files invisible, stale partition manifests removed
  * on regeneration, DV tables refused.
  */
class PjManifestSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.pjman", "graft.sources.pjparquet.PjCatalog")

  /** A path that does not exist yet; deleted when the test ends. */
  private def freshDir(tag: String): String = {
    val d = tempDir(tag)
    java.nio.file.Files.delete(java.nio.file.Paths.get(d))
    d
  }

  private def readManifest(t: String, rel: String): Seq[String] = {
    val p = java.nio.file.Paths.get(t, PjManifest.DirName +
      (if (rel.isEmpty) "" else s"/$rel"), "manifest")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
  }

  test("partitioned snapshot manifests exactly; retired files and stale partitions drop on regen") {
    val t = freshDir("pj_manifest")
    spark.sql(s"CREATE TABLE pjman.`$t` (id BIGINT, p BIGINT) USING pjparquet " +
      "PARTITIONED BY (p)")
    spark.range(0, 300).select($"id", ($"id" % 3).as("p"))
      .writeTo(s"pjman.`$t`").append()
    val r1 = PjManifest.generate(spark, t)
    assert(r1.manifests == 3 && r1.dataFiles == 3)
    val root = new Path(t)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val live = PjCommitLog.latest(fs, root).get.files.toSet
    (0 to 2).foreach { p =>
      val uris = readManifest(t, s"p=$p")
      assert(uris.size == 1 && uris.head.contains(s"p=$p/"),
        s"one live file per partition: $uris")
      assert(live.exists(rel => uris.head.endsWith(rel)),
        "manifest URIs must be the snapshot's live files")
    }
    // the whole p=2 partition goes away (metadata delete), regeneration
    // must remove its manifest — not just rewrite surviving ones
    spark.sql(s"DELETE FROM pjman.`$t` WHERE p = 2")
    val r2 = PjManifest.generate(spark, t)
    assert(r2.manifests == 2 && r2.version > r1.version)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(t, PjManifest.DirName, "p=2", "manifest")),
      "stale partition manifest must be removed")
    // _version marker records the manifested snapshot
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, PjManifest.DirName, "_version")), "UTF-8")
      .trim == r2.version.toString)
    // the manifested view is exactly what our own reader serves
    val viaManifest = readManifest(t, "p=0") ++ readManifest(t, "p=1")
    assert(viaManifest.size == 2)
    assert(spark.read.parquet(viaManifest.map(_.stripPrefix("file:")): _*)
      .count() == spark.table(s"pjman.`$t`").count())
  }

  test("pj.symlinkManifest.enabled: every commit auto-regenerates; DV commits leave the last DV-free view") {
    val t = freshDir("pj_manifest_auto")
    spark.sql(s"CREATE TABLE pjman.`$t` (id BIGINT, p BIGINT) USING pjparquet " +
      "PARTITIONED BY (p) TBLPROPERTIES ('pj.symlinkManifest.enabled'='true')")
    spark.range(0, 100).select($"id", ($"id" % 2).as("p")).writeTo(s"pjman.`$t`").append()
    def manifestVersion: Long = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, PjManifest.DirName, "_version")), "UTF-8").trim.toLong
    val root = new Path(t)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def head: Long = PjCommitLog.latest(fs, root).get.version
    assert(manifestVersion == head, "the append commit must auto-regenerate the manifest")
    // a partition metadata-delete keeps the view fresh
    spark.sql(s"DELETE FROM pjman.`$t` WHERE p = 1")
    assert(manifestVersion == head)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(t, PjManifest.DirName, "p=1", "manifest")))
    // a DV DELETE cannot be manifested: the view stays at the last
    // DV-free version, the commit itself succeeds
    spark.sql(s"DELETE FROM pjman.`$t` WHERE id = 4")
    assert(spark.table(s"pjman.`$t`").count() == 49L)
    assert(manifestVersion == head - 1, "DV snapshot leaves the prior manifest standing")
  }

  test("incremental maintenance: an append touching 1 of 300 partitions rewrites exactly 1 manifest") {
    val t = freshDir("pj_manifest_incr")
    spark.sql(s"CREATE TABLE pjman.`$t` (id BIGINT, p BIGINT) USING pjparquet " +
      "PARTITIONED BY (p) TBLPROPERTIES ('pj.symlinkManifest.enabled'='true')")
    // first append manifests all 300 partitions (full generation)
    spark.range(0, 300).select($"id", $"id".as("p")).writeTo(s"pjman.`$t`").append()
    def manifestVersion: Long = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, PjManifest.DirName, "_version")), "UTF-8").trim.toLong
    val root = new Path(t)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    assert(manifestVersion == PjCommitLog.latest(fs, root).get.version)
    val before7 = readManifest(t, "p=7")
    // the incremental commit: one partition touched → ONE manifest write
    val written = PjManifest.manifestsWritten.get()
    spark.range(1000, 1002).select($"id", lit(5L).as("p")).writeTo(s"pjman.`$t`").append()
    assert(PjManifest.manifestsWritten.get() == written + 1,
      s"append touching p=5 alone must rewrite exactly 1 manifest, " +
        s"wrote ${PjManifest.manifestsWritten.get() - written}")
    assert(manifestVersion == PjCommitLog.latest(fs, root).get.version)
    // the external view is exact: p=5 holds both files, p=7 untouched
    assert(readManifest(t, "p=5").size == 2)
    assert(readManifest(t, "p=7") == before7)
    // a partition going empty drops its manifest incrementally
    spark.sql(s"DELETE FROM pjman.`$t` WHERE p = 9")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(t, PjManifest.DirName, "p=9", "manifest")))
    assert(manifestVersion == PjCommitLog.latest(fs, root).get.version)
    // the full external file set still matches the snapshot exactly
    val allManifested = {
      val out = Seq.newBuilder[String]
      val it = fs.listFiles(new Path(t, PjManifest.DirName), true)
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName == "manifest")
          out ++= scala.io.Source.fromInputStream(fs.open(s.getPath))
            .getLines().filter(_.nonEmpty)
      }
      out.result().toSet
    }
    val rootQ = fs.makeQualified(root)
    val live = PjCommitLog.latest(fs, root).get.entries
      .map(e => fs.makeQualified(new Path(rootQ, e.path)).toUri.toString).toSet
    assert(allManifested == live, "external view must equal the snapshot")
  }

  test("wide-partition tables generate manifests as ONE Spark job") {
    val t = freshDir("pj_manifest_wide")
    spark.sql(s"CREATE TABLE pjman.`$t` (id BIGINT, p BIGINT) USING pjparquet " +
      "PARTITIONED BY (p)")
    spark.range(0, 700).select($"id", ($"id" % 70).as("p")).writeTo(s"pjman.`$t`").append()
    val before = PjManifest.distributedWrites.get()
    val r = PjManifest.generate(spark, t)
    assert(r.manifests == 70)
    assert(PjManifest.distributedWrites.get() > before,
      "a 70-partition manifest generation must run as a Spark job")
    assert(readManifest(t, "p=33").size == 1)
    val all = (0 until 70).flatMap(p => readManifest(t, s"p=$p"))
    assert(spark.read.parquet(all.map(_.stripPrefix("file:")): _*).count() == 700L)
  }

  test("unpartitioned: one root manifest; DV tables refuse until purged; unlogged dirs refuse") {
    val t = freshDir("pj_manifest_flat")
    spark.sql(s"CREATE TABLE pjman.`$t` (id BIGINT) USING pjparquet")
    spark.range(0, 100).coalesce(2).writeTo(s"pjman.`$t`").append()
    val r = PjManifest.generate(spark, t)
    assert(r.manifests == 1)
    assert(readManifest(t, "").size == 2)

    // a DV DELETE arms the refusal; purge clears it
    spark.sql(s"DELETE FROM pjman.`$t` WHERE id = 7")
    val e = intercept[PJException](PjManifest.generate(spark, t))
    assert(e.getMessage.contains("deletion vectors"))
    spark.sql(s"CALL pjman.system.purge_deletion_vectors('$t')")
    val r2 = PjManifest.generate(spark, t)
    assert(r2.version > r.version)
    assert(spark.read.parquet(readManifest(t, "").map(_.stripPrefix("file:")): _*)
      .count() == 99L)

    val plain = freshDir("pj_manifest_plain")
    spark.range(0, 10).write.parquet(plain)
    assert(intercept[PJException](PjManifest.generate(spark, plain))
      .getMessage.contains("not a commit-log table"))
  }
}
