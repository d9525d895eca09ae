package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.sources.pjparquet.{PjVacuum, PjWriter}

/** Vacuum: deletes exactly the garbage (orphan sidecars, abandoned work
  * dirs) and nothing live; the table stays fully readable afterwards.
  */
class PjVacuumSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("expire dry run reports exactly what a real run reclaims, touching nothing") {
    val dir = tempDir("pj_vacuum_dry")
    spark.conf.set("spark.sql.catalog.pjvd", "graft.sources.pjparquet.PjCatalog")
    (1L to 20L).toDF("id").coalesce(1)
      .write.format("pjparquet").mode("append").option("log.enabled", "true").save(dir)
    spark.sql(s"DELETE FROM pjvd.`$dir` WHERE id <= 5") // v2 retires + re-adds
    spark.sql(s"INSERT INTO pjvd.`$dir` VALUES (100)") // v3
    def files(): Set[String] = {
      val f = new java.io.File(dir)
      def walk(x: java.io.File): Seq[java.io.File] =
        if (x.isDirectory) x.listFiles().toSeq.flatMap(walk) else Seq(x)
      walk(f).map(_.getPath).toSet
    }
    val before = files()
    val dry = spark.sql(
      s"CALL pjvd.system.expire_versions('$dir', 1, 0, dry_run => true)").collect().head
    assert(files() == before, "dry run must not create or delete anything")
    assert(spark.read.format("pjparquet")
      .option("versionAsOf", "1").load(dir).count() == 20L,
      "dry run must keep time travel intact")
    val real = spark.sql(
      s"CALL pjvd.system.expire_versions('$dir', 1)").collect().head
    assert(dry.getLong(0) == real.getLong(0), "versions_dropped must match")
    assert(dry.getLong(2) == real.getLong(2),
      s"files_reclaimed must match: dry=${dry.getLong(2)} real=${real.getLong(2)}")
    assert(files() != before, "the real run reclaims")
    val e = intercept[Exception] {
      spark.read.format("pjparquet").option("versionAsOf", "1").load(dir).count()
    }
    assert(e.getMessage.contains("does not exist") || e.getMessage.contains("version"))
  }

  test("wide layouts list on executors: distributed waves fire, reports stay exact") {
    // 200-directory synthetic layout: the frontier of partition dirs is
    // far above ParallelListMinDirs, so both clean() and expire's orphan
    // sweep must run their listing waves as Spark jobs — at millions of
    // objects a sequential driver walk is hours of metadata calls
    val dir = tempDir("pj_vacuum_wide")
    spark.conf.set("spark.sql.catalog.pjvw", "graft.sources.pjparquet.PjCatalog")
    spark.range(0, 1000).select($"id", ($"id" % 200).cast("string").as("k"))
      .repartition(8)
      .write.format("pjparquet").mode("append")
      .option("log.enabled", "true").partitionBy("k").save(dir)

    // plant garbage across partitions: orphan sidecars + a dead work dir
    for (i <- 0 until 7) {
      val orphan = new java.io.File(s"$dir/k=$i/.gone$i.parquet.index")
      java.nio.file.Files.write(orphan.toPath, Array[Byte](1))
    }
    assert(new java.io.File(s"$dir/.compact_tmp_wide/k=0").mkdirs())

    val wavesBefore = PjVacuum.distributedWaves.get()
    val report = PjVacuum.clean(spark, dir)
    assert(PjVacuum.distributedWaves.get() > wavesBefore,
      "a 200-dir layout must list through Spark jobs, not the driver")
    assert(report.orphanSidecars == 7, s"$report")
    assert(report.workDirs == 1, s"$report")

    // retire everything once, then expire: the reclaim sweep over the wide
    // layout also lists distributed, and the dry run's report is identical
    // to the wet run's (byte-identical reclaim decisions)
    spark.range(0, 100).select($"id", ($"id" % 200).cast("string").as("k"))
      .coalesce(1)
      .write.format("pjparquet").mode("overwrite")
      .option("log.enabled", "true").partitionBy("k").save(dir)
    val w2 = PjVacuum.distributedWaves.get()
    val dry = PjVacuum.expireVersions(spark, dir, keepVersions = 1, dryRun = true)
    val wet = PjVacuum.expireVersions(spark, dir, keepVersions = 1)
    assert(PjVacuum.distributedWaves.get() > w2,
      "expire's orphan sweep must list through Spark jobs on a wide layout")
    assert(dry == wet, s"dry=$dry wet=$wet")
    assert(wet.filesReclaimed >= 8, s"$wet") // the 8 retired v1 files
    assert(spark.read.format("pjparquet").load(dir).count() == 100L)
  }

  test("10k-victim expiry deletes as a Spark job; dry and wet reports byte-identical") {
    // a sequential driver loop over 10k object-store deletes is minutes of
    // round-trips — above ParallelDeleteMinFiles the sweep must run as ONE
    // Spark job, with the reclaim report unchanged from the driver path
    val dir = tempDir("pj_vacuum_bulk")
    (0L until 10L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("pjparquet").mode("append")
      .option("log.enabled", "true").save(dir)
    // plant 10k unreferenced data files (aborted-writer leftovers): real
    // victims without the cost of 10k real parquet writes
    val nVictims = 10000
    for (i <- 0 until nVictims)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/orphan-$i.parquet"), Array[Byte](0x50, 0x41))
    val jobsBefore = PjVacuum.distributedDeleteJobs.get()
    val dry = PjVacuum.expireVersions(spark, dir, keepVersions = 1, dryRun = true)
    assert(PjVacuum.distributedDeleteJobs.get() == jobsBefore,
      "dry run must not launch delete jobs")
    val wet = PjVacuum.expireVersions(spark, dir, keepVersions = 1)
    assert(PjVacuum.distributedDeleteJobs.get() > jobsBefore,
      "10k victims must delete through a Spark job, not a driver loop")
    assert(dry == wet, s"dry=$dry wet=$wet")
    assert(wet.filesReclaimed == nVictims.toLong, s"$wet")
    assert(!new java.io.File(s"$dir/orphan-0.parquet").exists())
    assert(!new java.io.File(s"$dir/orphan-${nVictims - 1}.parquet").exists())
    // the live table is untouched
    assert(spark.read.format("pjparquet").load(dir).count() == 10L)
  }

  test("removes orphan sidecars and abandoned work dirs, keeps live pairs") {
    val dir = tempDir("pj_vacuum")
    PjWriter.writeWithIndex(
      spark.range(1000).select($"id", ($"id" % 3).cast("string").as("k")),
      dir, partitionBy = Seq("k"))

    val base = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val liveSidecars = walk(base).count(_.getName.endsWith(".parquet.index"))
    assert(liveSidecars >= 3)

    // plant garbage: an orphan sidecar, a dead compaction dir, a dead
    // Spark commit dir (with content, so recursive delete is exercised)
    val orphan = new java.io.File(s"$dir/k=0/.deadfile.parquet.index")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    val tmpWork = new java.io.File(s"$dir/.compact_tmp_deadbeef/k=0")
    assert(tmpWork.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(tmpWork, "part-zombie.parquet").toPath, Array[Byte](9))
    val sparkTmp = new java.io.File(s"$dir/_temporary/0")
    assert(sparkTmp.mkdirs())

    val before = spark.read.parquet(dir).count()
    val report = PjVacuum.clean(spark, dir)
    assert(report.orphanSidecars == 1)
    assert(report.workDirs == 2)
    assert(!orphan.exists())
    assert(!new java.io.File(s"$dir/.compact_tmp_deadbeef").exists())
    assert(!new java.io.File(s"$dir/_temporary").exists())

    // live sidecars and data intact; table still reads through pjparquet
    assert(walk(base).count(_.getName.endsWith(".parquet.index")) == liveSidecars)
    assert(spark.read.parquet(dir).count() == before)
    assert(spark.read.format("pjparquet").load(dir).count() == before)

    // idempotent
    val again = PjVacuum.clean(spark, dir)
    assert(again == PjVacuum.Report(0, 0))
  }
}
