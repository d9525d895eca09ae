package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.pjparquet.{PjHadoopConf, PjParquetTable}

/** The `pjrec` scheme: the local file system, recording the value of
  * [[PjRecordingFs.Keys]] in every conf an instance is built with, by the
  * thread that built it. Registered with `fs.pjrec.impl.disable.cache`, so
  * every `getFileSystem` builds a fresh instance from the caller's conf.
  */
class PjRecordingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("pjrec:///")
  override def getScheme: String = "pjrec"
  override def initialize(uri: java.net.URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    PjRecordingFs.Keys.foreach { k =>
      PjRecordingFs.seen.add((Thread.currentThread().getName, k, conf.get(k)))
    }
  }
}

object PjRecordingFs {
  val Keys = Seq("pj.test.sessionKey", "pj.test.contextKey")
  /** (thread name, key, value) per instance built. */
  val seen = new ConcurrentLinkedQueue[(String, String, String)]()
}

/** [[PjHadoopConf]]: one session conf broadcast serves every read, write
  * and job of a session; a changed Hadoop key re-broadcasts and reaches
  * the executors; per-write overlays stay separate; and no other code
  * ships a conf of its own.
  */
class PjHadoopConfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(tag)
    java.nio.file.Files.delete(d)
    d.toString
  }

  test("N reads and N appends in one session add exactly one conf broadcast") {
    val s = spark.newSession()
    val t = freshDir("pj_conf_once")
    val before = PjHadoopConf.broadcasts.get()
    val n = 5
    for (i <- 0 until n) {
      s.range(i * 10, i * 10 + 10).toDF("id")
        .write.format("pjparquet").mode("append").save(t)
      assert(s.read.format("pjparquet").load(t).count() == (i + 1) * 10L)
    }
    assert(PjHadoopConf.broadcasts.get() - before == 1L)
  }

  test("a Hadoop key changed between two reads reaches the executor-side FileSystem") {
    val s = spark.newSession()
    val sc = s.sparkContext
    val dir = freshDir("pj_conf_rec")
    spark.range(100).toDF("id").coalesce(1).write.parquet(dir)
    s.conf.set("fs.pjrec.impl", classOf[PjRecordingFs].getName)
    s.conf.set("fs.pjrec.impl.disable.cache", "true")
    def executorSaw(key: String): Set[String] = {
      PjRecordingFs.seen.clear()
      // rows, not a count: a bare count is answered from the index
      assert(s.read.format("pjparquet").load(s"pjrec://$dir").collect().length == 100)
      PjRecordingFs.seen.toArray(Array.empty[(String, String, String)]).collect {
        case (thread, k, v) if k == key && thread.startsWith("Executor task launch") => v
      }.toSet
    }
    try {
      s.conf.set("pj.test.sessionKey", "a")
      assert(executorSaw("pj.test.sessionKey") == Set("a"))
      s.conf.set("pj.test.sessionKey", "b")
      assert(executorSaw("pj.test.sessionKey") == Set("b"))
      sc.hadoopConfiguration.set("pj.test.contextKey", "c")
      assert(executorSaw("pj.test.contextKey") == Set("c"))
      sc.hadoopConfiguration.set("pj.test.contextKey", "d")
      assert(executorSaw("pj.test.contextKey") == Set("d"))
    } finally sc.hadoopConfiguration.unset("pj.test.contextKey")
  }

  test("concurrent writes with different overlays write their own field ids") {
    spark.conf.set("spark.sql.catalog.pjconf", "graft.sources.pjparquet.PjCatalog")
    val idTable = freshDir("pj_conf_ids")
    val plainTable = freshDir("pj_conf_plain")
    spark.sql(s"CREATE TABLE pjconf.`$idTable` (k BIGINT, v BIGINT) USING pjparquet " +
      "TBLPROPERTIES ('pj.columnMapping.mode'='id')")
    spark.sql(s"CREATE TABLE pjconf.`$plainTable` (k BIGINT, v BIGINT) USING pjparquet")
    def appends(t: String) = Future {
      for (i <- 0 until 4)
        spark.range(i * 10, i * 10 + 10).select($"id".as("k"), ($"id" * 2).as("v"))
          .writeTo(s"pjconf.`$t`").append()
    }
    Await.result(Future.sequence(Seq(appends(idTable), appends(plainTable))), 5.minutes)
    def fieldIds(dir: String): Seq[Map[String, Int]] =
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .toSeq.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(f.getAbsolutePath), spark.sessionState.newHadoopConf())
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getFileMetaData.getSchema.getFields.asScala
            .flatMap(t => Option(t.getId).map(id => t.getName -> id.intValue())).toMap
          finally r.close()
        }
    val idFiles = fieldIds(idTable)
    assert(idFiles.nonEmpty && idFiles.forall(_ == Map("k" -> 1, "v" -> 2)), idFiles)
    val plainFiles = fieldIds(plainTable)
    assert(plainFiles.nonEmpty && plainFiles.forall(_.isEmpty), plainFiles)
    for (t <- Seq(idTable, plainTable)) {
      val rows = spark.table(s"pjconf.`$t`").collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(rows.sorted.toSeq == (0L until 40L).map(i => i -> i * 2))
    }
  }

  test("one load resolves the table once") {
    val t = freshDir("pj_conf_resolve")
    spark.range(10).toDF("id").write.format("pjparquet").mode("append").save(t)
    val before = PjParquetTable.resolves.get()
    val df = spark.read.format("pjparquet").load(t)
    assert(PjParquetTable.resolves.get() - before == 1L)
    assert(df.count() == 10L)
  }

  test("no code outside PjHadoopConf wraps a Hadoop conf for shipping") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val stream = java.nio.file.Files.walk(root)
    val offenders =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "PjHadoopConf.scala")
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains("SerializableConfiguration("))
        .map(p => root.relativize(p).toString).toList
      finally stream.close()
    assert(offenders.isEmpty,
      s"ship Hadoop confs through PjHadoopConf, not SerializableConfiguration: $offenders")
  }
}
