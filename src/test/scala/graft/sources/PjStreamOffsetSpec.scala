package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.pjparquet.{PjMicroBatchStream, PjStreamInfo}

/** Checkpointed streaming offsets must stay CONSTANT-SIZE no matter how
  * many files share one mtime tick (coarse object-store timestamps): the
  * per-batch file lists live in the checkpoint-local metadata log, not in
  * the offset JSON. Also pins the seen-set semantics (same-tick late
  * arrivals are not lost) and the refusal of offsets without a batch id.
  */
class PjStreamOffsetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mkStream(dir: String, ckpt: String, maxFiles: Option[Int] = None) = {
    spark.sparkContext // force session init so SparkSession.active resolves
    new PjMicroBatchStream(
      PjStreamInfo(dir, autogen = true, mergeSchema = false, maxFilesPerTrigger = maxFiles),
      new StructType(), new StructType(), new StructType(), new StructType(),
      Nil, Nil, ckpt)
  }

  test("10k files in one mtime tick: offset JSON stays tiny; log holds the paths") {
    val dir = Files.createTempDirectory("pj_off_10k").toString
    val ckpt = Files.createTempDirectory("pj_off_10k_ckpt").toString
    val tick = (System.currentTimeMillis() / 1000L) * 1000L - 60000L
    (0 until 10000).foreach { i =>
      val p = Paths.get(dir, f"part-$i%05d.parquet")
      Files.createFile(p)
      p.toFile.setLastModified(tick)
    }
    val s = mkStream(dir, ckpt)
    val o1 = s.latestOffset(s.initialOffset(), ReadLimit.allAvailable())
    // the whole point: bounded offset regardless of the tick's file count
    assert(o1.json().length < 40, s"offset JSON must be constant-size, got ${o1.json()}")
    assert(o1.json().contains("\"batchId\":0"))
    val log = Paths.get(ckpt, "pjfilelog", "0")
    assert(Files.exists(log), "batch 0 file list must be logged before the offset returns")
    assert(Files.readAllLines(log).size == 10000)
    // nothing new -> same boundary, no extra log entry
    val o2 = s.latestOffset(o1, ReadLimit.allAvailable())
    assert(o2.json() == o1.json())
    assert(!Files.exists(Paths.get(ckpt, "pjfilelog", "1")))
  }

  test("files landing later inside an already-consumed mtime tick are still ingested") {
    val dir = Files.createTempDirectory("pj_off_tick").toString
    val ckpt = Files.createTempDirectory("pj_off_tick_ckpt").toString
    val tick = (System.currentTimeMillis() / 1000L) * 1000L - 60000L
    def mk(name: String): Unit = {
      val p = Paths.get(dir, name)
      Files.createFile(p); p.toFile.setLastModified(tick)
    }
    Seq("b.parquet", "c.parquet").foreach(mk)
    val s = mkStream(dir, ckpt)
    val o1 = s.latestOffset(s.initialOffset(), ReadLimit.allAvailable())
    assert(Files.readAllLines(Paths.get(ckpt, "pjfilelog", "0")).size == 2)
    // a straggler lands in the SAME tick with a path sorting BEFORE the
    // consumed ones — a pure cursor offset would silently drop it
    mk("a.parquet")
    val o2 = s.latestOffset(o1, ReadLimit.allAvailable())
    assert(o2.json().contains("\"batchId\":1"))
    val batch1 = Files.readAllLines(Paths.get(ckpt, "pjfilelog", "1"))
    assert(batch1.size == 1 && batch1.get(0).contains("a.parquet"))
  }

  test("restart replays the log: nothing re-ingested, in-flight batch replans identically") {
    val dir = Files.createTempDirectory("pj_off_replay").toString
    val ckpt = Files.createTempDirectory("pj_off_replay_ckpt").toString
    (0 until 6).foreach(i => Files.createFile(Paths.get(dir, s"f$i.parquet")))
    val s1 = mkStream(dir, ckpt, maxFiles = Some(4))
    val o1 = s1.latestOffset(s1.initialOffset(), ReadLimit.maxFiles(4))
    assert(o1.json().contains("\"batchId\":0"))
    // crash before Spark committed batch 0: a fresh instance must hand back
    // the already-logged boundary (identical file list), not a new batch
    val s2 = mkStream(dir, ckpt, maxFiles = Some(4))
    val o1b = s2.latestOffset(s2.initialOffset(), ReadLimit.maxFiles(4))
    assert(o1b.json() == o1.json())
    assert(Files.readAllLines(Paths.get(ckpt, "pjfilelog", "0")).size == 4)
    // next trigger takes the remaining 2 files exactly once
    val o2 = s2.latestOffset(o1b, ReadLimit.maxFiles(4))
    assert(o2.json().contains("\"batchId\":1"))
    assert(Files.readAllLines(Paths.get(ckpt, "pjfilelog", "1")).size == 2)
    // drained
    assert(s2.latestOffset(o2, ReadLimit.maxFiles(4)).json() == o2.json())
  }

  test("log compaction: snapshots bound the entry count, restarts replay from the snapshot") {
    val dir = Files.createTempDirectory("pj_off_compact").toString
    val ckpt = Files.createTempDirectory("pj_off_compact_ckpt").toString
    (0 until 35).foreach(i => Files.createFile(Paths.get(dir, f"f$i%03d.parquet")))
    val s = mkStream(dir, ckpt, maxFiles = Some(1))
    var o = s.initialOffset()
    (0 until 35).foreach { _ => o = s.latestOffset(o, ReadLimit.maxFiles(1)) }
    assert(o.json().contains("\"batchId\":34"))
    val names = Option(Paths.get(ckpt, "pjfilelog").toFile.listFiles()).toSeq.flatten
      .map(_.getName).filterNot(_.startsWith("."))
    // one live snapshot (seen-29); numeric entries older than two intervals
    // before it are pruned
    assert(names.count(_.startsWith("seen-")) == 1, s"entries: $names")
    assert(names.contains("seen-29"), s"entries: $names")
    assert(!names.exists(n => n.forall(_.isDigit) && n.toLong <= 9L), s"entries: $names")
    assert(names.count(_.forall(_.isDigit)) == 25, s"entries: $names")
    // a fresh instance reconstructs the full seen-set: nothing re-ingested
    val s2 = mkStream(dir, ckpt, maxFiles = Some(1))
    val o2 = s2.latestOffset(s2.deserializeOffset(o.json()), ReadLimit.maxFiles(1))
    assert(o2.json() == o.json(), "restart must find nothing pending after compaction")
  }

  test("an offset without batchId fails loudly, naming the offset") {
    val dir = Files.createTempDirectory("pj_off_nobatch").toString
    val ckpt = Files.createTempDirectory("pj_off_nobatch_ckpt").toString
    val json = """{"maxMtime":0,"paths":[]}"""
    val e = intercept[graft.core.PJException](mkStream(dir, ckpt).deserializeOffset(json))
    assert(e.getMessage.contains(json) && e.getMessage.contains("batchId"), e.getMessage)
  }
}
