package pjbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.pjparquet.{PjCommitLog, PjVacuum}

/** Writes beside reads on one logged table with deletion vectors, seeded
  * with orders-shaped `(k, v)` rows. Each op is one cycle: append, MERGE
  * upsert, UPDATE and DELETE through SQL, then an aggregate read compared
  * with an in-driver model of the table. Every `maintEvery` cycles the
  * table is compacted with `OPTIMIZE` and its old versions are expired;
  * the first read after maintenance is timed as the read stall.
  */
final class DmlChurn(ctx: Ctx) extends Workload(ctx) {
  private val initialRows = if (ctx.tiny) 400L else 20000L
  private val appendRows = if (ctx.tiny) 10 else 200
  private val mergeRows = if (ctx.tiny) 4 else 50 // existing keys; as many fresh ones
  private val updateSpan = if (ctx.tiny) 10 else 100
  private val deleteSpan = if (ctx.tiny) 5 else 40
  private val maintEvery = if (ctx.tiny) 2 else 3
  private val keepVersions = 3
  private val Writes = Seq("append", "merge", "update", "delete")

  private var root = ""
  private var table = ""
  private val model = mutable.HashMap[Long, Long]()
  private var nextKey = 0L
  /** Rows each cycle wrote, by op index (for bytes written per row). */
  private val rowsWritten = mutable.HashMap[Int, Long]()
  /** Per traced write: files and bytes its commit added. */
  private val filesAdded = mutable.ArrayBuffer[Double]()
  private val bytesAdded = mutable.ArrayBuffer[Double]()
  private val bytesRewritten = mutable.ArrayBuffer[Double]()
  private val fileReduction = mutable.ArrayBuffer[Double]()

  override def setupReps: Int = 5
  /** Whole maintenance periods, so that every run has the same mix of
    * table states (a cycle right after `OPTIMIZE` is the cheapest).
    */
  def opsFor(seconds: Int): Int =
    if (ctx.tiny) 4 else math.max(maintEvery, seconds * 3 / 5 / maintEvery * maintEvery)

  private def valueOf(k: Long): Long = Math.floorMod(k * 40503L + ctx.seed, 100003L)
  private def valueSql(k: String): String = s"pmod($k * 40503 + ${ctx.seed}, 100003)"

  def setup(d: String): Unit = {
    root = s"$d/churn"
    table = s"pjb.`$root`"
    spark.range(0, initialRows, 1, 4).selectExpr("id AS k", s"${valueSql("id")} AS v")
      .write.format("pjparquet").mode("append").option("log.enabled", "true").save(root)
    model.clear()
    (0L until initialRows).foreach(k => model(k) = valueOf(k))
    nextKey = initialRows
  }

  private def write(kind: String)(sql: String): Unit =
    ctx.sub(kind)(ctx.time(s"commit.$kind")(spark.sql(sql).collect()))

  private def liveKeyNear(rnd: scala.util.Random): Long = {
    var k = (rnd.nextDouble() * nextKey).toLong
    while (!model.contains(k)) k = (k + 1) % nextKey
    k
  }

  private def aggregate(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum("k"), lit(0L)), coalesce(sum("v"), lit(0L)))

  private def check(i: Int, row: Row): Unit = {
    val (n, sk, sv) = (model.size.toLong, model.keysIterator.sum, model.valuesIterator.sum)
    ctx.check(row.getLong(0) == ctx.expect(n) && row.getLong(1) == sk && row.getLong(2) == sv,
      s"dml_churn cycle $i: table has (count, sum k, sum v) = " +
        s"(${row.getLong(0)}, ${row.getLong(1)}, ${row.getLong(2)}), the model ($n, $sk, $sv)")
  }

  private def cycle(i: Int): Unit = {
    val rnd = new scala.util.Random(ctx.seed * 1000003L + i)
    var written = 0L

    val a0 = nextKey
    write("append")(s"INSERT INTO $table SELECT id AS k, ${valueSql("id")} AS v " +
      s"FROM range($a0, ${a0 + appendRows}, 1, 1)")
    (a0 until a0 + appendRows).foreach(k => model(k) = valueOf(k))
    nextKey += appendRows
    written += appendRows

    val existing = Iterator.continually(liveKeyNear(rnd)).distinct.take(mergeRows).toVector
    val fresh = (nextKey until nextKey + mergeRows).toVector
    val src = existing.map(k => (k, model(k) + 1000 + i)) ++ fresh.map(k => (k, valueOf(k)))
    spark.createDataFrame(src).toDF("k", "v").createOrReplaceTempView("pjbench_merge_src")
    write("merge")(s"MERGE INTO $table t USING pjbench_merge_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    src.foreach { case (k, v) => model(k) = v }
    nextKey += mergeRows
    written += src.size

    val u = (rnd.nextDouble() * (nextKey - updateSpan)).toLong
    write("update")(s"UPDATE $table SET v = v + 7 WHERE k >= $u AND k < ${u + updateSpan}")
    (u until u + updateSpan).foreach(k => model.get(k).foreach { v => model(k) = v + 7; written += 1 })

    val d = (rnd.nextDouble() * (nextKey - deleteSpan)).toLong
    write("delete")(s"DELETE FROM $table WHERE k >= $d AND k < ${d + deleteSpan}")
    (d until d + deleteSpan).foreach(model.remove)

    val q = aggregate(ctx.time("scan.resolve")(spark.read.format("pjparquet").load(root)))
    ctx.time("scan.plan")(q.queryExecution.executedPlan)
    check(i, ctx.time("scan.exec")(q.collect().head))
    rowsWritten(i) = written
  }

  private def maintain(i: Int): Unit = {
    val fs = ctx.fs(root)
    val r = ctx.time("maint.optimize")(spark.sql(s"OPTIMIZE '$root'").collect().head)
    if (ctx.recording) {
      val head = PjCommitLog.versions(fs, new Path(root)).last
      bytesRewritten += PjCommitLog.delta(fs, new Path(root), head).add.map(_.size).sum.toDouble
      fileReduction += Stats.ratio(r.getLong(0).toDouble, r.getLong(3).toDouble)
    }
    ctx.time("maint.expire")(PjVacuum.expireVersions(spark, root, keepVersions))
    check(i, ctx.time("maint.first_read") {
      aggregate(spark.read.format("pjparquet").load(root)).collect().head
    })
  }

  def warmup(): Unit = {
    (0 until 2).foreach(j => cycle(nOps + j))
    maintain(nOps)
  }

  def op(i: Int): Unit = cycle(i)

  override def afterOp(i: Int): Unit = {
    if (ctx.tracer.active) {
      val fs = ctx.fs(root)
      PjCommitLog.versions(fs, new Path(root)).takeRight(Writes.size).foreach { v =>
        val added = PjCommitLog.delta(fs, new Path(root), v).add
        filesAdded += added.size
        bytesAdded += added.map(_.size).sum
      }
    }
    if ((i + 1) % maintEvery == 0) maintain(i)
  }

  def spaceBytesPerRow: Double = ctx.bytesUnder(root).toDouble / model.size

  private def readMs: Seq[Double] = {
    val (r, p, e) = (ctx.ms("scan.resolve"), ctx.ms("scan.plan"), ctx.ms("scan.exec"))
    r.indices.map(k => r(k) + p(k) + e(k))
  }

  def detail: Seq[Metric] =
    Seq(Metric("read_p50_ms", Stats.median(readMs), "ms")) ++
      Stats.p90(readMs).map(Metric("read_p90_ms", _, "ms")) ++
      Writes.map(w => Metric(s"${w}_p50_ms", Stats.median(ctx.ms(s"commit.$w")), "ms"))

  def layers(traced: Seq[Int], engine: String => EngineAcc): Map[String, Double] = {
    val writes = for (o <- traced; w <- Writes) yield (o, w, engine(s"t-$o/$w"))
    val nWrites = math.max(1, writes.size).toDouble
    val gaps = writes.map { case (o, w, acc) => ctx.ms(s"commit.$w")(o) - Main.unionMs(acc.jobs.toSeq) }
    val logDir = s"$root/_pj_log"
    val logVersions = PjCommitLog.versions(ctx.fs(root), new Path(root)).size
    Writes.map(w => s"commit.${w}_ms" -> Stats.median(ctx.ms(s"commit.$w"))).toMap ++ Map(
      "commit.jobs_per_write" -> writes.map(_._3.jobs.size).sum / nWrites,
      "commit.driver_gap_ms_per_write" -> gaps.sum / nWrites,
      "commit.files_added_per_write" -> Stats.mean(filesAdded.toSeq),
      "commit.bytes_written_per_row" -> Stats.ratio(
        bytesAdded.sum, traced.map(rowsWritten.getOrElse(_, 0L)).sum.toDouble),
      "commit.log_bytes_per_commit" -> Stats.ratio(ctx.bytesUnder(logDir).toDouble, logVersions),
      "maint.optimize_ms" -> Stats.median(ctx.ms("maint.optimize")),
      "maint.expire_ms" -> Stats.median(ctx.ms("maint.expire")),
      "maint.bytes_rewritten" -> Stats.mean(bytesRewritten.toSeq),
      "maint.file_reduction_ratio" -> Stats.mean(fileReduction.toSeq),
      "maint.read_stall_ms" -> (Stats.median(ctx.ms("maint.first_read")) - Stats.median(readMs)),
      "scan.resolve_ms" -> Stats.median(ctx.ms("scan.resolve")),
      "scan.plan_ms" -> Stats.median(ctx.ms("scan.plan")),
      "scan.exec_ms" -> Stats.median(ctx.ms("scan.exec")))
  }
}
