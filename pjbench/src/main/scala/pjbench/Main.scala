package pjbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.PjBenchBridge
import org.apache.spark.sql.SparkSession

/** `pjbench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--tiny] [--wrong-expectation]`
  *
  * One run: generate the inputs, set the workload up several times (the
  * median is `setup_s`), warm up, probe the host, force a full GC, then
  * run a fixed number of ops derived from `--seconds` on one client
  * thread. The last stdout line is the result object; the line before it
  * carries the workload's named figures and the host probe. Exit code 1
  * means a wrong result.
  */
object Main {
  /** Per-layer metrics, printed by every traced run (0 where a layer is
    * not used by the workload).
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.footer_parse_ms" -> "ms", "core.splice_us" -> "us",
    "core.materialize_us" -> "us", "core.parse_over_splice" -> "ratio",
    "core.index_build_ms" -> "ms", "core.index_bytes_per_footer_byte" -> "ratio",
    "scan.resolve_ms" -> "ms", "scan.plan_ms" -> "ms", "scan.exec_ms" -> "ms",
    "scan.files_planned" -> "count", "scan.files_pruned" -> "count",
    "scan.row_groups_planned" -> "count", "scan.bytes_read_per_read" -> "B",
    "scan.rows_read_per_row_returned" -> "ratio",
    "commit.append_ms" -> "ms", "commit.merge_ms" -> "ms",
    "commit.update_ms" -> "ms", "commit.delete_ms" -> "ms",
    "commit.jobs_per_write" -> "count", "commit.driver_gap_ms_per_write" -> "ms",
    "commit.files_added_per_write" -> "count", "commit.bytes_written_per_row" -> "B",
    "commit.log_bytes_per_commit" -> "B",
    "maint.optimize_ms" -> "ms", "maint.expire_ms" -> "ms",
    "maint.bytes_rewritten" -> "B", "maint.file_reduction_ratio" -> "ratio",
    "maint.read_stall_ms" -> "ms") ++
    OperatorFloor.Queries.map(q => s"ops.${q}_ms" -> "ms") ++ Seq(
    "ops.jobs_per_query" -> "count", "ops.driver_gap_share" -> "ratio",
    "engine.jobs_per_op" -> "count", "engine.stages_per_op" -> "count",
    "engine.tasks_per_op" -> "count", "engine.task_run_ms_per_op" -> "ms",
    "engine.driver_gap_ms_per_op" -> "ms", "engine.gc_ms_per_op" -> "ms") ++
    Tracer.Layers.map(l => s"self.${l}_ms_per_op" -> "ms") ++ Seq(
    "trace.overhead_ops_per_s" -> "1/s", "trace.overhead_pct" -> "%",
    "failed_ops_ratio" -> "ratio")

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, tiny: Boolean, wrong: Boolean)

  def parse(argv: Array[String]): Args = {
    def value(k: String): Option[String] =
      argv.indexOf(k) match { case -1 => None; case i => argv.lift(i + 1) }
    def need(k: String) = value(k).getOrElse(throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"), argv.contains("--tiny"),
      argv.contains("--wrong-expectation"))
  }

  def session(work: String): SparkSession = {
    // two task threads beside the one client thread leave the host's other
    // cores to the JIT, the GC and the neighbours
    val cpus = math.min(2, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("pjbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.catalog.pjb", "graft.sources.pjparquet.PjCatalog")
      .withExtensions(new org.apache.spark.sql.execution.datasources.parquet.PjSparkExtensions())
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "wide_open" => new WideOpen(ctx)
    case "many_files" => new ManyFiles(ctx)
    case "dml_churn" => new DmlChurn(ctx)
    case "operator_floor" => new OperatorFloor(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Code-independent host probe: stock Spark primitives over an
    * in-memory range, min of 3 after one warm-up. It moves with the host,
    * not with this repository's code, so drift between sets of runs can be
    * told apart from a change in the program.
    */
  def calibration(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 200000, 1, 4)
        .selectExpr("pmod(xxhash64(id, 7), 64) AS b", "id % 1000 AS q")
        .groupBy("b").agg(org.apache.spark.sql.functions.expr("sum(q)"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    (1 to 3).map(_ => once()).min
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def fullGc(): Unit = { System.gc(); System.gc() }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.work)
    val code =
      try run(a, spark)
      catch {
        case e: Throwable =>
          System.err.println(s"[pjbench] run aborted: $e")
          e.printStackTrace()
          2
      } finally spark.stop()
    System.exit(code)
  }

  def run(a: Args, spark: SparkSession): Int = {
    val ctx = new Ctx(spark, a.seed, a.tiny, a.wrong)
    val w = workload(a.workload, ctx)
    val sc = spark.sparkContext
    val n = w.opsFor(a.seconds)
    w.nOps = n

    val tPrep = System.nanoTime()
    w.prepare(s"${a.work}/data/input")
    System.err.println(f"[pjbench] inputs prepared: ${(System.nanoTime() - tPrep) / 1e9}%.2f s")
    // set-up, several times into fresh directories; the last one is used
    val setupS = (0 until w.setupReps).map { r =>
      val dir = s"${a.work}/data/setup-$r"
      val t0 = System.nanoTime()
      w.setup(dir)
      val dt = (System.nanoTime() - t0) / 1e9
      if (r > 0) deleteTree(new java.io.File(s"${a.work}/data/setup-${r - 1}"))
      dt
    }
    def phase(name: String, since: Long): Unit =
      System.err.println(f"[pjbench] $name%s: ${(System.nanoTime() - since) / 1e9}%.2f s")
    System.err.println(s"[pjbench] set-up runs: ${setupS.map(t => f"$t%.2f").mkString(", ")} s")

    val recorder = new EngineRecorder("t-")
    if (a.trace) sc.addSparkListener(recorder)

    var failed = 0
    var done = 0
    val opMs = new Array[Double](n)
    def setGroup(g: String): Unit = { ctx.group = g; sc.setJobGroup(g, "pjbench", false) }
    val nsOrigin = System.nanoTime()
    val msOrigin = System.currentTimeMillis()
    var wallS = 0.0
    var calib = 0.0
    var gcTotalMs = 0L
    try {
      setGroup("warmup")
      val tWarm = System.nanoTime()
      w.warmup()
      phase("warm-up", tWarm)
      // the host probe runs warm, outside the timed phase
      calib = calibration(spark)
      PjBenchBridge.drainListenerBus(sc)
      fullGc()
      ctx.recording = true
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      while (done < n) {
        val i = done
        // in a traced run every other op is traced, so the tracing
        // overhead is measured against interleaved untraced ops
        val traced = a.trace && i % 2 == 1
        ctx.opIndex = i
        setGroup(if (traced) s"t-$i" else s"u-$i")
        ctx.tracer.active = traced
        val s0 = System.nanoTime()
        if (traced) ctx.tracer.open("op", i, s0)
        try w.op(i)
        catch {
          case e: WrongAnswer => throw e
          case e: Exception =>
            failed += 1
            System.err.println(s"[pjbench] op $i failed: $e")
        } finally {
          val s1 = System.nanoTime()
          if (traced) ctx.tracer.close(s1)
          opMs(i) = (s1 - s0) / 1e6
        }
        setGroup(if (traced) s"t-m$i" else s"u-m$i")
        try w.afterOp(i) finally ctx.tracer.active = false
        done += 1
      }
      wallS = (System.nanoTime() - t0) / 1e9
      gcTotalMs = gcMs() - gc0
      phase(s"timed phase, $n ops", t0)
      // the op p50 of each sixth of the timed phase: drift within a run
      val block = math.max(1, n / 6)
      System.err.println("[pjbench] block p50 ms: " + opMs.grouped(block)
        .map(b => f"${Stats.median(b.toSeq)}%.1f").mkString(" "))
    } catch {
      case e: WrongAnswer =>
        System.err.println(s"[pjbench] WRONG RESULT: ${e.getMessage}")
        println(s"""{"correct": false, "attempted": ${math.max(1, done)}, "failed": $failed, "metrics": {}}""")
        return 1
    } finally {
      ctx.recording = false
      ctx.tracer.active = false
      sc.clearJobGroup()
    }

    fullGc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val space = w.spaceBytesPerRow
    val named = Seq(
      Metric("op_p50_ms", Stats.median(opMs.toSeq), "ms"),
      Metric("ops_per_s", n / wallS, "1/s")) ++ w.detail ++
      Seq(Metric("failed_ops_ratio", failed.toDouble / n, "ratio"))

    val metrics: Seq[Metric] =
      if (!a.trace) Seq(
        Metric("setup_s", Stats.median(setupS), "s"),
        // the low decile, not the median: on a shared host interference only
        // adds time, and a slow stretch of a run moves the run's median and
        // mean rate far more than its low decile
        Metric("op_p10_ms", Stats.quantile(opMs.toSeq, 0.1), "ms"),
        Metric("space_bytes_per_row", space, "B"),
        Metric("heap_retained_mb", heapMb, "MB"))
      else {
        PjBenchBridge.drainListenerBus(sc)
        sc.removeSparkListener(recorder)
        val tracedOps = (1 until n by 2).toSeq
        val untracedOps = (0 until n by 2).toSeq
        val msToNs = (ms: Long) => nsOrigin + (ms - msOrigin) * 1000000L
        tracedOps.foreach { o =>
          val jobs = recorder.sum(s"t-$o").jobs ++ recorder.sum(s"t-m$o").jobs
          ctx.tracer.attachJobs(o, jobs.toSeq, msToNs)
        }
        val self = ctx.tracer.selfMsByLayer
        val accs = tracedOps.map(o => recorder.sum(s"t-$o"))
        val tn = math.max(1, tracedOps.size).toDouble
        val gapMs = tracedOps.zip(accs).map { case (o, acc) => opMs(o) - unionMs(acc.jobs.toSeq) }
        val tracedRate = 1000.0 / Stats.mean(tracedOps.map(opMs(_)))
        val untracedRate = 1000.0 / Stats.mean(untracedOps.map(opMs(_)))
        w.probeLayers()
        val engine = Map(
          "engine.jobs_per_op" -> accs.map(_.jobs.size).sum / tn,
          "engine.stages_per_op" -> accs.map(_.stages).sum / tn,
          "engine.tasks_per_op" -> accs.map(_.tasks).sum / tn,
          "engine.task_run_ms_per_op" -> accs.map(_.taskRunMs).sum / tn,
          "engine.driver_gap_ms_per_op" -> gapMs.sum / tn,
          "engine.gc_ms_per_op" -> gcTotalMs.toDouble / n,
          "trace.overhead_ops_per_s" -> (untracedRate - tracedRate),
          "trace.overhead_pct" -> 100.0 * Stats.ratio(untracedRate - tracedRate, untracedRate),
          "failed_ops_ratio" -> failed.toDouble / n) ++
          Tracer.Layers.map(l => s"self.${l}_ms_per_op" -> self.getOrElse(l, 0.0) / tn)
        val owned = w.layers(tracedOps, recorder.sum)
        writeTrace(a, ctx)
        PerLayer.map { case (name, unit) =>
          Metric(name, owned.getOrElse(name, engine.getOrElse(name, 0.0)), unit)
        }
      }
    println(s"""{"workload": ${Json.str(a.workload)}, "seed": ${a.seed}, "trace": ${a.trace}, """ +
      s""""ops": $n, "calibration_s": ${Json.num(calib)}, "named": ${Json.metrics(named)}}""")
    println(s"""{"correct": true, "attempted": $n, "failed": $failed, "metrics": ${Json.metrics(metrics)}}""")
    0
  }

  /** Wall milliseconds covered by the union of job intervals. */
  def unionMs(jobs: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    jobs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered.toDouble
  }

  private def writeTrace(a: Args, ctx: Ctx): Unit = {
    // `--work` is <bench>/work/<run>; traces outlive the run in <bench>/traces
    val out = java.nio.file.Paths.get(a.work).toAbsolutePath.getParent.resolveSibling("traces")
    java.nio.file.Files.createDirectories(out)
    java.nio.file.Files.writeString(
      out.resolve(s"${a.workload}-seed${a.seed}.json"), ctx.tracer.toJson)
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
