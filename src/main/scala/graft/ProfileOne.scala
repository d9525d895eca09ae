package graft

import org.apache.spark.scheduler._

/** Optimization-round measurement tool (guide §1/§7.1 without a UI): runs
  * ONE declared query N times and prints, for the LAST (warm) run, every
  * Spark job it submitted — wall ms, stage count, task count, executor-run
  * ms — plus the gaps between jobs (driver-side work: planning, listings,
  * commits). This is the stage-level view the guide's empirical loop needs,
  * in a headless sandbox where the UI is off.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.ProfileOne q116_ivfpq_ann [runs]"`; it runs on the
  * bench's session ([[GraftSession.local]], 4 task threads unless
  * `SPARK_GRAFT_CPUS` says otherwise).
  */
object ProfileOne {
  private final case class JobRec(
      id: Int, submitted: Long, var finished: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, var taskRunMs: Long = 0L,
      desc: String = "")

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: ProfileOne <query> [runs]"))
    val runs = if (args.length > 1) args(1).toInt else 3
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.local(GraftSession.cpus)
    val sc = spark.sparkContext

    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))

    // Each run submits its jobs under its own job group; only the final
    // run's group is recorded, whenever its events reach the listener.
    val finalGroup = s"profile-$runs"
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).contains(finalGroup)) {
          val rec = JobRec(e.jobId, e.time,
            desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
          rec.stages = e.stageIds.size
          jobs.put(e.jobId, rec)
          e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.finished = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageToJob.get(e.stageId)).map(jobs.get).filter(_ != null).foreach { r =>
          r.tasks += 1
          if (e.taskMetrics != null) r.taskRunMs += e.taskMetrics.executorRunTime
        }
    }
    sc.addSparkListener(listener)

    // Driver-side sampling profiler for the final run: the interesting
    // time in metadata queries is BETWEEN jobs (planning, commit-log I/O,
    // catalog work) — a 10 ms wall-clock sampler over the query thread
    // shows where those gaps go without any external tooling.
    val queryThread = Thread.currentThread()
    val histo = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = queryThread.getStackTrace
          if (st.nonEmpty) {
            // first frame in graft/spark that is not pure scala/java —
            // the "what is the driver doing" attribution frame
            val f = st.find { e =>
              val c = e.getClassName
              (c.startsWith("graft") || c.startsWith("org.apache.spark")) &&
                !c.contains("ProfileOne")
            }.map(e => s"${e.getClassName}.${e.getMethodName}").getOrElse(
              st.headOption.map(e => s"${e.getClassName}.${e.getMethodName}").getOrElse("?"))
            histo.merge(f, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    var lastWall = 0.0
    for (r <- 1 to runs) {
      sampling = r == runs // sample only the final (warm) run
      sc.setJobGroup(s"profile-$r", null) // null keeps the queries' own job descriptions
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      lastWall = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      sampling = false
      println(f"[profile] $name run $r/$runs wall=${lastWall}%.3f s")
      spark.sqlContext.clearCache()
      GraftSession.resetBetweenQueries()
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    val recs = scala.jdk.CollectionConverters.CollectionHasAsScala(jobs.values())
      .asScala.toSeq.sortBy(_.submitted)
    println(f"[profile] $name FINAL wall=${lastWall}%.3f s, ${recs.size} jobs:")
    var prevEnd = 0L
    for (j <- recs) {
      val gap = if (prevEnd == 0L) 0L else math.max(0L, j.submitted - prevEnd)
      prevEnd = math.max(prevEnd, j.finished)
      val d = if (j.desc.nonEmpty) " " + j.desc.take(60) else ""
      println(f"[profile]   job ${j.id}%4d wall=${j.finished - j.submitted}%5d ms " +
        f"gapBefore=$gap%5d ms stages=${j.stages}%2d tasks=${j.tasks}%4d " +
        f"taskRun=${j.taskRunMs}%6d ms$d")
    }
    val jobWall = recs.map(j => j.finished - j.submitted).sum
    println(f"[profile] sum(job wall)=${jobWall} ms of ${(lastWall * 1000).toLong} ms total " +
      f"(driver gaps=${(lastWall * 1000).toLong - jobWall} ms)")
    val hs = scala.jdk.CollectionConverters.MapHasAsScala(histo).asScala.toSeq
      .sortBy(-_._2.intValue()).take(25)
    println(s"[profile] query-thread samples (10 ms) during final run:")
    hs.foreach { case (f, n) => println(f"[profile]   $n%4d  $f") }
    spark.stop()
  }
}
