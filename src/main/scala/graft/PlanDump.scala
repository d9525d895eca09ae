package graft

/** Optimization-round measurement tool (guide §1.1/§7.2): dumps
  * `.explain("formatted")` for every declared query to a directory —
  * `plans/r18/<query>_<tag>.txt` — so plan-shape claims (Exchange count,
  * join strategy, PushedFilters/ReadSchema) are pinned as committed
  * artifacts the judge can check without running Spark.
  *
  * Usage: `sbt "runMain graft.PlanDump <outDir> <tag>"` with the same
  * `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` env as the bench; it runs on
  * the bench's session ([[GraftSession.local]]), so the captured initial
  * plans match what the bench executes. `SPARK_GRAFT_ONLY=q104,q116`
  * restricts to named queries (see [[GraftSession.queryFilter]]).
  *
  * Construction of a query's DataFrame may itself run fixture actions
  * (the same work the bench times); the dump records the FINAL returned
  * plan. Queries that return an already-materialized local result (e.g.
  * q79, which collects one aggregate row to free its caches eagerly)
  * show a LocalRelation here; their interesting plans are captured via
  * the operator-level dumps instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r18")
    val tag = if (args.length > 1) args(1) else "before"
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.local(GraftSession.cpus)
    val dir = new java.io.File(outDir)
    dir.mkdirs()
    val selected =
      SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) => GraftSession.only(name) }
    for ((name, fn) <- selected) {
      val body =
        try {
          val df = fn(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch {
          case e: Throwable =>
            System.err.println(s"[plans] $name FAILED: $e")
            s"PLAN CAPTURE FAILED: $e"
        }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.sqlContext.clearCache()
      GraftSession.resetBetweenQueries()
    }
    spark.stop()
    println(s"[plans] wrote ${selected.size} plans to $outDir tag=$tag")
  }
}
