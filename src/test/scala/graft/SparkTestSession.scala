package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all ScalaTest suites (forked JVM); 4 task
  * threads whatever `SPARK_GRAFT_CPUS` says.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}
