package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every session comes from [[GraftSession]]: the builder lives in one
  * file, the extension session is a well-behaved sibling of its base, and
  * the mains share one query filter.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("no code outside GraftSession builds a session") {
    val needle = "SparkSession" + ".builder("
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      val root = java.nio.file.Paths.get(dir)
      val stream = java.nio.file.Files.walk(root)
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains(needle))
        .map(_.toString).toList
      finally stream.close()
    }
    assert(offenders.isEmpty, s"build sessions through GraftSession: $offenders")
  }

  test("the extension session shares the base context and conf, and restores the sessions") {
    val base = spark
    val other = base.newSession()
    val oldDefault = SparkSession.getDefaultSession
    val oldActive = SparkSession.getActiveSession
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(other)
    try {
      val ext = GraftSession.withPjExtensions(base)
      assert(SparkSession.getDefaultSession.exists(_ eq base))
      assert(SparkSession.getActiveSession.exists(_ eq other))
      assert(ext ne base)
      assert(ext.sparkContext eq base.sparkContext)
      for (k <- Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone"))
        assert(ext.conf.get(k) == base.conf.get(k), k)
      assert(GraftSession.withPjExtensions(base) eq ext, "one extension session per context")
      // the extensions are on the sibling only
      assert(ext.sql("SELECT pj_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head().getDouble(0) == 11.0)
      intercept[org.apache.spark.sql.AnalysisException](
        base.sql("SELECT pj_dot(array(1.0D), array(1.0D))").collect())
    } finally {
      oldDefault.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      oldActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }

  test("the query filter matches whole name prefixes") {
    val q1 = GraftSession.queryFilter(Some("q1"))
    assert(q1("q1") && q1("q1_pricing_summary"))
    assert(!q1("q10_ngram") && !q1("q100_sql_update") && !q1("q01_pricing_summary"))
    val two = GraftSession.queryFilter(Some("q80, q32"))
    assert(two("q80_x") && two("q32_y") && !two("q8_z"))
    assert(GraftSession.queryFilter(None)("q10_ngram"))
  }
}
