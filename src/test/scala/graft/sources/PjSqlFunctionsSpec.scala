package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The extension-registered SQL functions must evaluate identically to
  * their Column-API forms — pure-SQL pipelines get the same codegen'd
  * expressions.
  */
class PjSqlFunctionsSpec extends AnyFunSuite {

  private lazy val extSpark: SparkSession =
    graft.GraftSession.withPjExtensions(SparkTestSession.spark)

  test("pj_simhash64 / pj_dot / pj_sorted_intersect_count evaluate from SQL") {
    val row = extSpark.sql(
      """SELECT
        |  pj_simhash64(array('the', 'quick', 'fox')) AS sh,
        |  pj_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS dot,
        |  pj_sorted_intersect_count(array(1L, 3L, 7L, 9L), array(3L, 4L, 9L)) AS ic
        |""".stripMargin).head()
    // identical to the Column-API expression results
    import org.apache.spark.sql.functions._
    val expect = extSpark.range(1).select(
      graft.functions.SimHash.simhash64(array(lit("the"), lit("quick"), lit("fox"))).as("sh"),
      graft.functions.VectorFunctions.dotProduct(
        array(lit(1.0), lit(2.0), lit(3.0)), array(lit(4.0), lit(5.0), lit(6.0))).as("dot"),
      graft.functions.SetFunctions.intersectCountSorted(
        array(lit(1L), lit(3L), lit(7L), lit(9L)), array(lit(3L), lit(4L), lit(9L))).as("ic")
    ).head()
    assert(row.getLong(0) == expect.getLong(0))
    assert(row.getDouble(1) == 32.0 && expect.getDouble(1) == 32.0)
    assert(row.getInt(2) == 2 && expect.getInt(2) == 2)
  }

  test("pj_hilbert_index evaluates from SQL, matches the Column API, rejects bad shapes") {
    val row = extSpark.sql(
      "SELECT pj_hilbert_index(4, 5L, 9L) AS h2, pj_hilbert_index(3, 1L, 2L, 3L) AS h3").head()
    import org.apache.spark.sql.functions._
    val expect = extSpark.range(1).select(
      graft.functions.HilbertCurve.hilbertIndex(4, lit(5L), lit(9L)).as("h2"),
      graft.functions.HilbertCurve.hilbertIndex(3, lit(1L), lit(2L), lit(3L)).as("h3")).head()
    assert(row.getLong(0) == expect.getLong(0) && row.getLong(1) == expect.getLong(1))
    assert(row.getLong(0) == graft.functions.HilbertCurve.index(Array(5L, 9L), 4))
    val tooFew = intercept[Exception](
      extSpark.sql("SELECT pj_hilbert_index(4, 1L)").head())
    assert(tooFew.getMessage.contains("coordinates"), s"unhelpful: ${tooFew.getMessage}")
    val badBits = intercept[Exception](
      extSpark.sql("SELECT pj_hilbert_index(id, 1L, 2L) FROM range(1)").head())
    assert(badBits.getMessage.contains("literal"), s"unhelpful: ${badBits.getMessage}")
  }

  test("arity errors are reported, not silently mis-bound") {
    val e = intercept[Exception](extSpark.sql("SELECT pj_dot(array(1.0D))").head())
    assert(e.getMessage.contains("pj_dot") || e.getMessage.contains("2 arguments"),
      s"unhelpful error: ${e.getMessage}")
  }
}
