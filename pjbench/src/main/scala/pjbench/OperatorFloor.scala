package pjbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.SparkEntry

/** Short `SparkEntry.queries` at the sf0.01 shape, where the fixed
  * per-query cost dominates. One op is one full pass over the list. The
  * tables are generated from the seed with the sf0.01 row counts and the
  * TPC-H value domains (FIXTURES.md B), so the queries' group counts match
  * the recorded gate results. Pass 0 (the warm-up) records each query's
  * order-insensitive result hash; every timed pass must reproduce it.
  */
final class OperatorFloor(ctx: Ctx) extends Workload(ctx) {
  import OperatorFloor._

  private val scale = if (ctx.tiny) 0.1 else 1.0
  private var dir = ""
  private val reference = mutable.HashMap[String, (Long, Long)]()

  def opsFor(seconds: Int): Int = if (ctx.tiny) 1 else math.max(2, math.round(seconds / 4.0).toInt)

  private def rows(n: Int): Long = math.max(1L, math.round(n * scale))

  def setup(d: String): Unit = {
    dir = s"$d/sf"
    val s = ctx.seed
    def h(salt: Int, mod: Long) = s"pmod(xxhash64(id, ${s + salt}), $mod)"
    def pick(salt: Int, values: Seq[String]) =
      s"element_at(array(${values.map(v => s"'$v'").mkString(", ")}), CAST(${h(salt, values.size)} + 1 AS INT))"
    def write(name: String, n: Long, exprs: String*): Unit =
      spark.range(0, n, 1, 1).selectExpr(exprs: _*).write.parquet(s"$dir/$name.parquet")
    val nCust = rows(1500)
    val nOrders = rows(15000)
    write("region", 5, "CAST(id AS INT) AS r_regionkey", "concat('REGION', id) AS r_name")
    write("nation", 25, "CAST(id AS INT) AS n_nationkey", "concat('NATION', id) AS n_name",
      "CAST(id % 5 AS INT) AS n_regionkey")
    write("customer", nCust, "id + 1 AS c_custkey", "concat('Customer#', id + 1) AS c_name",
      "CAST(id % 25 AS INT) AS c_nationkey",
      s"CAST(${h(1, 1100000)} - 100000 AS DOUBLE) / 100 AS c_acctbal",
      pick(2, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")) + " AS c_mktsegment")
    write("supplier", rows(100), "id + 1 AS s_suppkey", "concat('Supplier#', id + 1) AS s_name",
      "CAST(id % 25 AS INT) AS s_nationkey",
      s"CAST(${h(3, 1100000)} - 100000 AS DOUBLE) / 100 AS s_acctbal")
    write("orders", nOrders, "id + 1 AS o_orderkey", s"${h(4, nCust)} + 1 AS o_custkey",
      pick(5, Seq("F", "O", "P")) + " AS o_orderstatus",
      s"CAST(${h(6, 50000000)} + 100000 AS DOUBLE) / 100 AS o_totalprice",
      s"timestamp_millis(694224000000 + ${h(7, 2400L * 86400000L)}) AS o_orderdate",
      pick(8, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")) + " AS o_orderpriority")
    write("lineitem", rows(60000), "id DIV 4 + 1 AS l_orderkey",
      s"${h(9, 2000)} + 1 AS l_partkey", s"${h(10, rows(100))} + 1 AS l_suppkey",
      "CAST(id % 4 + 1 AS INT) AS l_linenumber",
      s"CAST(${h(11, 50)} + 1 AS DOUBLE) AS l_quantity",
      s"CAST(${h(12, 9000000)} + 100000 AS DOUBLE) / 100 AS l_extendedprice",
      s"CAST(${h(13, 11)} AS DOUBLE) / 100 AS l_discount",
      s"CAST(${h(14, 9)} AS DOUBLE) / 100 AS l_tax",
      pick(15, Seq("A", "N", "R")) + " AS l_returnflag", pick(16, Seq("F", "O")) + " AS l_linestatus",
      s"timestamp_millis(694224000000 + ${h(17, 2400L * 86400000L)}) AS l_shipdate")
    write("embeddings", rows(500), "id AS vec_id",
      s"transform(sequence(0, ${graft.Tables.embeddingDim - 1}), " +
        s"j -> CAST(pmod(xxhash64(id, j, $s), 2001) - 1000 AS FLOAT) / 1000) AS embedding",
      s"CAST(${h(18, 10)} AS INT) AS label")
  }

  /** Order-insensitive: a sum of per-row hashes, doubles rounded to 9
    * significant digits so a change in summation order does not count.
    */
  private def resultHash(rs: Array[Row]): Long = rs.iterator.map { r =>
    scala.util.hashing.MurmurHash3.seqHash(r.toSeq.map {
      case d: Double => f"$d%.9g"
      case f: Float => f"${f.toDouble}%.6g"
      case v => String.valueOf(v)
    }).toLong
  }.sum

  private def pass(i: Int): Unit =
    Queries.foreach { q =>
      val rs = ctx.sub(q)(ctx.time(s"query.$q") {
        try SparkEntry.queries(q)(spark, dir).collect()
        finally spark.sqlContext.clearCache()
      })
      val got = (rs.length.toLong, resultHash(rs))
      reference.get(q) match {
        case None =>
          // the gate's counts are for the sf0.01 shape, not the tiny one
          if (!ctx.tiny) GateRows.get(q).foreach { n =>
            ctx.check(rs.length.toLong == ctx.expect(n),
              s"operator_floor: $q returned ${rs.length} rows, the gate recorded $n")
          }
          reference(q) = got
        case Some(want) =>
          ctx.check(got == (want._1, ctx.expect(want._2)),
            s"operator_floor pass $i: $q gave (rows, hash) $got, pass 0 gave $want")
      }
    }

  def warmup(): Unit = pass(-1)
  def op(i: Int): Unit = pass(i)

  /** Input tables plus everything the pass's queries left in the scratch
    * temporary directory, per input row.
    */
  def spaceBytesPerRow: Double = {
    val inputRows = spark.read.parquet(TableNames.map(t => s"$dir/$t.parquet"): _*).count()
    val tmp = System.getProperty("java.io.tmpdir")
    (ctx.bytesUnder(dir) + ctx.bytesUnder(tmp)).toDouble / inputRows
  }

  def detail: Seq[Metric] = {
    val passes = ctx.samples.keys.filter(_.startsWith("query.")).toSeq
    val passMs = (0 until nOps).map(k => passes.map(ctx.ms(_)(k)).sum)
    Seq(Metric("pass_p50_ms", Stats.median(passMs), "ms"))
  }

  def layers(traced: Seq[Int], engine: String => EngineAcc): Map[String, Double] = {
    val perQuery = for (o <- traced; q <- Queries) yield (ctx.ms(s"query.$q")(o), engine(s"t-$o/$q"))
    val wall = perQuery.map(_._1).sum
    val gaps = perQuery.map { case (ms, acc) => ms - Main.unionMs(acc.jobs.toSeq) }.sum
    Queries.map(q => s"ops.${q}_ms" -> Stats.median(ctx.ms(s"query.$q"))).toMap ++ Map(
      "ops.jobs_per_query" -> Stats.ratio(perQuery.map(_._2.jobs.size).sum.toDouble, perQuery.size),
      "ops.driver_gap_share" -> Stats.ratio(gaps, wall))
  }
}

object OperatorFloor {
  /** The DML (q100-q102, q155), ANN (q43, q104, q114, q116) and q173
    * families, with q01/q02 as the baseline.
    */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q02_filter_project",
    "q100_sql_update", "q101_merge_upsert", "q102_row_delete", "q155_row_tracking",
    "q43_ivf_ann", "q104_pq_ann", "q114_pq_persisted_index", "q116_ivfpq_ann",
    "q173_cbo_histograms")

  val TableNames: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "orders", "lineitem", "embeddings")

  /** `spark_rows` of the sf0.01 gate (CORRECTNESS_r19.json) for the
    * queries whose row count is fixed by the value domains rather than by
    * the particular rows: group counts and single-row summaries.
    */
  val GateRows: Map[String, Long] = Map(
    "q01_pricing_summary" -> 6L, "q100_sql_update" -> 6L, "q101_merge_upsert" -> 25L,
    "q102_row_delete" -> 3L, "q43_ivf_ann" -> 1L, "q104_pq_ann" -> 1L,
    "q114_pq_persisted_index" -> 1L, "q116_ivfpq_ann" -> 1L, "q173_cbo_histograms" -> 25L)
}
