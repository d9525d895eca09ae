package pjbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sources.pjparquet.PjIndexJob

/** Many roots: lineitem-shaped rows split into more roots than the
  * 32-root layout cache holds, several narrow files per root, each file a
  * contiguous `l_orderkey` range. Each op is one seeded key lookup; ops
  * visit the roots round-robin, so every resolve misses the layout cache
  * and the work is layout resolution, sidecar loads and stats pruning.
  * The expected rows of every lookup are computed once, before set-up, from
  * the function that generates the rows, not through Spark.
  */
final class ManyFiles(ctx: Ctx) extends Workload(ctx) {
  private val roots = if (ctx.tiny) 34 else 40
  private val filesPerRoot = if (ctx.tiny) 2 else 3
  private val rowsPerFile = if (ctx.tiny) 40 else 256
  private val linesPerOrder = 4
  private val rowsPerRoot = filesPerRoot * rowsPerFile
  private val ordersPerRoot = rowsPerRoot / linesPerOrder
  require(rowsPerRoot % linesPerOrder == 0, "an order's lines must not straddle two roots")
  private val cols = Seq("l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
  private val warmups = if (ctx.tiny) 2 else roots

  private var base = ""
  private var expected = Map.empty[Long, Seq[Row]]

  def opsFor(seconds: Int): Int = if (ctx.tiny) 6 else math.max(20, seconds * 6)

  private def rootOf(i: Int): Int = Math.floorMod(i, roots)
  private def keyOf(i: Int): Long = {
    val rnd = new scala.util.Random(ctx.seed * 1000003L + i)
    rootOf(i).toLong * ordersPerRoot + rnd.nextInt(ordersPerRoot) + 1
  }
  private def rootPath(r: Int): String = f"$base/r$r%02d"

  private val schema: MessageType = {
    val b = Types.buildMessage()
    Seq("l_orderkey", "l_partkey", "l_suppkey").foreach(n => b.addField(Types.required(INT64).named(n)))
    b.addField(Types.required(INT32).named("l_linenumber"))
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .foreach(n => b.addField(Types.required(DOUBLE).named(n)))
    Seq("l_returnflag", "l_linestatus")
      .foreach(n => b.addField(Types.required(BINARY).as(LogicalTypeAnnotation.stringType()).named(n)))
    b.addField(Types.required(INT64)
      .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
      .named("l_shipdate"))
    b.named("lineitem")
  }

  /** splitmix64 of (seed, salt, row id): the fixture is a pure function of
    * the seed.
    */
  private def mix(id: Long, salt: Int): Long = {
    var z = id * 0x9E3779B97F4A7C15L + (ctx.seed * 31 + salt) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def pick(id: Long, salt: Int, n: Long): Long = Math.floorMod(mix(id, salt), n)

  /** Row `id` in l_orderkey order; the lookup columns come first. */
  private def line(id: Long): (Int, Double, Double, String, Long, Long, Double, Double, String, Long) = (
    (id % linesPerOrder + 1).toInt,
    (pick(id, 2, 50) + 1).toDouble,
    (pick(id, 3, 9000000) + 100000) / 100.0,
    Seq("A", "N", "R")(pick(id, 6, 3).toInt),
    pick(id, 0, 20000) + 1,
    pick(id, 1, 1000) + 1,
    pick(id, 4, 11) / 100.0,
    pick(id, 5, 9) / 100.0,
    Seq("F", "O")(pick(id, 7, 2).toInt),
    (694224000L + pick(id, 8, 220000000)) * 1000000L)

  private var input = ""

  /** Write each root's files with parquet-java (each file a contiguous
    * `l_orderkey` range) and compute the expected answer of every lookup
    * from the same row function.
    */
  override def prepare(d: String): Unit = {
    input = d
    for (r <- 0 until roots; f <- 0 until filesPerRoot) {
      val dir = new java.io.File(f"$input/r$r%02d")
      dir.mkdirs()
      val w = ExampleParquetWriter.builder(new Path(s"$dir/part-$f.parquet"))
        .withType(schema).withConf(new Configuration())
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      val groups = new SimpleGroupFactory(schema)
      try {
        val first = r.toLong * rowsPerRoot + f.toLong * rowsPerFile
        (first until first + rowsPerFile).foreach { id =>
          val (ln, qty, price, flag, part, supp, disc, tax, status, ship) = line(id)
          val g = groups.newGroup()
          g.add(0, id / linesPerOrder + 1); g.add(1, part); g.add(2, supp); g.add(3, ln)
          g.add(4, qty); g.add(5, price); g.add(6, disc); g.add(7, tax)
          g.add(8, flag); g.add(9, status); g.add(10, ship)
          w.write(g)
        }
      } finally w.close()
    }
    expected = (0 until nOps + warmups).map(keyOf).distinct.map { k =>
      k -> (0 until linesPerOrder).map { j =>
        val l = line((k - 1) * linesPerOrder + j)
        Row(l._1, l._2, l._3, l._4)
      }
    }.toMap
  }

  /** Link every root's files into a fresh directory and build their
    * sidecars.
    */
  def setup(d: String): Unit = {
    base = s"$d/many"
    (0 until roots).foreach { r =>
      val to = new java.io.File(rootPath(r))
      to.mkdirs()
      Option(new java.io.File(f"$input/r$r%02d").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.createLink(to.toPath.resolve(f.getName), f.toPath))
    }
    PjIndexJob.generateAll(spark, base)
  }

  private def lookup(i: Int): Unit = {
    val key = keyOf(i)
    val df = ctx.time("scan.resolve")(spark.read.format("pjparquet").load(rootPath(rootOf(i))))
    val q = df.filter(col("l_orderkey") === key).select(cols.map(col): _*)
    val plan = ctx.time("scan.plan")(q.queryExecution.executedPlan)
    val got = ctx.time("scan.exec")(q.collect()).toSeq.sortBy(_.getInt(0))
    val want = expected(key)
    ctx.check(got.size.toLong == ctx.expect(want.size.toLong),
      s"many_files op $i: key $key returned ${got.size} rows, expected ${want.size}")
    ctx.check(got == want, s"many_files op $i: key $key returned $got, expected $want")
    ctx.count("rows_returned", got.size.toDouble)
    ctx.count("files_planned", ctx.scanMetric(plan, "pjFilesPlanned").toDouble)
    ctx.count("files_pruned", ctx.scanMetric(plan, "pjFilesPruned").toDouble)
    ctx.count("row_groups_planned", ctx.scanMetric(plan, "pjRowGroupsPlanned").toDouble)
  }

  def warmup(): Unit = (0 until warmups).foreach(j => lookup(nOps + j))
  def op(i: Int): Unit = lookup(i)

  def spaceBytesPerRow: Double = ctx.bytesUnder(base).toDouble / (roots.toLong * rowsPerRoot)

  private def readMs: Seq[Double] = {
    val (r, p, e) = (ctx.ms("scan.resolve"), ctx.ms("scan.plan"), ctx.ms("scan.exec"))
    r.indices.map(k => r(k) + p(k) + e(k))
  }

  def detail: Seq[Metric] =
    Seq(Metric("read_p50_ms", Stats.median(readMs), "ms")) ++
      Stats.p90(readMs).map(Metric("read_p90_ms", _, "ms"))

  def layers(traced: Seq[Int], engine: String => EngineAcc): Map[String, Double] = {
    val n = nOps.toDouble
    val io = traced.map(o => engine(s"t-$o"))
    val returnedPerTraced = ctx.counts("rows_returned") / n * traced.size
    Map(
      "scan.resolve_ms" -> Stats.median(ctx.ms("scan.resolve")),
      "scan.plan_ms" -> Stats.median(ctx.ms("scan.plan")),
      "scan.exec_ms" -> Stats.median(ctx.ms("scan.exec")),
      "scan.files_planned" -> ctx.counts("files_planned") / n,
      "scan.files_pruned" -> ctx.counts("files_pruned") / n,
      "scan.row_groups_planned" -> ctx.counts("row_groups_planned") / n,
      "scan.bytes_read_per_read" -> Stats.ratio(io.map(_.bytesRead).sum.toDouble, traced.size),
      "scan.rows_read_per_row_returned" ->
        Stats.ratio(io.map(_.recordsRead).sum.toDouble, returnedPerTraced))
  }
}
