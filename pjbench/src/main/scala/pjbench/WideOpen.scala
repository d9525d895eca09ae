package pjbench

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.RecordConsumer
import org.apache.parquet.schema.{MessageType, PrimitiveType, Types}
import org.apache.spark.sql.functions._

import graft.core.PalletJack

/** The paper's shape: a few files of 200 row groups x 400 float32 columns
  * with few rows per chunk, no dictionary, no statistics, no compression,
  * in one directory. Each op reads a seeded subset of row groups x columns
  * of one file through `option("rowGroups", ...)` plus `select`, checks the
  * sums against the closed-form value function, and splices the same
  * selection out of the file's index with [[PalletJack]] to check that the
  * spliced footer's row count matches what the scan read.
  */
final class WideOpen(ctx: Ctx) extends Workload(ctx) {
  private val nFiles = if (ctx.tiny) 1 else 2
  private val rowGroups = if (ctx.tiny) 10 else 200
  private val cols = if (ctx.tiny) 20 else 400
  private val rowsPerRg = if (ctx.tiny) 2 else 8
  private val rgsPerRead = if (ctx.tiny) 2 else 4
  private val colsPerRead = if (ctx.tiny) 3 else 6
  private val seedMod = Math.floorMod(ctx.seed, 1024L).toInt

  private var dir = ""
  private var files = Vector.empty[String]
  private var indexes = Vector.empty[Array[Byte]]
  private val indexBuildMs = scala.collection.mutable.ArrayBuffer[Double]()
  private val indexPerFooter = scala.collection.mutable.ArrayBuffer[Double]()

  /** Set-up is an index build of two files (~0.1 s): enough repeats that
    * the median is not at the mercy of one slow file-system call.
    */
  override def setupReps: Int = 9
  def opsFor(seconds: Int): Int = if (ctx.tiny) 6 else math.max(20, seconds * 5)

  /** Exact in float and in double: a multiple of 1/8 below 128. */
  private def value(file: Int, row: Int, col: Int): Float =
    Math.floorMod(row * 7 + col * 13 + file * 31 + seedMod, 1024) / 8.0f

  private val schema: MessageType = {
    val b = Types.buildMessage()
    (0 until cols).foreach { c =>
      b.addField(Types.optional(PrimitiveType.PrimitiveTypeName.FLOAT).named(s"c$c"))
    }
    b.named("wide")
  }

  private var inputs = Vector.empty[String]

  override def prepare(d: String): Unit = {
    new java.io.File(d).mkdirs()
    inputs = (0 until nFiles).map(f => s"$d/part-$f.parquet").toVector
    inputs.zipWithIndex.foreach { case (path, f) =>
      val w = new WideOpen.FloatRows(new Path(path), schema)
        .withConf(new Configuration())
        .withRowGroupRowCountLimit(rowsPerRg)
        .withDictionaryEncoding(false)
        .withStatisticsEnabled(false)
        .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
        .build()
      try {
        val row = new Array[Float](cols)
        var r = 0
        while (r < rowGroups * rowsPerRg) {
          var c = 0
          while (c < cols) { row(c) = value(f, r, c); c += 1 }
          w.write(row)
          r += 1
        }
      } finally w.close()
    }
  }

  /** Link the files into a fresh directory and index each one. */
  def setup(d: String): Unit = {
    dir = s"$d/wide"
    new java.io.File(dir).mkdirs()
    files = inputs.map { in =>
      val out = java.nio.file.Paths.get(dir, java.nio.file.Paths.get(in).getFileName.toString)
      java.nio.file.Files.createLink(out, java.nio.file.Paths.get(in))
      out.toString
    }
    indexes = files.map { path =>
      val t0 = System.nanoTime()
      PalletJack.generateMetadataIndex(path, path + ".index")
      indexBuildMs += (System.nanoTime() - t0) / 1e6
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path + ".index"))
      indexPerFooter += bytes.length.toDouble / footerLength(path)
      bytes
    }
  }

  private def footerLength(path: String): Long = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      raf.seek(raf.length() - 8)
      val b = new Array[Byte](4)
      raf.readFully(b)
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toLong
    } finally raf.close()
  }

  private def read(i: Int): Unit = {
    val rnd = new scala.util.Random(ctx.seed * 1000003L + i)
    val f = Math.floorMod(i, nFiles)
    val rgs = rnd.shuffle((0 until rowGroups).toVector).take(rgsPerRead).sorted
    val cs = rnd.shuffle((0 until cols).toVector).take(colsPerRead).sorted
    val names = cs.map(c => s"c$c")

    val df = ctx.time("scan.resolve") {
      spark.read.format("pjparquet").option("rowGroups", rgs.mkString(",")).load(files(f))
    }
    val q = df.select(names.map(n => sum(col(n)).as(n)) :+ count(lit(1)).as("n"): _*)
    val plan = ctx.time("scan.plan")(q.queryExecution.executedPlan)
    val row = ctx.time("scan.exec")(q.collect().head)

    val footer = ctx.time("core.splice") {
      PalletJack.readMetadataBytesFromIndexData(indexes(f), rgs, columnNames = names)
    }
    val md = ctx.time("core.materialize")(PalletJack.materialize(footer))

    val rows = rgs.size.toLong * rowsPerRg
    ctx.check(row.getLong(names.size) == ctx.expect(rows),
      s"wide_open op $i: scan counted ${row.getLong(names.size)} rows, expected $rows")
    val spliced = md.getBlocks.asScala.map(_.getRowCount).sum
    ctx.check(spliced == row.getLong(names.size),
      s"wide_open op $i: spliced footer holds $spliced rows, the scan read ${row.getLong(names.size)}")
    ctx.check(md.getFileMetaData.getSchema.getFieldCount == names.size,
      s"wide_open op $i: spliced schema has ${md.getFileMetaData.getSchema.getFieldCount} columns")
    cs.zipWithIndex.foreach { case (c, k) =>
      val want = rgs.iterator.flatMap(rg => (rg * rowsPerRg) until (rg + 1) * rowsPerRg)
        .map(r => value(f, r, c).toDouble).sum
      ctx.check(row.getDouble(k) == want, s"wide_open op $i: sum(c$c) = ${row.getDouble(k)}, expected $want")
    }
    ctx.count("rows_selected", rows.toDouble)
    ctx.count("files_planned", ctx.scanMetric(plan, "pjFilesPlanned").toDouble)
    ctx.count("files_pruned", ctx.scanMetric(plan, "pjFilesPruned").toDouble)
    ctx.count("row_groups_planned", ctx.scanMetric(plan, "pjRowGroupsPlanned").toDouble)
  }

  def warmup(): Unit = (0 until (if (ctx.tiny) 2 else 30)).foreach(j => read(nOps + j))
  def op(i: Int): Unit = read(i)

  def spaceBytesPerRow: Double =
    ctx.bytesUnder(dir).toDouble / (nFiles.toLong * rowGroups * rowsPerRg)

  private def readMs: Seq[Double] = {
    val (r, p, e) = (ctx.ms("scan.resolve"), ctx.ms("scan.plan"), ctx.ms("scan.exec"))
    r.indices.map(k => r(k) + p(k) + e(k))
  }

  def detail: Seq[Metric] =
    Seq(Metric("read_p50_ms", Stats.median(readMs), "ms")) ++
      Stats.p90(readMs).map(Metric("read_p90_ms", _, "ms"))

  private var footerParseMs = 0.0

  /** The stock full-footer parse of the same files, as the baseline. */
  override def probeLayers(): Unit = {
    val conf = new Configuration()
    def parse(path: String): Unit = ParquetFileReader.readFooter(
      HadoopInputFile.fromPath(new Path(path), conf), ParquetMetadataConverter.NO_FILTER)
    files.foreach(parse)
    footerParseMs = Stats.median((0 until 5).flatMap(_ => files).map { p =>
      val t0 = System.nanoTime(); parse(p); (System.nanoTime() - t0) / 1e6
    })
  }

  def layers(traced: Seq[Int], engine: String => EngineAcc): Map[String, Double] = {
    val n = nOps.toDouble
    val spliceUs = Stats.median(ctx.ms("core.splice")) * 1000
    val materializeUs = Stats.median(ctx.ms("core.materialize")) * 1000
    val io = traced.map(o => engine(s"t-$o"))
    val selectedPerTraced = ctx.counts("rows_selected") / n * traced.size
    Map(
      "core.footer_parse_ms" -> footerParseMs,
      "core.splice_us" -> spliceUs,
      "core.materialize_us" -> materializeUs,
      "core.parse_over_splice" -> Stats.ratio(footerParseMs * 1000, spliceUs + materializeUs),
      "core.index_build_ms" -> Stats.median(indexBuildMs.toSeq),
      "core.index_bytes_per_footer_byte" -> Stats.median(indexPerFooter.toSeq),
      "scan.resolve_ms" -> Stats.median(ctx.ms("scan.resolve")),
      "scan.plan_ms" -> Stats.median(ctx.ms("scan.plan")),
      "scan.exec_ms" -> Stats.median(ctx.ms("scan.exec")),
      "scan.files_planned" -> ctx.counts("files_planned") / n,
      "scan.files_pruned" -> ctx.counts("files_pruned") / n,
      "scan.row_groups_planned" -> ctx.counts("row_groups_planned") / n,
      "scan.bytes_read_per_read" -> Stats.ratio(io.map(_.bytesRead).sum.toDouble, traced.size),
      "scan.rows_read_per_row_returned" ->
        Stats.ratio(io.map(_.recordsRead).sum.toDouble, selectedPerTraced))
  }
}

object WideOpen {
  /** Writes rows of `float` columns straight to the record consumer. */
  final class FloatRows(path: Path, schema: MessageType)
      extends ParquetWriter.Builder[Array[Float], FloatRows](path) {
    override def self(): FloatRows = this
    override def getWriteSupport(conf: Configuration): WriteSupport[Array[Float]] =
      new WriteSupport[Array[Float]] {
        private val names = (0 until schema.getFieldCount).map(schema.getFieldName).toArray
        private var out: RecordConsumer = _
        override def init(conf: Configuration): WriteSupport.WriteContext =
          new WriteSupport.WriteContext(schema, new java.util.HashMap[String, String]())
        override def prepareForWrite(rc: RecordConsumer): Unit = out = rc
        override def write(row: Array[Float]): Unit = {
          out.startMessage()
          var c = 0
          while (c < row.length) {
            out.startField(names(c), c); out.addFloat(row(c)); out.endField(names(c), c)
            c += 1
          }
          out.endMessage()
        }
      }
  }
}
