package graft.sources.pjparquet

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.core.PJException

/** First-class change-data-feed read surface over commit-log tables —
  * Delta's option contract on the TABLE itself:
  *
  * {{{
  *   spark.read.format("pjparquet")
  *     .option("readChangeFeed", "true")
  *     .option("startingVersion", "2")        // or startingTimestamp
  *     .option("endingVersion", "7")          // optional; default latest
  *     .load(root)
  *
  *   spark.readStream.format("pjparquet")
  *     .option("readChangeFeed", "true")
  *     .option("startingVersion", "1")        // optional; default: new commits only
  *     .load(root)
  * }}}
  *
  * Schema = the table's read schema + `_change_type` (string) +
  * `_commit_version` (long). The BATCH read plans the whole version range
  * server-side in ONE bounded plan ([[PjChangeFeed.changes]]: one scan
  * over all pure-add and pure-remove files, one over persisted change
  * files, plus an individual diff subplan only for un-persisted
  * rewrites). The STREAMING read's offsets are COMMIT
  * VERSIONS — each version is delivered exactly once, restart-safe from
  * the checkpointed version cursor, independent of file mtimes
  * ([[PjCdfMicroBatchStream]]).
  */
object PjChangeFeedTable {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CommitTimestampCol = "_commit_timestamp"

  def isCdf(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("readChangeFeed", false)

  /** The extra feed columns appended to the table schema (Delta's CDF
    * triple: change type, commit version, commit timestamp).
    */
  def cdfFields: Seq[StructField] = Seq(
    StructField(ChangeTypeCol, StringType, nullable = false),
    StructField(CommitVersionCol, LongType, nullable = false),
    StructField(CommitTimestampCol, org.apache.spark.sql.types.TimestampType,
      nullable = false))

  def resolve(options: CaseInsensitiveStringMap): PjChangeFeedTable = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("pjparquet: 'path' option is required"))
    if (options.containsKey("versionAsOf") || options.containsKey("timestampAsOf"))
      throw new PJException(
        "pjparquet: readChangeFeed and versionAsOf/timestampAsOf are mutually " +
          "exclusive (the feed IS a version-range read)")
    val spark = SparkSession.active
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!PjCommitLog.isEnabled(fs, rootPath))
      throw new PJException(
        s"pjparquet: readChangeFeed requires a commit-log table ('$path' has no " +
          s"${PjCommitLog.DirName}); enable with log.enabled=true at write time")
    val base = PjParquetTable.resolve(options)
    val starting: Option[Long] = Option(options.get("startingVersion")).map { v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new PJException(
          s"pjparquet: startingVersion must be a commit-log version number, got '$v'")
      }
    }.orElse(Option(options.get("startingTimestamp")).map { raw =>
      // CDF timestamp semantics (Delta parity): the FIRST commit at or
      // after the instant — "changes since t", not time travel's state
      // as-of t
      val ts = PjParquetTable.parseTimestampMillis(raw, "startingTimestamp")
      PjCommitLog.history(fs, rootPath).find(_.ts >= ts).map(_.version)
        .getOrElse(throw new PJException(
          s"pjparquet: no commit at or after startingTimestamp $ts " +
            s"(latest commit is older); use startingVersion to re-read history"))
    })
    val ending: Option[Long] = Option(options.get("endingVersion")).map { v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new PJException(
          s"pjparquet: endingVersion must be a commit-log version number, got '$v'")
      }
    }
    def posLong(key: String): Option[Long] =
      Option(options.get(key)).map { v =>
        val n = try v.toLong catch {
          case _: NumberFormatException => throw new PJException(
            s"pjparquet: $key must be a positive number, got '$v'")
        }
        if (n <= 0) throw new PJException(
          s"pjparquet: $key must be a positive number, got '$v'")
        n
      }
    new PjChangeFeedTable(path, starting, ending, base,
      StructType(base.schema.fields ++ cdfFields),
      posLong("maxVersionsPerTrigger"),
      posLong("maxFilesPerTrigger"),
      posLong("maxBytesPerTrigger"))
  }
}

class PjChangeFeedTable(
    path: String,
    startingVersion: Option[Long],
    endingVersion: Option[Long],
    base: PjParquetTable,
    cdfSchema: StructType,
    maxVersionsPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends Table with SupportsRead {

  override def name(): String = s"pjparquet_cdf($path)"

  override def schema(): StructType = cdfSchema

  override def partitioning(): Array[Transform] = Array.empty

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new PjChangeFeedScan(path, startingVersion, endingVersion, base,
          cdfSchema, maxVersionsPerTrigger, maxFilesPerTrigger, maxBytesPerTrigger)
    }
}

/** Batch = V1 relation fallback delegating to [[PjChangeFeed.changes]]
  * (the feed needs the engine — the rewrite diff is a real aggregation —
  * so the scan hands Spark the composed DataFrame's RDD rather than
  * pretending to be a bare file scan). Streaming = version-cursor
  * micro-batches.
  */
private[pjparquet] class PjChangeFeedScan(
    path: String,
    startingVersion: Option[Long],
    endingVersion: Option[Long],
    base: PjParquetTable,
    cdfSchema: StructType,
    maxVersionsPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends V1Scan {

  override def readSchema(): StructType = cdfSchema

  override def description(): String =
    s"pjparquet change feed $path [${startingVersion.getOrElse("latest")}, " +
      s"${endingVersion.getOrElse("latest")}]"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val relation = new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = cdfSchema
      override def buildScan(): RDD[Row] = {
        val spark = context.sparkSession
        val rootPath = new Path(path)
        val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
        val versions = PjCommitLog.versions(fs, rootPath)
        if (versions.isEmpty)
          throw new PJException(s"pjparquet: '$path' has an empty commit log")
        val from = startingVersion.getOrElse(
          throw new PJException(
            "pjparquet: batch readChangeFeed requires startingVersion or startingTimestamp"))
        val to = endingVersion.getOrElse(versions.last)
        val feed = PjChangeFeed.changes(new PjFeedReader(spark, path, base), from, to)
        // align to the HEAD schema: a column ADDed after a rewrite version
        // is absent from that version's diff rows — those read null,
        // exactly like a table read of the old files
        feed.select(cdfSchema.fields.toIndexedSeq.map { f =>
          if (feed.columns.exists(_.equalsIgnoreCase(f.name)))
            col(f.name).cast(f.dataType).as(f.name)
          else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
        }: _*)
          .rdd
      }
    }
    relation.asInstanceOf[T]
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PjCdfMicroBatchStream(path, startingVersion, base,
      maxVersionsPerTrigger, maxFilesPerTrigger, maxBytesPerTrigger)
}

/** Streaming change feed: offsets are COMMIT VERSIONS (`{"version":N}`) —
  * the unit the log already makes atomic, deterministic, and replayable —
  * so each commit's changes are delivered exactly once and a restart
  * replans the identical rows from the identical version cursor (no
  * file-mtime games, no seen-set).
  *
  * Each micro-batch covers the versions `(start, end]`, classified by
  * [[PjChangeFeed.classifyRange]] and planned by the batch feed's
  * [[PjFeedReader.planRange]]:
  *
  *  - pure-ADD / pure-REMOVE versions read their data files DIRECTLY
  *    through the index-spliced [[PjScan]] machinery — zero write
  *    amplification, with the change label and commit version attached
  *    as typed per-split constants (the same mechanism as Hive partition
  *    columns, so they cost nothing per row);
  *  - persisted rewrite versions read their `_pj_cdc/v=N/` change files
  *    the same way (`_change_type` is a data column there);
  *  - a rewrite version WITHOUT persisted change files is materialized
  *    once at planning time ([[PjChangeFeed.persistCommitDiff]]) and then
  *    reads as persisted — self-healing, and subsequent restarts reuse it.
  */
private[pjparquet] class PjCdfMicroBatchStream(
    path: String,
    startingVersion: Option[Long],
    base: PjParquetTable,
    /** Admission control: at most this many commit versions per
      * micro-batch — a year-long backlog drains as bounded batches
      * instead of one giant first batch (composes with AvailableNow,
      * which keeps triggering until the prepared target is reached).
      */
    maxVersionsPerTrigger: Option[Long] = None,
    /** Admission control at FILE granularity: versions admit whole (the
      * offset unit, preserving exactly-once labels), but the batch stops
      * growing once the admitted versions' file count reaches this cap —
      * a restart 100 versions behind drains in bounded batches even when
      * maxVersionsPerTrigger alone would admit one huge commit after
      * another.
      */
    maxFilesPerTrigger: Option[Long] = None,
    /** Admission control at BYTE granularity (same boundary rule). */
    maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private def spark = SparkSession.active
  private def hadoopConf = spark.sessionState.newHadoopConf()
  private val rootPath = new Path(path)
  private def fs = rootPath.getFileSystem(hadoopConf)

  final case class PjCdfOffset(version: Long) extends Offset {
    override def json(): String = s"""{"version":$version}"""
  }

  private def headVersion: Long =
    PjCommitLog.versions(fs, rootPath).lastOption.getOrElse(0L)

  override def initialOffset(): Offset =
    PjCdfOffset(startingVersion.map(_ - 1L).getOrElse(headVersion))

  /** `Trigger.AvailableNow`: drain exactly the versions committed at
    * prepare time, then stop — commits racing the drain belong to the
    * next run.
    */
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(headVersion)

  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val target = availableNowTarget.getOrElse(headVersion)
    val s = start.asInstanceOf[PjCdfOffset].version
    val capped = maxVersionsPerTrigger.map(n => math.min(target, s + n)).getOrElse(target)
    PjCdfOffset(
      if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty) capped
      else admitByBudget(s, capped))
  }

  /** Walk versions (s, capped], admitting whole versions until the file
    * or byte budget is exhausted — always at least one version, so the
    * stream never stalls on a single over-budget commit (it just forms
    * its own batch). Header/delta reads only; data files are untouched.
    */
  private def admitByBudget(s: Long, capped: Long): Long = {
    var v = s
    var files = 0L
    var bytes = 0L
    var stop = false
    while (!stop && v < capped) {
      val d = PjCommitLog.delta(fs, rootPath, v + 1)
      val dFiles = d.add.size.toLong
      val dBytes = d.add.iterator.map(e => math.max(0L, e.size)).sum
      val over = maxFilesPerTrigger.exists(n => files + dFiles > n) ||
        maxBytesPerTrigger.exists(n => bytes + dBytes > n)
      if (over && v > s) stop = true
      else { v += 1; files += dFiles; bytes += dBytes; if (over) stop = true }
    }
    v
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def deserializeOffset(json: String): Offset = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    if (!node.has("version"))
      throw new PJException(s"pjparquet: malformed change-feed offset '$json'")
    PjCdfOffset(node.get("version").asLong)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** The same reader and planner as the batch feed, over the table's
    * read schema.
    */
  private lazy val reader = new PjFeedReader(spark, path, base)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PjCdfOffset].version
    val e = end.asInstanceOf[PjCdfOffset].version
    if (e <= s) return Array.empty
    val all = PjCommitLog.versions(fs, rootPath)
    val range = all.filter(v => v > s && v <= e)
    if (range.isEmpty) return Array.empty
    val classes = PjChangeFeed.classifyRange(fs, rootPath, range, all)
    // un-persisted rewrites materialize once, then read as persisted
    val resolved = classes.map {
      case PjChangeFeed.Rewrite(v) =>
        try PjChangeFeed.persistCommitDiff(spark, path, v)
        catch {
          case scala.util.control.NonFatal(ex) =>
            throw new PJException(
              s"pjparquet: streaming change feed needs persisted change files for " +
                s"rewrite version $v and could not materialize them " +
                s"(${ex.getMessage}); enable cdc.enabled=true on writes, or ensure " +
                "the stream can write to the table's _pj_cdc directory")
        }
        PjChangeFeed.Persisted(v)
      case c => c
    }
    val plan = reader.planRange(resolved)
    (if (plan.data.isEmpty) Array.empty[InputPartition]
     else reader.dataScan(plan.data).planInputPartitions().map(PjCdfPartition(_, cdc = false))) ++
      (if (plan.cdc.isEmpty) Array.empty[InputPartition]
       else reader.cdcScan(plan.cdc).planInputPartitions().map(PjCdfPartition(_, cdc = true)))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    PjCdfReaderFactory(
      reader.dataScan(Nil).createReaderFactory(),
      reader.cdcScan(Nil).createReaderFactory())
}

/** Tags a [[PjInputPartition]] with which of the stream's two scan shapes
  * produced it, so one stream-level factory can dispatch.
  */
final case class PjCdfPartition(inner: InputPartition, cdc: Boolean) extends InputPartition

/** Dispatching reader factory: data-file splits decode through the
  * data-shape inner factory, change-file splits through the cdc-shape one.
  * Both inner factories emit identical column order, so the stream's rows
  * are uniform regardless of which shape a split took.
  */
final case class PjCdfReaderFactory(
    dataFactory: PartitionReaderFactory,
    cdcFactory: PartitionReaderFactory)
    extends PartitionReaderFactory {

  private def unwrap(p: InputPartition): (PartitionReaderFactory, InputPartition) = {
    val t = p.asInstanceOf[PjCdfPartition]
    (if (t.cdc) cdcFactory else dataFactory, t.inner)
  }

  override def supportColumnarReads(partition: InputPartition): Boolean = {
    val (f, inner) = unwrap(partition)
    f.supportColumnarReads(inner)
  }

  override def createReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val (f, inner) = unwrap(partition)
    f.createReader(inner)
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val (f, inner) = unwrap(partition)
    f.createColumnarReader(inner)
  }
}
