package graft.sources.pjparquet

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsDynamicOverwrite, SupportsOverwrite, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.PjSparkShims
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}

import graft.core.PJException

/** Real DataSource V2 write path for `pjparquet` (replaces the r5 V1
  * fallback): executor tasks write parquet files straight to their final
  * Hive-partition locations with job-unique names, a driver-side commit
  * reconciles a manifest against the directory, and post-commit every new
  * file gets its `.index` sidecar built executor-parallel — so SQL
  * `INSERT INTO`, `INSERT OVERWRITE` (static AND dynamic partition modes,
  * via `OverwritePartitionsDynamicExec`), and `DataFrame` saves all flow
  * through one commit protocol. Mirrors the write-side lifecycle the
  * reference delegates to its host (`python/README.md:49` sidecar
  * convention); the bytes come from Spark's own `ParquetOutputWriter`, so
  * every format feature (compression, rebase modes, page indexes) is
  * inherited.
  *
  * Commit protocol (direct write + manifest, the object-store-friendly
  * shape — no temp-dir renames, which are O(files) copies on S3-likes):
  *  1. tasks write `part-<split>-<task>-<jobUUID>-c<n>.parquet` into final
  *     partition dirs and report the files they wrote;
  *  2. `commit()` walks the root once and classifies every data file:
  *     job-tagged but not in the manifest → crashed/speculative attempt
  *     leftovers, deleted; pre-existing → deleted iff the write mode says
  *     so (truncate: all; static overwrite: partition values satisfy the
  *     filters; dynamic: partition dir received new files); kept otherwise;
  *  3. sidecar indexes are generated for the new files (`PjIndexJob`).
  * Readers that race a commit can observe a mixed directory — the same
  * read-uncommitted window Hadoop's direct output committers have; the
  * layout cache's freshness signature re-resolves on the next query.
  *
  * Scale notes: partitioned writes declare a clustered distribution +
  * in-task sort on the partition keys ([[RequiresDistributionAndOrdering]]),
  * so each task streams partition runs one open parquet writer at a time —
  * the same memory shape as stock `FileFormatWriter`'s dynamic-partition
  * sort, with no per-task map of open writers to OOM on wide partition
  * fan-out.
  */
private[pjparquet] sealed trait PjWriteMode extends Serializable
private[pjparquet] object PjWriteMode {
  case object Append extends PjWriteMode
  /** SQL dynamic `INSERT OVERWRITE`: replace exactly the partitions that
    * receive rows; untouched partitions survive byte-identical.
    */
  case object DynamicOverwrite extends PjWriteMode
  /** Static overwrite: the conjunction of partition-column filters picks
    * the partitions to clear (`AlwaysTrue` alone = whole-table truncate).
    */
  final case class OverwriteByFilter(filters: Seq[Filter]) extends PjWriteMode
  /** Copy-on-write row-level DML (DELETE/UPDATE/MERGE): commit replaces
    * exactly the files the operation's scan read — `affected` is evaluated
    * AT COMMIT TIME (driver-side), after runtime group filtering has
    * settled the scan's file list. Untouched files survive byte-identical.
    * `command` is the originating SQL command ("delete"/"update"/"merge"),
    * recorded in the commit log so [[PjChangeFeed]] can label change rows.
    */
  final class ReplaceFiles(
      val affected: () => Seq[String],
      val command: String = "dml",
      /** Commit-log version the operation's scan was planned against —
        * its declared READ BASE for disjoint-DML conflict resolution.
        */
      val readVersion: Option[Long] = None,
      /** Partition tuples the operation's predicate admitted over that
        * base (BEFORE stats pruning) — a concurrent winner whose added
        * files all fall outside these partitions provably contributed no
        * row this operation could have read.
        */
      val readPartitions: () => Option[Set[Seq[String]]] = () => None)
      extends PjWriteMode {
    override def toString: String = "ReplaceFiles"
  }
}

final class PjWriteBuilder(
    root: String,
    partitionKeys: Seq[String],
    info: LogicalWriteInfo,
    initialMode: PjWriteMode = PjWriteMode.Append,
    bloomColumns: Seq[String] = Nil,
    sortColumns: Seq[String] = Nil,
    logRequested: Boolean = false,
    cdcEnabled: Boolean = false,
    nameMap: Map[String, String] = Map.empty,
    layout: Option[PjLayout] = None,
    /** Ordinal of `_row_id` within the row-level metadata projection, or
      * -1 — row tracking through copy-on-write DML ([[PjRowLevelOperation]]).
      */
    rowIdMetaOrdinal: Int = -1,
    /** Caller-declared operation tag for plain appends (`log.operation`
      * write option) — e.g. `copy-into:<runId>`, the idempotence anchor
      * [[PjCopyInto]]'s marker repair sweep resolves against.
      */
    operationTag: Option[String] = None,
    /** Write-audit-publish branch (`branch` write option, [[PjRefs]]):
      * the append's entries stage in the named ref instead of the live
      * log — invisible to main readers until `fast_forward` publishes.
      */
    branch: Option[String] = None,
    /** Optimized writes ([[PjTableProperties.OptimizeWriteEnabled]]):
      * advisory bytes per written file when enabled.
      */
    optimizeWriteBytes: Option[Long] = None,
    /** Idempotent writer transaction (`txnAppId`/`txnVersion` write
      * options, Delta parity): the commit records (appId, version) and
      * becomes a metadata-rate no-op when already recorded.
      */
    txn: Option[(String, Long)] = None,
    /** Declared `bucket(n, col)` spec (`pj.partition.bucket`): the write
      * clusters/sorts on the bucket TRANSFORM value, not the base column.
      */
    bucketSpec: Option[(String, Int)] = None,
    /** Whether the relation can resolve `bucket(n, col)` — only
      * catalog-bound relations carry a FunctionCatalog. Path-based writes
      * fall back to plain-column distribution + a per-bucket writer map.
      */
    bucketResolvable: Boolean = true)
    extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {

  private var mode: PjWriteMode = initialMode

  override def truncate(): WriteBuilder = {
    mode = PjWriteMode.OverwriteByFilter(Seq(AlwaysTrue))
    this
  }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    // file-granularity deletion can only honor partition-column predicates;
    // anything finer would silently drop rows the filter did not select
    val bad = filters.flatMap(_.references).distinct
      .filterNot(r => partitionKeys.exists(_.equalsIgnoreCase(r)))
    if (bad.nonEmpty)
      throw new PJException(
        s"pjparquet: INSERT OVERWRITE filter references non-partition column(s) " +
          s"${bad.mkString(", ")}; only partition filters (or a whole-table " +
          "overwrite) can be applied at file granularity")
    mode = PjWriteMode.OverwriteByFilter(filters.toSeq)
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = PjWriteMode.DynamicOverwrite
    this
  }

  override def build(): Write = {
    // generated/identity columns ([[PjGenerated]]): one bound projection
    // per write, planned on the driver from the RECORDED schema's field
    // metadata; DML rewrites recompute generated values, appends
    // validate/assign
    val mergeRewrite = mode match {
      case r: PjWriteMode.ReplaceFiles => r.command == "merge"
      case _ => false
    }
    val augment = layout.flatMap(l => PjGenerated.plan(
      org.apache.spark.sql.SparkSession.active, l, info.schema(), nameMap,
      rewrite = mode.isInstanceOf[PjWriteMode.ReplaceFiles],
      mergeInsert = mergeRewrite))
    // a GENERATED partition column absent from the incoming rows cannot
    // anchor the required distribution (Spark resolves it against the
    // query, which does not have it) — cluster/sort on the base columns
    // its generation expression references instead; the write computes
    // the partition value itself after augmentation
    val clusterKeys = PjGenerated.clusterKeys(
      org.apache.spark.sql.SparkSession.active,
      layout.flatMap(_.dataSchema), info.schema(), partitionKeys)
    new PjWrite(root, partitionKeys, info.schema(), mode, info.queryId(),
      bloomColumns, sortColumns, logRequested, cdcEnabled, nameMap,
      augment, layout.flatMap(_.logVersion), clusterKeys,
      constraintsJson = layout.flatMap(_.constraintsJson),
      rowIdMetaOrdinal = rowIdMetaOrdinal,
      operationTag = operationTag,
      branch = branch,
      optimizeWriteBytes = optimizeWriteBytes,
      txn = txn,
      bucketSpec = bucketSpec,
      bucketResolvable = bucketResolvable,
      fieldIds = PjColumnMapping.fieldIdsByPhysical(layout.flatMap(_.dataSchema)))
  }
}

final class PjWrite(
    root: String,
    partitionKeys: Seq[String],
    writeSchema: StructType,
    mode: PjWriteMode,
    queryId: String,
    bloomColumns: Seq[String] = Nil,
    sortColumns: Seq[String] = Nil,
    logRequested: Boolean = false,
    cdcEnabled: Boolean = false,
    nameMap: Map[String, String] = Map.empty,
    augment: Option[PjGenerated.Augment] = None,
    baseVersion: Option[Long] = None,
    /** Columns the required distribution/ordering actually references —
      * the partition keys with absent GENERATED keys replaced by their
      * generation expressions' base columns ([[PjGenerated.clusterKeys]]).
      */
    clusterKeys: Seq[String] = Nil,
    /** Recorded CHECK constraints — enforced by the STREAMING sink's own
      * epoch writers ([[PjConstraints.boundChecks]]); batch plans get
      * Spark's `CheckInvariant` via `Table.constraints()` instead.
      */
    constraintsJson: Option[String] = None,
    /** `_row_id` ordinal in the row-level metadata projection, or -1. */
    rowIdMetaOrdinal: Int = -1,
    /** Caller-declared operation tag for plain appends ([[PjCopyInto]]). */
    operationTag: Option[String] = None,
    /** Write-audit-publish branch ([[PjRefs]]): stage, don't publish. */
    branch: Option[String] = None,
    /** OPTIMIZED WRITES (Delta parity): `Some(advisory bytes)` declares the
      * distribution NON-strict, so Spark plans `RebalancePartitions`
      * instead of a strict hash repartition and AQE sizes each shuffle
      * output — and therefore each written file — to the advisory: a
      * 1000-task upstream stage coalesces into ~binSize files instead of
      * 1000 shards, and one hot partition key SPLITS across writers
      * instead of serializing (and OOMing) on one. Unpartitioned tables
      * rebalance on the whole-row hash (the connector API rejects an empty
      * clustering as "unspecified" — clustering by every write column is
      * the in-API equivalent of round-robin, and AQE's rebalance splitting
      * ignores key boundaries anyway).
      */
    optimizeWriteBytes: Option[Long] = None,
    /** Idempotent writer transaction ([[PjCommitLog.commit]]'s `txn`). */
    txn: Option[(String, Long)] = None,
    /** Declared `bucket(n, col)` spec ([[PjBucketFunction]]): rows are
      * clustered AND sorted on the bucket transform's VALUE — sorting on
      * the base column would interleave bucket ids row-to-row, rolling
      * the single open parquet writer once per ROW (one writer lifecycle
      * per row on a hash-ordered stream — the q170 hang). Resolved via
      * the catalog's FunctionCatalog; the write-side augmentation computes
      * the identical pmod(hash(col), n) directory value.
      */
    bucketSpec: Option[(String, Int)] = None,
    /** Whether `Expressions.bucket(n, col)` can resolve: Spark resolves V2
      * transforms against the relation's FunctionCatalog, which only
      * catalog-bound relations carry. A path-based write
      * (`df.write.format("pjparquet").save(path)`, COPY INTO staging,
      * foreachBatch appends) has none and would fail analysis with
      * "not currently supported" — so it requests the SOURCE column as a
      * plain identity reference instead, and the task writer keeps one
      * open parquet writer per bucket directory (bounded by the declared
      * bucket count) since arriving rows interleave bucket ids.
      */
    bucketResolvable: Boolean = true,
    /** id column-mapping mode: folded PHYSICAL name -> assigned field id
      * ([[PjColumnMapping.IdMetaKey]]) — stamped into every written
      * file's parquet schema so id-keyed engines (and our own id reads)
      * pair columns across renames.
      */
    fieldIds: Map[String, Long] = Map.empty)
    extends Write with RequiresDistributionAndOrdering {

  private def distKeys: Seq[String] = if (clusterKeys.nonEmpty) clusterKeys else partitionKeys

  /** V2 expression for one distribution/ordering key: the bucket field
    * becomes its `bucket(n, col)` transform (catalog-bound writes) or the
    * plain source column (path-based fallback); everything else an
    * identity column reference.
    */
  private def keyExpr(k: String): V2Expression = bucketSpec match {
    case Some((src, n)) if k.equalsIgnoreCase(PjTableProperties.bucketFieldName(src)) ||
        k.equalsIgnoreCase(src) =>
      if (bucketResolvable) Expressions.bucket(n, src)
      else Expressions.column(src)
    case _ => Expressions.column(k)
  }

  override def description(): String = s"pjparquet write $mode -> $root"

  /** Cluster + sort incoming rows by the partition keys so a task holds at
    * most one open parquet writer at a time (writer row-group buffers are
    * ~128 MB each — an unsorted multi-writer map is the classic dynamic
    * partition OOM at fan-out). Unpartitioned writes impose nothing —
    * unless optimized writes are on, which rebalance even those.
    */
  override def requiredDistribution(): Distribution =
    if (distKeys.isEmpty) {
      if (optimizeWriteBytes.isDefined)
        Distributions.clustered(
          writeSchema.fieldNames.map(k => Expressions.column(k): V2Expression))
      else Distributions.unspecified()
    } else Distributions.clustered(distKeys.map(keyExpr).toArray)

  /** Strict by default (exact co-location); optimized writes relax to a
    * REBALANCE so AQE can coalesce small and split skewed outputs.
    */
  override def distributionStrictlyRequired(): Boolean = optimizeWriteBytes.isEmpty

  override def advisoryPartitionSizeInBytes(): Long = optimizeWriteBytes.getOrElse(0L)

  /** Partition keys first (one open writer per task), then the declared
    * `sort.columns` — so every written FILE is internally sorted by the
    * data sort columns and the commit can maintain [[PjSortMarker]].
    */
  override def requiredOrdering(): Array[SortOrder] =
    (distKeys.map(keyExpr) ++
      // data sort columns stay PLAIN column references — a user sorting by
      // the bucket SOURCE column wants row order, not the transform value
      sortColumns.map(k => Expressions.column(k): V2Expression))
      .map(e => Expressions.sort(e, SortDirection.ASCENDING)).toArray

  override def toBatch: BatchWrite =
    new PjBatchWrite(root, partitionKeys, writeSchema, mode, bloomColumns, sortColumns,
      logRequested, cdcEnabled, nameMap, augment, baseVersion, rowIdMetaOrdinal,
      operationTag, txn,
      branch = branch,
      // path-based bucket writes arrive UNSORTED on the bucket dir value —
      // the task writer needs its per-bucket open-writer map
      interleavedBucketField = bucketSpec.filter(_ => !bucketResolvable)
        .map { case (src, _) => PjTableProperties.bucketFieldName(src) },
      fieldIds = fieldIds)

  /** `writeStream.format("pjparquet")` / `.toTable` sink: append-only (the
    * file-sink contract — Complete/Update modes would need per-epoch
    * truncation of shared files and are rejected loudly). Epoch commit =
    * sweep non-manifest files carrying this epoch's tag + sidecar-index the
    * new files. File names are DETERMINISTIC in (queryId, epochId,
    * partitionId), so a replayed epoch — restart after a crash between sink
    * commit and checkpoint — overwrites its own files instead of
    * duplicating data (the usual direct-write idempotence argument; like
    * other direct committers this assumes speculative execution is off,
    * else two live attempts could race one final file).
    */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    if (mode != PjWriteMode.Append)
      throw new PJException(
        "pjparquet: streaming writes support the append output mode only")
    if (branch.isDefined)
      throw new PJException(
        "pjparquet: the streaming sink cannot stage to a branch — " +
          "audit batches with foreachBatch + a batch write instead")
    if (augment.exists(_.identityAssigned))
      throw new PJException(
        "pjparquet: identity columns are not supported by the streaming sink " +
          "(per-epoch watermark allocation would race); provide the column " +
          "values in the stream")
    if (txn.isDefined)
      throw new PJException(
        "pjparquet: txnAppId/txnVersion apply to batch writes (use them in " +
          "foreachBatch); the streaming sink's epoch commits are exactly-once " +
          "already")
    new PjStreamingWrite(root, partitionKeys, writeSchema, queryId, bloomColumns,
      sortColumns, logRequested, augment = augment, nameMap = nameMap,
      constraintsJson = constraintsJson,
      // bucket tables: epoch rows may arrive INTERLEAVED on the bucket
      // dir value (path-started sinks can't request the transform
      // distribution) — the per-bucket open-writer map handles it, same
      // as path-based batch appends
      interleavedBucketField = bucketSpec
        .map { case (src, _) => PjTableProperties.bucketFieldName(src) },
      fieldIds = fieldIds)
  }
}

final class PjStreamingWrite(
    root: String,
    partitionKeys: Seq[String],
    writeSchema: StructType,
    queryId: String,
    bloomColumns: Seq[String] = Nil,
    sortColumns: Seq[String] = Nil,
    logRequested: Boolean = false,
    augment: Option[PjGenerated.Augment] = None,
    nameMap: Map[String, String] = Map.empty,
    constraintsJson: Option[String] = None,
    interleavedBucketField: Option[String] = None,
    /** id column-mapping mode: epoch files must carry the assigned field
      * ids too, or a single streaming append leaves the id-mode table
      * with id-less files.
      */
    fieldIds: Map[String, Long] = Map.empty)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val effectiveSchema = augment.map(_.outputSchema).getOrElse(writeSchema)
    val dataSchema = PjColumnMapping.stampParquetIds(StructType(
      effectiveSchema.fields.filterNot(f => partitionKeys.exists(_.equalsIgnoreCase(f.name)))
        .map(f => f.copy(name = PjColumnMapping.toPhysical(nameMap, f.name)))), fieldIds)
    // CHECK constraints: bound here (driver, stream start — unresolvable
    // predicates fail loudly before any epoch) against the POST-augment
    // schema, enforced per row in the epoch writers. Batch writes get
    // Spark's own CheckInvariant; the micro-batch sink plan does not.
    val checks = PjConstraints.boundChecks(
      spark, PjConstraints.parse(constraintsJson), effectiveSchema)
    PjStreamingDataWriterFactory(
      root, PjHadoopConf.forWrite(spark, dataSchema, fieldIds.nonEmpty),
      effectiveSchema.json, partitionKeys,
      queryId, augment, checks, multiDirField = interleavedBucketField)
  }

  /** Deletes this epoch's non-kept (failed-attempt) files; returns the rel
    * paths (with sizes) of data files from OTHER epochs/jobs (sort-marker
    * survivors, and the adopted base set of a first logged commit).
    */
  private def sweep(epochId: Long, keep: Set[String]): Seq[(String, Long)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    val tag = s"-e$epochId-$queryId-"
    val others = mutable.ArrayBuffer.empty[(String, Long)]
    for ((status, relDir, _) <- PjBatchWrite.listDataFiles(fs, rootPath)) {
      val name = status.getPath.getName
      val rel = if (relDir.isEmpty) name else s"$relDir/$name"
      if (name.contains(tag)) {
        if (!keep.contains(rel)) PjBatchWrite.deleteWithSidecars(fs, status.getPath)
      } else others += ((rel, status.getLen))
    }
    others.toSeq
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val manifest: Set[String] =
      messages.iterator.flatMap { case m: PjCommitMessage => m.files }.map(_.relPath).toSet
    // steady-state logged epochs sweep only the dirs this epoch wrote
    // (failed attempts reprocess the same rows into the same dirs) — a
    // long-lived stream into a million-file table must not re-walk the
    // root per epoch; the full walk remains for unlogged sinks (survivor
    // counting needs directory truth) and first-commit adoption
    val rootPath0 = new Path(root)
    val fs0 = rootPath0.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    val steadyLogged = (logRequested || PjCommitLog.isEnabled(fs0, rootPath0)) &&
      PjCommitLog.latest(fs0, rootPath0).isDefined
    val others: Seq[(String, Long)] =
      if (!steadyLogged) sweep(epochId, manifest)
      else {
        val tag = s"-e$epochId-$queryId-"
        val dirs = messages.iterator.flatMap { case m: PjCommitMessage => m.files }
          .map(_.relDir).toSet
        for (d <- dirs) {
          val dirPath = if (d.isEmpty) rootPath0 else new Path(rootPath0, d)
          if (fs0.exists(dirPath))
            for (st <- fs0.listStatus(dirPath) if st.isFile) {
              val name = st.getPath.getName
              if (!name.startsWith(".") && !name.startsWith("_") && name.contains(tag)) {
                val rel = if (d.isEmpty) name else s"$d/$name"
                if (!manifest.contains(rel))
                  PjBatchWrite.deleteWithSidecars(fs0, st.getPath)
              }
            }
        }
        Nil
      }
    var survivors = others.size
    // sidecar maintenance sized to the EPOCH, not the table: a long-lived
    // stream into a 100k-file table must not re-walk the root per commit.
    // The facts (rows, fingerprint, stats) ride back for the log commit.
    val epochRels = manifest.toSeq.sorted
    val epochPaths = epochRels.map(rel => s"$root/$rel")
    val facts = PjIndexJob.generateForPaths(SparkSession.active, epochPaths)
      .map(f => f.path -> f).toMap
    if (bloomColumns.nonEmpty)
      PjBloomJob.generateForPaths(SparkSession.active, epochPaths, bloomColumns)
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    if (logRequested || PjCommitLog.isEnabled(fs, rootPath)) {
      // the sink is append-only, so the commit is a pure-ADD delta — the
      // shape the log's optimistic concurrency can rebase, so two streams
      // into one table both land. Epoch REPLAYS re-commit the same
      // deterministic file names: replay's path-keyed map keeps the
      // snapshot idempotent.
      val addEntries = epochRels.map(rel => facts(s"$root/$rel").toEntry(rel))
      val schemaJson = epochRels.headOption.map(rel => facts(s"$root/$rel").dataSchemaJson)
      // claim-invalidating marker delete BEFORE the commit (see
      // invalidateSortMarkerPreCommit): post-claim failures must never
      // leave a stale over-claim or fail a durable epoch
      PjBatchWrite.invalidateSortMarkerPreCommit(fs, rootPath, sortColumns,
        PjCommitLog.latest(fs, rootPath).map(_.files.size).getOrElse(others.size))
      PjCommitLog.latest(fs, rootPath) match {
        case Some(prev) =>
          survivors = prev.files.size
          val widened = (prev.dataSchemaJson, schemaJson) match {
            case (Some(p), Some(n)) =>
              // physical (file-derived) → logical before widening
              Some(PjBatchWrite.widenRecordedSchema(p,
                PjColumnMapping.fileSchemaToLogical(
                  org.apache.spark.sql.types.DataType.fromJson(p)
                    .asInstanceOf[StructType], n)))
            case (_, n) => n
          }
          PjCommitLog.commit(fs, rootPath, s"stream-epoch-$epochId",
            addEntries, Set.empty, widened, widenSchema = true)
        case None =>
          // first logged commit adopts the live directory (path+size only;
          // adopted files keep planning eagerly until rewritten)
          survivors = others.size
          val adopted = others.map { case (rel, len) => PjCommitLog.FileEntry(rel, len) }
          PjCommitLog.commit(fs, rootPath, s"stream-epoch-$epochId",
            adopted ++ addEntries, Set.empty, schemaJson)
      }
    }
    PjBatchWrite.maintainSortMarker(fs, rootPath, sortColumns, survivors)
    try graft.operators.PqIndex.maintainIfPresent(SparkSession.active, root)
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "pjparquet: post-epoch ANN index maintenance failed: {}", e.toString)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    sweep(epochId, Set.empty) // the epoch will be replayed from the checkpoint
}

final case class PjStreamingDataWriterFactory(
    root: String,
    conf: PjShippedConf,
    writeSchemaJson: String,
    partitionKeys: Seq[String],
    queryId: String,
    augment: Option[PjGenerated.Augment] = None,
    checks: Seq[PjConstraints.BoundCheck] = Nil,
    multiDirField: Option[String] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  /** This task's Hadoop conf (the factory is deserialized per task). */
  @transient private lazy val hadoopConf = conf.newConf()

  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] = {
    val schema = DataType.fromJson(writeSchemaJson).asInstanceOf[StructType]
    // deterministic in (query, epoch, partition): epoch replays OVERWRITE
    val inner = new PjDataWriter(root, hadoopConf, schema, partitionKeys,
      fileTag = f"$partitionId%05d-e$epochId-$queryId", overwriteExisting = true,
      multiDirField = multiDirField)
    // constraints check POST-augment rows (they may reference generated
    // columns): data writer <- checker <- augmenter
    val checked = if (checks.isEmpty) inner else PjConstraints.checkingWriter(inner, checks)
    augment match {
      case None => checked
      case Some(a) =>
        val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(a.exprs)
        proj.initialize(partitionId)
        new DataWriter[InternalRow] {
          override def write(record: InternalRow): Unit = checked.write(proj(record))
          override def commit(): WriterCommitMessage = checked.commit()
          override def abort(): Unit = checked.abort()
          override def close(): Unit = checked.close()
        }
    }
  }
}

final case class PjWrittenFile(relDir: String, name: String) {
  def relPath: String = if (relDir.isEmpty) name else s"$relDir/$name"
}

final case class PjCommitMessage(files: Seq[PjWrittenFile]) extends WriterCommitMessage

final class PjBatchWrite(
    root: String,
    partitionKeys: Seq[String],
    writeSchema: StructType,
    mode: PjWriteMode,
    bloomColumns: Seq[String] = Nil,
    sortColumns: Seq[String] = Nil,
    logRequested: Boolean = false,
    cdcEnabled: Boolean = false,
    nameMap: Map[String, String] = Map.empty,
    augment: Option[PjGenerated.Augment] = None,
    baseVersion: Option[Long] = None,
    rowIdMetaOrdinal: Int = -1,
    operationTag: Option[String] = None,
    txn: Option[(String, Long)] = None,
    /** Write-audit-publish branch ([[PjRefs]]): the commit STAGES its
      * entries in the named ref instead of publishing to the live log.
      */
    branch: Option[String] = None,
    /** Bucket partition FIELD name when incoming rows interleave bucket
      * directory values (path-based writes that could not request the
      * bucket-transform distribution): task writers hold one open writer
      * per bucket dir instead of rolling a new file per row.
      */
    interleavedBucketField: Option[String] = None,
    fieldIds: Map[String, Long] = Map.empty)
    extends BatchWrite {

  private val jobUUID = UUID.randomUUID().toString
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    // column mapping: files store PHYSICAL names (logical renames never
    // touch bytes) — values are positional, only the write-conf schema
    // names change
    val projected = augment.map(_.outputSchema).getOrElse(writeSchema)
    // ROW TRACKING through copy-on-write DML: replacement files store each
    // surviving row's stable id as the hidden trailing column — the same
    // materialization compaction performs ([[PjCompaction]])
    val effectiveSchema =
      if (rowIdMetaOrdinal < 0) projected
      else StructType(projected.fields :+ org.apache.spark.sql.types.StructField(
        PjCommitLog.RowIdColName, org.apache.spark.sql.types.LongType, nullable = true))
    val dataSchema = PjColumnMapping.stampParquetIds(StructType(
      effectiveSchema.fields.filterNot(f => partitionKeys.exists(_.equalsIgnoreCase(f.name)))
        .map(f => f.copy(name = PjColumnMapping.toPhysical(nameMap, f.name)))), fieldIds)
    PjDataWriterFactory(
      root, PjHadoopConf.forWrite(spark, dataSchema, fieldIds.nonEmpty), effectiveSchema.json,
      partitionKeys, jobUUID, augment, rowIdMetaOrdinal,
      multiDirField = interleavedBucketField)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val manifest: Set[String] =
      messages.iterator.flatMap { case m: PjCommitMessage => m.files }.map(_.relPath).toSet
    val touchedDirs: Set[String] =
      messages.iterator.flatMap { case m: PjCommitMessage => m.files }.map(_.relDir).toSet
    // row-level DML: the replacement set, scheme-normalized for comparison
    // against this walk's listing paths
    val replaced: Set[Path] = mode match {
      case r: PjWriteMode.ReplaceFiles =>
        r.affected().map(p => fs.makeQualified(new Path(p))).toSet
      case _ => Set.empty
    }

    // a write PLANNED against a logged layout (baseVersion) is a logged
    // write NO MATTER what the directory probe says now: during a
    // concurrent DROP/rename the `_pj_log` dir is briefly absent, and
    // deriving `logging` from the probe alone silently rerouted the
    // commit down the UNLOGGED branch — no log claim at all, orphan data
    // files, success reported, rows lost (maintenance fuzzer seed 20045,
    // the one interleaving the vanished-log guards couldn't see because
    // the guarded path was never taken)
    val logging = logRequested || baseVersion.isDefined ||
      PjCommitLog.isEnabled(fs, rootPath)

    // IDEMPOTENT TRANSACTIONS need the commit log to record against — a
    // directory-mode table has nowhere to remember (appId, version)
    if (txn.isDefined && !logging)
      throw new PJException(
        "pjparquet: txnAppId/txnVersion require a commit-log table " +
          "(write with log.enabled=true, or CREATE the table through the catalog)")
    // fast-path skip BEFORE the sidecar build: an already-recorded
    // (appId, version) means this batch is a replay — discard its staged
    // files and do nothing. The authoritative (race-safe) check re-runs
    // inside the commit claim loop; this one only saves the index work.
    // The staged set is exactly the commit messages' manifest (tasks that
    // died before reporting already deleted their files in abort()), so
    // the no-op deletes those paths directly instead of walking the table
    // — a replayed batch on a million-file table stays metadata-rate.
    def discardStagedFiles(): Unit =
      messages.iterator.flatMap { case m: PjCommitMessage => m.files }.foreach { f =>
        val dir = if (f.relDir.isEmpty) rootPath else new Path(rootPath, f.relDir)
        PjBatchWrite.deleteWithSidecars(fs, new Path(dir, f.name))
      }
    txn.foreach { case (app, ver) =>
      if (PjCommitLog.latest(fs, rootPath).flatMap(_.txnVersion(app)).exists(_ >= ver)) {
        discardStagedFiles()
        return
      }
    }

    // sidecar indexes for the new files FIRST (executor-parallel, sized to
    // the commit): the facts they return — rows, footer fingerprint,
    // column names, stats envelopes — become the log entries, so a logged
    // commit is written once with everything planning needs
    val newRels = manifest.toSeq.sorted
    val newPaths = newRels.map(rel => s"$root/$rel")
    val facts = PjIndexJob.generateForPaths(spark, newPaths).map(f => f.path -> f).toMap
    if (bloomColumns.nonEmpty)
      PjBloomJob.generateForPaths(spark, newPaths,
        bloomColumns.map(PjColumnMapping.toPhysical(nameMap, _)))

    // WRITE-AUDIT-PUBLISH ([[PjRefs]]): stage the append's entries in the
    // branch ref instead of publishing to the live log — main readers
    // never see them (logged planning never lists the directory), vacuum
    // keeps them (the ref references them), and fast_forward publishes
    // them as a normal validated commit. This job's failed-attempt files
    // still die (same touched-dir sweep as steady-state commits).
    branch.foreach { name =>
      if (!logging)
        throw new PJException(
          "pjparquet: the 'branch' write option requires a commit-log table")
      if (mode != PjWriteMode.Append)
        throw new PJException(
          "pjparquet: branch writes stage APPENDs only (write-audit-publish " +
            "audits a batch of new rows; other modes publish directly)")
      if (txn.isDefined)
        throw new PJException(
          "pjparquet: txnAppId/txnVersion do not combine with branch staging")
      val baseV = PjCommitLog.latest(fs, rootPath).map(_.version).getOrElse(0L)
      for (d <- touchedDirs) {
        val dirPath = if (d.isEmpty) rootPath else new Path(rootPath, d)
        if (fs.exists(dirPath))
          for (st <- fs.listStatus(dirPath) if st.isFile) {
            val nm = st.getPath.getName
            if (!nm.startsWith(".") && !nm.startsWith("_") && nm.contains(jobUUID)) {
              val rel = if (d.isEmpty) nm else s"$d/$nm"
              if (!manifest.contains(rel))
                PjBatchWrite.deleteWithSidecars(fs, st.getPath)
            }
          }
      }
      PjRefs.stageBranch(fs, rootPath, name, baseV,
        newRels.map(rel => facts(s"$root/$rel").toEntry(rel)))
      PjParquetTable.clearLayoutCache()
      return
    }

    // one recursive walk classifies every data file under the root;
    // `survivors` = pre-existing files that remain after this commit (the
    // sort-marker invariant must hold for them too)
    var survivors = 0
    if (!logging) {
      val emptied = mutable.LinkedHashSet.empty[Path]
      for ((status, relDir, partValues) <- PjBatchWrite.listDataFiles(fs, rootPath)) {
        val name = status.getPath.getName
        val rel = if (relDir.isEmpty) name else s"$relDir/$name"
        val drop =
          if (name.contains(jobUUID)) !manifest.contains(rel) // failed/speculative attempts
          else mode match {
            case PjWriteMode.Append => false
            case PjWriteMode.DynamicOverwrite => touchedDirs.contains(relDir)
            case PjWriteMode.OverwriteByFilter(filters) =>
              filters.forall(f => PjBatchWrite.evalPartitionFilter(f, partValues))
            case _: PjWriteMode.ReplaceFiles =>
              replaced.contains(fs.makeQualified(status.getPath))
          }
        if (drop) {
          PjBatchWrite.deleteWithSidecars(fs, status.getPath)
          emptied += status.getPath.getParent
        } else if (!manifest.contains(rel)) survivors += 1
      }
      // only the directories this commit deleted from: a table-wide prune
      // races a concurrent writer between its mkdirs and its first file
      emptied.foreach(PjBatchWrite.pruneEmptyParents(fs, rootPath, _))
    } else {
      // COMMIT-LOG mode: the latest snapshot (not the directory) is the
      // pre-commit truth — retired files of earlier versions still sit on
      // disk for time travel and must neither count nor be re-deleted.
      // This commit's failed-attempt files still die (they were never
      // live); everything this commit REPLACES is retired from the new
      // snapshot and left for PjVacuum.expireVersions.
      val prev = PjCommitLog.latest(fs, rootPath)
      // planned against a LOGGED layout but the log is gone: a concurrent
      // DROP or catalog rename moved the table directory — the adoption
      // branch below would silently FORK a fresh one-commit table at the
      // stale path and this append's rows would never reach the real
      // table (fuzzer lane 5, seed 20000). Refuse loudly instead.
      if (prev.isEmpty && baseVersion.isDefined) {
        discardStagedFiles()
        throw new PJException(
          s"pjparquet: the commit log under '$root' vanished since this " +
            "write was planned (table dropped or renamed by a concurrent " +
            "writer); aborting instead of forking a fresh table")
      }
      val preExisting = mutable.ArrayBuffer.empty[(String, Long)]
      if (prev.isEmpty) {
        // FIRST logged commit: the full walk both adopts the live
        // directory as pre-commit state and sweeps this job's
        // failed-attempt files
        for ((status, relDir, _) <- PjBatchWrite.listDataFiles(fs, rootPath)) {
          val name = status.getPath.getName
          val rel = if (relDir.isEmpty) name else s"$relDir/$name"
          if (name.contains(jobUUID)) {
            if (!manifest.contains(rel)) PjBatchWrite.deleteWithSidecars(fs, status.getPath)
          } else preExisting += ((rel, status.getLen))
        }
      } else {
        // STEADY STATE: the snapshot is the pre-commit truth (no adoption
        // needed), and this job's failed/speculative attempts can only
        // live in the dirs its committed tasks wrote (a retry reprocesses
        // the same rows into the same dirs) — so the sweep lists exactly
        // those dirs instead of recursively walking the table. On a
        // million-file table this takes the append commit's listing cost
        // from O(table) to O(touched partitions).
        //
        // RECLAMATION CONTRACT for what this narrowed sweep cannot see
        // (an executor lost before abort() ran, or a retry that landed in
        // different dirs): such files are invisible to logged readers
        // (planning never lists the directory) and are reclaimed by
        // VACUUM — PjVacuum's expire sweep does the full recursive walk
        // and deletes any data file no retained snapshot references,
        // under the min-file-age guard. Periodic vacuum is the
        // operational reclamation path, exactly as in Delta.
        for (d <- touchedDirs) {
          val dirPath = if (d.isEmpty) rootPath else new Path(rootPath, d)
          if (fs.exists(dirPath))
            for (st <- fs.listStatus(dirPath) if st.isFile) {
              val name = st.getPath.getName
              if (!name.startsWith(".") && !name.startsWith("_") &&
                  name.contains(jobUUID)) {
                val rel = if (d.isEmpty) name else s"$d/$name"
                if (!manifest.contains(rel))
                  PjBatchWrite.deleteWithSidecars(fs, st.getPath)
              }
            }
        }
      }
      // first logged commit adopts the live directory as pre-commit state
      val base: Set[String] = prev.map(_.files.toSet).getOrElse(preExisting.map(_._1).toSet)
      val retired: Set[String] = mode match {
        case PjWriteMode.Append => Set.empty
        case PjWriteMode.DynamicOverwrite =>
          base.filter(rel => touchedDirs.contains(PjBatchWrite.relDirOf(rel)))
        case PjWriteMode.OverwriteByFilter(filters) =>
          base.filter(rel => filters.forall(f =>
            PjBatchWrite.evalPartitionFilter(f, PjBatchWrite.partsOfRel(rel))))
        case _: PjWriteMode.ReplaceFiles =>
          val replRel = replaced.map(p => PjCommitLog.relOrAbs(fs, rootPath, p))
          base.intersect(replRel)
      }
      survivors = (base -- retired).size
      val addEntries = newRels.map(rel => facts(s"$root/$rel").toEntry(rel))
      // file-derived schemas carry PHYSICAL names; translate back to the
      // recorded LOGICAL names (column mapping) before widening/recording
      val newSchemaJson = newRels.headOption.map { rel =>
        // the hidden materialized row-id column is engine-internal — never
        // part of the recorded user schema
        val phys = PjBatchWrite.stripInternalCols(facts(s"$root/$rel").dataSchemaJson)
        prev.flatMap(_.dataSchemaJson) match {
          case Some(p) => PjColumnMapping.fileSchemaToLogical(
            org.apache.spark.sql.types.DataType.fromJson(p)
              .asInstanceOf[StructType], phys)
          case None => phys
        }
      }
      // a commit that keeps previous files live must stay readable over
      // them: the recorded schema WIDENS (int→long, float→double) or the
      // commit refuses; a full replacement takes the new schema outright
      // an EMPTY base (a freshly CREATEd table's recorded-schema contract)
      // is not a "replacement" — the first append widens against the
      // recorded schema instead of overwriting it
      val fullReplace = (base -- retired).isEmpty && base.nonEmpty
      val schemaJson = (prev.flatMap(_.dataSchemaJson), newSchemaJson) match {
        case (Some(p), Some(n)) if !fullReplace =>
          Some(PjBatchWrite.widenRecordedSchema(p, n))
        case (_, n) => n
      }
      val operation = mode match {
        case r: PjWriteMode.ReplaceFiles => Some(r.command)
        case _ => operationTag
      }
      // claim-invalidating marker delete BEFORE the claim: a failure here
      // fails the write pre-commit (clean retry); after the claim, marker
      // work is best-effort and can only under-claim
      PjBatchWrite.invalidateSortMarkerPreCommit(fs, rootPath, sortColumns, survivors)
      val committedVersion = prev match {
        case Some(_) =>
          // row-level DML declares its read base + partition read set so
          // the log can rebase it over provably-disjoint winners
          // identity-assigning commits are EXCLUSIVE against the watermark
          // base: any winner since then may have minted overlapping values
          val identityExclusive = augment.exists(_.identityAssigned)
          val (readV, readParts) = mode match {
            case r: PjWriteMode.ReplaceFiles => (r.readVersion, r.readPartitions())
            // pure APPENDS declare their base too: it changes no conflict
            // semantics on an add-only commit, but arms the claim loop's
            // vanished-log guard (a concurrent DROP/rename between this
            // method's own check and the claim must refuse, never fork).
            // Overwrites keep None — a declared base would reroute their
            // remove-conflict path into the disjoint-DML rebase.
            case _ =>
              (if (identityExclusive || retired.isEmpty) baseVersion else None,
                None)
          }
          PjCommitLog.commit(fs, rootPath, PjBatchWrite.actionName(mode),
            addEntries, retired, schemaJson, operation, readV, readParts,
            exclusive = identityExclusive, txn = txn,
            // append-like commits re-widen in the claim loop so a racing
            // ADD COLUMN is never erased; a full replacement records the
            // new schema outright
            widenSchema = !fullReplace)
        case None =>
          // adoption commit: pre-existing survivors enter path+size only
          val adopted = preExisting.filterNot { case (rel, _) => retired.contains(rel) }
            .map { case (rel, len) => PjCommitLog.FileEntry(rel, len) }
          PjCommitLog.commit(fs, rootPath, PjBatchWrite.actionName(mode),
            (adopted ++ addEntries).toSeq, Set.empty, schemaJson, operation, txn = txn)
      }
      // a concurrent same-appId writer recorded this (appId, version)
      // between the fast-path check and the claim — the claim loop turned
      // this attempt into the no-op: discard the staged files (sidecars
      // included) and leave the table exactly as the winner committed it
      if (committedVersion == PjCommitLog.TxnSkipped) {
        discardStagedFiles()
        return
      }
      // `cdc.enabled` tables persist the DML diff post-commit
      // (Delta's enableChangeDataFeed contract): the copy-on-write commit
      // is the only class whose change rows need a diff, so persisting
      // exactly those makes the whole feed streamable from file scans.
      // Failure is non-fatal — PjChangeFeed recomputes at read time.
      if (cdcEnabled && mode.isInstanceOf[PjWriteMode.ReplaceFiles])
        try PjChangeFeed.persistCommitDiff(spark, root, committedVersion)
        catch {
          case scala.util.control.NonFatal(e) =>
            log.warn("pjparquet: could not persist change files for version {}: {}",
              committedVersion.toString, e.toString)
        }
    }
    PjBatchWrite.maintainSortMarker(fs, rootPath, sortColumns, survivors)
    // persisted ANN index (if built): reconcile codes with this commit's
    // file changes — encode new files, drop vanished ones
    graft.operators.PqIndex.maintainIfPresent(spark, root)
    // AUTO-COMPACTION (pj.autoCompact.enabled, Delta parity): a successful
    // APPEND checks its own wake — best-effort, a failure logs and the
    // append stands. Scoped to this write's mode (rewrites and overwrites
    // are maintenance-shaped already) and armed by the recorded minFiles;
    // PjCompaction itself selects only directories at/above the bar, so a
    // steady small-append stream self-heals without a maintenance window.
    if (mode == PjWriteMode.Append) try {
      val propsJson = PjCommitLog.latest(fs, rootPath).flatMap(_.propertiesJson)
      val armed = PjTableProperties.recorded(
        propsJson, PjTableProperties.AutoCompactEnabled).exists(_.equalsIgnoreCase("true"))
      if (armed) {
        val minFiles = PjTableProperties.recorded(
          propsJson, PjTableProperties.AutoCompactMinFiles)
          .flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ > 0).getOrElse(8)
        try PjCompaction.compact(spark, root, minFilesPerDir = minFiles)
        catch {
          case scala.util.control.NonFatal(e) =>
            log.warn("pjparquet: auto-compaction after commit failed (append stands): {}",
              e.toString)
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn("pjparquet: auto-compaction arming read failed (append stands): {}",
          e.toString)
    }
    log.info("pjparquet commit {}: {} files, mode {}", jobUUID, manifest.size.toString, mode)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    // messages may be partial (tasks that died before reporting): sweep for
    // the job tag instead of trusting the manifest
    val jobDirs = for ((status, _, _) <- PjBatchWrite.listDataFiles(fs, rootPath)
         if status.getPath.getName.contains(jobUUID)) yield {
      PjBatchWrite.deleteWithSidecars(fs, status.getPath)
      status.getPath.getParent
    }
    // only the directories this job wrote into (see the commit's prune)
    jobDirs.distinct.foreach(PjBatchWrite.pruneEmptyParents(fs, rootPath, _))
  }
}

private[sources] object PjBatchWrite {

  /** Wrap a task writer with the generated/identity projection
    * ([[PjGenerated]]): every row passes through one codegen'd
    * UnsafeProjection — initialized with the partition id so
    * MonotonicallyIncreasingID yields task-unique identity values —
    * before reaching the parquet writer.
    */
  private[pjparquet] def augmentingWriter(
      inner: PjDataWriter, a: PjGenerated.Augment,
      partitionId: Int): DataWriter[InternalRow] = {
    val proj = UnsafeProjection.create(a.exprs)
    proj.initialize(partitionId)
    new DataWriter[InternalRow] {
      override def write(record: InternalRow): Unit = inner.write(proj(record))
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }

  /** Wrap a task writer for a ROW-TRACKED copy-on-write rewrite: the row
    * written to the file gains the hidden trailing `_pj_row_id` column.
    * Rows arriving through the two-arg `write(metadata, row)` — copied
    * survivors and updated rows, which Spark's rewrites tag
    * WRITE_WITH_METADATA — keep the stable id the scan served in the
    * metadata projection; rows arriving through the one-arg `write(row)`
    * (fresh MERGE inserts) store NULL and mint `baseRowId + pos` at read,
    * exactly like the merge-on-read path ([[PjDeltaWrite]]).
    */
  private[pjparquet] def rowIdPreservingWriter(
      inner: PjDataWriter, augment: Option[PjGenerated.Augment],
      partitionId: Int, rowIdMetaOrdinal: Int): DataWriter[InternalRow] = {
    val augProj = augment.map { a =>
      val p = UnsafeProjection.create(a.exprs)
      p.initialize(partitionId)
      p
    }
    new DataWriter[InternalRow] {
      private val idCell = new GenericInternalRow(1)
      private val joined = new JoinedRow
      // inner.write copies immediately (its own UnsafeProjection), so the
      // reused JoinedRow/idCell buffers are safe
      private def writeRow(record: InternalRow): Unit = {
        val base: InternalRow = augProj.map(p => p(record): InternalRow).getOrElse(record)
        inner.write(joined(base, idCell))
      }
      override def write(metadata: InternalRow, record: InternalRow): Unit = {
        if (metadata.isNullAt(rowIdMetaOrdinal)) idCell.update(0, null)
        else idCell.setLong(0, metadata.getLong(rowIdMetaOrdinal))
        writeRow(record)
      }
      override def write(record: InternalRow): Unit = {
        idCell.update(0, null)
        writeRow(record)
      }
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }

  /** Commit-log action label for a write mode. */
  /** Recorded-schema evolution for a commit that keeps previous files
    * live: same column names in the same order → types may WIDEN
    * (int→long, float→double — the promotions the vectorized parquet
    * reader performs losslessly at scan time, so old INT32/FLOAT files
    * keep reading under the widened schema with zero rewrites); an
    * identical schema passes through; appending NARROWER files to an
    * already-widened table keeps the wide type. Any other type change is
    * LOSSY or unrelated and fails loudly BEFORE the commit lands. A
    * different column-name set records the new schema as-is and defers to
    * the resolver's existing uniform-schema / mergeSchema guards.
    */
  /** Drop engine-internal physical columns (the materialized row-id
    * column) from a FILE-derived schema before it is recorded — they are
    * never user columns.
    */
  def stripInternalCols(json: String): String = {
    import org.apache.spark.sql.types._
    val st = DataType.fromJson(json).asInstanceOf[StructType]
    if (!st.fieldNames.exists(_.equalsIgnoreCase(PjCommitLog.RowIdColName))) json
    else StructType(st.fields.filterNot(
      _.name.equalsIgnoreCase(PjCommitLog.RowIdColName))).json
  }

  def widenRecordedSchema(prevJson: String, nextJson: String): String = {
    import org.apache.spark.sql.types._
    val prev = DataType.fromJson(prevJson).asInstanceOf[StructType]
    val next0 = DataType.fromJson(nextJson).asInstanceOf[StructType]
    def fold(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    // A writer planned BEFORE a concurrent RENAME carries the OLD logical
    // name — which is exactly the renamed field's frozen PHYSICAL name,
    // so its bytes landed correctly; map such names back to the current
    // logical field before judging name sets. Without this, the
    // name-mismatch branch below recorded the stale lane schema as-is and
    // ERASED the rename (schema-evolution fuzzer, seed 10055: a committed
    // RENAME vanished under a racing rewrite's commit).
    val next: StructType = {
      val currentLogical = prev.fieldNames.map(fold).toSet
      val physToLogical = prev.fields.iterator
        .filter(p => fold(PjColumnMapping.physicalName(p)) != fold(p.name))
        .map(p => fold(PjColumnMapping.physicalName(p)) -> p.name).toMap
      if (physToLogical.isEmpty) next0
      else StructType(next0.fields.map { n =>
        physToLogical.get(fold(n.name)) match {
          case Some(l) if !currentLogical.contains(fold(n.name)) => n.copy(name = l)
          case _ => n
        }
      })
    }
    def names(s: StructType) = s.fieldNames.map(fold).toSeq
    def widenPair(p: StructField, n: StructField): DataType =
      (p.dataType, n.dataType) match {
        case (a, b) if a == b => a
        case (IntegerType, LongType) | (LongType, IntegerType) => LongType
        case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
        case (a, b) => throw new graft.core.PJException(
          s"pjparquet: type change on column '${p.name}' " +
            s"(${a.simpleString} -> ${b.simpleString}) is not supported; only " +
            "int->long and float->double widening evolve a logged table's schema " +
            "(rewrite the table to change types otherwise)")
      }
    if (names(prev) != names(next)) {
      // an append may OMIT nullable columns the table gained after the
      // writer's schema was captured (ADD COLUMN; Delta semantics: the
      // missing columns null-fill at read) — keep the recorded schema,
      // still widening the columns the append does carry. Any other
      // name-set change records the new schema as-is and defers to the
      // resolver's guards.
      val nextByName = next.fields.map(f => fold(f.name) -> f).toMap
      val subset = names(next).toSet.subsetOf(names(prev).toSet) &&
        prev.fields.forall(p => nextByName.contains(fold(p.name)) || p.nullable)
      if (!subset) return nextJson
      val fields = prev.fields.map { p =>
        nextByName.get(fold(p.name)) match {
          case Some(n) => StructField(p.name, widenPair(p, n), p.nullable || n.nullable, p.metadata)
          case None => p
        }
      }
      return StructType(fields).json
    }
    // the RECORDED field's metadata is authoritative (column mapping,
    // generation expressions, identity specs all live there); file-derived
    // metadata carries none of it
    val fields = prev.fields.zip(next.fields).map { case (p, n) =>
      StructField(n.name, widenPair(p, n), p.nullable || n.nullable, p.metadata)
    }
    StructType(fields).json
  }

  def actionName(mode: PjWriteMode): String = mode match {
    case PjWriteMode.Append => "append"
    case PjWriteMode.DynamicOverwrite => "overwrite-dynamic"
    case PjWriteMode.OverwriteByFilter(Seq(AlwaysTrue)) => "truncate"
    case _: PjWriteMode.OverwriteByFilter => "overwrite-static"
    case _: PjWriteMode.ReplaceFiles => "replace-files"
  }

  /** Partition-relative directory of a snapshot rel path ("" at the root). */
  def relDirOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** True when a table-relative path lives under a hidden/internal
    * directory (`_pj_log`, `_pj_cdc`, `_pq_index`, `.compact_tmp_*`, …) —
    * such files are NOT table data and every recursive maintenance pass
    * (vacuum, expiry, compaction, fleet indexing, streaming discovery)
    * must skip them. The non-recursive resolution walk already skips
    * these directories structurally.
    */
  def isInternalRel(rel: String): Boolean =
    rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith("."))

  /** Decoded partition values of a snapshot rel path — the same decode the
    * directory walk applies, so filter evaluation agrees byte-for-byte.
    */
  def partsOfRel(rel: String): Map[String, Option[String]] =
    relDirOf(rel).split("/").iterator.filter(_.nonEmpty).flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) if k.nonEmpty =>
          val decoded =
            if (v == PjParquetTable.HiveNullPartition) None
            else Some(java.net.URLDecoder.decode(v, "UTF-8"))
          Some(k -> decoded)
        case _ => None
      }
    }.toMap

  /** Commit-time [[PjSortMarker]] maintenance. The marker may claim a sort
    * only while EVERY data file satisfies it: keep/write it when this
    * commit declared the same `sort.columns` (the write's required ordering
    * made the new files sorted) AND either no pre-existing files survive
    * (truncate, first write, full replacement) or the surviving files were
    * already covered by an identical marker. Any other commit — append
    * without the option, changed columns — deletes the marker: readers then
    * simply stop reporting an ordering (never a wrong answer).
    */
  /** Is the post-commit sort claim provable for this write? */
  private def sortClaimValid(
      existing: Option[Seq[String]], declared: Seq[String], survivors: Int): Boolean = {
    def norm(cols: Seq[String]) = cols.map(_.toLowerCase(java.util.Locale.ROOT))
    declared.nonEmpty &&
      (survivors == 0 || existing.exists(e => norm(e) == norm(declared)))
  }

  /** PRE-commit half of sort-marker maintenance: a write that cannot keep
    * the claim deletes the marker BEFORE claiming a version — a delete
    * failure then fails the write pre-claim (clean retry, no doubled
    * rows), and a crash or vanished-dir race after the claim can only
    * leave the sound UNDER-claiming state, never a stale over-claim.
    */
  def invalidateSortMarkerPreCommit(
      fs: FileSystem, root: Path, declared: Seq[String], survivors: Int): Unit = {
    val existing = PjSortMarker.read(fs, root)
    if (!sortClaimValid(existing, declared, survivors) && existing.isDefined)
      PjSortMarker.delete(fs, root)
  }

  /** POST-commit half: write/confirm the claim. Best-effort by contract —
    * the commit is durable, so a failure here must not make the caller
    * retry (and double-append); a missing marker merely under-claims.
    */
  def maintainSortMarker(
      fs: FileSystem, root: Path, declared: Seq[String], survivors: Int): Unit =
    try {
      val existing = PjSortMarker.read(fs, root)
      if (sortClaimValid(existing, declared, survivors)) {
        if (!existing.contains(declared)) PjSortMarker.write(fs, root, declared)
      } else if (existing.isDefined) PjSortMarker.delete(fs, root)
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "pjparquet: post-commit sort-marker maintenance failed " +
            "(layout under-claims until the next commit): {}", e.toString)
    }

  /** Recursive walk mirroring `PjParquetTable.resolveFiles`: yields each
    * data file with its partition-relative dir ("" at the root) and decoded
    * `key -> value` pairs (null-sentinel values surface as `None`).
    */
  def listDataFiles(
      fs: FileSystem,
      root: Path): Seq[(org.apache.hadoop.fs.FileStatus, String, Map[String, Option[String]])] = {
    def walk(
        dir: Path, rel: String,
        parts: Map[String, Option[String]]): Seq[(org.apache.hadoop.fs.FileStatus, String, Map[String, Option[String]])] =
      fs.listStatus(dir).toSeq.flatMap {
        case s if s.isDirectory =>
          s.getPath.getName.split("=", 2) match {
            case Array(k, v) if k.nonEmpty =>
              val decoded =
                if (v == PjParquetTable.HiveNullPartition) None
                else Some(java.net.URLDecoder.decode(v, "UTF-8"))
              val childRel = if (rel.isEmpty) s.getPath.getName else s"$rel/${s.getPath.getName}"
              walk(s.getPath, childRel, parts + (k -> decoded))
            case _ => Nil
          }
        case s if s.isFile && s.getPath.getName.endsWith(".parquet") &&
            !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".") =>
          Seq((s, rel, parts))
        case _ => Nil
      }
    if (!fs.exists(root)) Nil else walk(root, "", Map.empty)
  }

  /** Vanish-tolerant recursive data-file walk that never ENTERS internal
    * (`.`/`_`-prefixed) directories: `fs.listFiles(root, true)` descends
    * into a concurrent writer's live scratch (`.compact_tmp_*`,
    * `_temporary`) and races its committer's deletes — on local
    * filesystems that surfaces as permission-probe crashes mid-listing
    * (found by PjConcurrencyFuzzSpec seed 0). Data files only ever live
    * at the root or under `k=v` partition dirs, so skipping internal
    * trees changes no result. A directory deleted mid-walk (a racing
    * overwrite's empty-partition prune) is skipped, not fatal.
    */
  def walkDataFiles(fs: FileSystem, root: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    def walk(dir: Path): Unit = {
      val children =
        try fs.listStatus(dir)
        catch { case _: java.io.FileNotFoundException => return }
      children.foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory) {
          if (!n.startsWith(".") && !n.startsWith("_")) walk(s.getPath)
        } else if (s.isFile && n.endsWith(".parquet") &&
            !n.startsWith("_") && !n.startsWith("."))
          out += s
      }
    }
    if (try fs.exists(root) catch { case _: java.io.FileNotFoundException => false })
      walk(root)
    out.toSeq
  }

  def deleteWithSidecars(fs: FileSystem, dataFile: Path): Unit = {
    fs.delete(dataFile, false)
    PjParquetTable.sidecarCandidates(dataFile).foreach(c => fs.delete(c, false))
    fs.delete(PjBloom.bloomSidecar(dataFile), false)
  }

  /** Delete `dir` and then each parent while it is empty, up to (not
    * including) `root` — how a writer or vacuum removes the `key=value`
    * directories it emptied (stock dynamic partition overwrite drops the
    * directory too), and no other writer's.
    */
  def pruneEmptyParents(fs: FileSystem, root: Path, dir: Path): Unit = {
    val rootQ = fs.makeQualified(root)
    var d = dir
    var done = false
    while (!done && d != null && fs.makeQualified(d) != rootQ) {
      val empty =
        try fs.listStatus(d).isEmpty
        catch { case _: java.io.FileNotFoundException => false }
      if (empty) { fs.delete(d, false); d = d.getParent }
      else done = true
    }
  }

  /** Evaluate a static-overwrite filter against one file's partition
    * values. Only the shapes Spark's static `INSERT OVERWRITE` analysis
    * emits (plus the obvious boolean algebra) are supported; anything else
    * fails loudly rather than guessing.
    */
  def evalPartitionFilter(f: Filter, parts: Map[String, Option[String]]): Boolean = {
    def lookup(attr: String): Option[String] =
      parts.collectFirst { case (k, v) if k.equalsIgnoreCase(attr) => v }.flatten
    def eq(attr: String, value: Any): Boolean =
      value != null && lookup(attr).contains(value.toString)
    f match {
      case _: AlwaysTrue => true
      case _: AlwaysFalse => false
      case EqualTo(a, v) => eq(a, v)
      case EqualNullSafe(a, v) =>
        if (v == null) lookup(a).isEmpty else eq(a, v)
      case IsNull(a) => lookup(a).isEmpty
      case IsNotNull(a) => lookup(a).nonEmpty
      case In(a, vs) => vs.exists(v => eq(a, v))
      case And(l, r) => evalPartitionFilter(l, parts) && evalPartitionFilter(r, parts)
      case Or(l, r) => evalPartitionFilter(l, parts) || evalPartitionFilter(r, parts)
      case Not(c) => !evalPartitionFilter(c, parts)
      case other =>
        throw new PJException(s"pjparquet: unsupported overwrite partition filter: $other")
    }
  }

  /** Hive-style escaping for a partition path value: percent-encode every
    * byte outside `[A-Za-z0-9_.-]` so `URLDecoder.decode` (the read side)
    * round-trips exactly — including '+', '%', '/', '=' and multi-byte
    * UTF-8.
    */
  def escapePathValue(s: String): String = {
    val sb = new StringBuilder
    s.foreach { c =>
      val safe = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_' || c == '.' || c == '-'
      if (safe) sb.append(c)
      else c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .foreach(b => sb.append(f"%%${b & 0xff}%02X"))
    }
    sb.result()
  }
}

final case class PjDataWriterFactory(
    root: String,
    conf: PjShippedConf,
    writeSchemaJson: String,
    partitionKeys: Seq[String],
    jobUUID: String,
    augment: Option[PjGenerated.Augment] = None,
    rowIdMetaOrdinal: Int = -1,
    multiDirField: Option[String] = None)
    extends DataWriterFactory {

  /** This task's Hadoop conf (the factory is deserialized per task). */
  @transient private lazy val hadoopConf = conf.newConf()

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val schema = DataType.fromJson(writeSchemaJson).asInstanceOf[StructType]
    // attempt-unique names: a batch job's failed/speculative attempts are
    // reconciled away by the manifest at commit
    val inner = new PjDataWriter(root, hadoopConf, schema, partitionKeys,
      fileTag = f"$partitionId%05d-$taskId-$jobUUID", overwriteExisting = false,
      multiDirField = multiDirField)
    if (rowIdMetaOrdinal >= 0)
      PjBatchWrite.rowIdPreservingWriter(inner, augment, partitionId, rowIdMetaOrdinal)
    else augment match {
      case None => inner
      case Some(a) => PjBatchWrite.augmentingWriter(inner, a, partitionId)
    }
  }
}

/** Task-side writer: streams rows into one open parquet file at a time.
  * Input arrives clustered + sorted on the partition keys (declared by
  * [[PjWrite]]), so each partition directory is a contiguous run; an
  * interleaved (unsorted) plan still writes correctly — every key change
  * just rolls a new, uniquely-named file.
  */
final class PjDataWriter(
    root: String,
    conf: Configuration,
    schema: StructType,
    partitionKeys: Seq[String],
    fileTag: String,
    overwriteExisting: Boolean,
    /** Bucket partition field whose directory values arrive INTERLEAVED
      * (a path-based write on a declared-bucket table cannot request the
      * bucket-transform distribution): the writer holds one open parquet
      * writer per bucket dir — bounded by the bucket count within each
      * hive-key prefix, and every prefix change closes the whole map —
      * instead of rolling a new file on every dir change.
      */
    multiDirField: Option[String] = None)
    extends DataWriter[InternalRow] {

  private val partFields: Array[(Int, DataType)] = partitionKeys.toArray.map { k =>
    val i = schema.fields.indexWhere(_.name.equalsIgnoreCase(k))
    require(i >= 0, s"pjparquet: partition column '$k' missing from write schema ${schema.simpleString}")
    (i, schema.fields(i).dataType)
  }
  private val dataFields = schema.fields.zipWithIndex
    .filterNot { case (f, _) => partitionKeys.exists(_.equalsIgnoreCase(f.name)) }
  // strips partition columns from the stored rows (they live in dir names)
  private val dataProjection = UnsafeProjection.create(
    dataFields.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) }.toIndexedSeq)

  private var currentDir: String = null
  private var currentWriter: org.apache.spark.sql.execution.datasources.OutputWriter = null
  private var fileSeq = 0
  private val written = mutable.ArrayBuffer.empty[PjWrittenFile]

  private def partitionDir(row: InternalRow): String =
    partitionKeys.zip(partFields).map { case (k, (i, dt)) =>
      val v =
        if (row.isNullAt(i)) PjParquetTable.HiveNullPartition
        else dt match {
          case LongType => row.getLong(i).toString
          case IntegerType => row.getInt(i).toString
          case StringType => PjBatchWrite.escapePathValue(row.getUTF8String(i).toString)
          // Hive/Spark convention: DATE partition directories carry the
          // ISO form (lexicographic order == chronological order, which
          // is what makes derived-range pruning on them sound)
          case org.apache.spark.sql.types.DateType =>
            java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
          case other => PjBatchWrite.escapePathValue(row.get(i, other).toString)
        }
      s"$k=$v"
    }.mkString("/")

  private def openNew(relDir: String): org.apache.spark.sql.execution.datasources.OutputWriter = {
    val name = s"part-$fileTag-c$fileSeq.parquet"
    fileSeq += 1
    val dir = if (relDir.isEmpty) new Path(root) else new Path(root, relDir)
    val target = new Path(dir, name)
    // streaming epoch replay re-creates the SAME deterministic names —
    // clear the previous attempt's file (and its now-stale sidecar)
    if (overwriteExisting) {
      val fs = target.getFileSystem(conf)
      if (fs.exists(target)) PjBatchWrite.deleteWithSidecars(fs, target)
    }
    // a concurrent abort's empty-dir sweep can delete the freshly-made
    // partition dir between its mkdir and this create (schema-evolution
    // fuzzer, seed 10013) — the dir was legitimately empty at that
    // instant. Re-create and retry; once the file exists the dir is
    // non-empty and safe. Only IO failures retry: OOM/interrupt and
    // non-transient causes (permissions) propagate with their real
    // message instead of three masked mkdir loops.
    var attempt = 0
    var w: org.apache.spark.sql.execution.datasources.OutputWriter = null
    while (w == null) {
      attempt += 1
      try w = PjSparkShims.newRowWriter(target.toString, conf)
      catch {
        case e @ (_: java.io.IOException | _: org.apache.spark.SparkException)
            if attempt < 4 && scala.util.control.NonFatal(e) =>
          target.getFileSystem(conf).mkdirs(dir)
      }
    }
    // record AFTER the writer opened: a failed open must not leave a
    // phantom name in the commit manifest
    written += PjWrittenFile(relDir, name)
    w
  }

  private def roll(relDir: String): Unit = {
    closeCurrent()
    currentWriter = openNew(relDir)
    currentDir = relDir
  }

  private def closeCurrent(): Unit = {
    if (currentWriter != null) {
      currentWriter.close()
      currentWriter = null
      currentDir = null
    }
  }

  // --- interleaved-bucket mode: one open writer per bucket dir ---
  private val bucketKeyIdx: Int =
    multiDirField.map(f => partitionKeys.indexWhere(_.equalsIgnoreCase(f))).getOrElse(-1)
  private val openWriters =
    mutable.LinkedHashMap.empty[String, org.apache.spark.sql.execution.datasources.OutputWriter]
  private var currentPrefix: String = null

  /** relDir minus the bucket component — the hive-key prefix. Incoming rows
    * are still sorted on the hive keys (plain column references resolve
    * without a catalog), so a prefix never recurs once left.
    */
  private def hivePrefix(relDir: String): String =
    if (partitionKeys.size == 1) ""
    else relDir.split('/').zipWithIndex
      .collect { case (c, i) if i != bucketKeyIdx => c }.mkString("/")

  private def closeAllOpen(): Unit = {
    openWriters.valuesIterator.foreach(_.close())
    openWriters.clear()
  }

  override def write(row: InternalRow): Unit = {
    val relDir = if (partFields.isEmpty) "" else partitionDir(row)
    if (bucketKeyIdx >= 0) {
      val prefix = hivePrefix(relDir)
      if (prefix != currentPrefix) { closeAllOpen(); currentPrefix = prefix }
      openWriters.getOrElseUpdate(relDir, openNew(relDir)).write(dataProjection(row))
    } else {
      if (currentWriter == null || currentDir != relDir) roll(relDir)
      currentWriter.write(dataProjection(row))
    }
  }

  override def commit(): WriterCommitMessage = {
    closeCurrent()
    closeAllOpen()
    PjCommitMessage(written.toSeq)
  }

  override def abort(): Unit = {
    closeCurrent()
    closeAllOpen()
    val fs = new Path(root).getFileSystem(conf)
    written.foreach { f =>
      val dir = if (f.relDir.isEmpty) new Path(root) else new Path(root, f.relDir)
      fs.delete(new Path(dir, f.name), false)
    }
  }

  override def close(): Unit = { closeCurrent(); closeAllOpen() }
}
