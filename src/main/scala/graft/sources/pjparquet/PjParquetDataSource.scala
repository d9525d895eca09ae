package graft.sources.pjparquet

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.parquet.PjSparkShims
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{PJIndex, PalletJack}

/** `spark.read.format("pjparquet")` — a DataSource V2 parquet source whose
  * *planning* path runs off PJ_2 sidecar indexes instead of footer parses
  * (SURVEY.md §7 step 3; reference lifecycle §3).
  *
  *  - `Table.schema()` comes from the index (O8) — no footer parse, no
  *    multi-file schema-inference storm.
  *  - Catalyst column pruning reaches the metadata splice (O4/O5).
  *  - `planInputPartitions` emits row-group-aligned splits whose pruned
  *    footer (O3/O6) is shipped *inside* the `InputPartition`, so executors
  *    never read or parse footers at all.
  *
  * Options:
  *  - `rowGroups` = "2,5" — explicit row-group ids (single file only; O3's
  *    `row_groups=[...]` semantics, `python/README.md:70`).
  *  - `index.autogen` (default true) — build the index in memory when a
  *    `.index` sidecar is missing (still one footer walk, driver-side only).
  *
  * Sidecar convention: `<file>.parquet.index` (`python/README.md:49`).
  */
class PjParquetDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pjparquet"

  override def supportsExternalMetadata(): Boolean = true

  /** The table `inferSchema` resolved, with its options and schema. A
    * `load` calls `inferSchema` and then `getTable` with that schema on the
    * same provider instance; reusing the table saves a second resolve (as
    * stock `FileDataSourceV2` does). Any other `getTable` call resolves.
    */
  @volatile private var inferred: (util.Map[String, String], StructType, Table) = _

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val table =
      if (PjChangeFeedTable.isCdf(options)) PjChangeFeedTable.resolve(options)
      else PjParquetTable.resolve(options)
    val schema = table.schema()
    inferred = (options.asCaseSensitiveMap(), schema, table)
    schema
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val reuse = inferred
    if (reuse != null && partitioning.isEmpty && (reuse._2 eq schema) &&
        reuse._1.equals(properties)) {
      // the checks a resolve against this schema makes beyond inference
      reuse._3 match {
        case t: PjParquetTable => PjParquetTable.requireCaseDistinct(t)
        case _ =>
      }
      return reuse._3
    }
    val cdfOpts = new CaseInsensitiveStringMap(properties)
    if (PjChangeFeedTable.isCdf(cdfOpts)) return PjChangeFeedTable.resolve(cdfOpts)
    // catalog loads thread partitioning through the `partitionedBy` OPTION
    // (Spark's getTableFromProvider passes no transforms for session-catalog
    // tables); paths that DO pass transforms (DataFrameWriterV2) fold them
    // into the same option so one code path handles both
    val props =
      if (partitioning.isEmpty || properties.containsKey("partitionedBy")) properties
      else {
        val keys = partitioning.map { t =>
          if (t.name != "identity" || t.references().length != 1)
            throw new IllegalArgumentException(
              s"pjparquet: only identity partitioning is supported, got $t")
          t.references()(0).fieldNames().mkString(".")
        }
        val m = new util.HashMap[String, String](properties)
        m.put("partitionedBy", keys.mkString(","))
        m
      }
    PjParquetTable.resolve(new CaseInsensitiveStringMap(props), Option(schema))
  }
}

/** Memoized handle to a file's index bytes. Logged tables construct these
  * LAZILY — the loader runs only if planning actually needs the file's index (it
  * survived partition + log-stats pruning), which is how a logged 50k-file
  * table resolves with one log read and zero sidecar opens. The unlogged
  * path constructs them eagerly, byte-for-byte the old behavior. The
  * loader is driver-only (`@transient`); anything serialized (none today —
  * splits carry spliced footers, not indexes) would ship the forced bytes.
  */
final class PjIndexRef private (
    @volatile private var cached: Array[Byte],
    @transient private var loader: () => Array[Byte]) extends Serializable {
  def bytes: Array[Byte] = {
    var b = cached
    if (b == null) synchronized {
      b = cached
      if (b == null) { b = loader(); cached = b; loader = null }
    }
    b
  }
  def isLoaded: Boolean = cached != null
}
object PjIndexRef {
  def eager(bytes: Array[Byte]): PjIndexRef = new PjIndexRef(bytes, null)
  def lazily(loader: () => Array[Byte]): PjIndexRef = new PjIndexRef(null, loader)
}

/** One parquet file + its index bytes (loaded or autogenerated driver-side;
  * lazy for logged tables — see [[PjIndexRef]]).
  * `partitionValues` align with the layout's partition schema; the Hive null
  * sentinel is preserved raw and interpreted at read time.
  *
  * A NESTED-schema file carries a PJ_3 subtree-offset index (the PJ_2
  * format indexes flat schemas only, `palletjack.cc:266-279,483-487`) and
  * plans through the same splice as a flat file.
  *
  * `entry` is the commit-log record for this file when the table is
  * logged: row count, footer fingerprint, column names, and the
  * whole-file stats envelope — planning facts that need no file open.
  */
final case class PjFile(
    path: String,
    fileLen: Long,
    index: PjIndexRef,
    partitionValues: Seq[String] = Nil,
    entry: Option[PjCommitLog.FileEntry] = None,
    /** Deletion vector: (absolute sidecar path, cardinality) — logged
      * tables only ([[PjDeletionVector]]); reads filter these positions.
      */
    dv: Option[(String, Long)] = None) {
  def indexBytes: Array[Byte] = index.bytes
}

/** Directory resolution result: leaf files + the inferred Hive partition
  * schema (empty for flat layouts) + the columns every data file is
  * internally sorted by (from the commit-maintained `_pj_sort` marker;
  * empty when the layout makes no ordering claim) + the data-file schema
  * when the commit log recorded one (so logged tables never open a file
  * for schema).
  */
final case class PjLayout(files: Seq[PjFile], partitionSchema: StructType,
    sortedBy: Seq[String] = Nil, dataSchema: Option[StructType] = None,
    /** Commit-log snapshot version this layout was resolved from (None for
      * unlogged tables) — the READ BASE a DML commit declares so the
      * commit log can judge which concurrent winners it raced against.
      */
    logVersion: Option[Long] = None,
    /** Recorded write-side CHECK constraints (JSON, [[PjConstraints]]). */
    constraintsJson: Option[String] = None,
    /** Persisted table properties (JSON, [[PjTableProperties]]). */
    propertiesJson: Option[String] = None,
    /** ANALYZE-computed table statistics (JSON, [[PjAnalyze]]) — served
      * to Spark's CBO via the scan's `columnStats()`.
      */
    tableStatsJson: Option[String] = None,
    /** False while a partition-spec evolution is in flight (live files
      * from more than one partitioning generation): the partition-level
      * DML read set is then undeclarable, so remove-bearing commits
      * conflict loudly instead of rebasing until compaction unifies the
      * layout.
      */
    uniformPartitions: Boolean = true)

/** Layout-level sorted-by marker (`_pj_sort`, one column name per line).
  * Written/kept by write commits ONLY while every data file in the table
  * provably satisfies the sort (see [[PjBatchWrite]]): the batch/streaming
  * sinks require an in-task sort on `sort.columns`, so the marker is
  * truthful by construction, and any commit that can't prove the invariant
  * (append without the option, mismatched columns, unsorted DML rewrite)
  * deletes it. Scans surface it as `SupportsReportOrdering`, letting Spark
  * elide per-partition sorts above the scan.
  */
object PjSortMarker {
  val FileName = "_pj_sort"

  def markerPath(root: Path): Path = new Path(root, FileName)

  def read(fs: org.apache.hadoop.fs.FileSystem, root: Path): Option[Seq[String]] =
    try {
      val in = fs.open(markerPath(root))
      val bytes = try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](4096)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
      val cols = new String(bytes, "UTF-8").split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
      if (cols.isEmpty) None else Some(cols)
    } catch { case _: java.io.FileNotFoundException => None }

  def write(fs: org.apache.hadoop.fs.FileSystem, root: Path, cols: Seq[String]): Unit = {
    val tmp = new Path(root, s".$FileName.tmp")
    val out = fs.create(tmp, true)
    try out.write(cols.mkString("\n").getBytes("UTF-8")) finally out.close()
    fs.delete(markerPath(root), false)
    if (!fs.rename(tmp, markerPath(root)))
      throw new java.io.IOException(s"pjparquet: cannot publish sort marker under $root")
  }

  def delete(fs: org.apache.hadoop.fs.FileSystem, root: Path): Unit =
    fs.delete(markerPath(root), false)
}

/** Sidecar ABSENCE with `index.autogen=false` — distinct from corruption or
  * staleness so callers (the auto-substitute rule) can stay silent on the
  * expected case and warn loudly on the broken one.
  */
final class PjMissingSidecarException(msg: String) extends graft.core.PJException(msg)

class PjParquetTable(
    private[pjparquet] val layout: PjLayout,
    options: CaseInsensitiveStringMap,
    externalSchema: Option[StructType] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  private def files: Seq[PjFile] = layout.files
  private[pjparquet] def hasFiles: Boolean = files.nonEmpty
  // an EMPTY layout is legal when a schema exists to define the table: a
  // user-supplied read schema, or the log's RECORDED schema (CREATE TABLE
  // before its first INSERT, a full-table DELETE) — reads plan zero
  // partitions, writes populate it
  require(files.nonEmpty || externalSchema.isDefined || layout.dataSchema.isDefined,
    "pjparquet: no input files")

  override def name(): String =
    if (files.isEmpty) s"pjparquet(${options.get("path")} [empty])"
    else s"pjparquet(${files.head.path}${if (files.size > 1) s" +${files.size - 1}" else ""})"

  /** Physical (file) schema from the index — no footer parse. For an empty
    * layout it is the user schema minus the declared partition columns
    * (the columns future data files will contain).
    */
  lazy val fileSchema: StructType =
    if (files.isEmpty)
      StructType(layout.dataSchema.orElse(externalSchema).get.fields.filterNot(f =>
        layout.partitionSchema.fieldNames.exists(_.equalsIgnoreCase(f.name))))
    else if (!options.getBoolean("mergeSchema", false))
      // logged tables recorded the data schema at commit time — planning
      // needs no file open; the stored JSON came from the same
      // MessageType -> Spark conversion the head-file path would run.
      // Declared PARTITION columns may ride the recorded schema (their
      // metadata carries generation expressions) — they are directory
      // values, never file columns, so filter them here like the
      // empty-layout branch does.
      layout.dataSchema
        .map(ds => StructType(ds.fields.filterNot(f =>
          layout.partitionSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)))))
        .getOrElse(
          PjSparkShims.toSparkSchema(PjParquetTable.messageTypeOf(files.head)))
    else {
      // additive union in first-seen field order (files are listed in
      // sorted path order, so the result is deterministic); a same-name
      // type conflict is a real incompatibility and fails loudly
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[String, org.apache.spark.sql.types.StructField]
      for (f <- files;
           field <- PjSparkShims.toSparkSchema(PjParquetTable.messageTypeOf(f)).fields) {
        acc.get(field.name) match {
          case None => acc(field.name) = field
          case Some(prev) if prev.dataType == field.dataType =>
            if (field.nullable && !prev.nullable)
              acc(field.name) = prev.copy(nullable = true)
          case Some(prev) =>
            // lossless widening (the vectorized reader's own upcasts)
            // merges; anything else is a genuine incompatibility
            import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
            val widened = (prev.dataType, field.dataType) match {
              case (IntegerType, LongType) | (LongType, IntegerType) => Some(LongType)
              case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
              case _ => None
            }
            widened match {
              case Some(dt) =>
                acc(field.name) = prev.copy(dataType = dt,
                  nullable = prev.nullable || field.nullable)
              case None =>
                throw new graft.core.PJException(
                  s"pjparquet: mergeSchema type conflict on column '${field.name}': " +
                    s"${prev.dataType.simpleString} vs ${field.dataType.simpleString} " +
                    s"(file '${f.path}')")
            }
        }
      }
      // evolution means some files lack some columns: those read as null.
      // The hidden materialized row-id column (id-preserving rewrites)
      // is engine-internal — never a user column
      StructType(acc.values
        .filterNot(_.name.equalsIgnoreCase(PjCommitLog.RowIdColName))
        .map(_.copy(nullable = true)).toArray)
    }

  /** Table schema = file columns ++ Hive partition columns (stock layout),
    * or the user-supplied external schema when one was given — its names
    * may differ in case from the physical ones; the scan builder folds
    * them back to file case when the session is case-insensitive.
    */
  override lazy val schema: StructType = externalSchema.getOrElse(
    StructType(fileSchema.fields ++ layout.partitionSchema.fields))

  /** Column mapping (RENAME COLUMN, [[PjColumnMapping]]): folded logical
    * name → frozen physical name; empty for unmapped tables (every
    * translation below is then the identity fast path).
    */
  private[pjparquet] lazy val nameMapping: Map[String, String] =
    PjColumnMapping.nameMap(layout.dataSchema)

  /** The schema as data files physically store it — what the splice,
    * stats, blooms, and the parquet reader key on.
    */
  private[pjparquet] lazy val physicalFileSchema: StructType =
    if (nameMapping.isEmpty) fileSchema else PjColumnMapping.physicalSchema(fileSchema)

  /** Recorded CHECK constraints — Spark's ResolveTableConstraints turns
    * each into a task-side CheckInvariant inside every v2 write plan.
    */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    PjConstraints.toV2(PjConstraints.parse(layout.constraintsJson))

  /** Persisted table properties ([[PjTableProperties]]) — surfaced so
    * `SHOW TBLPROPERTIES pj.\`/t\`` and DESCRIBE EXTENDED read the
    * recorded contract straight off the snapshot.
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    PjTableProperties.parse(layout.propertiesJson).foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Effective change-feed persistence: explicit `cdc.enabled` option >
    * recorded `pj.changeFeed.enabled` property > off.
    */
  private[pjparquet] def cdcEnabled(opts: CaseInsensitiveStringMap): Boolean =
    PjTableProperties.effectiveBool(opts, layout.propertiesJson,
      "cdc.enabled", PjTableProperties.ChangeFeedEnabled, default = false)

  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ)
    // MERGE WITH SCHEMA EVOLUTION (Spark's ResolveMergeIntoSchemaEvolution
    // calls our alterTable for the source-only columns) — only commit-log
    // tables can evolve their recorded schema, so only they advertise it
    if (layout.logVersion.isDefined)
      caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    caps
  }

  /** The layout's Hive partition keys, surfaced so the analyzer can plan
    * dynamic `INSERT OVERWRITE` (`ResolveInsertInto` only emits
    * `OverwritePartitionsDynamic` for tables that declare partitioning).
    * A declared bucket spec reports as its `bucket(n, col)` transform
    * instead of identity over the synthesized directory column.
    */
  override def partitioning(): Array[Transform] = {
    val bucket = layout.propertiesJson
      .flatMap(p => PjTableProperties.recorded(Some(p), PjTableProperties.PartitionBucket))
      .flatMap(PjTableProperties.parseBucketSpec)
    layout.partitionSchema.fieldNames.map { n =>
      bucket match {
        case Some((src, nb)) if n.equalsIgnoreCase(PjTableProperties.bucketFieldName(src)) =>
          org.apache.spark.sql.connector.expressions.Expressions.bucket(nb, src)
        case _ => org.apache.spark.sql.connector.expressions.Expressions.identity(n)
      }
    }
  }

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new PjScanBuilder(layout, physicalFileSchema, mergedOptions(scanOptions),
      nameMap = nameMapping)

  /** `INSERT INTO` / `INSERT OVERWRITE` (static or dynamic partition mode)
    * / DataFrame saves: the real DSv2 commit protocol in [[PjBatchWrite]] —
    * direct executor writes, manifest-reconciling driver commit, post-commit
    * sidecar indexing. The layout cache self-invalidates via its freshness
    * signature on the next resolution.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("pjparquet: 'path' option is required"))
    if (options.containsKey("versionAsOf") || options.containsKey("timestampAsOf") ||
        options.containsKey("tag"))
      throw new graft.core.PJException(
        "pjparquet: cannot write to a time-travel snapshot (snapshot reads are read-only)")
    new PjWriteBuilder(path, layout.partitionSchema.fieldNames.toSeq, info,
      bloomColumns = PjParquetTable.bloomColumnsOf(options, layout.propertiesJson),
      sortColumns = PjParquetTable.sortColumnsOf(options, layout.propertiesJson),
      logRequested = options.getBoolean("log.enabled", false),
      cdcEnabled = cdcEnabled(options),
      nameMap = nameMapping,
      layout = Some(layout),
      operationTag = Option(options.get("log.operation")).filter(_.nonEmpty),
      branch = Option(options.get("branch")).filter(_.nonEmpty),
      optimizeWriteBytes = PjParquetTable.optimizeWriteOf(options, layout.propertiesJson),
      txn = PjParquetTable.txnOf(info.options()).orElse(PjParquetTable.txnOf(options)),
      bucketSpec = layout.propertiesJson
        .flatMap(p => PjTableProperties.recorded(Some(p), PjTableProperties.PartitionBucket))
        .flatMap(PjTableProperties.parseBucketSpec),
      // only catalog-bound relations can resolve the bucket(n, col)
      // transform (Spark needs the table's FunctionCatalog); a path-based
      // write (save(path), COPY INTO staging, foreachBatch appends) asks
      // for a plain-column distribution and routes rows via augmentation
      bucketResolvable = options.getBoolean("pj.internal.catalogBound", false))
  }

  /** `DELETE FROM t WHERE <partition predicate>` at metadata rate: each
    * Hive-layout file holds exactly one partition-value tuple, so a
    * predicate decided by partition values alone deletes whole files (and
    * their sidecars) with zero data I/O — the SQL-level form of dropping a
    * partition on a 100 TB day/tenant-partitioned table. `canDeleteWhere`
    * claims only predicates whose SQL truth value is exact for EVERY file
    * ([[PjPartitionFilter.exactMatch]] three-valued evaluation); any other
    * DELETE stays on the row-level plan ([[newRowLevelOperationBuilder]]):
    * merge-on-read deletion vectors on a logged table, copy-on-write
    * otherwise.
    */
  private def allPartitionExact(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    layout.files.forall(f =>
      filters.forall(p =>
        PjPartitionFilter.exactMatch(layout.partitionSchema, f, p).isDefined))

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    allPartitionExact(filters)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    if (options.containsKey("versionAsOf") || options.containsKey("timestampAsOf"))
      throw new graft.core.PJException(
        "pjparquet: cannot DELETE from a time-travel snapshot (snapshot reads are read-only)")
    if (!allPartitionExact(filters))
      throw new graft.core.PJException(
        s"pjparquet: deleteWhere needs a partition-exact predicate, got ${filters.mkString(", ")}")
    val victims = layout.files.filter(f =>
      filters.forall(p =>
        PjPartitionFilter.exactMatch(layout.partitionSchema, f, p).contains(true)))
    if (victims.isEmpty) return
    val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    val rootPath = Option(options.get("path")).map(new org.apache.hadoop.fs.Path(_))
    // commit-log tables: a logged DELETE is pure metadata — retire the
    // victims from a new snapshot and leave the bytes for vacuum
    val logged = rootPath.exists { r =>
      val fs = r.getFileSystem(conf)
      val enabled = PjCommitLog.isEnabled(fs, r)
      if (enabled) {
        def rel(f: PjFile): String =
          PjCommitLog.relativize(fs, r, new org.apache.hadoop.fs.Path(f.path))
        val victimRels = victims.map(rel).toSet
        if (PjCommitLog.latest(fs, r).isDefined)
          // pure-retire delta: surviving entries (and their stats) carry
          // over through replay untouched. READ BASE: victims were
          // computed from the resolved layout's snapshot — a winner since
          // then that retired/re-added a victim (CoW rewrite, DV DELETE)
          // or appended into a deleted partition conflicts loudly instead
          // of silently surviving a logically-later DELETE; add-only
          // winners outside the read set rebase
          PjCommitLog.commit(fs, r, "delete-where", Nil, victimRels,
            readVersion = layout.logVersion,
            readPartitions = Some(victims.map(_.partitionValues).toSet))
        else {
          // first logged commit adopts the live directory minus the victims
          val adopt = layout.files.filterNot(victims.contains).map(f =>
            f.entry.getOrElse(PjCommitLog.FileEntry(rel(f), f.fileLen)))
          PjCommitLog.commit(fs, r, "delete-where", adopt, Set.empty)
        }
      }
      enabled
    }
    if (logged) return
    victims.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f.path)
      val fs = p.getFileSystem(conf)
      fs.delete(p, false)
      fs.delete(new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.index"), false)
      rootPath.foreach(PjBatchWrite.pruneEmptyParents(fs, _, p.getParent))
    }
  }

  /** `_file` metadata column (`SELECT _file FROM t` — the data file each
    * row came from, constant per split so it costs nothing to produce).
    * Beyond user-facing provenance it is the row-level DML "group id":
    * Spark's rewrite rules thread it through the ReplaceData plan (which
    * activates the data/metadata projection split on the write side) and
    * its runtime group filtering can prune the rewrite set to exact files.
    * Shadowed automatically if the data ever has a real `_file` column
    * (Spark drops conflicting metadata columns from `metadataOutput`).
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(PjParquetTable.FileMetadataColumn, PjParquetTable.PosMetadataColumn,
      PjParquetTable.RowIdMetadataColumn)

  /** SQL `DELETE` with data predicates, `UPDATE`, `MERGE INTO`:
    * merge-on-read deletion vectors on a logged table
    * ([[PjDeltaRowLevelOperation]]), otherwise copy-on-write at file
    * granularity ([[PjRowLevelOperation]]); either way the scan is bounded
    * by partition values and the index's chunk statistics. Partition-only
    * DELETEs stay on the metadata-rate `deleteWhere` path via Spark's
    * `OptimizeMetadataOnlyDeleteFromTable`.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (options.containsKey("versionAsOf") || options.containsKey("timestampAsOf"))
      throw new graft.core.PJException(
        "pjparquet: cannot run DML on a time-travel snapshot (snapshot reads are read-only)")
    new PjRowLevelOperationBuilder(layout, physicalFileSchema, options, info,
      nameMap = nameMapping)
  }

  private def mergedOptions(scanOptions: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    val m = new util.HashMap[String, String](options.asCaseSensitiveMap())
    m.putAll(scanOptions.asCaseSensitiveMap())
    new CaseInsensitiveStringMap(m)
  }
}

object PjParquetTable {
  /** Hive convention for a null partition value. */
  val HiveNullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** `bloom.columns` table option: comma-separated column names whose
    * [[PjBloom]] sidecars every write commit keeps fresh.
    */
  def bloomColumnsOf(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("bloom.columns")).toSeq
      .flatMap(_.split(",").iterator.map(_.trim).filter(_.nonEmpty))

  /** Bloom columns with the table-property fallback: an explicit
    * `bloom.columns` option (even an empty one — the opt-out) wins, else
    * the recorded `pj.bloom.columns` property, else none.
    */
  def bloomColumnsOf(options: CaseInsensitiveStringMap,
      propertiesJson: Option[String]): Seq[String] =
    if (options.containsKey("bloom.columns")) bloomColumnsOf(options)
    else PjTableProperties.recorded(propertiesJson, PjTableProperties.BloomColumns)
      .toSeq.flatMap(_.split(",").iterator.map(_.trim).filter(_.nonEmpty))

  /** `sort.columns` write/table option: comma-separated DATA columns every
    * written file is internally sorted by (the write plans an in-task sort
    * after the partition keys). Commits maintain the [[PjSortMarker]] so
    * scans can report the ordering ([[PjScan.outputOrdering]]).
    */
  def sortColumnsOf(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("sort.columns")).toSeq
      .flatMap(_.split(",").iterator.map(_.trim).filter(_.nonEmpty))

  /** Sort columns with the table-property fallback: an explicit
    * `sort.columns` option (even an empty one — the opt-out) wins, else
    * the recorded `pj.sort.columns` property, else none.
    */
  def sortColumnsOf(options: CaseInsensitiveStringMap,
      propertiesJson: Option[String]): Seq[String] =
    if (options.containsKey("sort.columns")) sortColumnsOf(options)
    else PjTableProperties.recorded(propertiesJson, PjTableProperties.SortColumns)
      .toSeq.flatMap(_.split(",").iterator.map(_.trim).filter(_.nonEmpty))

  /** Optimized-writes resolution (Delta parity): `Some(advisory bytes)`
    * when enabled, `None` when off. Explicit `optimizeWrite` write option
    * (even `false` — the opt-out) wins over the recorded
    * `pj.optimizeWrite.enabled` property; bin size from the
    * `optimizeWrite.binSize` option, else the `pj.optimizeWrite.binSize`
    * property, else 128 MiB.
    */
  def optimizeWriteOf(options: CaseInsensitiveStringMap,
      propertiesJson: Option[String]): Option[Long] = {
    val enabled = PjTableProperties.effectiveBool(options, propertiesJson,
      "optimizeWrite", PjTableProperties.OptimizeWriteEnabled, default = false)
    if (!enabled) None
    else Some(Option(options.get("optimizeWrite.binSize")).map(_.trim.toLong)
      .orElse(PjTableProperties.recorded(
        propertiesJson, PjTableProperties.OptimizeWriteBinSize).map(_.toLong))
      .getOrElse(128L * 1024 * 1024))
  }

  /** Idempotent-transaction write options (Delta's names): both or
    * neither — half a transaction identity is a silent correctness trap.
    */
  def txnOf(options: CaseInsensitiveStringMap): Option[(String, Long)] = {
    val app = Option(options.get("txnAppId")).map(_.trim).filter(_.nonEmpty)
    val ver = Option(options.get("txnVersion")).map(_.trim).filter(_.nonEmpty)
    (app, ver) match {
      case (Some(a), Some(v)) =>
        val n = try v.toLong catch {
          case _: NumberFormatException => throw new graft.core.PJException(
            s"pjparquet: txnVersion must be a long, got '$v'")
        }
        Some((a, n))
      case (None, None) => None
      case _ => throw new graft.core.PJException(
        "pjparquet: txnAppId and txnVersion must be set together")
    }
  }

  /** Name of the file-provenance metadata column. */
  val FileMetaName = "_file"

  /** Physical parquet schema of a layout file, from the index's schema-only
    * splice (no footer parse).
    */
  private[pjparquet] def messageTypeOf(f: PjFile): org.apache.parquet.schema.MessageType =
    PalletJack.readSchemaFromIndexData(f.indexBytes)

  /** Top-level column names (= leaf names for flat files, where every leaf
    * is top-level) — the uniform-schema guard's comparison key.
    */
  private[pjparquet] def topLevelNames(f: PjFile): Seq[String] =
    graft.core.PJSplice.Index.fromBytes(f.indexBytes).columnNames.toSeq

  object FileMetadataColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = FileMetaName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.StringType
    override def isNullable: Boolean = false
    override def comment(): String = "path of the data file the row belongs to"
  }

  /** Name of the row-position metadata column: the row's 0-based ordinal
    * within its data file (file-absolute, row groups included in file
    * order) — the position space [[PjDeletionVector]]s address. Generated
    * by the reader from the index's per-row-group row counts, not stored.
    */
  val PosMetaName = "_pos"

  object PosMetadataColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = PosMetaName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String = "0-based row position within the row's data file"
  }

  /** Name of the STABLE ROW ID metadata column (row tracking): unlike
    * `_pos`, a row's id survives compaction / OPTIMIZE ZORDER — fresh
    * files serve `entry.baseRowId + _pos`, id-preserving rewrites
    * materialize ids as the hidden [[PjCommitLog.RowIdColName]] physical
    * column. NULL on untracked rows (pre-row-tracking files).
    */
  val RowIdMetaName = "_row_id"

  object RowIdMetadataColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = RowIdMetaName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = true
    override def comment(): String =
      "stable row id (row tracking); survives compaction and OPTIMIZE"
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Driver-side layout cache (the analogue of stock Spark's cached
    * `InMemoryFileIndex`): repeated resolution of the same root — every
    * analyzer pass of every query, plus the auto-substitute rule — pays one
    * directory listing for the freshness signature instead of re-reading
    * every sidecar (or worse, re-walking every footer). Entries invalidate
    * themselves whenever any data file or sidecar changes path, length, or
    * mtime. Bounded LRU so long-lived sessions touching many roots don't
    * accumulate index bytes forever.
    */
  private final case class CachedLayout(
      signature: Seq[Seq[(String, Long, Long)]], layout: PjLayout,
      /** Incremental basis for LOGGED resolves: rel path → built PjFile,
        * sorted (matching the snapshot's path-sorted entry order), so the
        * next resolve can patch by the commit DELTAS instead of
        * reconstructing a million PjFile objects per append.
        */
      filesByRel: Option[scala.collection.immutable.TreeMap[String, PjFile]] = None)
  private val MaxCachedRoots = 32
  private val layoutCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Boolean, Boolean, Option[Long], Option[String]), CachedLayout](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Boolean, Boolean, Option[Long], Option[String]), CachedLayout]): Boolean =
          size() > MaxCachedRoots
      })

  /** Epoch millis or any `java.sql.Timestamp`-parseable local timestamp
    * (shared by `timestampAsOf` and the change feed's
    * `startingTimestamp`).
    */
  private[pjparquet] def parseTimestampMillis(raw: String, optName: String): Long =
    if (raw.nonEmpty && raw.forall(_.isDigit)) raw.toLong
    else try java.sql.Timestamp.valueOf(raw).getTime
    catch {
      case _: IllegalArgumentException => throw new graft.core.PJException(
        s"pjparquet: $optName must be epoch millis or " +
          s"'yyyy-MM-dd HH:mm:ss[.fff]', got '$raw'")
    }

  /** Test/ops hook: drop all cached layouts.
    *
    * The cache's freshness signature is (path, len, mtime) of every data
    * file and sidecar — the same granularity as stock Spark's
    * `InMemoryFileIndex`. An in-place rewrite that preserves both length
    * and mtime (possible on filesystems with coarse mtime granularity) is
    * invisible to the signature, and sidecar content validation only runs
    * on cache misses; this method is the operator escape hatch after such
    * rewrites, exactly like `REFRESH TABLE` for stock file sources.
    */
  def clearLayoutCache(): Unit = layoutCache.clear()

  /** Observability/spec counter: [[resolve]] calls. */
  private[sources] val resolves = new java.util.concurrent.atomic.AtomicLong

  def resolve(
      options: CaseInsensitiveStringMap,
      externalSchema: Option[StructType] = None): PjParquetTable = {
    resolves.incrementAndGet()
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("pjparquet: 'path' option is required"))
    val autogen = options.getBoolean("index.autogen", true)
    val versionAsOf: Option[Long] = Option(options.get("versionAsOf")).map { v =>
      try v.toLong catch {
        case _: NumberFormatException =>
          throw new graft.core.PJException(
            s"pjparquet: versionAsOf must be a commit-log version number, got '$v'")
      }
    }
    val conf = SparkSession.active.sessionState.newHadoopConf()
    // timestampAsOf: epoch millis or any `java.sql.Timestamp`-parseable
    // local timestamp; resolves to the latest version committed at or
    // before that instant (Delta semantics)
    val timestampAsOf: Option[Long] = Option(options.get("timestampAsOf")).map { raw =>
      if (versionAsOf.isDefined)
        throw new graft.core.PJException(
          "pjparquet: versionAsOf and timestampAsOf are mutually exclusive")
      val ts = parseTimestampMillis(raw, "timestampAsOf")
      val p = new Path(path)
      PjCommitLog.versionAtTimestamp(p.getFileSystem(conf), p, ts)
    }
    // tag: a named pinned version ([[PjRefs]]) — bit-exact time travel
    val tagAsOf: Option[Long] = Option(options.get("tag")).filter(_.nonEmpty).map { name =>
      if (versionAsOf.isDefined || timestampAsOf.isDefined)
        throw new graft.core.PJException(
          "pjparquet: 'tag' and versionAsOf/timestampAsOf are mutually exclusive")
      val p = new Path(path)
      PjRefs.tagVersion(p.getFileSystem(conf), p, name).getOrElse(
        throw new graft.core.PJException(s"pjparquet: no tag '$name' on '$path'"))
    }
    // branch: audit read = current head + the branch's staged entries
    val branch: Option[String] = Option(options.get("branch")).filter(_.nonEmpty)
    if (branch.isDefined && (versionAsOf.isDefined || timestampAsOf.isDefined ||
        tagAsOf.isDefined))
      throw new graft.core.PJException(
        "pjparquet: 'branch' reads resolve against the current head — " +
          "combine it with no time-travel option")
    val chosenVersion = versionAsOf.orElse(timestampAsOf).orElse(tagAsOf)
    val declaredKeys: Seq[String] = Option(options.get("partitionedBy")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val resolved =
      try resolveFiles(path, conf, autogen, options.getBoolean("mergeSchema", false),
        chosenVersion, branch)
      catch {
        // brand-new table: missing or file-less path is legal when the user
        // supplied a schema — partition keys come from the option, typed by
        // the schema; the first INSERT materializes the directory
        case e @ (_: java.io.FileNotFoundException | _: graft.core.PJException)
            if externalSchema.isDefined &&
              (e.isInstanceOf[java.io.FileNotFoundException] ||
                e.getMessage.contains("no parquet files under")) =>
          val ext = externalSchema.get
          val partFields = declaredKeys.map { k =>
            val f = ext.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
              throw new graft.core.PJException(
                s"pjparquet: partitionedBy column '$k' is not in the table schema"))
            if (f.dataType != org.apache.spark.sql.types.LongType &&
                f.dataType != org.apache.spark.sql.types.StringType)
              throw new graft.core.PJException(
                s"pjparquet: partition column '$k' must be BIGINT or STRING, " +
                  s"got ${f.dataType.simpleString}")
            f
          }
          PjLayout(Nil, StructType(partFields))
      }
    // a populated layout must agree with an explicit partitionedBy option —
    // a silent mismatch would scatter future INSERTs across a second scheme
    if (resolved.files.nonEmpty && declaredKeys.nonEmpty) {
      val actual = resolved.partitionSchema.fieldNames.toSeq
      if (!actual.map(_.toLowerCase(java.util.Locale.ROOT))
          .equals(declaredKeys.map(_.toLowerCase(java.util.Locale.ROOT))))
        throw new graft.core.PJException(
          s"pjparquet: option partitionedBy=${declaredKeys.mkString(",")} does not match " +
            s"the existing layout's partition columns (${actual.mkString(",")})")
    }
    // catalog-schema-wins for partition column TYPES (directory inference
    // only sees strings): a DDL `k STRING` must not be re-inferred as LONG
    // just because every value happens to be numeric
    val layout = externalSchema match {
      case Some(ext) if resolved.partitionSchema.nonEmpty =>
        resolved.copy(partitionSchema = StructType(resolved.partitionSchema.fields.map { f =>
          ext.fields.find(_.name.equalsIgnoreCase(f.name)) match {
            case Some(e) if e.dataType == org.apache.spark.sql.types.LongType ||
                e.dataType == org.apache.spark.sql.types.StringType ||
                e.dataType == org.apache.spark.sql.types.DateType =>
              f.copy(dataType = e.dataType)
            case _ => f
          }
        }))
      case _ => resolved
    }
    // a user-supplied schema must name a subset-or-equal set of the
    // physical + partition columns — matched per the session's
    // `spark.sql.caseSensitive` — with matching types; anything else would
    // silently read nothing or die later in the reader/splice. An empty
    // layout has no physical columns to validate against: the schema IS
    // the definition.
    externalSchema.filter(_ => layout.files.nonEmpty).foreach { ext =>
      val caseSensitive = SparkSession.active.sessionState.conf.caseSensitiveAnalysis
      def key(n: String) = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
      val table = new PjParquetTable(layout, options)
      requireCaseDistinct(table)
      val known = table.schema.fields.map(f => key(f.name) -> f).toMap
      val unknown = ext.fieldNames.filterNot(n => known.contains(key(n)))
      if (unknown.nonEmpty)
        throw new graft.core.PJException(
          s"pjparquet: user-specified schema has columns not present in the data: " +
            unknown.mkString(", "))
      // a widened table accepts NARROWER user/write schemas for the
      // widened columns (int into a long column, float into double) —
      // that is exactly how pre-widening writers keep appending
      def acceptable(declared: org.apache.spark.sql.types.DataType,
          table: org.apache.spark.sql.types.DataType): Boolean = {
        import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
        declared == table ||
          (declared == IntegerType && table == LongType) ||
          (declared == FloatType && table == DoubleType)
      }
      val mistyped = ext.fields.filter(f => !acceptable(f.dataType, known(key(f.name)).dataType))
      if (mistyped.nonEmpty)
        throw new graft.core.PJException(
          "pjparquet: user-specified schema has column types that do not match the data: " +
            mistyped.map(f =>
              s"${f.name} ${f.dataType.simpleString} (file: " +
                s"${known(key(f.name)).dataType.simpleString})").mkString(", "))
    }
    new PjParquetTable(layout, options, externalSchema)
  }

  /** Columns differing only in case are legal in the file but ambiguous
    * under case-insensitive resolution — fail explicitly (as stock Spark
    * does) instead of letting a name map silently shadow one of them.
    * Checked whenever a table with files is given a schema to validate.
    */
  private[pjparquet] def requireCaseDistinct(table: PjParquetTable): Unit =
    if (table.hasFiles && !SparkSession.active.sessionState.conf.caseSensitiveAnalysis) {
      val ambiguous = table.schema.fields.groupBy(_.name.toLowerCase(java.util.Locale.ROOT))
        .collect { case (_, fs) if fs.length > 1 => fs.map(_.name).mkString("/") }
      if (ambiguous.nonEmpty)
        throw new graft.core.PJException(
          "pjparquet: data columns differ only in case and cannot be resolved " +
            s"case-insensitively: ${ambiguous.mkString(", ")}; set " +
            "spark.sql.caseSensitive=true to read this file")
    }

  /** Walk the input path. Hive-style `key=value` subdirectories are followed
    * and become partition columns (LONG when every value parses as one, else
    * STRING — the common cases; richer inference is a knob users can layer
    * on with an explicit schema). Non-`key=value` subdirectories are
    * ignored, matching stock Spark's treatment of stray directories.
    *
    * Sidecars are validated on load: unparseable bytes, a sidecar older
    * than its data file, or a footer-length mismatch against the data
    * file's trailing 8 bytes all fall back to footer autogen with a WARN
    * (or fail loudly when `index.autogen=false`) — a stale index after an
    * in-place rewrite must never ship wrong chunk offsets.
    */
  def resolveFiles(path: String, conf: Configuration, autogen: Boolean,
      mergeSchema: Boolean = false, versionAsOf: Option[Long] = None,
      branch: Option[String] = None): PjLayout = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)

    // Commit-log tables resolve from the LOG alone: one snapshot read
    // gives the file set, sizes, row counts, schema, and the per-column
    // stats envelopes — zero directory walks and zero sidecar opens at
    // planning time (Delta add.stats / Iceberg-manifest parity). A log
    // directory with no commits yet ("enabled by mkdir") is NOT yet
    // logged and falls through to the directory listing, consistently
    // with the streaming/compaction/ANN call sites.
    if (status.isDirectory) {
      val snap: Option[PjCommitLog.Snapshot] = versionAsOf match {
        case Some(v) => Some(PjCommitLog.read(fs, p, v)) // throws if absent
        case None => PjCommitLog.latest(fs, p)
      }
      snap match {
        case Some(s) =>
          // branch audit read: overlay the staged entries on the head
          // (the staged files sit in the table dir, invisible to main
          // readers because logged planning never lists the directory).
          // A branch with NO staged batch resolves as plain head — zero
          // deltas; this is also what the branch WRITE's own table
          // resolution sees before it stages.
          val overlaid = branch match {
            case None => s
            case Some(name) =>
              PjRefs.readBranch(fs, p, name) match {
                case Some(ref) =>
                  s.copy(entryMap = s.entryMap ++ ref.entries.map(e => e.path -> e))
                case None => s
              }
          }
          return resolveFromLog(p, fs, conf, overlaid, autogen, mergeSchema,
            versionAsOf, branch)
        case None =>
          if (branch.isDefined)
            throw new graft.core.PJException(
              s"pjparquet: 'branch' reads require a commit-log table")
      }
    } else if (versionAsOf.isDefined)
      throw new graft.core.PJException(
        "pjparquet: versionAsOf requires a table directory, not a single file")

    def isDataFile(s: org.apache.hadoop.fs.FileStatus): Boolean =
      s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")

    // one listing pass collects data files AND sidecar statuses (same
    // directories — no extra RPCs for the freshness signature)
    val sidecarStatus = scala.collection.mutable.HashMap.empty[String, org.apache.hadoop.fs.FileStatus]

    def walk(dir: Path, parts: Seq[(String, String)]): Seq[(org.apache.hadoop.fs.FileStatus, Seq[(String, String)])] =
      fs.listStatus(dir).toSeq.flatMap {
        case s if s.isDirectory =>
          s.getPath.getName.split("=", 2) match {
            case Array(k, v) if k.nonEmpty =>
              walk(s.getPath, parts :+ (k, java.net.URLDecoder.decode(v, "UTF-8")))
            case _ => Nil
          }
        case s if isDataFile(s) => Seq((s, parts))
        case s if s.isFile && s.getPath.getName.endsWith(".index") =>
          sidecarStatus(s.getPath.toString) = s; Nil
        case _ => Nil
      }

    val listed =
      if (status.isDirectory) walk(p, Nil).sortBy(_._1.getPath.toString)
      else {
        // single file: stat the sidecar candidates directly
        sidecarCandidates(status.getPath).foreach { c =>
          try sidecarStatus(c.toString) = fs.getFileStatus(c)
          catch { case _: java.io.FileNotFoundException => }
        }
        Seq((status, Nil))
      }

    val leaves = listed
    if (leaves.isEmpty)
      throw new graft.core.PJException(s"pjparquet: no parquet files under '$path'")

    def sidecarOf(s: org.apache.hadoop.fs.FileStatus): Option[org.apache.hadoop.fs.FileStatus] =
      sidecarCandidates(s.getPath).iterator.flatMap(c => sidecarStatus.get(c.toString)).nextOption()

    // freshness signature: (path, len, mtime) of each data file and its
    // sidecar — any change (add/remove/rewrite) invalidates the cache entry
    val markerStat: Seq[(String, Long, Long)] =
      if (!status.isDirectory) Nil
      else try {
        val m = fs.getFileStatus(PjSortMarker.markerPath(p))
        Seq((m.getPath.toString, m.getLen, m.getModificationTime))
      } catch { case _: java.io.FileNotFoundException => Nil }
    val signature: Seq[Seq[(String, Long, Long)]] = leaves.map { case (s, _) =>
      Seq((s.getPath.toString, s.getLen, s.getModificationTime)) ++
        sidecarOf(s).map(sc => (sc.getPath.toString, sc.getLen, sc.getModificationTime))
    } :+ markerStat
    val cacheKey = (p.toString, autogen, mergeSchema, versionAsOf,
      None: Option[String])
    Option(layoutCache.get(cacheKey)) match {
      case Some(c) if c.signature == signature => return c.layout
      case _ =>
    }

    val keySeqs = leaves.map(_._2.map(_._1)).distinct
    if (keySeqs.size > 1)
      throw new graft.core.PJException(
        s"pjparquet: inconsistent partition layouts under '$path': " +
          keySeqs.map(_.mkString("/")).mkString(" vs "))
    val keys = keySeqs.head
    val partitionSchema = StructType(keys.zipWithIndex.map { case (k, i) =>
      val vals = leaves.map(_._2(i)._2).filter(_ != HiveNullPartition)
      val allLong = vals.nonEmpty && vals.forall(v => scala.util.Try(v.toLong).isSuccess)
      org.apache.spark.sql.types.StructField(
        k, if (allLong) org.apache.spark.sql.types.LongType
        else org.apache.spark.sql.types.StringType, nullable = true)
    })

    // Per-file sidecar load + validation runs on a bounded driver pool:
    // each file costs a sidecar read plus an 8-byte data pread, and paying
    // them serially makes resolution O(files × RPC latency) — the same
    // reason stock Spark parallelizes InMemoryFileIndex listing. Hadoop
    // FileSystem instances are thread-safe for reads.
    // `None` = a zero-row-group file: legal parquet (Spark writes one for
    // an empty partition), un-indexable by design (`palletjack.cc:241-246`),
    // and contributing no rows — excluded from the layout entirely.
    def loadOne(s: org.apache.hadoop.fs.FileStatus, parts: Seq[(String, String)]): Option[PjFile] =
      loadWithSidecar(fs, s, sidecarOf(s), parts.map(_._2), autogen)
    val files: Seq[PjFile] =
      (if (leaves.size <= 8) leaves.map { case (s, parts) => loadOne(s, parts) }
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(32, Runtime.getRuntime.availableProcessors()))
        try {
          val futures = leaves.map { case (s, parts) =>
            pool.submit(new java.util.concurrent.Callable[Option[PjFile]] {
              def call(): Option[PjFile] = loadOne(s, parts)
            })
          }
          futures.map { f =>
            try f.get()
            catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
          }
        } finally pool.shutdown()
      }).flatten
    if (files.isEmpty)
      throw new graft.core.PJException(
        s"pjparquet: only zero-row-group (empty) parquet files under '$path'")
    // Uniform-schema guard (cheap: names live in the index, no footer
    // parse). Every split's pruned footer comes from its own file, so a
    // silent mismatch would surface as wrong columns mid-query — fail at
    // resolution instead. Type changes with identical names still surface
    // as reader errors. `mergeSchema=true` opts into ADDITIVE evolution:
    // the table schema becomes the union (computed in
    // PjParquetTable.fileSchema), each split's splice selects only the
    // columns its file has, and the vectorized reader null-fills the rest
    // — the stock `spark.read.option("mergeSchema", true)` semantics.
    if (!mergeSchema) {
      val headNames = topLevelNames(files.head)
      for (f <- files.tail) {
        val names = topLevelNames(f)
        if (names != headNames)
          throw new graft.core.PJException(
            s"pjparquet: schema mismatch across files: '${f.path}' has columns " +
              s"${names.mkString("(", ",", ")")} but '${files.head.path}' has " +
              headNames.mkString("(", ",", ")") +
              " (set mergeSchema=true for additive schema evolution)")
      }
    }
    // the sort marker describes the CURRENT file set; an old snapshot may
    // predate the sort, so time-travel reads never claim an ordering
    val sortedBy: Seq[String] =
      if (markerStat.isEmpty || versionAsOf.isDefined) Nil
      else PjSortMarker.read(fs, p).getOrElse(Nil)
    val layout = PjLayout(files, partitionSchema, sortedBy)
    layoutCache.put(cacheKey, CachedLayout(signature, layout))
    layout
  }

  /** Eager per-file load shared by the unlogged directory walk and path-only
    * log entries: validate + use the sidecar, else autogen
    * from the footer, with the walk's zero-row-group (None) and
    * nested-schema (PJ_3 index) handling.
    */
  private def loadWithSidecar(
      fs: FileSystem,
      s: org.apache.hadoop.fs.FileStatus,
      sidecar: Option[org.apache.hadoop.fs.FileStatus],
      partValues: Seq[String],
      autogen: Boolean): Option[PjFile] = {
    try {
      val bytes = sidecar match {
        case Some(sc) => loadValidatedSidecar(fs, s, sc, autogen)
        case None if autogen =>
          PJIndex.generateFromFooter(HadoopFooter.readFooterBytes(fs, s), s.getPath.toString)
        case None => throw new PjMissingSidecarException(
          s"Missing index sidecar '${sidecarCandidates(s.getPath).head}' and index.autogen=false")
      }
      Some(PjFile(s.getPath.toString, s.getLen, PjIndexRef.eager(bytes), partValues))
    } catch {
      case e: graft.core.PJException
          if e.getMessage == "Number of row groups is not set!" => None
      case e: PjMissingSidecarException => throw e
      case e: graft.core.PJException if autogen =>
        // NESTED schema? The PJ_2 compat format indexes flat files only
        // (reference restriction) — build the PJ_3 subtree-offset
        // extension instead, which restores spliced index planning at
        // top-level-subtree pruning granularity. Anything else
        // (corruption, truncation) still fails loudly.
        val fb = HadoopFooter.readFooterBytes(fs, s)
        if (!PJIndex.footerHasNestedSchema(fb)) throw e
        Some(PjFile(s.getPath.toString, s.getLen,
          PjIndexRef.eager(PJIndex.generateNestedFromFooter(fb, s.getPath.toString)),
          partValues))
    }
  }

  /** Resolution of a LOGGED table: the chosen snapshot — HEAD or
    * `versionAsOf` — is the complete planning truth. Retired files of
    * earlier versions and racing writers' uncommitted files are ON DISK
    * but not in the snapshot, so reads are snapshot-isolated by
    * construction; and entries written by the stats-carrying commit path
    * plan with ZERO per-file I/O — sizes, row counts, schema, column
    * names, and min/max envelopes all ride the one log read (Delta
    * `add.stats` parity; the fix for O(files) driver sidecar loads at
    * 1M-file scale). Sidecar indexes load lazily ([[PjIndexRef]]) for
    * exactly the files a scan keeps after pruning, validated against the
    * entry's footer fingerprint — content-exact, no mtime games. Path-only
    * entries (adopted pre-log files) take the eager per-file load.
    */
  /** Hive `key=value` pairs of a snapshot-relative path — the same decode
    * the directory walk applies (URLDecoder only when an escape is
    * present: it costs real time × 500k entries).
    */
  private def partPairsOf(rel: String): Seq[(String, String)] = {
    val segs = rel.split('/')
    segs.iterator.take(math.max(0, segs.length - 1)).flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) if k.nonEmpty =>
          val decoded =
            if (v.indexOf('%') < 0 && v.indexOf('+') < 0) v
            else java.net.URLDecoder.decode(v, "UTF-8")
          Some((k, decoded))
        case _ => None
      }
    }.toSeq
  }

  /** Incremental logged resolution: patch the cached layout's rel→file
    * map by the commit DELTAS between its version and the head — an
    * append on a million-file table then costs O(changed files), not a
    * million-object rebuild (the soak's `real_append_commit_ms`). Bails
    * to the full build on anything that could change GLOBAL layout facts:
    * property changes (partition spec lives there), unplanned
    * entries, non-uniform or inferred partitioning, checkpoint-only
    * versions, or deltas too large to beat a rebuild.
    */
  private def incrementalFromLog(
      p: Path, fs: FileSystem, conf: Configuration,
      snap: PjCommitLog.Snapshot, autogen: Boolean, mergeSchema: Boolean,
      cached: CachedLayout,
      cacheKey: (String, Boolean, Boolean, Option[Long], Option[String]),
      signature: Seq[Seq[(String, Long, Long)]]): Option[PjLayout] = {
    val prevLayout = cached.layout
    val basis = cached.filesByRel.getOrElse(return None)
    if (prevLayout.propertiesJson != snap.propertiesJson) return None
    if (!prevLayout.uniformPartitions) return None
    if (!mergeSchema && snap.dataSchemaJson.isEmpty) return None
    val v0 = prevLayout.logVersion.getOrElse(return None)
    if (snap.version <= v0 || snap.version - v0 > 32) return None
    val declaredSeq = PjTableProperties.partitionColumns(snap.propertiesJson)
    if (declaredSeq.isEmpty && prevLayout.partitionSchema.nonEmpty) return None
    def foldName(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val declaredNames = declaredSeq.map(x => foldName(x._1))
    val deltas =
      try (v0 + 1 to snap.version).map(v => PjCommitLog.delta(fs, p, v))
      catch { case scala.util.control.NonFatal(_) => return None }
    if (deltas.exists(_.fullState)) return None
    val changed = deltas.iterator.map(d => d.add.size + d.remove.size).sum
    if (changed > math.max(64, snap.entries.size / 4)) return None
    val adds = deltas.flatMap(_.add)
    if (adds.exists(e => !e.planned)) return None
    // every ADDED entry must sit in the declared partitioning (or at the
    // root of an unpartitioned table) so the cached partition schema and
    // uniformity stay valid facts
    if (!adds.forall { e =>
      val ks = partPairsOf(e.path).map(x => foldName(x._1))
      if (declaredSeq.isEmpty) ks.isEmpty else ks == declaredNames
    }) return None

    val qualifiedRoot = fs.makeQualified(p)
    def alignedValues(parts: Seq[(String, String)]): Seq[String] =
      if (declaredSeq.isEmpty) parts.map(_._2)
      else {
        val byName = parts.iterator.map { case (k, v) => foldName(k) -> v }.toMap
        declaredSeq.map { case (n, _) =>
          byName.getOrElse(foldName(n), PjParquetTable.HiveNullPartition)
        }
      }
    var m = basis
    for (d <- deltas) {
      d.remove.foreach(r => m -= r)
      d.add.foreach { e =>
        if (e.isEmptyFile) m -= e.path
        else {
          val abs = new Path(qualifiedRoot, e.path)
          m += e.path -> PjFile(abs.toString, e.size,
            PjIndexRef.lazily(logIndexLoader(conf, abs.toString, e, autogen, snap.version)),
            alignedValues(partPairsOf(e.path)), entry = Some(e),
            dv = e.dv.map(dd => (new Path(qualifiedRoot, dd.path).toString, dd.deleted)))
        }
      }
    }
    val files: Seq[PjFile] = m.valuesIterator.toIndexedSeq
    val dataSchema: Option[StructType] =
      if (mergeSchema) None
      else snap.dataSchemaJson.map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])
    val sortedBy: Seq[String] = PjSortMarker.read(fs, p).getOrElse(Nil)
    val layout = prevLayout.copy(files = files, sortedBy = sortedBy,
      dataSchema = dataSchema,
      logVersion = Some(snap.version), constraintsJson = snap.constraintsJson,
      propertiesJson = snap.propertiesJson, tableStatsJson = snap.tableStatsJson)
    layoutCache.put(cacheKey, CachedLayout(signature, layout, Some(m)))
    Some(layout)
  }

  private def resolveFromLog(p: Path, fs: FileSystem, conf: Configuration,
      snap: PjCommitLog.Snapshot, autogen: Boolean, mergeSchema: Boolean,
      versionAsOf: Option[Long], branch: Option[String] = None): PjLayout = {
    // an empty snapshot WITH a recorded schema is a legal table state
    // (CREATE TABLE before the first INSERT, or a full-table DELETE) —
    // only a schema-less empty snapshot is unreadable
    if (snap.entries.isEmpty && snap.dataSchemaJson.isEmpty)
      throw new graft.core.PJException(
        s"pjparquet: snapshot version ${snap.version} of '$p' is empty")
    val markerStat: Seq[(String, Long, Long)] =
      try {
        val m = fs.getFileStatus(PjSortMarker.markerPath(p))
        Seq((m.getPath.toString, m.getLen, m.getModificationTime))
      } catch { case _: java.io.FileNotFoundException => Nil }
    // the log is append-only and files immutable under the log contract,
    // so (head version, its file's content token, sort marker) IS the
    // freshness signature — no per-file stat round-trips. The content
    // token (version-file size, mirroring the snapshot cache's key)
    // catches a table deleted and recreated at the same path whose new
    // log reaches the same head version.
    // a branch overlay caches under its own key, and its signature
    // carries the ref file's stat so a re-staged branch invalidates
    val branchStat: Seq[(String, Long, Long)] = branch.toSeq.flatMap { name =>
      try {
        val st = fs.getFileStatus(PjRefs.branchFile(p, name))
        Seq((st.getPath.toString, st.getLen, st.getModificationTime))
      } catch { case _: java.io.FileNotFoundException => Nil }
    }
    val signature: Seq[Seq[(String, Long, Long)]] =
      Seq(Seq((PjCommitLog.DirName, snap.version, snap.contentToken)), markerStat,
        branchStat)
    val cacheKey = (p.toString, autogen, mergeSchema, versionAsOf, branch)
    Option(layoutCache.get(cacheKey)) match {
      case Some(c) if c.signature == signature => return c.layout
      case Some(c) if versionAsOf.isEmpty && branch.isEmpty =>
        // same table, new head: try patching by the deltas before paying
        // the full O(entries) rebuild
        incrementalFromLog(p, fs, conf, snap, autogen, mergeSchema,
          c, cacheKey, signature).foreach(l => return l)
      case _ =>
    }
    // partition values parse from the snapshot's relative paths — the
    // same key=value decode the directory walk applies
    def partsOf(rel: String): Seq[(String, String)] = partPairsOf(rel)
    // per-entry parsing is pure and independent — fan it across cores so
    // a 500k-entry snapshot's layout builds in parallel (preallocated
    // arrays keep entry order deterministic)
    val entriesArr = snap.entries.toArray
    val parsedArr = new Array[(PjCommitLog.FileEntry, Seq[(String, String)])](entriesArr.length)
    java.util.stream.IntStream.range(0, entriesArr.length).parallel()
      .forEach(i => parsedArr(i) = (entriesArr(i), partsOf(entriesArr(i).path)))
    val parsed: Seq[(PjCommitLog.FileEntry, Seq[(String, String)])] =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(parsedArr)
    val keySeqs = parsed.map(_._2.map(_._1)).distinct
    // DECLARED partitioning (CREATE TABLE ... PARTITIONED BY, or a later
    // SET TBLPROPERTIES evolution — recorded as pj.partition.columns):
    // the declared columns ARE the partition schema, in declared order
    // with declared types. Files from an OLDER partitioning generation
    // (evolution applies to FUTURE writes only) align their directory
    // values BY NAME; keys they lack read as NULL for every row — the
    // ALTER-side guard refuses an evolution that would shadow real data.
    val declaredSeq: Seq[(String, org.apache.spark.sql.types.DataType)] =
      PjTableProperties.partitionColumns(snap.propertiesJson)
    def foldName(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val declaredNames = declaredSeq.map(p => foldName(p._1)).toSet
    if (declaredSeq.isEmpty && keySeqs.size > 1)
      throw new graft.core.PJException(
        s"pjparquet: inconsistent partition layouts under '$p': " +
          keySeqs.map(_.mkString("/")).mkString(" vs "))
    if (declaredSeq.nonEmpty) {
      val stray = keySeqs.flatten.distinct.filterNot(k => declaredNames.contains(foldName(k)))
      if (stray.nonEmpty)
        throw new graft.core.PJException(
          s"pjparquet: file(s) under '$p' are partitioned on " +
            s"${stray.mkString(", ")}, not in the declared partitioning " +
            s"(${declaredSeq.map(_._1).mkString(", ")}) — dropping a partition " +
            "column requires rewriting the table")
    }
    val keys = keySeqs.headOption.getOrElse(Nil)
    /** One partitioning generation across all live files (no evolution in
      * flight): the partition-level DML read set stays declarable. Mixed
      * generations make remove-bearing commits conflict loudly instead of
      * rebasing — conservative until a compaction unifies the layout.
      */
    val uniformPartitions = declaredSeq.isEmpty || keySeqs.size <= 1 &&
      keys.map(foldName) == declaredSeq.map(p => foldName(p._1))
    val partitionSchema =
      if (declaredSeq.nonEmpty)
        StructType(declaredSeq.map {
          case (n, t) => org.apache.spark.sql.types.StructField(n, t, nullable = true)
        })
      else StructType(keys.zipWithIndex.map { case (k, i) =>
        val vals = parsed.map(_._2(i)._2).filter(_ != HiveNullPartition)
        val allLong = vals.nonEmpty && vals.forall(v => scala.util.Try(v.toLong).isSuccess)
        org.apache.spark.sql.types.StructField(
          k,
          if (allLong) org.apache.spark.sql.types.LongType
          else org.apache.spark.sql.types.StringType, nullable = true)
      })
    /** Partition values aligned to the partition schema BY NAME (declared
      * partitioning; an absent key = the null partition), or positionally
      * for inferred layouts (uniform by construction).
      */
    def alignedValues(parts: Seq[(String, String)]): Seq[String] =
      if (declaredSeq.isEmpty) parts.map(_._2)
      else {
        val byName = parts.iterator.map { case (k, v) => foldName(k) -> v }.toMap
        declaredSeq.map { case (n, _) => byName.getOrElse(foldName(n), HiveNullPartition) }
      }
    val qualifiedRoot = fs.makeQualified(p)
    def fileOf(e: PjCommitLog.FileEntry, parts: Seq[(String, String)]): Option[PjFile] = {
      val abs = new Path(qualifiedRoot, e.path)
      if (e.planned) {
        if (e.isEmptyFile) None // zero-row-group: contributes nothing
        else Some(PjFile(abs.toString, e.size,
          PjIndexRef.lazily(logIndexLoader(conf, abs.toString, e, autogen, snap.version)),
          alignedValues(parts), entry = Some(e),
          dv = e.dv.map(d => (new Path(qualifiedRoot, d.path).toString, d.deleted))))
      } else {
        // path-only (adopted) entry: eager load, exactly the unlogged path —
        // including the loud expired-by-vacuum diagnosis for missing files
        val st =
          try fs.getFileStatus(abs)
          catch {
            case _: java.io.FileNotFoundException =>
              throw new graft.core.PJException(
                s"pjparquet: snapshot version ${snap.version} references file " +
                  s"'${e.path}' no longer on disk (expired by vacuum?)")
          }
        val sidecar = sidecarCandidates(abs).iterator.flatMap { c =>
          try Some(fs.getFileStatus(c))
          catch { case _: java.io.FileNotFoundException => None }
        }.nextOption()
        loadWithSidecar(fs, st, sidecar, alignedValues(parts), autogen)
          .map(_.copy(dv = e.dv.map(d =>
            (new Path(qualifiedRoot, d.path).toString, d.deleted))))
      }
    }
    // stats-carrying entries build in parallel (pure object construction,
    // the common case at scale); path-only entries touch the filesystem and
    // keep the sequential path
    val filesArr = new Array[Option[PjFile]](parsedArr.length)
    java.util.stream.IntStream.range(0, parsedArr.length).parallel().forEach { i =>
      val (e, parts) = parsedArr(i)
      filesArr(i) = if (e.planned) fileOf(e, parts) else None
    }
    parsedArr.indices.foreach { i =>
      val (e, parts) = parsedArr(i)
      if (!e.planned) filesArr(i) = fileOf(e, parts)
    }
    val files: Seq[PjFile] = filesArr.iterator.flatten.toSeq
    // a RECORDED schema makes the empty file set legal: a freshly
    // CREATEd table before its first INSERT, or a table whose every row
    // was deleted — the schema (not the files) defines the table
    if (files.isEmpty && snap.dataSchemaJson.isEmpty)
      throw new graft.core.PJException(
        s"pjparquet: only zero-row-group (empty) parquet files under '$p'")
    val recordedSchema: Option[StructType] =
      if (mergeSchema) None
      else snap.dataSchemaJson.map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])
    // uniform-schema guard from log-recorded column names — index forced
    // only for entries that never recorded them. With a recorded data
    // schema the LOG is authoritative and per-file validation happens at
    // COMMIT time (append widening, alter-schema commits): a file may
    // CARRY extra columns (a DROP COLUMN leaves pre-drop files their
    // bytes; the scan never requests them) and may MISS columns (an ADD
    // COLUMN postdates the file; the reader null-fills them). Without a
    // recorded schema, files must agree exactly, as before.
    if (!mergeSchema && recordedSchema.isEmpty) {
      def colsOf(f: PjFile): Seq[String] =
        f.entry.flatMap(_.cols).getOrElse(topLevelNames(f))
      val headNames = colsOf(files.head)
      for (f <- files.tail) {
        val names = colsOf(f)
        if (names != headNames)
          throw new graft.core.PJException(
            s"pjparquet: schema mismatch across files: '${f.path}' has columns " +
              s"${names.mkString("(", ",", ")")} but '${files.head.path}' has " +
              headNames.mkString("(", ",", ")") +
              " (set mergeSchema=true for additive schema evolution)")
      }
    }
    // the sort marker describes the CURRENT file set; an old snapshot may
    // predate the sort, so time-travel reads never claim an ordering
    val sortedBy: Seq[String] =
      if (markerStat.isEmpty || versionAsOf.isDefined) Nil
      else PjSortMarker.read(fs, p).getOrElse(Nil)
    // recorded data schema serves Table.schema() with zero file opens and
    // is AUTHORITATIVE when present — files are trusted members of the
    // log, validated when their commit landed; logs without a
    // recorded schema fall back to the head-file physical schema
    val dataSchema: Option[StructType] = recordedSchema
    val layout = PjLayout(files, partitionSchema, sortedBy, dataSchema,
      logVersion = Some(snap.version), constraintsJson = snap.constraintsJson,
      propertiesJson = snap.propertiesJson, tableStatsJson = snap.tableStatsJson,
      uniformPartitions = uniformPartitions)
    // incremental basis: the rel→file map future resolves patch by delta.
    // Eligibility mirrors incrementalFromLog's bail conditions, so a
    // basis is only recorded when patching would be sound.
    val basis: Option[scala.collection.immutable.TreeMap[String, PjFile]] =
      if (versionAsOf.isEmpty && uniformPartitions &&
          (mergeSchema || snap.dataSchemaJson.isDefined) &&
          (declaredSeq.nonEmpty || partitionSchema.isEmpty) &&
          entriesArr.forall(_.planned)) {
        val b = scala.collection.immutable.TreeMap.newBuilder[String, PjFile]
        parsedArr.indices.foreach { i =>
          filesArr(i).foreach(f => b += parsedArr(i)._1.path -> f)
        }
        Some(b.result())
      } else None
    layoutCache.put(cacheKey, CachedLayout(signature, layout, basis))
    layout
  }

  /** Lazy index loader for a stats-carrying log entry. Trust order:
    *  1. a sidecar whose embedded footer fingerprint equals the entry's —
    *     content-exact, zero data-file I/O;
    *  2. (autogen) the data file's own footer, fingerprint-checked: a
    *     mismatch means the file changed AFTER being committed — that
    *     breaks snapshot isolation, so it fails loudly, never misplans.
    */
  private def logIndexLoader(conf: Configuration, absPath: String,
      e: PjCommitLog.FileEntry, autogen: Boolean, version: Long): () => Array[Byte] = () => {
    val path = new Path(absPath)
    val pfs = path.getFileSystem(conf)
    val expected = e.fingerprint.get
    def footerBytes(): Array[Byte] = {
      val fb =
        try HadoopFooter.readFooterBytes(pfs, pfs.getFileStatus(path))
        catch {
          case _: java.io.FileNotFoundException =>
            throw new graft.core.PJException(
              s"pjparquet: snapshot version $version references file '${path.getName}' " +
                "no longer on disk (expired by vacuum?)")
        }
      if (graft.core.PJSplice.fnv64(fb, 0, fb.length) != expected)
        throw new graft.core.PJException(
          s"pjparquet: content of '$absPath' differs from the footer committed at " +
            s"version $version (in-place rewrite?); snapshot isolation cannot be served")
      fb
    }
    val fromSidecar = sidecarCandidates(path).iterator.flatMap { c =>
      try {
        val bytes = readAll(pfs, c)
        val idx = graft.core.PJSplice.Index.fromBytes(bytes)
        if (idx.footerFnv64 == expected) Some(bytes) else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }.nextOption()
    fromSidecar.getOrElse {
      if (!autogen)
        throw new PjMissingSidecarException(
          s"Missing or mismatched index sidecar for '$absPath' and index.autogen=false")
      log.warn(
        "pjparquet: no fingerprint-matching sidecar for '{}'; regenerating from the footer",
        absPath)
      val fb = footerBytes()
      if (PJIndex.footerHasNestedSchema(fb)) PJIndex.generateNestedFromFooter(fb, absPath)
      else PJIndex.generateFromFooter(fb, absPath)
    }
  }

  /** Load a sidecar and validate it SOUNDLY against its data file: the
    * bytes must parse as a PJ_2 index, and the data file's actual footer
    * bytes — one pread of footer+trailer, never a thrift parse — must be
    * byte-identical to the original footer the index embeds. Identical
    * bytes mean the spliced metadata is exactly what the file's own footer
    * would produce, so a used sidecar can never serve wrong chunk offsets,
    * regardless of mtime games (same-second rewrites, restores with
    * preserved timestamps). Mtime/length are kept only as a cheap fast-fail
    * for the obvious data-newer case; the CPU the index saves is the
    * ~100ms-class footer PARSE, which this read does not pay, and the
    * layout cache means the read happens once per layout change, not per
    * query.
    */
  private def loadValidatedSidecar(
      fs: FileSystem,
      data: org.apache.hadoop.fs.FileStatus,
      sc: org.apache.hadoop.fs.FileStatus,
      autogen: Boolean): Array[Byte] = {
    def fallback(reason: String): Array[Byte] =
      if (autogen) {
        log.warn("pjparquet: {} for '{}'; regenerating index from the footer", reason, data.getPath)
        PJIndex.generateFromFooter(HadoopFooter.readFooterBytes(fs, data), data.getPath.toString)
      } else throw new graft.core.PJException(
        s"pjparquet: $reason for '${data.getPath}' and index.autogen=false")

    val parsed =
      try {
        val bytes = readAll(fs, sc.getPath)
        Right((bytes, graft.core.PJSplice.Index.fromBytes(bytes)))
      } catch {
        case e: graft.core.PJException => Left(s"corrupt index sidecar (${e.getMessage})")
      }
    parsed match {
      case Left(reason) => fallback(reason)
      case Right((bytes, idx)) =>
        if (data.getModificationTime > sc.getModificationTime)
          fallback("stale index sidecar (data file is newer)")
        else {
          // one pread: [footer bytes][footerLen u32][PAR1]
          val footerLen = idx.header.metadataLength
          val buf = new Array[Byte](footerLen + 8)
          val readOk =
            if (data.getLen < footerLen + 8) false
            else {
              val in = fs.open(data.getPath)
              try { in.readFully(data.getLen - footerLen - 8, buf); true }
              finally in.close()
            }
          def trailerU32 = (buf(footerLen) & 0xff) | ((buf(footerLen + 1) & 0xff) << 8) |
            ((buf(footerLen + 2) & 0xff) << 16) | ((buf(footerLen + 3) & 0xff) << 24)
          if (!readOk || buf(footerLen + 4) != 'P' || buf(footerLen + 5) != 'A' ||
              buf(footerLen + 6) != 'R' || buf(footerLen + 7) != '1' ||
              trailerU32 != footerLen)
            fallback(s"index sidecar does not match the data file footer " +
              s"(index metadataLength=$footerLen)")
          else if (idx.footerMatches(java.util.Arrays.copyOfRange(buf, 0, footerLen))) bytes
          else fallback("index sidecar does not match the data file footer content " +
            "(in-place rewrite)")
        }
    }
  }

  /** Sidecar naming: the hidden `.name.parquet.index` form keeps stock
    * Spark directory listings clean (dot-files are ignored); the visible
    * `name.parquet.index` form matches the reference convention
    * (`python/README.md:49`) and is still discovered.
    */
  def sidecarCandidates(dataFile: Path): Seq[Path] = Seq(
    new Path(dataFile.getParent, "." + dataFile.getName + ".index"),
    new Path(dataFile.getParent, dataFile.getName + ".index"))

  def hiddenSidecar(dataFile: Path): Path = sidecarCandidates(dataFile).head

  private def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }
}

/** Footer extraction over any Hadoop FileSystem (object stores included). */
object HadoopFooter {
  def readFooterBytes(fs: FileSystem, status: org.apache.hadoop.fs.FileStatus): Array[Byte] = {
    val in = fs.open(status.getPath)
    try {
      PJIndex.readFooterBytes((off, len) => {
        val b = new Array[Byte](len); in.readFully(off, b); b
      }, status.getLen, status.getPath.toString)
    } finally in.close()
  }
}
