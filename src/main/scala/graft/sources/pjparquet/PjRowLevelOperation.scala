package graft.sources.pjparquet

import java.util

import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, WriteBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Row-level DML for pjparquet tables — SQL `DELETE` with data predicates,
  * `UPDATE` and `MERGE INTO` — via Spark's `SupportsRowLevelOperations`
  * framework. [[PjRowLevelOperationBuilder]] picks the mechanism: on a
  * commit-log table every one of them is a merge-on-read delta command
  * ([[PjDeltaRowLevelOperation]]: deletion vectors plus appended rows);
  * the group-based (copy-on-write) operation below serves unlogged tables,
  * `deletionVectors.enabled=false`, and the generated/identity-column cases
  * the builder lists. The "group" — the replacement granularity — is the
  * FILE:
  *
  *  1. Spark's rewrite rules (`RewriteDeleteFromTable` /
  *     `RewriteUpdateTable` / `RewriteMergeIntoTable`) plan a `ReplaceData`
  *     over this operation's scan of the affected groups;
  *  2. the scan ([[PjScanBuilder]] in `rowLevel` mode) bounds the rewrite
  *     set from METADATA alone — partition values and the sidecar index's
  *     per-chunk min/max/null-count stats prune every file that provably
  *     contains no matching row, with zero data I/O (a `DELETE WHERE id <
  *     100` on an id-clustered 100 TB table rewrites a handful of files,
  *     not the table) — and Spark's `RowLevelOperationRuntimeGroupFiltering`
  *     may shrink it further at runtime through the scan's partition-column
  *     runtime filtering;
  *  3. the scan returns EVERY row of each kept file (no reader-side
  *     predicate skipping — survivors must be rewritten), Spark's rewritten
  *     query computes the post-DML rows, and the write
  *     ([[PjWriteMode.ReplaceFiles]]) commits by deleting exactly the
  *     scanned files (plus sidecars) and keeping the replacements, then
  *     re-indexes.
  *
  * Partition-predicate-only DELETEs never reach this path: Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` converts them back to the
  * metadata-rate `SupportsDelete.deleteWhere` (file + sidecar unlink, zero
  * data I/O) whenever `canDeleteWhere` accepts.
  *
  * Like the rest of the write path this assumes one writer at a time per
  * table root (the usual direct-committer contract); a reader racing the
  * commit can observe the same read-uncommitted window as INSERT OVERWRITE.
  */
final class PjRowLevelOperationBuilder(
    layout: PjLayout,
    fileSchema: StructType,
    tableOptions: CaseInsensitiveStringMap,
    info: RowLevelOperationInfo,
    nameMap: Map[String, String] = Map.empty)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    // commit-log tables run row-level DML MERGE-ON-READ by default
    // (deletion vectors + appends, [[PjDeltaRowLevelOperation]]);
    // `deletionVectors.enabled=false` and unlogged tables copy-on-write.
    // Tables with GENERATED columns also copy-on-write UPDATE/MERGE: the
    // rewrite recomputes generated values when a SET touches their base
    // columns ([[PjGenerated]] rewrite mode) — the merge-on-read path
    // would persist the new rows with stale dependents. MERGE on tables
    // with IDENTITY columns copies-on-write too: its WHEN NOT MATCHED
    // inserts need watermark minting + the exclusive commit, which only
    // the [[PjGenerated]]-augmented write provides (the merge-on-read
    // writer applies no augmentation). UPDATE on identity-only tables
    // stays merge-on-read — updated rows carry their identity values.
    // DELETE never changes row values, so every data-predicate DELETE —
    // pushable or not — is a delta command: vectors only, no rewrite.
    if (layout.logVersion.isDefined &&
        (info.command == RowLevelOperation.Command.DELETE ||
          (!PjGenerated.hasGenerated(layout.dataSchema) &&
            !(info.command == RowLevelOperation.Command.MERGE &&
              PjGenerated.hasAny(layout.dataSchema)))) &&
        PjTableProperties.effectiveBool(tableOptions, layout.propertiesJson,
          "deletionVectors.enabled", PjTableProperties.DeletionVectorsEnabled,
          default = true))
      new PjDeltaRowLevelOperation(layout, fileSchema, tableOptions, info.command, nameMap)
    else
      new PjRowLevelOperation(layout, fileSchema, tableOptions, info.command, nameMap)
}

final class PjRowLevelOperation(
    layout: PjLayout,
    fileSchema: StructType,
    tableOptions: CaseInsensitiveStringMap,
    cmd: RowLevelOperation.Command,
    nameMap: Map[String, String] = Map.empty)
    extends RowLevelOperation {

  /** The scan Spark configured for this operation — its post-runtime-filter
    * file list IS the replacement set, read lazily at commit time.
    */
  @volatile private var configuredScan: Option[PjScan] = None

  override def command(): RowLevelOperation.Command = cmd

  /** ROW TRACKING through the copy-on-write rewrite: same gate as
    * compaction's id materialization ([[PjCompaction]] `materializeIds`) —
    * a logged, schema-recorded table's rewrite must not remint surviving
    * rows' ids. When true, `_row_id` rides the metadata projection and the
    * writer materializes it into the hidden [[PjCommitLog.RowIdColName]]
    * column of every replacement file.
    */
  private val materializeRowIds: Boolean =
    layout.logVersion.isDefined && layout.dataSchema.isDefined

  /** The `_file` metadata column is the group id. Requiring it does double
    * duty: Spark's rewrite threads it through the ReplaceData plan — which
    * switches the write task to the data/metadata projection split, so this
    * operation's writer receives clean table-schema rows — and runtime
    * group filtering can narrow the rewrite to exact files via the scan's
    * `_file` runtime filter. On row-tracked tables `_row_id` rides too:
    * Spark's rewrites tag copied/updated rows WRITE_WITH_METADATA, so the
    * writer receives each surviving row's stable id per row (the two-arg
    * `DataWriter.write(metadata, row)`) and preserves it through the
    * rewrite; fresh MERGE inserts arrive without metadata and mint at read.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val file = org.apache.spark.sql.connector.expressions.Expressions.column(
      PjParquetTable.FileMetaName)
    if (materializeRowIds)
      Array(file, org.apache.spark.sql.connector.expressions.Expressions.column(
        PjParquetTable.RowIdMetaName))
    else Array(file)
  }

  override def description(): String =
    s"pjparquet copy-on-write $cmd (${layout.files.size} candidate file(s))"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PjScanBuilder(layout, fileSchema, merged(options),
      rowLevel = true, onBuild = s => configuredScan = Some(s), nameMap = nameMap)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val path = Option(tableOptions.get("path")).getOrElse(
      throw new IllegalArgumentException("pjparquet: 'path' option is required"))
    new PjWriteBuilder(path, layout.partitionSchema.fieldNames.toSeq, info,
      bloomColumns = PjParquetTable.bloomColumnsOf(tableOptions, layout.propertiesJson),
      // with `sort.columns` declared the copy-on-write rewrite re-sorts the
      // replacement files, so DML keeps the layout's ordering claim alive
      sortColumns = PjParquetTable.sortColumnsOf(tableOptions, layout.propertiesJson),
      logRequested = tableOptions.getBoolean("log.enabled", false),
      cdcEnabled = PjTableProperties.effectiveBool(tableOptions, layout.propertiesJson,
        "cdc.enabled", PjTableProperties.ChangeFeedEnabled, default = false),
      initialMode = new PjWriteMode.ReplaceFiles(() =>
        configuredScan match {
          case Some(s) => s.currentFiles.map(_.path)
          case None =>
            // a commit with no configured scan would replace nothing while
            // new files land — that would DUPLICATE surviving rows; refuse
            throw new graft.core.PJException(
              "pjparquet: row-level operation write committed without a configured scan")
        },
        // recorded as the commit's `operation` so the change feed can
        // label delete vs update_pre/postimage rows
        command = cmd.toString.toLowerCase(java.util.Locale.ROOT),
        // read base + partition-level read set: what the commit log needs
        // to rebase this commit over concurrent writers it provably did
        // not race with (disjoint partitions)
        readVersion = layout.logVersion,
        readPartitions = () => configuredScan.flatMap(_.readPartitionTuples)),
      nameMap = nameMap,
      // rewrite-mode augmentation: generated columns recompute in the
      // replacement rows (a SET on a base column keeps dependents fresh)
      layout = Some(layout),
      // ordinal of `_row_id` within the metadata projection — it follows
      // `_file`, matching requiredMetadataAttributes' declaration order
      rowIdMetaOrdinal = if (materializeRowIds) 1 else -1)
  }

  private def merged(scanOptions: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    val m = new util.HashMap[String, String](tableOptions.asCaseSensitiveMap())
    m.putAll(scanOptions.asCaseSensitiveMap())
    new CaseInsensitiveStringMap(m)
  }
}
