package graft.sources.pjparquet

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, LongType, StringType}

import graft.core.PJException

/** Delta-parity MAINTENANCE SQL statements, injected as a parser
  * extension ([[org.apache.spark.sql.execution.datasources.parquet.PjSparkExtensions]]):
  *
  * {{{
  *   OPTIMIZE '/path/to/table' [WHERE <partition predicate>]
  *     [ZORDER BY (c1, c2, ...)] [FULL]
  *   VACUUM '/path/to/table' [RETAIN <n> HOURS] [DRY RUN]
  *   DESCRIBE HISTORY '/path/to/table'
  *   COPY INTO '/path/to/table' FROM '/src' [FILEFORMAT = PARQUET|JSON|CSV]
  *     [PATTERN = '<glob>']
  *   RESTORE [TABLE] '/path/to/table' TO VERSION AS OF <n>
  *     | TO TIMESTAMP AS OF '<ts>'
  *   DESCRIBE DETAIL '/path/to/table'
  *   GENERATE symlink_format_manifest FOR TABLE '/path/to/table'
  * }}}
  *
  * Pure sugar over the `CALL pj.system.*` procedures (one parse, same
  * driver APIs — [[PjCompaction]], [[PjVacuum]]), so operators can run
  * the table-maintenance vocabulary they already know from Delta without
  * a registered catalog. The table is named by a quoted or backticked
  * ROOT PATH (optionally `catalog.`-prefixed); everything else delegates
  * to Spark's own parser untouched.
  */
object PjSqlCommands {

  /** Cheap pre-screen: only statements that can be ours enter the regex
    * lane; everything else goes straight to the delegate.
    */
  def claims(sqlText: String): Boolean = {
    val t = sqlText.trim
    t.regionMatches(true, 0, "OPTIMIZE ", 0, 9) ||
      t.regionMatches(true, 0, "VACUUM ", 0, 7) ||
      t.regionMatches(true, 0, "COPY INTO ", 0, 10) ||
      t.regionMatches(true, 0, "RESTORE ", 0, 8) ||
      t.regionMatches(true, 0, "GENERATE ", 0, 9) ||
      // DESCRIBE DETAIL with a PATH-shaped operand (same boundary rule as
      // DESCRIBE HISTORY below)
      (t.toUpperCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
        .startsWith("DESCRIBE DETAIL ") && {
        val operand = t.replaceAll("(?is)^\\s*DESCRIBE\\s+DETAIL\\s+", "").trim
        operand.startsWith("'") || operand.startsWith("`") ||
          operand.contains("/") || operand.contains(".`")
      }) ||
      // exactly DESCRIBE HISTORY with a PATH-shaped operand (quoted,
      // backticked, or containing '/') — every other DESCRIBE form is
      // Spark's, including column-describe on a table named `history`
      // (DESCRIBE history c1)
      (t.toUpperCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
        .startsWith("DESCRIBE HISTORY ") && {
        val operand = t.replaceAll("(?is)^\\s*DESCRIBE\\s+HISTORY\\s+", "").trim
        operand.startsWith("'") || operand.startsWith("`") ||
          operand.contains("/") || operand.contains(".`")
      })
  }

  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+(\S+|'[^']*'|`[^`]*`)""" +
      """(?:\s+WHERE\s+(.*?))?""" +
      """(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?""" +
      """(\s+FULL)?\s*;?\s*$""").r

  private val HistoryRe =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+(\S+|'[^']*'|`[^`]*`)\s*;?\s*$""".r

  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+(\S+|'[^']*'|`[^`]*`)""" +
      """(?:\s+RETAIN\s+(\d+)\s+HOURS?)?""" +
      """(\s+DRY\s+RUN)?\s*;?\s*$""").r

  private val CopyIntoRe =
    ("""(?is)^\s*COPY\s+INTO\s+(\S+|'[^']*'|`[^`]*`)""" +
      """\s+FROM\s+(\S+|'[^']*'|`[^`]*`)""" +
      """(?:\s+FILEFORMAT\s*=\s*(\w+))?""" +
      """(?:\s+PATTERN\s*=\s*'([^']*)')?\s*;?\s*$""").r

  private val RestoreVersionRe =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?(\S+|'[^']*'|`[^`]*`)""" +
      """\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""").r

  private val DetailRe =
    """(?is)^\s*DESCRIBE\s+DETAIL\s+(\S+|'[^']*'|`[^`]*`)\s*;?\s*$""".r

  private val GenerateRe =
    ("""(?is)^\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+""" +
      """(\S+|'[^']*'|`[^`]*`)\s*;?\s*$""").r

  private val RestoreTimestampRe =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?(\S+|'[^']*'|`[^`]*`)""" +
      """\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*$""").r

  /** Strip quoting and any `catalog.` prefix down to the root path. */
  private def pathOf(raw: String): String = {
    val t = raw.trim
    val unq =
      if (t.startsWith("'") && t.endsWith("'")) t.substring(1, t.length - 1)
      else if (t.startsWith("`") && t.endsWith("`")) t.substring(1, t.length - 1)
      else {
        // cat.`/path` form: take the backticked tail
        val i = t.indexOf(".`")
        if (i >= 0 && t.endsWith("`")) t.substring(i + 2, t.length - 1) else t
      }
    if (unq.isEmpty)
      throw new PJException(s"pjparquet: empty table path in '$raw'")
    unq
  }

  /** Parse a claimed statement, or None to fall through to the delegate
    * (so `OPTIMIZE`-prefixed things we don't understand still get
    * Spark's error, not a silent misparse).
    */
  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case OptimizeRe(table, where, zorder, full) =>
      Some(PjOptimizeCommand(
        pathOf(table),
        Option(where).map(_.trim).filter(_.nonEmpty),
        Option(zorder).map(_.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty).toSeq).getOrElse(Nil),
        force = full != null))
    case HistoryRe(table) =>
      Some(PjDescribeHistoryCommand(pathOf(table)))
    case CopyIntoRe(table, source, format, pattern) =>
      Some(PjCopyIntoCommand(
        pathOf(table), pathOf(source),
        Option(format).map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("parquet"),
        Option(pattern).filter(_.nonEmpty)))
    case RestoreVersionRe(table, version) =>
      Some(PjRestoreCommand(pathOf(table), Left(version.toLong)))
    case RestoreTimestampRe(table, ts) =>
      Some(PjRestoreCommand(pathOf(table), Right(ts)))
    case DetailRe(table) =>
      Some(PjDescribeDetailCommand(pathOf(table)))
    case GenerateRe(table) =>
      Some(PjGenerateManifestCommand(pathOf(table)))
    case VacuumRe(table, hours, dry) =>
      Some(PjVacuumCommand(
        pathOf(table),
        Option(hours).map(_.toLong),
        dryRun = dry != null))
    case _ => None
  }
}

/** `OPTIMIZE t [WHERE p] [ZORDER BY (...)] [FULL]` — compaction, or a
  * clustering rewrite when ZORDER BY is present (the table's recorded
  * `pj.cluster.curve` picks zorder vs hilbert, like the procedure).
  */
final case class PjOptimizeCommand(
    table: String,
    where: Option[String],
    zorderCols: Seq[String],
    force: Boolean) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_before", LongType, nullable = false)(),
    AttributeReference("files_rewritten", LongType, nullable = false)(),
    AttributeReference("files_written", LongType, nullable = false)(),
    AttributeReference("files_after", LongType, nullable = false)(),
    AttributeReference("dirs_touched", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val r =
      if (zorderCols.nonEmpty) {
        val curve = PjTableProperties.recorded(
          {
            val root = new org.apache.hadoop.fs.Path(table)
            val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
            PjCommitLog.latest(fs, root).flatMap(_.propertiesJson)
          },
          PjTableProperties.ClusterCurve)
          .map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("zorder")
        PjCompaction.optimize(spark, table, zorderCols,
          where = where, curve = curve, force = force)
      } else PjCompaction.compact(spark, table, where = where)
    Seq(Row(r.filesBefore, r.smallFiles, r.compactedInto, r.filesAfter, r.dirsTouched))
  }
}

/** `VACUUM t [RETAIN n HOURS] [DRY RUN]` — time-based version expiry
  * (the table's recorded `pj.vacuum.retentionHours` when RETAIN is
  * omitted, like the procedure) plus the orphan sweep.
  */
final case class PjVacuumCommand(
    table: String,
    retainHours: Option[Long],
    dryRun: Boolean) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("versions_dropped", LongType, nullable = false)(),
    AttributeReference("versions_kept", LongType, nullable = false)(),
    AttributeReference("files_reclaimed", LongType, nullable = false)(),
    AttributeReference("dry_run", BooleanType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val hours = retainHours.orElse {
      val root = new org.apache.hadoop.fs.Path(table)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      PjTableProperties.recorded(
        PjCommitLog.latest(fs, root).flatMap(_.propertiesJson),
        PjTableProperties.VacuumRetentionHours).map(_.toLong)
    }.getOrElse(throw new PJException(
      "pjparquet: VACUUM needs RETAIN <n> HOURS (or the table's recorded " +
        "pj.vacuum.retentionHours property)"))
    val r = PjVacuum.expireOlderThan(
      spark, table, hours * 3600L * 1000L, dryRun = dryRun)
    if (!dryRun) PjVacuum.clean(spark, table)
    Seq(Row(r.versionsDropped, r.versionsKept, r.filesReclaimed, dryRun))
  }
}

/** `COPY INTO t FROM src [FILEFORMAT = PARQUET|JSON|CSV]
  * [PATTERN = '<glob>']` — the idempotent file-ingest verb
  * ([[PjCopyInto]]): each source file's rows land exactly once across
  * re-runs, racing ingesters partition the work via atomic per-file
  * claims. Same report row as `CALL pj.system.copy_into`.
  */
final case class PjCopyIntoCommand(
    table: String,
    source: String,
    format: String,
    pattern: Option[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_ingested", LongType, nullable = false)(),
    AttributeReference("files_skipped", LongType, nullable = false)(),
    AttributeReference("files_pending", LongType, nullable = false)(),
    AttributeReference("rows_ingested", LongType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val r = PjCopyInto.copyInto(spark, table, source, format, pattern = pattern)
    Seq(Row(r.filesIngested, r.filesSkipped, r.filesPending, r.rowsIngested, r.version))
  }
}

/** `RESTORE [TABLE] t TO VERSION AS OF n` / `TO TIMESTAMP AS OF '<ts>'`
  * — one metadata commit turns HEAD into the target snapshot
  * ([[PjRestore]]); history and time travel to intermediate versions
  * stay intact. Same report row as `CALL pj.system.restore`.
  */
final case class PjRestoreCommand(
    table: String,
    target: Either[Long, String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to", LongType, nullable = false)(),
    AttributeReference("committed_version", LongType, nullable = true)(),
    AttributeReference("files_added", LongType, nullable = false)(),
    AttributeReference("files_removed", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val r = target match {
      case Left(v) => PjRestore.restore(spark, table, v)
      case Right(ts) => PjRestore.restoreToTimestamp(
        spark, table, PjParquetTable.parseTimestampMillis(ts, "TIMESTAMP AS OF"))
    }
    Seq(Row(r.restoredTo, r.committed.map(java.lang.Long.valueOf).orNull,
      r.filesAdded, r.filesRemoved))
  }
}

/** `DESCRIBE DETAIL t` — one row of head-snapshot facts, entirely from
  * the commit log (Delta's DESCRIBE DETAIL; same facts as
  * `CALL pj.system.detail`).
  */
final case class PjDescribeDetailCommand(table: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("timestamp", org.apache.spark.sql.types.TimestampType,
      nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("total_bytes", LongType, nullable = false)(),
    AttributeReference("total_rows", LongType, nullable = false)(),
    AttributeReference("live_rows", LongType, nullable = false)(),
    AttributeReference("files_with_deletion_vectors", LongType, nullable = false)(),
    AttributeReference("protocol", StringType, nullable = true)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val s = PjCommitLog.latest(fs, root).getOrElse(
      throw new PJException(
        s"pjparquet: '$table' has no commit log; DESCRIBE DETAIL applies to logged tables"))
    val rows = s.entries.iterator.map(e => math.max(0L, e.rows)).sum
    val live = s.entries.iterator.map(e => math.max(0L, e.liveRows)).sum
    Seq(Row(s.version, new java.sql.Timestamp(s.ts), s.entries.size.toLong,
      s.entries.iterator.map(e => math.max(0L, e.size)).sum,
      rows, live, s.entries.count(_.dv.isDefined).toLong,
      s.protocolJson.orNull))
  }
}

/** `GENERATE symlink_format_manifest FOR TABLE t` — Delta's GENERATE:
  * materialize the head snapshot's exact file list for external symlink
  * readers (same report as `CALL pj.system.generate_symlink_manifest`).
  */
final case class PjGenerateManifestCommand(table: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("data_files", LongType, nullable = false)(),
    AttributeReference("manifests", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val r = PjManifest.generate(spark, table)
    Seq(Row(r.version, r.dataFiles, r.manifests))
  }
}

/** `DESCRIBE HISTORY t` — one row per retained commit, newest first
  * (header-only reads, no snapshot replay).
  */
final case class PjDescribeHistoryCommand(table: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("timestamp", org.apache.spark.sql.types.TimestampType,
      nullable = false)(),
    AttributeReference("action", StringType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = true)(),
    AttributeReference("n_files", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!PjCommitLog.isEnabled(fs, root))
      throw new PJException(
        s"pjparquet: '$table' has no commit log; DESCRIBE HISTORY applies to logged tables")
    PjCommitLog.history(fs, root).sortBy(-_.version).map { h =>
      val op = PjCommitLog.operationAt(fs, root, h.version).orNull
      Row(h.version, new java.sql.Timestamp(h.ts), h.action, op, h.nFiles)
    }
  }
}

/** Delegating parser: claimed maintenance statements parse here,
  * everything else (including claimed-but-malformed text, which returns
  * None) goes to Spark's own parser for its standard error.
  */
final class PjSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    if (PjSqlCommands.claims(sqlText))
      PjSqlCommands.parse(sqlText).getOrElse(delegate.parsePlan(sqlText))
    else delegate.parsePlan(sqlText)

  override def parseExpression(sqlText: String) = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) = delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String) = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) = delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String) = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String) = delegate.parseRoutineParam(sqlText)
}
