package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.schema.MessageType

import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` parquet machinery for the `pjparquet`
  * DSv2 source. Lives in Spark's package namespace purely for access; all
  * logic stays in `graft.sources.pjparquet`.
  *
  * Mirrors the hadoopConf setup Spark's own `ParquetScan.createReaderFactory`
  * performs so [[VectorizedParquetRecordReader]] behaves identically when we
  * hand it a PalletJack-spliced footer instead of a freshly parsed one.
  */
object PjSparkShims {

  /** Parquet [[MessageType]] → Spark [[StructType]] under current session
    * conf. File-based relations always surface nullable fields (a file may be
    * missing or rewritten), matching stock `spark.read.parquet`.
    */
  def toSparkSchema(mt: MessageType): StructType =
    new ParquetToSparkSchemaConverter(SQLConf.get).convert(mt).asNullable

  /** The config keys the parquet read path consults, as stock ParquetScan sets them. */
  def configureReadConf(conf: Configuration, requiredSchema: StructType, sqlConf: SQLConf): Unit = {
    conf.set(
      org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requiredSchema.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, requiredSchema.json)
    ParquetWriteSupport.setSchema(requiredSchema, conf)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sqlConf.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sqlConf.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, sqlConf.parquetInferTimestampNTZEnabled)
  }

  def datetimeRebaseSpec(footer: ParquetMetadata, modeByConfig: String): RebaseSpec =
    DataSourceUtils.datetimeRebaseSpec(
      k => footer.getFileMetaData.getKeyValueMetaData.get(k), modeByConfig)

  def int96RebaseSpec(footer: ParquetMetadata, modeByConfig: String): RebaseSpec =
    DataSourceUtils.int96RebaseSpec(
      k => footer.getFileMetaData.getKeyValueMetaData.get(k), modeByConfig)

  def rebaseModeInReadConf(sqlConf: SQLConf): String =
    sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString

  def int96RebaseModeInReadConf(sqlConf: SQLConf): String =
    sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ).toString

  def specMode(spec: RebaseSpec): String = spec.mode.toString
  def specTz(spec: RebaseSpec): String = spec.timeZone

  /** Spark `sources.Filter`s → a parquet `FilterPredicate` against the
    * file schema, exactly as stock ParquetScanBuilder would build it.
    */
  def buildFilterPredicate(
      fileSchema: MessageType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      sqlConf: SQLConf,
      rebaseSpec: RebaseSpec): Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    val pf = new ParquetFilters(
      fileSchema,
      sqlConf.parquetFilterPushDownDate,
      sqlConf.parquetFilterPushDownTimestamp,
      sqlConf.parquetFilterPushDownDecimal,
      sqlConf.parquetFilterPushDownStringPredicate,
      sqlConf.parquetFilterPushDownInFilterThreshold,
      sqlConf.caseSensitiveAnalysis,
      rebaseSpec)
    filters.flatMap(f => pf.createFilter(f))
      .reduceOption(org.apache.parquet.filter2.predicate.FilterApi.and)
  }

  def parquetFilterPushDownEnabled(sqlConf: SQLConf): Boolean = sqlConf.parquetFilterPushDown

  def setFilterPredicate(
      conf: Configuration,
      predicate: org.apache.parquet.filter2.predicate.FilterPredicate): Unit =
    org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, predicate)

  /** The config keys Spark's parquet WRITE path consults, as stock
    * `ParquetUtils.prepareWrite` sets them — so a [[ParquetOutputWriter]]
    * driven by the pjparquet DSv2 `BatchWrite` produces byte-compatible
    * files (same converters, rebase modes, compression) as
    * `df.write.parquet`. Must be called driver-side: it snapshots session
    * SQLConf values into the Configuration that ships to executors.
    */
  def configureWriteConf(conf: Configuration, dataSchema: StructType, sqlConf: SQLConf): Unit = {
    conf.set(
      org.apache.parquet.hadoop.ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[ParquetWriteSupport].getName)
    ParquetWriteSupport.setSchema(dataSchema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sqlConf.legacyParquetNanosAsLong.toString)
    conf.set(
      SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.set(
      org.apache.parquet.hadoop.ParquetOutputFormat.COMPRESSION,
      new ParquetOptions(Map.empty[String, String], sqlConf).compressionCodecClassName)
  }

  /** A parquet row writer at an exact path (no committer, no work files) —
    * the building block of the pjparquet direct-write commit protocol.
    * Requires [[configureWriteConf]]-prepared configuration.
    */
  def newRowWriter(
      path: String,
      conf: Configuration): org.apache.spark.sql.execution.datasources.OutputWriter = {
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    new ParquetOutputWriter(path, ctx)
  }

  /** A DataFrame over an already-built logical plan (`sessionState.executePlan`
    * + analysis, as `Dataset.ofRows` does) — how engine-internal reads hand
    * Spark a DSv2 relation whose scan they planned themselves.
    */
  def dataFrame(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
