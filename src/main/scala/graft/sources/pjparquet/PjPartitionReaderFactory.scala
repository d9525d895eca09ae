package graft.sources.pjparquet

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.parquet.{PjSparkShims, VectorizedParquetRecordReader}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.core.PalletJack

/** Executor-side reader: materializes the shipped pruned footer and drives
  * Spark's own [[VectorizedParquetRecordReader]] with it — the stock
  * whole-stage-codegen-friendly decode path, minus any footer I/O or parse
  * (the Spark analogue of `pr.open(path, metadata=metadata)`,
  * `python/README.md:68-74`).
  */
final case class PjPartitionReaderFactory(
    conf: PjShippedConf,
    requiredSchemaJson: String,
    partSchemaJson: String,
    capacity: Int,
    offHeap: Boolean,
    datetimeRebaseModeConf: String,
    int96RebaseModeConf: String,
    /** Ordinal of the `_pos` metadata column WITHIN the partition/constant
      * schema (−1 = not requested): the reader overwrites its placeholder
      * constant with generated file-absolute positions.
      */
    posPartOrdinal: Int = -1,
    /** Ordinal of the `_row_id` metadata column within the
      * partition/constant schema (−1 = not requested). When requested,
      * `requiredSchema`'s LAST field is the hidden materialized id column
      * ([[PjCommitLog.RowIdColName]]) — lifted into the slot or replaced
      * by baseRowId + position, then dropped from the output.
      */
    rowIdPartOrdinal: Int = -1)
    extends PartitionReaderFactory {

  /** This task's Hadoop conf (the factory is deserialized per task). */
  @transient private lazy val hadoopConf = conf.newConf()

  @transient private lazy val requiredSchema =
    DataType.fromJson(requiredSchemaJson).asInstanceOf[StructType]

  @transient private lazy val partSchema =
    DataType.fromJson(partSchemaJson).asInstanceOf[StructType]

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  /** Batch ordinal of `_pos`: data columns precede the constants. */
  private def posBatchOrdinal: Int =
    if (posPartOrdinal < 0) -1 else requiredSchema.size + posPartOrdinal

  private def rowIdBatchOrdinal: Int =
    if (rowIdPartOrdinal < 0) -1 else requiredSchema.size + rowIdPartOrdinal

  /** Inner ordinal of the hidden materialized id column (last data col). */
  private def hiddenRowIdOrdinal: Int =
    if (rowIdPartOrdinal < 0) -1 else requiredSchema.size - 1

  private def openReader(p: PjInputPartition, returningBatch: Boolean)
      : (VectorizedParquetRecordReader, org.apache.parquet.hadoop.metadata.ParquetMetadata) = {
    val footer = PalletJack.materialize(p.prunedFooter)
    val datetimeSpec = PjSparkShims.datetimeRebaseSpec(footer, datetimeRebaseModeConf)
    val int96Spec = PjSparkShims.int96RebaseSpec(footer, int96RebaseModeConf)
    val reader = new VectorizedParquetRecordReader(
      null,
      PjSparkShims.specMode(datetimeSpec), PjSparkShims.specTz(datetimeSpec),
      PjSparkShims.specMode(int96Spec), PjSparkShims.specTz(int96Spec),
      offHeap, capacity)
    val path = new Path(p.filePath)
    val split = new FileSplit(path, 0, p.fileLen, Array.empty[String])
    val context = new TaskAttemptContextImpl(hadoopConf, new TaskAttemptID())
    var ok = false
    try {
      // All three options must be defined or Spark falls back to a real
      // footer read — the exact parse the index exists to avoid.
      val inputFile = HadoopInputFile.fromPath(path, hadoopConf)
      reader.initialize(
        split, context, Some(inputFile), Some(inputFile.newStream()), Some(footer))
      // Hive partition columns are appended to every batch as constants —
      // typed here from the split's raw path values
      val partRow =
        if (partSchema.isEmpty) InternalRow.empty
        else InternalRow.fromSeq(partSchema.fields.zip(p.partitionValues).map {
          case (_, PjParquetTable.HiveNullPartition) => null
          case (f, raw) => f.dataType match {
            case org.apache.spark.sql.types.LongType => raw.toLong
            // change-feed streams ride `_commit_timestamp` as a typed
            // constant: the raw value is epoch MICROS (InternalRow's
            // timestamp representation)
            case org.apache.spark.sql.types.TimestampType => raw.toLong
            // DATE partition dirs are ISO strings; internal form is epoch days
            case org.apache.spark.sql.types.DateType =>
              java.time.LocalDate.parse(raw).toEpochDay.toInt
            case _ => org.apache.spark.unsafe.types.UTF8String.fromString(raw)
          }
        }.toIndexedSeq)
      reader.initBatch(partSchema, partRow)
      if (returningBatch) reader.enableReturningBatches()
      ok = true
    } finally if (!ok) reader.close()
    (reader, footer)
  }

  /** Deletion vector of the split (decoded, executor-cached), or empty. */
  private def dvOf(p: PjInputPartition): Array[Long] =
    if (p.dvPath.isEmpty) Array.emptyLongArray
    else PjDeletionVector.cached(hadoopConf, p.dvPath)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PjInputPartition]
    val (reader, footer) = openReader(p, returningBatch = false)
    if (p.dvPath.isEmpty && posPartOrdinal < 0 && rowIdPartOrdinal < 0)
      new PartitionReader[InternalRow] {
        override def next(): Boolean = reader.nextKeyValue()
        override def get(): InternalRow = reader.getCurrentValue.asInstanceOf[InternalRow]
        override def close(): Unit = reader.close()
      }
    else {
      val types: Array[DataType] =
        if (rowIdPartOrdinal < 0) Array.empty
        else (requiredSchema.fields ++ partSchema.fields).map(_.dataType)
      new PjPositionAwareRowReader(reader, p.rgStartRows,
        PjPositionAwareReader.rgRowsOf(footer), dvOf(p), posBatchOrdinal,
        rowIdBatchOrdinal, hiddenRowIdOrdinal, p.baseRowId, p.rowIdFromColumn, types)
    }
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[PjInputPartition]
    val (reader, footer) = openReader(p, returningBatch = true)
    if (p.dvPath.isEmpty && posPartOrdinal < 0 && rowIdPartOrdinal < 0)
      new PartitionReader[ColumnarBatch] {
        override def next(): Boolean = reader.nextKeyValue()
        override def get(): ColumnarBatch = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
        override def close(): Unit = reader.close()
      }
    else
      new PjPositionAwareColumnarReader(reader, p.rgStartRows,
        PjPositionAwareReader.rgRowsOf(footer), dvOf(p), posBatchOrdinal,
        rowIdBatchOrdinal, hiddenRowIdOrdinal, p.baseRowId, p.rowIdFromColumn)
  }
}
