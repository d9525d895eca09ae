package graft.sources.pjparquet

import java.util.OptionalLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.aggregate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.parquet.PjSparkShims
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.PJSplice

class PjScanBuilder(
    layout: PjLayout,
    fileSchema: StructType,
    options: CaseInsensitiveStringMap,
    /** Copy-on-write row-level DML scan (see [[PjRowLevelOperation]]):
      * pushed filters select affected FILES (the replacement granularity) —
      * partition values and chunk stats prune whole files, but the scan
      * must return EVERY row of a kept file (survivors get rewritten), so
      * the parquet `FilterPredicate` and limit/aggregate pushdown are
      * disabled. `onBuild` hands the built scan to the operation so its
      * write can replace exactly the scanned (runtime-filtered) files.
      */
    rowLevel: Boolean = false,
    onBuild: PjScan => Unit = _ => (),
    /** Column mapping ([[PjColumnMapping]]): folded logical → physical.
      * Requested columns, pushed filters, and aggregate references are
      * translated ONCE here; everything per-file is already physical.
      */
    nameMap: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  // -------------------------------------- limit at row-group granularity

  /** LIMIT n plans only the leading row groups whose index row counts cover
    * n — a 100k-row-group table answers `LIMIT 10` with one task over one
    * row group instead of a full scan. Always PARTIAL (Spark keeps its
    * limit; the scan may over-deliver up to one row group), and refused
    * whenever a data filter is pushed: filters are re-evaluated above the
    * scan, so a pre-filter row-count truncation could under-deliver (the
    * kept groups might filter down below n while dropped groups matched).
    * Partition-value file pruning composes fine — it happens in build()
    * BEFORE the truncation, on the surviving files only — but any pushed
    * filter also rides to the parquet reader, so the conservative guard is
    * simply `pushed.isEmpty`.
    */
  private var pushedLimit: Option[Int] = None

  /** Any deletion-vector file delivers FEWER rows than its metadata
    * claims, so row-count-based truncation (limit / top-n) could
    * under-deliver — both refuse until compaction materializes the
    * vectors. Aggregate pushdown refuses similarly except COUNT(*),
    * whose exact adjustment the log records.
    */
  private def anyDv: Boolean = layout.files.exists(_.dv.isDefined)

  override def pushLimit(limit: Int): Boolean = {
    if (limit >= 0 && !rowLevel && pushed.isEmpty && explicitRgOption.isEmpty && !anyDv) {
      pushedLimit = Some(limit); true
    } else false
  }

  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY … LIMIT n over a SORTED layout ([[PjSortMarker]]): every file
    * is internally sorted by `sortedBy`, so each file's top-n lives in its
    * leading (ascending) or trailing (descending) n rows — the scan plans
    * only the row groups covering n rows PER FILE instead of the whole
    * table. `SELECT * FROM t ORDER BY k LIMIT 10` over a 100k-row-group
    * sorted table reads one row group per file, and the reported ordering
    * ([[PjScan.outputOrdering]]) makes Spark's own top-n above it cheap.
    * Valid whenever the order's DATA columns form a prefix of the sort (in
    * order, uniform direction, matching null ordering — the writer sorts
    * asc nulls-first, whose reverse is desc nulls-last); partition columns
    * are constant per file, so their position and direction never affect
    * which rows a file contributes. Always PARTIAL (Spark keeps its sort +
    * limit); refused under pushed data filters for the same
    * under-delivery reason as plain LIMIT.
    */
  private var pushedTopN: Option[(Int, Boolean)] = None // (n, ascending)

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    if (limit < 0 || rowLevel || pushed.nonEmpty || explicitRgOption.isDefined ||
        layout.sortedBy.isEmpty || orders.isEmpty || anyDv) return false
    def fold(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val partNames = layout.partitionSchema.fieldNames.map(fold).toSet
    val cols: Seq[(String, SortDirection, NullOrdering)] = orders.toSeq.map { o =>
      o.expression() match {
        case f: NamedReference if f.fieldNames().length == 1 =>
          (fold(f.fieldNames()(0)), o.direction(), o.nullOrdering())
        case _ => return false
      }
    }
    // partition columns are constant per file — drop them; the rest must be
    // a prefix of the layout sort with one direction + the matching nulls
    val dataCols = cols.filterNot(c => partNames.contains(c._1))
    val asc = dataCols.headOption.forall(_._2 == SortDirection.ASCENDING)
    val nullsOk = dataCols.forall { case (_, d, n) =>
      if (asc) d == SortDirection.ASCENDING && n == NullOrdering.NULLS_FIRST
      else d == SortDirection.DESCENDING && n == NullOrdering.NULLS_LAST
    }
    val prefixOk = dataCols.map(_._1) == layout.sortedBy.take(dataCols.size).map(fold)
    if (nullsOk && prefixOk) { pushedTopN = Some((limit, asc)); true } else false
  }

  import org.apache.spark.sql.sources._

  // ----------------------------- aggregates at metadata rate (O3+ family)

  /** Complete pushdown of unfiltered, ungrouped COUNT(*) / COUNT(col) /
    * MIN(col) / MAX(col) — all answered from the PJ_2 index with zero data
    * pages and zero footer parses:
    *  - COUNT(*): the index's `row_numbers` section (the same one the
    *    reference keeps for its num_rows rewrite, `palletjack.cc:42,495-506`);
    *  - COUNT(col): row counts minus per-chunk `null_count` statistics;
    *  - MIN/MAX(col): per-chunk v2 `min_value`/`max_value` statistics,
    *    restricted to plain INT32/INT64 physical columns mapped to Spark
    *    Integer/Long (type-defined signed order; logical re-mappings like
    *    date/decimal/unsigned surface as other Spark types and refuse).
    * Statistics ride inside the index's verbatim footer bytes and are
    * lifted by bounded per-chunk struct walks. ANY missing piece (a chunk
    * without stats, an all-null chunk, an unsupported type) or any pushed
    * filter refuses pushdown and the batch scan answers instead — the
    * fallback is always available, so this can only be exactly right.
    * The whole query plans as a driver-side [[LocalScan]]: zero tasks.
    */
  private var pushedAgg: Option[(StructType, Array[Array[Any]], String)] = None

  override def supportCompletePushDown(agg: aggregate.Aggregation): Boolean =
    evalAggregation(agg).isDefined

  override def pushAggregation(agg: aggregate.Aggregation): Boolean = {
    pushedAgg = evalAggregation(agg)
    pushedAgg.isDefined
  }

  private def aggEnabled: Boolean =
    !rowLevel && Option(options.get("aggregatePushdown"))
      .orElse(Option(options.get("countStarPushdown")))
      .forall(_.toBoolean)

  private def explicitRgOption: Option[Seq[Int]] = Option(options.get("rowGroups"))
    .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq)

  /** Evaluate the whole aggregation from index metadata, or None if any
    * part is unanswerable. Runs at planning time on the driver over the
    * already-cached index bytes.
    */
  private def evalAggregation(
      agg: aggregate.Aggregation): Option[(StructType, Array[Array[Any]], String)] = {
    import org.apache.spark.sql.types._
    if (!aggEnabled || pushed.nonEmpty || agg.aggregateExpressions.isEmpty) return None

    val caseSensitive = SQLConf.get.caseSensitiveAnalysis

    // GROUP BY is answerable from metadata exactly when every grouping
    // expression is a bare partition column: each Hive directory IS a
    // group, so per-group aggregation = the per-file aggregation below,
    // restricted to that directory's files. (SELECT k, count(*) ...
    // GROUP BY k over 10k partitions then costs zero tasks.)
    val groupIdxs: Seq[Int] = agg.groupByExpressions.toSeq.map {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 =>
        val n = nr.fieldNames.head
        layout.partitionSchema.fieldNames.indexWhere(pn =>
          if (caseSensitive) pn == n else pn.equalsIgnoreCase(n))
      case _ => -1
    }
    if (groupIdxs.exists(_ < 0) || groupIdxs.distinct.size != groupIdxs.size) return None

    def resolveField(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[org.apache.spark.sql.types.StructField] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 =>
        val n = PjColumnMapping.toPhysical(nameMap, nr.fieldNames.head)
        fileSchema.fields.find(f =>
          if (caseSensitive) f.name == n
          else f.name.equalsIgnoreCase(n))
      case _ => None
    }

    evalGroups(agg, groupIdxs, resolveField)
  }

  /** Evaluate the (possibly grouped) aggregation: one result row per
    * partition-value group (one total row when ungrouped). None anywhere
    * refuses pushdown.
    */
  private def evalGroups(
      agg: aggregate.Aggregation,
      groupIdxs: Seq[Int],
      resolveField: org.apache.spark.sql.connector.expressions.Expression =>
        Option[org.apache.spark.sql.types.StructField])
      : Option[(StructType, Array[Array[Any]], String)] = {
    import org.apache.spark.sql.types._
    // claimed partition filters restrict the file set EXACTLY (that is
    // what made them claimable), so the metadata answer stays final
    val aggFiles = claimedFiles
    val groups: Seq[(Seq[String], Seq[PjFile])] =
      if (groupIdxs.isEmpty) Seq((Nil, aggFiles))
      else aggFiles.groupBy(f => groupIdxs.map(f.partitionValues(_)))
        .toSeq.sortBy(_._1.mkString("\u0000"))

    val groupFields: Seq[StructField] = groupIdxs.map { i =>
      layout.partitionSchema.fields(i).copy(nullable = true)
    }
    def typedKey(raw: String, f: StructField): Any =
      if (raw == PjParquetTable.HiveNullPartition) null
      else f.dataType match {
        case LongType => raw.toLong
        case _ => org.apache.spark.unsafe.types.UTF8String.fromString(raw)
      }

    var aggSchema: StructType = null
    var failed = false
    val rows = Array.newBuilder[Array[Any]]
    val descs = Array.newBuilder[String]
    val git = groups.iterator
    while (git.hasNext && !failed) {
      val (key, groupFiles) = git.next()
      evalAggForFiles(agg, groupFiles, resolveField) match {
        case None => failed = true
        case Some((schema, values, d)) =>
          aggSchema = schema
          val keyVals = key.zip(groupFields).map { case (raw, f) => typedKey(raw, f) }
          rows += (keyVals ++ values).toArray
          descs += (if (key.isEmpty) d
            else key.mkString("[", "/", "] ") + d)
      }
    }
    if (failed) return None
    if (aggSchema == null) {
      // grouped over an empty layout: zero groups, zero rows — still a
      // complete answer, but we need the agg schema; derive via one probe
      evalAggForFiles(agg, Nil, resolveField) match {
        case None => return None
        case Some((schema, _, _)) => aggSchema = schema
      }
      return Some((StructType(groupFields ++ aggSchema.fields), Array.empty, "empty"))
    }
    Some((
      StructType(groupFields ++ aggSchema.fields),
      rows.result(),
      descs.result().mkString(", ")))
  }

  /** (parquet schema, file carries Spark legacy-rebase metadata) from the
    * index's schema-only splice — key-value metadata and logical types ride
    * the verbatim footer bytes, so this costs a bounded materialization,
    * never a row-group thrift parse. None = unanswerable (refuse pushdown).
    */
  private[pjparquet] final case class FileFooterMeta(
      schema: org.apache.parquet.schema.MessageType,
      legacyRebase: Boolean,
      /** created_by is parquet-cpp-arrow: that writer DROPS oversized
        * binary chunk statistics instead of truncating them, so a present
        * string bound is always a witnessed value. parquet-java truncates
        * silently when `parquet.statistics.truncate.length` is configured
        * (no exactness flags as of 1.16 — verified on its own output), so
        * its string bounds cannot be proven exact from the footer.
        */
      arrowWriter: Boolean)

  private val fileMetaCache = scala.collection.mutable.HashMap
    .empty[String, Option[FileFooterMeta]]
  private def fileMeta(f: PjFile): Option[FileFooterMeta] =
    fileMetaCache.getOrElseUpdate(f.path,
      try {
        val footer = graft.core.PalletJack.materialize(
          PJSplice.splice(PJSplice.Index.fromBytes(f.indexBytes), Nil, Nil, Nil, schemaOnly = true))
        val legacy = PjSparkShims.datetimeRebaseSpec(footer,
          PjSparkShims.rebaseModeInReadConf(SQLConf.get)).mode.toString
          .equalsIgnoreCase("LEGACY")
        val createdBy = Option(footer.getFileMetaData.getCreatedBy).getOrElse("")
        Some(FileFooterMeta(
          footer.getFileMetaData.getSchema, legacy,
          createdBy.startsWith("parquet-cpp-arrow")))
      } catch { case scala.util.control.NonFatal(_) => None })

  /** `stats.trustStringBounds=true`: user vouches their writer does not
    * truncate chunk statistics (e.g. parquet-java at default settings), so
    * string min/max may push down even when exactness is unprovable.
    */
  private def trustStringStats: Boolean =
    Option(options.get("stats.trustStringBounds")).exists(_.toBoolean)

  /** Last top-level primitive named `name` — mirrors the splice's O5
    * last-wins name resolution and foldStats' `lastIndexOf`.
    */
  private def lastPrimitive(
      mt: org.apache.parquet.schema.MessageType,
      name: String): Option[org.apache.parquet.schema.PrimitiveType] = {
    import scala.jdk.CollectionConverters._
    mt.getFields.asScala.filter(_.getName == name).lastOption
      .filter(_.isPrimitive).map(_.asPrimitiveType())
  }

  /** parquet-java physical type -> thrift Type enum code (what ChunkStats
    * carries).
    */
  private def physCode(pt: org.apache.parquet.schema.PrimitiveType): Int = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    pt.getPrimitiveTypeName match {
      case BOOLEAN => 0
      case INT32 => 1
      case INT64 => 2
      case INT96 => 3
      case FLOAT => 4
      case DOUBLE => 5
      case BINARY => 6
      case FIXED_LEN_BYTE_ARRAY => 7
    }
  }

  /** The single-group evaluation: every supported aggregate over the given
    * files, from index row counts + chunk statistics only.
    */
  private def evalAggForFiles(
      agg: aggregate.Aggregation,
      aggFiles: Seq[PjFile],
      resolveField: org.apache.spark.sql.connector.expressions.Expression =>
        Option[org.apache.spark.sql.types.StructField])
      : Option[(StructType, Array[Any], String)] = {
    import org.apache.spark.sql.types._

    // per file: (file, index, selected row groups); bounds failures fall
    // through to the batch scan, whose splice raises the reference's error
    // message
    val perFileOpt: Option[Seq[(PjFile, PJSplice.Index, Seq[Int])]] =
      try {
        val built = aggFiles.map { f =>
          val idx = PJSplice.Index.fromBytes(f.indexBytes)
          (f, idx, explicitRgOption.getOrElse(0 until idx.header.rowGroups: Seq[Int]))
        }
        if (built.exists { case (_, idx, sel) =>
          sel.exists(rg => rg < 0 || rg >= idx.header.rowGroups)
        }) None
        else Some(built)
      } catch { case scala.util.control.NonFatal(_) => None }
    if (perFileOpt.isEmpty) return None
    val perFile = perFileOpt.get

    lazy val totalRows: Long =
      perFile.iterator.map { case (_, idx, sel) => sel.iterator.map(idx.rowNumber(_)).sum }.sum

    // deletion vectors: physical metadata over-counts deleted rows.
    // COUNT(*) adjusts by the log-recorded exact cardinality (full-file
    // selections only); everything stats-derived (count(col) null counts,
    // min/max — the extreme row may be deleted) refuses and the batch
    // scan answers, which applies the vectors.
    val fileHasDv = aggFiles.exists(_.dv.isDefined)
    val dvDeletedRows: Long = aggFiles.iterator.map(_.dv.map(_._2).getOrElse(0L)).sum

    /** Fold `read` over every selected chunk of `fieldName`, with an
      * optional per-FILE guard (logical-type / rebase checks that chunk
      * stats alone cannot decide). Some(None) = vacuously answerable (zero
      * chunks, e.g. an empty table); None = some file or chunk could not
      * answer -> refuse pushdown.
      */
    def foldStats[A](fieldName: String, fileOk: PjFile => Boolean = _ => true)(
        read: (PjFile, PJSplice.ChunkStats) => Option[A])(
        combine: (A, A) => A): Option[Option[A]] = {
      var acc: Option[A] = None
      var failed = false
      val fit = perFile.iterator
      while (fit.hasNext && !failed) {
        val (file, idx, sel) = fit.next()
        val ord = idx.columnNames.lastIndexOf(fieldName) // last-wins, like splice O5
        if (ord < 0 || !fileOk(file)) failed = true
        else {
          val sit = sel.iterator
          while (sit.hasNext && !failed) {
            read(file, idx.chunkStats(sit.next(), ord)) match {
              case None => failed = true
              case Some(v) => acc = Some(acc.fold(v)(combine(_, v)))
            }
          }
        }
      }
      if (failed) None else Some(acc)
    }

    def leInt(b: Array[Byte]): Option[Int] =
      if (b != null && b.length == 4)
        Some(java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt)
      else None
    def leLong(b: Array[Byte]): Option[Long] =
      if (b != null && b.length == 8)
        Some(java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong)
      else None
    def leFloat(b: Array[Byte]): Option[Float] =
      if (b != null && b.length == 4)
        Some(java.lang.Float.intBitsToFloat(
          java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt))
      else None
    def leDouble(b: Array[Byte]): Option[Double] =
      if (b != null && b.length == 8)
        Some(java.lang.Double.longBitsToDouble(
          java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong))
      else None

    val fields = Array.newBuilder[StructField]
    val values = Array.newBuilder[Any]
    val descs = Array.newBuilder[String]

    /** MIN/MAX from v2 chunk statistics, typed: int/long/date/timestamp-
      * micros/float/double/string/short-decimal. Every admission is gated
      * twice — per CHUNK on the physical type the stats bytes encode, and
      * per FILE on the logical-type annotation + rebase metadata (from the
      * schema-only splice, still no footer THRIFT parse of row groups) —
      * because a pushed value the scan would not have produced is a wrong
      * answer, not a slow one. Refusals (→ batch scan):
      *  - float/double NaN or ±0.0 bounds (the parquet writer convention
      *    writes min=-0.0/max=+0.0 whenever any zero appears, so a zero
      *    bound is not a witnessed value — the driver data really hits
      *    this: l_discount min is -0.0);
      *  - string bounds marked inexact (`is_*_value_exact=false` =
      *    truncated bound, not a real value; absent flags mean untruncated
      *    for parquet-java and arrow, which drop the stat instead);
      *  - date/timestamp columns in files carrying Spark legacy-rebase
      *    metadata (raw days/micros differ from the rebased values the
      *    scan yields);
      *  - timestamp units other than MICROS (the only unit whose raw
      *    stats equal Spark's internal representation);
      *  - unsigned/oversized int annotations, INT96, non-UTF8 binary.
      */
    def minMax(e: aggregate.AggregateFunc, col: org.apache.spark.sql.connector.expressions.Expression,
        isMin: Boolean): Boolean = {
      import org.apache.parquet.schema.LogicalTypeAnnotation
      import org.apache.parquet.schema.LogicalTypeAnnotation._
      val fOpt = resolveField(col)
      if (fOpt.isEmpty) return false
      val f = fOpt.get
      def pick(st: PJSplice.ChunkStats): Array[Byte] = if (isMin) st.min else st.max

      /** (expected physical codes, file-level annotation+rebase guard,
        * chunk decode, strict less-than on decoded values)
        */
      case class K(
          phys: Set[Int],
          annOk: (org.apache.parquet.schema.PrimitiveType, Boolean) => Boolean,
          decode: (PjFile, PJSplice.ChunkStats) => Option[Any],
          lt: (Any, Any) => Boolean)

      def tsMicros(ann: LogicalTypeAnnotation): Boolean = ann match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
        case _ => false
      }

      val spec: Option[K] = f.dataType match {
        case IntegerType => Some(K(Set(1),
          (pt, _) => pt.getLogicalTypeAnnotation match {
            case null => true
            case i: IntLogicalTypeAnnotation =>
              (i.isSigned && i.getBitWidth <= 32) || (!i.isSigned && i.getBitWidth <= 16)
            case _ => false
          },
          (_, st) => leInt(pick(st)),
          (a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int]))
        case LongType => Some(K(Set(2),
          (pt, _) => pt.getLogicalTypeAnnotation match {
            case null => true
            case i: IntLogicalTypeAnnotation => i.isSigned && i.getBitWidth == 64
            case _ => false
          },
          (_, st) => leLong(pick(st)),
          (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]))
        case DateType => Some(K(Set(1),
          (pt, legacyRebase) => !legacyRebase &&
            pt.getLogicalTypeAnnotation.isInstanceOf[DateLogicalTypeAnnotation],
          (_, st) => leInt(pick(st)),
          (a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int]))
        case TimestampType | TimestampNTZType => Some(K(Set(2),
          (pt, legacyRebase) => !legacyRebase && tsMicros(pt.getLogicalTypeAnnotation),
          (_, st) => leLong(pick(st)),
          (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]))
        case FloatType => Some(K(Set(4),
          (pt, _) => pt.getLogicalTypeAnnotation == null,
          (_, st) => leFloat(pick(st)).filter(v => !v.isNaN && v != 0.0f),
          (a, b) => a.asInstanceOf[Float] < b.asInstanceOf[Float]))
        case DoubleType => Some(K(Set(5),
          (pt, _) => pt.getLogicalTypeAnnotation == null,
          (_, st) => leDouble(pick(st)).filter(v => !v.isNaN && v != 0.0d),
          (a, b) => a.asInstanceOf[Double] < b.asInstanceOf[Double]))
        case StringType => Some(K(Set(6),
          (pt, _) => pt.getLogicalTypeAnnotation match {
            case _: StringLogicalTypeAnnotation | _: EnumLogicalTypeAnnotation => true
            case _ => false
          },
          (file, st) => {
            val b = pick(st)
            // A string bound must be a WITNESSED value, not a truncated
            // prefix: exactness flag when present; otherwise only writers
            // that provably never truncate chunk stats (arrow drops them
            // instead) or an explicit user vouch. parquet's UTF8 order and
            // Spark's UTF8String order are both unsigned byte-lexicographic.
            val exact = (if (isMin) st.minExact else st.maxExact) match {
              case 1 => true
              case 0 => false
              case _ => trustStringStats || fileMeta(file).exists(_.arrowWriter)
            }
            if (b == null || !exact) None
            else Some(org.apache.spark.unsafe.types.UTF8String.fromBytes(b))
          },
          (a, b) => a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
            .compareTo(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]) < 0))
        case d: DecimalType if d.precision <= 18 => Some(K(Set(1, 2),
          (pt, _) => pt.getLogicalTypeAnnotation match {
            case dec: DecimalLogicalTypeAnnotation =>
              dec.getPrecision == d.precision && dec.getScale == d.scale
            case _ => false
          },
          (_, st) => (st.physType match {
            case 1 => leInt(pick(st)).map(_.toLong)
            case _ => leLong(pick(st))
          }).map(unscaled => org.apache.spark.sql.types.Decimal(unscaled, d.precision, d.scale)),
          (a, b) => a.asInstanceOf[org.apache.spark.sql.types.Decimal]
            .compare(b.asInstanceOf[org.apache.spark.sql.types.Decimal]) < 0))
        case _ => None
      }
      if (spec.isEmpty) return false
      val k = spec.get

      val folded: Option[Option[Any]] =
        foldStats[Any](f.name, file => fileMeta(file).exists { m =>
          lastPrimitive(m.schema, f.name).exists(pt =>
            k.phys.contains(physCode(pt)) && k.annOk(pt, m.legacyRebase))
        }) { (file, st) =>
          if (!k.phys.contains(st.physType)) None else k.decode(file, st)
        }((a, b) => if (k.lt(a, b) == isMin) a else b)
      folded match {
        case None => false
        case Some(v) =>
          val tag = if (isMin) "min" else "max"
          fields += StructField(s"$tag(${f.name})", f.dataType, nullable = true)
          values += v.orNull
          descs += s"$tag(${f.name})=${v.getOrElse("null")}"
          true
      }
    }

    val ok = agg.aggregateExpressions.forall {
      case _: aggregate.CountStar =>
        if (fileHasDv && explicitRgOption.isDefined) false // per-rg deleted counts unknown
        else {
          val v = totalRows - dvDeletedRows
          fields += StructField("count(*)", LongType, nullable = false)
          values += v
          descs += s"count(*)=$v"
          true
        }
      case c: aggregate.Count if !c.isDistinct =>
        if (fileHasDv) false // null counts predate the deletions
        else resolveField(c.column) match {
          case None => false
          case Some(f) =>
            foldStats[Long](f.name)((_, st) =>
              if (st.nullCount >= 0) Some(st.nullCount) else None)(_ + _) match {
              case None => false
              case Some(nulls) =>
                val v = totalRows - nulls.getOrElse(0L)
                fields += StructField(s"count(${f.name})", LongType, nullable = false)
                values += v
                descs += s"count(${f.name})=$v"
                true
            }
        }
      case m: aggregate.Min => if (fileHasDv) false else minMax(m, m.column, isMin = true)
      case m: aggregate.Max => if (fileHasDv) false else minMax(m, m.column, isMin = false)
      case _ => false
    }
    if (!ok) None
    else Some((StructType(fields.result()), values.result(), descs.result().mkString(", ")))
  }

  private val fullSchema = StructType(fileSchema.fields ++ layout.partitionSchema.fields)
  private var requiredSchema: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var claimed: Array[Filter] = Array.empty

  /** Files surviving the CLAIMED (partition-exact, fully-pushed) filters:
    * every kept file matches on all of its rows — the partition value is
    * constant per file and the three-valued evaluator returned a definite
    * verdict for every file.
    */
  private def claimedFiles: Seq[PjFile] =
    if (claimed.isEmpty) layout.files
    else layout.files.filter(f => claimed.forall(cf =>
      PjPartitionFilter.exactMatch(layout.partitionSchema, f, cf).contains(true)))

  /** Catalyst `ColumnPruning` lands here; the selected names drive the O4/O5
    * metadata splice at partition-planning time.
    */
  override def pruneColumns(required: StructType): Unit = {
    // Keep only top-level fields that exist in the file schema, in the
    // requested order (reference restriction: flat leaf columns,
    // `palletjack.cc:483-487`).
    requiredSchema = required
  }

  /** Filters ride to the executor as a parquet `FilterPredicate`, where the
    * shipped pruned footer's min/max stats skip whole row groups (and column
    * indexes skip pages) — zero extra driver cost, no footer parse. Filters
    * on Hive partition columns additionally prune whole FILES at planning
    * time. All filters are also returned as residual so Spark re-evaluates
    * them.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Partition-EXACT filters are CLAIMED — fully pushed, not returned as
    // residual: the three-valued evaluator decides them per file with no
    // unknowns, a kept file matches on every row (its partition value is
    // constant), and non-matching files drop in build(). Removing them
    // from the residual set is what unlocks aggregate + limit pushdown
    // UNDER a partition predicate (`count(*) WHERE day = X` stays a
    // zero-task metadata answer — Spark only offers those pushdowns when
    // no post-scan filter remains). Everything else stays residual and is
    // re-checked above the scan. Row-level DML scans claim nothing: their
    // runtime group filtering replaces whole files.
    if (rowLevel || layout.partitionSchema.isEmpty || layout.files.isEmpty) {
      pushed = filters
      return filters
    }
    val (c, r) = filters.partition { f =>
      layout.files.forall(file =>
        PjPartitionFilter.exactMatch(layout.partitionSchema, file, f).isDefined)
    }
    claimed = c
    pushed = r
    r
  }

  override def pushedFilters(): Array[Filter] = claimed ++ pushed

  // ------------------------------------------ partition pruning (planning)

  private def mightMatch(f: PjFile, filter: Filter): Boolean =
    PjPartitionFilter.mightMatch(layout.partitionSchema, f, filter)

  override def build(): Scan = {
    val explicitRgs: Option[Seq[Int]] = Option(options.get("rowGroups"))
      .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq)
    if (explicitRgs.isDefined && layout.files.size > 1)
      throw new IllegalArgumentException(
        s"pjparquet: option 'rowGroups' requires a single input file, got ${layout.files.size}")
    pushedAgg.foreach { case (schema, rows, desc) =>
      // pushed.isEmpty is part of evalAggregation, so no file was pruned
      // away and no residual filter exists: the metadata answer is final.
      return new PjAggScan(schema, rows, s"$desc from ${layout.files.size} index(es)")
    }
    // Planning-time file pruning: partition values decide whole files
    // exactly; chunk statistics from the index prune files whose row-group
    // [min,max]/null-count envelopes cannot satisfy a pushed data filter
    // (zero tasks for provably-empty files; for row-level DML this bounds
    // the copy-on-write set); optional bloom sidecars (PjBloom) prune
    // files that provably lack an equality key the stats envelopes admit.
    // All three are conservative — kept files still re-evaluate every
    // filter above the scan.
    val caseSensitiveNow = SQLConf.get.caseSensitiveAnalysis
    val partNameSet = layout.partitionSchema.fieldNames.toSet
    // physical-name filters for every per-file structure (entry stats,
    // index chunk stats, blooms) — partition pruning keeps the logical
    // originals (partition columns are never mapped)
    val physPushed: Seq[(Filter, Filter)] =
      pushed.toSeq.map(p => p -> PjColumnMapping.toPhysicalFilter(nameMap, p))
    val bloomEligible = pushed.exists(PjBloom.usableLeaf)
    lazy val bloomConf = SparkSession.active.sessionState.newHadoopConf()
    // partition filters DERIVED from pushed data filters through
    // generation expressions (`g GENERATED AS date(ts)` + a `ts`
    // predicate prunes the `g` directories) — conservative implications
    // evaluated by the same three-valued partition matcher; the source
    // data filters stay residual, so kept files still re-check every row
    val derivedPart: Seq[Filter] =
      if (layout.partitionSchema.isEmpty) Nil
      else
        try PjGeneratedPruning.derive(layout, pushed.toSeq)
        catch { case scala.util.control.NonFatal(_) => Nil }
    val genPrunedFiles =
      if (derivedPart.isEmpty) claimedFiles
      else claimedFiles.filter(f => derivedPart.forall(dp => mightMatch(f, dp)))
    // claimed (fully-pushed partition-exact) filters FIRST: files that do
    // not definitely match are dropped, never re-filtered row-side
    val survivingFiles = genPrunedFiles.filter { f =>
      if (physPushed.exists { case (p, pp) =>
          !(layout.partitionSchema.isEmpty || mightMatch(f, p)) ||
            f.entry.exists(e => !PjStatsFilter.mightMatchEntry(
              e, fileSchema, partNameSet, caseSensitiveNow, pp)) })
        // pruned by partition values or by the commit-log entry's stats
        // envelope — the file's index is NEVER loaded (the logged-table
        // zero-I/O prune; the envelope bounds every row group, so this
        // can only drop files the per-rg pass below would drop too)
        false
      else {
        lazy val idx = PJSplice.Index.fromBytes(f.indexBytes)
        lazy val blooms: Option[PjBloom.FileBlooms] =
          if (bloomEligible) PjBloom.load(bloomConf, f, idx.footerFnv64) else None
        physPushed.forall { case (_, pp) =>
          PjStatsFilter.mightMatch(idx, fileSchema, partNameSet, caseSensitiveNow, pp) &&
            blooms.forall(b =>
              PjBloom.mightMatch(b, fileSchema, partNameSet, caseSensitiveNow, pp))
        }
      }
    }
    // split the pruned schema into file-physical vs partition columns; the
    // scan emits data columns first, partition columns last (Spark reorders
    // above the scan as needed). Partition membership honors
    // `spark.sql.caseSensitive`; requested-case names are PRESERVED here
    // (Spark matches the scan's readSchema back to the relation's output by
    // exact name) — the scan folds to file case internally for the splice
    // and the parquet reader.
    val caseSensitive = SQLConf.get.caseSensitiveAnalysis
    def fold(n: String): String = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val partNames = layout.partitionSchema.fieldNames.map(fold).toSet
    def isPart(f: org.apache.spark.sql.types.StructField): Boolean =
      partNames.contains(fold(f.name))
    // `_file` metadata column: constant per split (the split's own file
    // path), so it rides the same constant-column machinery as partition
    // values. A REAL data/partition column named `_file` shadows it (Spark
    // then never asks for the metadata column).
    def isFileMeta(f: org.apache.spark.sql.types.StructField): Boolean =
      fold(f.name) == PjParquetTable.FileMetaName && !isPart(f) &&
        !fileSchema.fieldNames.exists(n => fold(n) == fold(f.name))
    // `_pos` metadata column: per-ROW (the row's file-absolute position),
    // not constant — it rides partRequired for ordering, with a placeholder
    // constant the reader overwrites with generated positions.
    def isPosMeta(f: org.apache.spark.sql.types.StructField): Boolean =
      fold(f.name) == PjParquetTable.PosMetaName && !isPart(f) &&
        !fileSchema.fieldNames.exists(n => fold(n) == fold(f.name))
    // `_row_id` metadata column: per-ROW like `_pos` (placeholder in the
    // constants lane, filled by the position-aware reader from
    // baseRowId + pos or the hidden materialized column)
    def isRowIdMeta(f: org.apache.spark.sql.types.StructField): Boolean =
      fold(f.name) == PjParquetTable.RowIdMetaName && !isPart(f) &&
        !fileSchema.fieldNames.exists(n => fold(n) == fold(f.name))
    val dataRequired = StructType(requiredSchema.fields.filterNot(f =>
      isPart(f) || isFileMeta(f) || isPosMeta(f) || isRowIdMeta(f)))
    val partRequired = StructType(requiredSchema.fields.filter(f =>
      isPart(f) || isFileMeta(f) || isPosMeta(f) || isRowIdMeta(f)))
    val scan = new PjScan(
      survivingFiles, fileSchema, dataRequired,
      layout.partitionSchema, partRequired, explicitRgs,
      physPushed.map(_._2),
      streamInfo = Option(options.get("path")).map(p =>
        PjStreamInfo(p, options.getBoolean("index.autogen", true),
          options.getBoolean("mergeSchema", false),
          Option(options.get("maxFilesPerTrigger")).map(_.toInt),
          skipChangeCommits = options.getBoolean("skipChangeCommits", false),
          maxBytesPerTrigger = Option(options.get("maxBytesPerTrigger")).map(_.toLong))),
      limitRows = pushedLimit,
      rowLevel = rowLevel,
      totalFiles = layout.files.size,
      claimedFilters = claimed.toSeq,
      sortedBy = layout.sortedBy,
      topNRows = pushedTopN,
      nameMap = nameMap,
      tableStatsJson = layout.tableStatsJson,
      bucketSpec = layout.propertiesJson
        .flatMap(p => PjTableProperties.recorded(Some(p), PjTableProperties.PartitionBucket))
        .flatMap(PjTableProperties.parseBucketSpec),
      fieldIds = PjColumnMapping.fieldIdsByPhysical(layout.dataSchema))
    if (rowLevel && layout.uniformPartitions) {
      // the DML conflict check needs the PARTITION-level read set: every
      // partition tuple the predicate admits over the base snapshot —
      // BEFORE stats/bloom pruning, which only removes individual files
      // that provably hold no matching rows (a concurrent writer could
      // still add matching rows to those partitions). A layout mid
      // partition-spec evolution (mixed generations) declares NO read set
      // — its null-filled tuples would not compare against a winner's
      // path-decoded ones, so remove-bearing commits conflict loudly
      // instead of rebasing until compaction unifies the layout.
      scan.readPartitionTuples = Some(
        claimedFiles.filter(f => pushed.forall(p =>
          layout.partitionSchema.isEmpty || mightMatch(f, p)))
          .map(_.partitionValues).toSet)
    }
    onBuild(scan)
    scan
  }
}

/** Conservative partition-value predicate evaluation shared by planning-time
  * file pruning (PjScanBuilder.build) and runtime join-driven pruning
  * (PjScan's `SupportsRuntimeFiltering`). true = the file MIGHT match (keep
  * it); only provably-excluded files drop, and every filter is re-evaluated
  * above the scan, so results stay exact regardless of coverage here.
  */
private[pjparquet] object PjPartitionFilter {
  import org.apache.spark.sql.sources._

  private def partValue(
      partitionSchema: StructType, f: PjFile, col: String): Option[Any] = {
    val i = partitionSchema.fieldNames.indexWhere(
      _.equalsIgnoreCase(col))
    if (i < 0) None
    else Some {
      val raw = f.partitionValues(i)
      if (raw == PjParquetTable.HiveNullPartition) null
      else partitionSchema.fields(i).dataType match {
        case org.apache.spark.sql.types.LongType => raw.toLong
        // DATE partition value: ISO dir string → epoch days (Long), so a
        // filter value of any date flavor compares numerically below
        case org.apache.spark.sql.types.DateType =>
          try java.lang.Long.valueOf(java.time.LocalDate.parse(raw).toEpochDay)
          catch { case _: java.time.format.DateTimeParseException => raw }
        case _ => raw
      }
    }
  }

  private def cmp(x: Any, v: Any): Option[Int] = (x, v) match {
    case (a: Long, b: java.sql.Date) =>
      Some(java.lang.Long.compare(a, b.toLocalDate.toEpochDay))
    case (a: Long, b: java.time.LocalDate) =>
      Some(java.lang.Long.compare(a, b.toEpochDay))
    case (a: Long, b: Number) => Some(java.lang.Long.compare(a, b.longValue()))
    case (a: String, b: String) => Some(a.compareTo(b))
    case (a: Long, b: org.apache.spark.unsafe.types.UTF8String) =>
      scala.util.Try(java.lang.Long.compare(a, b.toString.toLong)).toOption
    case (a: String, b: org.apache.spark.unsafe.types.UTF8String) =>
      Some(a.compareTo(b.toString))
    case _ => None
  }

  /** SQL three-valued truth for the exact evaluator: a comparison against a
    * NULL partition value is `Null`, not false — the distinction matters
    * under `Not` (NOT(NULL = v) is NULL, so the row must NOT delete).
    */
  private sealed trait Tv
  private case object TvTrue extends Tv
  private case object TvFalse extends Tv
  private case object TvNull extends Tv
  private def tv(b: Boolean): Tv = if (b) TvTrue else TvFalse

  /** EXACT evaluation for DELETE: `Some(result)` only when the predicate's
    * SQL truth value over EVERY row of the file is decided by its partition
    * values alone (each file holds exactly one partition-value tuple);
    * `None` = undecidable — a data-column reference or an operator/type
    * combination outside the supported set. DELETE may only drop a file
    * when the result is `Some(TvTrue)` and may only claim `canDeleteWhere`
    * when no file is `None`, so file-level deletion is always row-exact.
    */
  private def eval3(partitionSchema: StructType, f: PjFile, filter: Filter): Option[Tv] = {
    def pv(c: String) = partValue(partitionSchema, f, c)
    def rel(c: String, v: Any, p: Int => Boolean): Option[Tv] = pv(c) match {
      case None => None
      case Some(null) => Some(TvNull)
      case Some(x) => if (v == null) Some(TvNull) else cmp(x, v).map(i => tv(p(i)))
    }
    filter match {
      case AlwaysTrue() => Some(TvTrue)
      case AlwaysFalse() => Some(TvFalse)
      case EqualTo(c, v) => rel(c, v, _ == 0)
      case EqualNullSafe(c, v) => pv(c) match {
        case None => None
        case Some(null) => Some(tv(v == null))
        case Some(x) => if (v == null) Some(TvFalse) else cmp(x, v).map(i => tv(i == 0))
      }
      case In(c, vs) => pv(c) match {
        case None => None
        case Some(null) => Some(TvNull)
        case Some(x) =>
          val cs = vs.toSeq.map(v => if (v == null) None else cmp(x, v))
          if (cs.exists(_.contains(0))) Some(TvTrue)
          else if (cs.forall(_.isDefined)) Some(TvFalse)
          else None // an incomparable (or NULL) member and no definite hit
      }
      case GreaterThan(c, v) => rel(c, v, _ > 0)
      case GreaterThanOrEqual(c, v) => rel(c, v, _ >= 0)
      case LessThan(c, v) => rel(c, v, _ < 0)
      case LessThanOrEqual(c, v) => rel(c, v, _ <= 0)
      case IsNull(c) => pv(c).map(x => tv(x == null))
      case IsNotNull(c) => pv(c).map(x => tv(x != null))
      case And(l, r) =>
        (eval3(partitionSchema, f, l), eval3(partitionSchema, f, r)) match {
          case (Some(TvFalse), _) | (_, Some(TvFalse)) => Some(TvFalse)
          case (Some(TvTrue), Some(TvTrue)) => Some(TvTrue)
          case (Some(_), Some(_)) => Some(TvNull) // True/Null or Null/Null
          case _ => None
        }
      case Or(l, r) =>
        (eval3(partitionSchema, f, l), eval3(partitionSchema, f, r)) match {
          case (Some(TvTrue), _) | (_, Some(TvTrue)) => Some(TvTrue)
          case (Some(TvFalse), Some(TvFalse)) => Some(TvFalse)
          case (Some(_), Some(_)) => Some(TvNull)
          case _ => None
        }
      case Not(inner) => eval3(partitionSchema, f, inner).map {
        case TvTrue => TvFalse
        case TvFalse => TvTrue
        case TvNull => TvNull
      }
      case _ => None
    }
  }

  /** `Some(true)` = the file's rows ALL satisfy the predicate (safe to
    * delete the whole file); `Some(false)` = none do (keep, untouched);
    * `None` = undecidable from partition values (refuse `canDeleteWhere`).
    */
  def exactMatch(partitionSchema: StructType, f: PjFile, filter: Filter): Option[Boolean] =
    eval3(partitionSchema, f, filter).map(_ == TvTrue)

  def mightMatch(partitionSchema: StructType, f: PjFile, filter: Filter): Boolean = {
    def pv(c: String) = partValue(partitionSchema, f, c)
    filter match {
      case EqualTo(c, v) => pv(c).forall(x => x != null && cmp(x, v).forall(_ == 0))
      case EqualNullSafe(c, v) =>
        pv(c).forall(x =>
          if (v == null) x == null else x != null && cmp(x, v).forall(_ == 0))
      case In(c, vs) => pv(c).forall(x => x != null && vs.exists(v => cmp(x, v).forall(_ == 0)))
      case GreaterThan(c, v) => pv(c).forall(x => x != null && cmp(x, v).forall(_ > 0))
      case GreaterThanOrEqual(c, v) => pv(c).forall(x => x != null && cmp(x, v).forall(_ >= 0))
      case LessThan(c, v) => pv(c).forall(x => x != null && cmp(x, v).forall(_ < 0))
      case LessThanOrEqual(c, v) => pv(c).forall(x => x != null && cmp(x, v).forall(_ <= 0))
      case IsNull(c) => pv(c).forall(_ == null)
      case IsNotNull(c) => pv(c).forall(_ != null)
      case And(l, r) => mightMatch(partitionSchema, f, l) && mightMatch(partitionSchema, f, r)
      case Or(l, r) => mightMatch(partitionSchema, f, l) || mightMatch(partitionSchema, f, r)
      case Not(EqualTo(c, v)) => pv(c).forall(x => x == null || cmp(x, v).forall(_ != 0))
      case _ => true
    }
  }
}

/** Complete aggregate pushdown result: a driver-local one-row scan (Spark
  * plans it as `LocalTableScanExec` — no tasks, no file I/O). Every value
  * came from the PJ_2 index (row counts + chunk statistics) alone.
  */
class PjAggScan(schema: StructType, rowValues: Array[Array[Any]], desc: String)
    extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    rowValues.map(vs => org.apache.spark.sql.catalyst.InternalRow(vs.toIndexedSeq: _*))
  override def description(): String = s"pjparquet metadata-only aggregate: $desc"
}

/** Row-group-aligned batch scan planned purely from PJ_2 indexes.
  *
  * Scale design: the pruned footer for each partition is built once on the
  * driver (O(selected rgs × selected cols) bytes) and shipped inside the
  * [[InputPartition]] — executors open the data file directly at absolute
  * chunk offsets and never touch footers. Consecutive row groups are
  * bin-packed into partitions targeting `spark.sql.files.maxPartitionBytes`
  * so 100k-row-group files do not explode into 100k tasks.
  */
class PjScan(
    files: Seq[PjFile],
    fileSchema: StructType,
    dataRequired: StructType,
    partitionSchema: StructType,
    partRequired: StructType,
    explicitRowGroups: Option[Seq[Int]],
    pushedFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    streamInfo: Option[PjStreamInfo] = None,
    limitRows: Option[Int] = None,
    /** Row-level DML scan: every row of every kept file must come back
      * (the write rewrites whole files), so the reader-side
      * `FilterPredicate` row/row-group skipping is suppressed.
      */
    rowLevel: Boolean = false,
    /** Layout size BEFORE planning-time pruning, for the pruning metrics;
      * -1 = unknown (callers that pre-prune themselves).
      */
    totalFiles: Int = -1,
    /** Partition-exact filters CLAIMED as fully pushed by the builder (not
      * in Spark's residual set). `files` already honors them; the
      * streaming path re-applies them to files discovered per batch.
      */
    claimedFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    /** Columns every data file is internally sorted by (commit-maintained
      * [[PjSortMarker]]); empty = no ordering claim.
      */
    sortedBy: Seq[String] = Nil,
    /** ORDER BY+LIMIT pushed over the sorted layout: (n, ascending) —
      * each file keeps only the leading (asc) / trailing (desc) row
      * groups covering n rows (see [[PjScanBuilder.pushTopN]]).
      */
    topNRows: Option[(Int, Boolean)] = None,
    /** Column mapping: folded logical → physical (see [[PjScanBuilder]]);
      * `pushedFilters` and `fileSchema` here are already PHYSICAL.
      */
    nameMap: Map[String, String] = Map.empty,
    /** Recorded ANALYZE statistics (JSON, [[PjAnalyze]]) — served to the
      * CBO via `estimateStatistics().columnStats()`.
      */
    tableStatsJson: Option[String] = None,
    /** Declared `bucket(n, col)` partition transform
      * (`pj.partition.bucket`, [[PjBucketFunction]]): the synthesized
      * `<col>_bucket` partition column reports as the bucket transform in
      * [[outputPartitioning]] so SPJ groups on it.
      */
    bucketSpec: Option[(String, Int)] = None,
    /** id column-mapping mode ([[PjColumnMapping.IdMetaKey]]): folded
      * PHYSICAL column name -> assigned field id. Non-empty turns on
      * field-id read alignment (Spark's `fieldId.read`), and per-file
      * splice pruning falls back to the FILE's own id->name table when a
      * foreign file (written by an id-keyed engine after its own rename)
      * stores different column names.
      */
    fieldIds: Map[String, Long] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  // ------------------------------------------------------- custom metrics

  /** Scan observability (shows in the SQL UI / metrics store per scan):
    * how many files the index-side pruning stack (partition values, chunk
    * stats, blooms, runtime filters) removed, and exactly how much work
    * was planned. At 100 TB "did the pruning fire" must be a metric, not
    * a log grep.
    */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(
      new PjFilesPlannedMetric, new PjFilesPrunedMetric,
      new PjRowGroupsPlannedMetric, new PjPlannedBytesMetric)

  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val current = activeFiles
    val rgs = effectiveSelections(current).map(_.size.toLong).sum
    val pruned = if (totalFiles < 0) 0L else (totalFiles - current.size).toLong
    Array(
      PjTaskMetric("pjFilesPlanned", current.size.toLong),
      PjTaskMetric("pjFilesPruned", math.max(0L, pruned)),
      PjTaskMetric("pjRowGroupsPlanned", rgs),
      PjTaskMetric("pjPlannedBytes", estimateStatistics().sizeInBytes().orElse(0L)))
  }

  /** Storage-partitioned joins (SPJ): a Hive-partitioned layout IS a
    * key-grouped layout — every split carries exactly one partition-value
    * tuple — so the scan reports `KeyGroupedPartitioning` over the
    * partition columns and each split exposes its typed key
    * ([[PjInputPartition.partitionKey]]). With
    * `spark.sql.sources.v2.bucketing.enabled` two tables partitioned on
    * the same keys join WITHOUT ANY EXCHANGE: at 100 TB a
    * fact-fact join on a day/tenant key moves zero bytes across the
    * cluster instead of shuffling both tables. The conf gates grouping
    * (Spark ignores the report when disabled), so nothing changes for
    * existing plans by default.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    if (partitionSchema.isEmpty)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    else {
      // a declared bucket transform reports as bucket(n, srcCol) — the
      // FunctionCatalog-backed expression SPJ compares across tables —
      // instead of identity over the synthesized directory column
      val keys: Array[org.apache.spark.sql.connector.expressions.Expression] =
        partitionSchema.fieldNames.map { n =>
          bucketSpec match {
            case Some((src, nb))
                if n.equalsIgnoreCase(PjTableProperties.bucketFieldName(src)) =>
              org.apache.spark.sql.connector.expressions.Expressions.bucket(nb, src)
            case _ =>
              org.apache.spark.sql.connector.expressions.Expressions.identity(n)
          }
        }
      val n = activeFiles.map(_.partitionValues).distinct.size
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        keys, math.max(n, 1))
    }
  }

  /** Per-split row ordering ([[SupportsReportOrdering]]), letting Spark's
    * `RemoveRedundantSorts` / `EnsureRequirements` elide Sort nodes above
    * the scan. Two sources of truth compose:
    *
    *  - Hive PARTITION columns are constant within a split (one
    *    partition-value tuple per split, and per key group under SPJ), so
    *    any ordering position on them holds trivially — reported first.
    *    On a 100 TB co-partitioned sort-merge join this removes the
    *    per-partition sorts, not just the exchanges.
    *  - The layout's commit-maintained `_pj_sort` claim: every file is
    *    internally sorted by `sortedBy`, and each split is a contiguous
    *    ascending row-group run of ONE file, so the split inherits the
    *    file's order. Reported as the longest prefix present in the output
    *    schema. Suppressed when SPJ grouping is on and the table is
    *    partitioned — Spark may then CONCATENATE same-key splits from
    *    different files into one partition, which preserves constant
    *    (partition) columns but not data-column order.
    *
    * Explicit user row-group selections may be arbitrary-order — no claim.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    if (explicitRowGroups.isDefined) return Array.empty
    val out = readSchema().fieldNames
    def inOut(n: String): Option[String] = out.find(_.equalsIgnoreCase(n))
    val partCols = partitionSchema.fieldNames.toSeq.flatMap(inOut(_))
    val grouped = partitionSchema.nonEmpty && SQLConf.get
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false") == "true"
    val dataCols =
      if (grouped) Nil
      else sortedBy.iterator.map(inOut).takeWhile(_.isDefined).flatten
        .filterNot(partCols.contains).toSeq
    (partCols ++ dataCols)
      .map(n => Expressions.sort(Expressions.column(n), SortDirection.ASCENDING))
      .toArray
  }

  // --------------------------- runtime (join-driven) file pruning — "DPP"

  /** The file list after runtime filtering. Spark's `BatchScanExec` calls
    * `filter(...)` with the values a dimension-side join actually produced
    * (dynamic partition pruning), then re-plans input partitions — so a
    * fact-table scan joined to `dim WHERE region='EU'` reads only the EU
    * partition directories, decided at RUNTIME from the dim's rows.
    */
  @volatile private var activeFiles: Seq[PjFile] = files

  /** Runtime filtering is offered on the Hive partition columns (values
    * prune whole FILES with zero I/O) and on the `_file` metadata column —
    * the latter is how Spark's `RowLevelOperationRuntimeGroupFiltering`
    * shrinks a DML rewrite to the EXACT files containing matches (its
    * subquery computes the distinct `_file` of matching rows, and the
    * resulting IN-filter lands here). (Data columns are deliberately not
    * offered — pruning those already happens at planning via chunk stats.)
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // same resolve-up-front constraint as `_file` below: a partition
    // column the projection dropped (e.g. an index-internal routing key
    // like the PQ codes table's `src`) is NOT in the scan output, and
    // advertising it fails analysis of the whole query — prune to the
    // partition columns this scan actually produces
    val parts = partitionSchema.fieldNames
      .filter(n => partRequired.fieldNames.exists(_.equalsIgnoreCase(n)))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
    // `_file` may only be advertised when this scan actually produces it
    // (Spark's PartitionPruning resolves EVERY advertised attribute against
    // the scan output up front and fails the whole query otherwise); it is
    // in `partRequired` exactly when the plan requested the metadata column
    // — notably the row-level DML scans, where it enables file-exact
    // runtime group filtering.
    val hasFileMeta = partRequired.fieldNames.exists(n =>
      n.equalsIgnoreCase(PjParquetTable.FileMetaName) &&
        !partitionSchema.fieldNames.exists(_.equalsIgnoreCase(n)))
    if (!hasFileMeta) parts
    else parts :+
      org.apache.spark.sql.connector.expressions.Expressions.column(PjParquetTable.FileMetaName)
  }

  /** Exact `_file` evaluation for runtime filters (partition filters fall
    * through to the conservative partition evaluator, which keeps anything
    * it does not understand).
    */
  private def fileMetaMightMatch(f: PjFile, flt: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def isMeta(a: String) = a.equalsIgnoreCase(PjParquetTable.FileMetaName)
    def str(v: Any): String = String.valueOf(v)
    flt match {
      case EqualTo(a, v) if isMeta(a) => str(v) == f.path
      case In(a, vs) if isMeta(a) => vs != null && vs.exists(v => str(v) == f.path)
      case IsNotNull(a) if isMeta(a) => true
      case _ => true
    }
  }

  override def filter(runtime: Array[org.apache.spark.sql.sources.Filter]): Unit =
    activeFiles = activeFiles.filter(f =>
      runtime.forall(r =>
        fileMetaMightMatch(f, r) && PjPartitionFilter.mightMatch(partitionSchema, f, r)))

  /** The files this scan will actually read (post runtime filtering) — the
    * copy-on-write replacement set for a row-level DML commit.
    */
  private[pjparquet] def currentFiles: Seq[PjFile] = activeFiles

  /** Row-level DML only: partition tuples the operation's predicate
    * admitted over its base snapshot (set by the builder) — the read set
    * the commit declares for disjoint-DML conflict resolution.
    */
  @volatile private[pjparquet] var readPartitionTuples: Option[Set[Seq[String]]] = None

  // ------------------------------------------------------ per-file caches

  private val idxCache =
    new java.util.concurrent.ConcurrentHashMap[String, PJSplice.Index]()
  private def indexOf(f: PjFile): PJSplice.Index =
    idxCache.computeIfAbsent(f.path, _ => PJSplice.Index.fromBytes(f.indexBytes))

  private def rgCountOf(f: PjFile): Int = indexOf(f).header.rowGroups
  private def rowCountOf(f: PjFile, rg: Int): Long = indexOf(f).rowNumber(rg)

  /** Per-file row-group selection with the pushed LIMIT applied: walk files
    * in layout order keeping row groups until the cumulative index row
    * count covers the limit, then plan nothing further. Only set when no
    * filter is pushed (see [[PjScanBuilder.pushLimit]]), so raw counts are
    * exact and over-delivery is bounded by one row group. Computed over the
    * CURRENT (runtime-filtered) file list on every call.
    */
  private def effectiveSelections(fs: Seq[PjFile]): Seq[Seq[Int]] = {
    val base: Seq[Seq[Int]] = fs.map { f =>
      explicitRowGroups.getOrElse(0 until rgCountOf(f))
    }
    (limitRows, topNRows) match {
      case (Some(lim), _) =>
        var remaining = lim.toLong
        fs.zip(base).map { case (f, sel) =>
          if (remaining <= 0) Seq.empty[Int]
          else {
            val keep = Seq.newBuilder[Int]
            val it = sel.iterator
            while (remaining > 0 && it.hasNext) {
              val rg = it.next()
              keep += rg
              remaining -= rowCountOf(f, rg)
            }
            keep.result()
          }
        }
      case (None, Some((n, asc))) =>
        // per-FILE truncation (unlike LIMIT's global one): each sorted
        // file's top-n lives in its leading (asc) / trailing (desc) rows
        fs.zip(base).map { case (f, sel) =>
          val ordered = if (asc) sel else sel.reverse
          var remaining = n.toLong
          val keep = Seq.newBuilder[Int]
          val it = ordered.iterator
          while (remaining > 0 && it.hasNext) {
            val rg = it.next()
            keep += rg
            remaining -= rowCountOf(f, rg)
          }
          keep.result().sorted
        }
      case (None, None) => base
    }
  }

  /** `readStream.format("pjparquet")`: micro-batch ingestion of files
    * appended to the directory, planned per batch from the sidecar indexes
    * (see [[PjMicroBatchStream]]). `streamInfo` is threaded from the scan
    * builder's options.
    */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val info = streamInfo.getOrElse(
      throw new IllegalStateException("pjparquet: streaming needs a directory path"))
    new PjMicroBatchStream(info,
      fileSchema, dataRequired, partitionSchema, partRequired, pushedFilters,
      claimedFilters, checkpointLocation)
  }

  /** Data columns first, requested partition columns last — the order the
    * vectorized reader produces when partition values are appended via
    * `initBatch`; Spark projects above the scan to the query's order.
    * Names keep the REQUESTED case (Spark maps them back to the relation's
    * output attributes by exact name).
    */
  override def readSchema(): StructType = StructType(dataRequired.fields ++ partRequired.fields)

  override def toBatch: Batch = this

  override def description(): String =
    s"pjparquet ${files.size} file(s), cols=${readSchema().fieldNames.mkString(",")}" +
      explicitRowGroups.map(r => s", rowGroups=${r.mkString(",")}").getOrElse("") +
      limitRows.map(n => s", PushedLimit: $n").getOrElse("") +
      topNRows.map { case (n, asc) =>
        s", PushedTopN: $n ${if (asc) "ASC" else "DESC"}" }.getOrElse("") +
      (if (pushedFilters.nonEmpty) s", PushedFilters: [${pushedFilters.mkString(", ")}]" else "")

  /** `dataRequired` folded to the FILE schema's case (when the session is
    * case-insensitive): the names handed to the O5 splice and the parquet
    * reader, which both keep the reference's exact-match semantics. Batch
    * columns are consumed positionally, so the requested-case `readSchema`
    * and this physical schema only need to agree on ORDER.
    */
  private lazy val dataPhysical: StructType = {
    // column mapping first (logical → frozen physical), THEN file-case
    // folding (batch columns bind positionally, so only ORDER must agree)
    val mapped =
      if (nameMap.isEmpty) dataRequired
      else StructType(dataRequired.fields.map(f =>
        f.copy(name = PjColumnMapping.toPhysical(nameMap, f.name))))
    val cased =
      if (SQLConf.get.caseSensitiveAnalysis) mapped
      else {
        val byLower = fileSchema.fields
          .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.name).toMap
        StructType(mapped.fields.map(f =>
          byLower.get(f.name.toLowerCase(java.util.Locale.ROOT))
            .map(n => f.copy(name = n)).getOrElse(f)))
      }
    // ROW TRACKING: when `_row_id` is requested, the hidden materialized
    // id column rides as the LAST data column — files that wrote it
    // (id-preserving rewrites) deliver real values, all others null-fill,
    // and the position-aware wrapper lifts it into the `_row_id` slot and
    // DROPS it from the emitted batch
    val stamped = PjColumnMapping.stampParquetIds(cased, fieldIds)
    if (rowIdPartOrdinal < 0) stamped
    else StructType(stamped.fields :+ org.apache.spark.sql.types.StructField(
      PjCommitLog.RowIdColName, org.apache.spark.sql.types.LongType, nullable = true))
  }

  /** The FILE's parquet field ids → its top-level column names (id mode,
    * foreign-file lane only): one footer parse per file whose names miss
    * a requested physical column — our own files always name-match, so
    * this never runs for them; cached for the scan's lifetime.
    */
  private val fileIdNamesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Long, String]]()
  private def fileFieldIdNames(f: PjFile): Map[Long, String] =
    fileIdNamesCache.computeIfAbsent(f.path, path =>
      PjColumnMapping.fileFieldIdNames(SparkSession.active.sessionState.newHadoopConf(), path))

  // Column splice only when a strict subset of top-level fields is needed;
  // name-based selection follows reference O5 semantics (exact match).
  private def prunedColumnNames: Seq[String] = {
    val full = fileSchema.fieldNames.toSeq
    val req = dataPhysical.fieldNames.toSeq
    if (req == full || req.isEmpty) Nil else req
  }

  /** The requested constant-column values of `f`, aligned with
    * `partRequired` (case-insensitive name match when the session is): Hive
    * partition values, plus the `_file` metadata column — the only
    * non-partition constant the builder admits — which is the file path
    * itself.
    */
  private def requiredPartValues(f: PjFile): Array[String] = {
    val cs = SQLConf.get.caseSensitiveAnalysis
    def key(n: String) = if (cs) n else n.toLowerCase(java.util.Locale.ROOT)
    val byName = partitionSchema.fieldNames.map(key).zip(f.partitionValues).toMap
    partRequired.fieldNames.map { n =>
      byName.getOrElse(key(n),
        // non-partition constants: `_file` is the path; `_pos`/`_row_id`
        // get typed placeholders the position-aware reader overwrites
        if (n.equalsIgnoreCase(PjParquetTable.PosMetaName) ||
          n.equalsIgnoreCase(PjParquetTable.RowIdMetaName)) "0" else f.path)
    }
  }

  /** Ordinal of the `_pos` METADATA column within `partRequired` (−1 when
    * not requested or shadowed by a real partition column of that name).
    */
  private[pjparquet] lazy val posPartOrdinal: Int =
    partRequired.fieldNames.indexWhere(n =>
      n.equalsIgnoreCase(PjParquetTable.PosMetaName) &&
        !partitionSchema.fieldNames.exists(_.equalsIgnoreCase(n)))

  /** Ordinal of the `_row_id` METADATA column within `partRequired`. */
  private[pjparquet] lazy val rowIdPartOrdinal: Int =
    partRequired.fieldNames.indexWhere(n =>
      n.equalsIgnoreCase(PjParquetTable.RowIdMetaName) &&
        !partitionSchema.fieldNames.exists(_.equalsIgnoreCase(n)))

  /** Exact compressed bytes each row group contributes for the REQUIRED
    * columns, per file — read once via bounded chunk-struct walks from the
    * index (no footer parse), cached by path, and shared by split packing
    * AND statistics. -1 marks a file whose footer lacks the size field
    * (callers fall back to a proportional estimate). An empty data
    * projection (count(*), partition-only scans) reads no column data:
    * 8 bytes/row stands in for the row-existence stream so estimates stay
    * small but nonzero.
    */
  private val rgBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  private def rgByteSums(f: PjFile): Array[Long] =
    rgBytesCache.computeIfAbsent(f.path, { _ =>
      val idx = indexOf(f)
      val rgCount = idx.header.rowGroups
      if (dataPhysical.isEmpty)
        Array.tabulate(rgCount)(rg => math.max(1L, idx.rowNumber(rg) * 8L))
      else {
        val req = prunedColumnNames
        val cols: Seq[Int] =
          if (req.isEmpty) 0 until idx.header.columns
          else {
            val pos = idx.columnNames.zipWithIndex.toMap // last-wins, like splice
            req.flatMap(pos.get)
          }
        Array.tabulate(rgCount) { rg =>
          var sum = 0L
          var exact = true
          for (c <- cols if exact) {
            val sz = idx.chunkCompressedSize(rg, c)
            if (sz < 0) exact = false else sum += sz
          }
          if (exact) math.max(1L, sum) else -1L
        }
      }
    })

  /** The splits planned for the file set and split size they were planned
    * from. Spark asks every copy of the scan node, and AQE makes copies
    * (its prep rules, [[PjSingleSplitExchange]], each re-optimization);
    * all of them get this one plan. A runtime [[filter]] that changes the
    * file set plans again.
    */
  @volatile private var partitionsMemo: (Seq[PjFile], Long, Array[InputPartition]) = _

  override def planInputPartitions(): Array[InputPartition] = {
    val current = activeFiles
    val maxPartitionBytes = SQLConf.get.filesMaxPartitionBytes
    val memo = partitionsMemo
    if (memo != null && (memo._1 eq current) && memo._2 == maxPartitionBytes) memo._3
    else {
      val planned = planPartitions(current, maxPartitionBytes)
      partitionsMemo = (current, maxPartitionBytes, planned)
      planned
    }
  }

  private def planPartitions(
      current: Seq[PjFile], maxPartitionBytes: Long): Array[InputPartition] = {
    val colNames = prunedColumnNames
    lazy val planConf = SparkSession.active.sessionState.newHadoopConf()
    current.iterator.zip(effectiveSelections(current).iterator).flatMap { case (f, selected0) =>
      val rgCount = rgCountOf(f)
      // fully-deleted row groups never plan: when the file's deletion
      // vector is large enough to cover at least one selected group, one
      // (cached) vector decode + a binary search per group drops the
      // groups with zero live rows — "delete a day" on a sorted layout
      // reads nothing of that day
      val selected = f.dv match {
        case Some((dvPath, deleted))
            if selected0.nonEmpty && explicitRowGroups.isEmpty &&
              deleted >= selected0.iterator.map(rowCountOf(f, _)).min =>
          val dv = PjDeletionVector.cached(planConf, dvPath)
          var start = 0L
          val startOf = new Array[Long](rgCount)
          for (rg <- 0 until rgCount) { startOf(rg) = start; start += rowCountOf(f, rg) }
          selected0.filter { rg =>
            val rows = rowCountOf(f, rg)
            PjDeletionVector.countInRange(dv, startOf(rg), startOf(rg) + rows) < rows
          }
        case _ => selected0
      }
      if (selected.isEmpty) Iterator.empty
      else {
        // Bin-pack toward maxPartitionBytes using the EXACT compressed
        // bytes each row group contributes for the REQUIRED columns. A
        // whole-file mean misprices splits twice over: skewed row-group
        // sizes, and narrow projections that read a sliver of each group.
        val meanRgBytes = math.max(1L, f.fileLen / math.max(1, rgCount))
        val sums = rgByteSums(f)
        def rgBytes(rg: Int): Long = if (sums(rg) < 0) meanRgBytes else sums(rg)
        val groups = scala.collection.mutable.ArrayBuffer[Vector[Int]]()
        var current = Vector.empty[Int]
        var currentBytes = 0L
        for (rg <- selected) {
          val b = rgBytes(rg)
          if (current.nonEmpty && currentBytes + b > maxPartitionBytes) {
            groups += current; current = Vector.empty; currentBytes = 0L
          }
          current = current :+ rg
          currentBytes += b
        }
        if (current.nonEmpty) groups += current
        val partValues = requiredPartValues(f)
        // position arithmetic (deletion vectors / `_pos`): absolute start
        // row of every row group, from the index's row counts — shipped
        // per split so the executor never needs the unselected groups
        val needPos = f.dv.isDefined || posPartOrdinal >= 0 || rowIdPartOrdinal >= 0
        // row tracking facts for this split: base id from the log entry;
        // id-preserving rewrites materialized ids as the hidden column
        val baseRid: Long =
          if (rowIdPartOrdinal < 0) -1L else f.entry.map(_.baseRowId).getOrElse(-1L)
        val ridFromCol: Boolean = rowIdPartOrdinal >= 0 &&
          (f.entry.exists(_.materializedRowIds) ||
            (f.entry.isEmpty &&
              PJSplice.Index.fromBytes(f.indexBytes).columnNames
                .exists(_.equalsIgnoreCase(PjCommitLog.RowIdColName))))
        val rgStarts: Array[Long] =
          if (!needPos) Array.empty
          else {
            val starts = new Array[Long](rgCount)
            var acc = 0L
            var rg = 0
            while (rg < rgCount) { starts(rg) = acc; acc += rowCountOf(f, rg); rg += 1 }
            starts
          }
        val dvPath = f.dv.map(_._1).getOrElse("")
        val idx = indexOf(f)
        // mergeSchema evolution: a file may lack some requested columns —
        // splice only what it has (the vectorized reader null-fills the
        // rest from the requested schema). An empty intersection keeps the
        // whole footer (Nil = no pruning); the reader then reads no column
        // data at all, so the only cost is footer bytes.
        val fileColNames =
          if (colNames.isEmpty) Nil
          else {
            val avail = idx.columnNames.toSet
            val present = colNames.filter(avail.contains)
            if (present.size == colNames.size || fieldIds.isEmpty) present
            else {
              // id mode, foreign file: its column NAMES differ (an
              // id-keyed engine renamed on its side) — translate each
              // missing requested name through the assigned field id to
              // the FILE's own name so the splice prunes correctly; the
              // reader then aligns the kept columns by id
              val idToName = fileFieldIdNames(f)
              colNames.flatMap { n =>
                if (avail.contains(n)) Some(n)
                else fieldIds.get(n.toLowerCase(java.util.Locale.ROOT))
                  .flatMap(idToName.get).filter(avail.contains)
              }
            }
          }
        groups.iterator.map { rgs =>
          val footer = PJSplice.splice(idx, rgs, Nil, fileColNames, schemaOnly = false)
          PjInputPartition(f.path, f.fileLen, rgs.toArray, footer, partValues,
            keyValues = f.partitionValues.toArray,
            keySchemaJson = if (partitionSchema.isEmpty) "" else partitionSchema.json,
            dvPath = dvPath,
            rgStartRows = if (needPos) rgs.iterator.map(rgStarts(_)).toArray else Array.empty,
            baseRowId = baseRid, rowIdFromColumn = ridFromCol)
        }
      }
    }.toArray
  }

  /** The factory built for the file set it was built from. The planner's
    * scan node and AQE's copy of it each ask for a factory; both get this
    * one. A runtime [[filter]] that changes the file set rebuilds it.
    */
  @volatile private var factoryMemo: (Seq[PjFile], PartitionReaderFactory) = _

  override def createReaderFactory(): PartitionReaderFactory = {
    val files = activeFiles
    val memo = factoryMemo
    if (memo != null && (memo._1 eq files)) memo._2
    else {
      val f = buildReaderFactory(files)
      factoryMemo = (files, f)
      f
    }
  }

  private def buildReaderFactory(files: Seq[PjFile]): PartitionReaderFactory = {
    val spark = SparkSession.active
    val sqlConf = spark.sessionState.conf
    // files can be empty when partition pruning excluded every file — an
    // empty scan needs no parquet predicate (and has no index to splice).
    // Under mergeSchema evolution a filtered column may be missing from
    // some files; a global FilterPredicate naming it would make parquet's
    // schema-compatibility validation fail on those files. Filters are
    // always re-evaluated above the scan, so skipping the row-group
    // predicate is purely a (rare) perf concession, never a wrong answer.
    lazy val allFilesHaveFilterCols: Boolean = {
      val cs = SQLConf.get.caseSensitiveAnalysis
      def fold(n: String) = if (cs) n else n.toLowerCase(java.util.Locale.ROOT)
      val partNames = partitionSchema.fieldNames.map(fold).toSet
      val refs = pushedFilters.flatMap(_.references).map(fold).toSet -- partNames
      // every file must have every filtered column AND at the same
      // PHYSICAL type: the one global FilterPredicate is built from the
      // head file's schema, and parquet's schema-compatibility validator
      // rejects it on a file storing the column at another width (e.g. a
      // type-WIDENED table mixing INT32 and INT64 files)
      def sig(f: PjFile): Option[Seq[(String, Int)]] =
        try {
          val idx = indexOf(f)
          val folded = idx.columnNames.map(fold)
          Some(refs.toSeq.sorted.map { r =>
            val ord = folded.lastIndexOf(r)
            if (ord < 0) return None
            val t =
              if (idx.header.rowGroups == 0) 0
              else idx.chunkStats(0, ord).physType
            r -> t
          })
        } catch { case scala.util.control.NonFatal(_) => None }
      val sigs = files.map(sig)
      sigs.forall(_.isDefined) && sigs.distinct.size <= 1
    }
    // position arithmetic (deletion vectors / `_pos`) requires the reader
    // to deliver EVERY physical row of each planned row group: a reader
    // FilterPredicate would drop row groups (and page-index row ranges)
    // INSIDE the reader and silently desynchronize the position cursor —
    // so it is suppressed for exactly those scans (planning-level
    // row-group pruning is fine: the split's absolute start positions are
    // computed per selected group). Filters still re-evaluate above the
    // scan, so this is a perf concession on vector-carrying tables only.
    val needExactPositions =
      posPartOrdinal >= 0 || rowIdPartOrdinal >= 0 || files.exists(_.dv.isDefined)
    val predicate =
      if (files.isEmpty ||
          pushedFilters.isEmpty || rowLevel || needExactPositions ||
          !PjSparkShims.parquetFilterPushDownEnabled(sqlConf) || !allFilesHaveFilterCols) None
      else {
        // Schema + rebase spec come from the index (schema-only splice), so
        // building the predicate costs no footer parse. Partition-column
        // filters have no physical column and simply produce no predicate.
        val schemaFooter = graft.core.PalletJack.materialize(
          graft.core.PJSplice.splice(indexOf(files.head), Nil, Nil, Nil, schemaOnly = true))
        val physSchema = schemaFooter.getFileMetaData.getSchema
        // PJ_3-planned nested schemas skip the reader FilterPredicate (the
        // flat predicate builder does not cover group nodes); filters are
        // always re-evaluated above the scan, so only pushdown is forgone
        val allPrimitive = {
          import scala.jdk.CollectionConverters._
          physSchema.getFields.asScala.forall(_.isPrimitive)
        }
        if (!allPrimitive) None
        else {
          val rebaseSpec = PjSparkShims.datetimeRebaseSpec(
            schemaFooter, PjSparkShims.rebaseModeInReadConf(sqlConf))
          PjSparkShims.buildFilterPredicate(physSchema, pushedFilters, sqlConf, rebaseSpec)
        }
      }
    val conf = PjHadoopConf.shipWith(spark) { c =>
      PjSparkShims.configureReadConf(c, dataPhysical, sqlConf)
      // id column-mapping mode: the vectorized reader aligns requested
      // columns by their stamped parquet field ids. ignoreMissingIds is the
      // id-less-file backstop: without it Spark 4.x HARD-ERRORS on any file
      // whose schema carries no ids ("Spark read schema expects field Ids,
      // but Parquet file schema doesn't contain any field Ids") — with it,
      // adopted/legacy id-less files fall back to name matching, which is
      // exact for our own files (they store the physical names).
      if (fieldIds.nonEmpty) {
        c.setBoolean("spark.sql.parquet.fieldId.read.enabled", true)
        c.setBoolean("spark.sql.parquet.fieldId.read.ignoreMissing", true)
      }
      predicate.foreach(p => PjSparkShims.setFilterPredicate(c, p))
    }
    PjPartitionReaderFactory(
      conf,
      dataPhysical.json,
      partRequired.json,
      sqlConf.parquetVectorizedReaderBatchSize,
      sqlConf.offHeapColumnVectorEnabled,
      PjSparkShims.rebaseModeInReadConf(sqlConf),
      PjSparkShims.int96RebaseModeInReadConf(sqlConf),
      posPartOrdinal = posPartOrdinal,
      rowIdPartOrdinal = rowIdPartOrdinal)
  }

  /** Planning-time stats straight from the index — no footer parse.
    * `sizeInBytes` is the EXACT sum of `total_compressed_size` over the
    * selected row groups × required columns (each read via a bounded walk
    * of the one chunk struct the index points at), so AQE's broadcast and
    * join-strategy decisions see what the scan will actually read — a
    * `fileLen × colFraction` guess misprices wide tables with skewed
    * column widths. Falls back to the proportional estimate per file if a
    * footer lacks the field.
    */
  override def estimateStatistics(): Statistics = {
    var rows = 0L
    var bytes = 0L
    val current = activeFiles
    for ((f, selected) <- current.zip(effectiveSelections(current))) {
      val rgCount = rgCountOf(f)
      selected.foreach(rg => rows += rowCountOf(f, rg))
      val sums = rgByteSums(f)
      val exact = selected.forall(rg => sums(rg) >= 0)
      bytes += {
        if (exact) selected.map(sums(_)).sum
        else {
          val colFraction =
            if (fileSchema.isEmpty) 1.0
            else math.max(1, dataRequired.size).toDouble / fileSchema.size
          (f.fileLen * colFraction * selected.size / math.max(1, rgCount)).toLong
        }
      }
    }
    // per-column CBO stats from the recorded ANALYZE commit
    // ([[PjAnalyze]]): NDV / null count capped at this scan's (possibly
    // file-pruned) row estimate, min/max decoded to catalyst values.
    // Spark folds these into the relation's AttributeMap[ColumnStat], so
    // join reorder and broadcast-side selection see real cardinalities.
    val colStats = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    PjAnalyze.parse(tableStatsJson).foreach { ts =>
      val byName = readSchema().fields.map(f => f.name -> f.dataType).toMap
      ts.cols.foreach { case (name, c) =>
        byName.get(name).foreach { dt =>
          val distinct = math.max(1L, math.min(c.ndv, math.max(1L, rows)))
          val nulls = math.max(0L, math.min(c.nulls, rows))
          val mnV = c.min.flatMap(PjAnalyze.catalystValue(dt, _))
          val mxV = c.max.flatMap(PjAnalyze.catalystValue(dt, _))
          colStats.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): OptionalLong = OptionalLong.of(distinct)
              override def nullCount(): OptionalLong = OptionalLong.of(nulls)
              override def avgLen(): OptionalLong = OptionalLong.of(c.avgLen)
              override def maxLen(): OptionalLong = OptionalLong.of(c.maxLen)
              override def min(): java.util.Optional[Object] =
                mnV.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def max(): java.util.Optional[Object] =
                mxV.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
              // equi-height histogram (when ANALYZE ran with
              // spark.sql.statistics.histogram.enabled): the estimator's
              // skew-aware selectivity — without it a predicate over a
              // skewed column's quiet range estimates uniformly and the
              // CBO refuses broadcasts that actually fit
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                c.hist match {
                  case Some(h) => java.util.Optional.of(
                    new org.apache.spark.sql.connector.read.colstats.Histogram {
                      override def height(): Double = h.height
                      override def bins(): Array[
                          org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                        h.bins.map { case (l, u, n) =>
                          new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                            override def lo(): Double = l
                            override def hi(): Double = u
                            override def ndv(): Long = n
                          }
                        }.toArray
                    })
                  case None => java.util.Optional.empty()
                }
            })
        }
      }
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }
}

/** Self-contained split: executors need nothing but these fields.
  * `partitionValues` align with the scan's required partition schema (raw
  * path strings; typed at batch init).
  */
/** Sum-aggregated scan metrics. Spark's status store re-instantiates
  * CustomMetric classes REFLECTIVELY via a zero-argument constructor, so
  * each metric must be its own top-level zero-arg class — a parameterized
  * shared class fails with "did not have a zero-argument constructor" at
  * metric-aggregation time.
  */
final class PjFilesPlannedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "pjFilesPlanned"
  override def description(): String = "pjparquet files planned"
}
final class PjFilesPrunedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "pjFilesPruned"
  override def description(): String = "pjparquet files pruned (partition/stats/bloom/runtime)"
}
final class PjRowGroupsPlannedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "pjRowGroupsPlanned"
  override def description(): String = "pjparquet row groups planned"
}
final class PjPlannedBytesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "pjPlannedBytes"
  override def description(): String = "pjparquet exact planned bytes"
}

final case class PjTaskMetric(metricName: String, metricValue: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}

final case class PjInputPartition(
    filePath: String,
    fileLen: Long,
    rowGroups: Array[Int],
    prunedFooter: Array[Byte],
    partitionValues: Array[String] = Array.empty,
    /** FULL partition-schema values (not the projected subset) + schema,
      * powering [[org.apache.spark.sql.connector.read.HasPartitionKey]]
      * for storage-partitioned joins. Empty for flat layouts.
      */
    keyValues: Array[String] = Array.empty,
    /** Row tracking: first stable row id of the FILE (−1 = untracked or
      * materialized); split rows map via their file-absolute positions.
      */
    baseRowId: Long = -1L,
    /** The file materializes ids as the hidden `_pj_row_id` column. */
    rowIdFromColumn: Boolean = false,
    keySchemaJson: String = "",
    /** Deletion vector (absolute sidecar path; empty = none): the reader
      * filters these file-absolute positions out ([[PjDeletionVector]]).
      */
    dvPath: String = "",
    /** File-absolute row position where each of this split's row groups
      * starts — populated when the split needs position arithmetic (a
      * deletion vector, or the `_pos` metadata column); aligned with
      * `rowGroups`.
      */
    rgStartRows: Array[Long] = Array.empty)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {

  /** Typed key row; equal partition values yield equal rows (Spark groups
    * splits via a comparable wrapper over the reported key expressions).
    */
  @transient override lazy val partitionKey: org.apache.spark.sql.catalyst.InternalRow = {
    if (keySchemaJson.isEmpty) org.apache.spark.sql.catalyst.InternalRow.empty
    else {
      val schema = org.apache.spark.sql.types.DataType.fromJson(keySchemaJson)
        .asInstanceOf[StructType]
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        schema.fields.zip(keyValues).map {
          case (_, PjParquetTable.HiveNullPartition) => null
          case (f, raw) => f.dataType match {
            case org.apache.spark.sql.types.LongType => raw.toLong
            case org.apache.spark.sql.types.TimestampType => raw.toLong // micros
            case org.apache.spark.sql.types.DateType => // ISO dir → epoch days
              java.time.LocalDate.parse(raw).toEpochDay.toInt
            case _ => org.apache.spark.unsafe.types.UTF8String.fromString(raw)
          }
        }.toIndexedSeq)
    }
  }
}
