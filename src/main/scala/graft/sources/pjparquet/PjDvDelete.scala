package graft.sources.pjparquet

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PJException

/** The merge-on-read DELETE path: `DELETE FROM t WHERE <data predicate>`
  * on a commit-log table writes [[PjDeletionVector]]s instead of
  * copy-on-write file rewrites — Delta's deletion-vector semantics:
  *
  *  1. ONE distributed job scans the pinned base snapshot with the
  *     predicate (partition values, stats envelopes, and blooms bound the
  *     read set exactly as any query), emitting each match's
  *     (`_file`, `_pos`);
  *  2. matches shuffle by file and sort by position; each executor run
  *     stream-encodes one vector per file — merged with the file's
  *     EXISTING vector (delete-on-delete composes) — and publishes it
  *     under `_pj_dv/` with O(1) memory;
  *  3. the driver collects only (file → vector, cardinality) and commits
  *     one delta: each touched file's entry re-added with its new
  *     [[PjCommitLog.DvRef]] (fully-deleted files simply retire), with
  *     the declared read base + partition read set so disjoint concurrent
  *     DML rebases instead of failing.
  *
  * A DELETE hitting 0.1 % of a 100 TB table therefore writes kilobytes of
  * vectors, not terabytes of rewritten files. Reads stay columnar
  * ([[PjPositionAwareColumnarReader]]); compaction and copy-on-write
  * rewrites materialize the vectors away.
  */
object PjDvDelete {

  /** V1 filter → Column, for re-evaluating the pushed DELETE predicate in
    * the position-collecting job. None = untranslatable (the caller must
    * then refuse `canDeleteWhere` so Spark keeps the copy-on-write plan).
    */
  def toColumn(f: org.apache.spark.sql.sources.Filter): Option[Column] = {
    import org.apache.spark.sql.sources._
    def c(a: String): Column = col(s"`${a.replace("`", "``")}`")
    f match {
      case EqualTo(a, v) => Some(c(a) === lit(v))
      case EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
      case GreaterThan(a, v) => Some(c(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case LessThan(a, v) => Some(c(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case In(a, vs) => Some(c(a).isin(vs.toIndexedSeq.map(lit(_)): _*))
      case IsNull(a) => Some(c(a).isNull)
      case IsNotNull(a) => Some(c(a).isNotNull)
      case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
      case Not(x) => toColumn(x).map(!_)
      case StringStartsWith(a, v) => Some(c(a).startsWith(v))
      case StringEndsWith(a, v) => Some(c(a).endsWith(v))
      case StringContains(a, v) => Some(c(a).contains(v))
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  def translatable(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(toColumn(_).isDefined)

  /** Run the deletion-vector DELETE. Assumes `canDeleteWhere` accepted:
    * the table is a resolved commit-log snapshot and every filter
    * translates. Returns the committed version, or None when nothing
    * matched (no commit).
    */
  def run(
      spark: SparkSession,
      fs: FileSystem,
      rootPath: Path,
      layout: PjLayout,
      filters: Array[org.apache.spark.sql.sources.Filter]): Option[Long] = {
    val baseVersion = layout.logVersion.getOrElse(
      throw new PJException("pjparquet: deletion-vector DELETE requires a commit-log table"))
    val cond = filters.map(f => toColumn(f).getOrElse(
      throw new PJException(s"pjparquet: untranslatable DELETE predicate $f"))) match {
      case Array() => lit(true)
      case cs => cs.reduce(_ && _)
    }
    val rootQ = fs.makeQualified(rootPath).toString

    // 1. the position-collecting job, pinned to the base snapshot
    import spark.implicits._
    val matches = spark.read.format("pjparquet")
      .option("versionAsOf", baseVersion.toString)
      .load(rootQ)
      .filter(cond)
      .select(col(PjParquetTable.FileMetaName).as("f"), col(PjParquetTable.PosMetaName).as("p"))
      .as[(String, Long)]

    // partition-level read set (pre-stats-pruning, like the CoW scans):
    // every partition tuple the predicate might admit
    val readPartitions: Set[Seq[String]] =
      layout.files.filter(f => filters.forall(p =>
        layout.partitionSchema.isEmpty ||
          PjPartitionFilter.mightMatch(layout.partitionSchema, f, p)))
        .map(_.partitionValues).toSet
    deletePositions(spark, fs, rootPath, layout, matches,
      operation = "delete", readPartitions = readPartitions)
  }

  /** Delete EXPLICIT (file, position) identities — the general merge-on-
    * read primitive behind [[run]] and position-driven operators like
    * in-place dedup ([[graft.operators.PipelineOps.dedupInPlace]]):
    * `matches` is any Dataset of (absolute file path as the scan's
    * `_file` renders it, file-absolute `_pos`). Vectors build
    * distributedly exactly as for a predicate DELETE; returns the
    * committed version (None when `matches` is empty).
    */
  def deletePositions(
      spark: SparkSession,
      fs: FileSystem,
      rootPath: Path,
      layout: PjLayout,
      matches: org.apache.spark.sql.Dataset[(String, Long)],
      operation: String,
      readPartitions: Set[Seq[String]]): Option[Long] = {
    import spark.implicits._
    val baseVersion = layout.logVersion.getOrElse(
      throw new PJException("pjparquet: deletion-vector DML requires a commit-log table"))
    val rootQ = fs.makeQualified(rootPath).toString

    // existing vectors (absolute paths), keyed by absolute file path
    val oldDvByFile: Map[String, String] =
      layout.files.flatMap(f => f.dv.map(d => f.path -> d._1)).toMap
    val shipped = PjHadoopConf.ship(spark)
    val oldB = spark.sparkContext.broadcast(oldDvByFile)
    val rootQB = rootQ

    // 2. per-file vector build: shuffle by file, sort by position, one
    // streaming encode per (file) run — O(1) executor memory
    val shuffleP = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions, layout.files.size))
    val results: Array[(String, String, Long)] =
      matches
        .repartition(shuffleP, col("f"))
        .sortWithinPartitions("f", "p")
        .mapPartitions { it =>
          val conf = shipped.newConf()
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
          val rows = it.buffered
          while (rows.hasNext) {
            val file = rows.head._1
            // positions of this file's run (strictly ascending; dedup defensively)
            val newPos = new Iterator[Long] {
              private var last = -1L
              private var nextV: Option[Long] = advance()
              private def advance(): Option[Long] = {
                while (rows.hasNext && rows.head._1 == file) {
                  val p = rows.next()._2
                  if (p > last) { last = p; return Some(p) }
                }
                None
              }
              def hasNext: Boolean = nextV.isDefined
              def next(): Long = { val v = nextV.get; nextV = advance(); v }
            }
            val merged: Iterator[Long] = oldB.value.get(file) match {
              case None => newPos
              case Some(oldAbs) =>
                val old = PjDeletionVector.load(
                  new Path(oldAbs).getFileSystem(conf), new Path(oldAbs))
                mergeSorted(old.iterator, newPos)
            }
            val rel = PjDeletionVector.newRelPath()
            val n = PjDeletionVector.write(
              new Path(rootQB).getFileSystem(conf), new Path(rootQB), rel, merged)
            out += ((file, rel, n))
          }
          out.iterator
        }
        .collect()

    if (results.isEmpty) return None

    // 3. one commit: re-add touched entries with their new vectors;
    // fully-deleted files retire outright
    val entryByRel: Map[String, PjCommitLog.FileEntry] =
      layout.files.flatMap(_.entry.map(e => e.path -> e)).toMap
    def relOf(abs: String): String = PjCommitLog.relOrAbs(fs, rootPath, new Path(abs))
    val adds = Seq.newBuilder[PjCommitLog.FileEntry]
    val removes = Set.newBuilder[String]
    results.foreach { case (fileAbs, dvRel, total) =>
      val rel = relOf(fileAbs)
      val e = entryByRel.getOrElse(rel,
        throw new PJException(
          s"pjparquet: deletion-vector DELETE touched '$rel', which has no " +
            "log entry with recorded facts — rewrite the table once to adopt it"))
      removes += rel
      if (e.rows >= 0 && total >= e.rows) () // every row deleted: retire the file
      else adds += e.copy(dv = Some(PjCommitLog.DvRef(dvRel, total)))
    }
    val v = PjCommitLog.commit(fs, rootPath, "delete-dv",
      adds.result(), removes.result(),
      operation = Some(operation),
      readVersion = Some(baseVersion),
      readPartitions = Some(readPartitions))
    Some(v)
  }

  /** Merge two strictly-ascending iterators, dropping duplicates. */
  private def mergeSorted(a: Iterator[Long], b: Iterator[Long]): Iterator[Long] =
    new Iterator[Long] {
      private val ba = a.buffered
      private val bb = b.buffered
      private var last = Long.MinValue
      private var nextV: Option[Long] = advance()
      private def advance(): Option[Long] = {
        while (ba.hasNext || bb.hasNext) {
          val v =
            if (!bb.hasNext || (ba.hasNext && ba.head <= bb.head)) ba.next()
            else bb.next()
          if (v != last) { last = v; return Some(v) }
        }
        None
      }
      def hasNext: Boolean = nextV.isDefined
      def next(): Long = { val v = nextV.get; nextV = advance(); v }
    }
}
