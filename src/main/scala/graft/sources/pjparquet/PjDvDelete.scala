package graft.sources.pjparquet

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.PJException

/** Merge-on-read deletion of EXPLICIT (file, position) identities — Delta's
  * deletion-vector semantics for position-driven operators such as in-place
  * dedup ([[graft.operators.PipelineOps.dedupInPlace]]). SQL `DELETE`,
  * `UPDATE` and `MERGE` write their vectors through the `SupportsDelta`
  * writer instead ([[PjDeltaRowLevelOperation]]).
  *
  *  1. the caller's Dataset of (`_file`, `_pos`) matches shuffles by file
  *     and sorts by position; each executor run stream-encodes one vector
  *     per file — merged with the file's EXISTING vector (delete-on-delete
  *     composes) — and publishes it under `_pj_dv/` with O(1) memory;
  *  2. the driver collects only (file → vector, cardinality) and commits
  *     one delta: each touched file's entry re-added with its new
  *     [[PjCommitLog.DvRef]] (fully-deleted files simply retire), with
  *     the declared read base + partition read set so disjoint concurrent
  *     DML rebases instead of failing.
  *
  * Reads stay columnar ([[PjPositionAwareColumnarReader]]); compaction and
  * copy-on-write rewrites materialize the vectors away.
  */
object PjDvDelete {

  /** Delete the (file, position) identities in `matches`: any Dataset of
    * (absolute file path as the scan's `_file` renders it, file-absolute
    * `_pos`) read from the snapshot `layout` resolved. Returns the
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

    // 1. per-file vector build: shuffle by file, sort by position, one
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

    // 2. one commit: re-add touched entries with their new vectors;
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
