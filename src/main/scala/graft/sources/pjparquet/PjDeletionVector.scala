package graft.sources.pjparquet

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.core.PJException

/** Merge-on-read deletion vectors — the scale path for row-level DELETE on
  * commit-log tables (Delta's deletion-vector contract re-expressed for
  * this source). A DELETE that touches 0.1 % of a 100 TB table's rows
  * writes KILOBYTES of position bitmaps instead of rewriting every hit
  * file: each affected file gets a sidecar under `_pj_dv/` naming the
  * FILE-ABSOLUTE row positions deleted, the commit re-adds the file's log
  * entry with a [[PjCommitLog.DvRef]], and every read (batch, streaming,
  * DML rewrite scans) filters those positions out on the executor.
  * Compaction and the copy-on-write paths materialize: their rewrites drop
  * the deleted rows, and the replacement entries carry no vector.
  *
  * Format (version 1) — built for STREAMING writes of sorted positions
  * (the delete job emits them pre-sorted, so an executor encodes with O(1)
  * memory regardless of cardinality):
  *
  * {{{
  *   "PJDV"               4-byte magic
  *   0x01                 format version
  *   delta varints        first position, then gaps (pos[i] - pos[i-1]),
  *                        unsigned LEB128
  *   count                big-endian int64 (trailer — known only at the end)
  *   crc32                big-endian int32 over ALL preceding bytes
  * }}}
  *
  * Vectors are IMMUTABLE once published (a later DELETE merges old + new
  * positions into a NEW file), so executors cache decoded vectors by path
  * alone.
  */
object PjDeletionVector {
  val DirName = "_pj_dv"
  private val Magic = Array[Byte]('P', 'J', 'D', 'V')
  private val Version: Byte = 1

  def dvDir(root: Path): Path = new Path(root, DirName)

  /** Table-relative path for a fresh vector file. */
  def newRelPath(): String =
    s"$DirName/${java.util.UUID.randomUUID().toString}.dv"

  private def writeVarint(out: java.io.OutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  /** Stream-encode strictly-ascending positions to `out`. Returns the
    * cardinality. The caller owns the stream.
    */
  def encode(out: java.io.OutputStream, positions: Iterator[Long]): Long = {
    val crc = new java.util.zip.CRC32()
    val co = new java.util.zip.CheckedOutputStream(out, crc)
    co.write(Magic); co.write(Version)
    var prev = -1L
    var count = 0L
    while (positions.hasNext) {
      val p = positions.next()
      if (p <= prev)
        throw new PJException(
          s"pjparquet: deletion-vector positions must be strictly ascending " +
            s"(got $p after $prev)")
      writeVarint(co, p - prev - 1) // prev starts at −1, so the first delta is p itself
      prev = p
      count += 1
    }
    // trailer: count (checksummed), then the crc of everything before it
    val cb = java.nio.ByteBuffer.allocate(8).putLong(count).array()
    co.write(cb)
    val tb = java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
    out.write(tb)
    out.flush()
    count
  }

  /** Write a vector file (temp + rename — readers never see a torn file). */
  def write(fs: FileSystem, root: Path, rel: String, positions: Iterator[Long]): Long = {
    val dest = new Path(root, rel)
    fs.mkdirs(dest.getParent)
    val tmp = new Path(dest.getParent, s".${dest.getName}.tmp")
    val out = fs.create(tmp, true)
    val n = try encode(out, positions) finally out.close()
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      throw new PJException(s"pjparquet: cannot publish deletion vector at $dest")
    }
    n
  }

  /** Decode a vector's positions (sorted ascending). */
  def decode(bytes: Array[Byte]): Array[Long] = {
    if (bytes.length < 17 ||
        bytes(0) != Magic(0) || bytes(1) != Magic(1) ||
        bytes(2) != Magic(2) || bytes(3) != Magic(3))
      throw new PJException("pjparquet: not a deletion vector (bad magic)")
    if (bytes(4) != Version)
      throw new PJException(
        s"pjparquet: unsupported deletion-vector version ${bytes(4)}")
    val bb = java.nio.ByteBuffer.wrap(bytes, bytes.length - 12, 12)
    val count = bb.getLong
    val storedCrc = bb.getInt
    val crc = new java.util.zip.CRC32()
    crc.update(bytes, 0, bytes.length - 4)
    if (crc.getValue.toInt != storedCrc)
      throw new PJException("pjparquet: corrupt deletion vector (crc mismatch)")
    if (count < 0 || count > Int.MaxValue)
      throw new PJException(s"pjparquet: implausible deletion-vector cardinality $count")
    val out = new Array[Long](count.toInt)
    var off = 5
    var prev = -1L
    var i = 0
    val end = bytes.length - 12
    while (i < count) {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        if (off >= end)
          throw new PJException("pjparquet: truncated deletion vector")
        b = bytes(off) & 0xff
        v |= (b & 0x7fL) << shift
        shift += 7
        off += 1
      } while ((b & 0x80) != 0)
      prev = prev + 1 + v
      out(i) = prev
      i += 1
    }
    if (off != end)
      throw new PJException("pjparquet: deletion vector has trailing bytes")
    out
  }

  /** Load + decode a vector file. */
  def load(fs: FileSystem, path: Path): Array[Long] = {
    val st = fs.getFileStatus(path)
    val len = st.getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(path)
    try in.readFully(0, buf) finally in.close()
    decode(buf)
  }

  // ---------------------------------------------------- executor-side cache

  /** Decoded vectors are immutable — cache by absolute path, bounded LRU
    * (a task re-reading its file's vector per split would otherwise pay
    * the decode once per split). Bounded by retained POSITIONS, not entry
    * count: one heavily-deleted file's vector can be orders of magnitude
    * larger than another's, and a count bound alone could retain
    * gigabytes on a wide executor. `conf` is evaluated on a miss only.
    */
  private val MaxCachedPositions = 32L << 20 // ≤ 256 MB of retained longs
  private val cache =
    new java.util.LinkedHashMap[String, Array[Long]](64, 0.75f, true)
  private var cachedPositions = 0L

  def cached(conf: => org.apache.hadoop.conf.Configuration, absPath: String): Array[Long] = {
    cache.synchronized {
      val hit = cache.get(absPath)
      if (hit != null) return hit
    }
    val p = new Path(absPath)
    val v = load(p.getFileSystem(conf), p)
    cache.synchronized {
      if (cache.put(absPath, v) == null) cachedPositions += v.length
      val it = cache.entrySet().iterator()
      while ((cachedPositions > MaxCachedPositions || cache.size() > 4096) && it.hasNext) {
        val eldest = it.next()
        if (eldest.getKey != absPath) { // never evict the entry being served
          cachedPositions -= eldest.getValue.length
          it.remove()
        }
      }
    }
    v
  }

  /** Binary-search membership in a sorted position array. */
  def contains(sorted: Array[Long], pos: Long): Boolean =
    java.util.Arrays.binarySearch(sorted, pos) >= 0

  /** Number of positions in `sorted` that fall in [from, until). */
  def countInRange(sorted: Array[Long], from: Long, until: Long): Int = {
    val lo = lowerBound(sorted, from)
    val hi = lowerBound(sorted, until)
    hi - lo
  }

  /** First index whose value is >= key. */
  def lowerBound(sorted: Array[Long], key: Long): Int = {
    val i = java.util.Arrays.binarySearch(sorted, key)
    if (i >= 0) {
      // first of any equal run
      var j = i
      while (j > 0 && sorted(j - 1) == key) j -= 1
      j
    } else -(i + 1)
  }

  /** Merge two strictly-ascending position streams (dedup). */
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length || j < b.length) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) { val x = a(i); i += 1; x }
        else { val x = b(j); j += 1; x }
      if (k == 0 || out(k - 1) != v) { out(k) = v; k += 1 }
      else () // duplicate across the streams
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }
}
