package graft.core

import java.io.{ByteArrayOutputStream, FileNotFoundException, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** O3-O7: reassemble a pruned-but-valid `FileMetaData` Thrift message by
  * byte-splicing the requested row groups × columns out of the verbatim
  * footer bytes stored in a PJ_2 index — no full footer parse.
  *
  * Direct port of the reference splice (`/root/reference/python/palletjack/
  * palletjack.cc:369-616`): schema-element splice with root `num_children`
  * rewrite (`:474-477`), `num_rows` rewrite (`:492-508`), per-row-group
  * `ColumnChunk` splice using offsets *relative* to each RowGroup start
  * (`:549-566`), optional `column_orders` splice with the absent-section
  * all-zero sentinel (`:581-602`). Error messages are kept verbatim
  * (`:377-411,618-678`).
  */
object PJSplice {

  /** Raw per-chunk facts lifted from the footer bytes; -1 / null = absent.
    * `physType` is the parquet physical type enum (INT32=1, INT64=2, ...);
    * min/max are the v2 `min_value`/`max_value` plain-encoded bytes.
    */
  private[graft] final case class ChunkStats(
      physType: Int, nullCount: Long, min: Array[Byte], max: Array[Byte],
      /** `is_min_value_exact`/`is_max_value_exact` (Statistics fields 8/7):
        * 1 = true, 0 = false (value is a TRUNCATED bound, not a real value),
        * -1 = absent (pre-2.10 writers; parquet-java and arrow leave it out
        * exactly when they did NOT truncate, and both either set it false or
        * drop the stat entirely when they do).
        */
      minExact: Int = -1, maxExact: Int = -1)

  /** Parsed view over an index byte array (header + section cursors). */
  final class Index private[core] (val bytes: Array[Byte], bodyOff: Int, val header: PJIndex.Header) {
    import header._
    private val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    // Section starts, in u32 units from bodyOff.
    private val numRowsOffsetsAt = 0
    private val rowNumbersAt = numRowsOffsetsAt + numRowsOffsetsSize
    private val schemaOffsetsAt = rowNumbersAt + rowNumbersSize
    private val ncOffsetsAt = schemaOffsetsAt + schemaOffsetsSize
    private val rowGroupsOffsetsAt = ncOffsetsAt + schemaNumChildrenOffsetsSize
    private val columnOrdersOffsetsAt = rowGroupsOffsetsAt + rowGroupsOffsetsSize
    private val columnChunksOffsetsAt = columnOrdersOffsetsAt + columnOrdersOffsetsSize
    private val subtreeMetaAt = columnChunksOffsetsAt + columnChunksOffsetsSize
    private val namesAt = bodyOff + 4 * (subtreeMetaAt + subtreeMetaSize)
    private[core] val metadataAt = namesAt + columnNamesLength

    /** PJ_3: schema elements in top-level field c's subtree (1 for PJ_2). */
    private[graft] def elemsOf(c: Int): Int =
      if (!header.nested) 1 else u32(subtreeMetaAt + c)
    /** PJ_3: leaf columns under top-level field c (1 for PJ_2). */
    private[graft] def leavesOf(c: Int): Int =
      if (!header.nested) 1 else u32(subtreeMetaAt + columns + c)

    private def u32(idx: Int): Int = bb.getInt(bodyOff + 4 * idx)

    def numRowsOffset(i: Int): Int = u32(numRowsOffsetsAt + i)
    /** Per-row-group row count (stored u32). */
    def rowNumber(rg: Int): Long = u32(rowNumbersAt + rg) & 0xffffffffL
    def schemaOffset(i: Int): Int = u32(schemaOffsetsAt + i)
    def ncOffset(elem: Int, i: Int): Int = u32(ncOffsetsAt + 2 * elem + i)
    def rowGroupsOffset(i: Int): Int = u32(rowGroupsOffsetsAt + i)
    def columnOrdersOffset(i: Int): Int = u32(columnOrdersOffsetsAt + i)
    def columnChunkOffset(rg: Int, i: Int): Int = u32(columnChunksOffsetsAt + (1 + columns + 1) * rg + i)

    /** NUL-separated names in schema order (`palletjack.cc:432-444`). */
    def columnNames: Array[String] = {
      val out = new Array[String](columns)
      var p = namesAt
      var c = 0
      while (c < columns) {
        var e = p
        while (bytes(e) != 0) e += 1
        out(c) = new String(bytes, p, e - p, StandardCharsets.UTF_8)
        p = e + 1
        c += 1
      }
      if (p != metadataAt) throw new PJException("Internal error, when reading column names!")
      out
    }

    /** Exact `ColumnMetaData.total_compressed_size` of chunk (rg, col):
      * a bounded walk of the ONE chunk struct the index already points at
      * (tens of bytes) — never a footer parse. Returns -1 when the field
      * is absent (nonstandard footer); callers fall back to estimates.
      * Powers truthful planning statistics for AQE.
      */
    private[graft] def chunkCompressedSize(rg: Int, col: Int): Long = {
      // PJ_3 multi-leaf field: the offset range spans several chunk
      // structs; the single-struct walk below would report only the first
      // leaf — callers fall back to estimates instead of a wrong number
      if (header.nested && leavesOf(col) != 1) return -1L
      val rgAt = metadataAt + rowGroupsOffset(1 + rg)
      val r = new ThriftCompact.Reader(
        bytes,
        rgAt + columnChunkOffset(rg, 1 + col),
        rgAt + columnChunkOffset(rg, 1 + col + 1))
      // ColumnChunk struct: field 3 = meta_data (ColumnMetaData), whose
      // field 7 = total_compressed_size (i64)
      var fid = 0
      while (true) {
        val (tpe, f) = r.readFieldHeader(fid)
        if (tpe == 0) return -1L
        fid = f
        if (f == 3 && tpe == ThriftCompact.TypeStruct) {
          var mfid = 0
          while (true) {
            val (mt, mf) = r.readFieldHeader(mfid)
            if (mt == 0) return -1L
            mfid = mf
            if (mf == 7 && mt == ThriftCompact.TypeI64) return r.readZigZag64()
            r.skipValue(mt)
          }
        } else r.skipValue(tpe)
      }
      -1L // unreachable
    }

    /** Per-chunk statistics from the verbatim footer bytes, via the same
      * bounded one-chunk walk as [[chunkCompressedSize]] (tens of bytes,
      * never a footer parse). Captures ColumnMetaData field 1 (physical
      * type) and field 12 (Statistics: 3=null_count, 5=max_value,
      * 6=min_value — the v2 fields with type-defined sort order; the
      * legacy min/max pair is deliberately ignored). Absent pieces come
      * back as -1 / null and callers must treat them as "unknown".
      */
    private[graft] def chunkStats(rg: Int, col: Int): ChunkStats = {
      // PJ_3: whole-FIELD stats are meaningful only for a top-level field
      // that IS a plain leaf (one schema element). A group's first-leaf
      // stats must not stand in for the whole field — e.g. "every leaf
      // value null" does not imply "every struct null", so IsNotNull
      // pruning on them would be unsound. Per-LEAF stats (keyed by the
      // leaf's own dotted path) come from [[leafChunkStats]] instead.
      if (header.nested && elemsOf(col) != 1)
        return ChunkStats(-1, -1L, null, null)
      val rgAt = metadataAt + rowGroupsOffset(1 + rg)
      val r = new ThriftCompact.Reader(
        bytes,
        rgAt + columnChunkOffset(rg, 1 + col),
        rgAt + columnChunkOffset(rg, 1 + col + 1))
      parseChunkStruct(r)._2
    }

    /** PJ_3 nested data skipping: per-LEAF (dotted path, stats) under
      * top-level field `col`. The field's offset range spans its
      * `leavesOf(col)` consecutive ColumnChunk structs; thrift compact
      * structs are self-delimiting, so each parse leaves the reader at
      * the next leaf's start. The dotted path comes from each chunk's own
      * `ColumnMetaData.path_in_schema` — a leaf's min/max/null_count
      * bound THAT leaf's values exactly (an ancestor-null row counts as a
      * null leaf value), so filters naming the leaf prune soundly where
      * whole-field stats could not.
      */
    private[graft] def leafChunkStats(rg: Int, col: Int): IndexedSeq[(String, ChunkStats)] = {
      val nLeaves = leavesOf(col)
      val rgAt = metadataAt + rowGroupsOffset(1 + rg)
      val r = new ThriftCompact.Reader(
        bytes,
        rgAt + columnChunkOffset(rg, 1 + col),
        rgAt + columnChunkOffset(rg, 1 + col + 1))
      (0 until nLeaves).map(_ => parseChunkStruct(r))
    }

    /** Parse ONE ColumnChunk struct at the reader's position, capturing
      * `ColumnMetaData` field 1 (physical type), field 3 (path_in_schema,
      * returned dot-joined) and field 12 (Statistics: 3=null_count,
      * 5=max_value, 6=min_value, 7/8=is_max/min_value_exact — the v2
      * fields with type-defined sort order; the legacy min/max pair is
      * deliberately ignored). Absent pieces come back -1 / null and
      * callers must treat them as "unknown".
      */
    private def parseChunkStruct(r: ThriftCompact.Reader): (String, ChunkStats) = {
      var physType = -1
      var nullCount = -1L
      var minV: Array[Byte] = null
      var maxV: Array[Byte] = null
      var minExact = -1
      var maxExact = -1
      var path: String = null
      var fid = 0
      var done = false
      while (!done) {
        val (tpe, f) = r.readFieldHeader(fid)
        if (tpe == 0) done = true
        else {
          fid = f
          if (f == 3 && tpe == ThriftCompact.TypeStruct) {
            var mfid = 0
            var mdone = false
            while (!mdone) {
              val (mt, mf) = r.readFieldHeader(mfid)
              if (mt == 0) mdone = true
              else {
                mfid = mf
                if (mf == 1 && mt == ThriftCompact.TypeI32) physType = r.readZigZag32()
                else if (mf == 3 && mt == ThriftCompact.TypeList) {
                  val (et, n) = r.readListHeader()
                  if (et == ThriftCompact.TypeBinary) {
                    val sb = new java.lang.StringBuilder()
                    var i = 0
                    while (i < n) {
                      if (i > 0) sb.append('.')
                      sb.append(r.readString())
                      i += 1
                    }
                    path = sb.toString
                  } else {
                    var i = 0
                    while (i < n) {
                      // list elements encode bools as one byte
                      if (et == ThriftCompact.TypeBoolTrue || et == ThriftCompact.TypeBoolFalse)
                        r.skipBytes(1)
                      else r.skipValue(et)
                      i += 1
                    }
                  }
                } else if (mf == 12 && mt == ThriftCompact.TypeStruct) {
                  var sfid = 0
                  var sdone = false
                  while (!sdone) {
                    val (st, sf) = r.readFieldHeader(sfid)
                    if (st == 0) sdone = true
                    else {
                      sfid = sf
                      if (sf == 3 && st == ThriftCompact.TypeI64) nullCount = r.readZigZag64()
                      else if (sf == 5 && st == ThriftCompact.TypeBinary) maxV = r.readBinary()
                      else if (sf == 6 && st == ThriftCompact.TypeBinary) minV = r.readBinary()
                      else if (sf == 7 && (st == ThriftCompact.TypeBoolTrue ||
                        st == ThriftCompact.TypeBoolFalse))
                        maxExact = if (st == ThriftCompact.TypeBoolTrue) 1 else 0
                      else if (sf == 8 && (st == ThriftCompact.TypeBoolTrue ||
                        st == ThriftCompact.TypeBoolFalse))
                        minExact = if (st == ThriftCompact.TypeBoolTrue) 1 else 0
                      else r.skipValue(st)
                    }
                  }
                } else r.skipValue(mt)
              }
            }
          } else r.skipValue(tpe)
        }
      }
      (path, ChunkStats(physType, nullCount, minV, maxV, minExact, maxExact))
    }

    /** Byte-compare the index's embedded original footer against the data
      * file's actual footer bytes. Identical bytes mean the index's spliced
      * metadata is exactly what the file's own footer would produce —
      * the sound freshness check for in-place rewrites that mtime and
      * length can't distinguish.
      */
    private[graft] def footerMatches(fileFooter: Array[Byte]): Boolean =
      fileFooter.length == header.metadataLength &&
        java.util.Arrays.equals(
          bytes, metadataAt, metadataAt + header.metadataLength,
          fileFooter, 0, fileFooter.length)

    /** FNV-1a 64 fingerprint of the embedded original footer bytes. Other
      * (optional) sidecars — e.g. the bloom sidecar — store this at build
      * time and compare on load, inheriting the index's footer-level
      * freshness proof without re-reading the data file: if the index is
      * fresh (footerMatches) and a sidecar's fingerprint equals the
      * index's, that sidecar was built against the same file content.
      */
    private[graft] def footerFnv64: Long =
      PJSplice.fnv64(bytes, metadataAt, header.metadataLength)
  }

  /** FNV-1a 64 over a byte range — the footer-fingerprint primitive shared
    * by [[Index.footerFnv64]], the bloom sidecars, and the commit log's
    * per-file entries (which record it at write time so logged-table
    * planning can trust a sidecar without re-reading the data file).
    */
  private[graft] def fnv64(bytes: Array[Byte], off: Int, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = off
    val end = off + len
    while (i < end) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  object Index {
    /** In-memory index (`palletjack.cc:656-678`). */
    def fromBytes(indexData: Array[Byte]): Index = {
      if (indexData.length < PJIndex.HeaderLength)
        throw new PJException(s"Index data is too small, length=${indexData.length}")
      if (!PJIndex.Header.magicOk(indexData, 0))
        throw new PJException("Index file has unexpected format!")
      val h = PJIndex.Header.parse(indexData, 0)
      val expected = PJIndex.HeaderLength + h.bodySize
      if (indexData.length.toLong != expected)
        throw new PJException(s"Index data has unexpected length, length=${indexData.length}, expected=$expected")
      new Index(indexData, PJIndex.HeaderLength, h)
    }

    /** Index sidecar file (`palletjack.cc:618-654`). */
    def fromFile(indexFilePath: String): Index = {
      val f = new java.io.File(indexFilePath)
      if (!f.isFile)
        throw new FileNotFoundException(s"Failed to open local file '$indexFilePath'")
      val raf = new RandomAccessFile(f, "r")
      try {
        val len = raf.length()
        if (len < PJIndex.HeaderLength)
          throw new PJException(s"I/O error when reading '$indexFilePath'")
        val head = new Array[Byte](PJIndex.HeaderLength)
        raf.readFully(head)
        if (!PJIndex.Header.magicOk(head, 0))
          throw new PJException(s"File '$indexFilePath' has unexpected format!")
        val h = PJIndex.Header.parse(head, 0)
        if (len != PJIndex.HeaderLength + h.bodySize)
          throw new PJException(s"I/O error when reading '$indexFilePath'")
        val all = new Array[Byte](len.toInt)
        System.arraycopy(head, 0, all, 0, PJIndex.HeaderLength)
        raf.readFully(all, PJIndex.HeaderLength, len.toInt - PJIndex.HeaderLength)
        new Index(all, PJIndex.HeaderLength, h)
      } finally raf.close()
    }
  }

  /** Core splice (`palletjack.cc:369-616`). Returns the pruned FileMetaData
    * Thrift bytes. Empty `rowGroups` with `schemaOnly=false` keeps all row
    * groups; empty column selection keeps all columns.
    */
  def splice(
      index: Index,
      rowGroups: Seq[Int],
      columnIndices: Seq[Int],
      columnNames: Seq[String],
      schemaOnly: Boolean): Array[Byte] = {
    val h = index.header
    val src = index.bytes
    val metaAt = index.metadataAt // start of verbatim footer bytes inside the index

    // --- validation (`palletjack.cc:383-411`)
    for (rg <- rowGroups)
      if (rg < 0 || rg >= h.rowGroups)
        throw new PJException(s"Requested row_group=$rg, but only 0-${h.rowGroups - 1} are available!")
    if (columnIndices.nonEmpty && columnNames.nonEmpty)
      throw new PJException("Cannot specify both column indices and column names at the same time!")
    for (c <- columnIndices)
      if (c < 0 || c >= h.columns)
        throw new PJException(s"Requested column=$c, but only 0-${h.columns - 1} are available!")

    // --- name resolution (`palletjack.cc:427-457`): last-wins, exact match
    val columns: IndexedSeq[Int] =
      if (columnNames.nonEmpty) {
        val map = new java.util.HashMap[String, Int]()
        val names = index.columnNames
        var c = 0
        while (c < names.length) { map.put(names(c), c); c += 1 }
        columnNames.iterator.map { n =>
          if (!map.containsKey(n))
            throw new PJException(s"Couldn't find a column with a name '$n'!")
          map.get(n): Int
        }.toIndexedSeq
      } else columnIndices.toIndexedSeq

    val rowGroupFiltering = rowGroups.nonEmpty || schemaOnly
    val selectedRgs: Seq[Int] = if (rowGroupFiltering) rowGroups else 0 until h.rowGroups

    // sized to the selection, not the whole footer: everything outside the
    // row-group list (schema, column orders, key-value metadata) as an upper
    // bound, each selected row group with only its selected column chunks,
    // and room for the re-encoded list headers and counts
    val outSize = {
      var n = 64L + index.rowGroupsOffset(1) +
        (h.metadataLength - index.rowGroupsOffset(1 + h.rowGroups))
      for (rg <- selectedRgs) {
        n += 8 + index.rowGroupsOffset(2 + rg) - index.rowGroupsOffset(1 + rg)
        if (columns.nonEmpty) {
          n -= index.columnChunkOffset(rg, 1 + h.columns) - index.columnChunkOffset(rg, 1)
          for (c <- columns)
            n += index.columnChunkOffset(rg, 2 + c) - index.columnChunkOffset(rg, 1 + c)
        }
      }
      // a corrupt index fails in copyRange below, not here
      math.max(64L, math.min(n, h.metadataLength + 64L)).toInt
    }
    val out = new ByteArrayOutputStream(outSize)
    var srcIdx = 0 // cursor into the metadata bytes (reference's index_src)

    def copyRange(from: Int, len: Int): Unit = {
      if (len < 0 || from < 0 || from + len > h.metadataLength)
        throw new PJException(s"Requested reading outside source range, src_idx=$from, to_copy=$len, size=${h.metadataLength}")
      out.write(src, metaAt + from, len)
    }

    // PJ_3 nested extension: a "column" is a top-level SUBTREE — the
    // schema list count is 1 (root) + selected subtree element counts,
    // and chunk/column-order list counts are the selected LEAF totals.
    // For PJ_2 both are the selection size (every field is one leaf).
    val selElems = columns.iterator.map(index.elemsOf).sum
    val selLeaves = columns.iterator.map(index.leavesOf).sum

    if (columns.nonEmpty) {
      //> 2: required list<SchemaElement> schema
      val schemaListAt = index.schemaOffset(0)
      copyRange(srcIdx, schemaListAt - srcIdx)
      ThriftCompact.Write.listBegin(out, ThriftCompact.TypeStruct, selElems + 1) // + root
      val rootAt = index.schemaOffset(1)
      srcIdx = rootAt
      // root element up to its num_children value, then the rewritten count
      copyRange(srcIdx, rootAt + index.ncOffset(0, 0) - srcIdx)
      ThriftCompact.Write.i32(out, columns.size) //> 5: optional i32 num_children
      srcIdx = rootAt + index.ncOffset(0, 1)
      copyRange(srcIdx, index.schemaOffset(2) - srcIdx)
      for (c <- columns) {
        val at = index.schemaOffset(2 + c)
        copyRange(at, index.schemaOffset(2 + c + 1) - at)
      }
      srcIdx = index.schemaOffset(2 + h.columns)
    }

    if (rowGroupFiltering) {
      //> 3: required i64 num_rows
      var numRows = 0L
      for (rg <- rowGroups) numRows += index.rowNumber(rg)
      copyRange(srcIdx, index.numRowsOffset(0) - srcIdx)
      ThriftCompact.Write.i64(out, numRows)
      srcIdx = index.numRowsOffset(1)
    }

    if (rowGroupFiltering) {
      //> 4: required list<RowGroup> row_groups
      copyRange(srcIdx, index.rowGroupsOffset(0) - srcIdx)
      ThriftCompact.Write.listBegin(out, ThriftCompact.TypeStruct, rowGroups.size)
      srcIdx = index.rowGroupsOffset(1)
    } else {
      copyRange(srcIdx, index.rowGroupsOffset(1) - srcIdx) // incl. list header
      srcIdx = index.rowGroupsOffset(1)
    }

    for (rgIdx <- selectedRgs) {
      val rgAt = index.rowGroupsOffset(1 + rgIdx)
      srcIdx = rgAt
      if (columns.nonEmpty) {
        //> 1: required list<ColumnChunk> columns   (offsets relative to rgAt)
        copyRange(srcIdx, rgAt + index.columnChunkOffset(rgIdx, 0) - srcIdx)
        ThriftCompact.Write.listBegin(out, ThriftCompact.TypeStruct, selLeaves)
        for (c <- columns) {
          val at = index.columnChunkOffset(rgIdx, 1 + c)
          copyRange(rgAt + at, index.columnChunkOffset(rgIdx, 1 + c + 1) - at)
        }
        srcIdx = rgAt + index.columnChunkOffset(rgIdx, 1 + h.columns)
        copyRange(srcIdx, index.rowGroupsOffset(1 + rgIdx + 1) - srcIdx)
      } else {
        copyRange(srcIdx, index.rowGroupsOffset(1 + rgIdx + 1) - srcIdx)
      }
    }
    srcIdx = index.rowGroupsOffset(1 + h.rowGroups)

    if (columns.nonEmpty && index.columnOrdersOffset(0) != 0) {
      //> 7: optional list<ColumnOrder> column_orders
      copyRange(srcIdx, index.columnOrdersOffset(0) - srcIdx)
      ThriftCompact.Write.listBegin(out, ThriftCompact.TypeStruct, selLeaves)
      for (c <- columns) {
        val at = index.columnOrdersOffset(1 + c)
        copyRange(at, index.columnOrdersOffset(1 + c + 1) - at)
      }
      srcIdx = index.columnOrdersOffset(1 + h.columns)
    }

    copyRange(srcIdx, h.metadataLength - srcIdx) // leftovers
    out.toByteArray
  }
}
