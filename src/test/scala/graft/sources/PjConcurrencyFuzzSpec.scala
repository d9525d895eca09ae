package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.pjparquet.{PjCommitLog, PjParquetTable}

/** Seeded multi-writer concurrency fuzzer over the write matrix (r16,
  * verdict item #1): N threads run random schedules of append / DV
  * DELETE / CoW UPDATE / MERGE / OPTIMIZE / ZORDER / idempotent
  * txn-append / COPY INTO against ONE table, and at quiesce the final
  * content must equal a commutative reference model built from the ops
  * that REPORTED success:
  *
  *  - ids are minted globally unique per op, deletes/updates target
  *    EXPLICIT id lists, and updates are additive — so the expected
  *    final state is order-independent: ids = successful appends −
  *    successful deletes; v(id) = 7·id + Σ deltas of successful updates
  *    listing a surviving id;
  *  - no resurrected DV-deleted row, no doubled row, no lost committed
  *    append, and exactly-once update application all fall out of ONE
  *    map equality;
  *  - plus: `verify_log` fully sealed/ok, cold log replay ≡ cached HEAD,
  *    and `_row_id` uniqueness (row tracking never double-mints).
  *
  * Ops that lose an optimistic-concurrency race are SANCTIONED failures
  * (the engine must refuse loudly, not corrupt) — they retry a few
  * times, and only a reported success enters the model. Any other
  * exception fails the run with its seed for replay. RESTORE is
  * excluded from the random mix (it makes the model non-monotone); its
  * races are pinned by PjMaintenanceConcurrencySpec/PjRestoreSpec.
  */
class PjConcurrencyFuzzSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.pjfuzz", "graft.sources.pjparquet.PjCatalog")

  private val nSeeds = sys.env.get("GRAFT_FUZZ_SEEDS").map(_.toInt).getOrElse(200)
  /** Exploration knob: shift the whole seed window (CI keeps 0). */
  private val seedOffset = sys.env.get("GRAFT_FUZZ_SEED_OFFSET").map(_.toInt).getOrElse(0)
  private val nThreads = 3
  private val opsPerThread = 3

  /** Sanctioned loss of an optimistic-concurrency race. */
  private def isConflict(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      val m = Option(t.getMessage).getOrElse("")
      if (m.contains("conflict") || m.contains("concurrent writer") ||
        // a partition-spec evolution computed from a spec another evolve
        // replaced mid-flight: the engine refuses (loudly, as required) —
        // the op re-reads the current spec and retries
        m.contains("drops current partition column")) return true
      t = t.getCause
    }
    false
  }

  /** Run `op`; true iff it reported success. Conflicts retry then give
    * up (recorded as failure); anything else propagates with the seed.
    */
  private def attempt(seed: Int, what: String)(op: => Unit): Boolean = {
    var tries = 0
    while (tries < 5) {
      tries += 1
      try { op; return true }
      catch {
        case e: Throwable if isConflict(e) => Thread.sleep(2L * tries)
        case e: Throwable =>
          throw new AssertionError(s"seed=$seed op=$what failed non-conflict: $e", e)
      }
    }
    false
  }

  private def runSchedule(seed: Int, partitioned: Boolean,
      cdf: Boolean = false, schemaEvo: Boolean = false): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(f"pj_fuzz_$seed%04d")
    java.nio.file.Files.delete(dir)
    val t = dir.toString
    // the partitioned lane (q168's lesson: coverage axes hide bugs) runs
    // the SAME schedules over a Hive-partitioned table — partition
    // routing, per-directory compaction, partitioned DV DML, and the
    // partition-scoped conflict validation all join the race
    // the CDF lane also arms AUTO-COMPACTION, so maintenance rewrites
    // fire from inside racing appends for free
    val props =
      if (cdf) " TBLPROPERTIES ('pj.changeFeed.enabled'='true', " +
        "'pj.autoCompact.enabled'='true', 'pj.autoCompact.minFiles'='4')"
      else ""
    if (schemaEvo)
      // the schema-evolution lane races DDL against writers on a
      // partitioned table; p2 is a plain data column until a
      // partition-spec evolution op promotes a FRESH column
      spark.sql(s"CREATE TABLE pjfuzz.`$t` (id BIGINT, v BIGINT, p BIGINT, p2 BIGINT) " +
        s"USING pjparquet PARTITIONED BY (p)$props")
    else if (partitioned)
      spark.sql(s"CREATE TABLE pjfuzz.`$t` (id BIGINT, v BIGINT, p BIGINT) " +
        s"USING pjparquet PARTITIONED BY (p)$props")
    else
      spark.sql(s"CREATE TABLE pjfuzz.`$t` (id BIGINT, v BIGINT) USING pjparquet$props")
    def rows(ids: Seq[Long]) = {
      val base = ids.map(i => (i, i * 7))
      if (schemaEvo)
        base.map { case (i, v) => (i, v, i % 4, i % 2) }.toDF("id", "v", "p", "p2")
      else if (partitioned) base.map { case (i, v) => (i, v, i % 4) }.toDF("id", "v", "p")
      else base.toDF("id", "v")
    }
    // base population: ids 0..19, v = 7*id
    rows(0L until 20L).coalesce(1).writeTo(s"pjfuzz.`$t`").append()

    val appended = new ConcurrentLinkedQueue[Seq[Long]]()
    val deleted = new ConcurrentLinkedQueue[Seq[Long]]()
    val updates = new ConcurrentLinkedQueue[(Seq[Long], Long)]() // (ids, delta)
    val txnLanded = new ConcurrentLinkedQueue[Seq[Long]]()
    val addedCols = new ConcurrentLinkedQueue[String]()
    // schema-evolution lane bookkeeping: expected FINAL column names
    // (rename), expected final types (widening), and default promises —
    // each queued AFTER the op completes, so the model is order-free
    val renamedCols = new ConcurrentLinkedQueue[String]()
    val widenedCols = new ConcurrentLinkedQueue[(String, Boolean)]() // (name, widened?)
    val defaultCols = new ConcurrentLinkedQueue[(String, Long)]() // (name, default)
    val evolvedSpecs = new ConcurrentLinkedQueue[String]() // partition col added
    appended.add(0L until 20L)

    def liveIdSample(rnd: scala.util.Random): Seq[Long] =
      spark.table(s"pjfuzz.`$t`").select($"id")
        .collect().map(_.getLong(0)).sorted.toSeq match {
        case ids if ids.isEmpty => Nil
        case ids => rnd.shuffle(ids.toList).take(1 + rnd.nextInt(3))
      }

    def freshIds(opId: Long, n: Int): Seq[Long] =
      (0 until n).map(i => 1000000L + opId * 100L + i)

    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nThreads).map { ti =>
      val th = new Thread(() =>
        try {
          val rnd = new scala.util.Random(seed * 1000L + ti)
          def opAppend(opId: Long): Unit = {
            val ids = freshIds(opId, 2 + rnd.nextInt(3))
            if (attempt(seed, s"append#$opId") {
              rows(ids).coalesce(1).writeTo(s"pjfuzz.`$t`").append()
            }) appended.add(ids)
          }
          def opDelete(opId: Long): Unit = {
            val ids = liveIdSample(rnd)
            if (ids.nonEmpty && attempt(seed, s"delete#$opId") {
              spark.sql(
                s"DELETE FROM pjfuzz.`$t` WHERE id IN (${ids.mkString(",")})")
            }) deleted.add(ids)
          }
          def opUpdate(opId: Long): Unit = {
            val ids = liveIdSample(rnd)
            val delta = opId + 1
            if (ids.nonEmpty && attempt(seed, s"update#$opId") {
              spark.sql(s"UPDATE pjfuzz.`$t` SET v = v + $delta " +
                s"WHERE id IN (${ids.mkString(",")})")
            }) updates.add((ids, delta))
          }
          for (oi <- 0 until opsPerThread) {
            val opId = (seed.toLong * nThreads + ti) * opsPerThread + oi
            if (schemaEvo) rnd.nextInt(10) match {
              // ---- schema-evolution lane: DDL races writers (r17) ----
              case 0 | 1 | 2 => opAppend(opId)
              case 3 => opDelete(opId)
              case 4 => opUpdate(opId)
              case 5 => // ADD then RENAME a fresh column (racing writers
                // must neither lose the rename nor resurrect the old name)
                val c = s"c_$opId"; val r = s"r_$opId"
                if (attempt(seed, s"addcol#$opId") {
                  spark.sql(s"ALTER TABLE pjfuzz.`$t` ADD COLUMN $c BIGINT")
                }) {
                  if (attempt(seed, s"rename#$opId") {
                    spark.sql(s"ALTER TABLE pjfuzz.`$t` RENAME COLUMN $c TO $r")
                  }) renamedCols.add(r)
                  else addedCols.add(c)
                }
              case 6 => // type widening INT -> BIGINT (metadata-only)
                val w = s"w_$opId"
                if (attempt(seed, s"addint#$opId") {
                  spark.sql(s"ALTER TABLE pjfuzz.`$t` ADD COLUMN $w INT")
                }) widenedCols.add((w, attempt(seed, s"widen#$opId") {
                  spark.sql(s"ALTER TABLE pjfuzz.`$t` ALTER COLUMN $w TYPE BIGINT")
                }))
              case 7 => // SET DEFAULT: appends racing the promise fill
                // either null (before) or the default (after) — never junk
                val d = s"d_$opId"
                if (attempt(seed, s"adddef#$opId") {
                  spark.sql(s"ALTER TABLE pjfuzz.`$t` ADD COLUMN $d BIGINT")
                }) {
                  if (attempt(seed, s"setdefault#$opId") {
                    spark.sql(
                      s"ALTER TABLE pjfuzz.`$t` ALTER COLUMN $d SET DEFAULT $opId")
                  }) defaultCols.add((d, opId))
                  else addedCols.add(d)
                }
              case 8 => // partition-spec evolution onto a FRESH column —
                // future writes route (p, pe_N); racing appends that omit
                // it land in the null partition, content unchanged
                val pe = s"pe_$opId"
                if (attempt(seed, s"addpe#$opId") {
                  spark.sql(s"ALTER TABLE pjfuzz.`$t` ADD COLUMN $pe BIGINT")
                }) {
                  if (attempt(seed, s"evolve#$opId") {
                    // EXTEND the current spec (re-read per retry): a spec
                    // computed from a stale read drops a racing evolve's
                    // column and the engine refuses — sanctioned, retried
                    val root = new Path(t)
                    val fs = root.getFileSystem(
                      spark.sessionState.newHadoopConf())
                    val cur = graft.sources.pjparquet.PjTableProperties.recorded(
                      PjCommitLog.latest(fs, root).flatMap(_.propertiesJson),
                      graft.sources.pjparquet.PjTableProperties.PartitionColumns)
                      .getOrElse("p:bigint")
                    spark.sql(s"ALTER TABLE pjfuzz.`$t` SET TBLPROPERTIES " +
                      s"('pj.partition.columns' = '$cur,$pe:bigint')")
                  }) evolvedSpecs.add(pe)
                  else addedCols.add(pe)
                }
              case 9 => // maintenance racing the DDL storm
                attempt(seed, s"compact#$opId") {
                  spark.sql(s"CALL pjfuzz.system.compact(table => '$t')").collect()
                }
            } else rnd.nextInt(10) match {
              case 0 | 1 => // plain append (weighted: the commonest op)
                opAppend(opId)
              case 2 => // DV DELETE of an explicit live-id list
                opDelete(opId)
              case 3 => // additive UPDATE of an explicit live-id list
                opUpdate(opId)
              case 4 => // MERGE: update existing (additive) + insert fresh
                val existing = liveIdSample(rnd)
                val fresh = freshIds(opId, 2)
                val delta = opId + 1
                val view = s"pj_fuzz_src_${seed}_${ti}_$oi"
                (existing.map(i => (i, 0L, 0L, delta)) ++
                  fresh.map(i => (i, i * 7, 1L, 0L)))
                  .toDF("id", "v", "fresh", "d").createOrReplaceTempView(view)
                val insertCols =
                  if (partitioned) "(id, v, p) VALUES (s.id, s.v, s.id % 4)"
                  else "(id, v) VALUES (s.id, s.v)"
                if (attempt(seed, s"merge#$opId") {
                  spark.sql(
                    s"""MERGE INTO pjfuzz.`$t` tt USING $view s ON tt.id = s.id
                       |WHEN MATCHED AND s.fresh = 0 THEN UPDATE SET v = tt.v + s.d
                       |WHEN NOT MATCHED AND s.fresh = 1 THEN
                       |  INSERT $insertCols""".stripMargin)
                }) {
                  appended.add(fresh)
                  if (existing.nonEmpty) updates.add((existing, delta))
                }
              case 5 => // maintenance: compaction (row-preserving, model no-op)
                attempt(seed, s"compact#$opId") {
                  spark.sql(s"CALL pjfuzz.system.compact(table => '$t')").collect()
                }
              case 6 => // maintenance: clustering rewrite (model no-op)
                attempt(seed, s"zorder#$opId") {
                  spark.sql(s"CALL pjfuzz.system.optimize_zorder(" +
                    s"table => '$t', columns => 'id,v')").collect()
                }
              case 9 => // racing DDL: ADD COLUMN (metadata commit) — the
                // column must exist afterwards and read null on old rows
                if (attempt(seed, s"addcol#$opId") {
                  spark.sql(s"ALTER TABLE pjfuzz.`$t` ADD COLUMN c_$opId BIGINT")
                }) addedCols.add(s"c_$opId")
              case 8 => // COPY INTO: idempotent file ingest of an op-unique
                // staged source — rows land exactly once across retries
                val ids = freshIds(opId, 3)
                val src = java.nio.file.Files.createTempDirectory(
                  f"pj_fuzz_copy_$opId%06d").toString
                // COPY INTO copies the rows, so the staged source goes
                // once the op is over
                try {
                  rows(ids).coalesce(1).write.mode("overwrite").parquet(src)
                  var landed = false
                  if (attempt(seed, s"copy#$opId") {
                    var tries = 0
                    var pending = 1L
                    while (pending > 0 && tries < 4) {
                      tries += 1
                      val r = spark.sql(s"CALL pjfuzz.system.copy_into(" +
                        s"table => '$t', source => '$src', " +
                        s"reclaim_claims => ${tries > 1})").head()
                      pending = r.getLong(2)
                      if (r.getLong(0) + r.getLong(1) > 0) landed = true
                    }
                    if (pending > 0) throw new PJException_Like_Conflict()
                  }) { if (landed) appended.add(ids) }
                } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
              case 7 => // idempotent txn-append: EVERY thread races the
                // same (appId, version=1) with the SAME ids — exactly one
                // lands, the rest skip as replays, content identical. (A
                // per-op version would be wrong-by-design here: versions
                // under one appId form a monotone watermark, so a LOWER
                // version arriving after a higher one is a replay and is
                // correctly skipped — seed 165 taught the model that.)
                val txnIds = (0 until 2).map(i => 2000000L + seed.toLong * 10 + i)
                if (attempt(seed, s"txn#$opId") {
                  rows(txnIds).coalesce(1)
                    .write.format("pjparquet").mode("append")
                    .option("txnAppId", s"fuzz-$seed").option("txnVersion", "1")
                    .save(t)
                }) txnLanded.add(txnIds)
            }
          }
        } catch { case e: Throwable => failures.add(e) })
      th.start(); th
    }
    threads.foreach(_.join())
    if (!failures.isEmpty) throw failures.peek()

    // ---- quiesce: racing DDL — every successful ADD COLUMN is present
    // and reads null everywhere (no op ever wrote it) ----
    import scala.jdk.CollectionConverters._
    if (!addedCols.isEmpty) {
      val schema = spark.table(s"pjfuzz.`$t`").schema.fieldNames.map(_.toLowerCase).toSet
      val missing = addedCols.iterator().asScala.filterNot(c => schema.contains(c)).toSeq
      assert(missing.isEmpty, s"seed=$seed: committed ADD COLUMNs vanished: $missing")
      val c0 = addedCols.peek()
      assert(spark.table(s"pjfuzz.`$t`").filter(col(c0).isNotNull).count() == 0L,
        s"seed=$seed: never-written column $c0 must read null everywhere")
    }

    // ---- quiesce: schema-evolution lane invariants ----
    if (schemaEvo) {
      val fields = spark.table(s"pjfuzz.`$t`").schema.fields
        .map(f => f.name.toLowerCase -> f).toMap
      // RENAME: new name present, old name gone, reads null everywhere
      renamedCols.iterator().asScala.foreach { r =>
        assert(fields.contains(r), s"seed=$seed: renamed column $r vanished")
        assert(!fields.contains(r.replaceFirst("^r_", "c_")),
          s"seed=$seed: pre-rename name for $r resurrected")
        assert(spark.table(s"pjfuzz.`$t`").filter(col(r).isNotNull).count() == 0L,
          s"seed=$seed: never-written renamed column $r must read null")
      }
      // WIDENING: final type matches the op's reported outcome
      widenedCols.iterator().asScala.foreach { case (w, widened) =>
        val dt = fields.getOrElse(w,
          fail(s"seed=$seed: widened column $w vanished")).dataType
        val want =
          if (widened) org.apache.spark.sql.types.LongType
          else org.apache.spark.sql.types.IntegerType
        assert(dt == want, s"seed=$seed: $w type $dt, expected $want")
      }
      // DEFAULT promise: every stored value is null (written before the
      // promise) or the default (filled after) — never anything else
      defaultCols.iterator().asScala.foreach { case (d, dv) =>
        assert(fields.contains(d), s"seed=$seed: default column $d vanished")
        val bad = spark.table(s"pjfuzz.`$t`")
          .filter(col(d).isNotNull && col(d) =!= dv).count()
        assert(bad == 0L,
          s"seed=$seed: column $d holds values other than null/$dv")
      }
      // PARTITION EVOLUTION: every successful evolve's column is in the
      // recorded spec (each success extended the then-current spec, so
      // none may be lost), p stays first, and every row still reads
      // p = id % 4 and p2 = id % 2 regardless of its generation
      if (!evolvedSpecs.isEmpty) {
        val recorded = {
          val root = new Path(t)
          val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
          graft.sources.pjparquet.PjTableProperties.recorded(
            PjCommitLog.latest(fs, root).flatMap(_.propertiesJson),
            graft.sources.pjparquet.PjTableProperties.PartitionColumns)
        }
        assert(recorded.exists(_.startsWith("p:bigint")),
          s"seed=$seed: evolved spec lost the base key (got $recorded)")
        val lost = evolvedSpecs.iterator().asScala
          .filterNot(pe => recorded.exists(_.contains(pe))).toSeq
        assert(lost.isEmpty,
          s"seed=$seed: committed partition evolutions vanished: $lost (spec $recorded)")
      }
      val badP2 = spark.table(s"pjfuzz.`$t`").filter($"p2" =!= $"id" % 2).count()
      assert(badP2 == 0L, s"seed=$seed: $badP2 rows lost their p2 value")
    }

    // ---- quiesce: CDF net-effect replay (change feed lane) ----
    // order-free linear invariant: per id, Σ(+v on insert/update_postimage,
    // −v on delete/update_preimage) telescopes to the FINAL value for
    // survivors and 0 for deleted ids — missed, duplicated, or mislabeled
    // change rows all break the sum. Pure-move maintenance (compaction,
    // ZORDER) must contribute nothing.
    if (cdf) {
      // per id: (presence = Σ sign, value = Σ sign·v) — presence must be
      // exactly 1 (survivor) or 0 (deleted); the value telescopes to the
      // final v for survivors. Presence is the signed ROW count, not the
      // value sum, so a legitimate v=0 row still registers.
      val net = scala.collection.mutable.Map.empty[Long, (Long, Long)]
        .withDefaultValue((0L, 0L))
      spark.read.format("pjparquet")
        .option("readChangeFeed", "true").option("startingVersion", "1").load(t)
        .select($"id", $"v", $"_change_type")
        .collect().foreach { r =>
          val sign = r.getString(2) match {
            case "insert" | "update_postimage" => 1L
            case "delete" | "update_preimage" => -1L
            case other => throw new AssertionError(s"seed=$seed: change type $other")
          }
          val (c, s0) = net(r.getLong(0))
          net(r.getLong(0)) = (c + sign, s0 + sign * r.getLong(1))
        }
      val badPresence = net.filter { case (_, (c, _)) => c != 0L && c != 1L }
      assert(badPresence.isEmpty,
        s"seed=$seed: CDF presence counts outside {0,1}: ${badPresence.take(5)}")
      val replayed = net.collect { case (id, (1L, v)) => id -> v }.toMap
      val table = spark.table(s"pjfuzz.`$t`")
        .select($"id", $"v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(replayed == table,
        s"seed=$seed: CDF net-effect replay diverges from the table — " +
          s"missing=${(table.keySet -- replayed.keySet).toSeq.sorted.take(10)} " +
          s"extra=${(replayed.keySet -- table.keySet).toSeq.sorted.take(10)} " +
          s"wrong=${table.collect { case (k, v) if replayed.get(k).exists(_ != v) => k }.take(10)}")
    }

    // ---- quiesce: reference model vs table ----
    val delSet: Set[Long] = deleted.iterator().asScala.flatten.toSet
    val expIds: Set[Long] =
      (appended.iterator().asScala.flatten.toSet ++
        txnLanded.iterator().asScala.flatten.toSet) -- delSet
    val expV: Map[Long, Long] = expIds.iterator.map { id =>
      val base = id * 7
      val extra = updates.iterator().asScala
        .collect { case (ids, d) if ids.contains(id) => d }.sum
      id -> (base + extra)
    }.toMap
    val got: Map[Long, Long] = spark.table(s"pjfuzz.`$t`")
      .select($"id", $"v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (partitioned) {
      val badPart = spark.table(s"pjfuzz.`$t`")
        .filter($"p" =!= $"id" % 4).count()
      assert(badPart == 0L, s"seed=$seed: $badPart rows in the wrong partition")
    }
    val gotCount = spark.table(s"pjfuzz.`$t`").count()
    assert(gotCount == got.size.toLong,
      s"seed=$seed: doubled ids — ${gotCount} rows over ${got.size} distinct ids")
    assert(got.keySet == expIds,
      s"seed=$seed: id set mismatch — missing=${(expIds -- got.keySet).toSeq.sorted.take(10)} " +
        s"extra=${(got.keySet -- expIds).toSeq.sorted.take(10)} " +
        s"(resurrected-after-delete=${(got.keySet & delSet).toSeq.sorted.take(10)})")
    val wrongV = expV.collect { case (id, v) if got(id) != v => (id, got(id), v) }
    assert(wrongV.isEmpty,
      s"seed=$seed: value mismatches (got, expected): ${wrongV.take(10)}")

    // log audit: every commit file sealed and parseable
    val badAudit = spark.sql(s"CALL pjfuzz.system.verify_log(table => '$t')")
      .collect().filterNot(r => r.getString(3) == "ok")
    assert(badAudit.isEmpty, s"seed=$seed: verify_log flagged: ${badAudit.mkString(";")}")

    // cold replay == cached head
    PjCommitLog.clearSnapshotCache()
    PjParquetTable.clearLayoutCache()
    val cold: Map[Long, Long] = spark.table(s"pjfuzz.`$t`")
      .select($"id", $"v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cold == got, s"seed=$seed: cold log replay diverges from cached head")

    // row tracking never double-mints: non-null row ids unique
    val ridDupes = spark.table(s"pjfuzz.`$t`").select(col("_row_id"))
      .filter(col("_row_id").isNotNull)
      .groupBy(col("_row_id")).count().filter(col("count") > 1).count()
    assert(ridDupes == 0L, s"seed=$seed: duplicated _row_id values")

    // reclaim disk for the next seeds
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))
  }

  /** Seeds run in small parallel batches (each on its own table) — the
    * WITHIN-seed threads provide the race pressure, the batching just
    * buys wall-clock.
    */
  private def runLane(seeds: Range, partitioned: Boolean, cdf: Boolean = false,
      schemaEvo: Boolean = false): Unit =
    seeds.grouped(4).foreach { batch =>
      val fails = new ConcurrentLinkedQueue[Throwable]()
      val ts = batch.map { s =>
        val th = new Thread(() =>
          try runSchedule(s + seedOffset, partitioned, cdf, schemaEvo)
          catch { case e: Throwable => fails.add(e) })
        th.start(); th
      }
      ts.foreach(_.join())
      if (!fails.isEmpty) throw fails.peek()
    }

  /** Marker: an op-internal retryable condition (pending COPY INTO claims
    * under contention) — reported as a conflict so [[attempt]] retries.
    */
  private class PJException_Like_Conflict extends RuntimeException(
    "copy_into claims pending (concurrent writer conflict); retrying")

  test(s"${nSeeds * 3 / 5} seeded schedules, unpartitioned table: every invariant holds") {
    runLane(0 until nSeeds * 3 / 5, partitioned = false)
  }

  test(s"${nSeeds * 2 / 5 - nSeeds / 5} seeded schedules, Hive-partitioned table: every invariant holds") {
    runLane(nSeeds * 3 / 5 until nSeeds * 4 / 5, partitioned = true)
  }

  test(s"${nSeeds - nSeeds * 4 / 5} seeded schedules, CDF + auto-compact table: net-effect replay exact") {
    runLane(nSeeds * 4 / 5 until nSeeds, partitioned = false, cdf = true)
  }

  test(s"$nSeeds seeded schedules, schema-evolution lane: " +
      "RENAME / widening / DEFAULT / partition evolution race writers") {
    // fresh seed window (offset by 10_000) so the lane explores different
    // schedules from the write-matrix lanes
    runLane(10000 until 10000 + nSeeds, partitioned = true, schemaEvo = true)
  }

  // ------------------------------------------------- lane 5 (round 18):
  // maintenance + catalog verbs racing writers. RESTORE makes the
  // write-matrix model non-monotone, so this lane's invariants are
  // CONSISTENCY ones that hold under ANY interleaving:
  //  - ids are globally unique per append and never re-minted, so the
  //    final table (and every clone / RTAS snapshot / tag read taken
  //    mid-race) must have UNIQUE ids with v = 7*id exactly — a torn
  //    snapshot, doubled file, or half-published rename shows up as a
  //    duplicate or junk row;
  //  - final ids ⊆ base ∪ successful appends (nothing invents rows);
  //  - when NO RESTORE reported success, every successful append is
  //    present (the monotone check, most seeds);
  //  - verify_log stays fully ok and a cold replay ≡ the cached head.
  // Catalog verbs run through a WAREHOUSE-named catalog so ALTER TABLE
  // RENAME exercises the one-directory-move path; ops racing a rename
  // flap see not-found/already-exists windows — sanctioned, retried.

  /** Suite-global claim trace (the hook var is shared — concurrent
    * schedules must not clobber each other): (nanos, root, v, action).
    */
  private val claimTrace =
    new ConcurrentLinkedQueue[(Long, String, Long, String)]()
  private lazy val armClaimHook: Unit = {
    PjCommitLog.testHookOnClaim = (r, v, a) =>
      claimTrace.add((System.nanoTime(), r, v, a))
  }

  private lazy val whDir: String = {
    val d = java.nio.file.Files.createTempDirectory("pj_fuzz_wh").toString
    spark.conf.set("spark.sql.catalog.pjfuzzwh", "graft.sources.pjparquet.PjCatalog")
    spark.conf.set("spark.sql.catalog.pjfuzzwh.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pjfuzzwh.fz")
    d
  }

  /** Lane-5 sanctioned: optimistic conflicts PLUS the windows a racing
    * rename/replace/expire legitimately opens.
    */
  private def isMaintenanceSanctioned(e: Throwable): Boolean = {
    if (isConflict(e)) return true
    var t: Throwable = e
    while (t != null) {
      val m = Option(t.getMessage).getOrElse("")
      if (m.contains("TABLE_OR_VIEW_NOT_FOUND") || m.contains("cannot be found") ||
        m.contains("NoSuchTable") || m.contains("not found") ||
        m.contains("Path does not exist") || m.contains("already exists") ||
        m.contains("TABLE_OR_VIEW_ALREADY_EXISTS") ||
        m.contains("FileNotFoundException") || m.contains("No such file") ||
        m.contains("no commit log") ||
        // mid-rename window: the log is in flight between the two dirs,
        // so log-requiring verbs briefly see a log-less path
        m.contains("require a commit-log table") ||
        m.contains("empty commit log") ||
        m.contains("requires a commit-log table") || m.contains("no such version") ||
        m.contains("unknown version") || m.contains("no parquet files under") ||
        m.contains("no tag") ||
        // a restore target that a racing expiry just dropped
        m.contains("is expired") || m.contains("has been expired") ||
        // a shallow clone / tag / restore target racing version expiry:
        // the mid-race read window Delta documents for vacuumed sources
        // (quiesce checks below stay strict — a HEAD referencing a
        // missing file still fails the lane)
        m.contains("no longer on disk") ||
        // restore/time-travel to a version a racing expiry just dropped
        m.contains("does not exist under") ||
        // a writer mid-flight while the rename flap MOVES the table
        // directory: arbitrary FS-level failures (missing staged file,
        // chmod on a vanished path) are the race lost, not corruption —
        // the quiesce consistency checks stay the backstop
        m.contains("No such file or directory") ||
        // hadoop's listStatus on a directory a rename just moved away
        m.contains("Invalid directory or I/O error") ||
        m.contains("cannot access") ||
        // materialize's source-file read racing an expiry that reclaimed
        // every external file it was about to localize: parquet schema
        // inference over the emptied path set fails at analysis time —
        // the same vanished-file window as FileNotFoundException, one
        // planner phase earlier
        m.contains("UNABLE_TO_INFER_SCHEMA") ||
        t.isInstanceOf[org.apache.hadoop.util.Shell.ExitCodeException] ||
        // hadoop's RawLocalFileSystem.listStatus maps a null File.list()
        // — a directory a racing rename just moved away mid-list — to
        // AccessDeniedException("Permission denied"). Narrowed (r19,
        // ADVICE): sanction ONLY that exact listStatus signature, so a
        // real permission bug (files written with wrong modes) in lane-5
        // maintenance ops still fails the fuzzer instead of being
        // silently retried. Nothing in the lane changes permissions, so
        // the rename race is the only legitimate producer of this shape
        // (refs listing inside expire, seed 20132).
        (t.isInstanceOf[java.nio.file.AccessDeniedException] &&
          m.contains("Permission denied")) ||
        // the java.nio twin of FileNotFoundException (its message is just
        // the path, so no string above matches): a pinned tag-read racing
        // an expiry that chose its retained set BEFORE the tag committed
        // loses exactly like the io variant (seed 20045, tagread vs
        // expire). Same vanished-file-during-maintenance family; the
        // quiesce consistency checks remain the corruption backstop.
        t.isInstanceOf[java.nio.file.NoSuchFileException] ||
        t.isInstanceOf[java.io.FileNotFoundException]) return true
      t = t.getCause
    }
    false
  }

  private def attemptM(seed: Int, what: String)(op: => Unit): Boolean = {
    var tries = 0
    while (tries < 5) {
      tries += 1
      try { op; return true }
      catch {
        case e: Throwable if isMaintenanceSanctioned(e) => Thread.sleep(2L * tries)
        case e: Throwable =>
          throw new AssertionError(s"seed=$seed op=$what failed non-sanctioned: $e", e)
      }
    }
    false
  }

  /** A frame must be a CONSISTENT snapshot: unique ids, v = 7*id. */
  private def assertConsistent(seed: Int, what: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val rows = df.select($"id", $"v").collect().map(r => (r.getLong(0), r.getLong(1)))
    val dupes = rows.groupBy(_._1).filter(_._2.length > 1).keys.toSeq
    assert(dupes.isEmpty, s"seed=$seed $what: duplicated ids $dupes")
    val junk = rows.filter { case (i, v) => v != i * 7 }
    assert(junk.isEmpty, s"seed=$seed $what: junk rows ${junk.take(5).toSeq}")
  }

  private def runMaintenanceSchedule(seed: Int): Unit = {
    armClaimHook
    val wh = whDir
    val tbl = s"t$seed"
    val name = s"pjfuzzwh.fz.$tbl"
    val nameB = s"pjfuzzwh.fz.${tbl}b"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"DROP TABLE IF EXISTS $nameB")
    spark.sql(s"CREATE TABLE $name (id BIGINT, v BIGINT) USING pjparquet")
    def rows(ids: Seq[Long]) = ids.map(i => (i, i * 7)).toDF("id", "v")
    rows(0L until 20L).coalesce(1).writeTo(name).append() // v2
    val fsW = new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())
    // the table is wherever the COMMIT LOG is — a bare directory at the
    // canonical path can be a husk a raced writer recreated
    def pathNow(): String = {
      val a = s"$wh/fz/$tbl"; val b = s"$wh/fz/${tbl}b"
      if (PjCommitLog.versions(fsW, new Path(a)).nonEmpty) a
      else if (PjCommitLog.versions(fsW, new Path(b)).nonEmpty) b
      else a
    }

    val appended = new ConcurrentLinkedQueue[Seq[Long]]()
    val opTrace = new ConcurrentLinkedQueue[String]()
    val restores = new java.util.concurrent.atomic.AtomicInteger(0)
    // RESTORE and version expiry are mutually exclusive WITH EACH OTHER
    // (the operational rule Delta documents for RESTORE vs VACUUM — a
    // reclaim inside restore's check-to-publish window is unsafe by
    // contract); both still race every other verb freely
    val restoreExpireLock = new Object
    appended.add(0L until 20L)
    def freshIds(opId: Long, n: Int): Seq[Long] =
      (0 until n).map(i => 1000000L + opId * 100L + i)

    val failures = new ConcurrentLinkedQueue[Throwable]()
    val t00 = System.nanoTime()
    def tr(msg: String): Unit =
      opTrace.add(f"${(System.nanoTime() - t00) / 1e6}%9.1fms $msg")

    val threads = (0 until nThreads).map { ti =>
      val th = new Thread(() =>
        try {
          val rnd = new scala.util.Random(seed * 1000L + ti + 77)
          for (oi <- 0 until opsPerThread) {
            val opId = (seed.toLong * nThreads + ti) * opsPerThread + oi
            val kind = rnd.nextInt(10)
            tr(s"op#$opId kind=$kind START")
            kind match {
              case 0 | 1 | 2 => // append by NAME (rename windows sanctioned)
                val ids = freshIds(opId, 2 + rnd.nextInt(3))
                if (attemptM(seed, s"append#$opId") {
                  rows(ids).coalesce(1).writeTo(name).append()
                }) {
                  appended.add(ids)
                  tr(s"append#$opId OK ids=${ids.head}.. " +
                    s"path=${pathNow()} versions=${PjCommitLog.versions(fsW, new Path(pathNow()))}")
                }
              case 3 => // RESTORE to the base population
                if (attemptM(seed, s"restore#$opId") {
                  restoreExpireLock.synchronized {
                    spark.sql(s"CALL pjfuzzwh.system.restore('${pathNow()}', 2)")
                      .collect()
                  }
                }) restores.incrementAndGet()
              case 4 => // version expiry racing everything. The age
                // guard mirrors operational reality: a zero-age expiry
                // racing writers deletes their UNCOMMITTED staged files
                // (the documented VACUUM hazard Delta's default retention
                // exists for) — commit-referenced files of RESTOREs are
                // protected by the late-version re-list instead
                attemptM(seed, s"expire#$opId") {
                  restoreExpireLock.synchronized {
                    spark.sql(s"CALL pjfuzzwh.system.expire_versions(" +
                      s"'${pathNow()}', 2, min_file_age_ms => 5000)").collect()
                  }
                }
              case 5 => // SHALLOW CLONE mid-race: the clone must be a
                // CONSISTENT snapshot (never torn), then materialize + recheck
                val target = java.nio.file.Files.createTempDirectory(
                  f"pj_fuzz_clone_$opId%06d")
                java.nio.file.Files.delete(target)
                if (attemptM(seed, s"clone#$opId") {
                  spark.sql(s"CALL pjfuzzwh.system.clone(" +
                    s"source => '${pathNow()}', target => '$target')").collect()
                }) {
                  attemptM(seed, s"cloneread#$opId") {
                    assertConsistent(seed, s"clone#$opId",
                      spark.read.format("pjparquet").load(target.toString))
                  }
                  if (attemptM(seed, s"materialize#$opId") {
                    spark.sql(s"CALL pjfuzzwh.system.materialize(" +
                      s"table => '$target')").collect()
                  }) attemptM(seed, s"matread#$opId") {
                    assertConsistent(seed, s"materialized#$opId",
                      spark.read.format("pjparquet").load(target.toString))
                  }
                  org.apache.commons.io.FileUtils.deleteDirectory(
                    new java.io.File(target.toString))
                }
              case 6 => // RTAS by name: the replaced snapshot is torn-free
                val snap = s"pjfuzzwh.fz.snap${seed}_$ti"
                if (attemptM(seed, s"rtas#$opId") {
                  spark.sql(s"CREATE OR REPLACE TABLE $snap USING pjparquet " +
                    s"AS SELECT * FROM $name")
                }) {
                  attemptM(seed, s"rtasread#$opId") {
                    assertConsistent(seed, s"rtas#$opId", spark.table(snap))
                  }
                  spark.sql(s"DROP TABLE IF EXISTS $snap")
                }
              case 7 => // rename FLAP (one-directory move) racing everything
                attemptM(seed, s"renameAB#$opId") {
                  spark.sql(s"ALTER TABLE $name RENAME TO fz.${tbl}b")
                }
                Thread.sleep(1 + rnd.nextInt(3))
                attemptM(seed, s"renameBA#$opId") {
                  spark.sql(s"ALTER TABLE $nameB RENAME TO fz.$tbl")
                }
              case 8 => // tag head + tag read: a pinned read is consistent
                val tg = s"tg$opId"
                if (attemptM(seed, s"tag#$opId") {
                  spark.sql(s"CALL pjfuzzwh.system.tag(" +
                    s"table => '${pathNow()}', name => '$tg')").collect()
                }) {
                  attemptM(seed, s"tagread#$opId") {
                    assertConsistent(seed, s"tagread#$opId",
                      spark.read.format("pjparquet").option("tag", tg)
                        .load(pathNow()))
                  }
                  attemptM(seed, s"droptag#$opId") {
                    spark.sql(s"CALL pjfuzzwh.system.drop_ref(" +
                      s"table => '${pathNow()}', name => '$tg')").collect()
                  }
                }
              case 9 => // compaction joins the maintenance storm
                attemptM(seed, s"compact#$opId") {
                  spark.sql(s"CALL pjfuzzwh.system.compact(" +
                    s"table => '${pathNow()}')").collect()
                }
            }
            tr(s"op#$opId kind=$kind END")
          }
        } catch { case e: Throwable => failures.add(e) })
      th.start(); th
    }
    threads.foreach(_.join())
    if (!failures.isEmpty) throw failures.peek()

    // ---- quiesce: settle the rename flap to the canonical name. The
    // commit log decides where the table IS; a log-less husk at the
    // canonical path (a raced writer's recreated dir) is deleted first
    // so the rename-back cannot nest into it ----
    val aP = new Path(s"$wh/fz/$tbl"); val bP = new Path(s"$wh/fz/${tbl}b")
    if (PjCommitLog.versions(fsW, aP).isEmpty &&
        PjCommitLog.versions(fsW, bP).nonEmpty) {
      if (fsW.exists(aP)) fsW.delete(aP, true)
      spark.sql(s"ALTER TABLE $nameB RENAME TO fz.$tbl")
    }
    import scala.jdk.CollectionConverters._
    PjCommitLog.clearSnapshotCache()
    PjParquetTable.clearLayoutCache()
    val finalDf = spark.table(name)
    assertConsistent(seed, "final", finalDf)
    val finalIds = finalDf.select($"id").collect().map(_.getLong(0)).toSet
    val allAppended = appended.iterator().asScala.flatten.toSet
    assert(finalIds.subsetOf(allAppended),
      s"seed=$seed: invented ids ${(finalIds -- allAppended).take(5)}")
    if (restores.get() == 0 && !allAppended.subsetOf(finalIds)) {
      // forensic dump before failing: where did the committed rows go?
      val lost = allAppended -- finalIds
      val sb = new StringBuilder(s"seed=$seed: lost committed appends ${lost.take(8)}\n")
      for (p0 <- Seq(s"$wh/fz/$tbl", s"$wh/fz/${tbl}b")) {
        val pp = new Path(p0)
        sb.append(s"== $p0 exists=${fsW.exists(pp)} versions=${PjCommitLog.versions(fsW, pp)}\n")
        if (fsW.exists(pp))
          try PjCommitLog.history(fsW, pp).foreach(h =>
            sb.append(s"   v${h.version} ${h.action} nFiles=${h.nFiles}\n"))
          catch { case e: Throwable => sb.append(s"   history: $e\n") }
      }
      sb.append(s"restores=${restores.get}\n")
      opTrace.iterator().asScala.foreach(t => sb.append(s"  trace: $t\n"))
      claimTrace.iterator().asScala.filter(_._2.contains(s"/$tbl"))
        .foreach { case (ns, r, v, a) =>
          sb.append(f"  claim: ${(ns - t00) / 1e6}%9.1fms v$v%d $a%s at $r%s\n") }
      // disk census: every file under the table dirs + which hold lost ids
      for (p0 <- Seq(s"$wh/fz/$tbl", s"$wh/fz/${tbl}b") if fsW.exists(new Path(p0))) {
        val it = fsW.listFiles(new Path(p0), true)
        while (it.hasNext) {
          val st = it.next()
          val n = st.getPath.toString
          if (n.endsWith(".parquet") && !st.getPath.getName.startsWith(".")) {
            val has = try spark.read.option("pjAutoSubstitute", "false")
              .parquet(n).select($"id").collect().map(_.getLong(0))
              .count(lost.contains)
            catch { case _: Throwable => -1 }
            if (has != 0) sb.append(s"  disk: $n lostRows=$has\n")
          } else if (n.contains("_pj_log")) sb.append(s"  log: $n\n")
        }
      }
      fail(sb.toString)
    }
    // the log replays clean end to end
    val p = pathNow()
    val vr = spark.sql(s"CALL pjfuzzwh.system.verify_log(table => '$p')").collect()
    assert(vr.forall(r => r.getString(r.length - 1) == "ok"),
      s"seed=$seed: verify_log not ok: ${vr.mkString(";")}")
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val cached = PjCommitLog.latest(fs, new Path(p)).get
    PjCommitLog.clearSnapshotCache()
    val cold = PjCommitLog.latest(fs, new Path(p)).get
    assert(cold.entries.map(_.path).sorted == cached.entries.map(_.path).sorted,
      s"seed=$seed: cold replay diverges from cached head")
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test(s"$nSeeds seeded schedules, maintenance+catalog lane: RESTORE / " +
      "expiry / clone / RTAS / rename / tag race writers") {
    // fresh window (offset by 20_000) — different schedules from lanes 1-4
    (20000 until 20000 + nSeeds).grouped(4).foreach { batch =>
      val fails = new ConcurrentLinkedQueue[Throwable]()
      val ts = batch.map { s =>
        val th = new Thread(() =>
          try runMaintenanceSchedule(s + seedOffset)
          catch { case e: Throwable => fails.add(e) })
        th.start(); th
      }
      ts.foreach(_.join())
      if (!fails.isEmpty) throw fails.peek()
    }
  }
}
