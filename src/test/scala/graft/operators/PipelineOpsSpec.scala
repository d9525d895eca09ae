package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Property tests for the operators whose semantics are approximate or
  * Spark-hash-specific (no DuckDB oracle possible): SimHash locality,
  * MinHash recall, LSH ANN recall vs the exact brute-force baseline, and the
  * multimodal plumbing.
  */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("test"))
      .withColumn("n_chars", length($"text"))

  test("simhash: identical texts collide, near texts are close, disjoint texts are far") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 38).map(i => s"tok$i") ++ Seq("other1", "other2")).mkString(" ")
    val far = (1 to 40).map(i => s"zzz$i").mkString(" ")
    val df = PipelineOps.withSimhash(docsDf(Seq((1L, base), (2L, base), (3L, near), (4L, far))))
    val m = df.select($"doc_id", $"simhash").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(m(1L) == m(2L), "identical text must produce identical simhash")
    assert(hamming(m(1L), m(3L)) < hamming(m(1L), m(4L)),
      s"near text must be closer than disjoint text (${hamming(m(1L), m(3L))} vs ${hamming(m(1L), m(4L))})")
    assert(hamming(m(1L), m(3L)) <= 16, "5% token change should flip few bits")
  }

  test("minhash near-dup finds planted near-duplicates") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = ((1 to 57).map(i => s"w$i") ++ Seq("x1", "x2", "x3")).mkString(" ")
    val unrelated = (1 to 60).map(i => s"q$i").mkString(" ")
    val corpus = docsDf(Seq((1L, base), (2L, nearDup), (3L, unrelated), (4L, base)))
    val pairs = PipelineOps.minhashNearDupPairs(corpus, jaccardDistThreshold = 0.5)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact duplicate pair must be found")
    assert(pairs.contains((1L, 2L)), "planted near-dup pair must be found")
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L), "unrelated doc must not pair")
  }

  test("edit-distance near-dup finds planted pairs across length buckets") {
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val closeEdit = base.replace("w7", "x7")              // few char edits
    val lengthShift = base + " " + (1 to 5).map(i => s"pad$i").mkString(" ") // ~25 chars longer
    val far = (1 to 50).map(i => s"zzz$i").mkString(" ")
    val corpus = docsDf(Seq((1L, base), (2L, closeEdit), (3L, lengthShift), (4L, far)))
    val pairs = PipelineOps.editDistanceNearDupPairs(corpus, maxDistance = 30)
      .select($"id_a", $"id_b", $"dist").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.contains((1L, 2L)), s"close edit must be found: $pairs")
    assert(pairs((1L, 2L)) == 1, "single substitution distance")
    assert(pairs.contains((1L, 3L)),
      s"pair in a non-adjacent length bucket must still be found (sound reach): $pairs")
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc must not pair")
  }

  test("edit-distance payload fetch never force-broadcasts the corpus (plan shape)") {
    // the payload fetch must be a plain equi-join by id — an explicit
    // broadcast() hint would collect the whole docs relation driver-side,
    // which OOMs at scale. AQE may still choose a broadcast when the side
    // is MEASURED small; what this pins is that no join in the plan
    // carries an unconditional user hint.
    val corpus = docsDf((1L to 40L).map(i => (i, s"doc $i " + ("x" * (i % 7).toInt))))
    val pairs = PipelineOps.editDistanceNearDupPairs(corpus, maxDistance = 5)
    val hinted = pairs.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j
    }
    assert(hinted.isEmpty,
      s"editDistanceNearDupPairs must not hint-broadcast any join side: $hinted")
    // and it still answers (exercises the equi-join fetch end to end)
    assert(pairs.collect().nonEmpty)
  }

  test("extractContent: strips boilerplate, keeps prose, drops link-dense blocks") {
    val html =
      "<html><head><style>p{color:red}</style><script>if (1 < 2) alert('x');</script></head>" +
        "<body><!-- comment --><nav><a href='/'>Home</a> <a href='/x'>X</a></nav>" +
        "<header>Site header junk</header>" +
        "<div><p>This is the real article body with plenty of prose to keep.</p></div>" +
        "<div><a href='/1'>one</a> <a href='/2'>two</a></div>" + // short link farm
        "<p>More: <a href='/next'>a very long anchor that dominates this entire block</a></p>" +
        "<p>Write to the support team for help with any other problem you may have.</p>" +
        "<aside>ad</aside><footer>(c) corp</footer></body></html>"
    val out = PipelineOps.extractContent(
      Seq((1L, html)).toDF("doc_id", "html"))
      .select($"content").as[String].head()
    assert(out == "This is the real article body with plenty of prose to keep. " +
      "Write to the support team for help with any other problem you may have.",
      s"got: '$out'")
    // the link-density gate: same block length, link share decides
    val dense = "<p>aa bb cc <a href='/'>dd ee ff gg hh ii jj kk ll mm nn</a></p>"
    val sparse = "<p>aa bb cc dd ee ff gg hh ii jj kk ll <a href='/'>mm nn</a></p>"
    val both = PipelineOps.extractContent(
      Seq((1L, dense), (2L, sparse)).toDF("doc_id", "html"))
      .select($"doc_id", $"content_chars").as[(Long, Long)].collect().toMap
    assert(both(1L) == 0L, "link-dominated block must be dropped")
    assert(both(2L) > 0L, "low-link-density block must survive")
  }

  test("exact jaccard blocking finds the same planted pairs") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = ((1 to 57).map(i => s"w$i") ++ Seq("x1", "x2", "x3")).mkString(" ")
    val unrelated = (1 to 60).map(i => s"q$i").mkString(" ")
    val pairs = PipelineOps.jaccardNearDupPairs(docsDf(Seq((1L, base), (2L, nearDup), (3L, unrelated))))
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("lsh ANN recall >= 0.9 against exact brute-force top-k (clustered vectors)") {
    val rnd = new scala.util.Random(7)
    val dim = 32
    val centroids = Array.fill(3)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 90).map { i =>
      val c = centroids(i % 3)
      val v = c.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
      (i.toLong, v.toSeq, i % 3)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val probes = emb.filter($"vec_id" < 9)

    val exact = PipelineOps.cosineTopK(emb, probes, k = 5)
      .select($"probe_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = PipelineOps.lshAnnPairs(emb, probes, minCosine = 0.9, dim = dim)
      .select($"probe_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val recall = exact.count(ann.contains).toDouble / exact.size
    assert(recall >= 0.9, s"ANN recall $recall below 0.9 (exact=${exact.size}, ann=${ann.size})")
  }

  test("lshAnnPairs with explicit dim fires no Spark job at plan construction") {
    val listener = new org.apache.spark.scheduler.SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val emb = (0 until 20).map(i => (i.toLong, Seq.fill(8)(i.toFloat + 1f), 0))
      .toDF("vec_id", "embedding", "label")
    spark.sparkContext.addSparkListener(listener)
    try {
      val plan = PipelineOps.lshAnnPairs(emb, emb, minCosine = 0.5, dim = 8)
      plan.queryExecution.executedPlan // force planning
      // listener events are delivered async: wait until every one is in
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      assert(listener.jobs.get() == 0,
        s"plan construction must be lazy, fired ${listener.jobs.get()} job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("AnnCacheHandle frees exactly this call's pinned caches on close") {
    spark.sqlContext.clearCache()
    // assert on the DELTA of persistent RDDs so a leftover cache from an
    // earlier suite (shared session, suite order varies with the test set)
    // cannot cancel or fail this test's real claim: close() unpersists
    // exactly what the call pinned
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    def pinned: scala.collection.Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet -- preexisting
    val emb = (0 until 30).map(i => (i.toLong, Seq.fill(8)(i.toFloat + 1f), 0))
      .toDF("vec_id", "embedding", "label")
    val probes = emb.filter($"vec_id" < 5)

    // two-input call pins two slim (id, u) projections
    val (pairs, handle) = PipelineOps.lshAnnPairsWithHandle(emb, probes, minCosine = 0.5, dim = 8)
    pairs.collect()
    assert(pinned.nonEmpty,
      "the normalized projections should be materialized while the handle is open")
    handle.close()
    assert(pinned.isEmpty,
      "close() must unpersist every cache the call pinned")
    handle.close() // idempotent

    // self-join form (embedding near-dup) pins a single shared projection
    val (dups, h2) = PipelineOps.embeddingNearDupPairsWithHandle(emb, minCosine = 0.99, dim = 8)
    dups.collect()
    assert(pinned.nonEmpty)
    h2.close()
    assert(pinned.isEmpty,
      "self-join handle must free the shared projection")
  }

  test("packTokenSpans: exact hand-computed spans, full packs, shard isolation") {
    import org.apache.spark.sql.functions.col
    // token counts 3, 4, 2 with maxTokens=5:
    //   doc1 [0,3)  -> pack0: 3
    //   doc2 [3,7)  -> pack0: 2, pack1: 2
    //   doc3 [7,9)  -> pack1: 2
    val docs = docsDf(Seq(
      (1L, "a b c"),
      (2L, "d e f g"),
      (3L, "h i")))
    val spans = PipelineOps.packTokenSpans(docs, maxTokens = 5)
      .select(col("doc_id"), col("pack_id"), col("tokens_in_pack"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans == Set((1L, 0L, 3L), (2L, 0L, 2L), (2L, 1L, 2L), (3L, 1L, 2L)))

    // sharded: each lang packs independently from offset 0
    val sharded = Seq(
      (1L, "a b c", "en"), (2L, "d e f", "en"),
      (3L, "x y", "fr")).toDF("doc_id", "text", "lang")
    val byShard = PipelineOps.packTokenSpans(sharded, maxTokens = 3, shardCols = Seq("lang"))
      .select(col("lang"), col("doc_id"), col("pack_id"), col("tokens_in_pack"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(byShard == Set(
      ("en", 1L, 0L, 3L), ("en", 2L, 1L, 3L), // en packs 0 and 1, both full
      ("fr", 3L, 0L, 2L)))                    // fr restarts at pack 0

    // invariant at scale: every pack except a shard's last is exactly full
    val big = (0 until 200).map(i => (i.toLong, Seq.fill(i % 17 + 1)("t").mkString(" ")))
    val fills = PipelineOps.packTokenSpans(docsDf(big), maxTokens = 64)
      .groupBy(col("pack_id")).agg(org.apache.spark.sql.functions.sum(col("tokens_in_pack")).as("fill"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(fills.dropRight(1).forall(_._2 == 64L), "every non-final pack must be full")
    assert(fills.map(_._2).sum == big.map(_._2.split(" ").length.toLong).sum)
  }

  test("normalizeUrl: canonical forms per rule") {
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      // lowercase scheme+host, preserve path case, strip fragment
      ("HTTP://WWW.Ex.COM/Path/To#frag", "http://www.ex.com/Path/To"),
      // utm params: leading, all, trailing, mixed with surviving params
      ("http://a.com/x?utm_source=1&utm_b=2", "http://a.com/x"),
      ("http://a.com/x?utm_source=1&page=2", "http://a.com/x?page=2"),
      ("http://a.com/x?page=2&utm_k=v", "http://a.com/x?page=2"),
      // trailing slash, host-only, non-URL passthrough
      ("https://A.com/", "https://a.com"),
      ("http://a.com", "http://a.com"),
      ("not a url", "not a url"))
    val got = cases.toDF("url", "expected")
      .select(PipelineOps.normalizeUrl(col("url")).as("n"), col("expected")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"normalizeUrl gave '${r.getString(0)}', expected '${r.getString(1)}'"))
  }

  test("ngramOverlapPairs: planted shared runs found, boilerplate df-filtered") {
    val docs = docsDf(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares 5-run with 2
      (2L, "x alpha beta gamma delta epsilon y"),
      (3L, "one two three four five six"),         // identical to 4
      (4L, "one two three four five six"),
      (5L, "totally different tokens here now ok"),
      (6L, "short")))                              // < n tokens: no grams
    val pairs = PipelineOps.ngramOverlapPairs(docs, n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
    // boilerplate: a 5-gram shared by 3+ docs dies at maxDf=2
    val boiler = docsDf(Seq(
      (1L, "the same boiler plate line a"),
      (2L, "the same boiler plate line b"),
      (3L, "the same boiler plate line c")))
    assert(PipelineOps.ngramOverlapPairs(boiler, n = 5, maxDf = 2).count() == 0L)
    assert(PipelineOps.ngramOverlapPairs(boiler, n = 5).count() == 3L)
  }

  test("quantizeEmbeddings: half-step reconstruction, range bound, zero vectors, bit widths") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Seq.fill(16)((rnd.nextGaussian() * (i + 1)).toFloat), 0)) :+
      (50L, Seq.fill(16)(0f), 0) // zero vector must not NaN
    val emb = vecs.toDF("vec_id", "embedding", "label")

    for (bits <- Seq(4, 8, 16)) {
      val qmax = (1 << (bits - 1)) - 1
      val q = PipelineOps.quantizeEmbeddings(emb, bits = bits)
      val checked = q.select(
        col("vec_id"),
        // every element reconstructs within scale/2 (+ulp slack)
        aggregate(
          zip_with(transform(col("embedding"), x => x.cast("double")), col("q_embedding"),
            (v, qq) => abs(v - qq.cast("double") * col("q_scale"))),
          lit(0.0), (acc, e) => greatest(acc, e)).as("max_err"),
        col("q_scale"),
        // quantized values stay in [-qmax, qmax]
        aggregate(col("q_embedding"), lit(0),
          (acc, x) => greatest(acc, abs(x.cast("int")))).as("max_q"))
        .collect()
      checked.foreach { r =>
        val (maxErr, scale, maxQ) = (r.getDouble(1), r.getDouble(2), r.getInt(3))
        assert(!maxErr.isNaN && maxErr <= scale * 0.5 * 1.000000001 + 1e-12,
          s"bits=$bits vec=${r.getLong(0)}: max_err $maxErr vs scale $scale")
        assert(maxQ <= qmax, s"bits=$bits: |q| $maxQ exceeds $qmax")
      }
      // zero vector: scale 0, all-zero codes
      val z = q.filter(col("vec_id") === 50L)
        .select(col("q_scale"), aggregate(col("q_embedding"),
          lit(0), (acc, x) => acc + abs(x.cast("int")))).head()
      assert(z.getDouble(0) == 0.0 && z.getInt(1) == 0)
    }
    // element type honors the storage budget: tinyint at 8 bits
    val tpe = PipelineOps.quantizeEmbeddings(emb, bits = 8)
      .schema("q_embedding").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
    assert(tpe.elementType == org.apache.spark.sql.types.ByteType)
  }

  test("ivf ANN recall >= 0.8 against exact top-k (clustered vectors)") {
    val rnd = new scala.util.Random(11)
    val dim = 32
    val centroids = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 120).map { i =>
      val c = centroids(i % 4)
      (i.toLong, c.map(x => x + 0.05f * rnd.nextGaussian().toFloat).toSeq, i % 4)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val probes = emb.filter($"vec_id" < 8)

    val exact = PipelineOps.cosineTopK(emb, probes, k = 5)
      .select($"probe_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = PipelineOps.ivfAnnTopK(emb, probes, k = 5, nLists = 8, nProbe = 2)
      .select($"probe_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall below 0.8 (exact=${exact.size}, ivf=${ivf.size})")
  }

  test("embedding near-dup finds planted duplicate vectors, skips distinct ones") {
    val rnd = new scala.util.Random(3)
    val dim = 32
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val nearDup = base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val others = (0 until 40).map(_ => Array.fill(dim)(rnd.nextGaussian().toFloat))
    val emb = ((Seq(base, nearDup) ++ others).zipWithIndex.map {
      case (v, i) => (i.toLong, v.toSeq, 0)
    }).toDF("vec_id", "embedding", "label")
    val pairs = PipelineOps.embeddingNearDupPairs(emb, minCosine = 0.98, dim = dim)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "planted duplicate embedding pair must be found")
    assert(pairs.size == 1, s"random vectors must not pair: $pairs")
  }

  test("cosineTopK ranks an exact duplicate vector first") {
    val a = Array.fill(16)(1.0f).toSeq
    val b = Array.tabulate(16)(i => if (i % 2 == 0) 1.0f else -1.0f).toSeq
    val emb = Seq((0L, a, 0), (1L, a, 0), (2L, b, 1)).toDF("vec_id", "embedding", "label")
    val top = PipelineOps.cosineTopK(emb, emb.filter($"vec_id" === 0), k = 2)
      .orderBy($"rank").select($"neighbor_id").collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L))
  }

  test("winnowing fingerprints overlap on shared substrings, disjoint otherwise") {
    val shared = (1 to 30).map(i => s"c$i")
    val a = ((1 to 10).map(i => s"a$i") ++ shared).mkString(" ")
    val b = (shared ++ (1 to 10).map(i => s"b$i")).mkString(" ") // shared run moved
    val c = (1 to 40).map(i => s"z$i").mkString(" ")
    val df = PipelineOps.withWinnowingFingerprints(docsDf(Seq((1L, a), (2L, b), (3L, c))))
    val m = df.select($"doc_id", $"fps").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val overlapAB = (m(1L) & m(2L)).size
    assert(overlapAB >= 3, s"docs sharing a 30-token run must share fingerprints, got $overlapAB")
    assert((m(1L) & m(3L)).isEmpty, "disjoint docs must not share fingerprints")
    assert(m(1L).nonEmpty && m(3L).nonEmpty)
  }

  test("saltedJoin equals the plain equi-join on a pathologically skewed key") {
    import org.apache.spark.sql.functions.broadcast
    // 90% of the big side lands on key 7
    val big = (0 until 20000).map(i => (if (i % 10 == 0) i.toLong % 5 else 7L, i.toLong))
      .toDF("k", "v")
    val small = Seq((7L, "hot"), (0L, "a"), (1L, "b"), (2L, "c")).toDF("k", "name")
    val salted = PipelineOps.saltedJoin(big, small, "k", salts = 8)
      .groupBy($"k", $"name").count().orderBy($"k")
      .collect().map(_.toSeq).toSeq
    // compare against a broadcast join (no shuffle ambiguity, no salting)
    val plain = big.join(broadcast(small), Seq("k"))
      .groupBy($"k", $"name").count().orderBy($"k")
      .collect().map(_.toSeq).toSeq
    assert(salted.nonEmpty && salted == plain)
  }

  test("asofJoin picks the latest right value at-or-before each left time") {
    val left = Seq((1L, 10L), (1L, 25L), (1L, 5L), (2L, 50L)).toDF("k", "t")
    val right = Seq((1L, 10L, 100.0), (1L, 20L, 200.0), (2L, 60L, 300.0)).toDF("k", "t", "v")
    val out = PipelineOps.asofJoin(left, right, "k", "t", "v")
      .select($"k", $"t", $"asof_v").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
    assert(out == Set(
      (1L, 10L, Some(100.0)), // same-instant match included
      (1L, 25L, Some(200.0)), // latest at-or-before 25
      (1L, 5L, None), // nothing before 5
      (2L, 50L, None))) // right row is later
  }

  test("multimodal video: container round-trip, stride sampling, junk tolerance") {
    val docs = docsDf(Seq((0L, "alpha doc"), (3L, "bravo document text"), (7L, "c")))
    val video = Multimodal.packAsVideo(docs)
    // meta carries the frame count: 3 + id % 5
    val metas = video.collect().map(r => r.getLong(0) -> r.getStruct(3)).toMap
    assert(metas(0L).getInt(1) == 3 && metas(3L).getInt(1) == 6 && metas(7L).getInt(1) == 5)

    // stride 1 = every frame; stride 2 = ceil(n/2); each sampled frame is a
    // REAL decodable PNG that flows through the image featurizer unchanged
    val all = Multimodal.sampleVideoFrames(video, stride = 1)
    assert(all.count() == 3 + 6 + 5)
    val sampled = Multimodal.sampleVideoFrames(video, stride = 2)
    val perDoc = sampled.groupBy($"media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc == Map(0L -> 2L, 3L -> 3L, 7L -> 3L), s"got $perDoc")
    val feats = Multimodal.extractFeatures(sampled).collect()
    assert(feats.length == 8)
    feats.foreach { r =>
      assert(!r.isNullAt(4) && !r.isNullAt(5), "every sampled frame must decode")
      val mass = r.getSeq[Float](3).sum
      assert(math.abs(mass - 1.0f) < 1e-3, s"histogram mass $mass")
    }

    // a malformed container emits zero rows, never a failure
    val junk = video.withColumn("payload",
      when($"media_id" === 3L, lit("not a video".getBytes)).otherwise($"payload"))
    val kept = Multimodal.sampleVideoFrames(junk, stride = 1)
      .select($"media_id").distinct().collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 7L), s"got $kept")
  }

  test("multimodal audio: WAV round-trip, analytic RMS/ZCR, junk tolerance") {
    val docs = docsDf(Seq((0L, "a"), (7L, "b"), (399L, "c"), (400L, "d")))
    val audio = Multimodal.packAsAudio(docs) // 2000 samples @ 8 kHz, A=12000
    val feats = Multimodal.extractAudioFeatures(audio).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feats.size == 4)
    val rmsExpect = 12000.0 / math.sqrt(2.0)
    feats.foreach { case (id, r) =>
      assert(r.getLong(4) == 250L, s"duration for $id")
      assert(math.abs(r.getDouble(5) - rmsExpect) < 0.01 * rmsExpect, s"rms for $id")
      val freq = 100 + (id % 400)
      assert(math.abs(r.getLong(6) - freq / 2.0) <= 3.0, s"zcr for $id (f=$freq)")
    }
    // ids 0 and 400 share a frequency: identical payloads, identical features
    assert(feats(0L).getLong(6) == feats(400L).getLong(6))
    assert(feats(0L).getDouble(5) == feats(400L).getDouble(5))
    // junk payloads degrade to null features, never fail
    val junk = audio.withColumn("payload",
      when($"media_id" === 7L, lit("not a wav".getBytes)).otherwise($"payload"))
    val j = Multimodal.extractAudioFeatures(junk).collect().map(r => r.getLong(0) -> r).toMap
    assert(j(7L).isNullAt(4) && j(7L).isNullAt(5) && j(7L).isNullAt(6))
    assert(j(0L).getLong(4) == 250L)
  }

  test("multimodal: real PNG codec, determinism, normalized features, frame sampling") {
    val longText = (1 to 80).map(i => s"tok$i").mkString(" ")
    val docs = docsDf(Seq((1L, "hello world"), (2L, "hello world"), (3L, longText)))
    val media = Multimodal.packAsMedia(docs)
    assert(media.schema("payload").dataType == org.apache.spark.sql.types.BinaryType)
    assert(media.schema("meta").dataType == Multimodal.mediaMetaType)

    // payloads are REAL PNGs: decodable by an independent ImageIO.read call,
    // with dimensions matching the metadata struct
    val rows = media.collect().map(r => r.getLong(0) ->
      (r.getAs[Array[Byte]]("payload"), r.getAs[org.apache.spark.sql.Row]("meta"))).toMap
    for ((id, (png, meta)) <- rows) {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img != null, s"media $id payload is not a decodable image")
      assert(img.getWidth == meta.getAs[Int]("width"), s"media $id width mismatch")
      assert(img.getHeight == meta.getAs[Int]("height"), s"media $id height mismatch")
      assert(meta.getAs[String]("mime") == "image/png")
      assert(meta.getAs[Long]("n_bytes") == png.length.toLong)
    }

    val featRows = Multimodal.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    val feats = featRows.map { case (id, r) => id -> r.getSeq[Float](3) }
    assert(feats(1L).size == Multimodal.FeatureBins)
    assert(feats(1L) == feats(2L), "identical payloads must produce identical features")
    assert(math.abs(feats(1L).sum - 1.0f) < 1e-4, "histogram must be L1-normalized")
    assert(feats(1L) != feats(3L))
    // decoded dimensions are reported and equal the metadata
    assert(featRows(1L).getAs[Int]("width") == rows(1L)._2.getAs[Int]("width"))
    assert(featRows(1L).getAs[Int]("height") == rows(1L)._2.getAs[Int]("height"))

    val framed = Multimodal.sampleFrames(media, frameBytes = 64, stride = 1)
      .select($"media_id", size($"frames").as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(framed(1L) == rows(1L)._1.length / 64 || framed(1L) == 1)
    assert(framed.values.forall(_ >= 1))

    // partition preservation: extraction adds no shuffle
    val plan = Multimodal.extractFeatures(media).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"feature extraction must not shuffle:\n$plan")

    // resize: real image downscale, meta rewritten, deterministic, shuffle-free
    val resized = Multimodal.resize(media, maxDim = 8)
    val rs = resized.collect().map(r => r.getLong(0) ->
      (r.getAs[Array[Byte]]("payload"), r.getAs[org.apache.spark.sql.Row]("meta"))).toMap
    for ((id, (png, meta)) <- rs) {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img != null, s"resized media $id must stay a decodable image")
      assert(math.max(img.getWidth, img.getHeight) <= 8, s"media $id not bounded by maxDim")
      assert(img.getWidth == meta.getAs[Int]("width") && img.getHeight == meta.getAs[Int]("height"))
      assert(meta.getAs[Long]("n_bytes") == png.length.toLong)
    }
    assert(rs(1L)._1.toSeq == rs(2L)._1.toSeq, "identical payloads resize identically")
    val rPlan = resized.queryExecution.executedPlan.toString
    assert(!rPlan.contains("Exchange"), s"resize must not shuffle:\n$rPlan")

    // non-image payloads take the byte-histogram / byte-downsample fallback
    val raw = docs.select($"doc_id".as("media_id"), $"source",
      encode($"text", "UTF-8").as("payload"),
      struct(lit("application/octet-stream").as("mime"),
        lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
        length($"text").cast("long").as("n_bytes")).as("meta"))
    val rawFeats = Multimodal.extractFeatures(raw).collect().map(r => r.getLong(0) -> r).toMap
    assert(math.abs(rawFeats(1L).getSeq[Float](3).sum - 1.0f) < 1e-4)
    assert(rawFeats(1L).isNullAt(4) && rawFeats(1L).isNullAt(5), "no decoded dims for raw bytes")
    // pixel budget alone must leave non-image payloads untouched...
    val rawUntouched = Multimodal.resize(raw, maxDim = 4).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    assert(rawUntouched(1L).length > 4, "pixel maxDim must not truncate binary payloads")
    // ...while an explicit byte budget downsamples them
    val rawResized = Multimodal.resize(raw, maxDim = 4, maxBytes = 4).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    assert(rawResized(1L).length == 4, "raw payload byte-downsampled to maxBytes bytes")
  }

  test("stratifiedSample: 6-sigma binomial envelope and no duplicates, two scale factors") {
    val fractions = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25, "es" -> 0.25, "zh" -> 0.25)
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = graft.Tables.documents(spark, s"/root/testdata/$sf")
      val sampled = PipelineOps.stratifiedSample(docs, "lang", fractions, seed = 42L)
      val perLang = docs.groupBy($"lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = sampled.groupBy($"lang")
        .agg(count(lit(1)).as("k"), countDistinct($"doc_id").as("kd")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      for ((lang, n) <- perLang) {
        val f = fractions(lang)
        val (k, kd) = got.getOrElse(lang, (0L, 0L))
        assert(k == kd, s"$sf/$lang: sample contains duplicate ids")
        val bound = 6.0 * math.sqrt(f * (1 - f) * n) + 1.0
        assert(math.abs(k - f * n) <= bound,
          s"$sf/$lang: got $k of $n at fraction $f (allowed ±$bound)")
      }
      // determinism: the draw is seeded
      assert(PipelineOps.stratifiedSample(docs, "lang", fractions, seed = 42L)
        .agg(sum($"doc_id")).head().getLong(0) == sampled.agg(sum($"doc_id")).head().getLong(0))
    }
  }

  test("frequencySketch / heavyHitters: CMS guarantees at two scale factors") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = graft.Tables.documents(spark, s"/root/testdata/$sf")
        .withColumn("_key", concat_ws("|", $"lang", $"source"))
      val eps = 0.001
      val sk = PipelineOps.frequencySketch(docs, $"_key", eps, 0.99, 42)
      val truth = docs.groupBy($"_key").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = truth.values.sum
      assert(sk.totalCount() == total, s"$sf: sketch total drifted")
      // never underestimates; over by at most eps*N (0.99 confidence over
      // ~25 keys — a miss would be a seed-stable fluke, treat as failure)
      for ((k, n) <- truth) {
        val e = sk.estimateCount(k)
        assert(e >= n, s"$sf/$k: estimate $e under true count $n")
        assert(e <= n + math.ceil(eps * total).toLong, s"$sf/$k: estimate $e over eps bound")
      }
      // heavy hitters: every key with true share >= minShare is returned
      // (CMS never underestimates => no false negatives), and every
      // returned estimate covers its true count
      val minShare = 0.02
      val hh = PipelineOps.heavyHitters(docs, $"_key", minShare, eps, 0.99, 42)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val trulyHeavy = truth.filter { case (_, n) => n >= minShare * total }.keySet
      assert(trulyHeavy.subsetOf(hh.keySet),
        s"$sf: missed heavy keys ${trulyHeavy -- hh.keySet}")
      for ((k, e) <- hh) assert(e >= truth(k), s"$sf/$k: heavy-hitter estimate underestimates")
    }
  }

  test("image dedup: dHash finds every exact duplicate, md5 verifies, payloads never shuffle") {
    val longA = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = docsDf(Seq(
      1L -> "identical text body here",
      2L -> "identical text body here", // exact dup of 1
      3L -> "identical text body here", // exact dup of 1, 2
      4L -> longA,
      5L -> "completely different content"))
    val hashed = Multimodal.withImageDHash(Multimodal.packAsMedia(docs))
    val rows = hashed.collect().map(r => r.getLong(0) -> r).toMap
    // every payload decodes: dhash + md5 populated
    assert(rows.values.forall(r => !r.isNullAt(2) && !r.isNullAt(3)))
    // identical text -> identical render -> identical hash AND md5
    assert(rows(1L).getLong(2) == rows(2L).getLong(2))
    assert(rows(1L).getString(3) == rows(3L).getString(3))
    val pairs = Multimodal.imageDupCandidates(hashed).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // the 3-cluster yields exactly its C(3,2) pairs, all verified exact
    assert(pairs.toSet == Set((1L, 2L, true), (1L, 3L, true), (2L, 3L, true)))
    // undecodable payload degrades to null hash and is excluded from dedup
    val junk = Multimodal.packAsMedia(docs).withColumn("payload",
      when($"media_id" === 1L, lit("not a png".getBytes)).otherwise($"payload"))
    val jh = Multimodal.withImageDHash(junk).collect().map(r => r.getLong(0) -> r).toMap
    assert(jh(1L).isNullAt(2) && jh(1L).isNullAt(3))
    assert(Multimodal.imageDupCandidates(Multimodal.withImageDHash(junk))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 3L)))
  }

  test("normalizeText: case folds, strips to the kept classes, collapses runs, trims") {
    val docs = docsDf(Seq(
      1L -> "Hello,   WORLD!! 42",
      2L -> "tabs\tand\nnewlines",
      3L -> "中文 mixed 的 text",   // CJK block survives
      4L -> "!!!",                  // nothing survives -> empty
      5L -> "already clean text"))
    val out = PipelineOps.normalizeText(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("norm_text")).toMap
    assert(out(1L) == "hello world 42")
    assert(out(2L) == "tabs and newlines")
    assert(out(3L) == "中文 mixed 的 text")
    assert(out(4L) == "")
    assert(out(5L) == "already clean text")
    // canonical property: normalizing twice is a fixpoint
    val twice = PipelineOps.normalizeText(
      PipelineOps.normalizeText(docs).drop("text").withColumnRenamed("norm_text", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("norm_text")).toMap
    assert(twice == out)
  }

  test("gopher rules: integer-exact thresholds, per-rule attribution, conjunction") {
    val pass = (1 to 30).map(_ => "the").mkString(" ") + " of value data"  // 33 toks, mean len ~3
    val tooShort = "the of value data here now"                            // 6 toks
    val longWords = (1 to 30).map(i => "abcdefghijkl").mkString(" ") + " the of" // mean len > 4.6
    val noStops = (1 to 30).map(i => s"tok$i").mkString(" ")               // 0 known stopwords
    val symbols = (1 to 30).map(_ => "the").mkString(" ") + " of !!! ### %%% ^^^ &&&"
    val docs = docsDf(Seq(
      1L -> pass, 2L -> tooShort, 3L -> longWords, 4L -> noStops, 5L -> symbols))
    val out = PipelineOps.gopherRules(docs).collect().map(r =>
      r.getAs[Long]("doc_id") -> r).toMap
    def rule(id: Long, name: String): Boolean = out(id).getAs[Boolean](name)
    assert(rule(1L, "gopher_pass"))
    assert(!rule(2L, "rule_word_count") && rule(2L, "rule_stopwords") && !rule(2L, "gopher_pass"))
    assert(!rule(3L, "rule_mean_word_len") && rule(3L, "rule_word_count") && !rule(3L, "gopher_pass"))
    assert(!rule(4L, "rule_stopwords") && rule(4L, "rule_word_count") && !rule(4L, "gopher_pass"))
    assert(!rule(5L, "rule_symbol_ratio") && !rule(5L, "gopher_pass"))
    // boundary exactness: mean len == 3 exactly passes (>= 3), 25 words passes
    val exact = docsDf(Seq(
      10L -> ((1 to 24).map(_ => "the") :+ "los").mkString(" "))) // 25 toks, mean len exactly 3, 2 stopword types
    val e = PipelineOps.gopherRules(exact).collect().head
    assert(e.getAs[Boolean]("rule_word_count") && e.getAs[Boolean]("rule_mean_word_len"))
    assert(e.getAs[Boolean]("gopher_pass"))
  }
}
