package graft

import org.apache.spark.sql.functions._
import graft.pipeline._

/** Training-data pipeline ops: dedup, similarity, text analysis,
  * multimodal plumbing — semantics on small known inputs. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps"),
    (2L, "the quick brown fox jumps"),   // exact dup of 1
    (3L, "the quick brown fox leaps"),   // near dup (4/6 shingle overlap? see test)
    (4L, "completely different text here now")).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text").orderBy("keep_id").collect()
    assert(out.length == 3)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 2L) // ids 1,2 grouped
  }

  test("fuzzy dedup end-to-end: cluster members collapse to the min-id survivor") {
    val out = Dedup.fuzzy(docs, "doc_id", "text", k = 3, bands = 4,
      rowsPerBand = 2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // 1 and 2 are identical -> same cluster, 1 survives; 4 is alone
    assert(out.contains((1L, 1L, true)) && out.contains((2L, 1L, false)))
    assert(out.contains((4L, 4L, true)))
    assert(out.length == 4)
  }

  test("incremental dedup: in-batch min-id, seen digests dropped, bloom exact") {
    val batch = Seq((5L, "aa"), (6L, "bb"), (7L, "aa"), (8L, "cc"))
      .toDF("doc_id", "text")
    val seen = Seq("bb").toDF("t")
      .select(md5(col("t").cast("binary")).as("digest"))
    // 7 is an in-batch dup of 5; 6 is already in the corpus
    val plain = Dedup.incremental(batch, seen, "doc_id", "text")
    assert(plain.orderBy("doc_id").collect().map(_.getLong(0)).toSeq ==
      Seq(5L, 8L))
    // bloom-prefiltered plan: same rows, and the plan forks into the
    // definitely-new union branch
    val bloom = Dedup.incremental(batch, seen, "doc_id", "text",
      bloomExpectedItems = 10)
    assert(bloom.orderBy("doc_id").collect().map(_.getLong(0)).toSeq ==
      Seq(5L, 8L))
    assert(bloom.queryExecution.executedPlan.toString.contains("Union"))
    // a deliberately tiny, collision-heavy bloom must still be exact:
    // false positives are resolved by the anti-join, negatives can't occur
    val noisy = Dedup.incremental(batch, seen, "doc_id", "text",
      bloomExpectedItems = 1, bloomFpp = 0.5)
    assert(noisy.orderBy("doc_id").collect().map(_.getLong(0)).toSeq ==
      Seq(5L, 8L))
  }

  test("shingles: sliding k-grams, short-text fallback") {
    val out = Seq("a b c d", "a b").toDF("t")
      .select(Dedup.shingles(col("t"), 3)).collect()
    assert(out(0).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(out(1).getSeq[String](0) == Seq("a b"))
  }

  test("minhash LSH: identical docs collide in every band") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minhash star fallback caps hot buckets but keeps connectivity") {
    // 6 identical docs: every band-bucket holds all 6 -> full enumeration
    // would emit 15 pairs; the star emits 5 (hub = min id), possibly
    // repeated across bands
    val dup = (1L to 6L).map(i => (i, "same text body for every document here"))
      .toDF("doc_id", "text")
    val star = Dedup.minhashLshPairs(dup, "doc_id", "text", maxBucket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star == (2L to 6L).map(i => (1L, i)).toSet)
    val comps = Dedup.clusters(
      Dedup.minhashLshPairs(dup, "doc_id", "text", maxBucket = 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 6L).forall(comps(_) == 1L))
  }

  test("spanning-edge modes: components equal all-pairs components; " +
    "edge volume is linear in posting size (seeded randomized)") {
    val rnd = new scala.util.Random(4217L)
    // corpora with deliberate dup clusters: base phrases repeated with
    // varying copy counts so posting lists span sizes 1..12
    for (trial <- 1 to 3) {
      val rows = (1 to 8).flatMap { g =>
        val body = (1 to 6).map(_ => s"w${rnd.nextInt(12)}").mkString(" ")
        (1 to 1 + rnd.nextInt(11)).map(c => (g * 100L + c, body))
      }
      val df = rows.toDF("doc_id", "text")
      def comps(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        Dedup.clusters(pairs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // minhash: star/path edges vs all-pairs — identical components
      val full = comps(Dedup.minhashLshPairs(df, "doc_id", "text"))
      val star = comps(Dedup.minhashLshEdges(df, "doc_id", "text"))
      assert(star == full, s"trial $trial minhash components diverged")
      // ngram: spanning edges of the share-a-shingle graph vs the
      // minJaccard=0 all-pairs graph — identical components
      val fullN = comps(Dedup.ngramJaccardPairs(df, "doc_id", "text",
        minJaccard = 0.0))
      val starN = comps(Dedup.ngramShingleEdges(df, "doc_id", "text"))
      assert(starN == fullN, s"trial $trial ngram components diverged")
      // volume: a size-m dup cluster costs m-1 edges, not m(m-1)/2
      val m = rows.groupBy(_._2).map(_._2.size).max
      if (m >= 6) {
        val nPairs = Dedup.ngramJaccardPairs(df, "doc_id", "text",
          minJaccard = 0.0).count()
        val nEdges = Dedup.ngramShingleEdges(df, "doc_id", "text").count()
        assert(nEdges < nPairs,
          s"trial $trial: spanning mode emitted $nEdges >= $nPairs pairs")
      }
    }
    // df cap parity: a shingle above maxShingleDf contributes no edges
    val hot = (1L to 5L).map(i => (i, "hot shingle body text")).toDF("doc_id", "text")
    assert(Dedup.ngramShingleEdges(hot, "doc_id", "text",
      maxShingleDf = 4).count() == 0)
  }

  test("clusters: min-label propagation finds connected components") {
    // chain 1-2, 2-3 plus isolated pair 10-11: two components
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc1", "doc2")
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // longer chain exercises multiple propagation rounds
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val got2 = Dedup.clusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 9L).forall(got2(_) == 1L))
  }

  test("simhash: identical texts get identical fingerprints") {
    val fps = Dedup.simhash32(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(4L))
  }

  test("simhash pairs: hamming 0 for identical docs") {
    val out = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
  }

  test("ngram jaccard: exact intersection-over-union") {
    // doc1/doc2 identical -> jaccard 1.0; doc1 vs doc3 share 2 of 3
    // shingles each -> 2/(3+3-2) = 0.5
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3,
      minJaccard = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assertApprox(out.get((1L, 2L)), Some(1.0))
    assertApprox(out.get((1L, 3L)), Some(0.5))
  }

  test("cosine similarity: known vectors") {
    val df = Seq((Seq(1.0, 0.0, 2.0), Seq(2.0, 1.0, 2.0))).toDF("a", "b")
    assertApprox(d1(df.select(Similarity.cosine(col("a"), col("b")))),
      Some(0.8944271909999159), 1e-12)
  }

  test("brute-force top-k ranks by cosine desc") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb.filter(col("vec_id") === 0), emb, k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    // rank1 = vec 3 (identical direction, cos=1), rank2 = vec 1
    assert(out.toSeq == Seq((3L, 1), (1L, 2)))
  }

  test("IVF top-k: probing every cell reproduces exact brute force") {
    val rnd = new scala.util.Random(7)
    val emb = Seq.tabulate(40)(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 3)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(key(Similarity.ivfTopK(q, emb, k = 4, nlist = 6, nprobe = 6)) ==
      key(Similarity.bruteForceTopK(q, emb, k = 4)))
    // narrow probe still returns a full, ranked top-k per query
    val narrow = Similarity.ivfTopK(q, emb, k = 4, nlist = 6, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)))
    assert(narrow.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._2).sorted.sameElements(1 to rs.length) })
  }

  test("top-k contract on all six paths: neighbor_id tie-break, no self " +
    "match, every candidate when k exceeds them, long ids") {
    // int ids 0..8; ids i, i+3, i+6 share one vector, so every query has
    // exact score ties. Vectors are flipped to the non-negative side of
    // the single seeded LSH plane, so one bucket holds all of them.
    val plane = Similarity.hyperplanes(1, 3, 42L).head
    val base = Seq(Seq(1.0, 0.2, 0.0), Seq(0.3, 1.0, 0.1), Seq(0.1, 0.1, 1.0))
      .map(v => if (v.zip(plane).map { case (a, b) => a * b }.sum < 0)
        v.map(-_) else v)
    val emb = (0 until 9).map(i => (i, base(i % 3))).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 3)
    val books = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
      dim = 3, m = 1, k = 3, iters = 2)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", books)
    val cells = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 3, 2)
    val paths = Seq(
      ("bruteForceTopK", Similarity.bruteForceTopK(q, emb, k = 100), true),
      ("lshTopKMulti", Similarity.lshTopKMulti(q, emb, k = 100, planes = 1,
        tables = 1, dim = 3), true),
      ("ivfTopK", Similarity.ivfTopK(q, emb, k = 100, nlist = 3,
        nprobe = 3), true),
      ("bruteForceTopKL2", Similarity.bruteForceTopKL2(q, emb, 100), false),
      ("pqTopK", Similarity.pqTopK(q, codes, books, 100), false),
      ("ivfPqTopK", Similarity.ivfPqTopK(q, emb, cells, books, 100,
        nprobe = cells.length), false))
    paths.foreach { case (name, df, descending) =>
      assert(df.schema("query_id").dataType == org.apache.spark.sql.types.LongType &&
        df.schema("neighbor_id").dataType == org.apache.spark.sql.types.LongType,
        s"$name: ids are not long")
      val rows = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      assert(rows.forall(r => r._1 != r._2), s"$name returned a self match")
      var ties = 0
      rows.groupBy(_._1).foreach { case (qid, rs) =>
        val ranked = rs.sortBy(_._4)
        assert(ranked.map(_._4).toSeq == (1 to 8),
          s"$name: query $qid ranks ${ranked.map(_._4).toSeq}")
        assert(ranked.map(_._2).toSet == (0L until 9L).toSet - qid,
          s"$name: query $qid missed a candidate")
        ranked.zip(ranked.tail).foreach { case (a, b) =>
          if (a._3 == b._3) {
            ties += 1
            assert(a._2 < b._2, s"$name: tie not broken by neighbor_id: $a $b")
          } else assert(if (descending) a._3 > b._3 else a._3 < b._3,
            s"$name: scores out of order: $a $b")
        }
      }
      assert(rows.map(_._1).toSet == Set(0L, 1L, 2L), s"$name lost a query")
      assert(ties > 0, s"$name: fixture produced no score ties")
    }
  }

  test("LSH rejects more than 64 planes instead of aliasing bucket bits") {
    // a bucket id is one long: plane 64 would OR into bit 0 (shifts
    // wrap mod 64) and silently coarsen the buckets
    val emb = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.lshTopKMulti(emb, emb, k = 1, planes = 65, tables = 1, dim = 2)
    }
    assert(e.getMessage.contains("1..64"))
    intercept[IllegalArgumentException] {
      Similarity.lshBucket(col("embedding"), Similarity.hyperplanes(65, 2, 42L))
    }
    // 64 planes: bit p is exactly plane p's sign, up to bit 63
    val ps = Similarity.hyperplanes(64, 2, 42L)
    val got = emb.select(Similarity.lshBucket(col("embedding"), ps))
      .collect().map(_.getLong(0))
    val want = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)).map { v =>
      ps.indices.foldLeft(0L) { (b, p) =>
        if (v.zip(ps(p)).map { case (a, c) => a * c }.sum >= 0) b | (1L << p)
        else b
      }
    }
    assert(got.toSeq == want)
  }

  test("exact near-dup pairs: symmetric threshold search") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.05f)),
      (2L, Array(-1.0f, 0.2f))).toDF("vec_id", "embedding")
    val out = Similarity.nearDupPairsExact(emb, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 1L)))
  }

  test("exact near-dup baseline refuses corpora above maxRows, loudly") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.05f)),
      (2L, Array(-1.0f, 0.2f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.nearDupPairsExact(emb, threshold = 0.9, maxRows = 2L)
    }
    assert(e.getMessage.contains("nearDupPairs"))
    assert(e.getMessage.contains("maxRows"))
  }

  test("semDedup: in-cluster min-id survivor under cosine tau") {
    // init: c0=vec0 (1,0), c1=vec1 (-1,.1) -> {0,2,4} vs {1,3}; every
    // non-seed vector is within cos 0.99 of its cluster's seed
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(-1.0f, 0.1f)),
      (2L, Array(1.0f, 0.02f)), (3L, Array(-1.0f, 0.12f)),
      (4L, Array(0.9f, 0.01f))).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(emb, "vec_id", "embedding",
        k = 2, iters = 1, tau = 0.99)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(2), if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(out(0L) == ((1, -1L)) && out(1L) == ((1, -1L)))
    assert(out(2L) == ((0, 0L)) && out(3L) == ((0, 1L)) && out(4L) == ((0, 0L)))
  }

  test("semDedup: mega-cluster degrades to O(|c|) star pairs under maxCluster") {
    // 12 near-identical vectors -> one cluster (k=1). Uncapped the
    // candidate join is |c|(|c|-1)/2 = 66 pairs; capped at 10 the star
    // fallback matches exactly |c|-1 = 11 hub pairs, and every non-hub
    // member resolves dup_of = hub (min-id survivor preserved). A tau
    // below every cosine counts the candidates themselves.
    val emb = (0L until 12L).map(i => (i, Array(1.0f, i.toFloat * 1e-4f)))
      .toDF("vec_id", "embedding")
    // semDedup's size probe over four partitions: the one cluster is hot
    // above a cap of 10, and its hub is the min id
    val one = Array(Array(1.0, 0.0))
    def hubs(cap: Int): Seq[(Int, Long)] =
      Similarity.hotHubs(emb.repartition(4), "vec_id", "embedding", one, cap)
    assert(hubs(10) == Seq(0 -> 0L))
    assert(hubs(11) == Seq(0 -> 0L) && hubs(12).isEmpty && hubs(100).isEmpty)
    def pairsWithCap(cap: Int): Long =
      Similarity.semDedupMatches(
        emb.select(col("vec_id").cast("long").as("vec_id"),
            transform(col("embedding"), _.cast("double")).as("__v"))
          .withColumn("cluster", lit(0))
          .withColumn("__n", sqrt(aggregate(col("__v"), lit(0.0),
            (acc, v) => acc + v * v))),
        hubs(cap), tau = -2.0, "left")
        .filter(col("__a").isNotNull).count()
    assert(pairsWithCap(100) == 66L)
    assert(pairsWithCap(10) == 11L)
    val out = Similarity.semDedup(emb, "vec_id", "embedding",
        k = 1, iters = 1, tau = 0.999, maxCluster = 10)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(out(0L) == -1L)
    assert((1L until 12L).forall(i => out(i) == 0L))
  }

  test("kmeans: a Lloyd update sends the driver one partial per cluster, " +
    "not one k x dim partial per partition") {
    // 64 partitions of 3 vectors, k = 96, dim 64. Per-partition dense
    // partials would bring 64 x 96 x 64 x 16 B = 6.3 MB to the driver per
    // update, over a 2 MB spark.driver.maxResultSize; combined per
    // cluster on the executors, at most 96 x 64 x 16 B = 98 KB plus each
    // task's own result. The driver's bytes are the task results Spark
    // counts against that limit, summed by a listener.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val rng = new scala.util.Random(17)
    val emb = (0L until 192L).map(i => (i, Array.fill(64)(rng.nextFloat())))
      .toDF("vec_id", "embedding").repartition(64)
    def driverBytes(iters: Int): (Long, Array[Array[Double]]) = {
      val bytes = new java.util.concurrent.atomic.AtomicLong
      val l = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) bytes.addAndGet(t.taskMetrics.resultSize)
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
          k = 96, iters = iters)
        flushListeners()
        (bytes.get, cents)
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val (init, _) = driverBytes(0)
    val (two, cents) = driverBytes(2)
    val perUpdate = (two - init) / 2
    assert(perUpdate < (2L << 20),
      s"a Lloyd update sent $perUpdate bytes of task results to the driver")
    assert(cents.length == 96 && cents.forall(_.length == 64))
  }

  test("minhash incremental: batch joins persisted band keys + within-batch pairs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),   // batch, dup of state 2
      (2L, "alpha beta gamma delta"),   // state
      (3L, "alpha beta gamma delta"),   // batch, dup of 2 AND of 1
      (4L, "p q r s"),                  // state, unique
      (5L, "unique text here now")      // batch, unique
    ).toDF("doc_id", "text")
    val state = Dedup.minhashBandKeys(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    // the persisted shape: one row per (doc, band), key = band minhashes
    assert(state.columns.toSeq == Seq("doc", "band", "key"))
    assert(state.count() == 2 * 4)
    val out = Dedup.minhashLshIncrementalPairs(
        docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", state)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1 and 3 match state doc 2; 3 also pairs with earlier batch doc 1;
    // 5 and state doc 4 match nothing
    assert(out == Set((1L, 2L), (3L, 2L), (3L, 1L)))
  }

  test("pq: encode range, trained codebooks, ADC blob precision + rank monotonicity") {
    // 60 vectors in 3 well-separated gaussian-ish blobs, dim 8, m=2
    val rnd = new scala.util.Random(7)
    val emb = (0L until 60L).map { i =>
      val c = (i % 3).toInt
      (i, Array.tabulate(8)(j =>
        (c * 10.0 + rnd.nextGaussian() * 0.3 + j * 0.01).toFloat))
    }.toDF("vec_id", "embedding")
    val books = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, iters = 3)
    assert(books.length == 2 && books.forall(_.length == 4) &&
      books.forall(_.forall(_.length == 4)))
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", books)
    val cs = codes.collect().map(_.getSeq[Int](1))
    assert(cs.forall(c => c.length == 2 && c.forall(x => x >= 0 && x < 4)))
    // Quantization intentionally COLLAPSES in-blob geometry (same-blob
    // vectors share codes, in-blob ranking is the id tiebreak), so the
    // deterministic property is blob PRECISION, not exact-L2 recall:
    // every ADC top-5 neighbor must come from the query's own blob
    // (inter-blob ADC distance ~100x intra-blob).
    val q = emb.filter(col("vec_id") < 6)
    val pq = Similarity.pqTopK(q, codes, books, 5).collect()
    assert(pq.length == 6 * 5)
    assert(pq.forall(r => r.getLong(1) % 3 == r.getLong(0) % 3),
      "an ADC neighbor crossed blobs")
    // and scores are monotone in rank per query
    pq.groupBy(_.getLong(0)).values.foreach { rs =>
      val byRank = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
    }
  }

  test("ivf-pq: trained cells + residual codebooks, blob precision, nprobe widening") {
    // same 3-blob geometry as the pq test: coarse cells capture the
    // blobs, PQ codes quantize the in-blob RESIDUALS
    val rnd = new scala.util.Random(11)
    val emb = (0L until 60L).map { i =>
      val c = (i % 3).toInt
      (i, Array.tabulate(8)(j =>
        (c * 10.0 + rnd.nextGaussian() * 0.3 + j * 0.01).toFloat))
    }.toDF("vec_id", "embedding")
    val cells = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 3, 5)
    // residuals for codebook training (test-sized collect; production
    // trains on a sample with the same map-side assignment expression)
    def nearest(v: Array[Double]): Int =
      cells.indices.minBy(c => cells(c).zip(v).map { case (a, b) =>
        (a - b) * (a - b) }.sum)
    val res = emb.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val cv = cells(nearest(v))
      (r.getLong(0), v.indices.map(i => v(i) - cv(i)).toArray)
    }.toSeq.toDF("vec_id", "embedding")
    val books = Similarity.pqTrainCodebooks(res, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, iters = 3)
    val q = emb.filter(col("vec_id") < 6)
    val out = Similarity.ivfPqTopK(q, emb, cells, books, 5, nprobe = 1)
      .collect()
    assert(out.length == 6 * 5)
    // blob precision: with one probed cell every neighbor shares the
    // query's blob (cells == blobs for this geometry)
    assert(out.forall(r => r.getLong(1) % 3 == r.getLong(0) % 3),
      "an IVF-PQ neighbor crossed blobs")
    out.groupBy(_.getLong(0)).values.foreach { rs =>
      val byRank = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
    }
    // widening the probe list can only add candidates: nprobe=3 results
    // must contain every nprobe=1 neighbor set per query or better
    // (recall vs exact L2 is monotone in nprobe)
    val bf = Similarity.bruteForceTopKL2(q, emb, 5)
    val r1 = Similarity.recallAtK(
      Similarity.ivfPqTopK(q, emb, cells, books, 5, nprobe = 1), bf, 5)
      .agg(avg("recall")).head.getDouble(0)
    val r3 = Similarity.recallAtK(
      Similarity.ivfPqTopK(q, emb, cells, books, 5, nprobe = 3), bf, 5)
      .agg(avg("recall")).head.getDouble(0)
    assert(r3 >= r1, s"recall fell when widening probes: $r1 -> $r3")
  }

  /** semanticDecontaminate with the literal branch capped at
    * `literalMax` bench vectors: a small cap forces the broadcast
    * branch (the public default is the 262144-row bench cap). */
  private def decontamBroadcast(corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame, threshold: Double,
      literalMax: Int, maxBenchRows: Int = 262144) =
    Similarity.semanticDecontaminateWith(corpus, bench, threshold,
      "vec_id", "embedding", maxBenchRows, literalMax)

  test("semanticDecontaminate: max-cosine flags, zero-norm never matches") {
    val bench = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(0.9f, 0.1f, 0.0f)),   // close to bench 0
      (11L, Array(0.0f, 0.0f, 1.0f)),   // orthogonal to both
      (12L, Array(0.0f, 0.0f, 0.0f)),   // zero norm -> null, unflagged
      (13L, Array(-1.0f, 0.0f, 0.0f)))  // anti-parallel
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDecontaminate(corpus, bench, 0.8)
      .orderBy("id").collect()
    val byId = out.map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getBoolean(2)))).toMap
    assert(math.abs(byId(10L)._1.get - 0.9 / math.sqrt(0.82)) < 1e-6)
    assert(byId(10L)._2.contains(true))   // 0.9939 >= 0.8
    assert(byId(11L)._1.contains(0.0) && byId(11L)._2.contains(false))
    assert(byId(12L)._1.isEmpty)          // zero norm: no score
    // ...but the flag must be FALSE, not null: filter(!contaminated)
    // must keep the row (ADVICE r8 — null would silently drop it)
    assert(byId(12L)._2.contains(false))
    assert(byId(13L)._1.contains(-0.0) || byId(13L)._1.contains(0.0) ||
      byId(13L)._1.get <= 0.0)            // max over {-1, 0} = 0
    assert(byId(13L)._2.contains(false))
  }

  test("semanticDecontaminate: bench above maxBenchLiteral takes the " +
    "broadcast-join path with identical output (VERDICT r10 guard)") {
    val bench = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(0.9f, 0.1f, 0.0f)),
      (11L, Array(0.0f, 0.0f, 0.0f)),   // zero norm: null score, false flag
      (12L, Array(-1.0f, 0.5f, 0.0f)))
      .toDF("vec_id", "embedding")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id").collect().map(r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None else Some(math.round(r.getDouble(1) * 1e9)),
          r.getBoolean(2))).toSeq
    val lit = Similarity.semanticDecontaminate(corpus, bench, 0.8)
    val bc = decontamBroadcast(corpus, bench, 0.8, literalMax = 2)
    assert(rows(bc) == rows(lit))
    assert(rows(bc).exists { case (id, s, f) => id == 11L && s.isEmpty && !f })
  }

  test("semanticDecontaminate: randomized literal/broadcast/in-memory " +
    "three-way differential, duplicate corpus ids kept per-row") {
    val rnd = new scala.util.Random(4111L)
    val d = 8
    def vec() = Array.fill(d)(rnd.nextGaussian())
    val benchRows = (0L until 7L).map(i => (i, vec()))
    // duplicate id 50 twice with DIFFERENT vectors: the contract is one
    // output row per corpus ROW, so both must survive both paths
    val corpusRows = (10L until 40L).map(i => (i, vec())) ++
      Seq((50L, vec()), (50L, vec()), (51L, Array.fill(d)(0.0)))
    val bench = benchRows.toDF("vec_id", "embedding")
    val corpus = corpusRows.toDF("vec_id", "embedding")
    // in-memory reference: max cosine over the bench set per corpus row
    def cos(a: Array[Double], b: Array[Double]): Option[Double] = {
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na > 0 && nb > 0)
        Some(a.zip(b).map { case (x, y) => x * y }.sum / (na * nb))
      else None
    }
    val expect = corpusRows.map { case (id, v) =>
      val scores = benchRows.flatMap { case (_, bv) => cos(v, bv) }
      (id, if (scores.isEmpty) None else Some(scores.max))
    }.map { case (id, s) => (id, s.map(x => math.round(x * 1e9)),
      s.exists(_ >= 0.3)) }.sorted
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(math.round(r.getDouble(1) * 1e9)),
        r.getBoolean(2))).toSeq.sorted
    val lit = got(Similarity.semanticDecontaminate(corpus, bench, 0.3))
    val bc = got(decontamBroadcast(corpus, bench, 0.3, literalMax = 3))
    assert(lit == expect, "literal path diverges from in-memory reference")
    assert(bc == expect, "broadcast path diverges from in-memory reference")
  }

  test("semanticDecontaminate: NaN-element and null vectors score " +
    "null/false IDENTICALLY on both branches (Catalyst NaN>0 is true, " +
    "Scala's is false — the guards must agree)") {
    val bench = (0L until 5L).map(i =>
      (i, Array(1.0, 0.0, i.toDouble))) :+
      (8L, Array(Double.NaN, 1.0, 0.0)) // NaN bench vector: dropped
    val corpus = Seq(
      (20L, Array(Double.NaN, 1.0, 0.0)), // NaN norm
      (21L, null.asInstanceOf[Array[Double]]), // null vector
      (22L, Array(1.0, 0.0, 0.0))) // clean
    val b = bench.toDF("vec_id", "embedding")
    val c = corpus.toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(math.round(r.getDouble(1) * 1e6)),
        r.getBoolean(2))).toSeq
    val lit = rows(Similarity.semanticDecontaminate(c, b, 0.5))
    val bc = rows(decontamBroadcast(c, b, 0.5, literalMax = 2))
    assert(lit == bc, s"branches diverge: $lit vs $bc")
    assert(lit.take(2) == Seq((20L, None, false), (21L, None, false)))
    assert(lit(2)._1 == 22L && lit(2)._2.contains(1000000L) && lit(2)._3)
  }

  test("quantizeInt8/dequantizeInt8: per-element error <= scale/254, " +
    "codes in [-127,127], zero vectors roundtrip to exact zeros (seeded)") {
    val rnd = new scala.util.Random(811L)
    val vecs = (1L to 30L).map(i =>
      (i, Array.fill(16)((rnd.nextDouble() - 0.5) * 20))) :+
      (99L, Array.fill(16)(0.0))
    val df = vecs.toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df)
    val back = Similarity.dequantizeInt8(q).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val scales = q.collect().map(r => r.getLong(0) ->
      (r.getDouble(1), r.getSeq[Byte](2))).toMap
    vecs.foreach { case (id, v) =>
      val (scale, codes) = scales(id)
      assert(math.abs(scale - v.map(math.abs).max) < 1e-12)
      assert(codes.forall(c => c >= -127 && c <= 127))
      val re = back(id)
      v.indices.foreach { i =>
        assert(math.abs(v(i) - re(i)) <= scale / 254 + 1e-9,
          s"id=$id i=$i ${v(i)} vs ${re(i)} (scale $scale)")
      }
    }
    assert(back(99L).forall(_ == 0.0))
    // non-finite vector: NULL scale, zero codes, null reconstruction
    val nan = Seq((7L, Array(1.0, Double.NaN, 2.0)))
      .toDF("vec_id", "embedding")
    val qn = Similarity.quantizeInt8(nan).collect()(0)
    assert(qn.isNullAt(1), "NaN vector must quantize to a NULL scale")
    assert(qn.getSeq[Byte](2).forall(_ == 0))
    val dq = Similarity.dequantizeInt8(Similarity.quantizeInt8(nan))
      .collect()(0).getSeq[java.lang.Double](1)
    assert(dq.forall(_ == null), "NaN-scale dequantize must be nulls")
  }

  test("quantizeInt8: brute-force top-k over dequantized vectors keeps " +
    "high recall vs exact (seeded)") {
    val rnd = new scala.util.Random(812L)
    val corpus = (1L to 60L).map(i =>
      (i, Array.fill(12)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") <= 8)
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
    val deq = Similarity.dequantizeInt8(Similarity.quantizeInt8(corpus))
    val approx = Similarity.bruteForceTopK(
      Similarity.dequantizeInt8(Similarity.quantizeInt8(queries)), deq, 5)
    val rec = Similarity.recallAtK(approx, exact, 5)
      .agg(avg("recall")).head.getDouble(0)
    assert(rec >= 0.85, s"int8 recall@5 fell to $rec")
  }

  test("semanticDecontaminate: bench above maxBenchRows fails loudly " +
    "naming the distributed alternative (bound binds at collect)") {
    val bench = (0L until 10L).map(i => (i, Array(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val corpus = Seq((99L, Array(1.0, 0.0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      decontamBroadcast(corpus, bench, 0.5, literalMax = 2, maxBenchRows = 5)
    }
    assert(e.getMessage.contains("maxBenchRows"))
    assert(e.getMessage.contains("ivfTopKWith"))
  }

  test("semanticDecontaminate: fails CLOSED when every bench vector " +
    "is degenerate (zero/NaN norm) instead of marking the corpus clean") {
    val bench = Seq((1L, Array(0.0, 0.0)), (2L, Array(Double.NaN, 1.0)))
      .toDF("vec_id", "embedding")
    val corpus = Seq((99L, Array(1.0, 0.0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDecontaminate(corpus, bench, 0.5)
    }
    assert(e.getMessage.contains("degenerate"))
  }

  test("bpeTrain/bpeApply vs a reference in-memory BPE") {
    // reference word-histogram BPE (Sennrich): same tie-break
    def refBpe(words: Map[String, Int], k: Int)
        : Seq[(String, String, Long)] = {
      var hist = words.map { case (w, n) => (w.map(_.toString).toList, n) }
      val out = collection.mutable.ArrayBuffer[(String, String, Long)]()
      for (_ <- 1 to k) {
        val counts = collection.mutable.Map[(String, String), Long]()
        for ((toks, n) <- hist; p <- toks.zip(toks.tail))
          counts(p) = counts.getOrElse(p, 0L) + n
        if (counts.nonEmpty) {
          val ((l, r), c) = counts.toSeq
            .minBy { case ((l, r), c) => (-c, l, r) }
          out += ((l, r, c))
          hist = hist.map { case (toks, n) =>
            val b = collection.mutable.ListBuffer[String]()
            var i = 0
            while (i < toks.length) {
              if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
                b += l + r; i += 2
              } else { b += toks(i); i += 1 }
            }
            (b.toList, n)
          }
        }
      }
      out.toSeq
    }
    val docs = Seq("low low low lower", "newest newest widest",
      "low newest newest", "widest widest low").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val words = Seq("low low low lower", "newest newest widest",
      "low newest newest", "widest widest low")
      .flatMap(_.split(" +")).groupBy(identity).view
      .mapValues(_.size).toMap
    val k = 5
    val got = TextAnalysis.bpeTrain(docs, "doc_id", "text", k)
      .orderBy("merge_idx").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == refBpe(words, k), s"got $got want ${refBpe(words, k)}")
    // apply: token count per doc under the learned merges must equal
    // the reference re-tokenization — word-based sum, NO space tokens
    // (Sennrich BPE; ADVICE/VERDICT r9 item 4)
    val merges = got.map(t => (t._1, t._2))
    val applied = TextAnalysis.bpeApply(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    def refTokens(text: String): Long = {
      var hist = text.split(" +").toList.map(_.map(_.toString).toList)
      for ((l, r) <- merges)
        hist = hist.map { toks =>
          val b = collection.mutable.ListBuffer[String]()
          var i = 0
          while (i < toks.length) {
            if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
              b += l + r; i += 2
            } else { b += toks(i); i += 1 }
          }
          b.toList
        }
      hist.map(_.size).sum
    }
    val want = Seq("low low low lower", "newest newest widest",
      "low newest newest", "widest widest low").map(refTokens)
    assert(applied == want, s"apply: $applied vs $want")
    // empty, multi-space and NULL docs: zero tokens / no phantom word
    // tokens / null counts 0 like the oracle's coalesce
    val edge = Seq((0L, Some("")), (1L, Some("  low   low  ")),
      (2L, Option.empty[String])).toDF("doc_id", "text")
    val edgeGot = TextAnalysis.bpeApply(edge, "doc_id", "text", merges)
      .orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    assert(edgeGot == Seq(0L, refTokens("low low"), 0L))
  }

  test("editDistanceJoin: exact vs brute force incl. short strings and duplicate grams") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // duplicate grams (banana family), typos, shorts below the filter
    // floor, and an unrelated string
    val names = Seq("banana", "banane", "bananna", "market basket",
      "market bisket", "cat", "cot", "ca", "c", "xylophone")
    val df = names.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    for (t <- Seq(1, 2)) {
      val got = Dedup.editDistanceJoin(df, "id", "t", maxDist = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        i <- names.indices; j <- (i + 1) until names.size
        d = lev(names(i), names(j)) if d <= t
      } yield (i.toLong, j.toLong, d)).toSet
      assert(got == want, s"maxDist=$t: got $got want $want")
    }
  }

  test("text analysis: token counts, ratios, quality, fingerprint") {
    val df = Seq("The cat and the dog!").toDF("t")
    val r = df.select(
      TextAnalysis.tokenCount(col("t")),
      TextAnalysis.tokenCountBpe(col("t")),
      TextAnalysis.punctRatio(col("t")),
      TextAnalysis.stopwordRatio(col("t"), TextAnalysis.EnStops),
      TextAnalysis.langId(col("t"))).collect()(0)
    assert(r.getInt(0) == 5)
    assert(r.getInt(1) == 6) // 5 words + '!'
    assertApprox(optD(r, 2), Some(1.0 / 20))
    assertApprox(optD(r, 3), Some(3.0 / 5)) // the, and, the
    assert(r.getString(4) == "en")
  }

  test("unigramLogProb: rare-token docs score higher than common-token docs") {
    val corpus = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    // counts: a=2 b=2 c=1, total 5
    // doc1: -(2·ln(2/5) + ln(2/5))/3 = -ln(0.4); doc2: -(ln(0.4)+ln(0.2))/2
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 2L))
    assertApprox(optD(out(0), 2), Some(-math.log(0.4)))
    assertApprox(optD(out(1), 2),
      Some(-(math.log(0.4) + math.log(0.2)) / 2))
    assert(out(1).getDouble(2) > out(0).getDouble(2))
  }

  test("bm25/tfidf top terms: rarer term outranks common term") {
    // "apple" appears in 1 of 3 docs, "the" in all 3 — for doc 1 the
    // distinctive term must rank first under both scores
    val corpus = Seq(
      (1L, "the apple the apple pie"),
      (2L, "the dog sat"),
      (3L, "the cat ran")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopTerms(corpus, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank").collect()
    val doc1 = out.filter(_.getLong(0) == 1L)
    assert(doc1.head.getString(1) == "apple" && doc1.head.getInt(5) == 1)
    assert(doc1.head.getLong(2) == 2) // tf of 'apple' in doc 1
    // idf("the") with df = n is Okapi-negative-free under the +1 smooth:
    // scores stay finite and ordered; tfidf of 'apple' > tfidf of 'the'
    val byTerm = doc1.map(r => r.getString(1) -> r.getDouble(3)).toMap
    if (byTerm.contains("the")) assert(byTerm("apple") > byTerm("the"))
    // every doc gets at most k rows, ranks are 1..k
    assert(out.groupBy(_.getLong(0)).forall(_._2.map(_.getInt(5)).toSeq.sorted ==
      (1 to math.min(2, 5)).take(2)))
  }

  test("fingerprint is order- and duplication-invariant") {
    val df = Seq(("b a b", "a b")).toDF("t1", "t2")
    val r = df.select(TextAnalysis.fingerprint(col("t1")),
      TextAnalysis.fingerprint(col("t2"))).collect()(0)
    assert(r.getString(0) == r.getString(1))
  }

  test("language id picks the best-scoring stopword set") {
    val df = Seq("der hund und die katze ist nicht hier").toDF("t")
    assert(df.select(TextAnalysis.langId(col("t"))).collect()(0).getString(0) == "de")
  }

  test("multimodal: binary plumbing, stub decode, frame sampling") {
    val media = Multimodal.fromText(docs, "doc_id", "text")
    val meta = Multimodal.decodeImages(media).collect().map(m => m.id -> m).toMap
    assert(meta(1L).byteLen == "the quick brown fox jumps".length)
    assert(meta(1L).channels == 3)
    // identical payloads -> identical checksums/dims
    assert(meta(1L).checksum == meta(2L).checksum)
    assert(meta(1L).width == meta(2L).width)
    val frames = Multimodal.frameSample(media, 3)
    assert(frames.count() == 4 * 3)
  }

  test("multimodal: real PNG fixture decodes to true dims; resize rescales for real") {
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "image", png(20, 12)),
      Multimodal.MediaRow(2L, "image", png(7, 5)),
      Multimodal.MediaRow(3L, "image", "not an image".getBytes("UTF-8")))
      .toDS()
    val meta = Multimodal.decodeImages(media).collect().map(m => m.id -> m).toMap
    assert(meta(1L).decoded && meta(1L).width == 20 && meta(1L).height == 12
      && meta(1L).channels == 3)
    assert(meta(2L).decoded && meta(2L).width == 7 && meta(2L).height == 5)
    assert(!meta(3L).decoded) // stub fallback for non-image payloads
    // real rescale: re-decoding the resized payload yields target dims
    val resized = Multimodal.resizeImages(media.filter(_.id <= 2), 8, 6)
    val meta2 = Multimodal.decodeImages(resized).collect().map(m => m.id -> m).toMap
    assert(meta2(1L).decoded && meta2(1L).width == 8 && meta2(1L).height == 6)
    assert(meta2(2L).decoded && meta2(2L).width == 8 && meta2(2L).height == 6)
  }

  test("multimodal: real WAV fixture decodes true rate/channels/frames") {
    // build a real 44-byte-header WAV via the JDK's own writer so the
    // fixture is produced and parsed by independent code paths
    def wav(rate: Float, ch: Int, nFrames: Int): Array[Byte] = {
      import javax.sound.sampled._
      val fmt = new AudioFormat(rate, 16, ch, true, false)
      val pcm = new Array[Byte](nFrames * ch * 2)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", wav(44100f, 2, 1000)),
      Multimodal.MediaRow(2L, "audio", wav(16000f, 1, 320)),
      Multimodal.MediaRow(3L, "audio", "not audio at all".getBytes("UTF-8")))
      .toDS()
    val m = Multimodal.decodeAudio(media).collect().map(a => a.id -> a).toMap
    assert(m(1L).decoded && m(1L).sampleRate == 44100 && m(1L).channels == 2
      && m(1L).bitsPerSample == 16 && m(1L).nFrames == 1000L)
    assert(m(2L).decoded && m(2L).sampleRate == 16000 && m(2L).nFrames == 320L
      && math.abs(m(2L).durationMs - 20.0) < 1e-9)
    assert(!m(3L).decoded) // stub fallback for non-RIFF payloads
  }

  test("multimodal: resize clamps payload, features feed ANN directly") {
    val media = Multimodal.fromText(docs, "doc_id", "text")
    val resized = Multimodal.resizeImages(media, 4, 4).collect()
    assert(resized.forall(_.data.length == 4 * 4 * 3))
    val feats = Multimodal.extractFeatures(media, dim = 16)
    val rows = feats.collect()
    assert(rows.length == 4)
    val v = rows.head.getSeq[Double](1)
    assert(v.length == 16)
    assertApprox(Some(v.map(x => x * x).sum), Some(1.0), 1e-9) // L2-normalized
    // identical texts -> identical embeddings -> top-1 neighbor is the dup
    val topk = Similarity.bruteForceTopK(
      feats.filter(col("vec_id") === 1L), feats, k = 1).collect()
    assert(topk.head.getLong(1) == 2L)
    assertApprox(Some(topk.head.getDouble(2)), Some(1.0), 1e-9)
  }

  test("substring spans: cross-doc run found with exact bounds, flanks excluded") {
    val d = Seq(
      (1L, "XXXXABCDEFGHIJKLMNOPYYYY"),   // shared 16-char run at pos 5
      (2L, "ZZZZABCDEFGHIJKLMNOPWWWW"),
      (3L, "no duplicates in here at all!")).toDF("doc_id", "text")
    val out = Dedup.substringSpans(d, "doc_id", "text", win = 10)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 5L, 20L, 16L), (2L, 5L, 20L, 16L)))
  }

  test("substring spans: within-doc repeat merges adjacent islands") {
    // window(1) == window(11) -> hits at pos 1 and 11; [1,10] and [11,20]
    // are adjacent and must merge into one [1,20] span
    val d = Seq((1L, "abcdefghijabcdefghij"), (2L, "unrelated text"))
      .toDF("doc_id", "text")
    val out = Dedup.substringSpans(d, "doc_id", "text", win = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 1L, 20L, 20L)))
  }

  test("substringDedupText: hand case — shared run excised from both " +
    "docs, flanks spliced, clean docs pass through") {
    val d = Seq(
      (1L, "XXXXABCDEFGHIJKLMNOPYYYY"),   // shared 16-char run at pos 5
      (2L, "ZZZZABCDEFGHIJKLMNOPWWWW"),
      (3L, "no duplicates in here at all!")).toDF("doc_id", "text")
    val out = Dedup.substringDedupText(d, "doc_id", "text", win = 10)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(5)))
    assert(out.toSeq == Seq(
      (1L, 1L, "XXXXYYYY"), (2L, 1L, "ZZZZWWWW"),
      (3L, 0L, "no duplicates in here at all!")))
    // whole-doc span splices to the empty string, not null
    val whole = Seq((1L, "abcdefghij"), (2L, "abcdefghij"))
      .toDF("doc_id", "text")
    val w = Dedup.substringDedupText(whole, "doc_id", "text", win = 10)
      .collect().map(_.getString(5))
    assert(w.forall(_ == ""))
    // supplementary-plane prefix: the span kernel reports UTF-16
    // offsets, so the splice must count UTF-16 units too — a
    // code-point splice (Spark substr) would shift the excision one
    // unit left and keep a duplicated char while dropping 'x'
    val emoji = "😀" // one code point, TWO utf-16 units
    val e = Seq((5L, emoji + "ABCDEFGHIJxyz"), (6L, "ABCDEFGHIJqqq"))
      .toDF("doc_id", "text")
    val ex = Dedup.substringDedupText(e, "doc_id", "text", win = 10)
      .orderBy("doc_id").collect().map(_.getString(5))
    assert(ex.toSeq == Seq(emoji + "xyz", "qqq"))
  }

  test("substringDedupText: supplementary-plane rows keep the UTF-16 " +
    "identity kept_chars + dup_chars == n_chars; BMP rows also match " +
    "code-point lengths (the oracle-equality boundary)") {
    val emoji = "😀" // U+1F600: ONE code point, TWO utf-16 units
    val d = Seq(
      (1L, emoji + "ABCDEFGHIJxyz"),          // astral prefix + dup run
      (2L, "ABCDEFGHIJqqq"),                  // BMP partner of the run
      (3L, emoji + emoji + "clean doc here")) // astral, no dup
      .toDF("doc_id", "text")
    val out = Dedup.substringDedupText(d, "doc_id", "text", win = 10)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4),
        r.getString(5)))
    out.foreach { case (id, nChars, dupChars, keptChars, td) =>
      // row-internal invariant in ONE unit system (UTF-16), for every
      // row — this is exactly what mixing Spark length() (code points)
      // into the row used to break after an astral char
      assert(keptChars + dupChars == nChars, s"doc $id identity broke")
      assert(keptChars == td.length.toLong, s"doc $id kept_chars != " +
        "UTF-16 length of the spliced text")
    }
    // the documented oracle-deviation shape: a code-point engine
    // (DuckDB length()) agrees with these counts exactly when the two
    // unit systems coincide (BMP), and reads 1 fewer unit per astral
    // char otherwise
    def cp(s: String) = s.codePointCount(0, s.length).toLong
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(2L)._2 == cp("ABCDEFGHIJqqq"))        // BMP: units == cps
    assert(byId(1L)._2 == cp(emoji + "ABCDEFGHIJxyz") + 1) // astral: +1/char
    assert(byId(3L)._2 == cp(emoji + emoji + "clean doc here") + 2)
    assert(byId(3L)._5 == emoji + emoji + "clean doc here") // passthrough
  }

  test("substringDedupText: randomized differential vs an in-memory " +
    "excision reference (seeded; stride 1-3)") {
    val win = 10
    def refOne(texts: Seq[(Long, String)], stride: Int): Map[Long, String] = {
      val wins = texts.flatMap { case (id, t) =>
        (0 to t.length - win by stride)
          .map(p => (t.substring(p, p + win), id, p + 1)) }
      val dup = wins.groupBy(_._1).filter(_._2.size > 1).keySet
      texts.map { case (id, t) =>
        val marked = wins.collect {
          case (c, i, p) if i == id && dup(c) => p }.sorted
        val spans = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
        for (p <- marked) {
          val e = p + win - 1
          if (spans.nonEmpty && p <= spans.last._2 + 1) {
            val l = spans.last
            spans(spans.size - 1) = (l._1, math.max(l._2, e))
          } else spans += ((p, e))
        }
        val sb = new StringBuilder; var prev = 0
        for ((s, e) <- spans) { sb.append(t.substring(prev, s - 1)); prev = e }
        sb.append(t.substring(prev))
        id -> sb.toString
      }.toMap
    }
    val rnd = new scala.util.Random(7312L)
    for (trial <- 1 to 3; stride <- 1 to 3) {
      // small alphabet + planted shared runs force cross- and
      // within-doc duplication; some docs below win
      val shared = (1 to 3).map(_ =>
        Seq.fill(12 + rnd.nextInt(10))(('a' + rnd.nextInt(3)).toChar).mkString)
      val texts = (1L to 15L).map { i =>
        val parts = (0 until 1 + rnd.nextInt(3)).map(_ =>
          if (rnd.nextBoolean()) shared(rnd.nextInt(3))
          else Seq.fill(3 + rnd.nextInt(25))(
            ('a' + rnd.nextInt(4)).toChar).mkString)
        (i, parts.mkString)
      }
      val want = refOne(texts, stride)
      val got = Dedup.substringDedupText(texts.toDF("doc_id", "text"),
          "doc_id", "text", win = win, stride = stride)
        .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
      assert(got == want, s"trial $trial stride $stride: " +
        (got.keySet ++ want.keySet).filter(k =>
          got.get(k) != want.get(k)).take(3).map(k =>
          s"$k got=${got.get(k)} want=${want.get(k)}").mkString("; "))
    }
  }

  test("substringSpans: maxWindowDf capped mode is output-identical on " +
    "a synthetic mega-dup window (hot keys bypass the count)") {
    // 12 docs share one 16-char run (window df 12 > cap 3 -> every one
    // of those rows takes the hot/broadcast bypass); two docs share a
    // different run (df 2 <= cap -> must still be caught by the
    // count-over-window cold path); one doc is clean. The capped plan
    // must emit EXACTLY the uncapped spans.
    // flanks are a per-doc UNIQUE letter repeated 4x, so no window
    // that touches a flank can match across docs
    val mega = (1L to 12L).map { i =>
      val c = ('a' + i - 1).toChar.toString * 4
      (i, c + "ABCDEFGHIJKLMNOP" + c)
    }
    val pair = Seq((21L, "1111QRSTUVWXYZ56782222"),
      (22L, "3333QRSTUVWXYZ56784444"))
    val clean = Seq((30L, "no duplicates in here at all!"))
    val d = (mega ++ pair ++ clean).toDF("doc_id", "text")
    def run(cap: Option[Long]) =
      Dedup.substringSpans(d, "doc_id", "text", win = 10, maxWindowDf = cap)
        .orderBy("doc_id", "span_start").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val uncapped = run(None)
    // sanity on the fixture itself: all 12 mega docs span [5,20], the
    // cold pair spans [5,18], the clean doc is absent
    assert(uncapped == (1L to 12L).map(i => (i, 5L, 20L, 16L)) ++
      Seq((21L, 5L, 18L, 14L), (22L, 5L, 18L, 14L)))
    assert(run(Some(3L)) == uncapped)
    // downstream consumers see the same equality
    val dt = Dedup.substringDedupText(d, "doc_id", "text", win = 10,
        maxWindowDf = Some(3L)).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(5)))
    val dtUn = Dedup.substringDedupText(d, "doc_id", "text", win = 10)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(5)))
    assert(dt.toSeq == dtUn.toSeq)
    intercept[IllegalArgumentException] {
      Dedup.substringSpans(d, "doc_id", "text", maxWindowDf = Some(1L))
    }
  }

  test("substring dup stats: frac of duplicated chars, zero for clean docs") {
    val d = Seq(
      (1L, "XXXXABCDEFGHIJKLMNOPYYYY"),
      (2L, "ZZZZABCDEFGHIJKLMNOPWWWW"),
      (3L, "short"),                      // below win -> no windows at all
      (4L, "no duplicates in here at all!")).toDF("doc_id", "text")
    val out = Dedup.substringDupStats(d, "doc_id", "text", win = 10)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out(0) == ((1L, 24L, 1L, 16L, 0.666667)))
    assert(out(1) == ((2L, 24L, 1L, 16L, 0.666667)))
    assert(out(2) == ((3L, 5L, 0L, 0L, 0.0)))
    assert(out(3) == ((4L, 29L, 0L, 0L, 0.0)))
  }

  test("fuzzyKeepBest: highest-quality cluster member survives, min id on tie") {
    val d = Seq(
      (1L, "the quick brown fox jumps", 10L),
      (2L, "the quick brown fox jumps", 25L),   // same text, higher quality
      (3L, "the quick brown fox jumps", 25L),   // quality tie with 2 -> 2 wins
      (4L, "completely different text here now", 5L)).toDF("doc_id", "text", "q")
    val out = Dedup.fuzzyKeepBest(d, "doc_id", "text", col("q"),
        k = 3, bands = 4, rowsPerBand = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    // cluster {1,2,3}: max quality 25 held by 2 and 3, tie -> smaller id 2
    assert(out.toSeq == Seq((1L, 2L, false), (2L, 2L, true),
      (3L, 2L, false), (4L, 4L, true)))
  }

  test("topNgrams: count-desc then gram-asc, short docs contribute nothing") {
    val d = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.topNgrams(d, "text", n = 2, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // bigrams: "a b"×3 (two in doc1, one in doc2), "b a"×1, "b c"×1;
    // k=2 keeps "a b" then the tie-break picks "b a" before "b c"
    assert(out == Seq(("a b", 3L), ("b a", 1L)))
  }

  test("bigramLogProb: hand-computed interpolated scores, short docs dropped") {
    val d = Seq(
      (1L, "x y x y x y"),
      (2L, "p q r s t u"),
      (3L, "solo")).toDF("doc_id", "text")  // <2 tokens -> dropped
    val out = TextAnalysis.bigramLogProb(d, "doc_id", "text", lambda = 0.7)
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 5L)
    assert(out(1).getLong(0) == 2L && out(1).getLong(1) == 5L)
    // corpus unigrams: x=3, y=3, p..u=1 each, solo=1 -> tot=13
    val l = 0.7; val tot = 13.0
    // doc1 bigrams: (x,y)×3 [bc=3,pc=3,cc=3], (y,x)×2 [bc=2,pc=3,cc=3]
    val lp1 = (3 * math.log((l * 3) / 3 + ((1.0 - l) * 3) / tot) +
      2 * math.log((l * 2) / 3 + ((1.0 - l) * 3) / tot)) / 5
    // doc2: 5 unique bigrams, all [bc=1,pc=1,cc=1]
    val lp2 = math.log((l * 1) / 1 + ((1.0 - l) * 1) / tot)
    assertApprox(optD(out(0), 2), Some(lp1), 1e-9)
    assertApprox(optD(out(1), 2), Some(lp2), 1e-9)
  }

  test("clusters: reliable-checkpoint truncation yields identical " +
    "components to localCheckpoint (the knob moves storage, not values)") {
    val edges = Seq((2L, 1L), (2L, 3L), (7L, 9L), (5L, 5L))
      .toDF("doc1", "doc2")
    def comp(ck: Option[String]) =
      Dedup.clusters(edges, checkpointDir = ck)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = comp(None)
    val reliable = comp(Some("target/test-ckpt"))
    assert(local == reliable)
    assert(local == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L,
      9L -> 7L, 5L -> 5L))
    // the contraction path (driverEdgeLimit forces a pass) agrees too
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val a = Dedup.clusters(chain, driverEdgeLimit = 10L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.clusters(chain, driverEdgeLimit = 10L,
      checkpointDir = Some("target/test-ckpt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b && a.values.forall(_ == 1L) && a.size == 40)
  }

  test("pipeline funnel: observe()-harvested counts equal the recounted " +
    "form (every stage row and every gate_* reason row)") {
    val d = "/root/testdata/sf0.001"
    // recount form (the r13 shape): count every persisted boundary in
    // build order, then aggregate the gate's reason flags — the ground
    // truth the observe() metrics must reproduce exactly
    val ch = PipelineQueries5.e2eChain(spark, d, persistBoundaries = true)
    val expected = try {
      val funnel = Curation.funnelReport(Seq(
        "input" -> ch.docs, "clean" -> ch.cleaned,
        "gopher_gate" -> ch.gated, "fuzzy_dedup" -> ch.surv,
        "bench_split" -> ch.corpus, "decontaminate" -> ch.dec,
        "mixture" -> ch.mixed, "token_budget" -> ch.bud))
        .collect().toIndexedSeq
      val reasons = Curation.GateReasons
      val g = ch.gate.agg(
        coalesce(sum(col(reasons.head).cast("long")), lit(0L)),
        reasons.tail.map(n =>
          coalesce(sum(col(n).cast("long")), lit(0L))): _*)
        .collect()(0)
      val gateIn = funnel.find(_.getString(1) == "gopher_gate").get
        .getLong(2)
      funnel ++ reasons.zipWithIndex.map { case (name, j) =>
        org.apache.spark.sql.Row(10 + j, s"gate_$name", gateIn,
          gateIn - g.getLong(j), g.getLong(j))
      }
    } finally ch.caches.foreach(_.unpersist(blocking = false))
    val got = SparkEntry.queries("q_pipeline_funnel")(spark, d)
      .orderBy("stage_idx").collect().toIndexedSeq
    assert(got.map(_.toSeq) == expected.map(_.toSeq),
      s"observe-harvested funnel diverged from the recounted form:\n" +
        s"got      ${got.map(_.toSeq)}\nexpected ${expected.map(_.toSeq)}")
    // and the funnel really dropped docs at sf0.001 (non-degenerate)
    assert(expected.head.getLong(3) > 0)
  }

  test("nearDupPairs (LSH): every pair is an exact pair at the same " +
    "threshold, and no pair appears twice") {
    // 60 vectors around 4 random centers (cosine ~0.99 within a group),
    // so both paths find pairs and LSH splits some groups across buckets
    val rnd = new scala.util.Random(52L)
    val centers = Seq.fill(4)(Array.fill(8)(rnd.nextGaussian()))
    val emb = (0L until 60L).map { i =>
      (i, centers((i % 4).toInt).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairsExact(emb, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.nearDupPairs(emb, threshold = 0.95, planes = 6,
      dim = 8).collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(lsh.nonEmpty, "no LSH pair — the check is vacuous")
    assert(lsh.map(_._1).distinct.length == lsh.length, "a pair came twice")
    lsh.foreach { case (pair, cos) =>
      assert(exact.get(pair).exists(c => math.abs(c - cos) < 1e-12),
        s"LSH pair $pair (cos $cos) is not an exact pair")
    }
  }

  test("ivfTopKWith refuses a centroid table above its cap, loudly") {
    val emb = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val cents = spark.range(65537).select(col("id").as("vec_id"),
      array(lit(1.0), lit(0.0)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopKWith(emb, emb, cents, k = 1, nprobe = 1)
    }
    assert(e.getMessage.contains("ivfTopKWith"))
    assert(e.getMessage.contains("centroid cap=65536"))
  }

  test("clusters: edges that fit come back as a driver table; a stalled " +
    "contraction fails loudly") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc1", "doc2")
    val cl = Dedup.clusters(pairs)
    assert(cl.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      cl.queryExecution.optimizedPlan.toString)
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val e = intercept[IllegalArgumentException] {
      Dedup.clusters(chain, driverEdgeLimit = 10L, maxContract = 0)
    }
    assert(e.getMessage.contains("driverEdgeLimit=10"))
  }

  private val FlushMarker = "listener-flush-marker"

  /** Runs a marker job and returns once a listener has seen it start:
    * listeners share one event queue, so every listener has then seen
    * every event before it. */
  private def flushListeners(): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    @volatile var seen = false
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties.getProperty("spark.job.description") == FlushMarker)
          seen = true
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobDescription(FlushMarker)
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val until = System.nanoTime() + 30000000000L
      while (!seen && System.nanoTime() < until) Thread.sleep(20)
      assert(seen, "listener never saw the marker job")
    } finally sc.removeSparkListener(l)
  }

  /** Jobs `f` submits, counted by a listener. */
  private def jobsDuring(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties.getProperty("spark.job.description") != FlushMarker)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { f; flushListeners(); jobs.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("llm_curation ops: a repeat call in one session stays within its " +
    "job budget") {
    val d = "/root/testdata/sf0.001"
    // jobs of the second call (build + a noop write of the full result)
    // at sf0.001 on local[4]. Before the map-side bigram kernel, the
    // driver-table CC finish, the join-free semantic chain and the
    // schema reuse of Query.T, the same calls ran 8, 14, 9 and 25 jobs;
    // before the window-lag LSH edges, the one-job codebook, Lloyd,
    // cluster-size and init+bench collects and the anti-join survivors,
    // 3, 10, 8 and 18
    val budget = Seq("q_quality_gate" -> 3, "q_dedup_fuzzy" -> 9,
      "q_pq_topk" -> 6, "q_pipeline_semantic" -> 11)
    def call(name: String): Unit =
      SparkEntry.queries(name)(spark, d).write.format("noop")
        .mode("overwrite").save()
    val got = budget.map { case (name, _) =>
      call(name)
      name -> jobsDuring(call(name))
    }.toMap
    budget.foreach { case (name, max) =>
      assert(got(name) <= max, s"$name ran ${got(name)} jobs (budget $max)")
    }
  }
}
