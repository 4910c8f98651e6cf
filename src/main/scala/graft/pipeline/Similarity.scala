package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.NearestCentroid.nearestCentroid
import graft.functions.VectorFunctions

/** Embedding similarity search, clustering and vector quantization.
  *
  * Every top-k entry point is candidate generation plus scoring, then
  * one shared tail ([[topK]]): drop the self-match, rank each query's
  * candidates by score then ascending neighbor id, keep rank <= k.
  * Only candidate generation differs:
  *   - brute force ([[bruteForceTopK]] cosine, [[bruteForceTopKL2]]
  *     squared L2): broadcast queries crossed with the streamed corpus,
  *     O(Q*N*d) — the exact baselines;
  *   - [[lshTopKMulti]]: same-bucket pairs under `tables` random
  *     hyperplane sets (OR-amplified recall);
  *   - [[ivfTopK]]/[[ivfTopKWith]]: the corpus cells nearest each query
  *     (`nprobe` of them), one cell-keyed equi-join;
  *   - [[pqTopK]] and [[ivfPqTopK]]: ADC scores over product-quantized
  *     codes, with codebooks and cells trained by [[kmeans]]'s Lloyd
  *     loop ([[kmeansCentroids]]).
  *
  * Pairwise scores are native codegen kernels
  * ([[graft.functions.VectorFunctions]]); argmins over literal centroids
  * are [[graft.functions.NearestCentroid]]. UDFs over a broadcast JVM
  * matrix share one ascending-index [[dot]] loop, the same summation
  * order as the native kernels.
  */
object Similarity {

  /** Cosine similarity between two array<double> columns. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0), (acc, v) => acc + v))
    when(na > 0 && nb > 0, dot / (na * nb))
  }

  /** L2 norm, computed once per VECTOR (map-side), not once per pair. */
  private val l2norm: Column => Column = VectorFunctions.l2norm

  /** Pairwise cosine from precomputed norms: same formula and summation
    * order as [[cosine]], but one native dot per pair
    * ([[graft.functions.DotProduct]] reads the arrays in place inside
    * whole-stage codegen). */
  private def pairCos(v1: Column, n1: Column, v2: Column, n2: Column): Column =
    when(n1 > 0 && n2 > 0, VectorFunctions.dot(v1, v2) / (n1 * n2))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** The one side projection: `(idCol as long, vecCol as array<double>)`
    * renamed to `(id, vec)`. */
  private def side(df: DataFrame, idCol: String, vecCol: String,
                   id: String, vec: String): DataFrame =
    df.select(col(idCol).cast("long").as(id), asDouble(col(vecCol)).as(vec))

  /** The one top-k tail over (query_id, neighbor_id, score) candidates:
    * drops self-matches, ranks each query's candidates by `score`
    * (descending for a similarity, ascending for a distance), breaks
    * ties by ascending neighbor_id, keeps rank <= k. Returns
    * (query_id, neighbor_id, score, rank). */
  private def topK(scored: DataFrame, k: Int, score: String,
                   descending: Boolean): DataFrame = {
    val s = if (descending) col(score).desc else col(score).asc
    val w = Window.partitionBy(col("query_id")).orderBy(s, col("neighbor_id"))
    scored.filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col(score), col("rank"))
  }

  /** The one JVM dot loop: ascending index from 0.0 over the shorter
    * length — the summation order of the native kernels. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  private def norm(v: Array[Double]): Double = math.sqrt(dot(v, v))

  /** One driver collect of a (long id, vector) frame, ordered by id and
    * capped by `limit(cap + 1)`: the bound binds on the collect itself
    * (a count probe followed by an uncapped collect is a second job, and
    * races an input whose plan is non-deterministic). Above the cap it
    * fails loudly naming `fn`, `knob` and the alternative in `hint`. */
  private def collectVectors(vecs: DataFrame, cap: Long, fn: String,
                             knob: String,
                             hint: String): Array[(Long, Array[Double])] = {
    val rows = vecs.orderBy(vecs.columns(0))
      .limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(rows.length <= cap, {
      val dim = rows.head._2.length
      s"$fn: more than $knob=$cap vectors (~${cap * 8 * dim >> 20} MB " +
        s"at dim $dim) — $hint"
    })
    rows
  }

  /** Exact top-k neighbors for each query vector (brute force).
    * Queries must be small enough to broadcast. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qId: String = "vec_id", qVec: String = "embedding",
                     cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val q = side(queries, qId, qVec, "query_id", "qv")
      .withColumn("qn", l2norm(col("qv")))
    val c = side(corpus, cId, cVec, "neighbor_id", "cv")
      .withColumn("cn", l2norm(col("cv")))
    topK(c.crossJoin(broadcast(q))
      .withColumn("cos", pairCos(col("qv"), col("qn"), col("cv"), col("cn"))),
      k, "cos", descending = true)
  }

  /** Deterministic random hyperplanes: `planes` x `dim`, seeded. */
  def hyperplanes(planes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** The one plane-sign loop: bit p of a vector's bucket id is set iff
    * its dot with plane p is >= 0. A bucket id is one long, so 1..64
    * planes only (a shift by p >= 64 wraps mod 64 and would silently
    * merge planes' bits). */
  private def signBits(planes: Seq[Seq[Double]]): Array[Double] => Long = {
    require(planes.length >= 1 && planes.length <= 64,
      s"LSH: planes=${planes.length} must be in 1..64 (one sign bit per " +
        "plane in a 64-bit bucket id)")
    val m = planes.map(_.toArray).toArray
    v => {
      var b = 0L
      var p = 0
      while (p < m.length) { if (dot(v, m(p)) >= 0) b |= 1L << p; p += 1 }
      b
    }
  }

  /** Sign-bit LSH bucket id of a vector column under the given planes
    * (1..64 of them). */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val bits = signBits(planes)
    udf { v: Seq[Double] => bits(v.toArray) }.apply(vec)
  }

  /** The `tables` seeded plane sets for [[lshTopKMulti]] — exposed so
    * an external oracle can regenerate the identical constants. */
  def multiPlanes(planes: Int, dim: Int, tables: Int,
                  seed: Long = 42L): Seq[Seq[Seq[Double]]] =
    (0 until tables).map(t => hyperplanes(planes, dim, seed + 7919L * t))

  /** Multi-table (OR-amplified) LSH ANN top-k — the recall-tuned scale
    * path. Each of `tables` independent plane sets buckets both sides;
    * the candidate set is the DISTINCT union of same-bucket pairs over
    * all tables, scored once. Single-table recall r becomes
    * ~1-(1-r)^tables while candidates stay sub-linear
    * (~tables * corpus / 2^planes per query). One bucket-join shuffle +
    * one dedup shuffle; vectors join back by id so the wide embedding
    * rows never ride through the bucket explode. */
  def lshTopKMulti(queries: DataFrame, corpus: DataFrame, k: Int,
                   planes: Int, tables: Int, dim: Int,
                   seed: Long = 42L): DataFrame = {
    val kernels = multiPlanes(planes, dim, tables, seed).map(signBits).toArray
    val bUdf = udf { v: Seq[Double] =>
      val arr = v.toArray
      kernels.indices.map(t => (t, kernels(t)(arr)))
    }
    val q = side(queries, "vec_id", "embedding", "query_id", "qv")
    val c = side(corpus, "vec_id", "embedding", "neighbor_id", "cv")
    val qb = q.select(col("query_id"), explode(bUdf(col("qv"))).as("tb"))
      .select(col("query_id"), col("tb._1").as("t"), col("tb._2").as("bkt"))
    val cb = c.select(col("neighbor_id"), explode(bUdf(col("cv"))).as("tb"))
      .select(col("neighbor_id"), col("tb._1").as("t"), col("tb._2").as("bkt"))
    val cand = qb.join(cb, Seq("t", "bkt"))
      .select("query_id", "neighbor_id").distinct()
    topK(cand
      .join(broadcast(q.withColumn("qn", l2norm(col("qv")))), Seq("query_id"))
      .join(c.withColumn("cn", l2norm(col("cv"))), Seq("neighbor_id"))
      .withColumn("cos", pairCos(col("qv"), col("qn"), col("cv"), col("cn"))),
      k, "cos", descending = true)
  }

  /** IVF (inverted-file) ANN top-k: the corpus is partitioned into
    * `nlist` cells by nearest centroid; each query scores only its
    * `nprobe` nearest cells. Candidate volume is ~corpus*nprobe/nlist
    * per query, one shuffle keyed by cell id — the standard billion-
    * vector layout (FAISS IVFFlat) expressed as a Spark equi-join.
    *
    * Centroids are a deterministic hash-ordered corpus sample collected
    * to the driver and broadcast ([[ivfTopKWith]] takes trained ones,
    * e.g. [[kmeansCentroids]] output — the join shape is identical).
    * Cell assignment and probe lists are compiled UDFs over the
    * broadcast centroid matrix: O(nlist*d) per vector, map-side, no
    * shuffle. `nprobe = nlist` degrades to exact search — the spec's
    * oracle. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nlist: Int,
              nprobe: Int, seed: Long = 42L): DataFrame =
    ivfTopKWith(queries, corpus,
      corpus.select(col("vec_id"), col("embedding"))
        .withColumn("__h", xxhash64(asDouble(col("embedding")).cast("string"),
          lit(seed)))
        .orderBy("__h").limit(nlist).drop("__h"),
      k, nprobe)

  /** The centroid-table size above which [[ivfTopKWith]] fails: every
    * query and corpus row scores every centroid in a UDF. */
  private val IvfCentroidMax = 65536

  /** [[ivfTopK]] with an EXPLICIT centroid table (vec_id, embedding) —
    * lets callers pick deterministic, externally-reproducible centroids
    * (fixed ids, k-means output, …); the default overload hash-samples
    * `nlist` corpus rows. Cells are scored by cosine, so assignment
    * stays a UDF ([[graft.functions.NearestCentroid]] is L2). */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame,
                  centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val spark = corpus.sparkSession
    // ordered by centroid id so cell indexes (and first-max tie-breaks)
    // are deterministic and SQL-reproducible
    val cents: Array[(Array[Double], Double)] = collectVectors(
      side(centroids, "vec_id", "embedding", "id", "v"), IvfCentroidMax,
      "ivfTopKWith", "the centroid cap", "a coarse quantizer takes at most a " +
        "few thousand cells; pass a centroid table, not the corpus")
      .map { case (_, v) => (v, norm(v)) }
    val bc = spark.sparkContext.broadcast(cents)
    val assignUdf = udf { v: Seq[Double] =>
      val s = cellScores(v.toArray, bc.value)
      var best = 0; var i = 1
      while (i < s.length) { if (s(i) > s(best)) best = i; i += 1 }
      best
    }
    val probeUdf = udf { v: Seq[Double] =>
      cellScores(v.toArray, bc.value).zipWithIndex.sortBy(-_._1)
        .take(nprobe).map(_._2)
    }
    val c = side(corpus, "vec_id", "embedding", "neighbor_id", "cv")
      .withColumn("cell", assignUdf(col("cv")))
      .withColumn("cn", l2norm(col("cv")))
    val q = side(queries, "vec_id", "embedding", "query_id", "qv")
      .withColumn("cell", explode(probeUdf(col("qv"))))
      .withColumn("qn", l2norm(col("qv")))
    topK(c.join(q, Seq("cell"))
      .withColumn("cos", pairCos(col("qv"), col("qn"), col("cv"), col("cn"))),
      k, "cos", descending = true)
  }

  /** Cosine of `v` against each (centroid, norm); -2.0 (below every
    * cosine) where either norm is zero. */
  private def cellScores(v: Array[Double],
                         cents: Array[(Array[Double], Double)]): Array[Double] = {
    val n = norm(v)
    cents.map { case (cv, cn) =>
      if (n == 0 || cn == 0) -2.0 else dot(v, cv) / (n * cn)
    }
  }

  /** recall@k of an ANN result against the exact baseline: per query,
    * |ANN neighbors ∩ exact top-k| / k. Queries the ANN missed entirely
    * surface with recall 0 (left join from the exact side, which by
    * construction has every query). Inputs are (query_id, neighbor_id,
    * …) frames as produced by the *TopK methods. */
  def recallAtK(ann: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val hits = ann.select(col("query_id"), col("neighbor_id"))
      .join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("__hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("__hits"), lit(0L)) / k.toDouble).as("recall"))
  }

  /** Exact embedding near-duplicate pairs: all pairs with cosine >=
    * threshold. The corpus (necessarily bounded — exact all-pairs is
    * O(n²); use [[nearDupPairs]] for large n) is collected once, capped
    * at `maxRows`, and broadcast as a plain JVM matrix; each of the
    * session's shuffle partitions scans it in a tight primitive loop:
    * one array conversion per VECTOR instead of two per PAIR, and no
    * allocation in the inner loop (the join-with-UDF form allocated ~1KB
    * per pair). Null vectors never pair. */
  def nearDupPairsExact(df: DataFrame, threshold: Double,
                        maxRows: Long = 500000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = side(df, "vec_id", "embedding", "id", "v")
      .filter(col("v").isNotNull)
    val corpus = collectVectors(vecs, maxRows, "nearDupPairsExact", "maxRows",
      "this all-pairs baseline broadcasts the corpus to every task; use " +
        "nearDupPairs (LSH), ivfTopK or pqTopK at this scale, or raise " +
        "maxRows for a deliberate validation run")
      .map { case (id, v) => (id, v, norm(v)) }
    val bc = spark.sparkContext.broadcast(corpus)
    vecs.as[(Long, Array[Double])]
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .mapPartitions { it =>
        val cand = bc.value
        it.flatMap { case (id1, v1) =>
          val n1 = norm(v1)
          val out = Seq.newBuilder[(Long, Long, Double)]
          var j = 0
          while (j < cand.length) {
            val (id2, v2, n2) = cand(j)
            if (id1 < id2 && n1 > 0 && n2 > 0) {
              val cos = dot(v1, v2) / (n1 * n2)
              if (cos >= threshold) out += ((id1, id2, cos))
            }
            j += 1
          }
          out.result().iterator
        }
      }.toDF("id1", "id2", "cos")
  }

  /** Embedding near-duplicate pairs: cosine >= threshold. Brute force
    * within LSH buckets (exact within bucket) — the 100 TB path, where
    * the all-pairs exact form is infeasible. */
  def nearDupPairs(df: DataFrame, threshold: Double, planes: Int, dim: Int,
                   seed: Long = 42L): DataFrame = {
    val ps = hyperplanes(planes, dim, seed)
    val v = side(df, "vec_id", "embedding", "vec_id", "v")
      .withColumn("bucket", lshBucket(col("v"), ps))
      .withColumn("n", l2norm(col("v")))
    val l = v.select(col("vec_id").as("id1"), col("v").as("v1"),
      col("n").as("n1"), col("bucket"))
    val r = v.select(col("vec_id").as("id2"), col("v").as("v2"),
      col("n").as("n2"), col("bucket"))
    l.join(r, Seq("bucket")).filter(col("id1") < col("id2"))
      .withColumn("cos", pairCos(col("v1"), col("n1"), col("v2"), col("n2")))
      .filter(col("cos") >= threshold)
      .select("id1", "id2", "cos").distinct()
  }

  /** Distributed Lloyd's k-means over an embedding column — the proper
    * trainer for [[ivfTopKWith]]'s coarse quantizer (hash-sampled
    * centroids are the zero-cost fallback; a few Lloyd iterations cut
    * IVF probe misses substantially).
    *
    * Scale shape per iteration: centroids live on the DRIVER (k × dim
    * doubles — tiny) and enter the plan as one native argmin
    * ([[graft.functions.NearestCentroid]]), so assignment is a
    * zero-shuffle codegen projection; the update is one hash-aggregate
    * keyed (cluster, dim) — 64·N rows spread over the cluster, no hot
    * key. Nothing frame-sized ever serializes to the driver.
    *
    * Determinism: init = the k lowest-id vectors (cid by id order);
    * argmin ties break to the lowest cid; centroid means are exact sums
    * of float32-valued doubles (order-independent because no addition
    * ever rounds: 24-bit mantissas with bounded exponent spread fit in
    * 53 bits), so re-runs — and the DuckDB oracle — reproduce the
    * trajectory bit-for-bit.
    *
    * Returns (vec_id, cluster, dist): final assignment against the
    * post-iteration centroids, dist = Euclidean. */
  def kmeans(df: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int): DataFrame = {
    val cents = kmeansCentroids(df, idCol, vecCol, k, iters)
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    kmeansAssign(df, idCol, vecCol, cents)
      .select(col("vec_id"), col("cluster"),
        sqrt(VectorFunctions.sqdist(col("x"),
          element_at(centsLit, col("cluster") + 1))).as("dist"))
  }

  /** Map-side argmin assignment against literal centroids (see
    * [[kmeans]]'s scale note): zero shuffle, one native kernel per row.
    * The widest centroid sets the kernel's width, so each distance runs
    * over min(|x|, |centroid|) elements, like graft_sqdist. Returns
    * (vec_id, x, cluster). */
  private def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                           cents: Array[Array[Double]]): DataFrame =
    side(df, idCol, vecCol, "vec_id", "x")
      .withColumn("cluster", nearestCentroid(col("x"), cents, 0,
        cents.map(_.length).max))

  /** The Lloyd loop of [[kmeans]], returning the trained k × dim
    * centroid matrix (driver-sized by construction). */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): Array[Array[Double]] = {
    require(k > 0 && iters >= 0, s"kmeans: need k>0, iters>=0")
    var cents: Array[Array[Double]] = side(df, idCol, vecCol, "vec_id", "x")
      .orderBy("vec_id").limit(k)
      .select("x").collect().map(_.getSeq[Double](0).toArray)
    require(cents.length == k, s"kmeans: k=$k but only ${cents.length} rows")
    for (_ <- 0 until iters) {
      val sums = kmeansAssign(df, idCol, vecCol, cents)
        .select(col("cluster").as("cid"), posexplode(col("x")).as(Seq("p", "v")))
        .groupBy("cid", "p")
        .agg(sum("v").as("s"), count("v").as("n"))
        .collect()
      val next = cents.map(_.clone()) // empty cluster keeps its centroid
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2) / r.getLong(3)
      }
      cents = next
    }
    cents
  }

  // ---------------------------------------------------------------
  // SemDeDup — semantic dedup: k-means partition + in-cluster cosine
  // ---------------------------------------------------------------

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    * embedding space with k-means, then compare vectors ONLY within
    * their own cluster — a vector is a semantic duplicate iff some
    * same-cluster vector has cosine >= `tau` and a smaller id
    * (deterministic min-id survivor, the same rule as
    * [[Dedup.fuzzy]]'s cluster representative).
    *
    * Scale shape: assignment is the zero-shuffle literal-centroid
    * projection from [[kmeans]] — no n×n join-back by id — and the
    * pair generation keys its ONE shuffle on the cluster id, so pair
    * work is Σ|c|², never corpus-wide O(n²). At 100 TB pick k ∝ n
    * (the paper runs ~n/200 clusters) to bound cluster sizes; norms
    * are computed once per vector map-side; each surviving pair costs
    * one native codegen dot ([[graft.functions.DotProduct]]).
    *
    * The threshold is applied to round(cos + 1e-9, 6) so a libm ulp
    * can never flip a keep decision across engines or reruns (same
    * convention as [[graft.pipeline.Curation.mixtureRates]]).
    *
    * `maxCluster` bounds the quadratic: a skewed k-means (one
    * mega-cluster — common on the near-duplicate-heavy corpora SemDeDup
    * is run on) would otherwise make the in-cluster join Σ|c|² in its
    * hottest cluster. Clusters over the cap degrade to the STAR
    * fallback ([[graft.pipeline.Dedup.minhashLshPairs]]'s pattern):
    * each member is compared only against the cluster's min-id hub —
    * O(|c|) pairs, and dup_of stays the deterministic min-id survivor
    * (members similar to each other but not to the hub are missed;
    * that is the documented approximation, exactly as in the LSH
    * bucket cap). Size the cap so Σ|c|²·dim fits the stage budget —
    * with the paper's k ∝ n/200 the cap never fires on a balanced fit.
    *
    * Returns one row per vector: (vec_id, cluster, keep, dup_of) with
    * dup_of = the smallest qualifying same-cluster id (null ⇒ keep=1). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int, tau: Double,
               maxCluster: Int = SemDedupMaxCluster): DataFrame = {
    val (m, dups) = semDedupDups(df, idCol, vecCol, k, iters, tau, maxCluster)
    m.select(col("vec_id"), col("cluster"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup_of").isNull.cast("int").as("keep"), col("dup_of"))
  }

  /** [[semDedup]]'s default `maxCluster`. */
  private val SemDedupMaxCluster = 100000

  /** The rows [[semDedup]] keeps (keep = 1) at its default `maxCluster`,
    * WITH their vectors: (vec_id, embedding as array<double>). The
    * survivors come out of the assigned frame itself, so a chain that
    * goes on with the vectors needs no join back to `df` by id. */
  private[graft] def semDedupKept(df: DataFrame, idCol: String, vecCol: String,
                                  k: Int, iters: Int, tau: Double): DataFrame = {
    val (m, dups) =
      semDedupDups(df, idCol, vecCol, k, iters, tau, SemDedupMaxCluster)
    m.join(dups, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("__v").as("embedding"))
  }

  /** [[semDedup]]'s assigned frame m (vec_id, cluster, __v, __n) and
    * its duplicate table (vec_id, dup_of). */
  private def semDedupDups(df: DataFrame, idCol: String, vecCol: String,
                           k: Int, iters: Int, tau: Double,
                           maxCluster: Int): (DataFrame, DataFrame) = {
    val cents = kmeansCentroids(df, idCol, vecCol, k, iters)
    val m = kmeansAssign(df, idCol, vecCol, cents)
      .select(col("vec_id"), col("cluster"), col("x").as("__v"))
      .withColumn("__n", l2norm(col("__v")))
    val dups = semDedupCandidates(m, maxCluster)
      .filter(round(pairCos(col("__va"), col("__na"), col("__vb"), col("__nb"))
        + lit(1e-9), 6) >= tau)
      .groupBy(col("__b").as("vec_id"))
      .agg(min(col("__a")).as("dup_of"))
    (m, dups)
  }

  /** Candidate pair stream of [[semDedup]]: all in-cluster (a < b)
    * pairs for clusters within `maxCluster`, hub-star pairs (min-id
    * member vs everyone else) for clusters over it. One ≤k-row collect
    * of the cluster sizes picks the hot clusters; the star branch (a
    * hub aggregate and its broadcast) is planned only when one exists,
    * and the cold/hot split is then a map-side filter on that literal
    * id list — no shuffle of the frame beyond the cluster-keyed pair
    * join. Package-visible so the spec can assert the O(|c|)
    * degradation directly. */
  private[graft] def semDedupCandidates(m: DataFrame,
                                        maxCluster: Int): DataFrame = {
    val hotIds = m.groupBy(col("cluster")).agg(count(lit(1)).as("__cn"))
      .filter(col("__cn") > maxCluster).select("cluster")
      .collect().map(_.get(0))
    val isHot = if (hotIds.isEmpty) lit(false) else col("cluster").isin(hotIds: _*)
    val cold = m.filter(!isHot)
    val coldPairs = cold
      .select(col("cluster"), col("vec_id").as("__a"),
        col("__v").as("__va"), col("__n").as("__na"))
      .join(cold.select(col("cluster"), col("vec_id").as("__b"),
        col("__v").as("__vb"), col("__n").as("__nb")), Seq("cluster"))
      .filter(col("__a") < col("__b"))
    if (hotIds.isEmpty) coldPairs
    else {
      val hot = m.filter(isHot)
      // hub = the min-id member WITH its vector: struct min orders by the
      // leading vec_id field, so one hash aggregate carries the payload
      val hubs = hot.groupBy(col("cluster"))
        .agg(min(struct(col("vec_id"), col("__v"), col("__n"))).as("__h"))
        .select(col("cluster"), col("__h.vec_id").as("__a"),
          col("__h.__v").as("__va"), col("__h.__n").as("__na"))
      val hotPairs = hot.join(broadcast(hubs), Seq("cluster"))
        .filter(col("vec_id") =!= col("__a"))
        .select(col("cluster"), col("__a"), col("__va"), col("__na"),
          col("vec_id").as("__b"), col("__v").as("__vb"), col("__n").as("__nb"))
      coldPairs.unionByName(hotPairs)
    }
  }

  // ---------------------------------------------------------------
  // Product quantization (PQ) — compressed ANN at corpus scale
  // ---------------------------------------------------------------

  /** Train PQ codebooks: split the `dim`-dimensional space into `m`
    * contiguous subspaces of dim/m and run the bit-reproducible Lloyd
    * trainer ([[kmeansCentroids]]) independently in each — m bounded
    * jobs, each identical in shape to the IVF trainer. Returns
    * m × k × (dim/m) sub-centroids. */
  def pqTrainCodebooks(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, m: Int, k: Int,
                       iters: Int): Array[Array[Array[Double]]] = {
    require(m >= 1 && dim % m == 0, s"pq: dim=$dim not divisible by m=$m")
    val w = dim / m
    (0 until m).map { s =>
      val sub = df.select(col(idCol),
        slice(asDouble(col(vecCol)), s * w + 1, w).as("__sub"))
      kmeansCentroids(sub, idCol, "__sub", k, iters)
    }.toArray
  }

  /** PQ-encode every vector: m argmin-over-codebook codes, one native
    * [[graft.functions.NearestCentroid]] per subspace — pure map-side
    * codegen, ZERO shuffle, and the output is m small ints per vector
    * instead of dim floats (the 100 TB story: a 64-dim float corpus
    * compresses 64x, so the scoring scan reads codes, not vectors). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               books: Array[Array[Array[Double]]]): DataFrame = {
    val w = books(0)(0).length
    side(df, idCol, vecCol, "vec_id", "x").select(col("vec_id"),
      array(books.indices.map(s =>
        nearestCentroid(col("x"), books(s), s * w, w)): _*).as("codes"))
  }

  /** Exact squared-L2 top-k — the baseline [[pqTopK]] approximates
    * (cosine companion: [[bruteForceTopK]]). Same broadcast-queries
    * cross join + WindowGroupLimit shape. */
  def bruteForceTopKL2(queries: DataFrame, corpus: DataFrame, k: Int,
                       qId: String = "vec_id", qVec: String = "embedding",
                       cId: String = "vec_id",
                       cVec: String = "embedding"): DataFrame = {
    val q = side(queries, qId, qVec, "query_id", "qv")
    val c = side(corpus, cId, cVec, "neighbor_id", "cv")
    topK(c.crossJoin(broadcast(q))
      .withColumn("dist", VectorFunctions.sqdist(col("qv"), col("cv"))),
      k, "dist", descending = false)
  }

  /** Asymmetric-distance (ADC) top-k: queries stay exact, the corpus
    * is its PQ codes. Each (query, doc) score is
    * sum_s ||q_sub_s - centroid[s][code_s]||² — element_at into the
    * literal codebook arrays, all inside codegen; the corpus-side scan
    * touches only (id, codes). Broadcast queries, one WindowGroupLimit
    * top-k per query. Returns (query_id, neighbor_id, dist, rank), rank
    * by ascending approximate squared distance. */
  def pqTopK(queries: DataFrame, codes: DataFrame,
             books: Array[Array[Array[Double]]], k: Int,
             qId: String = "vec_id", qVec: String = "embedding"): DataFrame = {
    val w = books(0)(0).length
    // ADC lookup table: ||q_sub_s - book[s][c]||² is a pure function of
    // the QUERY, so all m×k entries are computed ONCE per query row
    // before the broadcast; each (query, candidate) pair then reads m
    // table cells, summed in subspace order.
    val q = side(queries, qId, qVec, "query_id", "qv")
      .withColumn("qlut", array(books.indices.map { s =>
        array(books(s).map(cv => VectorFunctions.sqdist(
          slice(col("qv"), s * w + 1, w), array(cv.map(lit): _*))): _*)
      }: _*))
      .drop("qv")
    topK(codes.withColumnRenamed("vec_id", "neighbor_id")
      .crossJoin(broadcast(q))
      .withColumn("dist", books.indices.map { s =>
        element_at(element_at(col("qlut"), s + 1),
          col("codes").getItem(s) + 1)
      }.reduce(_ + _)),
      k, "dist", descending = false)
  }

  /** The bench-set size up to which [[semanticDecontaminate]] inlines
    * the bench matrix into the plan as one literal. */
  private val BenchLiteralMax = 4096

  /** [[semanticDecontaminate]]'s default `maxBenchRows`. */
  private val BenchRowsMax = 262144

  /** Semantic decontamination: flag corpus documents whose embedding is
    * too close to ANY benchmark/eval-set embedding — the embedding-space
    * complement of the k-gram [[Curation.decontaminate]] (catches
    * paraphrased eval leakage that exact n-grams miss). The benchmark
    * suite is SMALL by definition, so its vectors (and precomputed
    * norms) ride a single nested-array Literal; each corpus row takes a
    * map-side max over the bench matrix via the native dot kernel —
    * ZERO shuffle, scan-speed at any corpus size, O(|bench| * d) per
    * row. A bench set larger than 4096 vectors would explode plan size
    * (the literal matrix is inlined into every task's codegen), so
    * above it the SAME semantics run off a Spark BROADCAST VARIABLE and
    * a per-row max UDF — one copy of the bench matrix per executor,
    * still zero shuffle and still exactly one output row per corpus row
    * BY CONSTRUCTION (a join+groupBy on a generated row-id would lose
    * that under task retry, since monotonically_increasing_id is not
    * stable across attempts). Both branches share ONE driver collect
    * capped at `maxBenchRows`; above the cap the call fails loudly
    * naming [[ivfTopKWith]] / [[Curation.decontaminate]] as the
    * distributed alternatives (an eval "benchmark" bigger than that is
    * a corpus-vs-corpus join, not a decontamination pass). Returns (id,
    * max_cos, contaminated); filter on the flag to drop. Zero-norm
    * vectors score null max_cos but a FALSE (not null) contaminated
    * flag, so `filter(!contaminated)` keeps them — a three-valued null
    * flag would silently drop clean rows. NaN-norm vectors (a NaN
    * element) follow the zero-norm rule on BOTH sides, and null bench
    * vectors are dropped up front. If EVERY bench vector is degenerate
    * (zero/NaN/Inf norm) the call fails loudly instead of failing open
    * — a broken upstream embedding job must not mark the whole corpus
    * clean. */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
                            threshold: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            maxBenchRows: Int = BenchRowsMax): DataFrame =
    semanticDecontaminateWith(corpus, bench, threshold, idCol, vecCol,
      maxBenchRows, BenchLiteralMax)

  /** [[semanticDecontaminate]] with the literal branch's size limit as
    * a parameter, so the spec can force the broadcast branch on a small
    * bench set. */
  private[graft] def semanticDecontaminateWith(corpus: DataFrame,
      bench: DataFrame, threshold: Double, idCol: String, vecCol: String,
      maxBenchRows: Int, literalMax: Int): DataFrame = {
    val mx = maxCos(bench, idCol, vecCol, maxBenchRows, literalMax)
    side(corpus, idCol, vecCol, "id", "__v")
      .withColumn("__n", l2norm(col("__v")))
      .select(col("id"), mx.as("max_cos"),
        contaminated(mx, threshold).as("contaminated"))
  }

  /** The rows of `corpus` that [[semanticDecontaminate]] flags clean at
    * its defaults (both frames keyed by `vec_id`, vectors in
    * `embedding`), all columns kept: a map-side filter on the same
    * max-cos column, so a chain that goes on with the vectors needs no
    * join back by id. */
  private[graft] def semanticClean(corpus: DataFrame, bench: DataFrame,
                                   threshold: Double): DataFrame = {
    val mx =
      maxCos(bench, "vec_id", "embedding", BenchRowsMax, BenchLiteralMax)
    corpus.withColumn("__v", asDouble(col("embedding")))
      .withColumn("__n", l2norm(col("__v")))
      .filter(!contaminated(mx, threshold))
      .drop("__v", "__n")
  }

  /** `coalesce(max_cos >= threshold, false)`: a null max-cos (a
    * degenerate corpus vector) is clean, never a three-valued null. */
  private def contaminated(mx: Column, threshold: Double): Column =
    coalesce(mx >= threshold, lit(false))

  /** The one max-cos column of semantic decontamination, over a row's
    * `__v` (array<double>) and `__n` (its norm): the max cosine to the
    * collected, capped bench vectors, as a literal-matrix expression up
    * to `literalMax` of them and a broadcast UDF above. */
  private def maxCos(bench: DataFrame, idCol: String, vecCol: String,
                     maxBenchRows: Int, literalMax: Int): Column = {
    val collected = collectVectors(
      side(bench, idCol, vecCol, "id", "v").filter(col("v").isNotNull),
      maxBenchRows, "semanticDecontaminate", "maxBenchRows",
      "an eval set that large is a corpus-vs-corpus problem; use " +
        "ivfTopKWith/lshTopKMulti or Curation.decontaminate instead")
      .map(_._2)
    require(collected.nonEmpty, "semanticDecontaminate: empty benchmark set")
    // zero/NaN/Inf-norm bench vectors can never produce a meaningful
    // cosine — drop them ONCE here so both branches share identical
    // semantics (Catalyst orders NaN above every number and Inf/Inf is
    // a NaN cosine, Scala compares both false)
    val bvecs = collected.filter { v =>
      val n = norm(v); n > 0 && !n.isNaN && !n.isInfinite
    }
    // fail CLOSED when the whole benchmark is degenerate: a broken
    // upstream embedding job (all-zero / NaN vectors) must not silently
    // mark the entire corpus clean — mirrors the empty-bench guard
    require(bvecs.nonEmpty, "semanticDecontaminate: all benchmark " +
      "vectors are degenerate (zero/NaN/Inf norm) — refusing to mark " +
      "the corpus clean against an unusable benchmark")
    val bNorms = bvecs.map(norm)
    // corpus-side validity: positive FINITE norm, so the literal
    // branch's Catalyst compares (NaN > 0 is TRUE in SQL; an Inf norm
    // makes a NaN cosine that array_max surfaces as the max) stay
    // aligned with the UDF branch's Scala compares (both false). A
    // residual caveat survives any guard: elements large enough to
    // overflow the DOT to +/-Inf with finite norms (~1e154) can still
    // produce a NaN cosine — normalize such embeddings upstream.
    val vOk = col("__n") > 0 && !isnan(col("__n")) &&
      col("__n") =!= Double.PositiveInfinity
    if (bvecs.length <= literalMax) {
      val bLit = typedlit(bvecs.map(_.toSeq).toSeq)
      val bNormsLit = typedlit(bNorms.toSeq)
      array_max(transform(sequence(lit(0), lit(bvecs.length - 1)),
        i => when(vOk,
          VectorFunctions.dot(col("__v"), element_at(bLit, i + 1)) /
            (col("__n") * element_at(bNormsLit, i + 1)))))
    } else {
      // Large eval set: ship the matrix ONCE per executor as a
      // broadcast variable and take the per-row max in a UDF — no
      // join, no groupBy, no generated row-id, so the one-row-per-
      // corpus-row contract survives task retries and duplicate ids.
      val bc = bench.sparkSession.sparkContext.broadcast((bvecs, bNorms))
      udf { (v: Seq[Double]) =>
        val (bv, bn) = bc.value
        val arr = if (v == null) null else v.toArray
        val n = if (arr == null) Double.NaN else norm(arr)
        // mirror vOk: positive FINITE norm (NaN compares false itself)
        if (!(n > 0 && !n.isInfinite)) None
        else {
          var best = Double.NegativeInfinity
          var i = 0
          while (i < bv.length) {
            val c = dot(arr, bv(i)) / (n * bn(i))
            if (c > best) best = c
            i += 1
          }
          Some(best)
        }
      }.apply(col("__v"))
    }
  }

  /** IVF-PQ combined ANN (FAISS IVFPQ shape): coarse cells bound the
    * candidate set, residual PQ codes bound the bytes read per
    * candidate — the composition is THE billion-vector layout, and the
    * genuine scale upgrade over [[pqTopK]]'s broadcast cross join:
    *
    *   - corpus side: nearest-cell assignment, residual x - c_cell, and
    *     m argmin codebook codes — ALL literal-centroid codegen over the
    *     scan, zero shuffle; the scored representation is
    *     (id, cell, m codes), independent of dim.
    *   - query side: `nprobe` nearest cells per query (lexicographic
    *     struct sort = deterministic dist-then-id tie-break), one
    *     per-cell residual each.
    *   - scoring: ONE equi-join keyed by cell — candidate volume is
    *     ~corpus * nprobe / nlist per query, never all-pairs and never a
    *     corpus broadcast — then ADC
    *     `sum_s ||(q - c_cell)_s - book[s][code_s]||^2` inside codegen
    *     and a WindowGroupLimit top-k.
    *
    * `cells`/`books` are literal matrices (nlist x dim, m x k x dim/m):
    * right for nlist up to a few thousand; beyond that pass centroids
    * via broadcast UDF ([[ivfTopKWith]]'s pattern) — the join shape is
    * identical. `nprobe = nlist` degrades to exact-over-codes (= pqTopK
    * ranking on residual codebooks). Fold/tie-break orders mirror
    * [[pqTopK]]/[[graft.functions.NearestCentroid]] so a SQL oracle can
    * replicate bit-exact. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                cells: Array[Array[Double]],
                books: Array[Array[Array[Double]]],
                k: Int, nprobe: Int,
                qId: String = "vec_id", qVec: String = "embedding",
                cId: String = "vec_id", cVec: String = "embedding")
      : DataFrame = {
    val w = books(0)(0).length
    // ONE nested-array Literal per matrix (not a CreateArray-of-
    // CreateArrays tree): plan size is O(1) in nlist and m*k, which
    // keeps Catalyst analysis/codegen sub-second where the unrolled
    // per-centroid expression forest cost ~5s of planning per query
    val cellsLit = typedlit(cells.map(_.toSeq).toSeq)
    val booksLit = typedlit(books.map(_.map(_.toSeq).toSeq).toSeq)
    def sqd(a: Column, b: Column): Column = VectorFunctions.sqdist(a, b)
    // (dist, cell-index) structs; array_sort's lexicographic order =
    // dist-then-lowest-index tie-break, same as NearestCentroid
    def cellStructs(v: Column) =
      transform(sequence(lit(0), lit(cells.length - 1)),
        i => struct(sqd(v, element_at(cellsLit, i + 1)).as("d"),
          i.as("c")))
    val c0 = side(corpus, cId, cVec, "neighbor_id", "x")
      .withColumn("cell", nearestCentroid(col("x"), cells, 0, cells(0).length))
      .withColumn("rv", zip_with(col("x"),
        element_at(cellsLit, col("cell") + 1), (a, b) => a - b))
    val codes = c0.select(col("neighbor_id"), col("cell"),
      array(books.indices.map(s =>
        nearestCentroid(col("rv"), books(s), s * w, w)): _*).as("codes"))
    val q0 = side(queries, qId, qVec, "query_id", "qx")
      .withColumn("cell", explode(transform(
        slice(array_sort(cellStructs(col("qx"))), 1, nprobe),
        p => p.getField("c"))))
      .withColumn("qrv", zip_with(col("qx"),
        element_at(cellsLit, col("cell") + 1), (a, b) => a - b))
      .drop("qx")
      // ADC lookup table (as in [[pqTopK]]): the residual is a pure
      // function of (query, probed cell), so the m×k sqdist table is
      // computed once per q0 row — |queries| × nprobe rows — before the
      // cell-keyed join; scoring reads m cells per candidate.
      .withColumn("qlut", array(books.indices.map { s =>
        array(books(s).indices.map { c =>
          sqd(slice(col("qrv"), s * w + 1, w),
            element_at(element_at(booksLit, s + 1), lit(c + 1)))
        }: _*)
      }: _*))
      .drop("qrv")
    // the query side is |queries| × nprobe rows BY CONTRACT — the small
    // side. The hint pins the build side: size ESTIMATES here are
    // heuristic (explode × literal-heavy projections), and a
    // mis-estimate that broadcasts the CORPUS side instead would build
    // a corpus-sized hash relation on the driver every run (measured:
    // 2 s -> 20 s on the 10× stress row when the estimate flipped).
    topK(codes.join(broadcast(q0), Seq("cell"))
      .withColumn("dist", books.indices.map { s =>
        element_at(element_at(col("qlut"), s + 1),
          col("codes").getItem(s) + 1)
      }.reduce(_ + _)),
      k, "dist", descending = false)
  }

  /** Symmetric per-vector INT8 scalar quantization — the standard 4-8x
    * memory/IO lever for embedding stores (scan 1 byte/dim instead of
    * 4-8): q_i = floor(x_i * 127 / scale + 0.5) with scale =
    * max|x_i|, so q in [-127, 127] and the reconstruction error per
    * element is <= scale/254 + ulp (spec-gated). `floor(r + 0.5)` is
    * deliberate instead of round(): both engines (and both signs)
    * floor identically, where round()'s half-case direction is
    * engine-specific — the same determinism discipline as the 1e-6
    * rate quantization in [[Curation.mixtureSample]]. Zero vectors get
    * scale 0 and an all-zero code (dequantize restores exact zeros);
    * non-finite vectors (NaN/Inf element) get a NULL scale and an
    * all-zero code, so dequantize returns nulls, never garbage.
    * Pure codegen over the scan, zero shuffle. Emits (id, scale,
    * qvec: array<tinyint>). */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    Seq("__v", "scale", "qvec").foreach(n => require(idCol != n,
      s"quantizeInt8: idCol '$n' collides with an output column"))
    df.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      // non-finite max|x| (a NaN/Inf element) -> NULL scale and an
      // all-zero code: dequantize then restores nulls, not garbage
      // (Catalyst would otherwise take the NaN > 0 branch and emit
      // codes that LOOK valid)
      .withColumn("scale", {
        val raw = array_max(transform(col("__v"), x => abs(x)))
        when(!isnan(raw) && raw =!= Double.PositiveInfinity, raw)
      })
      .select(col(idCol), col("scale"),
        transform(col("__v"), x => when(col("scale") > 0,
            floor(x * 127.0 / col("scale") + 0.5).cast("tinyint"))
          .otherwise(lit(0).cast("tinyint"))).as("qvec"))
  }

  /** Inverse of [[quantizeInt8]]: x_i ~ q_i * scale / 127. Returns
    * (id, embedding: array<double>) — feed straight back into any
    * top-k/dedup path to trade exactness for 4-8x less IO. */
  def dequantizeInt8(df: DataFrame, idCol: String = "vec_id",
                     qCol: String = "qvec",
                     scaleCol: String = "scale"): DataFrame = {
    require(idCol != "embedding",
      "dequantizeInt8: idCol 'embedding' collides with the output column")
    df.select(col(idCol),
      transform(col(qCol), q => q.cast("double") * col(scaleCol) / 127.0)
        .as("embedding"))
  }
}
