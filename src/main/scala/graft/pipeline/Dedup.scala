package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.TextAnalysis.tokens

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Hash choice: md5 (hex string) everywhere a hash value must be
  * reproducible by the DuckDB oracle; at production scale swap
  * `xxhash64` (8 bytes vs 32, ~5x faster) — the structure is identical.
  *
  * Scale shape of each op:
  *   - exact: one hash-aggregate on the digest — a single shuffle keyed
  *     by a 128-bit hash, perfectly balanced.
  *   - MinHash LSH: per-doc signatures are map-side (no shuffle); the
  *     only shuffle is the explode-by-band groupBy, keyed by (band,
  *     signature) — candidate buckets, never all-pairs.
  *   - SimHash: map-side fingerprint, then band-bucket join on fingerprint
  *     bytes.
  *   - n-gram Jaccard: shingle-inverted-index join; emits only pairs that
  *     share a shingle. Hot shingles are capped (`maxShingleDf`) — the
  *     classic skew guard for inverted-index joins.
  */
object Dedup {

  /** k-shingles from a PRE-MATERIALIZED word-array column. `w` must be a
    * real attribute (`withColumn`), not an inline expression: a HOF
    * lambda body re-evaluates any referenced expression PER ELEMENT, so
    * an inline split would re-run the regex once per shingle (observed
    * 700µs/shingle -> the whole op pinned on the split). */
  def shinglesFromWords(w: Column, k: Int): Column =
    when(size(w) >= k,
      transform(sequence(lit(0), size(w) - k),
        i => concat_ws(" ", slice(w, i + 1, lit(k)))))
      .otherwise(array(concat_ws(" ", w)))

  /** Lowercased word k-shingles of a text column. Convenience form for
    * small inputs — see [[shinglesFromWords]] for the hot path. */
  def shingles(c: Column, k: Int): Column = shinglesFromWords(tokens(c), k)

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Lowercase md5 hex of a string — bit-identical to Spark/DuckDB
    * `md5()`, computed in-kernel so hashing never leaves the JVM loop. */
  private def md5hex(md: java.security.MessageDigest, s: String): String = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Visit each DISTINCT k-shingle of a word array exactly once without
    * materializing the string array. (The expression form above is
    * CodegenFallback — interpreted slice/concat measured ~300µs/shingle;
    * this JVM loop is ~1000x faster and is what the dedup ops use.) */
  private def foreachDistinctShingle(ws: Seq[String], k: Int)(f: String => Unit): Unit = {
    if (ws.length < k) f(ws.mkString(" "))
    else {
      val seen = new java.util.HashSet[String]
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + k <= ws.length) {
        sb.setLength(0)
        var j = 0
        while (j < k) { if (j > 0) sb.append(' '); sb.append(ws(i + j)); j += 1 }
        val s = sb.toString
        if (seen.add(s)) f(s)
        i += 1
      }
    }
  }

  /** One-pass MinHash signature kernel: distinct shingles -> one md5 each
    * -> Kirsch-Mitzenmacher `a + i*b` -> running minima. Entirely
    * map-side: no shingle explode, no doc-keyed hash aggregate — the
    * signature leaves the scan already computed. null word array (null
    * text) or empty -> null signature (callers drop, matching the
    * explode-drop semantics of the aggregate formulation). */
  private[graft] def minhashSigUdf(k: Int, nh: Int) = udf { ws: Seq[String] =>
    if (ws == null || ws.isEmpty) null
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val mins = Array.fill(nh)(Long.MaxValue)
      foreachDistinctShingle(ws, k) { s =>
        val h = md5hex(md, s)
        val a = java.lang.Long.parseLong(h.substring(0, 15), 16)
        val b = java.lang.Long.parseLong(h.substring(16, 31), 16)
        var i = 0
        while (i < nh) {
          val v = a + i.toLong * b
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      mins
    }
  }

  /** One-pass 32-bit SimHash kernel over distinct whitespace tokens:
    * md5 -> first 8 hex chars as the token hash -> per-bit +/-1 votes ->
    * sign fingerprint. Map-side, zero shuffles. */
  private val simhashFpUdf = udf { ws: Seq[String] =>
    if (ws == null) null.asInstanceOf[java.lang.Long]
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](32)
      val seen = new java.util.HashSet[String]
      ws.foreach { t =>
        if (seen.add(t)) {
          val hv = java.lang.Long.parseLong(md5hex(md, t).substring(0, 8), 16)
          var b = 0
          while (b < 32) {
            if (((hv >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
      }
      var fp = 0L
      var b = 0
      while (b < 32) { if (votes(b) > 0) fp |= 1L << b; b += 1 }
      java.lang.Long.valueOf(fp)
    }
  }

  /** Distinct shingle set as 64-bit md5 prefixes. The inverted-index join
    * never needs the shingle text — an 8-byte key shuffles ~4x narrower
    * than the ~25-byte string and compares in one instruction. Distinct-
    * ness is decided on the STRINGS, so set sizes are exact; a 64-bit
    * collision merging two shingles across a doc pair has probability
    * ~n²/2^65 — negligible against float-rounding noise. */

  private def shingleHash64SetUdf(k: Int) = udf { ws: Seq[String] =>
    if (ws == null || ws.isEmpty) Array.empty[Long]
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val out = new scala.collection.mutable.ArrayBuffer[Long]
      foreachDistinctShingle(ws, k) { s =>
        out += java.lang.Long.parseUnsignedLong(md5hex(md, s).substring(0, 16), 16)
      }
      out.toArray
    }
  }

  /** Exact dedup: keep the lowest id per identical text; report group
    * size. Hashing the text first keeps shuffle rows narrow (32-byte key
    * instead of whole documents). */
  def exact(df0: DataFrame, id: String, text: String): DataFrame = {
    val df = graft.engine.Core.spread(df0)
    df.select(col(id), md5(col(text)).as("__h"))
      .groupBy(col("__h"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))
      .drop("__h")
  }

  /** Incremental exact dedup of an ingest batch against the persisted
    * digest table of everything already in the corpus: keep one doc per
    * distinct digest within the batch (min id, like [[exact]]) and drop
    * digests already in `seen` (a frame with a `digest` column — the
    * state a daily 100 TB pipeline carries between runs).
    *
    * Result is EXACT regardless of the bloom setting. With
    * `bloomExpectedItems > 0`, a bloom filter over xxhash64(seen.digest)
    * is built (one pass over the 16-byte digest table — never the
    * corpus) and applied map-side as a native
    * `BloomFilterMightContain` expression: "definitely new" digests
    * bypass the anti-join entirely (bloom has no false negatives), and
    * only the ~fpp "maybe seen" residue shuffles into the exact
    * anti-join. Size the bloom to the SEEN cardinality — at ~1.2 MB per
    * million items (fpp 1%) a billion-digest state is ~1.2 GB, past
    * broadcast comfort; above that, leave the default plain
    * shuffle anti-join (16-byte keys, perfectly balanced).
    * Returns (id, digest) of the surviving batch rows. */
  def incremental(newDocs: DataFrame, seen: DataFrame, id: String,
                  text: String, bloomExpectedItems: Long = 0L,
                  bloomFpp: Double = 0.01): DataFrame = {
    // min(id) IS the surviving row — no join-back needed, so the batch
    // is scanned once per plan branch, not twice.
    val firstInBatch = newDocs
      .select(col(id), md5(col(text).cast("binary")).as("digest"))
      .groupBy(col("digest")).agg(min(col(id)).as(id))
    val seenD = seen.select(col("digest"))
    if (bloomExpectedItems > 0) {
      import org.apache.spark.sql.GraftSqlShim
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
      import org.apache.spark.sql.types.BinaryType
      val bf = seenD.select(xxhash64(col("digest")).as("__h"))
        .stat.bloomFilter("__h", bloomExpectedItems, bloomFpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val maybeSeen = GraftSqlShim.column(BloomFilterMightContain(
        Literal(bos.toByteArray, BinaryType),
        GraftSqlShim.expression(xxhash64(col("digest")))))
      val flagged = firstInBatch.withColumn("__maybe", maybeSeen)
      flagged.filter(!col("__maybe")).drop("__maybe")
        .unionByName(flagged.filter(col("__maybe")).drop("__maybe")
          .join(seenD, Seq("digest"), "left_anti"))
        .select(col(id), col("digest"))
    } else
      firstInBatch.join(seenD, Seq("digest"), "left_anti")
        .select(col(id), col("digest"))
  }

  /** The LSH band-key table — the thing an INCREMENTAL pipeline
    * persists per ingest batch: one (doc, band, key) row per band,
    * where key is that band's rowsPerBand minhash values. Map-side
    * signatures (same kernel as [[minhashLshPairs]]), one narrow
    * explode, no shuffle; write it partitioned/bucketed by (band, key
    * hash) and tomorrow's batch equi-joins straight into the buckets.
    * State contract: k/bands/rowsPerBand must match across batches. */
  def minhashBandKeys(df0: DataFrame, id: String, text: String,
                      k: Int = 3, bands: Int = 4,
                      rowsPerBand: Int = 2): DataFrame =
    minhashBands(df0, id, text, k, bands, rowsPerBand)
      .select("doc", "band", "key")

  /** The one MinHash band projection: (doc, sig, band, key), one row
    * per (doc, band), key = that band's rowsPerBand signature values.
    * Map-side signatures and one narrow explode; column pruning drops
    * `sig` where only the keys are read ([[minhashBandKeys]]). */
  private def minhashBands(df0: DataFrame, id: String, text: String,
                           k: Int, bands: Int,
                           rowsPerBand: Int): DataFrame = {
    val df = graft.engine.Core.spread(df0)
    val nh = bands * rowsPerBand
    require(nh <= 8, "a + i*b needs i*b < 2^63: at most 8 hashes from 60-bit halves")
    val bandCols = (0 until bands).map { bd =>
      struct(lit(bd).as("band"),
        array((0 until rowsPerBand).map(r =>
          col("sig")(bd * rowsPerBand + r)): _*).as("key"))
    }
    df.select(col(id).as("doc"),
        minhashSigUdf(k, nh)(tokens(col(text))).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc"), col("sig"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc"), col("sig"), col("bk.band").as("band"),
        col("bk.key").as("key"))
  }

  /** Incremental MinHash-LSH: candidate pairs of a NEW batch against a
    * persisted band-key state ([[minhashBandKeys]] output) PLUS pairs
    * within the batch — fuzzy analogue of [[incremental]]'s exact
    * digest state. The state's text is never re-shingled: matching is
    * ONE equi-join on (band, key) (AQE skew-join covers a hot bucket),
    * the batch's own signatures are map-side, and within-batch pairs
    * reuse [[minhashLshPairs]] unchanged. Emits (doc_new, doc_match)
    * distinct — doc_match is the state doc, or the earlier (smaller-id)
    * batch doc for within-batch candidates. */
  def minhashLshIncrementalPairs(newDf: DataFrame, id: String, text: String,
                                 stateKeys: DataFrame, k: Int = 3,
                                 bands: Int = 4, rowsPerBand: Int = 2,
                                 maxBucket: Int = 100000): DataFrame = {
    val newKeys = minhashBandKeys(newDf, id, text, k, bands, rowsPerBand)
    val vsState = newKeys
      .join(stateKeys.select(col("doc").as("__sdoc"),
        col("band"), col("key")), Seq("band", "key"))
      .select(col("doc").as("doc_new"), col("__sdoc").as("doc_match"))
    val within = minhashLshPairs(newDf, id, text, k, bands, rowsPerBand,
        maxBucket)
      .select(col("doc2").as("doc_new"), col("doc1").as("doc_match"))
    vsState.unionByName(within).distinct()
  }

  /** LSH candidate pairs: docs sharing any band signature.
    *
    * Hash family: ONE md5 per distinct shingle, split into two 60-bit
    * halves (a, b); hash i is `a + i*b` (Kirsch-Mitzenmacher double
    * hashing — i < 8 keeps a + i*b < 2^63, no overflow). The whole
    * signature is computed by [[minhashSigUdf]] in one map-side pass over
    * the scan — no shingle explode, no doc-keyed aggregate shuffle.
    *
    * Shape at scale: ONE shuffle total, keyed by (band, band-signature):
    * the banded rows are grouped per bucket and candidate pairs stream
    * out of a typed flatMapGroups — no self-join, no materialization of
    * the banded table. Cross-band duplicates are dropped inside the same
    * loop by the FIRST-colliding-band rule (all earlier bands of the two
    * signatures must differ), so no distinct shuffle either.
    *
    * Skew guard: a bucket of B near-identical docs yields B²/2 pairs —
    * quadratic in the hottest bucket. With `maxBucket > 0` (the finite
    * default caps a template-heavy corpus's hottest bucket), any bucket
    * larger than that emits a STAR instead (every member paired with the
    * bucket minimum): linear output that preserves exactly the
    * connectivity [[clusters]] needs, at the cost of losing the
    * non-representative pair list for those buckets (the caller was
    * going to collapse them into one cluster anyway; a star pair can
    * repeat across bands — [[clusters]] is insensitive, pair-list
    * consumers should distinct). maxBucket=0 keeps full enumeration —
    * the oracle-checked default at test scale. */
  def minhashLshPairs(df0: DataFrame, id: String, text: String,
                      k: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                      maxBucket: Int = 100000): DataFrame = {
    val spark = df0.sparkSession
    import spark.implicits._
    val rpb = rowsPerBand
    minhashBands(df0, id, text, k, bands, rowsPerBand)
      .select(col("band"), col("key"), col("doc"), col("sig"))
      .as[(Int, Seq[Long], Long, Seq[Long])]
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Int, Seq[Long]), it: Iterator[(Int, Seq[Long], Long, Seq[Long])]) =>
        val band = key._1
        val members = it.map(t => (t._3, t._4)).toArray
        def earlierBandsDiffer(s1: Seq[Long], s2: Seq[Long]): Boolean = {
          var e = 0
          while (e < band) {
            var same = true
            var r = 0
            while (r < rpb && same) { same = s1(e * rpb + r) == s2(e * rpb + r); r += 1 }
            if (same) return false
            e += 1
          }
          true
        }
        if (maxBucket > 0 && members.length > maxBucket) {
          // star fallback: min-member hub keeps the component connected
          var hub = members(0)._1
          var m = 1
          while (m < members.length) {
            if (members(m)._1 < hub) hub = members(m)._1; m += 1
          }
          val h = hub
          members.iterator.filter(_._1 != h).map(t => (h, t._1))
        } else {
          for {
            i <- members.indices.iterator
            j <- (i + 1 until members.length).iterator
            if earlierBandsDiffer(members(i)._2, members(j)._2)
          } yield {
            val (d1, d2) = (members(i)._1, members(j)._1)
            if (d1 < d2) (d1, d2) else (d2, d1)
          }
        }
      }
      .toDF("doc1", "doc2")
  }

  /** Path-chain a group's doc ids into (n-1) connectivity edges with
    * O(1) state: consecutive iterator elements link as (prev, cur),
    * normalized to (min, max). The emitted graph's CONNECTED COMPONENTS
    * equal those of the complete within-group graph (a path spans the
    * group), but the concrete edge SET follows iterator order — which
    * is partition- and retry-dependent — so consumers must only read
    * component structure ([[clusters]] does), never individual edges. */
  private def chainEdges(it: Iterator[Long]): Iterator[(Long, Long)] =
    if (!it.hasNext) Iterator.empty
    else {
      var prev = it.next()
      it.map { cur =>
        val e = if (prev < cur) (prev, cur) else (cur, prev)
        prev = cur
        e
      }
    }

  /** Connectivity-only emission mode of [[minhashLshPairs]] (the
    * "star-edge" lever): each LSH bucket emits a spanning PATH of its
    * members instead of all O(n²) within-bucket pairs, so output volume
    * is Σ(bucket-1) — linear in the posting volume — while the
    * connected components (all [[clusters]] needs) are IDENTICAL to the
    * all-pairs graph's by construction. Use when the pairs feed
    * component extraction / keep-best dedup rather than a similarity
    * join; a corpus whose near-dup clusters are large (the exact regime
    * where all-pairs emission blows up at 100 TB) costs no more than a
    * clean one. Chaining beats a min-hub star here: the hub form must
    * buffer every bucket member to find the minimum, the chain holds
    * one id. Edge set is iterator-order-dependent (components are not);
    * output (doc1 < doc2), distinct. */
  def minhashLshEdges(df: DataFrame, id: String, text: String,
                      k: Int = 3, bands: Int = 4,
                      rowsPerBand: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    minhashBandKeys(df, id, text, k, bands, rowsPerBand)
      .select(col("band"), col("key"), col("doc"))
      .as[(Int, Seq[Long], Long)]
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups((_: (Int, Seq[Long]), it: Iterator[(Int, Seq[Long], Long)]) =>
        chainEdges(it.map(_._3)))
      .toDF("doc1", "doc2")
      .distinct()
  }

  /** 32-bit SimHash fingerprint from word tokens (md5-derived token
    * hashes so the oracle can reproduce it; production: xxhash64 + 64
    * bits). Fingerprints come straight off the scan via [[simhashFpUdf]]
    * — zero shuffles (the explode + 32-column vote aggregate this
    * replaces shuffled every (doc, token) row by doc). */
  def simhash32(df0: DataFrame, id: String, text: String): DataFrame = {
    val df = graft.engine.Core.spread(df0)
    df.select(col(id).as("doc"), simhashFpUdf(tokens(col(text))).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** SimHash near-dup candidates: byte-band bucketing, then hamming
    * distance inside each bucket. By pigeonhole, 4 byte-bands make the
    * candidate set complete for maxHamming <= 3.
    *
    * Same single-shuffle flatMapGroups shape as [[minhashLshPairs]]:
    * pairs stream out of each (band, byte) bucket with the
    * FIRST-colliding-band rule and the hamming gate applied in the same
    * JVM loop — no self-join, no checkpoint, no distinct. */
  def simhashPairs(df: DataFrame, id: String, text: String,
                   maxHamming: Int = 3, maxBucket: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fps = simhash32(df, id, text)
    fps.select(col("doc"), col("simhash"),
      explode(array((0 until 4).map { byte =>
        struct(lit(byte).as("band"),
          shiftright(col("simhash"), byte * 8).bitwiseAND(0xff).as("key"))
      }: _*)).as("bk"))
      .select(col("bk.band"), col("bk.key"), col("doc"), col("simhash"))
      .as[(Int, Long, Long, Long)]
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Int, Long), it: Iterator[(Int, Long, Long, Long)]) =>
        val band = key._1
        val members = it.map(t => (t._3, t._4)).toArray
        def firstBand(f1: Long, f2: Long): Boolean = {
          var e = 0
          while (e < band) {
            if (((f1 >> (e * 8)) & 0xff) == ((f2 >> (e * 8)) & 0xff)) return false
            e += 1
          }
          true
        }
        if (maxBucket > 0 && members.length > maxBucket) {
          // over-cap bucket (template-heavy corpus): degrade to a
          // min-doc hub star, O(bucket) pairs — keeps the hamming gate,
          // preserves hub-connectivity for dedup clustering, but no
          // longer enumerates every qualifying pair (documented
          // approximation; same guard shape as minhashLshPairs)
          var hub = members(0)
          var m = 1
          while (m < members.length) {
            if (members(m)._1 < hub._1) hub = members(m); m += 1
          }
          val (hd, hf) = hub
          members.iterator.filter(_._1 != hd).flatMap { case (d, f) =>
            val h = java.lang.Long.bitCount(hf ^ f)
            if (h <= maxHamming) {
              Some(if (hd < d) (hd, d, h) else (d, hd, h))
            } else None
          }
        } else {
          for {
            i <- members.indices.iterator
            j <- (i + 1 until members.length).iterator
            h = java.lang.Long.bitCount(members(i)._2 ^ members(j)._2)
            if h <= maxHamming && firstBand(members(i)._2, members(j)._2)
          } yield {
            val (d1, d2) = (members(i)._1, members(j)._1)
            if (d1 < d2) (d1, d2, h) else (d2, d1, h)
          }
        }
      }
      .toDF("doc1", "doc2", "hamming")
  }

  /** Connected components over a candidate-pair graph: assigns every
    * document that appears in `pairs` the MINIMUM doc id reachable from
    * it (the canonical dedup-cluster representative — keep that doc,
    * drop the rest).
    *
    * Bounded driver finish, with contraction above the bound — the
    * practical distributed CC. The edge set is checkpointed once and
    * counted; edges that fit the bound are collected (one job at any
    * partition count) and union-found on the driver, and that
    * union-find is the returned cluster table (a local table of at most
    * two rows per edge) — no doc explode/distinct plan. Only above the
    * bound:
    *
    *   1. While the edge set exceeds `driverEdgeLimit`: run a hash-map
    *      union-find over each PARTITION's edges (`mapPartitions`, memory
    *      bounded by partition size), take the min root per node across
    *      partitions, rewrite every edge through that mapping, and drop
    *      self-edges + duplicates. Any mapping that sends a node to a
    *      same-component node preserves the quotient graph's components,
    *      and each pass collapses all intra-partition structure, so the
    *      edge count shrinks geometrically (a chain spanning P partitions
    *      contracts to ~P edges in one pass).
    *   2. The surviving contracted edge set — bounded by the limit — is
    *      union-found exactly on the driver and broadcast back; the
    *      full-resolution doc→label mapping composed during contraction
    *      resolves through it.
    *
    * Union is min-rooted everywhere, so the final representative is the
    * component's minimum doc id at every scale.
    *
    * Why not iterative label propagation: min-label hooking needs
    * diameter rounds (a ~450-hop chain of template near-dups at sf0.1
    * needed 30+), each round is a full shuffle + action, and
    * `localCheckpoint` CARRIES the origin plan's estimated sizeInBytes
    * into the LogicalRDD, so the join-product estimate SQUARES per round
    * until the planner is multiplying million-digit BigInts. The
    * contraction form does a constant number of distributed passes
    * (usually zero at bench scale) regardless of diameter.
    *
    * `checkpointDir` (r14): when set, iteration state truncates through
    * RELIABLE checkpoint files under that directory instead of
    * `localCheckpoint` block-manager blocks — the "CC as a dedicated
    * storage stage" production protocol. In a shared batch the local
    * blocks contend with every other row's cached state (the sf10
    * dedup-fuzzy 27-63 s swing vs 8.8-29.8 s isolated, BASELINE.md);
    * the storage-dir form trades a file write for immunity to that
    * churn. Output is identical either way (PipelineSpec). */
  def clusters(pairs: DataFrame, doc1: String = "doc1", doc2: String = "doc2",
               driverEdgeLimit: Long = 2000000L, maxContract: Int = 6,
               checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    def truncate(df: DataFrame): DataFrame =
      graft.engine.Core.truncatePlan(df, checkpointDir).df
    // no distinct here: the driver union-find tolerates duplicate edges,
    // and the contraction loop dedups whenever it actually runs
    var edges = truncate(pairs
      .select(least(col(doc1), col(doc2)).cast("long").as("a"),
        greatest(col(doc1), col(doc2)).cast("long").as("b")))
    // the count bounds the collect: nothing is collected above the bound
    def unionFind(): UnionFind = {
      val uf = new UnionFind
      edges.as[(Long, Long)].collect().foreach { case (a, b) => uf.union(a, b) }
      uf
    }
    // a count of the physical rows is one job, with no row conversion
    // (Dataset.count adds a shuffle stage, Dataset.rdd a deserializer)
    def edgeCount(): Long = edges.queryExecution.toRdd.count()
    var n = edgeCount()
    if (n <= driverEdgeLimit)
      // the driver union-find IS the cluster table (<= 2 rows per edge)
      unionFind().entries.toSeq.toDF("doc", "cluster_rep")
    else {
      // full-resolution doc -> contracted-label mapping (starts identity;
      // materialized once at the end unless a pass composes through it)
      var mapping =
        edges.select(explode(array(col("a"), col("b"))).as("doc")).distinct()
          .withColumn("lbl", col("doc"))
      var pass = 0
      while (n > driverEdgeLimit && pass < maxContract) {
        val local = edges.as[(Long, Long)].mapPartitions { it =>
          val uf = new UnionFind
          it.foreach { case (a, b) => uf.union(a, b) }
          uf.entries
        }.toDF("node", "root")
          .groupBy("node").agg(min("root").as("root"))
        val m = truncate(local)
        mapping = truncate(mapping
          .join(m.withColumnRenamed("node", "lbl"), Seq("lbl"), "left")
          .select(col("doc"), coalesce(col("root"), col("lbl")).as("lbl")))
        edges = truncate(edges
          .join(m.withColumnRenamed("node", "a").withColumnRenamed("root", "ra"),
            Seq("a"), "left")
          .join(m.withColumnRenamed("node", "b").withColumnRenamed("root", "rb"),
            Seq("b"), "left")
          .select(least(coalesce(col("ra"), col("a")),
              coalesce(col("rb"), col("b"))).as("a"),
            greatest(coalesce(col("ra"), col("a")),
              coalesce(col("rb"), col("b"))).as("b"))
          .filter(col("a") =!= col("b"))
          .distinct())
        n = edgeCount()
        pass += 1
      }
      // fail fast instead of silently collecting an over-limit edge set
      // when contraction stalls (e.g. one giant clique-free component
      // that no partition-local pass can collapse further)
      require(n <= driverEdgeLimit,
        s"CC contraction stalled at $n edges (> driverEdgeLimit=" +
          s"$driverEdgeLimit) after $pass passes; raise driverEdgeLimit " +
          "or maxContract, or pre-partition the edge set")
      // bounded exact finish: contracted edges fit on the driver
      val roots = unionFind().entries.toMap
      val bc = spark.sparkContext.broadcast(roots)
      val resolve = udf { l: Long => bc.value.getOrElse(l, l) }
      mapping.select(col("doc"), resolve(col("lbl")).as("cluster_rep"))
    }
  }

  /** End-to-end fuzzy dedup: MinHash-LSH candidate edges →
    * connected-component clusters → keep the canonical (minimum-id)
    * member of every near-dup cluster; docs in no cluster keep
    * themselves. One call from corpus to keep/drop decision — the
    * composition a user would otherwise hand-wire from
    * [[minhashLshEdges]] + [[clusters]].
    *
    * Candidate generation is SPANNING-EDGE ([[minhashLshEdges]],
    * round 12): fuzzy only ever consumes component structure, so
    * all-pairs enumeration inside each LSH bucket was pure waste —
    * spanning paths give IDENTICAL clusters (and thus identical keep
    * decisions) with output linear in posting volume, making a
    * 10^6-member boilerplate family cost 10^6-1 edges instead of the
    * quadratic that [[minhashLshPairs]]' `maxBucket` used to cap. The
    * edge form has no quadratic, so this entry point takes no cap
    * (the r12 signature's dead `maxBucket` parameter was removed in
    * r13 — a caller tuning it got no effect and no warning).
    *
    * Returns one row per input doc: (id, cluster_rep, keep). The final
    * join back to the corpus is on the doc id against the cluster table
    * (|clustered docs| rows — only docs with at least one near-dup),
    * which AQE broadcasts when small. */
  def fuzzy(df: DataFrame, id: String, text: String, k: Int = 3,
            bands: Int = 4, rowsPerBand: Int = 2,
            checkpointDir: Option[String] = None): DataFrame = {
    val cl = clusters(
      minhashLshEdges(df, id, text, k, bands, rowsPerBand),
      checkpointDir = checkpointDir)
      .withColumnRenamed("doc", "__doc")
    df.select(col(id))
      .join(cl, col(id) === col("__doc"), "left")
      .select(col(id),
        coalesce(col("cluster_rep"), col(id)).as("cluster_rep"),
        (coalesce(col("cluster_rep"), col(id)) === col(id)).as("keep"))
  }

  /** [[fuzzy]] with QUALITY-AWARE survivor selection: instead of the
    * canonical minimum id, each near-dup cluster keeps its
    * highest-`quality` member (tie -> smallest id) — the form actually
    * used when cleaning training corpora, where the longest / highest-
    * scoring variant of a boilerplate family should survive, not the
    * one that happened to be crawled first.
    *
    * Scale shape: identical to [[fuzzy]] upstream (spanning-edge LSH,
    * contracted CC). Survivor selection is ONE |docs|-row hash
    * aggregate to |clusters| rows — `max_by(id, (quality, -id))` is
    * map-side combinable, so no cluster is ever sorted — and the
    * join back is AQE-broadcast when the cluster table is small.
    * Returns (id, cluster_rep, keep_id, keep). */
  def fuzzyKeepBest(df: DataFrame, id: String, text: String,
                    quality: Column, k: Int = 3,
                    bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val cl = clusters(
      minhashLshEdges(df, id, text, k, bands, rowsPerBand))
      .withColumnRenamed("doc", "__doc")
    val labeled = df.select(col(id), quality.as("__q"))
      .join(cl, col(id) === col("__doc"), "left")
      .select(col(id), col("__q"),
        coalesce(col("cluster_rep"), col(id)).as("cluster_rep"))
    val survivors = labeled.groupBy(col("cluster_rep"))
      .agg(max_by(col(id), struct(col("__q"), (-col(id)).as("__n")))
        .as("keep_id"))
    labeled.join(survivors, Seq("cluster_rep"))
      .select(col(id), col("cluster_rep"), col("keep_id"),
        (col(id) === col("keep_id")).as("keep"))
  }

  /** Min-rooted union-find with path compression (smaller id wins, so
    * every root is its component's minimum member). */
  private[pipeline] final class UnionFind {
    private val parent = new java.util.HashMap[Long, Long]()
    private def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (parent.getOrDefault(c, c) != c) {
        val nxt = parent.get(c); parent.put(c, r); c = nxt
      }
      r
    }
    def union(a: Long, b: Long): Unit = {
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    def entries: Iterator[(Long, Long)] = {
      val keys = parent.keySet().toArray(new Array[java.lang.Long](0))
      keys.iterator.map(k => (k.longValue(), find(k)))
    }
  }

  /** Exact n-gram Jaccard similarity for pairs sharing >= 1 shingle.
    * `maxShingleDf` drops ubiquitous shingles (skew guard; also an
    * LSH-free candidate cap). Consumers that only need CONNECTIVITY
    * (cluster extraction, keep-best) should use [[ngramShingleEdges]]
    * instead — identical components at linear output volume; this
    * all-pairs form is for genuine similarity-join semantics where the
    * per-pair Jaccard value matters.
    *
    * Plan shape — TWO shuffles total:
    *   1. groupByKey(shingle): each posting list streams through a typed
    *      flatMapGroups that buffers at most cap+1 entries (a hot shingle
    *      cannot OOM an executor — past the cap it only counts, then
    *      emits nothing). This one stage subsumes the document-frequency
    *      pass, the anti-join, AND the self-join of the join formulation.
    *   2. one (doc1, doc2) hash aggregate counting shared shingles. Set
    *      sizes ride with the postings, so no join-back. */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String, k: Int = 3,
                        minJaccard: Double = 0.8,
                        maxShingleDf: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val docs = graft.engine.Core.spread(df)
      .select(col(id).as("doc"), shingleHash64SetUdf(k)(tokens(col(text))).as("shl"))
    val sh = docs
      .select(col("doc"), size(col("shl")).as("sz"), explode(col("shl")).as("s"))
      .select(col("s"), col("doc"), col("sz"))
      .as[(Long, Long, Int)]
    val pairs = sh
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long, Int)]) =>
        val buf = new scala.collection.mutable.ArrayBuffer[(Long, Int)](8)
        var n = 0
        while (it.hasNext) {
          val t = it.next()
          n += 1
          if (n <= maxShingleDf + 1) buf += ((t._2, t._3))
        }
        if (n > maxShingleDf) Iterator.empty
        else for {
          i <- buf.indices.iterator
          j <- (i + 1 until buf.length).iterator
        } yield {
          val (a, b) = if (buf(i)._1 < buf(j)._1) (buf(i), buf(j)) else (buf(j), buf(i))
          (a._1, b._1, a._2, b._2)
        }
      }.toDF("doc1", "doc2", "sz1", "sz2")
    pairs
      .groupBy("doc1", "doc2", "sz1", "sz2").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc1", "doc2", "jaccard")
  }

  /** Connectivity-only emission mode of [[ngramJaccardPairs]]: spanning
    * edges of the shares-a-retained-shingle graph (the minJaccard=0
    * candidate graph), one PATH per posting list instead of all O(n²)
    * within-posting pairs. The Jaccard value cannot ride along — a
    * pair's true intersection count needs every posting it co-occurs
    * in, which spanning emission deliberately does not enumerate — so
    * this mode is for component consumers ([[clusters]], keep-best),
    * not similarity joins; full-pair mode stays the default semantics.
    * `maxShingleDf` drops ubiquitous shingles exactly as in the pairs
    * form (state per group: one capped id buffer). Edge set is
    * iterator-order-dependent; components are not. Output volume is
    * Σ min(df_s, cap) over shingles — at sf1's 10×-duplicated corpus
    * this is ~100× below the all-pairs within-cluster volume. */
  def ngramShingleEdges(df: DataFrame, id: String, text: String,
                        k: Int = 3, maxShingleDf: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val docs = graft.engine.Core.spread(df)
      .select(col(id).as("doc"),
        shingleHash64SetUdf(k)(tokens(col(text))).as("shl"))
    docs.select(explode(col("shl")).as("s"), col("doc"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long)]) =>
        // the df cap needs the full count before any edge may be
        // emitted, so buffer up to cap+1 ids (same bound as the pairs
        // form's buffer) and chain the survivors
        val buf = new scala.collection.mutable.ArrayBuffer[Long](8)
        var n = 0
        while (it.hasNext) {
          val t = it.next()
          n += 1
          if (n <= maxShingleDf + 1) buf += t._2
        }
        if (n > maxShingleDf) Iterator.empty
        else chainEdges(buf.iterator)
      }
      .toDF("doc1", "doc2")
      .distinct()
  }

  // ---------------------------------------------------------------
  // Exact duplicated-substring spans (suffix-array dedup, distributed)
  // ---------------------------------------------------------------

  /** Exact duplicated-substring spans — the operation behind
    * suffix-array substring dedup of training corpora (Lee et al. 2022,
    * arXiv:2107.06499; no analogue in the reference — training-pipeline
    * superset). A monolithic suffix array does not distribute; the
    * equivalent map-reduce form slides a `win`-char window with stride
    * `stride` over every doc, keeps windows whose CONTENT occurs more
    * than once in the corpus, and merges each doc's duplicated window
    * positions into maximal spans (gaps-and-islands). Guarantee: every
    * duplicated run of length >= win + stride - 1 contains a
    * stride-aligned full window, so it is detected; boundaries are
    * exact at stride=1 and conservative by < stride chars otherwise.
    *
    * Plan shape at 100 TB: the exploded (hash, doc, pos) table has
    * ~|corpus chars| / stride rows — `stride` is the knob trading
    * boundary precision for explode volume. Duplicate detection is ONE
    * `count(*) over (partition by h1, h2)` window pass: the exploded
    * stream is evaluated once and shuffled once on the 128-bit content
    * key, then filtered to count > 1. (The previous dup-aggregate +
    * left-semi-join shape re-evaluated the explode subtree — the
    * dominant scan+hash cost — once per branch, and its semi join
    * shuffled the same full row stream on the same key anyway, so the
    * window form strictly removes one explode evaluation and one
    * shuffle without changing the skew profile; a hot window's rows
    * land on one reducer either way and stream through the count.) The
    * span merge is one window pass partitioned by doc, state bounded by
    * one doc's window count. Two shuffles + the per-doc sort, total.
    *
    * Windows travel as a pair of Rabin-Karp polynomial hashes with
    * distinct odd bases (16 bytes on the wire instead of `win` chars),
    * both produced by ONE O(|text|) rolling pass
    * ([[graft.functions.WindowHashPairs]], native codegen). The two
    * wrapping mod-2^64 hashes are not fully independent the way two
    * seeded universal hashes would be (difference polynomials can share
    * roots mod a composite 2^64), but a simultaneous collision on
    * non-adversarial text is negligible at corpus scale — and the
    * DuckDB oracle groups by the raw window text, so any collision
    * would surface as a correctness diff, not silent data loss.
    * Positions and window units are UTF-16 code units (== characters
    * for all BMP text; for supplementary-plane text, span offsets index
    * UTF-16 units, not code points). Emits
    * (id, span_start, span_end, span_len), 1-based inclusive.
    *
    * `maxWindowDf` (optional, default off) bounds the hot-window
    * straggler: the count-over-(h1,h2) window BUFFERS each group in
    * WindowExec (spill-capable but single-reducer), so one boilerplate
    * window repeated ~10^9 times across the corpus becomes one
    * straggler task. With `maxWindowDf = Some(cap)` a cheap pre-pass
    * (`groupBy(h1,h2).count` — map-side combinable, so the hot key
    * reaches its reducer as one row per mapper, never 10^9 rows)
    * finds the keys with document frequency > cap; those keys are
    * BROADCAST back and their rows bypass the count entirely — df >
    * cap >= 2 already proves them duplicated, the exact count is
    * irrelevant — by salting each such row into its own singleton
    * window group. Every surviving WindowExec group is then <= cap
    * rows by construction. Output is IDENTICAL to the uncapped plan
    * (pinned by spec); the price is a second evaluation of the
    * rolling-hash explode for the pre-pass (the default uncapped plan
    * keeps the one-Generate / no-join shape PlanGuardSpec pins). The
    * hot-key set must be broadcastable — mega-dup boilerplate
    * families are rare by the cap's own definition; pick cap high
    * enough (>= ~10^5) that ordinary duplication stays under it. */
  def substringSpans(df: DataFrame, id: String, text: String,
                     win: Int = 30, stride: Int = 1,
                     maxWindowDf: Option[Long] = None): DataFrame = {
    require(win >= 2 && stride >= 1, s"need win>=2, stride>=1; got $win, $stride")
    maxWindowDf.foreach(c => require(c >= 2, s"maxWindowDf must be >= 2; got $c"))
    import org.apache.spark.sql.expressions.Window
    // spread BEFORE the explode: a compact doc table reads as a handful
    // of input splits, and without this every window hash is computed on
    // those few tasks (the explode inflates rows ~|text|/stride-fold)
    // Window identity = a PAIR of Rabin-Karp hashes with distinct odd
    // bases, both computed for ALL positions of a doc in ONE O(|text|)
    // rolling pass (graft.functions.WindowHashPairs, native codegen)
    // emitting array<struct<h1,h2>> directly. The previous shape —
    // arrays_zip over two single-base WindowHashes calls — read the
    // string twice, materialized two long arrays, and allocated a zip
    // struct per element on top (a GC storm at ~1.5M windows per task
    // that made the in-suite bench 7x slower than isolated); this form
    // allocates exactly one small struct per emitted window.
    import graft.functions.WindowHashPairs
    val pos = graft.engine.Core.spread(df.select(col(id), col(text).as("__t")))
      .filter(length(col("__t")) >= win)
      .select(col(id),
        posexplode(WindowHashPairs(col("__t"), win, stride)).as(Seq("__i", "__z")))
      .select(col(id),
        (col("__i").cast("long") * stride + 1).as("__p"),
        col("__z.h1").as("__h"), col("__z.h2").as("__h2"))
    // one count-over-(h1,h2) window: the explode subtree is evaluated
    // exactly once (PlanGuardSpec pins one Generate in the plan).
    // Capped mode (maxWindowDf): rows of keys hotter than the cap are
    // salted into singleton window groups (they are dup by definition,
    // the buffered count is irrelevant), bounding every WindowExec
    // group at <= cap rows — see the scaladoc for the full trade.
    val hits0 = maxWindowDf match {
      case None =>
        val byHash = Window.partitionBy(col("__h"), col("__h2"))
        pos.withColumn("__c", count(lit(1)).over(byHash))
          .filter(col("__c") > 1)
      case Some(cap) =>
        val hot = pos.groupBy(col("__h"), col("__h2"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") > cap)
          .select(col("__h"), col("__h2"), lit(true).as("__hot"))
        val tagged = pos
          .join(broadcast(hot), Seq("__h", "__h2"), "left")
          .withColumn("__hot", coalesce(col("__hot"), lit(false)))
        val salt = when(col("__hot"), xxhash64(col(id), col("__p")))
          .otherwise(lit(0L))
        val byHash = Window.partitionBy(col("__h"), col("__h2"), salt)
        tagged.withColumn("__c", count(lit(1)).over(byHash))
          .filter(col("__hot") || col("__c") > 1)
    }
    val hits = hits0
      .select(col(id), col("__p"), (col("__p") + (win - 1)).as("__e"))
    val byDoc = Window.partitionBy(col(id)).orderBy(col("__p"))
    val prevEnd = max(col("__e"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val brk = when(col("__p") > coalesce(prevEnd, lit(-1L)) + 1, 1).otherwise(0)
    hits
      .withColumn("__i", sum(brk)
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(id), col("__i"))
      .agg(min(col("__p")).as("span_start"), max(col("__e")).as("span_end"))
      .select(col(id), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** Apply [[substringSpans]] to the text: excise every duplicated
    * span and return the spliced remainder — the "remove duplicated
    * substrings before training" rewrite of Lee et al. 2022. Policy is
    * AGGRESSIVE excision: every marked occurrence is removed,
    * including the first (the right call for boilerplate, which is the
    * dominant substring-dup class in web corpora; a keep-one policy
    * would need a global first-occurrence election per window content
    * — compose [[substringSpans]] with a custom keeper if that is the
    * requirement). Splicing can create NEW windows across seams that
    * coincidentally match elsewhere, so "no duplicated window remains"
    * is deliberately NOT claimed — same caveat as the original tool.
    *
    * Scale shape: [[substringSpans]]' two shuffles, plus one per-doc
    * span aggregate (state = one doc's merged spans — bounded by
    * |text|/win) joined back to the corpus; the splice is a per-row
    * JVM function over that bounded span list — no extra shuffle.
    * It splices in UTF-16 units via String.substring, because the
    * span kernel ([[graft.functions.WindowHashPairs]], charAt-based)
    * reports UTF-16 offsets while Spark's `substr`/`length` count
    * CODE POINTS — a HOF splice would shift every span after a
    * supplementary-plane character and excise the wrong text. For the
    * same reason `n_chars`/`kept_chars` are UTF-16 unit counts
    * (String.length, r13), NOT Spark `length()`: with every column in
    * one unit system the row-internal identity
    * `kept_chars + dup_chars == n_chars` holds for ALL text,
    * supplementary-plane included (pinned by spec). For BMP text
    * (where the two unit systems coincide) everything matches the
    * code-point-consistent DuckDB oracle exactly; for
    * supplementary-plane text each engine is self-consistent but
    * offsets and lengths differ, the same documented caveat as
    * [[substringSpans]]. Docs with no duplicated span pass through
    * unchanged. Emits
    * (id, n_chars, n_spans, dup_chars, kept_chars, text_dedup). */
  def substringDedupText(df: DataFrame, id: String, text: String,
                         win: Int = 30, stride: Int = 1,
                         maxWindowDf: Option[Long] = None): DataFrame = {
    val spans = substringSpans(df, id, text, win, stride, maxWindowDf)
      .groupBy(col(id)).agg(
        sort_array(collect_list(struct(
          col("span_start"), col("span_end")))).as("__sp"),
        count(lit(1)).as("n_spans"),
        sum(col("span_len")).as("dup_chars"))
    val splice = udf((t: String, sp: Seq[org.apache.spark.sql.Row]) => {
      val sb = new StringBuilder
      var prev = 0
      sp.foreach { r =>
        val s = r.getLong(0).toInt; val e = r.getLong(1).toInt
        sb.append(t.substring(prev, s - 1)) // UTF-16 units, 1-based spans
        prev = e
      }
      sb.append(t.substring(prev))
      sb.toString
    })
    // UTF-16 units (String.length), matching the span kernel's unit
    // system — NOT Spark length() (code points); see the scaladoc
    val utf16Len = udf((s: String) =>
      if (s == null) null else java.lang.Long.valueOf(s.length.toLong))
    val t = col("__t")
    df.select(col(id), col(text).as("__t"))
      .join(spans, Seq(id), "left")
      .withColumn("text_dedup",
        when(col("__sp").isNull, t).otherwise(splice(t, col("__sp"))))
      .select(col(id),
        utf16Len(t).as("n_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        utf16Len(col("text_dedup")).as("kept_chars"),
        col("text_dedup"))
  }

  /** Per-doc roll-up of [[substringSpans]]: how much of each doc is
    * duplicated elsewhere in the corpus (the signal used to rank docs
    * for substring-level cleaning). Docs with no duplicated span report
    * 0. One extra broadcast-friendly left join over the span output. */
  def substringDupStats(df: DataFrame, id: String, text: String,
                        win: Int = 30, stride: Int = 1,
                        maxWindowDf: Option[Long] = None): DataFrame = {
    val spans = substringSpans(df, id, text, win, stride, maxWindowDf)
      .groupBy(col(id)).agg(
        count(lit(1)).as("n_spans"),
        sum(col("span_len")).as("dup_chars"))
    df.select(col(id), length(col(text)).cast("long").as("n_chars"))
      .join(spans, Seq(id), "left")
      .select(col(id), col("n_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        round(coalesce(col("dup_chars"), lit(0L)).cast("double") /
          greatest(col("n_chars"), lit(1L)) + lit(1e-9), 6).as("dup_frac"))
  }

  /** EXACT edit-distance similarity self-join (record linkage): all
    * pairs with `levenshtein <= maxDist`, via q-gram PREFIX FILTERING
    * (Chaudhuri/Ganti/Kaushik, ICDE'06) — never an all-pairs join:
    *
    *   1. one aggregate computes global q-gram frequencies (vocab-sized,
    *      broadcast back);
    *   2. each string keeps only its `maxDist*q + 1` RAREST (gram, occ)
    *      items under the global (freq, gram, occ) total order — one
    *      id-keyed window shuffle. An edit destroys at most q gram
    *      occurrences, so the multiset count filter guarantees matching
    *      pairs share >= max(|Ga|,|Gb|) - maxDist*q items, and by
    *      pigeonhole two such prefixes must intersect;
    *   3. candidates come from ONE equi-join on the kept (gram, occ)
    *      keys — on adversarial common-prefix corpora (e.g. generated
    *      name columns) the rare grams are exactly the discriminative
    *      ones, so the candidate set stays near the true pair count;
    *   4. `levenshtein` verifies each distinct candidate (builtin,
    *      codegen).
    *
    * Strings with fewer than `maxDist*q + 1` grams (len <= q-1 +
    * maxDist*q) can evade the filter, so they pair among themselves by
    * length band (such pairs are only possible when BOTH sides are
    * short — a short/long pair already violates the length filter).
    * Occurrence indexes keep duplicate grams multiset-correct.
    * Returns (id_a, id_b, dist), id_a < id_b. */
  def editDistanceJoin(df: DataFrame, id: String, text: String,
                       maxDist: Int, q: Int = 2): DataFrame =
    edJoinCore(
      df.select(lit(0).as("__side"), col(id).cast("long").as("__id"),
        col(text).as("__txt")),
      maxDist, q,
      pairPred = (col("a.__id") < col("b.__id")),
      aSide = 0, bSide = 0)

  /** Two-table record linkage: all (left, right) pairs with
    * `levenshtein <= maxDist` — the cross-source form of
    * [[editDistanceJoin]] (matching a new batch against a canonical
    * entity table). Same prefix-filter machinery; the gram-frequency
    * total order is computed over BOTH sides so the pigeonhole
    * guarantee spans the cross join. Returns (id_a from left, id_b
    * from right, dist); many-to-many matches are all emitted. */
  def editDistanceJoinTables(left: DataFrame, right: DataFrame,
                             leftId: String, leftText: String,
                             rightId: String, rightText: String,
                             maxDist: Int, q: Int = 2): DataFrame =
    edJoinCore(
      left.select(lit(0).as("__side"), col(leftId).cast("long").as("__id"),
          col(leftText).as("__txt"))
        .union(right.select(lit(1).as("__side"),
          col(rightId).cast("long").as("__id"),
          col(rightText).as("__txt"))),
      maxDist, q,
      pairPred = (col("a.__side") === 0 && col("b.__side") === 1),
      aSide = 0, bSide = 1)

  /** Shared prefix-filter core over a (side, id, text) frame; `pairPred`
    * selects which (a, b) aliases form a candidate (self: id<id;
    * cross: side 0 x side 1), `aSide`/`bSide` name the side each end of
    * a candidate comes from — ids may collide ACROSS sides, so every
    * join-back filters by side. */
  private def edJoinCore(base: DataFrame, maxDist: Int, q: Int,
                         pairPred: Column, aSide: Int,
                         bSide: Int): DataFrame = {
    require(maxDist >= 1 && q >= 2, "editDistanceJoin: maxDist>=1, q>=2")
    val keep = maxDist * q + 1
    val shortMax = q - 1 + maxDist * q
    val w = org.apache.spark.sql.expressions.Window
    // positional grams -> (side, id, gram, occ). EVERY string with at
    // least one gram participates: a string at or below the filter
    // floor can still pair with a longer one (length diff <= maxDist),
    // and that pair's guarantee lives in the gram path — its keep bound
    // exceeds the short string's gram count, so the short side keeps
    // ALL its grams and the pigeonhole still closes. (Caught by the
    // seeded brute-force property suite.)
    val grams = base.filter(length(col("__txt")) >= q)
      .select(col("__side"), col("__id"), explode(transform(
        sequence(lit(1), length(col("__txt")) - (q - 1)),
        p => col("__txt").substr(p, lit(q)))).as("gram"))
      .withColumn("occ", row_number().over(
        w.partitionBy("__side", "__id", "gram").orderBy("gram")))
    val freq = grams.groupBy("gram").agg(count(lit(1)).as("__freq"))
    val kept = grams.join(broadcast(freq), Seq("gram"))
      .withColumn("__rk", row_number().over(
        w.partitionBy("__side", "__id")
          .orderBy(col("__freq"), col("gram"), col("occ"))))
      .filter(col("__rk") <= keep)
      .select(col("__side"), col("__id"), col("gram"), col("occ"))
    val candLong = kept.as("a").join(kept.as("b"),
        col("a.gram") === col("b.gram") && col("a.occ") === col("b.occ") &&
          pairPred)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
    // short-string block: all same-band pairs among the filter-exempt
    val shorts = base.filter(length(col("__txt")) <= shortMax)
    val candShort = shorts.as("a").join(shorts.as("b"),
        abs(length(col("a.__txt")) - length(col("b.__txt"))) <= maxDist &&
          pairPred)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
    val cands = candLong.union(candShort).distinct()
    cands
      .join(base.filter(col("__side") === aSide)
        .select(col("__id").as("id_a"), col("__txt").as("__ta")), Seq("id_a"))
      .join(base.filter(col("__side") === bSide)
        .select(col("__id").as("id_b"), col("__txt").as("__tb")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("__ta"), col("__tb")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
