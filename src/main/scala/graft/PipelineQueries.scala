package graft

import org.apache.spark.sql.functions._
import graft.engine.Core.r
import graft.pipeline._
import graft.Query.T

/** Training-data pipeline query surface: dedup, similarity search, text
  * analysis, multimodal plumbing. Hash-bearing ops use md5 so the DuckDB
  * oracle can reproduce signatures bit-for-bit (see Dedup scaladoc for
  * the xxhash64 production variant).
  */
object PipelineQueries {

  /** Shared shingle CTE (word 3-grams, distinct) mirroring
    * Dedup.shingles(k=3). */
  private[graft] val ShingleCte =
    """words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
                 FROM documents),
       s0 AS (SELECT doc_id,
                CASE WHEN len(w) >= 3 THEN
                  list_transform(generate_series(0, len(w)-3),
                                 i -> array_to_string(w[i+1:i+3], ' '))
                ELSE [array_to_string(w, ' ')] END AS shl
              FROM words),
       sh AS (SELECT DISTINCT doc_id, unnest(shl) AS s FROM s0)"""

  /** Token CTE mirroring simhash32's distinct whitespace tokens. */
  private val TokenCte =
    """toks AS (SELECT DISTINCT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                FROM documents)"""

  private val SimhashCte =
    s"""$TokenCte,
       h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM toks),
       bits AS (SELECT doc_id, b.bt,
                  sum(CASE WHEN (hv >> b.bt) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
                FROM h, (SELECT unnest(generate_series(0, 31)) AS bt) b
                GROUP BY 1, 2),
       fp AS (SELECT doc_id,
                CAST(sum(CASE WHEN sgn > 0 THEN 1::BIGINT << bt ELSE 0 END)
                     AS BIGINT) AS simhash
              FROM bits GROUP BY 1)"""

  /** MinHash-LSH pairs + symmetric edge set + recursive reachability —
    * the shared core of the q_dedup_clusters / q_dedup_fuzzy oracles
    * (callers must open WITH RECURSIVE). */
  private[graft] val ClustersCte =
    s"""$ShingleCte,
       hh AS (SELECT doc_id,
                ('0x' || substr(md5(s), 1, 15))::BIGINT AS a,
                ('0x' || substr(md5(s), 17, 15))::BIGINT AS b
              FROM sh),
       mh AS (SELECT doc_id, bb.band,
                min(a + (bb.band*2) * b) AS h0,
                min(a + (bb.band*2+1) * b) AS h1
              FROM hh, (SELECT unnest(generate_series(0, 3)) AS band) bb
              GROUP BY 1, 2),
       prs AS (SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
               FROM mh a JOIN mh c
                 ON a.band = c.band AND a.h0 = c.h0 AND a.h1 = c.h1
                AND a.doc_id < c.doc_id),
       edges AS (SELECT doc1 AS a, doc2 AS b FROM prs
                 UNION ALL SELECT doc2, doc1 FROM prs),
       reach(doc, r) AS (
         SELECT a, a FROM edges
         UNION
         SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.doc
       )"""

  val queries: Seq[Query] = Seq(

    // ---- exact dedup ----
    Query("q_dedup_exact", (s, d) =>
      Dedup.exact(T(s, d, "documents"), "doc_id", "text")
        .orderBy("keep_id"),
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY md5(text) ORDER BY keep_id"""),

    // ---- incremental dedup of an ingest batch against the persisted
    //      digest state, bloom-prefiltered scale path (results are
    //      exact at any fpp — the bloom only routes the plan). The
    //      fixture has no exact dupes, so the batch is docs + an
    //      id-shifted copy; "seen" is every doc_id % 5 == 0 digest ----
    Query("q_dedup_incr", (s, d) => {
      val docs = T(s, d, "documents")
      val batch = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.select((col("doc_id") + 10000).as("doc_id"),
          col("text")))
      val seen = docs.filter(col("doc_id") % 5 === 0)
        .select(md5(col("text").cast("binary")).as("digest"))
      Dedup.incremental(batch, seen, "doc_id", "text",
          bloomExpectedItems = 1000)
        .orderBy("doc_id")
    },
      """WITH batch AS (SELECT doc_id, text FROM documents
                        UNION ALL
                        SELECT doc_id + 10000, text FROM documents),
         d AS (SELECT doc_id, md5(text) AS digest FROM batch),
         fst AS (SELECT digest, min(doc_id) AS keep FROM d GROUP BY digest),
         seen AS (SELECT DISTINCT md5(text) AS digest FROM documents
                  WHERE doc_id % 5 = 0)
         SELECT d.doc_id, d.digest
         FROM d JOIN fst ON d.digest = fst.digest AND d.doc_id = fst.keep
         WHERE d.digest NOT IN (SELECT digest FROM seen)
         ORDER BY d.doc_id"""),

    // ---- MinHash + LSH candidate pairs ----
    Query("q_dedup_minhash", (s, d) =>
      Dedup.minhashLshPairs(T(s, d, "documents"), "doc_id", "text",
        k = 3, bands = 4, rowsPerBand = 2)
        .orderBy("doc1", "doc2"),
      // mirrors minhashLshPairs: one md5 per shingle, 60-bit halves a/b,
      // hash i = a + i*b, band i holds hashes (2i, 2i+1)
      s"""WITH $ShingleCte,
         hh AS (SELECT doc_id,
                  ('0x' || substr(md5(s), 1, 15))::BIGINT AS a,
                  ('0x' || substr(md5(s), 17, 15))::BIGINT AS b
                FROM sh),
         mh AS (SELECT doc_id, bb.band,
                  min(a + (bb.band*2) * b) AS h0,
                  min(a + (bb.band*2+1) * b) AS h1
                FROM hh, (SELECT unnest(generate_series(0, 3)) AS band) bb
                GROUP BY 1, 2)
         SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
         FROM mh a JOIN mh c
           ON a.band = c.band AND a.h0 = c.h0 AND a.h1 = c.h1
          AND a.doc_id < c.doc_id
         ORDER BY doc1, doc2"""),

    // ---- incremental fuzzy dedup: today's batch against yesterday's
    //      persisted band-key state (doc_id%5==0 plays the state) —
    //      the state's text is never re-shingled, matching is ONE
    //      (band,key) equi-join; fuzzy analogue of q_dedup_incr ----
    Query("q_dedup_minhash_incr", (s, d) => {
      val docs = T(s, d, "documents")
      val state = Dedup.minhashBandKeys(docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", k = 3, bands = 4, rowsPerBand = 2)
      Dedup.minhashLshIncrementalPairs(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", state, k = 3, bands = 4, rowsPerBand = 2)
        .orderBy("doc_new", "doc_match")
    },
      // same mh CTE split into state (doc_id%5==0) and batch; state
      // matches keep any id relation, within-batch pairs surface as
      // (larger, smaller) — the earlier doc is the match target
      s"""WITH $ShingleCte,
         hh AS (SELECT doc_id,
                  ('0x' || substr(md5(s), 1, 15))::BIGINT AS a,
                  ('0x' || substr(md5(s), 17, 15))::BIGINT AS b
                FROM sh),
         mh AS (SELECT doc_id, bb.band,
                  min(a + (bb.band*2) * b) AS h0,
                  min(a + (bb.band*2+1) * b) AS h1
                FROM hh, (SELECT unnest(generate_series(0, 3)) AS band) bb
                GROUP BY 1, 2),
         newm AS (SELECT * FROM mh WHERE doc_id % 5 <> 0),
         stm AS (SELECT * FROM mh WHERE doc_id % 5 = 0)
         SELECT DISTINCT doc_new, doc_match FROM (
           SELECT n.doc_id AS doc_new, s.doc_id AS doc_match
           FROM newm n JOIN stm s
             ON n.band = s.band AND n.h0 = s.h0 AND n.h1 = s.h1
           UNION
           SELECT c.doc_id AS doc_new, a.doc_id AS doc_match
           FROM newm a JOIN newm c
             ON a.band = c.band AND a.h0 = c.h0 AND a.h1 = c.h1
            AND a.doc_id < c.doc_id)
         ORDER BY doc_new, doc_match"""),

    // ---- dedup clusters: connected components over minhash pairs ----
    Query("q_dedup_clusters", (s, d) =>
      Dedup.clusters(
        Dedup.minhashLshPairs(T(s, d, "documents"), "doc_id", "text",
          k = 3, bands = 4, rowsPerBand = 2))
        .orderBy("doc"),
      // transitive closure of the minhash candidate graph; min reachable id
      // per doc mirrors Dedup.clusters' min-label propagation fixpoint
      s"""WITH RECURSIVE $ClustersCte
         SELECT doc, min(r) AS cluster_rep FROM reach GROUP BY doc
         ORDER BY doc"""),

    // ---- end-to-end fuzzy dedup: pairs -> clusters -> canonical
    //      survivor per cluster, one row per corpus doc ----
    Query("q_dedup_fuzzy", (s, d) =>
      Dedup.fuzzy(T(s, d, "documents"), "doc_id", "text",
          k = 3, bands = 4, rowsPerBand = 2)
        .select(col("doc_id"), col("cluster_rep"),
          col("keep").cast("int").as("keep"))
        .orderBy("doc_id"),
      s"""WITH RECURSIVE $ClustersCte,
         cl AS (SELECT doc, min(r) AS rep FROM reach GROUP BY doc)
         SELECT d.doc_id, coalesce(cl.rep, d.doc_id) AS cluster_rep,
           CASE WHEN coalesce(cl.rep, d.doc_id) = d.doc_id
                THEN 1 ELSE 0 END AS keep
         FROM documents d LEFT JOIN cl ON cl.doc = d.doc_id
         ORDER BY d.doc_id"""),

    // ---- SimHash fingerprints ----
    Query("q_dedup_simhash", (s, d) =>
      Dedup.simhash32(T(s, d, "documents"), "doc_id", "text")
        .orderBy("doc"),
      s"""WITH $SimhashCte
         SELECT doc_id AS doc, simhash FROM fp ORDER BY doc"""),

    // ---- SimHash near-dup pairs (hamming <= 2; 4 byte-bands make the
    //      candidate set provably complete by pigeonhole) ----
    Query("q_simhash_pairs", (s, d) =>
      Dedup.simhashPairs(T(s, d, "documents"), "doc_id", "text", maxHamming = 2)
        .orderBy("doc1", "doc2"),
      s"""WITH $SimhashCte
         SELECT a.doc_id AS doc1, c.doc_id AS doc2,
                bit_count(xor(a.simhash, c.simhash)) AS hamming
         FROM fp a JOIN fp c ON a.doc_id < c.doc_id
         WHERE bit_count(xor(a.simhash, c.simhash)) <= 2
         ORDER BY doc1, doc2"""),

    // ---- n-gram Jaccard near-dup pairs ----
    Query("q_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccardPairs(T(s, d, "documents"), "doc_id", "text",
        k = 3, minJaccard = 0.2)
        .select(col("doc1"), col("doc2"), r(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc1", "doc2"),
      // mirrors ngramJaccardPairs incl. the maxShingleDf=1000 skew cap
      s"""WITH $ShingleCte,
         shf AS (SELECT * FROM sh WHERE s IN
                   (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000)),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         common AS (SELECT a.doc_id AS doc1, c.doc_id AS doc2, count(*) AS inter
                    FROM shf a JOIN shf c ON a.s = c.s AND a.doc_id < c.doc_id
                    GROUP BY 1, 2)
         SELECT doc1, doc2,
                round(inter * 1.0 / (s1.sz + s2.sz - inter) + 1e-9, 6) AS jaccard
         FROM common
         JOIN sizes s1 ON doc1 = s1.doc_id
         JOIN sizes s2 ON doc2 = s2.doc_id
         WHERE inter * 1.0 / (s1.sz + s2.sz - inter) >= 0.2
         ORDER BY doc1, doc2"""),

    // ---- text quality / language-ID / fingerprinting ----
    Query("q_text_quality", (s, d) => {
      val t = col("text")
      T(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(t).as("n_tokens"),
        TextAnalysis.tokenCountBpe(t).as("n_tokens_bpe"),
        r(TextAnalysis.punctRatio(t), 6).as("punct_ratio"),
        r(TextAnalysis.meanWordLen(t), 6).as("mean_word_len"),
        r(TextAnalysis.stopwordRatio(t, TextAnalysis.EnStops), 6).as("stop_ratio"),
        r(TextAnalysis.qualityScore(t), 4).as("quality"),
        TextAnalysis.langId(t).as("lang_guess"),
        TextAnalysis.fingerprint(t).as("fingerprint"))
        .orderBy("doc_id")
    }, {
      val toks = """string_split_regex(lower(trim(text)), '\s+')"""
      def langSet(lang: String) = TextAnalysis.LangStops.toMap.apply(lang)
        .map(s => s"'$s'").mkString("[", ",", "]")
      def ratio(set: String) =
        s"""(CASE WHEN len($toks) > 0 THEN
            len(list_filter($toks, x -> list_contains($set, x)))*1.0 / len($toks)
            ELSE 0.0 END)"""
      // explicit ASCII punct class == TextAnalysis.PunctClass
      val punct = """(CASE WHEN length(text) > 0 THEN
          (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))*1.0
          / length(text) ELSE 0.0 END)"""
      val mwl = s"""(CASE WHEN len($toks) > 0 THEN
          list_sum(list_transform($toks, x -> length(x)))*1.0 / len($toks) END)"""
      // argmax over (score, lang) with Spark greatest(struct) tie-break:
      // highest score, then lexicographically greatest lang
      val se = ratio(langSet("en")); val sd = ratio(langSet("de"))
      val sf = ratio(langSet("fr")); val ss = ratio(langSet("es"))
      val best = s"greatest($se, $sd, $sf, $ss)"
      val lang = s"""(CASE WHEN $best <= 0 THEN 'und'
          WHEN $sf = $best THEN 'fr'
          WHEN $ss = $best THEN 'es'
          WHEN $se = $best THEN 'en'
          ELSE 'de' END)"""
      s"""SELECT doc_id,
         len($toks) AS n_tokens,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_tokens_bpe,
         round($punct + 1e-9, 6) AS punct_ratio,
         round($mwl + 1e-9, 6) AS mean_word_len,
         round(${ratio(TextAnalysis.EnStops.map(s => s"'$s'").mkString("[", ",", "]"))} + 1e-9, 6) AS stop_ratio,
         round(((CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN $punct < 0.2 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN ${ratio(TextAnalysis.EnStops.map(s => s"'$s'").mkString("[", ",", "]"))} > 0.02 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN $mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)) / 4.0 + 1e-9,
              4) AS quality,
         $lang AS lang_guess,
         md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS fingerprint
         FROM documents ORDER BY doc_id"""
    }),

    // ---- order-sensitive rolling-hash fingerprint (native codegen
    //      expression graft.functions.RollingHash) ----
    Query("q_fingerprint_roll", (s, d) =>
      T(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.rollingFingerprint(col("text")).as("rh"))
        .orderBy("doc_id"),
      // mirrors RollingHash: h = (h*1000003 + md5prefix32(tok)) % (2^31-1)
      // over the in-order (non-distinct) token stream
      """SELECT doc_id,
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(string_split_regex(lower(trim(text)), '\s+'),
               tok -> ('0x' || substr(md5(tok), 1, 8))::BIGINT)),
           (acc, x) -> (acc * 1000003 + x) % 2147483647) AS rh
         FROM documents ORDER BY doc_id"""),

    // ---- brute-force cosine top-k (exact ANN baseline) ----
    Query("q_ann_cosine", (s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
        .select(col("query_id"), col("neighbor_id"), r(col("cos"), 6).as("cos"),
          col("rank"))
        .orderBy("query_id", "rank")
    },
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT q.qid, c.vec_id AS nid,
                      list_cosine_similarity(qv, CAST(c.embedding AS DOUBLE[])) AS cos
                    FROM q, embeddings c WHERE c.vec_id <> q.qid),
         ranked AS (SELECT qid, nid, cos,
                      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
                    FROM scored)
         SELECT qid AS query_id, nid AS neighbor_id, round(cos + 1e-9, 6) AS cos, rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),

    // ---- LSH-bucketed ANN (scale path): multi-table OR-amplified form
    //      (8 tables x 4 planes — single-table recall@5 measured 0.26,
    //      amplified ~0.8+). The seeded hyperplanes are deterministic
    //      constants, emitted as a VALUES table in the oracle SQL, so
    //      DuckDB reproduces the buckets bit-for-bit -> full
    //      rows/schema/hash check ----
    Query("q_ann_lsh", (s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.lshTopKMulti(emb.filter(col("vec_id") < 10), emb, k = 5,
        planes = 4, tables = 8, dim = 64)
        .select(col("query_id"), col("neighbor_id"), r(col("cos"), 6).as("cos"),
          col("rank"))
        .orderBy("query_id", "rank")
    },
      s"""WITH $LshCte
         SELECT qid AS query_id, nid AS neighbor_id,
           round(cos + 1e-9, 6) AS cos, rank
         FROM lshranked WHERE rank <= 5 ORDER BY query_id, rank"""),

    // ---- recall@5 of the LSH scale path vs the exact baseline — the
    //      quality gate for the bucketed ANN ----
    Query("q_ann_lsh_recall", (s, d) => {
      val emb = T(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      Similarity.recallAtK(
        Similarity.lshTopKMulti(q, emb, k = 5, planes = 4, tables = 8, dim = 64),
        Similarity.bruteForceTopK(q, emb, k = 5), k = 5)
        .orderBy("query_id")
    },
      s"""WITH $LshCte,
         ann AS (SELECT qid, nid FROM lshranked WHERE rank <= 5),
         bf AS (SELECT qid, nid FROM (
                  SELECT q.qid, c.vec_id AS nid,
                    row_number() OVER (PARTITION BY q.qid ORDER BY
                      list_cosine_similarity(qv, CAST(c.embedding AS DOUBLE[])) DESC,
                      c.vec_id) AS rank
                  FROM lshq q, embeddings c WHERE c.vec_id <> q.qid)
                WHERE rank <= 5),
         hits AS (SELECT a.qid, count(*) AS h
                  FROM ann a JOIN bf b ON a.qid = b.qid AND a.nid = b.nid
                  GROUP BY 1)
         SELECT b.qid AS query_id, coalesce(h, 0) / 5.0 AS recall
         FROM (SELECT DISTINCT qid FROM bf) b
         LEFT JOIN hits USING (qid) ORDER BY query_id"""),

    // ---- embedding near-dup pairs (exact threshold search) ----
    Query("q_embed_near_dup", (s, d) =>
      Similarity.nearDupPairsExact(T(s, d, "embeddings"), threshold = 0.4)
        .select(col("id1"), col("id2"), r(col("cos"), 6).as("cos"))
        .orderBy("id1", "id2"),
      """SELECT a.vec_id AS id1, c.vec_id AS id2,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])) + 1e-9, 6) AS cos
         FROM embeddings a JOIN embeddings c ON a.vec_id < c.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])) >= 0.4
         ORDER BY id1, id2"""),

    // ---- multimodal plumbing: binary column + stub decode ----
    Query("q_multimodal", (s, d) => {
      val media = Multimodal.fromText(T(s, d, "documents"), "doc_id", "text")
      Multimodal.decodeImages(media)
        .toDF()
        .select(col("id").as("doc_id"), col("byteLen").as("byte_len"),
          col("width"), col("height"), col("channels"), col("decoded"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS byte_len,
         64 + (octet_length(CAST(text AS BLOB)) % 512) AS width,
         64 + (ascii(text) * 4) % 512 AS height,
         3 AS channels, FALSE AS decoded
         FROM documents ORDER BY doc_id"""))

  /** The 8x4 seeded LSH hyperplanes as a SQL VALUES table — SAME
    * generator as Similarity.lshTopKMulti's (multiPlanes(4, 64, 8,
    * seed=42)); Double.toString round-trips exactly, so DuckDB
    * reproduces the bucket bits. */
  private lazy val LshCte: String = {
    val sets = Similarity.multiPlanes(planes = 4, dim = 64, tables = 8)
    val rows = for {
      (pls, t) <- sets.zipWithIndex
      (p, i) <- pls.zipWithIndex
    } yield s"($t, $i, ${p.mkString("[", ", ", "]")})"
    s"""lshplanes(t, p, w) AS (VALUES ${rows.mkString(",\n         ")}),
       lshq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 10),
       lshc AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings),
       qb AS (SELECT qid, t,
                sum(CASE WHEN list_dot_product(qv, w) >= 0
                    THEN (1::BIGINT << p) ELSE 0 END) AS bkt
              FROM lshq, lshplanes GROUP BY 1, 2),
       cb AS (SELECT nid, t,
                sum(CASE WHEN list_dot_product(cv, w) >= 0
                    THEN (1::BIGINT << p) ELSE 0 END) AS bkt
              FROM lshc, lshplanes GROUP BY 1, 2),
       lshcand AS (SELECT DISTINCT qid, nid
                   FROM qb JOIN cb USING (t, bkt) WHERE nid <> qid),
       lshscored AS (SELECT qid, nid, list_cosine_similarity(qv, cv) AS cos
                     FROM lshcand JOIN lshq USING (qid) JOIN lshc USING (nid)),
       lshranked AS (SELECT qid, nid, cos,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY cos DESC, nid) AS rank
                     FROM lshscored)"""
  }
}
