package graft

import org.apache.spark.sql.functions._
import graft.engine.Core.r
import graft.pipeline._
import graft.Query.T

/** Fourth pipeline tranche (round 11): corpus-operations additions —
  * quality-weighted per-stratum quotas and snapshot diffing. Same
  * conventions as [[PipelineQueries]]. */
object PipelineQueries4 {

  /** q_heavy_hitters' oracle, also q_stream_heavy_hitters'. */
  private[graft] val HeavyHittersSql =
    """SELECT lang AS item, count(*) AS est_count
         FROM documents WHERE lang IS NOT NULL
         GROUP BY 1 ORDER BY est_count DESC, item"""

  val queries: Seq[Query] = Seq(

    // ---- weighted per-stratum quota: keep <=50 docs per lang with
    //      inclusion odds proportional to n_chars (longer docs
    //      preferred but not guaranteed). lang is skewed (en 43%), so
    //      cap=50 exercises both the salted top-k path (en/es/zh) and
    //      the under-cap bypass (fr/de). The oracle recomputes the
    //      log-space exponential-clock key ln(-ln(u)) - ln(w) from
    //      md5(doc_id) independently ----
    Query("q_weighted_cap", (s, d) =>
      Curation.weightedCapPerStratum(T(s, d, "documents"),
          "doc_id", "lang", "n_chars", cap = 50)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("n_stratum"), col("wkey"))
        .orderBy("doc_id"),
      """WITH e AS (SELECT doc_id, lang, n_chars,
             round(ln(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
                          / 4294967296.0))
                   - ln(CAST(n_chars AS DOUBLE)), 6) AS wkey
           FROM documents WHERE n_chars > 0),
         c AS (SELECT lang, count(*) AS n_stratum FROM e GROUP BY 1),
         r AS (SELECT doc_id, lang, n_chars, wkey,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY wkey, doc_id) AS rn
               FROM e)
         SELECT doc_id, lang, n_chars, n_stratum, wkey
         FROM r JOIN c USING (lang)
         WHERE rn <= 50 ORDER BY doc_id"""),

    // ---- snapshot diff: old = docs minus every 7th id, with every
    //      5th id's text mutated; new = docs minus every 3rd id. All
    //      four statuses occur: added (7|id, 3∤id), removed (3|id,
    //      7∤id), changed (5|id, surviving both), unchanged (rest).
    //      The oracle diffs the raw columns directly — no digest — so
    //      a digest-encoding collision on the Spark side would show up
    //      as a status mismatch ----
    Query("q_snapshot_diff", (s, d) => {
      val docs = T(s, d, "documents")
      val old = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val nw = docs.filter(col("doc_id") % 3 =!= 0)
      Curation.snapshotDiff(old, nw, "doc_id",
          Seq("text", "lang", "source"))
        .orderBy("doc_id")
    },
      """WITH o AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' v1' ELSE text END AS text,
             lang, source
           FROM documents WHERE doc_id % 7 <> 0),
         n AS (SELECT doc_id, text, lang, source
               FROM documents WHERE doc_id % 3 <> 0)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.text IS NOT DISTINCT FROM n.text
                 AND o.lang IS NOT DISTINCT FROM n.lang
                 AND o.source IS NOT DISTINCT FROM n.source
                  THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
         ORDER BY 1"""),

    // ---- sliding-window chunking: 32-token windows advancing by 24
    //      (8-token overlap), tails under 8 tokens dropped unless the
    //      doc's only window. chunk_text joins the slice so the oracle
    //      compares content, not engine-specific array encodings ----
    Query("q_chunk_sliding", (s, d) => {
      val toks = T(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("toks"))
      Curation.chunkSliding(toks, "doc_id", "toks",
          chunkLen = 32, stride = 24, minTail = 8)
        .select(col("doc_id"), col("chunk_idx"), col("start"),
          concat_ws(" ", col("chunk")).as("chunk_text"), col("n_chunk"))
        .orderBy("doc_id", "chunk_idx")
    },
      """WITH words AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents),
         s AS (SELECT doc_id, w,
                 unnest(range(0, len(w), 24)) AS start
               FROM words WHERE len(w) >= 1)
         SELECT doc_id,
           CAST(start / 24 AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start,
           array_to_string(w[start + 1 : start + 32], ' ') AS chunk_text,
           len(w[start + 1 : start + 32]) AS n_chunk
         FROM s
         WHERE start = 0 OR len(w[start + 1 : start + 32]) >= 8
         ORDER BY doc_id, chunk_idx"""),

    // ---- Misra-Gries heavy hitters in the EXACT regime (distinct
    //      langs << k=64): the one-pass bounded-state summary must
    //      equal the full groupBy counts; the decayed regime's error
    //      bound is spec-tested (ReductionsSpec) ----
    Query("q_heavy_hitters", (s, d) =>
      graft.engine.Reductions.heavyHitters(
        T(s, d, "documents"), "lang", k = 64),
      HeavyHittersSql),

    // ---- int8 scalar quantization: floor(x*127/scale + 0.5) is
    //      engine-portable (round()'s half-case direction is not);
    //      the code vector rides as CSV so the compare covers every
    //      element without cross-engine array-encoding concerns ----
    Query("q_quantize_int8", (s, d) =>
      Similarity.quantizeInt8(T(s, d, "embeddings"))
        .select(col("vec_id"), r(col("scale"), 6).as("scale"),
          concat_ws(",", col("qvec")).as("qvec_csv"))
        .orderBy("vec_id"),
      """WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         s AS (SELECT vec_id, e,
                 list_max(list_transform(e, x -> abs(x))) AS scale
               FROM v)
         SELECT vec_id,
           CASE WHEN isfinite(scale) THEN round(scale + 1e-9, 6) END
             AS scale,
           array_to_string(list_transform(e, x ->
             CASE WHEN isfinite(scale) AND scale > 0
               THEN CAST(floor(x * 127.0 / scale + 0.5) AS TINYINT)
               ELSE CAST(0 AS TINYINT) END), ',') AS qvec_csv
         FROM s ORDER BY vec_id"""),

    // ---- the int8 story end-to-end: top-k over the DEQUANTIZED store
    //      vs exact top-k — the oracle recomputes quantize, dequantize,
    //      both rankings, and the recall join independently ----
    Query("q_quant_recall", (s, d) => {
      val emb = T(s, d, "embeddings")
      val deq = Similarity.dequantizeInt8(Similarity.quantizeInt8(emb))
      Similarity.recallAtK(
          Similarity.bruteForceTopK(deq.filter(col("vec_id") < 10),
            deq, k = 5),
          Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10),
            emb, k = 5), k = 5)
        .orderBy("query_id")
    },
      """WITH v0 AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         v AS (SELECT vec_id, e,
                 sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
               FROM v0),
         s AS (SELECT vec_id, e,
                 list_max(list_transform(e, x -> abs(x))) AS scale
               FROM v0),
         dq0 AS (SELECT vec_id,
                   CASE WHEN isfinite(scale) AND scale > 0
                     THEN list_transform(e, x ->
                       CAST(floor(x * 127.0 / scale + 0.5) AS TINYINT)
                         * scale / 127.0)
                     ELSE list_transform(e, x -> CAST(0 AS DOUBLE)) END AS d
                 FROM s),
         dq AS (SELECT vec_id, d,
                  sqrt(list_sum(list_transform(d, x -> x * x))) AS nrm
                FROM dq0),
         -- cosine is NULL (ranked LAST) unless BOTH norms are positive
         -- and finite — Spark's pairCos rule; a bare
         -- list_cosine_similarity yields NaN for a zero vector, which
         -- DuckDB would rank FIRST (NaN > all) while Spark ranks it last
         ann AS (SELECT qid, nid FROM (
                   SELECT q.vec_id AS qid, c.vec_id AS nid,
                     row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       CASE WHEN q.nrm > 0 AND isfinite(q.nrm)
                             AND c.nrm > 0 AND isfinite(c.nrm)
                         THEN list_cosine_similarity(q.d, c.d) END
                         DESC NULLS LAST,
                       c.vec_id) AS rank
                   FROM (SELECT * FROM dq WHERE vec_id < 10) q, dq c
                   WHERE c.vec_id <> q.vec_id)
                 WHERE rank <= 5),
         bf AS (SELECT qid, nid FROM (
                  SELECT q.vec_id AS qid, c.vec_id AS nid,
                    row_number() OVER (PARTITION BY q.vec_id ORDER BY
                      CASE WHEN q.nrm > 0 AND isfinite(q.nrm)
                            AND c.nrm > 0 AND isfinite(c.nrm)
                        THEN list_cosine_similarity(q.e, c.e) END
                        DESC NULLS LAST,
                      c.vec_id) AS rank
                  FROM (SELECT * FROM v WHERE vec_id < 10) q, v c
                  WHERE c.vec_id <> q.vec_id)
                WHERE rank <= 5),
         hits AS (SELECT a.qid, count(*) AS h
                  FROM ann a JOIN bf b ON a.qid = b.qid AND a.nid = b.nid
                  GROUP BY 1)
         SELECT b.qid AS query_id, coalesce(h, 0) / 5.0 AS recall
         FROM (SELECT DISTINCT qid FROM bf) b
         LEFT JOIN hits USING (qid) ORDER BY query_id"""))
}
