package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.Query.T

/** Sixth pipeline tranche (round 13): per-stage auditability of the
  * composed pipelines — the funnel/lineage report a production
  * curation run reads to see what each stage dropped. Same conventions
  * as [[PipelineQueries]]. */
object PipelineQueries6 {

  /** The semantic-leg store shared by q_pipeline_semantic and
    * q_pipeline_semantic_ann: SemDeDup (k-means + in-cluster cosine,
    * min-id survivor) -> semantic decontamination vs the vec_id<16
    * bench matrix -> int8 quantize -> DEQUANTIZED survivor store.
    * Each stage hands its surviving rows on WITH their vectors (no join
    * back to the corpus by id), so the one persisted frame is the store
    * itself, which feeds both the query and the corpus side of the
    * downstream search. Returns the store plus the persisted frames the
    * caller MUST unpersist in a finally (same contract as e2eChain's
    * `caches`). */
  private def semanticStore(s: SparkSession, d: String)
      : (DataFrame, Seq[DataFrame]) = {
    val emb = T(s, d, "embeddings")
    val bench = emb.filter(col("vec_id") < 16)
    val kept = Similarity.semDedupKept(emb.filter(col("vec_id") >= 16),
      "vec_id", "embedding", k = 4, iters = 2, tau = 0.4)
    val dec = Similarity.semanticClean(kept, bench, threshold = 0.4)
    val deq = Similarity.dequantizeInt8(Similarity.quantizeInt8(dec)).persist()
    (deq, Seq(deq))
  }

  /** Shared CTE spine of the two semantic-leg oracles: k-means (2
    * Lloyd iterations, first-4-by-id init, same blocks as the
    * q_semdedup oracle) -> in-cluster cosine dedup -> max-cos
    * decontamination vs the bench matrix -> int8 quantize/dequantize.
    * Ends at `dq0` (vec_id, dv = the dequantized DOUBLE vector) — the
    * SQL twin of [[semanticStore]]'s `deq`. */
  private val SemanticCte: String =
    s"""embd AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
             FROM embeddings),
         bench AS (SELECT vec_id, x FROM embd WHERE vec_id < 16),
         e AS (SELECT vec_id, x FROM embd WHERE vec_id >= 16),
         c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                    AS INTEGER) AS cid, x AS cv
                FROM (SELECT vec_id, x FROM e ORDER BY vec_id LIMIT 4)),
         ${PipelineQueries2.kmeansIter(1)},
         ${PipelineQueries2.kmeansIter(2)},
         df AS (SELECT e.vec_id, c.cid,
                  list_sum(list_transform(generate_series(1, 64),
                    j -> (x[j]-cv[j])*(x[j]-cv[j]))) AS d
                FROM e, c2 c),
         af AS (SELECT vec_id, cid FROM (
                  SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY d, cid) AS rn
                  FROM df) WHERE rn = 1),
         m AS (SELECT e.vec_id, af.cid AS cluster, e.x,
                 sqrt(list_sum(list_transform(generate_series(1, 64),
                   j -> x[j]*x[j]))) AS nn
               FROM e JOIN af USING (vec_id)),
         p AS (SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
               FROM m a JOIN m b
                 ON a.cluster = b.cluster AND a.vec_id < b.vec_id
               WHERE round(list_sum(list_transform(generate_series(1, 64),
                       j -> a.x[j]*b.x[j])) / (a.nn * b.nn) + 1e-9, 6)
                     >= 0.4
               GROUP BY 1),
         sem AS (SELECT m.vec_id, m.x FROM m LEFT JOIN p USING (vec_id)
                 WHERE p.dup_of IS NULL),
         mc AS (SELECT s.vec_id,
                  max(list_cosine_similarity(s.x, b.x)) AS mcos
                FROM sem s, bench b GROUP BY 1),
         dec AS (SELECT sem.vec_id, sem.x FROM sem JOIN mc USING (vec_id)
                 WHERE NOT coalesce(mcos >= 0.4, false)),
         qs AS (SELECT vec_id, x,
                  list_max(list_transform(x, v -> abs(v))) AS scale
                FROM dec),
         dq0 AS (SELECT vec_id,
                   CASE WHEN isfinite(scale) AND scale > 0
                     THEN list_transform(x, v ->
                       CAST(floor(v * 127.0 / scale + 0.5) AS TINYINT)
                         * scale / 127.0)
                     ELSE list_transform(x, v -> CAST(0 AS DOUBLE)) END
                     AS dv
                 FROM qs)"""

  val queries: Seq[Query] = Seq(

    // ---- pipeline FUNNEL report (VERDICT r12 item 5): one row per
    //      stage of the q_pipeline_e2e chain — stage, rows in, rows
    //      out, dropped — plus per-reason tallies for the gopher gate
    //      (how many docs trip each gate; reasons OVERLAP, so reason
    //      drops can sum past the gate row's dropped). The oracle
    //      recomputes every count from the same CTE spine the e2e
    //      oracle uses, so each stage's survivor count is verified
    //      independently of the Spark chain ----
    Query("q_pipeline_funnel", (s, d) => {
      // observe mode (r14, VERDICT r13 item 3): every boundary carries
      // a CollectMetrics node (gate_reasons also carries the six
      // per-reason trip sums — thresholds still stated ONCE, inside
      // gopherFilter; flag names single-sourced in GateReasons), so ONE
      // action on the final stage evaluates the chain once and every
      // funnel count arrives as a byproduct — replacing r13's eight
      // in-order count() jobs + reason aggregate. Harvested counts are
      // spec-pinned equal to the recounted form (PipelineSpec).
      val ch = PipelineQueries5.e2eChain(s, d, observeBoundaries = true)
      try {
        ch.bud.count() // the ONE action; metrics fire as caches fill
        def rowsOf(stage: String): Long =
          ch.obs(stage).get("rows").asInstanceOf[Long]
        val stages = Seq("input", "clean", "gopher_gate", "fuzzy_dedup",
          "bench_split", "decontaminate", "mixture", "token_budget")
        val funnel = Curation.funnelRows(stages.map(st => st -> rowsOf(st)))
        // rows_out = docs that SURVIVE the reason alone, so
        // rows_in - rows_out = dropped stays the row invariant.
        val g = ch.obs("gate_reasons").get
        val gateIn = rowsOf("clean")
        val reasonRows = Curation.GateReasons.zipWithIndex.map {
          case (name, j) =>
            val trips = g(name).asInstanceOf[Long]
            org.apache.spark.sql.Row(10 + j, s"gate_$name", gateIn,
              gateIn - trips, trips)
        }
        s.createDataFrame(
            s.sparkContext.parallelize(funnel ++ reasonRows, 1),
            Curation.FunnelSchema)
          .orderBy("stage_idx")
      } finally
        ch.caches.foreach(_.unpersist(blocking = false))
    },
      // same cl..bud spine as the e2e oracle; each stage count and each
      // gate-reason tally recomputed from the CTEs
      ("WITH RECURSIVE " + PipelineQueries5.E2eCte + """,
         n0 AS (SELECT count(*) AS c FROM documents),
         n1 AS (SELECT count(*) AS c FROM cl),
         n2 AS (SELECT count(*) AS c FROM gated),
         n3 AS (SELECT count(*) AS c FROM surv),
         n4 AS (SELECT count(*) AS c FROM corp),
         n5 AS (SELECT count(*) AS c FROM dec),
         n6 AS (SELECT count(*) AS c FROM mixed),
         n7 AS (SELECT count(*) AS c FROM bud),
         rs AS (SELECT
                  count(*) FILTER (WHERE n < 30) AS min_w,
                  count(*) FILTER (WHERE n > 90) AS max_w,
                  count(*) FILTER (WHERE mwl < 3.0 OR mwl > 4.6) AS wlen,
                  count(*) FILTER (WHERE sfr < 0.05) AS stopf,
                  count(*) FILTER (WHERE dwf > 0.6) AS dupw,
                  count(*) FILTER (WHERE tbf > 0.2) AS topbg
                FROM gmet)
         SELECT * FROM (
           SELECT 0 AS stage_idx, 'input' AS stage, n0.c AS rows_in,
             n0.c AS rows_out, CAST(0 AS BIGINT) AS dropped FROM n0
           UNION ALL SELECT 1, 'clean', n0.c, n1.c, n0.c - n1.c
             FROM n0, n1
           UNION ALL SELECT 2, 'gopher_gate', n1.c, n2.c, n1.c - n2.c
             FROM n1, n2
           UNION ALL SELECT 3, 'fuzzy_dedup', n2.c, n3.c, n2.c - n3.c
             FROM n2, n3
           UNION ALL SELECT 4, 'bench_split', n3.c, n4.c, n3.c - n4.c
             FROM n3, n4
           UNION ALL SELECT 5, 'decontaminate', n4.c, n5.c, n4.c - n5.c
             FROM n4, n5
           UNION ALL SELECT 6, 'mixture', n5.c, n6.c, n5.c - n6.c
             FROM n5, n6
           UNION ALL SELECT 7, 'token_budget', n6.c, n7.c, n6.c - n7.c
             FROM n6, n7
           UNION ALL SELECT 10, 'gate_fail_min_words', n1.c,
             n1.c - rs.min_w, rs.min_w FROM n1, rs
           UNION ALL SELECT 11, 'gate_fail_max_words', n1.c,
             n1.c - rs.max_w, rs.max_w FROM n1, rs
           UNION ALL SELECT 12, 'gate_fail_word_len', n1.c,
             n1.c - rs.wlen, rs.wlen FROM n1, rs
           UNION ALL SELECT 13, 'gate_fail_stop_frac', n1.c,
             n1.c - rs.stopf, rs.stopf FROM n1, rs
           UNION ALL SELECT 14, 'gate_fail_dup_words', n1.c,
             n1.c - rs.dupw, rs.dupw FROM n1, rs
           UNION ALL SELECT 15, 'gate_fail_top_bigram', n1.c,
             n1.c - rs.topbg, rs.topbg FROM n1, rs
         ) ORDER BY stage_idx""")),

    // ---- SEMANTIC-leg composition (VERDICT r12 item 6): the
    //      embeddings counterpart of q_pipeline_e2e. Composition bugs
    //      are leg-specific (column collisions between semDedup's
    //      vec_id outputs and the store, literal-matrix sizes, the
    //      quantize->dequantize round trip feeding a ranking), so the
    //      whole chain runs as ONE plan: SemDeDup (k-means + in-cluster
    //      cosine, min-id survivor) -> semantic decontamination vs the
    //      vec_id<16 bench matrix -> int8 quantization of the curated
    //      store -> exact top-3 cosine search over the DEQUANTIZED
    //      store with every 10th surviving vector as a query. Each
    //      stage is individually oracle-green (q_semdedup,
    //      q_semantic_decontam, q_quantize_int8, q_quant_recall); the
    //      oracle below recomputes the full chain independently ----
    Query("q_pipeline_semantic", (s, d) => {
      val (deq, caches) = semanticStore(s, d)
      try {
        val out = Similarity.bruteForceTopK(
            deq.filter(col("vec_id") % 10 === 0), deq, k = 3)
          .select(col("query_id"), col("neighbor_id"),
            graft.engine.Core.r(col("cos"), 6).as("cos"), col("rank"))
          .orderBy("query_id", "rank")
        // bounded: (survivors/10) queries x 3 neighbors
        graft.engine.Core.reroot(out, 100000, "q_pipeline_semantic output")
      } finally caches.foreach(_.unpersist(blocking = false))
    },
      // the full semantic chain recomputed: k-means (2 Lloyd iterations,
      // first-4-by-id init, same CTE blocks as the q_semdedup oracle) ->
      // in-cluster cosine dedup -> max-cos decontamination vs the bench
      // matrix (same formula as q_semantic_decontam) -> int8 quantize /
      // dequantize (same as q_quant_recall) -> guarded cosine top-3
      s"""WITH $SemanticCte,
         dq AS (SELECT vec_id, dv,
                  sqrt(list_sum(list_transform(dv, v -> v * v))) AS nn
                FROM dq0),
         ann AS (SELECT query_id, neighbor_id, cos, rank FROM (
                   SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     CASE WHEN q.nn > 0 AND isfinite(q.nn)
                           AND c.nn > 0 AND isfinite(c.nn)
                       THEN list_sum(list_transform(generate_series(1, 64),
                         j -> q.dv[j]*c.dv[j])) / (q.nn * c.nn) END AS cos,
                     row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       CASE WHEN q.nn > 0 AND isfinite(q.nn)
                             AND c.nn > 0 AND isfinite(c.nn)
                         THEN list_sum(list_transform(generate_series(1, 64),
                           j -> q.dv[j]*c.dv[j])) / (q.nn * c.nn) END
                         DESC NULLS LAST,
                       c.vec_id) AS rank
                   FROM dq q, dq c
                   WHERE q.vec_id % 10 = 0 AND q.vec_id <> c.vec_id)
                 WHERE rank <= 3)
         SELECT query_id, neighbor_id,
           round(cos + 1e-9, 6) + 0.0 AS cos, rank
         FROM ann ORDER BY query_id, rank"""),

    // ---- the PRODUCTION ANN path composed (VERDICT r13 item 2): the
    //      row above deliberately finishes with exact bruteForceTopK
    //      (the verification shape); this one feeds the SAME
    //      SemDeDup -> decontam -> quantize -> dequantize store into
    //      ivfPqTopK — the scale path, with its pinned cells/codebooks
    //      from the raw embeddings table — and emits measured recall@5
    //      against the exact L2 top-5 over the SAME composed store.
    //      Column collisions between the chain's vec_id outputs and the
    //      IVF-PQ machinery, and the quantize round trip feeding the
    //      residual encoder, have never run composed before this row.
    //      The oracle recomputes chain, IVF-PQ and exact search ----
    Query("q_pipeline_semantic_ann", (s, d) => {
      val emb = T(s, d, "embeddings")
      val (cells, books) = Queries9.ivfPqTables(emb)
      val (deq, caches) = semanticStore(s, d)
      try {
        val q = deq.filter(col("vec_id") % 10 === 0)
        val out = Similarity.recallAtK(
            Similarity.ivfPqTopK(q, deq, cells, books, k = 5, nprobe = 2),
            Similarity.bruteForceTopKL2(q, deq, 5), 5)
          .select(col("query_id"),
            graft.engine.Core.r(col("recall"), 6).as("recall"))
          .orderBy("query_id")
        // bounded: one row per query (survivors/10)
        graft.engine.Core.reroot(out, 100000,
          "q_pipeline_semantic_ann output")
      } finally caches.foreach(_.unpersist(blocking = false))
    },
      // the SAME chain spine, then the production IVF-PQ machinery
      // (Queries9.ivfPqCte — cells/codebooks pinned to the raw embeddings
      // table exactly like the Spark side) over the dequantized survivor
      // store, and recall@5 against the exact L2 top-5 over that store —
      // the composed twin of q_ivfpq_recall
      (s"""WITH $SemanticCte,
         ${Queries9.ivfPqCte(
        "SELECT vec_id AS id, dv AS x FROM dq0",
        "SELECT vec_id AS qid, dv AS qx FROM dq0 WHERE vec_id % 10 = 0")},
         ann AS (SELECT qid, id AS nid FROM ranked WHERE rank <= 5),
         bf AS (SELECT qid, nid FROM (
                  SELECT q.vec_id AS qid, c.vec_id AS nid,
                    row_number() OVER (PARTITION BY q.vec_id ORDER BY
                      list_distance(q.dv, c.dv), c.vec_id) AS rank
                  FROM dq0 q, dq0 c
                  WHERE q.vec_id % 10 = 0 AND c.vec_id <> q.vec_id)
                WHERE rank <= 5),
         hits AS (SELECT a.qid, count(*) AS h
                  FROM ann a JOIN bf b ON a.qid = b.qid AND a.nid = b.nid
                  GROUP BY 1)
         SELECT b.qid AS query_id,
           round(coalesce(h, 0) / 5.0 + 1e-9, 6) AS recall
         FROM (SELECT DISTINCT qid FROM bf) b
         LEFT JOIN hits USING (qid) ORDER BY query_id""")))
}
