package graft

import org.apache.spark.sql.functions._
import graft.engine.Core.r
import graft.pipeline._
import graft.Query.T

/** Third pipeline tranche (round 7): the round-6 final-commit tail —
  * quality-aware fuzzy-dedup survivors, corpus top-k n-grams, and the
  * interpolated-bigram LM score. Same conventions as
  * [[PipelineQueries]]. */
object PipelineQueries3 {

  /** Cleaned-token CTE shared by the n-gram oracles — mirrors
    * TextAnalysis.cleanTokens (whitespace split, lowercased, empties
    * dropped). */
  private val CleanWordsCte =
    """cw AS (SELECT doc_id,
                list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '') AS w
              FROM documents)"""

  val queries: Seq[Query] = Seq(

    // ---- fuzzy dedup, quality-aware survivor: each near-dup cluster
    //      keeps its longest member (tie -> smallest id) instead of the
    //      canonical minimum id ----
    Query("q_dedup_keep_best", (s, d) =>
      Dedup.fuzzyKeepBest(T(s, d, "documents"), "doc_id", "text",
          col("n_chars"), k = 3, bands = 4, rowsPerBand = 2)
        .select(col("doc_id"), col("cluster_rep"), col("keep_id"),
          col("keep").cast("int").as("keep"))
        .orderBy("doc_id"),
      // ClustersCte gives per-doc min-reachable cluster rep; survivor =
      // row_number over (n_chars desc, doc_id asc), mirroring
      // max_by(id, struct(quality, -id))
      s"""WITH RECURSIVE ${PipelineQueries.ClustersCte},
         cl AS (SELECT doc, min(r) AS rep FROM reach GROUP BY doc),
         lab AS (SELECT d.doc_id, d.n_chars,
                   coalesce(cl.rep, d.doc_id) AS cluster_rep
                 FROM documents d LEFT JOIN cl ON cl.doc = d.doc_id),
         surv AS (SELECT cluster_rep, doc_id AS keep_id,
                    row_number() OVER (PARTITION BY cluster_rep
                      ORDER BY n_chars DESC, doc_id ASC) AS rn
                  FROM lab)
         SELECT l.doc_id, l.cluster_rep, s.keep_id,
           CASE WHEN l.doc_id = s.keep_id THEN 1 ELSE 0 END AS keep
         FROM lab l JOIN surv s
           ON l.cluster_rep = s.cluster_rep AND s.rn = 1
         ORDER BY l.doc_id"""),

    // ---- corpus-wide top-k bigrams (vocabulary / boilerplate
    //      discovery); TakeOrderedAndProject, never a global sort ----
    Query("q_top_ngrams", (s, d) =>
      TextAnalysis.topNgrams(T(s, d, "documents"), "text", n = 2, k = 25)
        .orderBy(col("cnt").desc, col("gram")),
      s"""WITH $CleanWordsCte,
         g AS (SELECT unnest(list_transform(generate_series(0, len(w)-2),
                        i -> array_to_string(w[i+1:i+2], ' '))) AS gram
               FROM cw WHERE len(w) >= 2)
         SELECT gram, count(*) AS cnt FROM g GROUP BY 1
         ORDER BY cnt DESC, gram LIMIT 25"""),

    // ---- interpolated-bigram LM score per doc (KenLM-shaped
    //      perplexity refinement of q_unigram_lp) ----
    Query("q_bigram_lp", (s, d) =>
      TextAnalysis.bigramLogProb(T(s, d, "documents"), "doc_id", "text",
          lambda = 0.7)
        .select(col("doc_id"), col("n_bigrams"),
          r(col("avg_lp"), 6).as("avg_lp"))
        .orderBy("doc_id"),
      // identical double-op order to bigramLogProb:
      // ln((0.7*bc)/pc + ((1.0-0.7)*cc)/tot), avg per doc
      s"""WITH $CleanWordsCte,
         base AS (SELECT doc_id, w FROM cw WHERE len(w) >= 2),
         pp AS (SELECT doc_id,
                  unnest(list_transform(generate_series(2, len(w)),
                    i -> struct_pack(prev := w[i-1], cur := w[i]))) AS p
                FROM base),
         prs AS (SELECT doc_id, p.prev AS prev, p.cur AS cur FROM pp),
         big AS (SELECT prev, cur, CAST(count(*) AS DOUBLE) AS bc
                 FROM prs GROUP BY 1, 2),
         uni AS (SELECT unnest(w) AS term FROM cw),
         uc AS (SELECT term, CAST(count(*) AS DOUBLE) AS c
                FROM uni GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM uc),
         sc AS (SELECT doc_id, count(*) AS n_bigrams,
                  avg(ln((0.7 * bc) / pc.c +
                         ((1.0 - 0.7) * cc.c) / tot)) AS avg_lp
                FROM prs
                JOIN big USING (prev, cur)
                JOIN uc pc ON prs.prev = pc.term
                JOIN uc cc ON prs.cur = cc.term, tot
                GROUP BY doc_id)
         SELECT doc_id, n_bigrams, round(avg_lp + 1e-9, 6) AS avg_lp
         FROM sc ORDER BY doc_id"""))
}
