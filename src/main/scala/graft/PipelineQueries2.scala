package graft

import org.apache.spark.sql.functions._
import graft.engine.Core.r
import graft.pipeline._
import graft.Query.T

/** Corpus-curation query surface (see [[graft.pipeline.Curation]]):
  * decontamination, PII, deterministic splits/sampling, repetition
  * metrics, sequence packing. Every query has a full DuckDB oracle —
  * the hash-determinism design (md5 everywhere a decision is "random")
  * is what makes that possible. */
object PipelineQueries2 {

  /** Deterministic PII-bearing text: the synthetic corpus has no PII, so
    * the query plants some as a pure function of doc_id (email always,
    * IP on even ids, phone on ids % 3 == 0) — the detector/redactor then
    * has real positives AND negatives to prove itself on. */
  private def plantedPii(id: org.apache.spark.sql.Column,
                         text: org.apache.spark.sql.Column) =
    concat(
      text,
      lit(" contact user"), id.cast("string"), lit("@mail.example.com"),
      when(id % 2 === 0,
        concat(lit(" from 10.0."), (id % 256).cast("string"), lit("."),
          (id % 100).cast("string")))
        .otherwise(lit("")),
      when(id % 3 === 0,
        concat(lit(" tel +555 123 4"), lpad((id % 1000).cast("string"), 3, "0")))
        .otherwise(lit("")))

  private val WordsCte =
    """words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
                 FROM documents)"""

  /** Word 3-gram CTE (distinct per doc) — mirrors Dedup.shingles(k=3). */
  private val ShingleCte =
    s"""$WordsCte,
       s0 AS (SELECT doc_id,
                CASE WHEN len(w) >= 3 THEN
                  list_transform(generate_series(0, len(w)-3),
                                 i -> array_to_string(w[i+1:i+3], ' '))
                ELSE [array_to_string(w, ' ')] END AS shl
              FROM words),
       sh AS (SELECT DISTINCT doc_id, unnest(shl) AS s FROM s0)"""

  /** Planted-PII expression mirroring [[plantedPii]]. */
  private val AugSql =
    """(text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        || (CASE WHEN doc_id % 2 = 0
            THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                 || CAST(doc_id % 100 AS VARCHAR) ELSE '' END)
        || (CASE WHEN doc_id % 3 = 0
            THEN ' tel +555 123 4' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
            ELSE '' END))"""

  private val EmailReSql = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4ReSql  = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  private val PhoneReSql = "\\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}"
  private val RedactSql =
    s"""regexp_replace(regexp_replace(regexp_replace($AugSql,
        '$EmailReSql', '<EMAIL>', 'g'),
        '$Ipv4ReSql', '<IP>', 'g'),
        '$PhoneReSql', '<PHONE>', 'g')"""

  /** One unrolled Lloyd iteration: assign against c{i-1}, recompute
    * c{i} (empty clusters keep their centroid — mirrors kmeans). The
    * two parallel unnests zip positionally, giving (dim-index, value)
    * pairs; sum/count instead of avg() so both engines divide the same
    * exact sums (see Similarity.kmeans's order-independence note). */
  /** One Lloyd iteration CTE block (d/a/u/m/g/c tables, rooted on an
    * `e (vec_id, x)` CTE and the previous `c{i-1}` centroids) — shared
    * with the PipelineQueries6 semantic-composition oracle. */
  private[graft] def kmeansIter(i: Int): String =
    s"""d$i AS (SELECT e.vec_id, c.cid,
             list_sum(list_transform(generate_series(1, 64),
               j -> (x[j]-cv[j])*(x[j]-cv[j]))) AS d
           FROM e, c${i - 1} c),
       a$i AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
             FROM d$i) WHERE rn = 1),
       u$i AS (SELECT cid, unnest(x) AS v, unnest(generate_series(1, 64)) AS j
           FROM a$i JOIN e USING (vec_id)),
       m$i AS (SELECT cid, j, sum(v)/count(v) AS m FROM u$i GROUP BY 1, 2),
       g$i AS (SELECT cid, list(m ORDER BY j) AS cv FROM m$i GROUP BY cid),
       c$i AS (SELECT c.cid, coalesce(g.cv, c.cv) AS cv
           FROM c${i - 1} c LEFT JOIN g$i g USING (cid))"""

  /** Whitespace-split "lines" with 1-based positions (the two parallel
    * unnests zip positionally in DuckDB) — mirrors dedupLines'
    * posexplode over split(text, '\s+'); positions differ by base but
    * only their ORDER is ever used. */
  private val LinesCte =
    """lw AS (SELECT doc_id, string_split_regex(text, '\s+') AS w0
              FROM documents),
       lines AS (SELECT doc_id, unnest(w0) AS l,
                   unnest(generate_series(1, len(w0))) AS p
                 FROM lw)"""

  /** Shared reassembly tail: `agg` must be (doc_id, n_kept, txt). */
  private val DedupTailSql =
    """SELECT d.doc_id,
         len(string_split_regex(d.text, '\s+')) AS n_lines,
         coalesce(a.n_kept, 0) AS n_kept,
         len(string_split_regex(d.text, '\s+')) - coalesce(a.n_kept, 0)
           AS n_dropped,
         md5(coalesce(a.txt, '')) AS dedup_md5
       FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id"""

  /** q_decontam's oracle, also q_stream_decontam's: the two rows share
    * one shingle definition. */
  private[graft] val DecontamSql =
    s"""WITH $ShingleCte,
         bench AS (SELECT DISTINCT s FROM sh JOIN documents USING (doc_id)
                   WHERE source = 'src0'),
         hits AS (SELECT doc_id, count(*) AS n_contaminated
                  FROM sh JOIN documents USING (doc_id)
                  WHERE source <> 'src0' AND s IN (SELECT s FROM bench)
                  GROUP BY 1)
         SELECT d.doc_id,
                coalesce(n_contaminated, 0) AS n_contaminated,
                CASE WHEN coalesce(n_contaminated, 0) > 0 THEN 1 ELSE 0 END
                  AS contaminated
         FROM documents d LEFT JOIN hits USING (doc_id)
         WHERE d.source <> 'src0'
         ORDER BY doc_id"""

  val queries: Seq[Query] = Seq(

    // ---- benchmark decontamination: src0 is the "eval suite" ----
    Query("q_decontam", (s, d) => {
      val docs = T(s, d, "documents")
      Curation.decontaminate(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", k = 3)
        .select(col("doc_id"), col("n_contaminated"),
          col("contaminated").cast("int").as("contaminated"))
        .orderBy("doc_id")
    },
      DecontamSql),

    // ---- PII detect + redact (codegen-only, zero shuffle) ----
    Query("q_pii", (s, d) => {
      val aug = plantedPii(col("doc_id"), col("text"))
      T(s, d, "documents").select(col("doc_id"), aug.as("__t"))
        .select(
          col("doc_id"),
          regexp_count(col("__t"), lit(Curation.EmailRe)).as("n_email"),
          regexp_count(col("__t"), lit(Curation.Ipv4Re)).as("n_ip"),
          regexp_count(col("__t"), lit(Curation.PhoneRe)).as("n_phone"),
          length(Curation.redact(col("__t"))).as("redacted_len"),
          md5(Curation.redact(col("__t")).cast("binary")).as("redacted_md5"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id,
         len(regexp_extract_all($AugSql, '$EmailReSql')) AS n_email,
         len(regexp_extract_all($AugSql, '$Ipv4ReSql')) AS n_ip,
         len(regexp_extract_all($AugSql, '$PhoneReSql')) AS n_phone,
         length($RedactSql) AS redacted_len,
         md5($RedactSql) AS redacted_md5
         FROM documents ORDER BY doc_id"""),

    // ---- deterministic 80/10/10 hash split ----
    Query("q_split", (s, d) =>
      T(s, d, "documents").select(
        col("doc_id"),
        Curation.hashBucket(col("doc_id")).as("bucket"),
        Curation.hashSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
        .orderBy("doc_id"),
      // thresholds are round(0.8*65536)=52429, round(0.9*65536)=58982 —
      // mirrors Curation.hashSplit's cumulative-fraction rounding
      """SELECT doc_id, b AS bucket,
         CASE WHEN b < 52429 THEN 'train'
              WHEN b < 58982 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS b
               FROM documents)
         ORDER BY doc_id"""),

    // ---- stratified deterministic downsampling by source ----
    Query("q_sample_strat", (s, d) =>
      Curation.stratifiedSample(T(s, d, "documents"), "doc_id", "source",
        Map("src1" -> 1.0, "src2" -> 0.5, "src3" -> 0.25, "src4" -> 0.1))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id"),
      """SELECT doc_id, source
         FROM (SELECT doc_id, source,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS b
               FROM documents)
         WHERE b < (CASE source WHEN 'src1' THEN 1.0 WHEN 'src2' THEN 0.5
                    WHEN 'src3' THEN 0.25 WHEN 'src4' THEN 0.1
                    ELSE 0.0 END) * 65536
         ORDER BY doc_id"""),

    // ---- Gopher-style repetition metrics ----
    Query("q_rep_metrics", (s, d) =>
      Curation.repetitionMetrics(T(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          r(col("dup_word_frac"), 6).as("dup_word_frac"),
          r(col("top_bigram_frac"), 6).as("top_bigram_frac"))
        .orderBy("doc_id"),
      s"""WITH $WordsCte,
         base AS (SELECT doc_id, len(w) AS n, w FROM words),
         bg AS (SELECT doc_id,
                  unnest(list_transform(generate_series(0, len(w)-2),
                           i -> array_to_string(w[i+1:i+2], ' '))) AS g
                FROM words WHERE len(w) >= 2),
         cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
         top AS (SELECT doc_id, max(c) AS topc, sum(c) AS tot
                 FROM cnt GROUP BY 1)
         SELECT b.doc_id, n AS n_tokens,
           round(1.0 - len(list_distinct(w))*1.0 / greatest(n, 1) + 1e-9, 6)
             AS dup_word_frac,
           round(coalesce(topc*1.0 / tot, 0.0) + 1e-9, 6) AS top_bigram_frac
         FROM base b LEFT JOIN top USING (doc_id) ORDER BY doc_id"""),

    // ---- greedy sequence packing into 512-token chunks ----
    Query("q_pack", (s, d) => {
      val docs = T(s, d, "documents").select(
        col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
      Curation.packGreedy(docs, "doc_id", "n_tok", ctxLen = 512)
        .orderBy("doc_id")
    },
      s"""WITH $WordsCte,
         t AS (SELECT doc_id, len(w) AS nt FROM words),
         c AS (SELECT doc_id, nt,
                 sum(nt) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM t)
         SELECT doc_id, nt AS n_tokens,
           CAST(cum - nt AS BIGINT) AS start_offset,
           CAST(floor((cum - nt) / 512.0) AS BIGINT) AS chunk_id,
           CAST(cum - nt AS BIGINT) % 512 AS chunk_offset
         FROM c ORDER BY doc_id"""),

    // ---- deterministic corpus shuffle: seeded-hash sort key, md5 mode
    //      (bit-identical in both engines) — the first-200 cut makes
    //      the oracle sensitive to the ORDER, not just the key; the
    //      limit collapses the sort to TakeOrderedAndProject ----
    Query("q_shuffle_order", (s, d) =>
      Curation.shuffleOrder(T(s, d, "documents").select("doc_id"),
          "doc_id", seed = 42L, hash = "md5")
        .limit(200).orderBy("skey", "doc_id"),
      """SELECT doc_id, md5('42#' || CAST(doc_id AS VARCHAR)) AS skey
         FROM documents ORDER BY skey, doc_id LIMIT 200"""),

    // ---- SemDeDup: k-means partition + in-cluster cosine, min-id
    //      survivor (same trained centroids as q_kmeans) ----
    Query("q_semdedup", (s, d) =>
      Similarity.semDedup(T(s, d, "embeddings"), "vec_id", "embedding",
          k = 4, iters = 2, tau = 0.4)
        .orderBy("vec_id"),
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
                     FROM embeddings),
         c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                    AS cid, x AS cv
                FROM (SELECT vec_id, x FROM e ORDER BY vec_id LIMIT 4)),
         ${kmeansIter(1)},
         ${kmeansIter(2)},
         df AS (SELECT e.vec_id, c.cid,
                  list_sum(list_transform(generate_series(1, 64),
                    j -> (x[j]-cv[j])*(x[j]-cv[j]))) AS d
                FROM e, c2 c),
         af AS (SELECT vec_id, cid FROM (
                  SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                  FROM df) WHERE rn = 1),
         m AS (SELECT e.vec_id, af.cid AS cluster, e.x,
                 sqrt(list_sum(list_transform(generate_series(1, 64),
                   j -> x[j]*x[j]))) AS nn
               FROM e JOIN af USING (vec_id)),
         p AS (SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
               FROM m a JOIN m b
                 ON a.cluster = b.cluster AND a.vec_id < b.vec_id
               WHERE round(list_sum(list_transform(generate_series(1, 64),
                       j -> a.x[j]*b.x[j])) / (a.nn * b.nn) + 1e-9, 6) >= 0.4
               GROUP BY 1)
         SELECT m.vec_id, m.cluster,
           CASE WHEN p.dup_of IS NULL THEN 1 ELSE 0 END AS keep, p.dup_of
         FROM m LEFT JOIN p USING (vec_id) ORDER BY vec_id"""),

    // ---- distributed k-means over embeddings (IVF coarse-quantizer
    //      trainer): 2 Lloyd iterations, k=4, deterministic id init ----
    Query("q_kmeans", (s, d) =>
      Similarity.kmeans(T(s, d, "embeddings"), "vec_id", "embedding",
        k = 4, iters = 2)
        .select(col("vec_id"), col("cluster"), r(col("dist"), 6).as("dist"))
        .orderBy("vec_id"),
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
                     FROM embeddings),
         c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                    AS cid, x AS cv
                FROM (SELECT vec_id, x FROM e ORDER BY vec_id LIMIT 4)),
         ${kmeansIter(1)},
         ${kmeansIter(2)},
         df AS (SELECT e.vec_id, c.cid,
                  list_sum(list_transform(generate_series(1, 64),
                    j -> (x[j]-cv[j])*(x[j]-cv[j]))) AS d
                FROM e, c2 c),
         af AS (SELECT vec_id, cid, d FROM (
                  SELECT vec_id, cid, d,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                  FROM df) WHERE rn = 1)
         SELECT vec_id, cid AS cluster, round(sqrt(d) + 1e-9, 6) AS dist
         FROM af ORDER BY vec_id"""),

    // ---- TF-IDF + BM25 top terms per doc (corpus search / keyword
    //      extraction): two hash aggregates + vocab equi-join + ONE
    //      doc-id window shuffle shared by doc-length and top-k ----
    Query("q_tfidf", (s, d) =>
      TextAnalysis.bm25TopTerms(T(s, d, "documents"), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("term"), col("tf"),
          r(col("tfidf"), 6).as("tfidf"), r(col("bm25"), 6).as("bm25"),
          col("rank"))
        .orderBy("doc_id", "rank"),
      // identical double-op order to bm25TopTerms so scores (and the
      // rank tie-break) agree bit-for-bit
      s"""WITH $WordsCte,
         tok AS (SELECT doc_id, unnest(w) AS term FROM words),
         tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
                FROM tok WHERE term <> '' GROUP BY 1, 2),
         dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS dfr FROM tf GROUP BY 1),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
         sc AS (SELECT f.doc_id, f.term, f.tf,
                  f.tf * (ln((st.n + 1.0) / (d.dfr + 1.0)) + 1.0) AS tfidf,
                  (ln((st.n - d.dfr + 0.5) / (d.dfr + 0.5) + 1.0) * (f.tf * 2.2))
                    / (f.tf + 1.2 * (0.25 + 0.75 * l.dl / st.avgdl)) AS bm25
                FROM tf f JOIN dft d USING (term) JOIN dl l USING (doc_id), st),
         rk AS (SELECT sc.*, row_number() OVER (PARTITION BY doc_id
                  ORDER BY bm25 DESC, term) AS rank FROM sc)
         SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
           round(tfidf + 1e-9, 6) AS tfidf, round(bm25 + 1e-9, 6) AS bm25, rank
         FROM rk WHERE rank <= 3 ORDER BY doc_id, rank"""),

    // ---- C4 corpus-wide line dedup, keep-first-occurrence mode.
    //      The synthetic docs have no newlines, so "lines" are words
    //      (sep = whitespace) — degenerate content, but it exercises the
    //      exact machinery: global (id, pos) first-occurrence min,
    //      content-keyed join-back, in-order reassembly ----
    Query("q_line_dedup", (s, d) =>
      Curation.dedupLines(T(s, d, "documents"), "doc_id", "text",
          sepRegex = "\\s+", joinSep = " ")
        .select(col("doc_id"), col("n_lines"), col("n_kept"), col("n_dropped"),
          md5(col("text_dedup").cast("binary")).as("dedup_md5"))
        .orderBy("doc_id"),
      s"""WITH $LinesCte,
         rk AS (SELECT doc_id, l, p,
                  row_number() OVER (PARTITION BY l ORDER BY doc_id, p) AS rn
                FROM lines),
         agg AS (SELECT doc_id, count(*) AS n_kept,
                   string_agg(l, ' ' ORDER BY p) AS txt
                 FROM rk WHERE rn = 1 GROUP BY doc_id)
         $DedupTailSql"""),

    // ---- boilerplate removal: drop lines present in >390 of the 500
    //      docs (splits the fixture vocabulary roughly in half) ----
    Query("q_boilerplate", (s, d) =>
      Curation.dedupLines(T(s, d, "documents"), "doc_id", "text",
          sepRegex = "\\s+", joinSep = " ", maxDocFreq = Some(390))
        .select(col("doc_id"), col("n_lines"), col("n_kept"), col("n_dropped"),
          md5(col("text_dedup").cast("binary")).as("dedup_md5"))
        .orderBy("doc_id"),
      s"""WITH $LinesCte,
         freq AS (SELECT l, count(DISTINCT doc_id) AS dfq
                  FROM lines GROUP BY l),
         k AS (SELECT doc_id, l, p FROM lines JOIN freq USING (l)
               WHERE dfq <= 390),
         agg AS (SELECT doc_id, count(*) AS n_kept,
                   string_agg(l, ' ' ORDER BY p) AS txt
                 FROM k GROUP BY doc_id)
         $DedupTailSql"""),

    // ---- temperature-0.5 mixture resampling. The fixture's sources
    //      are exactly uniform (rate 1.0 everywhere — nothing to test),
    //      so stratify by a deterministic IMBALANCED tier instead:
    //      50/30/20% of docs → rates 0.632/0.816/1.0 ----
    Query("q_mixture", (s, d) => {
      val tier = when(col("doc_id") % 10 < 5, "big")
        .when(col("doc_id") % 10 < 8, "mid").otherwise("small")
      Curation.mixtureSample(
          T(s, d, "documents").withColumn("tier", tier),
          "doc_id", "tier", alpha = 0.5)
        .select(col("doc_id"), col("tier"), col("rate"))
        .orderBy("doc_id")
    },
      // identical double-op order to mixtureRates (pow quotient, +1e-9
      // off-grid nudge, 6-digit quantization) so the keep decision and
      // the emitted rate agree bit-for-bit
      """WITH t AS (SELECT doc_id,
                  CASE WHEN doc_id % 10 < 5 THEN 'big'
                       WHEN doc_id % 10 < 8 THEN 'mid'
                       ELSE 'small' END AS tier
                FROM documents),
         c AS (SELECT tier, count(*) AS n FROM t GROUP BY tier),
         w AS (SELECT tier, pow(CAST(n AS DOUBLE), -0.5) AS wt FROM c),
         rt AS (SELECT tier,
                  round(wt / (SELECT max(wt) FROM w) + 1e-9, 6) AS rate
                FROM w)
         SELECT doc_id, tier, rate
         FROM t JOIN rt USING (tier)
         WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               < rate * 65536
         ORDER BY doc_id"""),

    // ---- Gopher-style composite quality gate (thresholds tuned so the
    //      fixture has real passes AND failures on every rule) ----
    Query("q_quality_gate", (s, d) =>
      Curation.gopherFilter(T(s, d, "documents"), "doc_id", "text",
          minWords = 30, maxWords = 90, wordLenBand = (3.0, 4.6),
          minStopFrac = 0.05, maxDupWordFrac = 0.6, maxTopBigramFrac = 0.2)
        .select(col("doc_id"), col("n_tokens"),
          r(col("mean_word_len"), 6).as("mean_word_len"),
          r(col("stop_frac"), 6).as("stop_frac"),
          r(col("dup_word_frac"), 6).as("dup_word_frac"),
          r(col("top_bigram_frac"), 6).as("top_bigram_frac"),
          col("n_flags"), col("pass").cast("int").as("pass"))
        .orderBy("doc_id"),
      s"""WITH $WordsCte,
         base AS (SELECT doc_id, len(w) AS n, w FROM words),
         bg AS (SELECT doc_id,
                  unnest(list_transform(generate_series(0, len(w)-2),
                           i -> array_to_string(w[i+1:i+2], ' '))) AS g
                FROM words WHERE len(w) >= 2),
         cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
         top AS (SELECT doc_id, max(c) AS topc, sum(c) AS tot
                 FROM cnt GROUP BY 1),
         m AS (SELECT b.doc_id, n AS n_tokens,
                 list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w)
                   AS mwl,
                 len(list_filter(w, x -> list_contains(
                   ['the','a','an','and','or','of','to','in','is','it','on',
                    'for','with','as','at','by'], x))) * 1.0 / len(w) AS sf,
                 1.0 - len(list_distinct(w)) * 1.0 / greatest(n, 1) AS dwf,
                 coalesce(topc * 1.0 / tot, 0.0) AS tbf
               FROM base b LEFT JOIN top USING (doc_id)),
         f AS (SELECT doc_id, n_tokens, mwl, sf, dwf, tbf,
                 (CASE WHEN n_tokens < 30 THEN 1 ELSE 0 END) +
                 (CASE WHEN n_tokens > 90 THEN 1 ELSE 0 END) +
                 (CASE WHEN mwl < 3.0 OR mwl > 4.6 THEN 1 ELSE 0 END) +
                 (CASE WHEN sf < 0.05 THEN 1 ELSE 0 END) +
                 (CASE WHEN dwf > 0.6 THEN 1 ELSE 0 END) +
                 (CASE WHEN tbf > 0.2 THEN 1 ELSE 0 END) AS n_flags
               FROM m)
         SELECT doc_id, n_tokens, round(mwl + 1e-9, 6) AS mean_word_len,
           round(sf + 1e-9, 6) AS stop_frac,
           round(dwf + 1e-9, 6) AS dup_word_frac,
           round(tbf + 1e-9, 6) AS top_bigram_frac, n_flags,
           CASE WHEN n_flags = 0 THEN 1 ELSE 0 END AS pass
         FROM f ORDER BY doc_id"""),

    // ---- CCNet-style perplexity proxy: avg negative unigram logprob
    //      under the corpus's own token distribution ----
    Query("q_unigram_lp", (s, d) =>
      TextAnalysis.unigramLogProb(T(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          r(col("avg_neg_logprob"), 6).as("avg_neg_logprob"))
        .orderBy("doc_id"),
      // identical double-op order to unigramLogProb (k·ln(c/tot) sums,
      // final negate-divide) so scores agree to the 6-digit round
      s"""WITH $WordsCte,
         tok AS (SELECT doc_id, unnest(w) AS term FROM words),
         dt AS (SELECT doc_id, term, count(*) AS k FROM tok
                WHERE term <> '' GROUP BY 1, 2),
         tf AS (SELECT term, sum(k) AS c FROM dt GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM tf),
         sc AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n,
                  -sum(k * ln(CAST(c AS DOUBLE) / tot)) / sum(k) AS nlp
                FROM dt JOIN tf USING (term), tot GROUP BY doc_id)
         SELECT doc_id, n AS n_tokens,
           round(nlp + 1e-9, 6) AS avg_neg_logprob
         FROM sc ORDER BY doc_id"""),

    // ---- normalization chain on deterministically-dirtied text ----
    Query("q_clean", (s, d) => {
      val dirty = concat(lit("  "),
        when(col("doc_id") % 2 === 0, upper(col("text"))).otherwise(col("text")),
        lit("\tmid\u0007bell  "))
      T(s, d, "documents").select(
        col("doc_id"),
        length(Curation.cleanText(dirty)).as("clean_len"),
        md5(Curation.cleanText(dirty).cast("binary")).as("clean_md5"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, length(cleaned) AS clean_len, md5(cleaned) AS clean_md5
         FROM (SELECT doc_id,
                 trim(regexp_replace(regexp_replace(
                   '  ' || (CASE WHEN doc_id % 2 = 0 THEN upper(text)
                            ELSE text END)
                        || chr(9) || 'mid' || chr(7) || 'bell  ',
                   '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')) AS cleaned
               FROM documents)
         ORDER BY doc_id"""),

    // ---- exact duplicated-substring spans (suffix-array dedup,
    //      distributed rolling-window form; natural dups in the corpus) ----
    Query("q_substring_dedup", (s, d) =>
      Dedup.substringSpans(T(s, d, "documents"), "doc_id", "text", win = 30)
        .orderBy("doc_id", "span_start"),
      s"""WITH $SubstringSpanCte
         SELECT doc_id, min(pos) AS span_start, max(e) AS span_end,
           max(e) - min(pos) + 1 AS span_len
         FROM isl GROUP BY doc_id, i ORDER BY doc_id, span_start"""),

    // ---- per-doc duplicated-char fraction (cleaning priority signal) ----
    Query("q_substring_stats", (s, d) =>
      Dedup.substringDupStats(T(s, d, "documents"), "doc_id", "text", win = 30)
        .orderBy("doc_id"),
      s"""WITH $SubstringSpanCte,
         sp AS (SELECT doc_id, min(pos) AS s, max(e) AS e2
                FROM isl GROUP BY doc_id, i),
         agg AS (SELECT doc_id, count(*) AS n_spans,
                   sum(e2 - s + 1) AS dup_chars
                 FROM sp GROUP BY doc_id)
         SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
           coalesce(n_spans, 0) AS n_spans,
           CAST(coalesce(dup_chars, 0) AS BIGINT) AS dup_chars,
           round(coalesce(dup_chars, 0) * 1.0
                 / greatest(length(d.text), 1) + 1e-9, 6) AS dup_frac
         FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
         ORDER BY d.doc_id"""),

    // ---- per-stratum quota cap: lang is skewed (en 43%), cap=70 puts
    //      en/es/zh through the salted top-k path and fr/de through the
    //      under-cap bypass ----
    Query("q_source_cap", (s, d) =>
      Curation.capPerStratum(T(s, d, "documents"), "doc_id", "lang", cap = 70)
        .select(col("doc_id"), col("lang"), col("n_stratum"))
        .orderBy("doc_id"),
      """WITH c AS (SELECT lang, count(*) AS n_stratum
                    FROM documents GROUP BY 1),
         r AS (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
               FROM documents)
         SELECT doc_id, lang, n_stratum FROM r JOIN c USING (lang)
         WHERE rn <= 70 ORDER BY doc_id"""),

    // ---- per-lang token budget: md5-priority fill until 10k chars ----
    Query("q_token_budget", (s, d) =>
      Curation.tokenBudget(T(s, d, "documents"), "doc_id", "lang",
        "n_chars", budget = 10000L)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("cum_tokens"))
        .orderBy("doc_id"),
      """WITH r AS (SELECT doc_id, lang, n_chars,
                 sum(n_chars) OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM documents)
         SELECT doc_id, lang, n_chars, CAST(cum AS BIGINT) AS cum_tokens
         FROM r WHERE cum <= 10000 ORDER BY doc_id"""),

    // ---- DSIR importance weights: en is the "target domain", every
    //      non-en doc gets its hashed-unigram log-likelihood ratio ----
    Query("q_dsir", (s, d) => {
      val docs = T(s, d, "documents")
      Curation.dsirWeights(
        docs.filter(col("lang") =!= "en"),
        docs.filter(col("lang") === "en"),
        "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          r(col("dsir_score"), 6).as("dsir_score"))
        .orderBy("doc_id")
    },
      """WITH w AS (SELECT doc_id, lang,
                      string_split_regex(lower(trim(text)), '\s+') AS ws
                    FROM documents),
         tok AS (SELECT doc_id, lang, unnest(ws) AS t FROM w),
         tok2 AS (SELECT doc_id, lang,
                    ('0x' || substr(md5(t), 1, 8))::BIGINT % 4096 AS b
                  FROM tok WHERE t <> ''),
         tc AS (SELECT b, count(*) AS ct FROM tok2 WHERE lang = 'en'
                GROUP BY 1),
         rc AS (SELECT b, count(*) AS cr FROM tok2 WHERE lang <> 'en'
                GROUP BY 1),
         tt AS (SELECT CAST(sum(ct) AS DOUBLE) AS t_total FROM tc),
         tr AS (SELECT CAST(sum(cr) AS DOUBLE) AS r_total FROM rc),
         model AS (SELECT coalesce(tc.b, rc.b) AS b,
                     ln((coalesce(ct, 0) + 0.5) / (t_total + 0.5 * 4096))
                   - ln((coalesce(cr, 0) + 0.5) / (r_total + 0.5 * 4096)) AS lr
                   FROM tc FULL OUTER JOIN rc ON tc.b = rc.b, tt, tr),
         dt AS (SELECT doc_id, b, count(*) AS k FROM tok2
                WHERE lang <> 'en' GROUP BY 1, 2),
         sc AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
                  sum(k * lr) / sum(k) AS s
                FROM dt JOIN model USING (b) GROUP BY 1)
         SELECT doc_id, n_tokens, round(s + 1e-9, 6) AS dsir_score
         FROM sc ORDER BY doc_id"""))

  /** Duplicated 30-char-window islands CTE shared by the substring-dedup
    * oracles — mirrors [[graft.pipeline.Dedup.substringSpans]] (win=30,
    * stride=1) but groups by the RAW window text (the Spark side groups
    * by md5(window); any md5 collision would surface here as a diff). */
  // (def, not val: referenced from `queries` above — a val here would
  // still be null while that Seq initializes)
  private[graft] def SubstringSpanCte =
    """d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 30),
       w AS (SELECT doc_id, unnest(generate_series(1, length(text) - 29)) AS pos,
                    text
             FROM d),
       w2 AS (SELECT doc_id, pos, substr(text, pos, 30) AS win FROM w),
       dup AS (SELECT win FROM w2 GROUP BY win HAVING count(*) > 1),
       h AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                    CAST(pos + 29 AS BIGINT) AS e
             FROM w2 WHERE win IN (SELECT win FROM dup)),
       b AS (SELECT doc_id, pos, e,
               CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id
                      ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1) + 1
                    THEN 1 ELSE 0 END AS brk
             FROM h),
       isl AS (SELECT doc_id, pos, e,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i
               FROM b)"""
}
