package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Core
import graft.pipeline._
import graft.Query.T

/** Fifth pipeline tranche (round 12): connectivity-only (spanning-edge)
  * dedup emission modes. Same conventions as [[PipelineQueries]]. */
object PipelineQueries5 {

  /** Every stage frame of the 9-stage text-leg composition, shared by
    * q_pipeline_e2e (which consumes `bud` downstream) and
    * q_pipeline_funnel (which harvests every boundary count). `caches`
    * are the frames this builder persisted — callers MUST unpersist
    * them in a finally once their small final result is materialized,
    * or the blocks leak into the rest of the shared ~200-query session.
    * `obs` (observe mode only) maps each boundary's stage name to its
    * [[org.apache.spark.sql.Observation]]; `gate_reasons` additionally
    * carries the six [[Curation.GateReasons]] trip sums. */
  private[graft] final case class E2eChain(
      docs: DataFrame, cleaned: DataFrame, gate: DataFrame,
      gated: DataFrame, surv: DataFrame, corpus: DataFrame,
      bench: DataFrame, dec: DataFrame, mixed: DataFrame, bud: DataFrame,
      caches: Seq[DataFrame],
      obs: Map[String, org.apache.spark.sql.Observation] = Map.empty)

  /** `persistBoundaries = true` caches EVERY stage boundary, each one
    * BEFORE its consumer is built — Spark compiles an
    * InMemoryRelation's child plan eagerly at persist() time, so a
    * persist issued after a dependent frame exists can never be
    * referenced by that dependent's cached plan (the subtree would
    * stay inlined and the cache would never fill from materializing
    * the dependent). The funnel row counts every boundary in build
    * order, so build-order persists make each boundary evaluate
    * exactly once; q_pipeline_e2e keeps the minimal three-cache set
    * its consumers need.
    *
    * `observeBoundaries = true` (r14, VERDICT r13 item 3) is the
    * cheaper funnel form: every boundary gets a `CollectMetrics` node
    * (`Dataset.observe`) carrying its row count — the gate's also
    * carries the six per-reason trip sums — and ONLY the frames with
    * 2+ consumers inside one downstream action are persisted (cleaned,
    * gated, corpus, dec, mixed; each observe sits BELOW its persist so
    * the metric fires exactly once, during cache materialization).
    * A single action on `bud` then evaluates the whole chain once and
    * every count arrives as a byproduct — the in-plan form of the
    * "boundary counts come free from storage-write metrics" production
    * story (PLANS.md), replacing eight count() jobs + an aggregate.
    * The two modes are mutually exclusive; PipelineSpec pins
    * observe-harvested == recounted. */
  private[graft] def e2eChain(s: SparkSession, d: String,
                              persistBoundaries: Boolean = false,
                              observeBoundaries: Boolean = false): E2eChain = {
    require(!(persistBoundaries && observeBoundaries),
      "e2eChain: persistBoundaries and observeBoundaries are exclusive " +
        "funnel modes — pick one")
    // every persist registers here the moment it is issued, so a
    // construction failure INSIDE the builder (analysis is eager — a
    // column collision in a mid-chain stage throws before the caller's
    // try exists) unpersists whatever was already registered instead
    // of leaking cache entries into the shared ~200-query session
    val registered = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val observations =
      scala.collection.mutable.LinkedHashMap.empty[String, org.apache.spark.sql.Observation]
    def reg(df: DataFrame): DataFrame = {
      df.persist(); registered += df; df
    }
    def pb(df: DataFrame): DataFrame =
      if (persistBoundaries) reg(df) else df
    // persist set of the observe mode: exactly the frames consumed 2+
    // times within the single bud action (see scaladoc); single-consumer
    // boundaries (gate, surv) evaluate once by construction and only
    // carry their metric node
    def po(df: DataFrame): DataFrame =
      if (observeBoundaries) reg(df) else pb(df)
    def ob(name: String, df: DataFrame,
           extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame =
      if (!observeBoundaries) df
      else {
        val o = org.apache.spark.sql.Observation(name)
        observations += name -> o
        df.observe(o, count(lit(1)).as("rows"), extra: _*)
      }
    try {
    val docs = ob("input", T(s, d, "documents"))
    val cleaned = po(ob("clean",
      docs.select(col("doc_id"), col("lang"), col("source"),
        Curation.cleanText(col("text")).as("t"))))
    val gate = pb(ob("gate_reasons",
      Curation.gopherFilter(cleaned, "doc_id", "t",
        minWords = 30, maxWords = 90, wordLenBand = (3.0, 4.6),
        minStopFrac = 0.05, maxDupWordFrac = 0.6, maxTopBigramFrac = 0.2),
      // an empty corpus sums to null; the funnel must report 0, not NPE
      extra = Curation.GateReasons.map(n =>
        coalesce(sum(col(n).cast("long")), lit(0L)).as(n))))
    // STAGE-BOUNDARY MATERIALIZATION — the composition lesson this
    // chain exists to encode: each survivor frame below feeds TWO OR
    // MORE consumers (gated -> fuzzy + semi-join + downstream;
    // dec -> mixture + the budget chain; bud -> pack + shuffle +
    // windows + the final join), so without persisting, every
    // consumer re-evaluates the whole upstream chain and the plan's
    // work multiplies combinatorially (measured 31s -> 12s at sf0.1;
    // the remainder is the genuine sequential cost of nine stages).
    // A production 100 TB pipeline writes each stage's survivors to
    // storage between stages; persist() of the narrow survivor frame
    // is the single-plan equivalent.
    val gated = reg(ob("gopher_gate", cleaned.join(
      gate.filter(col("pass")).select(col("doc_id"), col("n_tokens")),
      Seq("doc_id"))))
    val surv = pb(ob("fuzzy_dedup", gated.join(
      Dedup.fuzzy(gated, "doc_id", "t", k = 5, bands = 4,
        rowsPerBand = 2).filter(col("keep")).select("doc_id"),
      Seq("doc_id"), "left_semi")))
    val corpus = po(ob("bench_split", surv.filter(col("source") =!= "src0")))
    val bench = cleaned.filter(col("source") === "src0")
    val dec = reg(ob("decontaminate", corpus.join(
      Curation.decontaminate(corpus, bench, "doc_id", "t", k = 5)
        .filter(!col("contaminated")).select("doc_id"),
      Seq("doc_id"), "left_semi")))
    val tier = when(col("doc_id") % 10 < 5, "big")
      .when(col("doc_id") % 10 < 8, "mid").otherwise("small")
    val mixed = po(ob("mixture",
      Curation.mixtureSample(dec.withColumn("tier", tier),
        "doc_id", "tier", alpha = 0.5)))
    val bud = reg(ob("token_budget", Curation.tokenBudget(mixed,
      "doc_id", "lang", "n_tokens", budget = 500L)))
    E2eChain(docs, cleaned, gate, gated, surv, corpus, bench, dec,
      mixed, bud, caches = registered.toSeq, obs = observations.toMap)
    } catch { case t: Throwable =>
      registered.foreach(_.unpersist(blocking = false))
      throw t
    }
  }

  /** The cl..bud CTE spine of the e2e oracle — every stage formula
    * identical to the individually-gated oracles (q_clean /
    * q_quality_gate / q_dedup_fuzzy / q_decontam / q_mixture /
    * q_token_budget), re-rooted on the previous stage's CTE. Shared by
    * the q_pipeline_e2e and q_pipeline_funnel oracles (prefix with
    * WITH RECURSIVE — greach is recursive). */
  private[graft] val E2eCte: String =
    """cl AS (SELECT doc_id, lang, source,
                  trim(regexp_replace(regexp_replace(text,
                    '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')) AS t
                FROM documents),
         wds AS (SELECT doc_id, lang, source, t,
                   string_split_regex(lower(trim(t)), '\s+') AS w
                 FROM cl),
         bgr AS (SELECT doc_id,
                   unnest(list_transform(generate_series(0, len(w)-2),
                            i -> array_to_string(w[i+1:i+2], ' '))) AS g
                 FROM wds WHERE len(w) >= 2),
         bcnt AS (SELECT doc_id, g, count(*) AS c FROM bgr GROUP BY 1, 2),
         btop AS (SELECT doc_id, max(c) AS topc, sum(c) AS tot
                  FROM bcnt GROUP BY 1),
         gmet AS (SELECT b.doc_id, len(w) AS n,
                    list_sum(list_transform(w, x -> length(x))) * 1.0
                      / len(w) AS mwl,
                    len(list_filter(w, x -> list_contains(
                      ['the','a','an','and','or','of','to','in','is','it',
                       'on','for','with','as','at','by'], x))) * 1.0
                      / len(w) AS sfr,
                    1.0 - len(list_distinct(w)) * 1.0
                      / greatest(len(w), 1) AS dwf,
                    coalesce(topc * 1.0 / tot, 0.0) AS tbf
                  FROM wds b LEFT JOIN btop USING (doc_id)),
         gated AS (SELECT wds.doc_id, lang, source, t, w,
                     gmet.n AS n_tokens
                   FROM wds JOIN gmet USING (doc_id)
                   WHERE NOT (n < 30 OR n > 90 OR mwl < 3.0 OR mwl > 4.6
                              OR sfr < 0.05 OR dwf > 0.6 OR tbf > 0.2)),
         gs0 AS (SELECT doc_id, CASE WHEN len(w) >= 5 THEN
                   list_transform(generate_series(0, len(w)-5),
                                  i -> array_to_string(w[i+1:i+5], ' '))
                 ELSE [array_to_string(w, ' ')] END AS shl FROM gated),
         gsh AS (SELECT DISTINCT doc_id, unnest(shl) AS s FROM gs0),
         ghh AS (SELECT doc_id,
                   ('0x' || substr(md5(s), 1, 15))::BIGINT AS ha,
                   ('0x' || substr(md5(s), 17, 15))::BIGINT AS hb
                 FROM gsh),
         gmh AS (SELECT doc_id, bb.band,
                   min(ha + (bb.band*2) * hb) AS h0,
                   min(ha + (bb.band*2+1) * hb) AS h1
                 FROM ghh, (SELECT unnest(generate_series(0, 3)) AS band) bb
                 GROUP BY 1, 2),
         gprs AS (SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
                  FROM gmh a JOIN gmh c
                    ON a.band = c.band AND a.h0 = c.h0 AND a.h1 = c.h1
                   AND a.doc_id < c.doc_id),
         gedges AS (SELECT doc1 AS a, doc2 AS b FROM gprs
                    UNION ALL SELECT doc2, doc1 FROM gprs),
         greach(doc, rr) AS (
           SELECT a, a FROM gedges
           UNION
           SELECT e.a, greach.rr FROM gedges e
             JOIN greach ON e.b = greach.doc),
         greps AS (SELECT doc, min(rr) AS rep FROM greach GROUP BY doc),
         surv AS (SELECT g.* FROM gated g
                  LEFT JOIN greps ON greps.doc = g.doc_id
                  WHERE coalesce(greps.rep, g.doc_id) = g.doc_id),
         bs0 AS (SELECT doc_id, CASE WHEN len(w) >= 5 THEN
                   list_transform(generate_series(0, len(w)-5),
                                  i -> array_to_string(w[i+1:i+5], ' '))
                 ELSE [array_to_string(w, ' ')] END AS shl
                 FROM wds WHERE source = 'src0'),
         bsh AS (SELECT DISTINCT unnest(shl) AS s FROM bs0),
         corp AS (SELECT * FROM surv WHERE source <> 'src0'),
         cs0 AS (SELECT doc_id, CASE WHEN len(w) >= 5 THEN
                   list_transform(generate_series(0, len(w)-5),
                                  i -> array_to_string(w[i+1:i+5], ' '))
                 ELSE [array_to_string(w, ' ')] END AS shl FROM corp),
         csh AS (SELECT DISTINCT doc_id, unnest(shl) AS s FROM cs0),
         contam AS (SELECT DISTINCT doc_id FROM csh
                    WHERE s IN (SELECT s FROM bsh)),
         dec AS (SELECT * FROM corp
                 WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         dtier AS (SELECT *, CASE WHEN doc_id % 10 < 5 THEN 'big'
                        WHEN doc_id % 10 < 8 THEN 'mid'
                        ELSE 'small' END AS tier FROM dec),
         tcn AS (SELECT tier, count(*) AS nt FROM dtier GROUP BY tier),
         twt AS (SELECT tier, pow(CAST(nt AS DOUBLE), -0.5) AS wt FROM tcn),
         trt AS (SELECT tier,
                   round(wt / (SELECT max(wt) FROM twt) + 1e-9, 6) AS rate
                 FROM twt),
         mixed AS (SELECT dtier.*, trt.rate FROM dtier JOIN trt USING (tier)
                   WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                            1, 4))::BIGINT < rate * 65536),
         bud AS (SELECT * FROM (
                   SELECT m.*, sum(n_tokens) OVER (PARTITION BY lang
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum_tokens
                   FROM mixed m) WHERE cum_tokens <= 500)"""

  val queries: Seq[Query] = Seq(

    // ---- clusters over the spanning-edge (path-per-bucket) minhash
    //      emission: the edge SET is iterator-order-dependent, but the
    //      COMPONENTS must equal the all-pairs graph's — so this row
    //      runs the full cluster extraction over star-mode edges
    //      against the SAME oracle as q_dedup_clusters ----
    Query("q_dedup_clusters_star", (s, d) =>
      Dedup.clusters(
        Dedup.minhashLshEdges(T(s, d, "documents"), "doc_id", "text",
          k = 3, bands = 4, rowsPerBand = 2))
        .orderBy("doc"),
      // identical closure to q_dedup_clusters: star-mode edges must not
      // change a single component
      s"""WITH RECURSIVE ${PipelineQueries.ClustersCte}
         SELECT doc, min(r) AS cluster_rep FROM reach GROUP BY doc
         ORDER BY doc"""),

    // ---- END-TO-END pipeline composition (VERDICT r11 item 5): every
    //      stage below is oracle-green individually, but composition is
    //      where column-name collisions, plan-size blowups and AQE
    //      interactions live — so the whole chain runs as ONE plan:
    //      clean -> gopher gate -> minhash dedup -> decontaminate vs
    //      the src0 eval suite -> temperature-0.5 mixture -> per-lang
    //      token budget -> 512-token greedy packing + md5 shuffle
    //      order -> 32/24 sliding windows. Deterministic at every
    //      stage (every sampler is hash-keyed), so the DuckDB oracle
    //      recomputes the full chain independently ----
    Query("q_pipeline_e2e", (s, d) => {
      // stage frames + persisted boundaries come from the shared
      // e2eChain builder (also the q_pipeline_funnel spine); the
      // composition rationale lives on the builder
      val ch = e2eChain(s, d)
      // EVERYTHING after the chain builds inside the try: a plan-
      // construction failure (column collision — the failure class
      // this row exists to catch) must also release the caches, not
      // just a failed collect
      try {
      // Re-root the four downstream consumers (pack, shuffle-order,
      // windows, final join) on a LocalRelation of `bud` instead of the
      // live 9-stage plan (r15, guide §3.3 plan-size blowup): `bud` is
      // BOUNDED BY CONSTRUCTION — cum_tokens ≤ 500 per language with
      // the gate's n_tokens ≥ 30 floor caps it at ~16 rows/lang — but
      // its LOGICAL plan is the whole chain, and the final 4-way join
      // re-analyzed/re-optimized that tree once per branch (measured:
      // a 5.1 s zero-jobs driver gap planning the final collect at
      // sf0.1). One bounded eager collect truncates the plan; the
      // 100k cap keeps the harness loud if the bound ever breaks.
      val bud = Core.reroot(ch.bud, 100000,
        "q_pipeline_e2e token-budget stage")
      val pk = Curation.packGreedy(
          bud.select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", ctxLen = 512)
        .select(col("doc_id"), col("chunk_id"), col("chunk_offset"))
      val sk = Curation.shuffleOrder(bud.select("doc_id"), "doc_id",
        seed = 42L, hash = "md5")
      val win = Curation.chunkSliding(
        bud.select(col("doc_id"), TextAnalysis.tokens(col("t")).as("toks")),
        "doc_id", "toks", chunkLen = 32, stride = 24, minTail = 8)
      val out = bud.select(col("doc_id"), col("lang"), col("tier"),
          col("rate"), col("n_tokens"), col("cum_tokens"))
        .join(pk, Seq("doc_id")).join(sk, Seq("doc_id"))
        .join(win, Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("tier"), col("rate"),
          col("n_tokens"), col("cum_tokens"), col("chunk_id"),
          col("chunk_offset"), col("skey"), col("chunk_idx"),
          col("start"), concat_ws(" ", col("chunk")).as("chunk_text"),
          col("n_chunk"))
        .orderBy("doc_id", "chunk_idx")
      // materialize the (window-level, ~hundreds-row) result eagerly so
      // the three stage caches can be RELEASED before returning —
      // Verify runs ~200 queries in one session with no clearCache
      // between them, and leaked MEMORY_AND_DISK blocks would tax every
      // later query's storage memory. The collect is LIMIT-capped so a
      // corpus where the chain survives at scale fails loudly instead
      // of materializing an unbounded result on the driver (this row is
      // a verification harness; a production pipeline writes each stage
      // to storage instead of collecting anything)
      Core.reroot(out, 100000, "q_pipeline_e2e output")
      } finally
        // release on EVERY exit — construction failure, cap trip, or
        // failed collect must not leak cached blocks into the rest of
        // the shared Verify/Bench session
        ch.caches.foreach(_.unpersist(blocking = false))
    },
      // the full chain, stage formulas identical to the individually-
      // gated oracles (q_clean / q_quality_gate / q_dedup_fuzzy /
      // q_decontam / q_mixture / q_token_budget / q_pack /
      // q_shuffle_order / q_chunk_sliding), re-rooted on each previous
      // stage's CTE instead of the raw table; the cl..bud spine is the
      // shared E2eCte (also the q_pipeline_funnel oracle's spine)
      ("WITH RECURSIVE " + E2eCte + """,
         pk AS (SELECT doc_id,
                  CAST(floor((cum2 - n_tokens) / 512.0) AS BIGINT)
                    AS chunk_id,
                  CAST(cum2 - n_tokens AS BIGINT) % 512 AS chunk_offset
                FROM (SELECT doc_id, n_tokens,
                        sum(n_tokens) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS cum2
                      FROM bud)),
         sk AS (SELECT doc_id,
                  md5('42#' || CAST(doc_id AS VARCHAR)) AS skey FROM bud),
         sw AS (SELECT doc_id, w, unnest(range(0, len(w), 24)) AS start
                FROM bud WHERE len(w) >= 1)
         SELECT b.doc_id, b.lang, b.tier, b.rate, b.n_tokens,
           CAST(b.cum_tokens AS BIGINT) AS cum_tokens,
           pk.chunk_id, pk.chunk_offset, sk.skey,
           CAST(start / 24 AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start,
           array_to_string(s2.w[start + 1 : start + 32], ' ') AS chunk_text,
           len(s2.w[start + 1 : start + 32]) AS n_chunk
         FROM sw s2 JOIN bud b USING (doc_id) JOIN pk USING (doc_id)
           JOIN sk USING (doc_id)
         WHERE start = 0 OR len(s2.w[start + 1 : start + 32]) >= 8
         ORDER BY doc_id, chunk_idx""")),

    // ---- substring-dedup APPLIED: excise every duplicated >=30-char
    //      window span and return the spliced text (aggressive policy,
    //      all occurrences removed). The oracle re-derives the spans
    //      from RAW window text (any Spark-side hash collision would
    //      surface as a text diff) and rebuilds the remainder with
    //      lag()-gap segments + string_agg ----
    Query("q_substring_excise", (s, d) =>
      Dedup.substringDedupText(T(s, d, "documents"), "doc_id", "text",
          win = 30)
        // n_chars/kept_chars are the op's own UTF-16 counts (r13);
        // the oracle's length() counts code points — identical here
        // because the corpus is ASCII/BMP (the unit-system caveat is
        // documented on substringDedupText and pinned by spec)
        .select(col("doc_id"), col("n_chars"), col("n_spans"),
          col("dup_chars"), col("kept_chars"),
          md5(col("text_dedup").cast("binary")).as("dedup_md5"))
        .orderBy("doc_id"),
      // spans re-derived from RAW window text (SubstringSpanCte), then
      // the remainder rebuilt from lag()-gap segments + the tail,
      // string_agg'd in position order; docs with no spans pass through
      s"""WITH ${PipelineQueries2.SubstringSpanCte},
         sp AS (SELECT doc_id, min(pos) AS s, max(e) AS e2
                FROM isl GROUP BY doc_id, i),
         gaps AS (SELECT doc_id,
                    coalesce(lag(e2) OVER (PARTITION BY doc_id
                      ORDER BY s), 0) + 1 AS gs,
                    s - 1 AS ge, s AS ok
                  FROM sp),
         tails AS (SELECT doc_id, max(e2) + 1 AS gs,
                     CAST(NULL AS BIGINT) AS ge,
                     9223372036854775807 AS ok
                   FROM sp GROUP BY doc_id),
         segs AS (SELECT * FROM gaps UNION ALL SELECT * FROM tails),
         txt AS (SELECT g.doc_id,
                   string_agg(
                     CASE WHEN g.ge IS NULL
                       THEN substr(d0.text, CAST(g.gs AS INTEGER))
                       ELSE substr(d0.text, CAST(g.gs AS INTEGER),
                                   CAST(g.ge - g.gs + 1 AS INTEGER)) END,
                     '' ORDER BY g.ok) AS td
                 FROM segs g JOIN documents d0 USING (doc_id)
                 GROUP BY g.doc_id),
         stats AS (SELECT doc_id, count(*) AS n_spans,
                     sum(e2 - s + 1) AS dup_chars
                   FROM sp GROUP BY doc_id)
         SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
           coalesce(st.n_spans, 0) AS n_spans,
           CAST(coalesce(st.dup_chars, 0) AS BIGINT) AS dup_chars,
           CAST(length(coalesce(t.td, d.text)) AS BIGINT) AS kept_chars,
           md5(coalesce(t.td, d.text)) AS dedup_md5
         FROM documents d LEFT JOIN txt t USING (doc_id)
           LEFT JOIN stats st USING (doc_id)
         ORDER BY doc_id"""),

    // ---- clusters over spanning edges of the shares-a-retained-
    //      shingle graph (ngram star mode, the sf1 blowup lever): the
    //      oracle recomputes the transitive closure over the FULL
    //      all-pairs share-a-shingle graph — equality proves spanning
    //      emission preserved every component ----
    Query("q_ngram_star_clusters", (s, d) =>
      Dedup.clusters(
        Dedup.ngramShingleEdges(T(s, d, "documents"), "doc_id", "text",
          k = 3, maxShingleDf = 1000))
        .orderBy("doc"),
      // transitive closure over ALL pairs sharing >= 1 retained shingle
      // (df cap mirrors maxShingleDf=1000); the Spark side only ever
      // materializes spanning paths of this graph
      s"""WITH RECURSIVE ${PipelineQueries.ShingleCte},
         shf AS (SELECT * FROM sh WHERE s IN
                   (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000)),
         prs AS (SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
                 FROM shf a JOIN shf c
                   ON a.s = c.s AND a.doc_id < c.doc_id),
         edges AS (SELECT doc1 AS a, doc2 AS b FROM prs
                   UNION ALL SELECT doc2, doc1 FROM prs),
         reach(doc, r) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.doc
         )
         SELECT doc, min(r) AS cluster_rep FROM reach GROUP BY doc
         ORDER BY doc"""))
}
