package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine._
import graft.engine.Core.r
import graft.pipeline.{Curation, Dedup, Similarity, TextAnalysis}
import graft.Query.T

/** Ninth tranche (round 8):
  *   - the pairwise-covariance family the reference's generic window
  *     proxy exposes (`parallel_window.py:38-40` resolves ANY pandas
  *     rolling/ewm method name): rolling/expanding/ewm cov + corr,
  *     DataFrame.cov, groupby corr/cov matrices, Series.autocorr,
  *     cumsum/cummax(axis=1);
  *   - pipeline flagships: IVF-PQ combined ANN (+recall gate),
  *     PageRank, exact edit-distance join, BPE tokenizer train/apply,
  *     semantic decontamination.
  * Same conventions as [[Queries]]. */
object Queries9 {

  private val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
  private val evWin = "PARTITION BY user_id ORDER BY ts, event_id"

  // second series for the pairwise ops: a deterministic per-row rescale
  // of `value` — varying multiplier keeps corr strictly inside (0, 1)
  private val yExpr = "value * (event_id % 5 + 1)"

  /** Pinned IVF-PQ tables: 8 coarse cells = full vectors of vec_id<8
    * (vec_id order = cell index), 4x16 residual codebooks = 16-wide
    * sub-slices of vec_id in [16,32) (vec_id order = code index). */
  private[graft] def ivfPqTables(emb: DataFrame)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    def rows(f: DataFrame): Array[Array[Double]] =
      f.orderBy("vec_id").select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
    val cells = rows(emb.filter(col("vec_id") < 8))
    val src = rows(emb.filter(col("vec_id") >= 16 && col("vec_id") < 32))
    val books = Array.tabulate(4)(s => src.map(_.slice(s * 16, s * 16 + 16)))
    (cells, books)
  }

  /** IVF-PQ in SQL, mirroring the engine's pinned tables and EXACT fold
    * and tie-break orders (same discipline as Queries5.PqCte): squared
    * distances are indexed-lambda + list_reduce left folds, cell
    * assignment / probe lists / codebook argmins are
    * row_number-over-(dist, index), the ADC total is the explicit
    * ((s0+s1)+s2)+s3 chain. Parameterized (r14) on the corpus
    * (`SELECT … AS id, … AS x`) and query (`SELECT … AS qid, … AS qx`)
    * relations so the composed semantic-chain row
    * (q_pipeline_semantic_ann) can run the SAME machinery over its
    * dequantized survivor store; cells and codebooks stay pinned to the
    * raw embeddings table in both uses, exactly like the Spark side's
    * [[ivfPqTables]]. */
  private[graft] def ivfPqCte(corpusSel: String, querySel: String): String = {
    def sq(a: String, b: String) =
      s"list_reduce(list_transform($a, (x, i) -> (x - $b[i]) * (x - $b[i])), (p, q) -> p + q)"
    s"""cc AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl,
             embedding::DOUBLE[] AS ccv
           FROM embeddings WHERE vec_id < 8),
         corp0 AS ($corpusSel),
         qry0 AS ($querySel),
         asg0 AS (
           SELECT corp0.id, corp0.x, cl, ccv,
             row_number() OVER (PARTITION BY corp0.id
               ORDER BY ${sq("corp0.x", "ccv")}, cl) AS rn
           FROM corp0, cc),
         res AS (
           SELECT id, cl, list_transform(x, (v, i) -> v - ccv[i]) AS rv
           FROM asg0 WHERE rn = 1),
         cb AS (
           SELECT row_number() OVER (PARTITION BY t.s ORDER BY e.vec_id) - 1 AS c,
             t.s, list_slice(e.embedding, t.s*16 + 1, t.s*16 + 16)::DOUBLE[] AS cv
           FROM embeddings e, range(4) t(s)
           WHERE e.vec_id >= 16 AND e.vec_id < 32),
         ds AS (
           SELECT id, cl, t.s,
             list_slice(rv, t.s*16 + 1, t.s*16 + 16) AS dv
           FROM res, range(4) t(s)),
         enc0 AS (
           SELECT id, cl, ds.s, c, cv,
             row_number() OVER (PARTITION BY id, ds.s
               ORDER BY ${sq("dv", "cv")}, c) AS rn
           FROM ds JOIN cb ON ds.s = cb.s),
         enc AS (SELECT id, cl, s, c, cv FROM enc0 WHERE rn = 1),
         qp0 AS (
           SELECT qry0.qid, qry0.qx, cl, ccv,
             row_number() OVER (PARTITION BY qry0.qid
               ORDER BY ${sq("qry0.qx", "ccv")}, cl) AS rn
           FROM qry0, cc),
         qp AS (
           SELECT qid, cl, list_transform(qx, (v, i) -> v - ccv[i]) AS qrv
           FROM qp0 WHERE rn <= 2),
         qsl AS (
           SELECT qid, cl, t.s,
             list_slice(qrv, t.s*16 + 1, t.s*16 + 16) AS qv
           FROM qp, range(4) t(s)),
         subd AS (
           SELECT qid, id, enc.s, ${sq("qv", "cv")} AS sd
           FROM enc JOIN qsl ON qsl.cl = enc.cl AND qsl.s = enc.s
           WHERE qid <> id),
         scored AS (
           SELECT qid, id,
             ((max(CASE WHEN s = 0 THEN sd END)
               + max(CASE WHEN s = 1 THEN sd END))
               + max(CASE WHEN s = 2 THEN sd END))
               + max(CASE WHEN s = 3 THEN sd END) AS dist
           FROM subd GROUP BY qid, id),
         ranked AS (
           SELECT qid, id, dist,
             row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
           FROM scored)"""
  }

  /** The standalone-row instance: full embeddings corpus, vec_id<10
    * queries — byte-compatible with the pre-r14 inline CTE. */
  private val IvfPqCte: String = ivfPqCte(
    "SELECT vec_id AS id, embedding::DOUBLE[] AS x FROM embeddings",
    "SELECT vec_id AS qid, embedding::DOUBLE[] AS qx FROM embeddings " +
      "WHERE vec_id < 10")

  /** Program-generated unrolled BPE oracle, mirroring
    * TextAnalysis.bpeTrain's word-histogram formulation exactly: the
    * merge loop runs over the (word, count) table with pair counts
    * weighted by word frequency; each round = weighted pair counts ->
    * (count desc, lhs, rhs) argmax -> literal replacement on the
    * `·`-wrapped encoding (same non-overlapping left-to-right
    * `replace` semantics in DuckDB and Spark). */
  private def bpeCte(rounds: Int): String = {
    val sb = new StringBuilder
    // NB: triple-quoted Scala does not process escapes — `\1` below is
    // exactly one backslash + 1, the RE2 backreference DuckDB expects
    sb.append("""t0 AS (SELECT
        regexp_replace(w, '(.)', '·\1·', 'g') AS t, n
      FROM (SELECT w, count(*) AS n FROM (
              SELECT unnest(string_split_regex(text, ' +')) AS w
              FROM documents)
            WHERE w <> '' GROUP BY w))""")
    for (i <- 1 to rounds) {
      sb.append(s""",
      p$i AS (SELECT p.l AS l, p.r AS r, sum(n)::BIGINT AS c FROM (
          SELECT unnest(list_transform(range(1, len(tk)),
            j -> struct_pack(l := tk[j], r := tk[j + 1]))) AS p, n
          FROM (SELECT string_split(trim(t, '·'), '··') AS tk, n
                FROM t${i - 1})
          WHERE len(tk) >= 2)
        GROUP BY 1, 2),
      m$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
      t$i AS (SELECT
        replace(t, '·' || l || '··' || r || '·',
          '·' || l || r || '·') AS t, n
        FROM t${i - 1}, m$i)""")
    }
    sb.toString
  }

  private def bpeTrainOracle(rounds: Int): String = {
    val unions = (1 to rounds).map(i =>
      s"SELECT $i AS merge_idx, l AS lhs, r AS rhs, c AS freq FROM m$i")
      .mkString("\n         UNION ALL ")
    s"WITH ${bpeCte(rounds)}\n         $unions ORDER BY merge_idx"
  }

  /** Apply chains the learned merges over the raw corpus (merges never
    * contain a space, so the full-text wrapped encoding is safe). */
  private def bpeApplyOracle(rounds: Int): String = {
    // word-based like the engine: each word encoded independently,
    // token counts SUMMED per doc (spaces never count; empty doc = 0).
    // The merge pair (l_i, r_i) rides a single-row cross-joined CTE so
    // the replace chain inside the list_transform lambda references
    // plain columns, not subqueries.
    // ordinary quotes here: "\\1" IS backslash-one after Scala escaping
    val chain = (1 to rounds).foldLeft(
      "regexp_replace(w, '(.)', '·\\1·', 'g')") {
      (acc, i) =>
        s"replace($acc, '·' || l$i || '··' || r$i || '·', " +
          s"'·' || l$i || r$i || '·')"
    }
    val mm = (1 to rounds).map(i =>
      s"(SELECT l FROM m$i) AS l$i, (SELECT r FROM m$i) AS r$i")
      .mkString(", ")
    s"""WITH ${bpeCte(rounds)},
       mm AS (SELECT $mm)
       SELECT doc_id,
         coalesce(list_sum(list_transform(
           list_filter(string_split_regex(text, ' +'), w -> w <> ''),
           w -> len(string_split(trim($chain, '·'), '··')))), 0)::BIGINT
           AS n_tokens
       FROM documents, mm ORDER BY doc_id"""
  }

  val queries: Seq[Query] = Seq(

    // ---- §2.9 rolling.cov / rolling.corr / expanding.cov: builtin
    //      covar_samp/corr as frame aggregates — one window shuffle for
    //      all three, WholeStageCodegen'd co-moment updates, pairwise
    //      min_periods gates ----
    Query("q_rolling_covcorr", (s, d) => {
      val w10 = WindowOps.rollingSpec(byUser, 10)
      val we = WindowOps.expandingSpec(byUser)
      T(s, d, "events")
        .withColumn("y", expr(yExpr))
        .select(col("event_id"), col("user_id"),
          r(WindowOps.rCov(col("value"), col("y"), w10, 10), 2)
            .as("roll_cov"),
          r(WindowOps.rCorr(col("value"), col("y"), w10, 10), 4)
            .as("roll_corr"),
          r(WindowOps.rCov(col("value"), col("y"), we, 2), 2)
            .as("exp_cov"))
        .orderBy("user_id", "event_id")
    },
      s"""WITH o AS (SELECT event_id, ts, user_id, value,
           value * (event_id % 5 + 1) AS y FROM events)
         SELECT event_id, user_id,
           round(CASE WHEN count(*) OVER w10 >= 10
             THEN covar_samp(value, y) OVER w10 END + 1e-9, 2) AS roll_cov,
           round(CASE WHEN count(*) OVER w10 >= 10
             THEN corr(value, y) OVER w10 END + 1e-9, 4) AS roll_corr,
           round(CASE WHEN count(*) OVER we >= 2
             THEN covar_samp(value, y) OVER we END + 1e-9, 2) AS exp_cov
         FROM o WINDOW
           w10 AS ($evWin ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
           we AS ($evWin ROWS UNBOUNDED PRECEDING)
         ORDER BY user_id, event_id"""),

    // ---- rolling(window, step=k): step is a row-number FILTER in the
    //      same WindowExec pass — no extra shuffle ----
    Query("q_rolling_step", (s, d) => {
      val w5 = WindowOps.rollingSpec(byUser, 5)
      T(s, d, "events").select(col("event_id"), col("user_id"),
          r(WindowOps.rMean(col("value"), w5, 5), 4).as("roll_mean"),
          r(WindowOps.rSum(col("value"), w5, 1), 4).as("roll_sum"),
          WindowOps.stepKeep(byUser, 3).as("__keep"))
        .filter(col("__keep")).drop("__keep")
        .orderBy("user_id", "event_id")
    },
      s"""WITH o AS (SELECT event_id, user_id, value,
           row_number() OVER ($evWin) AS rn,
           CASE WHEN count(value) OVER w >= 5
             THEN round(avg(value) OVER w + 1e-9, 4) END AS roll_mean,
           round(sum(value) OVER w + 1e-9, 4) AS roll_sum
           FROM events WINDOW w AS ($evWin ROWS BETWEEN 4 PRECEDING
                                    AND CURRENT ROW))
         SELECT event_id, user_id, roll_mean, roll_sum
         FROM o WHERE (rn - 1) % 3 = 0
         ORDER BY user_id, event_id"""),

    // ---- DataFrame.cov matrix (upper triangle + variance diagonal):
    //      ONE aggregate pass, all co-moments map-side combinable ----
    Query("q_cov_matrix", (s, d) => {
      Corr.covLong(T(s, d, "lineitem"),
          Seq("l_quantity", "l_discount", "l_tax"))
        .select(col("c1"), col("c2"), r(col("cov"), 6).as("cov"))
        .orderBy("c1", "c2")
    },
      """SELECT c1, c2, round(cov + 1e-9, 6) AS cov FROM (
           SELECT 'l_quantity' AS c1, 'l_quantity' AS c2,
                  covar_samp(l_quantity, l_quantity) AS cov FROM lineitem
           UNION ALL
           SELECT 'l_quantity', 'l_discount',
                  covar_samp(l_quantity, l_discount) FROM lineitem
           UNION ALL
           SELECT 'l_quantity', 'l_tax',
                  covar_samp(l_quantity, l_tax) FROM lineitem
           UNION ALL
           SELECT 'l_discount', 'l_discount',
                  covar_samp(l_discount, l_discount) FROM lineitem
           UNION ALL
           SELECT 'l_discount', 'l_tax',
                  covar_samp(l_discount, l_tax) FROM lineitem
           UNION ALL
           SELECT 'l_tax', 'l_tax',
                  covar_samp(l_tax, l_tax) FROM lineitem)
         ORDER BY c1, c2"""),

    // ---- IVF-PQ combined ANN (FAISS IVFPQ shape): coarse cells bound
    //      candidates (ONE cell-keyed equi-join, ~corpus*nprobe/nlist
    //      per query, NO corpus broadcast), residual PQ codes bound
    //      bytes per candidate. Cells pinned to vec_id<8, codebooks to
    //      sub-slices of vec_id in [16,32) so the oracle replicates
    //      both verbatim (trained-path quality is spec-gated). ----
    Query("q_ivfpq_topk", (s, d) => {
      val emb = T(s, d, "embeddings")
      val (cells, books) = ivfPqTables(emb)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb,
          cells, books, k = 5, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"),
          r(col("dist"), 6).as("dist"), col("rank"))
        .orderBy("query_id", "rank")
    },
      s"""WITH $IvfPqCte
         SELECT qid AS query_id, id AS neighbor_id,
           round(dist + 1e-9, 6) AS dist, rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),

    // ---- measured recall@5 of the IVF-PQ path vs exact L2 — the
    //      coarse-probe miss rate is a first-class measured output ----
    Query("q_ivfpq_recall", (s, d) => {
      val emb = T(s, d, "embeddings")
      val (cells, books) = ivfPqTables(emb)
      val q = emb.filter(col("vec_id") < 10)
      Similarity.recallAtK(
          Similarity.ivfPqTopK(q, emb, cells, books, k = 5, nprobe = 2),
          Similarity.bruteForceTopKL2(q, emb, 5), 5)
        .select(col("query_id"), r(col("recall"), 6).as("recall"))
        .orderBy("query_id")
    },
      s"""WITH $IvfPqCte,
         ann AS (SELECT qid, id AS nid FROM ranked WHERE rank <= 5),
         qfull AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 10),
         bf AS (SELECT qid, nid FROM (
                  SELECT q.qid, c.vec_id AS nid,
                    row_number() OVER (PARTITION BY q.qid ORDER BY
                      list_distance(qv, c.embedding::DOUBLE[]), c.vec_id) AS rank
                  FROM qfull q, embeddings c WHERE c.vec_id <> q.qid)
                WHERE rank <= 5),
         hits AS (SELECT a.qid, count(*) AS h
                  FROM ann a JOIN bf b ON a.qid = b.qid AND a.nid = b.nid
                  GROUP BY 1)
         SELECT b.qid AS query_id,
           round(coalesce(h, 0) / 5.0 + 1e-9, 6) AS recall
         FROM (SELECT DISTINCT qid FROM bf) b
         LEFT JOIN hits USING (qid) ORDER BY query_id"""),

    // ---- semantic decontamination: map-side max-cosine of every
    //      corpus vector against the literal benchmark matrix (native
    //      dot kernel), ZERO shuffle — the embedding-space complement
    //      of the k-gram q_decontam ----
    Query("q_semantic_decontam", (s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.semanticDecontaminate(
          emb.filter(col("vec_id") >= 16),
          emb.filter(col("vec_id") < 16), threshold = 0.4)
        .select(col("id"), r(col("max_cos"), 6).as("max_cos"),
          col("contaminated"))
        .orderBy("id")
    },
      """WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS bv
                    FROM embeddings WHERE vec_id < 16),
         m AS (SELECT c.vec_id AS id,
                 max(list_cosine_similarity(c.embedding::DOUBLE[], b.bv))
                   AS mc
               FROM embeddings c, b WHERE c.vec_id >= 16 GROUP BY 1)
         SELECT id, round(mc + 1e-9, 6) AS max_cos,
           coalesce(mc >= 0.4, false) AS contaminated
         FROM m ORDER BY id"""),

    // ---- pandas groupby.corr(): per-group correlation matrix, ONE
    //      grouped aggregate for all cells (pearson) / group-windowed
    //      midranks feeding the same aggregate (spearman) ----
    Query("q_groupby_corr", (s, d) => {
      Corr.corrMatrixBy(T(s, d, "lineitem"), "l_returnflag",
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .select(col("l_returnflag"), col("c1"), col("c2"),
          r(col("corr"), 6).as("corr"))
        .orderBy("l_returnflag", "c1", "c2")
    }, {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val cells = (for {
        i <- cols.indices; j <- i until cols.size
      } yield s"SELECT l_returnflag, '${cols(i)}' AS c1, '${cols(j)}' AS c2, " +
        s"corr(${cols(i)}, ${cols(j)}) AS c FROM lineitem GROUP BY 1")
        .mkString("\n         UNION ALL ")
      s"""SELECT l_returnflag, c1, c2, round(c + 1e-9, 6) AS corr FROM (
         $cells) ORDER BY l_returnflag, c1, c2"""
    }),

    Query("q_groupby_cov", (s, d) => {
      Corr.covMatrixBy(T(s, d, "lineitem"), "l_returnflag",
          Seq("l_quantity", "l_discount", "l_tax"))
        .select(col("l_returnflag"), col("c1"), col("c2"),
          r(col("cov"), 6).as("cov"))
        .orderBy("l_returnflag", "c1", "c2")
    }, {
      val cols = Seq("l_quantity", "l_discount", "l_tax")
      val cells = (for {
        i <- cols.indices; j <- i until cols.size
      } yield s"SELECT l_returnflag, '${cols(i)}' AS c1, '${cols(j)}' AS c2, " +
        s"covar_samp(${cols(i)}, ${cols(j)}) AS c FROM lineitem GROUP BY 1")
        .mkString("\n         UNION ALL ")
      // + 0.0 normalizes DuckDB's signed zero: round(-2.4e-7, 6) is -0.0
      // in DuckDB but +0.0 from Spark's BigDecimal round, and the driver
      // hashes exact values (found by scripts/oracle_audit.py — this was
      // the r8 q_groupby_cov red row).
      s"""SELECT l_returnflag, c1, c2, round(c + 1e-9, 6) + 0.0 AS cov FROM (
         $cells) ORDER BY l_returnflag, c1, c2"""
    }),

    Query("q_groupby_corr_spearman", (s, d) => {
      Corr.corrMatrixBy(T(s, d, "lineitem"), "l_returnflag",
          Seq("l_quantity", "l_extendedprice", "l_discount"), "spearman")
        .select(col("l_returnflag"), col("c1"), col("c2"),
          r(col("corr"), 6).as("corr"))
        .orderBy("l_returnflag", "c1", "c2")
    }, {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val ranked = cols.map(c =>
        s"rank() OVER (PARTITION BY l_returnflag ORDER BY $c) + " +
          s"(count(*) OVER (PARTITION BY l_returnflag, $c) - 1) / 2.0 AS $c")
        .mkString(", ")
      val cells = (for {
        i <- cols.indices; j <- i until cols.size
      } yield s"SELECT l_returnflag, '${cols(i)}' AS c1, '${cols(j)}' AS c2, " +
        s"corr(${cols(i)}, ${cols(j)}) AS c FROM rk GROUP BY 1")
        .mkString("\n         UNION ALL ")
      s"""WITH rk AS (SELECT l_returnflag, $ranked FROM lineitem)
         SELECT l_returnflag, c1, c2, round(c + 1e-9, 6) AS corr FROM (
         $cells) ORDER BY l_returnflag, c1, c2"""
    }),

    // ---- BPE tokenizer training (Sennrich'16): per merge, ONE
    //      map-side pair explode + ONE combinable hash aggregate + a
    //      1-row argmax collect (the merge rule IS the model); the
    //      tokenized corpus persists between rounds ----
    Query("q_bpe_train", (s, d) => {
      TextAnalysis.bpeTrain(T(s, d, "documents"), "doc_id", "text", 6)
        .orderBy("merge_idx")
    }, bpeTrainOracle(6)),

    // ---- applying the learned merges is a zero-shuffle chain of
    //      literal replacements; per-doc token counts under the
    //      trained vocab ----
    Query("q_bpe_apply", (s, d) => {
      val m = TextAnalysis.bpeTrain(T(s, d, "documents"), "doc_id",
          "text", 6)
        .orderBy("merge_idx").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeApply(T(s, d, "documents"), "doc_id", "text", m)
        .orderBy("doc_id")
    }, bpeApplyOracle(6)),

    // ---- §2.3 cumsum/cummax(axis=1): running accumulation ACROSS
    //      columns — zero shuffle, plain codegen, pandas null
    //      passthrough (null cell stays null, accumulation skips) ----
    Query("q_rowwise_cum", (s, d) => {
      val li = T(s, d, "lineitem").withColumn("price_h",
        when(col("l_linenumber") % 3 =!= 0, col("l_extendedprice")))
      val cols = Seq(col("l_quantity"), col("price_h"), col("l_discount"))
      val names = Seq("qty", "price", "disc")
      val cum = Frame.rowCumsum(cols, names).zip(names).map {
        case (c, n) => r(c, 6).as(s"${n}_cumsum") }
      val cmx = Frame.rowCummax(cols, names).zip(names).map {
        case (c, n) => r(c, 6).as(s"${n}_cummax") }
      li.select(Seq(col("l_orderkey"), col("l_linenumber")) ++
          cum ++ cmx: _*)
        .orderBy("l_orderkey", "l_linenumber", "qty_cumsum", "price_cumsum")
    },
      """WITH h AS (SELECT l_orderkey, l_linenumber, l_quantity,
           CASE WHEN l_linenumber % 3 <> 0 THEN l_extendedprice END AS price_h,
           l_discount
           FROM lineitem)
         SELECT l_orderkey, l_linenumber,
           round(l_quantity + 1e-9, 6) AS qty_cumsum,
           round(CASE WHEN price_h IS NOT NULL
             THEN l_quantity + price_h END + 1e-9, 6) AS price_cumsum,
           round(l_quantity + coalesce(price_h, 0) + l_discount + 1e-9, 6)
             AS disc_cumsum,
           round(l_quantity + 1e-9, 6) AS qty_cummax,
           round(CASE WHEN price_h IS NOT NULL
             THEN greatest(l_quantity, price_h) END + 1e-9, 6) AS price_cummax,
           round(greatest(l_quantity, coalesce(price_h, l_quantity),
             l_discount) + 1e-9, 6) AS disc_cummax
         FROM h
         ORDER BY l_orderkey, l_linenumber, qty_cumsum, price_cumsum"""),

    // ---- exact edit-distance similarity join (record linkage):
    //      q-gram prefix filtering — global gram-frequency order, each
    //      string joins on only its maxDist*q+1 RAREST (gram,occ) keys,
    //      then levenshtein verifies distinct candidates. Never an
    //      all-pairs join ----
    Query("q_edit_join", (s, d) => {
      Dedup.editDistanceJoin(T(s, d, "supplier"), "s_suppkey", "s_name",
          maxDist = 1)
        .orderBy("id_a", "id_b")
    },
      // brute force is the oracle's privilege: bench-scale n^2 verifies
      // the engine's filtered plan
      """SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
         levenshtein(a.s_name, b.s_name) AS dist
         FROM supplier a, supplier b
         WHERE a.s_suppkey < b.s_suppkey
           AND levenshtein(a.s_name, b.s_name) <= 1
         ORDER BY id_a, id_b"""),

    // ---- Series.autocorr(lag) per group: ONE window shuffle feeds
    //      both lags and the map-side-combinable corr aggregates ----
    Query("q_autocorr", (s, d) => {
      Frame.autocorr(T(s, d, "events"), "value", byUser,
          Seq("user_id"), lags = Seq(1, 3))
        .select(col("user_id"),
          r(col("autocorr_1"), 6).as("ac1"),
          r(col("autocorr_3"), 6).as("ac3"))
        .orderBy("user_id")
    },
      s"""WITH l AS (SELECT user_id, value,
           lag(value, 1) OVER ($evWin) AS l1,
           lag(value, 3) OVER ($evWin) AS l3
           FROM events)
         SELECT user_id,
           round(corr(value, l1) + 1e-9, 6) AS ac1,
           round(corr(value, l3) + 1e-9, 6) AS ac3
         FROM l GROUP BY user_id ORDER BY user_id"""),

    // ---- PageRank domain/source quality ranking (corpus-curation
    //      signal): customer -> supplier edges from orders x lineitem;
    //      2 damped iterations, dangling-mass redistribution. The rank
    //      frame is node-sized, so each iteration AQE-broadcasts it
    //      into the edge join — the edge table shuffles once, in the
    //      contrib aggregate only ----
    Query("q_pagerank", (s, d) => {
      val edges = T(s, d, "orders").select("o_orderkey", "o_custkey")
        .join(T(s, d, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000000L).as("dst"))
      Curation.pageRank(edges, "src", "dst", iters = 2)
        .select(col("node"), r(col("rank"), 6).as("rank"))
        .orderBy("node")
    },
      // two unrolled damped power iterations, dangling mass folded back
      // uniformly — mirrors Curation.pageRank exactly
      """WITH e AS (
           SELECT DISTINCT o.o_custkey AS src,
             l.l_suppkey + 1000000000 AS dst
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         od AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY 1),
         r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
         c1 AS (SELECT e.dst AS node, sum(r0.rank / od.outdeg) AS contrib
                FROM e JOIN r0 ON e.src = r0.node
                JOIN od ON od.src = e.src GROUP BY 1),
         d1 AS (SELECT coalesce(sum(rank), 0) AS dm FROM r0
                LEFT JOIN od ON r0.node = od.src WHERE od.src IS NULL),
         r1 AS (SELECT nodes.node,
                  0.15 / (SELECT n FROM nn) + 0.85 * (coalesce(contrib, 0)
                    + (SELECT dm FROM d1) / (SELECT n FROM nn)) AS rank
                FROM nodes LEFT JOIN c1 USING (node)),
         c2 AS (SELECT e.dst AS node, sum(r1.rank / od.outdeg) AS contrib
                FROM e JOIN r1 ON e.src = r1.node
                JOIN od ON od.src = e.src GROUP BY 1),
         d2 AS (SELECT coalesce(sum(rank), 0) AS dm FROM r1
                LEFT JOIN od ON r1.node = od.src WHERE od.src IS NULL),
         r2 AS (SELECT nodes.node,
                  0.15 / (SELECT n FROM nn) + 0.85 * (coalesce(contrib, 0)
                    + (SELECT dm FROM d2) / (SELECT n FROM nn)) AS rank
                FROM nodes LEFT JOIN c2 USING (node))
         SELECT node, round(rank + 1e-9, 6) AS rank
         FROM r2 ORDER BY node"""),

    // ---- §2.9 ewm.cov / ewm.corr (adjust=True, bias=False):
    //      mergeable pairwise Aggregators as running window fns ----
    Query("q_ewm_cov", (s, d) => {
      T(s, d, "events")
        .withColumn("y", expr(yExpr))
        .select(col("event_id"), col("user_id"),
          // scale 2 / 4: same oracle closed-form pow-sum error budget
          // as q_ewm (ewm_var at 2); corr is O(1) so 4 holds
          r(Ewm.cov(col("value"), col("y"), byUser, 0.2), 2).as("ewm_cov"),
          r(Ewm.corr(col("value"), col("y"), byUser, 0.2), 4)
            .as("ewm_corr"))
        .orderBy("user_id", "event_id")
    },
      // same analytic-weight-sum construction as q_ewm (valid because
      // events.value has no NULL/NaN so the decay clock == row_number);
      // the debias factor swc^2/(swc^2 - sw2c) cancels out of corr
      """WITH o AS (SELECT event_id, user_id, value,
           value * (event_id % 5 + 1) AS y,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         c AS (SELECT event_id, user_id, rn,
           sum(value * pow(0.8, -rn)) OVER w AS sx,
           sum(y * pow(0.8, -rn)) OVER w AS sy,
           sum(value * y * pow(0.8, -rn)) OVER w AS sxy,
           sum(value * value * pow(0.8, -rn)) OVER w AS sxx,
           sum(y * y * pow(0.8, -rn)) OVER w AS syy,
           sum(pow(0.8, -rn)) OVER w AS sw,
           (1 - pow(0.8, rn)) / 0.2 AS swc,
           (1 - pow(0.64, rn)) / 0.36 AS sw2c
           FROM o WINDOW w AS (PARTITION BY user_id ORDER BY rn
                               ROWS UNBOUNDED PRECEDING))
         SELECT event_id, user_id,
           round(CASE WHEN rn >= 2 THEN
             (sxy/sw - (sx/sw)*(sy/sw)) * (swc*swc/(swc*swc - sw2c))
             END + 1e-9, 2) AS ewm_cov,
           round(CASE WHEN rn >= 2 THEN
             (sxy/sw - (sx/sw)*(sy/sw)) /
             sqrt((sxx/sw - (sx/sw)*(sx/sw)) * (syy/sw - (sy/sw)*(sy/sw)))
             END + 1e-9, 4) AS ewm_corr
         FROM c ORDER BY user_id, event_id"""))
}
