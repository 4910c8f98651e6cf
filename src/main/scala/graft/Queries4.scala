package graft

import org.apache.spark.sql.functions._
import graft.engine._
import graft.engine.Core.r
import graft.Query.T

/** Fourth tranche (round 5): full col×col correlation matrices for all
  * three methods (the last registered-surface gap — reference
  * `p_corr(method=…)`, `parallel_pandas/core/parallel_dataframe.py:
  * 285-325`), the wide-frame MLlib pearson path, and datetime describe.
  * Same conventions as [[Queries]]. */
object Queries4 {

  /** The 4 numeric lineitem columns every matrix query correlates. */
  private val MatCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Upper-triangle (i, j) index pairs over [[MatCols]]. */
  private val Pairs: Seq[(Int, Int)] =
    for { i <- MatCols.indices; j <- (i + 1) until MatCols.size } yield (i, j)

  val queries: Seq[Query] = Seq(

    // ---- §2.6 p_corr(method=…) FULL MATRIX, all three methods.
    //      spearman: ONE batched stats job for all 4 columns (bounded
    //      exact histograms + quantile cuts in a single aggregate), each
    //      column ranked once, one corr aggregate for all 6 pairs.
    //      kendall: the Kendall kernel over the listwise rows (one
    //      bounded collect + Knight O(n log n) per pair). The frame is
    //      a bounded slice (l_partkey < 200, ~6k rows at every SF)
    //      because the ORACLE's pairwise tau is O(n²) —
    //      the engine paths themselves run the scale plans. ----
    Query("q_corr_matrix", (s, d) => {
      val li = T(s, d, "lineitem").filter(col("l_partkey") < 200)
      Corr.corrMatrixAll(li, MatCols, withKendall = true)
        .select(col("c1"), col("c2"),
          r(col("pearson"), 6).as("pearson"),
          r(col("spearman"), 6).as("spearman"),
          r(col("kendall"), 6).as("kendall"))
        .orderBy("c1", "c2")
    }, {
      // a0..a3 alias the matrix columns; rank/pearson/spearman are one
      // CTE each, kendall tau-b comes from ONE aggregate over the rid
      // self-join (sign-product sums + per-column tie-pair counts).
      val a = MatCols.indices.map(i => s"a$i")
      val rk = MatCols.indices.map(i =>
        s"rank() OVER (ORDER BY a$i) + (count(*) OVER (PARTITION BY a$i)-1)/2.0 AS r$i")
        .mkString(", ")
      val pe = Pairs.map { case (i, j) => s"corr(a$i, a$j) AS p${i}_$j" }.mkString(", ")
      val sp = Pairs.map { case (i, j) => s"corr(r$i, r$j) AS s${i}_$j" }.mkString(", ")
      val cd = Pairs.map { case (i, j) =>
        s"sum(sign(y.a$i - x.a$i) * sign(y.a$j - x.a$j)) AS cd${i}_$j" }.mkString(", ")
      val ties = MatCols.indices.map(i =>
        s"sum(CASE WHEN x.a$i = y.a$i THEN 1 ELSE 0 END) AS t$i").mkString(", ")
      val rows = Pairs.map { case (i, j) =>
        s"""SELECT '${MatCols(i)}' AS c1, '${MatCols(j)}' AS c2,
           round(p${i}_$j + 1e-9, 6) AS pearson,
           round(s${i}_$j + 1e-9, 6) AS spearman,
           round(cd${i}_$j / sqrt((n0 - t$i) * (n0 - t$j)) + 1e-9, 6) AS kendall
           FROM pe, sp, kd"""
      }.mkString(" UNION ALL ")
      s"""WITH base AS (SELECT ${MatCols.zip(a).map { case (c, n) => s"$c AS $n" }.mkString(", ")}
            FROM lineitem WHERE l_partkey < 200),
          rk AS (SELECT $rk FROM base),
          pe AS (SELECT $pe FROM base),
          sp AS (SELECT $sp FROM rk),
          b2 AS (SELECT row_number() OVER () AS rid, * FROM base),
          kd AS (SELECT count(*) AS n0, $cd, $ties
                 FROM b2 x JOIN b2 y ON x.rid < y.rid)
          SELECT * FROM ($rows) ORDER BY c1, c2"""
    }),

    // ---- the same two-method matrix at FULL scale (no kendall — the
    //      oracle's pairwise tau is O(n²); pearson+spearman cost one
    //      probe + one aggregate regardless of row count) ----
    Query("q_corr_matrix_full", (s, d) => {
      Corr.corrMatrixAll(T(s, d, "lineitem"), MatCols)
        .select(col("c1"), col("c2"),
          r(col("pearson"), 6).as("pearson"),
          r(col("spearman"), 6).as("spearman"))
        .orderBy("c1", "c2")
    }, {
      val a = MatCols.indices.map(i => s"a$i")
      val rk = MatCols.indices.map(i =>
        s"rank() OVER (ORDER BY a$i) + (count(*) OVER (PARTITION BY a$i)-1)/2.0 AS r$i")
        .mkString(", ")
      val pe = Pairs.map { case (i, j) => s"corr(a$i, a$j) AS p${i}_$j" }.mkString(", ")
      val sp = Pairs.map { case (i, j) => s"corr(r$i, r$j) AS s${i}_$j" }.mkString(", ")
      val rows = Pairs.map { case (i, j) =>
        s"""SELECT '${MatCols(i)}' AS c1, '${MatCols(j)}' AS c2,
           round(p${i}_$j + 1e-9, 6) AS pearson,
           round(s${i}_$j + 1e-9, 6) AS spearman
           FROM pe, sp"""
      }.mkString(" UNION ALL ")
      s"""WITH base AS (SELECT ${MatCols.zip(a).map { case (c, n) => s"$c AS $n" }.mkString(", ")}
            FROM lineitem),
          rk AS (SELECT $rk FROM base),
          pe AS (SELECT $pe FROM base),
          sp AS (SELECT $sp FROM rk)
          SELECT * FROM ($rows) ORDER BY c1, c2"""
    }),

    // ---- §2.6 wide-frame pearson matrix via the NATIVE one-pass
    //      Gramian aggregate (one O(k²)-state Aggregator instead of
    //      k²/2 co-moment aggregates or the MLlib RDD detour) — the
    //      scale path for hundreds of columns, oracled against plain
    //      corr on the full frame. MLlib variant spec-tested. ----
    Query("q_corr_wide", (s, d) => {
      Corr.pearsonLongGramian(T(s, d, "lineitem"), MatCols)
        .select(col("c1"), col("c2"), r(col("corr"), 6).as("corr"))
        .orderBy("c1", "c2")
    }, {
      val rows = Pairs.map { case (i, j) =>
        s"""SELECT '${MatCols(i)}' AS c1, '${MatCols(j)}' AS c2,
           round(corr(${MatCols(i)}, ${MatCols(j)}) + 1e-9, 6) AS corr
           FROM lineitem"""
      }.mkString(" UNION ALL ")
      s"SELECT * FROM ($rows) ORDER BY c1, c2"
    }),

    // ---- §2.6 PAIRWISE-complete corr matrix — pandas df.corr()
    //      semantics on NaN-laden frames (reference
    //      parallel_dataframe.py:266-275 and its 10%-NaN fixture
    //      tests/test_apply_corr.py): each cell masks ITS OWN pair of
    //      columns, so cells see different row subsets. The frame is
    //      the q_corr_matrix bounded slice with deterministic hash
    //      holes punched per column (testdata is null-free); all 6
    //      pearson cells + pair counts ride ONE aggregate, spearman
    //      re-ranks inside each pair's mask exactly as pandas does. ----
    Query("q_corr_pairwise", (s, d) => {
      val li = T(s, d, "lineitem").filter(col("l_partkey") < 200)
      val holed = li.select(
        when(col("l_orderkey") % 7 =!= 0, col("l_quantity")).as("l_quantity"),
        when(col("l_orderkey") % 5 =!= 1, col("l_extendedprice")).as("l_extendedprice"),
        when(col("l_partkey") % 6 =!= 2, col("l_discount")).as("l_discount"),
        when(col("l_suppkey") % 4 =!= 3, col("l_tax")).as("l_tax"))
      Corr.corrMatrixPairwise(holed, MatCols)
        .select(col("c1"), col("c2"),
          r(col("pearson"), 6).as("pearson"),
          r(col("spearman"), 6).as("spearman"), col("n"))
        .orderBy("c1", "c2")
    }, {
      // per-pair mask + per-pair re-rank: each UNION ALL branch filters
      // to ITS pair's non-null rows, midranks inside that mask, and
      // aggregates — literally pandas' pairwise deletion.
      val holes = Seq(
        "CASE WHEN l_orderkey % 7 <> 0 THEN l_quantity END AS a0",
        "CASE WHEN l_orderkey % 5 <> 1 THEN l_extendedprice END AS a1",
        "CASE WHEN l_partkey % 6 <> 2 THEN l_discount END AS a2",
        "CASE WHEN l_suppkey % 4 <> 3 THEN l_tax END AS a3").mkString(", ")
      val rows = Pairs.map { case (i, j) =>
        s"""SELECT '${MatCols(i)}' AS c1, '${MatCols(j)}' AS c2,
           round(corr(a$i, a$j) + 1e-9, 6) AS pearson,
           round(corr(r$i, r$j) + 1e-9, 6) AS spearman,
           count(*) AS n
           FROM (SELECT a$i, a$j,
             rank() OVER (ORDER BY a$i) + (count(*) OVER (PARTITION BY a$i)-1)/2.0 AS r$i,
             rank() OVER (ORDER BY a$j) + (count(*) OVER (PARTITION BY a$j)-1)/2.0 AS r$j
             FROM base WHERE a$i IS NOT NULL AND a$j IS NOT NULL)"""
      }.mkString(" UNION ALL ")
      s"""WITH base AS (SELECT $holes FROM lineitem WHERE l_partkey < 200)
          SELECT * FROM ($rows) ORDER BY c1, c2"""
    }),

    // ---- §2.5 describe() on DATETIME columns (pandas ≥2 shape):
    //      count/mean/min/quartiles/max over epoch-micros, exact
    //      integer mean, distributed quantile sort — via the
    //      describeAuto include= selector. ----
    Query("q_describe_dt", (s, d) => {
      Reductions.describeAuto(T(s, d, "orders"), include = Seq("datetime"))
    },
      // exact integer mean: HUGEINT sum + half-up integer division,
      // mirroring the engine's decimal-sum arithmetic bit for bit
      """WITH us AS (SELECT epoch_us(o_orderdate) AS u FROM orders),
         agg AS (SELECT count(u) AS cnt,
                   (2 * sum(CAST(u AS HUGEINT)) + count(u)) // (2 * count(u)) AS mean_us,
                   min(u) AS mn, max(u) AS mx,
                   quantile_cont(u, 0.25) AS q25,
                   quantile_cont(u, 0.50) AS q50,
                   quantile_cont(u, 0.75) AS q75
                 FROM us)
         SELECT 'count' AS stat, CAST(cnt AS VARCHAR) AS o_orderdate FROM agg
         UNION ALL SELECT 'mean', strftime(make_timestamp(CAST(mean_us AS BIGINT)), '%Y-%m-%d %H:%M:%S.%f') FROM agg
         UNION ALL SELECT 'min', strftime(make_timestamp(CAST(round(mn) AS BIGINT)), '%Y-%m-%d %H:%M:%S.%f') FROM agg
         UNION ALL SELECT '25%', strftime(make_timestamp(CAST(round(q25) AS BIGINT)), '%Y-%m-%d %H:%M:%S.%f') FROM agg
         UNION ALL SELECT '50%', strftime(make_timestamp(CAST(round(q50) AS BIGINT)), '%Y-%m-%d %H:%M:%S.%f') FROM agg
         UNION ALL SELECT '75%', strftime(make_timestamp(CAST(round(q75) AS BIGINT)), '%Y-%m-%d %H:%M:%S.%f') FROM agg
         UNION ALL SELECT 'max', strftime(make_timestamp(CAST(round(mx) AS BIGINT)), '%Y-%m-%d %H:%M:%S.%f') FROM agg"""))
}
