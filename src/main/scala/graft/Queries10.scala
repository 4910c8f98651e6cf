package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine._
import graft.engine.Core.r
import graft.Query.T

/** Tenth tranche (round 9) — the long tail of pandas signatures the
  * reference inherits through its dynamic proxies (VERDICT r8 "What's
  * missing"):
  *   - merge on index (`left_index`/`right_index`, asymmetric
  *     left_on+right_index — `parallel_dataframe.py:660-672`);
  *   - EWM `times=` irregular time-decay (`parallel_window.py:282-305`);
  *   - corr(method=callable) (`parallel_dataframe.py:285`);
  *   - remaining scipy win_types + str-proxy tail, exercised from the
  *     existing q_weighted_wintypes / q_str_ops rows' files.
  * Same conventions as [[Queries]]. */
object Queries10 {

  /** Columns of the q_corr_callable matrix, in matrix order (pair
    * orientation (i, j), i<j follows this order on BOTH sides). */
  private val CallableCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  val queries: Seq[Query] = Seq(

    // ---- §2.7 merge on index: the engine materializes the pandas
    //      index as a column (IO.withRowId at ingest; o_orderkey plays
    //      the deterministic index here), so left_index=True is
    //      mergeOn(leftOn=index-col). Exercises the asymmetric-name
    //      join (BOTH key columns kept, pandas left_on/right_on
    //      contract) and the flag-based indicator. ----
    Query("q_merge_index", (s, d) => {
      val left = T(s, d, "orders")
        .select(col("o_orderkey").as("row_id"), col("o_custkey"),
          r(col("o_totalprice"), 2).as("total"))
      val right = T(s, d, "lineitem").filter(col("l_quantity") > 45)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_hi"),
          r(sum("l_extendedprice"), 2).as("hi_price"))
      GroupOps.mergeOn(left, right,
          leftOn = Seq("row_id"), rightOn = Seq("l_orderkey"),
          how = "left", indicator = true)
        .select(col("row_id"), col("o_custkey"), col("total"),
          col("l_orderkey"), col("n_hi"), col("hi_price"), col("_merge"))
        .orderBy("row_id")
    },
      """SELECT o.o_orderkey AS row_id, o.o_custkey,
           round(o.o_totalprice + 1e-9, 2) AS total,
           rr.l_orderkey, rr.n_hi, rr.hi_price,
           CASE WHEN rr.l_orderkey IS NULL THEN 'left_only'
                ELSE 'both' END AS _merge
         FROM orders o LEFT JOIN (
           SELECT l_orderkey, count(*) AS n_hi,
             round(sum(l_extendedprice) + 1e-9, 2) AS hi_price
           FROM lineitem WHERE l_quantity > 45 GROUP BY 1) rr
         ON o.o_orderkey = rr.l_orderkey
         ORDER BY row_id"""),

    // ---- §2.9 ewm(times=, halflife=Timedelta).mean(): weights decay
    //      by ACTUAL timestamp deltas (0.5^(Δt/halflife)), not row
    //      position — the irregular-series decay the reference's EWM
    //      proxy forwards. One running-window Aggregator per group;
    //      the oracle is the closed form over each row's history. ----
    Query("q_ewm_times", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      T(s, d, "events").select(col("event_id"), col("user_id"),
          r(Ewm.meanTimes(col("value"), col("ts"), w,
            halflifeMicros = 7.0 * 24 * 3600 * 1000000), 4).as("ewm_t"))
        .orderBy("user_id", "event_id")
    },
      // closed-form time-decay: w_j = 0.5^((t_i - t_j)/halflife) over the
      // row's (ts, event_id)-ordered history; null values contribute
      // nothing and don't matter to the clock (weights are pure time
      // functions). O(n²) per user — oracle-only shape.
      """SELECT e1.event_id, e1.user_id, round(
           (SELECT sum(e2.value *
              pow(0.5, (epoch_us(e1.ts) - epoch_us(e2.ts)) / 604800000000.0))
            FROM events e2
            WHERE e2.user_id = e1.user_id AND e2.value IS NOT NULL
              AND (e2.ts < e1.ts OR (e2.ts = e1.ts AND e2.event_id <= e1.event_id))) /
           (SELECT sum(
              pow(0.5, (epoch_us(e1.ts) - epoch_us(e2.ts)) / 604800000000.0))
            FROM events e2
            WHERE e2.user_id = e1.user_id AND e2.value IS NOT NULL
              AND (e2.ts < e1.ts OR (e2.ts = e1.ts AND e2.event_id <= e1.event_id)))
           + 1e-9, 4) + 0.0 AS ewm_t
         FROM events e1 ORDER BY e1.user_id, e1.event_id"""),

    // ---- §2.6 corr(method=callable) (`parallel_dataframe.py:285,310`,
    //      exercised by tests/test_apply_corr.py's callable case): the
    //      callable here is COSINE similarity expressed as an aggregate
    //      builder, so ONE ungrouped aggregate computes every
    //      off-diagonal cell with map-side partials; the diagonal is
    //      literal 1.0 (np.fill_diagonal) and each cell masks its own
    //      pair to np.isfinite rows. The frame punches deterministic
    //      NULL holes in one column and +Inf holes in another to prove
    //      both legs of the mask. ----
    Query("q_corr_callable", (s, d) => {
      val li = T(s, d, "lineitem").filter(col("l_partkey") < 200)
      val holed = li.select(
        when(col("l_orderkey") % 7 =!= 0, col("l_quantity"))
          .as("l_quantity"),
        when(col("l_orderkey") % 5 =!= 1, col("l_extendedprice"))
          .otherwise(lit(Double.PositiveInfinity)).as("l_extendedprice"),
        col("l_discount").cast("double").as("l_discount"),
        col("l_tax").cast("double").as("l_tax"))
      val cosine = (x: Column, y: Column) =>
        sum(x * y) / sqrt(sum(x * x) * sum(y * y))
      Corr.corrMatrixWith(holed, CallableCols, cosine)
        .select(col("c1"), col("c2"), r(col("corr"), 6).as("corr"))
        .orderBy("c1", "c2")
    }, {
      val diag = CallableCols.map(c =>
        s"SELECT '$c' AS c1, '$c' AS c2, round(1.0 + 1e-9, 6) + 0.0 AS corr")
      val off = for {
        i <- CallableCols.indices; j <- (i + 1) until CallableCols.size
        a = CallableCols(i); b = CallableCols(j)
      } yield
        s"""SELECT '$a' AS c1, '$b' AS c2,
            round(sum($a * $b) / sqrt(sum($a * $a) * sum($b * $b))
              + 1e-9, 6) + 0.0 AS corr
            FROM holed WHERE isfinite($a) AND isfinite($b)"""
      s"""WITH holed AS (SELECT
            CASE WHEN l_orderkey % 7 <> 0 THEN l_quantity END AS l_quantity,
            CASE WHEN l_orderkey % 5 <> 1 THEN l_extendedprice
                 ELSE CAST('inf' AS DOUBLE) END AS l_extendedprice,
            CAST(l_discount AS DOUBLE) AS l_discount,
            CAST(l_tax AS DOUBLE) AS l_tax
          FROM lineitem WHERE l_partkey < 200)
          SELECT * FROM (${(diag ++ off).mkString(" UNION ALL ")})
          ORDER BY c1, c2"""
    }),

    // ---- pandas groupby.corr(method='kendall') — per-group tau-b via
    //      ONE key-shuffled flatMapGroups running Knight's O(n log n)
    //      per pair (group-sized memory, pandas' own per-group
    //      contract). Bounded slice: the ORACLE's pairwise tau is
    //      O(n²) per group. ----
    Query("q_groupby_kendall", (s, d) => {
      val li = T(s, d, "lineitem").filter(col("l_partkey") < 200)
      Corr.kendallMatrixBy(li, "l_returnflag",
          Seq("l_quantity", "l_discount"))
        .select(col("l_returnflag"), col("c1"), col("c2"),
          r(col("kendall"), 6).as("kendall"))
        .orderBy("l_returnflag", "c1", "c2")
    },
      // per-group tau-b from the O(n²) pair definition: concordant-minus-
      // discordant sign sum over within-group pairs, tie-pair counts per
      // column; diagonal cells are 1 (both columns vary in every group)
      """WITH base AS (SELECT l_returnflag AS g, l_quantity AS a0,
             l_discount AS a1
           FROM lineitem WHERE l_partkey < 200),
         b2 AS (SELECT row_number() OVER () AS rid, * FROM base),
         kd AS (SELECT x.g, count(*) AS np,
                  sum(sign(y.a0 - x.a0) * sign(y.a1 - x.a1)) AS cd,
                  sum(CASE WHEN x.a0 = y.a0 THEN 1 ELSE 0 END) AS t0,
                  sum(CASE WHEN x.a1 = y.a1 THEN 1 ELSE 0 END) AS t1
                FROM b2 x JOIN b2 y ON x.g = y.g AND x.rid < y.rid
                GROUP BY x.g)
         SELECT * FROM (
           SELECT g AS l_returnflag, 'l_quantity' AS c1,
             'l_quantity' AS c2,
             round(1.0 + 1e-9, 6) + 0.0 AS kendall FROM kd
           UNION ALL
           SELECT g, 'l_quantity', 'l_discount',
             round(cd / sqrt((np - t0) * (np - t1)) + 1e-9, 6) + 0.0
           FROM kd
           UNION ALL
           SELECT g, 'l_discount', 'l_discount',
             round(1.0 + 1e-9, 6) + 0.0 FROM kd)
         ORDER BY l_returnflag, c1, c2"""),

    // ---- §2.10 str accessor, tranche 9 — the LAST proxy names:
    //      wrap (native greedy-fold kernel, see TextWrapKernel's
    //      contract), rpartition head/tail (last-occurrence split,
    //      absent sep -> whole string in the tail), index/rindex
    //      (find/rfind that fail the job when absent; p_name always
    //      contains a space so the oracle row never trips it) ----
    Query("q_str_ops9", (s, d) => {
      T(s, d, "part").select(
        col("p_partkey"),
        StrDt.strWrap(col("p_name"), 12).as("wr"),
        StrDt.strRpartitionBefore(col("p_name"), " ").as("rp_head"),
        StrDt.strRpartitionAfter(col("p_name"), " ").as("rp_tail"),
        StrDt.strIndex(col("p_name"), " ").as("ix"),
        StrDt.strRindex(col("p_name"), " ").as("rix"))
        .orderBy("p_partkey")
    },
      // wrap: the same greedy token fold as TextWrapKernel, as a
      // list_reduce over single-spaced words (p_name words are all
      // shorter than the width, so break_long_words never fires — that
      // leg is covered by StrDtSpec's CPython-generated differentials)
      """SELECT p_partkey,
           list_reduce(string_split(p_name, ' '), (acc, w) ->
             CASE WHEN length(string_split(acc, chr(10))[-1])
                       + 1 + length(w) <= 12
               THEN acc || ' ' || w
               ELSE acc || chr(10) || w END) AS wr,
           CASE WHEN strpos(reverse(p_name), ' ') > 0
             THEN substr(p_name, 1,
                    length(p_name) - strpos(reverse(p_name), ' '))
             ELSE '' END AS rp_head,
           CASE WHEN strpos(reverse(p_name), ' ') > 0
             THEN substr(p_name,
                    length(p_name) - strpos(reverse(p_name), ' ') + 2)
             ELSE p_name END AS rp_tail,
           CAST(strpos(p_name, ' ') - 1 AS INTEGER) AS ix,
           CAST(length(p_name) - strpos(reverse(p_name), ' ')
             AS INTEGER) AS rix
         FROM part ORDER BY p_partkey"""))
}
