package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine._
import graft.engine.Core.r
import graft.Query.T

/** Reference-parity query surface: one named query per operator family
  * from SURVEY.md §2, each [[Query]] with its DuckDB oracle SQL.
  *
  * Conventions (driver contract):
  *   - output column names identical to the oracle SQL aliases;
  *   - every double output rounded identically on both sides (see
  *     Core.r — fp sums are association-order-dependent across engines);
  *   - deterministic ORDER BY on both sides.
  */
object Queries {

  case class Ev(event_id: Long, user_id: Long, value: Double)

  /** Per-user event ordering used by all window queries. */
  private val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
  private val evWin = "PARTITION BY user_id ORDER BY ts, event_id"

  val queries: Seq[Query] = Seq(

    // ---- §2.8 groupby agg (flagship, TPC-H Q1 shape) ----
    Query("q_groupby_agg", (s, d) => {
      T(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          r(sum("l_quantity"), 2).as("sum_qty"),
          r(sum("l_extendedprice"), 2).as("sum_base_price"),
          r(avg("l_quantity"), 4).as("avg_qty"),
          r(avg("l_extendedprice"), 4).as("avg_price"),
          r(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity) + 1e-9,2) AS sum_qty,
         round(sum(l_extendedprice) + 1e-9,2) AS sum_base_price,
         round(avg(l_quantity) + 1e-9,4) AS avg_qty,
         round(avg(l_extendedprice) + 1e-9,4) AS avg_price,
         round(avg(l_discount) + 1e-9,6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY 1,2 ORDER BY 1,2"""),

    // ---- §2.2 full-frame reductions ----
    Query("q_reductions", (s, d) => {
      val li = T(s, d, "lineitem")
      li.agg(
        min("l_quantity").as("qty_min"),
        max("l_quantity").as("qty_max"),
        r(sum("l_quantity"), 2).as("qty_sum"),
        r(avg("l_quantity"), 4).as("qty_mean"),
        r(percentile(col("l_quantity"), lit(0.5)), 4).as("qty_median"),
        r(stddev_samp(col("l_quantity")), 6).as("qty_std"),
        r(var_samp(col("l_quantity")), 6).as("qty_var"),
        r(Reductions.sem(col("l_quantity")), 6).as("qty_sem"),
        r(Reductions.varDdof(col("l_quantity"), 2), 6).as("qty_var_ddof2"),
        r(Reductions.sampleSkew(col("l_quantity")), 6).as("qty_skew"),
        r(Reductions.sampleKurt(col("l_quantity")), 6).as("qty_kurt"),
        r(sum("l_extendedprice"), 2).as("price_sum"),
        r(avg("l_extendedprice"), 4).as("price_mean"),
        r(stddev_samp(col("l_extendedprice")), 4).as("price_std"),
        r(var_samp(col("l_extendedprice")), 2).as("price_var"),
        r(Reductions.sampleSkew(col("l_extendedprice")), 6).as("price_skew"),
        r(Reductions.sampleKurt(col("l_extendedprice")), 6).as("price_kurt"),
        count(lit(1)).as("n_rows"))
    },
      """SELECT min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
         round(sum(l_quantity) + 1e-9,2) AS qty_sum, round(avg(l_quantity) + 1e-9,4) AS qty_mean,
         round(quantile_cont(l_quantity,0.5) + 1e-9,4) AS qty_median,
         round(stddev_samp(l_quantity) + 1e-9,6) AS qty_std,
         round(var_samp(l_quantity) + 1e-9,6) AS qty_var,
         round(stddev_samp(l_quantity)/sqrt(count(l_quantity)) + 1e-9,6) AS qty_sem,
         round(var_pop(l_quantity)*count(l_quantity)/(count(l_quantity)-2) + 1e-9,6) AS qty_var_ddof2,
         round(skewness(l_quantity) + 1e-9,6) AS qty_skew,
         round(kurtosis(l_quantity) + 1e-9,6) AS qty_kurt,
         round(sum(l_extendedprice) + 1e-9,2) AS price_sum,
         round(avg(l_extendedprice) + 1e-9,4) AS price_mean,
         round(stddev_samp(l_extendedprice) + 1e-9,4) AS price_std,
         round(var_samp(l_extendedprice) + 1e-9,2) AS price_var,
         round(skewness(l_extendedprice) + 1e-9,6) AS price_skew,
         round(kurtosis(l_extendedprice) + 1e-9,6) AS price_kurt,
         count(*) AS n_rows
         FROM lineitem"""),

    // ---- §2.5 quantiles (exact, linear interpolation) ----
    Query("q_quantiles", (s, d) => {
      T(s, d, "lineitem").agg(
        r(percentile(col("l_quantity"), lit(0.25)), 4).as("qty_q25"),
        r(percentile(col("l_quantity"), lit(0.5)), 4).as("qty_q50"),
        r(percentile(col("l_quantity"), lit(0.75)), 4).as("qty_q75"),
        r(percentile(col("l_quantity"), lit(0.95)), 4).as("qty_q95"),
        r(percentile(col("l_extendedprice"), lit(0.25)), 4).as("price_q25"),
        r(percentile(col("l_extendedprice"), lit(0.5)), 4).as("price_q50"),
        r(percentile(col("l_extendedprice"), lit(0.75)), 4).as("price_q75"),
        r(percentile(col("l_extendedprice"), lit(0.95)), 4).as("price_q95"))
    },
      """SELECT round(quantile_cont(l_quantity,0.25) + 1e-9,4) AS qty_q25,
         round(quantile_cont(l_quantity,0.5) + 1e-9,4) AS qty_q50,
         round(quantile_cont(l_quantity,0.75) + 1e-9,4) AS qty_q75,
         round(quantile_cont(l_quantity,0.95) + 1e-9,4) AS qty_q95,
         round(quantile_cont(l_extendedprice,0.25) + 1e-9,4) AS price_q25,
         round(quantile_cont(l_extendedprice,0.5) + 1e-9,4) AS price_q50,
         round(quantile_cont(l_extendedprice,0.75) + 1e-9,4) AS price_q75,
         round(quantile_cont(l_extendedprice,0.95) + 1e-9,4) AS price_q95
         FROM lineitem"""),

    // ---- §2.2 prod aggregator + min_count gate ----
    Query("q_prod_mincount", (s, d) => {
      T(s, d, "lineitem")
        .withColumn("m", month(col("l_shipdate")))
        .withColumn("y", year(col("l_shipdate")))
        .groupBy("l_returnflag", "y", "m")
        .agg(
          r(Reductions.product(lit(1.0) + col("l_discount") / 10.0), 6).as("disc_prod"),
          r(Reductions.sumMinCount(col("l_quantity"), 100), 2).as("qty_sum_mc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "y", "m")
    },
      """SELECT l_returnflag, year(l_shipdate) AS y, month(l_shipdate) AS m,
         round(product(1.0 + l_discount/10.0) + 1e-9,6) AS disc_prod,
         round(CASE WHEN count(l_quantity) >= 100 THEN sum(l_quantity) END + 1e-9,2) AS qty_sum_mc,
         count(*) AS n
         FROM lineitem GROUP BY 1,2,3 ORDER BY 1,2,3"""),

    // ---- §2.3 cumulative ops (grouped = scale-correct form) ----
    // ordering includes the measures as tiebreaks: (orderkey, linenumber)
    // is NOT unique in the synthetic lineitem, and a running sum over an
    // ambiguous order is engine-dependent at the tied rows.
    Query("q_cumulative", (s, d) => {
      val w = Window.partitionBy("l_suppkey").orderBy(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      T(s, d, "lineitem").select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        r(Cumulative.cumsum(col("l_quantity"), w), 4).as("cum_qty"),
        r(Cumulative.cummax(col("l_quantity"), w), 4).as("cummax_qty"),
        r(Cumulative.cummin(col("l_extendedprice"), w), 4).as("cummin_price"),
        r(Cumulative.cumprod(lit(1.0) + col("l_discount") / 10.0, w), 6).as("cumprod_disc"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    },
      """SELECT l_suppkey, l_orderkey, l_linenumber,
         round(sum(l_quantity) OVER w + 1e-9,4) AS cum_qty,
         round(max(l_quantity) OVER w + 1e-9,4) AS cummax_qty,
         round(min(l_extendedprice) OVER w + 1e-9,4) AS cummin_price,
         round(product(1.0 + l_discount/10.0) OVER w + 1e-9,6) AS cumprod_disc
         FROM lineitem
         WINDOW w AS (PARTITION BY l_suppkey
                      ORDER BY l_orderkey, l_linenumber,
                               l_quantity, l_extendedprice, l_discount
                      ROWS UNBOUNDED PRECEDING)
         ORDER BY l_suppkey, l_orderkey, l_linenumber"""),

    // ---- §2.5 rank(method='average', pct) — distributed stats-join
    //      form, no partition-less window ----
    Query("q_rank", (s, d) => {
      Reductions.withRankAvg(T(s, d, "lineitem"), "l_quantity",
        Seq("__r" -> false, "__rp" -> true))
        .select(col("l_orderkey"), col("l_linenumber"),
          r(col("__r"), 1).as("qty_rank"),
          r(col("__rp"), 6).as("qty_rank_pct"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
         round(rank() OVER (ORDER BY l_quantity)
               + (count(*) OVER (PARTITION BY l_quantity) - 1)/2.0 + 1e-9, 1) AS qty_rank,
         round((rank() OVER (ORDER BY l_quantity)
               + (count(*) OVER (PARTITION BY l_quantity) - 1)/2.0)
               / count(l_quantity) OVER () + 1e-9, 6) AS qty_rank_pct
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""),

    // ---- §2.5 rank(ascending=False) — the descending path of the
    //      distributed rank machinery ----
    Query("q_rank_desc", (s, d) => {
      Reductions.withRankAvg(T(s, d, "lineitem"), "l_quantity",
        Seq("__rd" -> false, "__rdp" -> true), ascending = false)
        .select(col("l_orderkey"), col("l_linenumber"),
          r(col("__rd"), 1).as("qty_rank"),
          r(col("__rdp"), 6).as("qty_rank_pct"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
         round(rank() OVER (ORDER BY l_quantity DESC)
               + (count(*) OVER (PARTITION BY l_quantity) - 1)/2.0 + 1e-9, 1) AS qty_rank,
         round((rank() OVER (ORDER BY l_quantity DESC)
               + (count(*) OVER (PARTITION BY l_quantity) - 1)/2.0)
               / count(l_quantity) OVER () + 1e-9, 6) AS qty_rank_pct
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""),

    // ---- §2.5 mode (all tied modes) ----
    Query("q_mode", (s, d) =>
      Reductions.modeAll(T(s, d, "lineitem"), "l_quantity"),
      """WITH c AS (SELECT l_quantity, count(*) AS cnt FROM lineitem
                    WHERE l_quantity IS NOT NULL GROUP BY 1)
         SELECT l_quantity FROM c WHERE cnt = (SELECT max(cnt) FROM c)
         ORDER BY l_quantity"""),

    // ---- §2.5 describe ----
    Query("q_describe", (s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val desc = Reductions.describe(T(s, d, "lineitem"), cols)
      desc.select(col("stat") +:
        cols.map(c => r(col(c), 4).as(c)): _*)
        .orderBy("stat")
    }, {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val rows = Seq(
        "count" -> ((c: String) => s"count($c)::DOUBLE"),
        "mean" -> ((c: String) => s"avg($c)"),
        "std" -> ((c: String) => s"stddev_samp($c)"),
        "min" -> ((c: String) => s"min($c)::DOUBLE"),
        "25%" -> ((c: String) => s"quantile_cont($c,0.25)"),
        "50%" -> ((c: String) => s"quantile_cont($c,0.5)"),
        "75%" -> ((c: String) => s"quantile_cont($c,0.75)"),
        "max" -> ((c: String) => s"max($c)::DOUBLE"))
      rows.map { case (stat, f) =>
        s"SELECT '$stat' AS stat, " +
          cols.map(c => s"round(${f(c)} + 1e-9,4) AS $c").mkString(", ") +
          " FROM lineitem"
      }.mkString("", " UNION ALL ", " ORDER BY stat")
    }),

    // ---- §2.5 nunique + mad ----
    Query("q_nunique_mad", (s, d) => {
      val li = T(s, d, "lineitem")
      val nu = li.agg(
        count_distinct(col("l_quantity")).as("qty_nunique"),
        count_distinct(col("l_partkey")).as("part_nunique"),
        count_distinct(col("l_suppkey")).as("supp_nunique"))
      val mad = Reductions.mad(li, Seq("l_quantity", "l_extendedprice"))
        .select(r(col("mad_l_quantity"), 4).as("qty_mad"),
                r(col("mad_l_extendedprice"), 4).as("price_mad"))
      nu.crossJoin(mad)
    },
      """SELECT count(DISTINCT l_quantity) AS qty_nunique,
         count(DISTINCT l_partkey) AS part_nunique,
         count(DISTINCT l_suppkey) AS supp_nunique,
         round(avg(abs(l_quantity - (SELECT avg(l_quantity) FROM lineitem))) + 1e-9,4) AS qty_mad,
         round(avg(abs(l_extendedprice - (SELECT avg(l_extendedprice) FROM lineitem))) + 1e-9,4) AS price_mad
         FROM lineitem"""),

    // ---- §2.5 idxmax / idxmin (first occurrence on ties) ----
    Query("q_idx_extrema", (s, d) => {
      T(s, d, "events").groupBy("event_type").agg(
        Reductions.idxmax(col("event_id"), col("value")).as("id_at_max"),
        Reductions.idxmin(col("event_id"), col("value")).as("id_at_min"),
        r(max("value"), 4).as("max_value"),
        r(min("value"), 4).as("min_value"))
        .orderBy("event_type")
    },
      """WITH rmax AS (SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) rn
             FROM events),
         rmin AS (SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type ORDER BY value ASC, event_id) rn
             FROM events)
         SELECT e.event_type,
           (SELECT event_id FROM rmax WHERE rmax.event_type = e.event_type AND rn = 1) AS id_at_max,
           (SELECT event_id FROM rmin WHERE rmin.event_type = e.event_type AND rn = 1) AS id_at_min,
           round(max(e.value) + 1e-9,4) AS max_value, round(min(e.value) + 1e-9,4) AS min_value
         FROM events e GROUP BY e.event_type ORDER BY e.event_type"""),

    // ---- §2.8 groupby transform (window fast path) ----
    Query("q_groupby_transform", (s, d) => {
      val keys = Seq(col("user_id"))
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(GroupOps.transform("mean", col("value"), keys), 4).as("user_mean"),
        r((col("value") - GroupOps.transform("mean", col("value"), keys)) /
          GroupOps.transform("std", col("value"), keys), 4).as("zscore"),
        GroupOps.transform("count", col("value"), keys).as("user_n"))
        .orderBy("user_id", "event_id")
    },
      """SELECT event_id, user_id,
         round(avg(value) OVER w + 1e-9, 4) AS user_mean,
         round((value - avg(value) OVER w) / stddev_samp(value) OVER w + 1e-9, 4) + 0.0 AS zscore,
         count(value) OVER w AS user_n
         FROM events WINDOW w AS (PARTITION BY user_id)
         ORDER BY user_id, event_id"""),

    // ---- §2.7 pivot_table ----
    Query("q_pivot", (s, d) => {
      val p = GroupOps.pivotTable(T(s, d, "lineitem"),
        index = Seq("l_returnflag"), column = "l_linestatus",
        values = Seq("F", "O"), value = "l_quantity", aggfunc = "sum")
      p.select(col("l_returnflag"), r(col("F"), 2).as("F"), r(col("O"), 2).as("O"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
         round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F') + 1e-9,2) AS "F",
         round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O') + 1e-9,2) AS "O"
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    // ---- §2.7 merge ----
    Query("q_merge", (s, d) => {
      val o = T(s, d, "orders").withColumnRenamed("o_custkey", "custkey")
      val c = T(s, d, "customer").withColumnRenamed("c_custkey", "custkey")
        .select("custkey", "c_name", "c_mktsegment")
      GroupOps.merge(o, broadcast(c), on = Seq("custkey"), how = "inner")
        .select(col("o_orderkey"), col("custkey"),
          r(col("o_totalprice"), 2).as("totalprice"),
          col("c_name"), col("c_mktsegment"))
        .orderBy("o_orderkey")
    },
      """SELECT o.o_orderkey, o.o_custkey AS custkey,
         round(o.o_totalprice + 1e-9,2) AS totalprice, c.c_name, c.c_mktsegment
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY o.o_orderkey"""),

    // ---- §2.7 merge(how='cross') — pandas 2.x cartesian product ----
    Query("q_merge_cross", (s, d) => {
      val reg = T(s, d, "region").select(col("r_regionkey"), col("r_name"))
      val nat = T(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      GroupOps.merge(reg, nat, on = Seq.empty, how = "cross")
        .orderBy("r_regionkey", "n_nationkey")
    },
      """SELECT r_regionkey, r_name, n_nationkey, n_name
         FROM region CROSS JOIN nation
         ORDER BY r_regionkey, n_nationkey"""),

    // ---- §2.9 rolling stats (grouped, row window, min_periods gate) ----
    Query("q_rolling_stats", (s, d) => {
      val w = WindowOps.rollingSpec(byUser, 5)
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(WindowOps.rMean(col("value"), w, 5), 4).as("roll_mean"),
        r(WindowOps.rSum(col("value"), w, 5), 4).as("roll_sum"),
        r(WindowOps.rMin(col("value"), w, 5), 4).as("roll_min"),
        r(WindowOps.rMax(col("value"), w, 5), 4).as("roll_max"),
        r(WindowOps.rStd(col("value"), w, 5), 4).as("roll_std"),
        r(WindowOps.rVar(col("value"), w, 5), 4).as("roll_var"))
        .orderBy("user_id", "event_id")
    },
      s"""SELECT event_id, user_id,
         round(CASE WHEN count(value) OVER w >= 5 THEN avg(value) OVER w END + 1e-9,4) AS roll_mean,
         round(CASE WHEN count(value) OVER w >= 5 THEN sum(value) OVER w END + 1e-9,4) AS roll_sum,
         round(CASE WHEN count(value) OVER w >= 5 THEN min(value) OVER w END + 1e-9,4) AS roll_min,
         round(CASE WHEN count(value) OVER w >= 5 THEN max(value) OVER w END + 1e-9,4) AS roll_max,
         round(CASE WHEN count(value) OVER w >= 5 THEN stddev_samp(value) OVER w END + 1e-9,4) AS roll_std,
         round(CASE WHEN count(value) OVER w >= 5 THEN var_samp(value) OVER w END + 1e-9,4) AS roll_var
         FROM events WINDOW w AS ($evWin ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id"""),

    // ---- §2.9 rolling median / quantile (exact percentile over frame) ----
    Query("q_rolling_quantile", (s, d) => {
      val w = WindowOps.rollingSpec(byUser, 7)
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(WindowOps.rMedian(col("value"), w, 7), 4).as("roll_median"),
        r(WindowOps.rQuantile(col("value"), w, 7, 0.75), 4).as("roll_q75"))
        .orderBy("user_id", "event_id")
    },
      s"""SELECT event_id, user_id,
         round(CASE WHEN count(value) OVER w >= 7 THEN quantile_cont(value, 0.5) OVER w END + 1e-9,4) AS roll_median,
         round(CASE WHEN count(value) OVER w >= 7 THEN quantile_cont(value, 0.75) OVER w END + 1e-9,4) AS roll_q75
         FROM events WINDOW w AS ($evWin ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id"""),

    // ---- §2.9 time-offset rolling window (pandas closed='right') ----
    Query("q_rolling_time", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(Core.usOf(col("ts")))
      val spec = WindowOps.timeSpec(w, 3600L * 1000000L)
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        count(col("value")).over(spec).as("n_1h"),
        r(sum(col("value")).over(spec), 4).as("sum_1h"),
        r(avg(col("value")).over(spec), 4).as("mean_1h"))
        .orderBy("user_id", "event_id")
    },
      """SELECT event_id, user_id,
         count(value) OVER w AS n_1h,
         round(sum(value) OVER w + 1e-9,4) AS sum_1h,
         round(avg(value) OVER w + 1e-9,4) AS mean_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL '3599999999 microseconds' PRECEDING
                      AND CURRENT ROW)
         ORDER BY user_id, event_id"""),

    // ---- §2.9 expanding ----
    Query("q_expanding", (s, d) => {
      val w = WindowOps.expandingSpec(byUser)
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(WindowOps.rMean(col("value"), w, 1), 4).as("exp_mean"),
        r(WindowOps.rStd(col("value"), w, 2), 4).as("exp_std"),
        WindowOps.rCount(col("value"), w).as("exp_n"))
        .orderBy("user_id", "event_id")
    },
      s"""SELECT event_id, user_id,
         round(avg(value) OVER w + 1e-9,4) AS exp_mean,
         round(CASE WHEN count(value) OVER w >= 2 THEN stddev_samp(value) OVER w END + 1e-9,4) AS exp_std,
         count(value) OVER w AS exp_n
         FROM events WINDOW w AS ($evWin ROWS UNBOUNDED PRECEDING)
         ORDER BY user_id, event_id"""),

    // ---- §2.9 ewm mean/var (adjust=True, bias=False) ----
    Query("q_ewm", (s, d) => {
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(Ewm.mean(col("value"), byUser, 0.2), 4).as("ewm_mean"),
        // scale 2: the oracle's closed-form pow sums carry ~1e-8 relative
        // error (1.25^n span), too coarse for 4 decimals on 1e3-sized vars
        r(Ewm.variance(col("value"), byUser, 0.2), 2).as("ewm_var"))
        .orderBy("user_id", "event_id")
    },
      // ewm_var debias factor uses the ANALYTIC weight sums
      //   sw(n)  = (1 - d^n) / (1 - d),  sw2(n) = (1 - d^2n) / (1 - d^2)
      // (valid because events.value has no NULL/NaN, so the decay clock ==
      // row_number): the windowed closed-form sums sw, sw2 span 1.25^n and
      // their difference sw^2 - sw2 is catastrophically cancelled at small n
      // (rn=1 gave -1600 instead of NULL).
      """WITH o AS (SELECT event_id, user_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         c AS (SELECT event_id, user_id, rn,
           sum(value * pow(0.8, -rn)) OVER w AS su,
           sum(pow(0.8, -rn)) OVER w AS sw,
           sum(value * value * pow(0.8, -rn)) OVER w AS sxx,
           (1 - pow(0.8, rn)) / 0.2 AS swc,
           (1 - pow(0.64, rn)) / 0.36 AS sw2c
           FROM o WINDOW w AS (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING))
         SELECT event_id, user_id, round(su/sw + 1e-9, 4) AS ewm_mean,
           round(CASE WHEN rn >= 2 THEN
             (sxx/sw - (su/sw)*(su/sw)) * (swc*swc/(swc*swc - sw2c)) END + 1e-9, 2) AS ewm_var
         FROM c ORDER BY user_id, event_id"""),

    // ---- §2.9 rolling rank + rolling apply (custom frame kernels) ----
    Query("q_rolling_rank", (s, d) => {
      val w = WindowOps.rollingSpec(byUser, 10)
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(WindowOps.rRank(col("value"), w, 10), 1).as("roll_rank"),
        r(WindowOps.rApply(col("value"), w, 10, xs => xs.map(x => x * x).sum), 4)
          .as("roll_sumsq"))
        .orderBy("user_id", "event_id")
    },
      s"""WITH l AS (SELECT event_id, user_id, value,
           list(value) OVER ($evWin ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS lst
           FROM events)
         SELECT event_id, user_id,
           round(CASE WHEN len(lst) >= 10 THEN
             len(list_filter(lst, y -> y < value)) +
             (len(list_filter(lst, y -> y = value)) + 1)/2.0 END + 1e-9, 1) AS roll_rank,
           round(CASE WHEN len(lst) >= 10 THEN
             list_sum(list_transform(lst, y -> y*y)) END + 1e-9, 4) AS roll_sumsq
         FROM l ORDER BY user_id, event_id"""),

    // ---- §2.9 weighted window (win_type surface, explicit weights) ----
    Query("q_weighted_window", (s, d) => {
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(WindowOps.weightedMean(col("value"), byUser, Seq(1, 2, 3, 2, 1)), 4)
          .as("wmean"))
        .orderBy("user_id", "event_id")
    },
      s"""SELECT event_id, user_id,
         round((1*lag(value,4) OVER w + 2*lag(value,3) OVER w + 3*lag(value,2) OVER w
               + 2*lag(value,1) OVER w + 1*value) / 9.0 + 1e-9, 4) AS wmean
         FROM events WINDOW w AS ($evWin) ORDER BY user_id, event_id"""),

    // ---- §2.7 pct_change (latent API) ----
    Query("q_pct_change", (s, d) => {
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(Cumulative.pctChange(col("value"), byUser), 6).as("pct_change"))
        .orderBy("user_id", "event_id")
    },
      s"""SELECT event_id, user_id,
         round(value / lag(value,1) OVER w - 1 + 1e-9, 6) AS pct_change
         FROM events WINDOW w AS ($evWin) ORDER BY user_id, event_id"""),

    // ---- §2.8 groupby apply (arbitrary per-group UDF, typed API) ----
    Query("q_groupby_apply", (s, d) => {
      import s.implicits._
      val ds = T(s, d, "events").select("event_id", "user_id", "value").as[Ev]
      ds.groupByKey(_.user_id)
        .flatMapGroups { (k, it) =>
          it.toSeq.sortBy(e => (-e.value, e.event_id)).take(2).zipWithIndex
            .map { case (e, i) => (k, e.event_id, e.value, i + 1) }
        }
        .toDF("user_id", "event_id", "value", "rn")
        .orderBy("user_id", "rn")
    },
      """SELECT user_id, event_id, value, rn FROM (
           SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
           FROM events) t
         WHERE rn <= 2 ORDER BY user_id, rn"""),

    // ---- §2.6 correlation: pearson matrix + spearman ----
    Query("q_corr", (s, d) => {
      val li = T(s, d, "lineitem")
      val sc = Core.safeCorr _   // degenerate-safe under ANSI (r8)
      val pear = li.agg(
        r(sc(col("l_quantity"), col("l_extendedprice")), 6).as("c_qty_price"),
        r(sc(col("l_quantity"), col("l_discount")), 6).as("c_qty_disc"),
        r(sc(col("l_quantity"), col("l_tax")), 6).as("c_qty_tax"),
        r(sc(col("l_extendedprice"), col("l_discount")), 6).as("c_price_disc"),
        r(sc(col("l_extendedprice"), col("l_tax")), 6).as("c_price_tax"),
        r(sc(col("l_discount"), col("l_tax")), 6).as("c_disc_tax"))
      val sp = Corr.spearman(li, "l_quantity", "l_extendedprice")
        .select(r(col("spearman"), 6).as("spearman_qty_price"))
      pear.crossJoin(sp)
    },
      """WITH rk AS (SELECT
           rank() OVER (ORDER BY l_quantity)
             + (count(*) OVER (PARTITION BY l_quantity)-1)/2.0 AS ra,
           rank() OVER (ORDER BY l_extendedprice)
             + (count(*) OVER (PARTITION BY l_extendedprice)-1)/2.0 AS rb
           FROM lineitem)
         SELECT
         round(corr(l_quantity, l_extendedprice) + 1e-9,6) AS c_qty_price,
         round(corr(l_quantity, l_discount) + 1e-9,6) AS c_qty_disc,
         round(corr(l_quantity, l_tax) + 1e-9,6) AS c_qty_tax,
         round(corr(l_extendedprice, l_discount) + 1e-9,6) AS c_price_disc,
         round(corr(l_extendedprice, l_tax) + 1e-9,6) AS c_price_tax,
         round(corr(l_discount, l_tax) + 1e-9,6) AS c_disc_tax,
         (SELECT round(corr(ra, rb) + 1e-9,6) FROM rk) AS spearman_qty_price
         FROM lineitem"""),

    // ---- §2.6 kendall tau-b (bounded slice): the Kendall kernel's
    //      driver regime, Knight's O(n log n) exact form ----
    Query("q_kendall", (s, d) => {
      val ev = T(s, d, "events").filter(col("user_id") === 7)
        .withColumn("tsu", Core.usOf(col("ts")))
      Corr.kendall(ev, "value", "tsu")
        .select(r(col("kendall"), 6).as("kendall"))
    },
      """WITH b AS (SELECT value AS x, epoch_us(ts) AS y,
           row_number() OVER (ORDER BY event_id) AS i
           FROM events WHERE user_id = 7),
         p AS (SELECT a.x x1, a.y y1, c.x x2, c.y y2 FROM b a JOIN b c ON a.i < c.i)
         SELECT round(
           sum(sign(x2 - x1) * sign(y2 - y1))
           / sqrt((count(*) - sum(CASE WHEN x1 = x2 THEN 1 ELSE 0 END))
                * (count(*) - sum(CASE WHEN y1 = y2 THEN 1 ELSE 0 END))) + 1e-9, 6) AS kendall
         FROM p"""),

    // ---- §2.3 cumulative skipna=False: first null poisons the rest
    //      of the group (null-laden column via the click filter) ----
    Query("q_cumulative_noskip", (s, d) => {
      val v = when(col("event_type") === "click", col("value"))
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(Cumulative.cumsumNoSkip(v, byUser), 4).as("cs"),
        r(Cumulative.cummaxNoSkip(v, byUser), 4).as("cm"))
        .orderBy("user_id", "event_id")
    },
      """WITH v AS (SELECT event_id, user_id, ts,
           CASE WHEN event_type = 'click' THEN value END AS v FROM events)
         SELECT event_id, user_id,
           round(CASE WHEN max(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
                        OVER w = 1 THEN NULL
                 ELSE sum(v) OVER w END + 1e-9, 4) AS cs,
           round(CASE WHEN max(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
                        OVER w = 1 THEN NULL
                 ELSE max(v) OVER w END + 1e-9, 4) AS cm
         FROM v
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING)
         ORDER BY user_id, event_id"""),

    // ---- §2.5 quantile interpolation= breadth: lower/higher/nearest/
    //      midpoint alongside linear, exact order statistics ----
    Query("q_quantile_interp", (s, d) => {
      Reductions.quantileInterp(T(s, d, "lineitem"), "l_quantity",
          Seq(0.123, 0.25, 0.77))
        .select(col("q"), r(col("linear"), 4).as("linear"),
          r(col("lower"), 4).as("lower_v"), r(col("higher"), 4).as("higher_v"),
          r(col("nearest"), 4).as("nearest_v"),
          r(col("midpoint"), 4).as("midpoint_v"))
        .orderBy("q")
    },
      // positions computed with the same double math (q*(n-1)) as the
      // Spark side; banker's rounding at frac=.5 via the even-index case
      """WITH s AS (SELECT list(l_quantity ORDER BY l_quantity) AS xs,
                    count(l_quantity) AS n FROM lineitem),
         q AS (SELECT unnest([0.123, 0.25, 0.77]) AS qq),
         p AS (SELECT qq, qq * (n - 1) AS pos, xs, n FROM s, q),
         e AS (SELECT qq,
                 xs[CAST(floor(pos) AS BIGINT) + 1] AS lo,
                 xs[CAST(ceil(pos) AS BIGINT) + 1] AS hi,
                 pos - floor(pos) AS frac,
                 CAST(floor(pos) AS BIGINT) AS loi
               FROM p)
         SELECT qq AS q,
           round(lo + frac * (hi - lo) + 1e-9, 4) AS linear,
           round(lo + 1e-9, 4) AS lower_v,
           round(hi + 1e-9, 4) AS higher_v,
           round(CASE WHEN frac > 0.5 THEN hi
                      WHEN frac < 0.5 THEN lo
                      WHEN loi % 2 = 0 THEN lo ELSE hi END + 1e-9, 4)
             AS nearest_v,
           round((lo + hi) / 2 + 1e-9, 4) AS midpoint_v
         FROM e ORDER BY q"""),

    // ---- §2.9 rolling center=True (odd + even window; pandas
    //      min_periods default = full window -> null at edges) ----
    Query("q_rolling_center", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val c5 = WindowOps.rollingSpecCentered(w, 5)
      val c4 = WindowOps.rollingSpecCentered(w, 4)
      def full(spec: org.apache.spark.sql.expressions.WindowSpec, n: Int,
               e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(count(lit(1)).over(spec) === n, e)
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(full(c5, 5, avg(col("value")).over(c5)), 4).as("c5_mean"),
        r(full(c4, 4, sum(col("value")).over(c4)), 4).as("c4_sum"))
        .orderBy("user_id", "event_id")
    },
      """SELECT event_id, user_id,
         round(CASE WHEN count(*) OVER w5 = 5
               THEN avg(value) OVER w5 END + 1e-9, 4) AS c5_mean,
         round(CASE WHEN count(*) OVER w4 = 4
               THEN sum(value) OVER w4 END + 1e-9, 4) AS c4_sum
         FROM events
         WINDOW
           w5 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING),
           w4 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING)
         ORDER BY user_id, event_id"""),

    // ---- §2.9 time-offset rolling, closed= breadth (both/left/
    //      neither alongside the default right) — all four interval
    //      closures share ONE sort; frames differ only in bounds ----
    Query("q_rolling_time_closed", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(Core.usOf(col("ts")))
      val hour = 3600L * 1000000L
      val both = WindowOps.timeSpecClosed(w, hour, "both")
      val left = WindowOps.timeSpecClosed(w, hour, "left")
      val neither = WindowOps.timeSpecClosed(w, hour, "neither")
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        count(col("value")).over(both).as("n_both"),
        r(sum(col("value")).over(both), 4).as("sum_both"),
        count(col("value")).over(left).as("n_left"),
        r(sum(col("value")).over(left), 4).as("sum_left"),
        count(col("value")).over(neither).as("n_neither"))
        .orderBy("user_id", "event_id")
    },
      """SELECT event_id, user_id,
         count(value) OVER wb AS n_both,
         round(sum(value) OVER wb + 1e-9, 4) AS sum_both,
         count(value) OVER wl AS n_left,
         round(sum(value) OVER wl + 1e-9, 4) AS sum_left,
         count(value) OVER wn AS n_neither
         FROM events
         WINDOW
           wb AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
           wl AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING),
           wn AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 3599999999 PRECEDING AND 1 PRECEDING)
         ORDER BY user_id, event_id"""),

    // ---- §2.6 kendall, EXACT DISTRIBUTED grid decomposition (the
    //      100 TB path: no driver collect, no sampling), forced at any
    //      size through the kernel's grid seam — same tau-b as the
    //      driver regime, verified against the O(n²) SQL oracle on a
    //      two-user slice ----
    Query("q_kendall_dist", (s, d) => {
      val ev = T(s, d, "events").filter(col("user_id").isin(3, 7))
        .withColumn("tsu", Core.usOf(col("ts")))
      Corr.kendallGrid(ev, Seq("value", "tsu"), buckets = 16)
        .select(r(col("kendall"), 6).as("kendall"))
    },
      """WITH b AS (SELECT value AS x, epoch_us(ts) AS y,
           row_number() OVER (ORDER BY event_id) AS i
           FROM events WHERE user_id IN (3, 7)),
         p AS (SELECT a.x x1, a.y y1, c.x x2, c.y y2 FROM b a JOIN b c ON a.i < c.i)
         SELECT round(
           sum(sign(x2 - x1) * sign(y2 - y1))
           / sqrt((count(*) - sum(CASE WHEN x1 = x2 THEN 1 ELSE 0 END))
                * (count(*) - sum(CASE WHEN y1 = y2 THEN 1 ELSE 0 END))) + 1e-9, 6) AS kendall
         FROM p"""),

    // ---- §2.4 isin + replace ----
    Query("q_isin_replace", (s, d) => {
      T(s, d, "customer").select(
        col("c_custkey"),
        col("c_mktsegment").isin("BUILDING", "AUTOMOBILE").as("in_seg"),
        StrDt.strReplace(col("c_mktsegment"), "BUILDING", "BLDG", regex = false)
          .as("seg_short"),
        r(col("c_acctbal"), 2).as("acctbal"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey,
         c_mktsegment IN ('BUILDING','AUTOMOBILE') AS in_seg,
         replace(c_mktsegment, 'BUILDING', 'BLDG') AS seg_short,
         round(c_acctbal + 1e-9,2) AS acctbal
         FROM customer ORDER BY c_custkey"""),

    // ---- §2.10 str ops ----
    Query("q_str_ops", (s, d) => {
      T(s, d, "part").select(
        col("p_partkey"),
        StrDt.strLower(col("p_type")).as("type_lower"),
        StrDt.strUpper(col("p_name")).as("name_upper"),
        StrDt.strLen(col("p_name")).as("name_len"),
        StrDt.strContains(col("p_type"), "ECON").as("has_econ"),
        StrDt.strStartsWith(col("p_brand"), "Brand#1").as("is_b1"),
        StrDt.strExtract(col("p_brand"), "#([0-9]+)", 1).cast("int").as("brand_num"),
        StrDt.strZfill(col("p_size").cast("string"), 4).as("size_z"),
        StrDt.strSplitItem(col("p_name"), " ", 0).as("name_first"),
        StrDt.strSlice(col("p_name"), 0, 5).as("name_sub"),
        StrDt.strReplace(col("p_type"), "ECONOMY", "ECO", regex = false).as("type_rep"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey,
         lower(p_type) AS type_lower,
         upper(p_name) AS name_upper,
         length(p_name) AS name_len,
         regexp_matches(p_type, 'ECON') AS has_econ,
         starts_with(p_brand, 'Brand#1') AS is_b1,
         CAST(regexp_extract(p_brand, '#([0-9]+)', 1) AS INT) AS brand_num,
         lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_z,
         string_split(p_name, ' ')[1] AS name_first,
         substring(p_name, 1, 5) AS name_sub,
         replace(p_type, 'ECONOMY', 'ECO') AS type_rep
         FROM part ORDER BY p_partkey"""),

    // ---- §2.10 dt ops ----
    Query("q_dt_ops", (s, d) => {
      val ts = col("o_orderdate")
      T(s, d, "orders").select(
        col("o_orderkey"),
        StrDt.dtYear(ts).as("y"),
        StrDt.dtMonth(ts).as("m"),
        StrDt.dtDay(ts).as("day"),
        StrDt.dtDayOfWeek(ts).as("dow"),
        StrDt.dtQuarter(ts).as("q"),
        StrDt.dtFloor(ts, "month").as("month_start"),
        StrDt.dtStrftime(ts, "%Y-%m-%d").as("ymd"),
        StrDt.dtDayName(ts).as("dname"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
         year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS day,
         isodow(o_orderdate) - 1 AS dow, quarter(o_orderdate) AS q,
         date_trunc('month', o_orderdate) AS month_start,
         strftime(o_orderdate, '%Y-%m-%d') AS ymd,
         dayname(o_orderdate) AS dname
         FROM orders ORDER BY o_orderkey"""),

    // ---- sessionization (gap > 30 min) — stream-shaped batch op ----
    Query("q_sessionize", (s, d) => {
      val tsu = Core.usOf(col("ts"))
      val gap = tsu - lag(tsu, 1).over(byUser)
      val isNew = when(gap.isNull || gap > 30L * 60 * 1000000L, 1).otherwise(0)
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        sum(isNew).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("session_id"))
        .orderBy("user_id", "event_id")
    },
      s"""WITH g AS (SELECT event_id, user_id,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER ($evWin)
                     > 30*60*1000000 OR lag(ts) OVER ($evWin) IS NULL
                THEN 1 ELSE 0 END AS is_new, ts
           FROM events)
         SELECT event_id, user_id,
           CAST(sum(is_new) OVER ($evWin ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS session_id
         FROM g ORDER BY user_id, event_id"""),

    // ---- JSON extraction over the props column ----
    Query("q_json_props", (s, d) => {
      T(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("k").agg(count(lit(1)).as("n"), r(avg("value"), 4).as("mean_value"))
        .orderBy("k")
    },
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
         count(*) AS n, round(avg(value) + 1e-9,4) AS mean_value
         FROM events GROUP BY 1 ORDER BY 1"""))
}
