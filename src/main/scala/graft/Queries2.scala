package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine._
import graft.engine.Core.r
import graft.Query.T

/** Second tranche of reference-parity queries: axis=1 row-wise ops,
  * applymap / dict-map / chunk_apply, merge variants, pivot margins,
  * multi-spec groupby agg, rolling higher moments, ewm sum/std,
  * gated correlation, weighted (gaussian) windows.
  * Same conventions as [[Queries]]. */
object Queries2 {

  import Queries.Ev

  private val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
  private val evWin = "PARTITION BY user_id ORDER BY ts, event_id"

  /** Gaussian win_type weights shared by query and oracle (inlined as
    * literals so both engines use identical constants). */
  private val gaussW: Seq[Double] = WindowOps.gaussianWeights(5, 1.0)
  private val hammW: Seq[Double] = WindowOps.hammingWeights(5)
  private val blackW: Seq[Double] = WindowOps.blackmanWeights(5)
  private val bartW: Seq[Double] = WindowOps.bartlettWeights(5)
  private val hannW: Seq[Double] = WindowOps.hannWeights(5)
  private val kaisW: Seq[Double] = WindowOps.kaiserWeights(5, 4.0)
  private val expW: Seq[Double] = WindowOps.exponentialWeights(5, 2.0)
  private def lit17(d: Double): String =
    "%.17g".formatLocal(java.util.Locale.ROOT, d)

  /** Lag-composition SQL for a positional weighted mean over window `w`
    * — the oracle mirror of [[WindowOps.weightedMean]], weights inlined
    * as 17-digit literals so both engines use identical constants. */
  private def wMeanSql(wts: Seq[Double]): String = {
    val terms = wts.zipWithIndex.map { case (wt, i) =>
      val lagN = wts.size - 1 - i
      if (lagN == 0) s"${lit17(wt)}*value"
      else s"${lit17(wt)}*lag(value,$lagN) OVER w"
    }.mkString(" + ")
    s"(($terms) / ${lit17(wts.sum)})"
  }

  val queries: Seq[Query] = Seq(

    // ---- §2.2 axis=1 row-wise reductions over array() HOFs ----
    Query("q_rowwise", (s, d) => {
      val cols = array(col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
      val valid = filter(cols, x => x.isNotNull)
      T(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        r(aggregate(valid, lit(0.0), (acc, x) => acc + x), 2).as("row_sum"),
        r(aggregate(valid, lit(0.0), (acc, x) => acc + x) / size(valid), 4)
          .as("row_mean"),
        r(least(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")), 4).as("row_min"),
        r(greatest(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")), 4).as("row_max"))
        .orderBy("l_orderkey", "l_linenumber", "row_sum")
    },
      """SELECT l_orderkey, l_linenumber,
         round(l_quantity + l_extendedprice + l_discount + l_tax + 1e-9, 2) AS row_sum,
         round((l_quantity + l_extendedprice + l_discount + l_tax)/4 + 1e-9, 4) AS row_mean,
         round(least(l_quantity, l_extendedprice, l_discount, l_tax) + 1e-9, 4) AS row_min,
         round(greatest(l_quantity, l_extendedprice, l_discount, l_tax) + 1e-9, 4) AS row_max
         FROM lineitem ORDER BY l_orderkey, l_linenumber, row_sum"""),

    // ---- §2.2 axis=1 row-wise quantile/median/std — the reference's #1
    //      published benchmark shape (p_quantile(q=[.25,.5,.95], axis=1),
    //      README.md:23-40): one sorted valid-array per row, zero shuffle ----
    Query("q_rowwise2", (s, d) => {
      val cols = Seq(col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
      T(s, d, "lineitem")
        .withColumn("__arr", Reductions.rowSortedValid(cols))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          r(Reductions.rowQuantileSorted(col("__arr"), 0.25), 4).as("row_q25"),
          r(Reductions.rowQuantileSorted(col("__arr"), 0.5), 4).as("row_med"),
          r(Reductions.rowQuantileSorted(col("__arr"), 0.95), 4).as("row_q95"),
          r(Reductions.rowStd(col("__arr")), 6).as("row_std"))
        .orderBy("l_orderkey", "l_linenumber", "row_med", "row_std")
    }, {
      // mirrors rowQuantileSorted: pos=(n-1)q, linear interp between the
      // bracketing order statistics, high index clamped at n
      def rq(q: String): String = {
        val pos = s"(n-1)*$q"
        val lo = s"CAST(floor($pos) AS INT)"
        s"""(arr[$lo+1] + ($pos - floor($pos)) * (arr[least($lo+2, n)] - arr[$lo+1]))"""
      }
      s"""WITH b AS (SELECT l_orderkey, l_linenumber,
           list_sort(list_filter([l_quantity, l_extendedprice, l_discount, l_tax],
                                 x -> x IS NOT NULL)) AS arr
           FROM lineitem),
         c AS (SELECT l_orderkey, l_linenumber, arr, len(arr) AS n FROM b)
         SELECT l_orderkey, l_linenumber,
           round(${rq("0.25")} + 1e-9, 4) AS row_q25,
           round(${rq("0.5")} + 1e-9, 4) AS row_med,
           round(${rq("0.95")} + 1e-9, 4) AS row_q95,
           round(CASE WHEN n > 1 THEN
             sqrt(list_sum(list_transform(arr,
               x -> (x - list_sum(arr)/n)*(x - list_sum(arr)/n))) / (n-1))
             END + 1e-9, 6) AS row_std
         FROM c ORDER BY l_orderkey, l_linenumber, row_med, row_std"""
    }),

    // ---- §2.4 applymap: scalar fn over every cell ----
    Query("q_applymap", (s, d) => {
      val base = T(s, d, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      val out = Apply.applymap(base, Seq("l_quantity", "l_extendedprice"),
        c => r(c / 3.0, 2))
      out.orderBy("l_orderkey", "l_linenumber", "l_quantity")
    },
      """SELECT l_orderkey, l_linenumber,
         round(l_quantity/3.0 + 1e-9, 2) AS l_quantity,
         round(l_extendedprice/3.0 + 1e-9, 2) AS l_extendedprice
         FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity"""),

    // ---- §2.4 Series.map(dict): partial lookup table, missing -> null ----
    Query("q_map_dict", (s, d) => {
      val dict = Map("BUILDING" -> "BLD", "AUTOMOBILE" -> "AUT",
        "MACHINERY" -> "MCH")
      T(s, d, "customer").select(
        col("c_custkey"),
        col("c_mktsegment"),
        Apply.mapDict(col("c_mktsegment"), dict).as("seg_code"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_mktsegment,
         CASE c_mktsegment WHEN 'BUILDING' THEN 'BLD'
                           WHEN 'AUTOMOBILE' THEN 'AUT'
                           WHEN 'MACHINERY' THEN 'MCH' END AS seg_code
         FROM customer ORDER BY c_custkey"""),

    // ---- §2.4 chunk_apply(split_by_col): per-partition imperative UDF ----
    Query("q_chunk_apply", (s, d) => {
      import s.implicits._
      val ds = T(s, d, "events").select("event_id", "user_id", "value").as[Ev]
      val out = Apply.chunkApply(ds, Some(col("user_id"))) { it =>
        val m = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Double)]
        it.foreach { e =>
          val (n, sm) = m.getOrElse(e.user_id, (0L, 0.0))
          m(e.user_id) = (n + 1, sm + e.value)
        }
        m.iterator.map { case (u, (n, sm)) => (u, n, sm) }
      }
      out.toDF("user_id", "n", "vsum")
        .select(col("user_id"), col("n"), r(col("vsum"), 2).as("vsum"))
        .orderBy("user_id")
    },
      """SELECT user_id, count(*) AS n, round(sum(value) + 1e-9, 2) AS vsum
         FROM events GROUP BY 1 ORDER BY 1"""),

    // ---- §2.7 merge: full outer + indicator ----
    Query("q_merge_outer", (s, d) => {
      val c = T(s, d, "customer").filter(col("c_custkey") <= 200)
        .select(col("c_custkey").as("custkey"), col("c_name"))
      val o = T(s, d, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"), r(sum("o_totalprice"), 2).as("sum_total"))
        .filter(col("custkey").between(100, 300))
      GroupOps.merge(c, o, on = Seq("custkey"), how = "outer")
        .withColumn("_merge",
          when(col("c_name").isNull, "right_only")
            .when(col("n_orders").isNull, "left_only")
            .otherwise("both"))
        .orderBy("custkey")
    },
      """SELECT COALESCE(c.custkey, o.custkey) AS custkey, c.c_name,
                o.n_orders, o.sum_total,
         CASE WHEN c.c_name IS NULL THEN 'right_only'
              WHEN o.n_orders IS NULL THEN 'left_only'
              ELSE 'both' END AS _merge
         FROM (SELECT c_custkey AS custkey, c_name FROM customer
               WHERE c_custkey <= 200) c
         FULL JOIN (SELECT o_custkey AS custkey, count(*) AS n_orders,
                      round(sum(o_totalprice) + 1e-9, 2) AS sum_total
                    FROM orders GROUP BY 1
                    HAVING o_custkey BETWEEN 100 AND 300) o
           USING (custkey)
         ORDER BY custkey"""),

    // ---- §2.7 pivot_table(margins=True) ----
    Query("q_pivot_margins", (s, d) => {
      val li = T(s, d, "lineitem")
      val base = li.groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum("l_quantity"))
      val withRowMargin = base.select(
        col("l_returnflag"),
        r(col("F"), 2).as("F"), r(col("O"), 2).as("O"),
        r(col("F") + col("O"), 2).as("All"))
      val marginRow = li.agg(
        r(sum(when(col("l_linestatus") === "F", col("l_quantity"))), 2).as("F"),
        r(sum(when(col("l_linestatus") === "O", col("l_quantity"))), 2).as("O"),
        r(sum("l_quantity"), 2).as("All"))
        .select(lit("All").as("l_returnflag"), col("F"), col("O"), col("All"))
      withRowMargin.union(marginRow).orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
         round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F') + 1e-9, 2) AS "F",
         round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O') + 1e-9, 2) AS "O",
         round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F')
             + sum(l_quantity) FILTER (WHERE l_linestatus = 'O') + 1e-9, 2) AS "All"
         FROM lineitem GROUP BY 1
         UNION ALL
         SELECT 'All',
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F') + 1e-9, 2),
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O') + 1e-9, 2),
           round(sum(l_quantity) + 1e-9, 2)
         FROM lineitem
         ORDER BY l_returnflag"""),

    // ---- §2.8 groupby agg: list/dict spec with col_fn naming ----
    Query("q_agg_spec", (s, d) => {
      val out = GroupOps.agg(T(s, d, "lineitem"), Seq("l_returnflag"),
        Seq("l_quantity" -> Seq("sum", "mean", "std", "median"),
          "l_extendedprice" -> Seq("min", "max"),
          "l_discount" -> Seq("nunique")))
      out.select(col("l_returnflag"),
        r(col("l_quantity_sum"), 2).as("qty_sum"),
        r(col("l_quantity_mean"), 4).as("qty_mean"),
        r(col("l_quantity_std"), 6).as("qty_std"),
        r(col("l_quantity_median"), 4).as("qty_median"),
        r(col("l_extendedprice_min"), 2).as("price_min"),
        r(col("l_extendedprice_max"), 2).as("price_max"),
        col("l_discount_nunique").as("disc_nunique"))
    },
      """SELECT l_returnflag,
         round(sum(l_quantity) + 1e-9, 2) AS qty_sum,
         round(avg(l_quantity) + 1e-9, 4) AS qty_mean,
         round(stddev_samp(l_quantity) + 1e-9, 6) AS qty_std,
         round(quantile_cont(l_quantity, 0.5) + 1e-9, 4) AS qty_median,
         round(min(l_extendedprice) + 1e-9, 2) AS price_min,
         round(max(l_extendedprice) + 1e-9, 2) AS price_max,
         count(DISTINCT l_discount) AS disc_nunique
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    // ---- §2.9 rolling skew/kurt/sem (sample-adjusted higher moments) ----
    Query("q_rolling_moments", (s, d) => {
      val w = WindowOps.rollingSpec(byUser, 10)
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(WindowOps.rSkew(col("value"), w, 10), 6).as("roll_skew"),
        r(WindowOps.rKurt(col("value"), w, 10), 6).as("roll_kurt"),
        r(WindowOps.rSem(col("value"), w, 10), 6).as("roll_sem"))
        .orderBy("user_id", "event_id")
    },
      s"""SELECT event_id, user_id,
         round(CASE WHEN count(value) OVER w >= 10 THEN skewness(value) OVER w END + 1e-9, 6) AS roll_skew,
         round(CASE WHEN count(value) OVER w >= 10 THEN kurtosis(value) OVER w END + 1e-9, 6) AS roll_kurt,
         round(CASE WHEN count(value) OVER w >= 10 THEN
           stddev_samp(value) OVER w / sqrt(count(value) OVER w) END + 1e-9, 6) AS roll_sem
         FROM events WINDOW w AS ($evWin ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id"""),

    // ---- §2.9 ewm sum / std ----
    Query("q_ewm_sum_std", (s, d) => {
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(Ewm.sum(col("value"), byUser, 0.2), 4).as("ewm_sum"),
        r(Ewm.std(col("value"), byUser, 0.2), 4).as("ewm_std"))
        .orderBy("user_id", "event_id")
    },
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
         SELECT event_id, user_id,
           round(su * pow(0.8, rn) + 1e-9, 4) AS ewm_sum,
           round(sqrt(CASE WHEN rn >= 2 THEN
             (sxx/sw - (su/sw)*(su/sw)) * (swc*swc/(swc*swc - sw2c)) END) + 1e-9, 4) AS ewm_std
         FROM c ORDER BY user_id, event_id"""),

    // ---- §2.6 corr with min_periods gate (per-group) ----
    Query("q_corr_minp", (s, d) => {
      T(s, d, "events")
        .withColumn("tsu", Core.usOf(col("ts")).cast("double"))
        .groupBy("user_id")
        .agg(r(when(count(lit(1)) >= 60,
            Core.safeCorr(col("value"), col("tsu"))), 6)
          .as("corr_vt"), count(lit(1)).as("n"))
        .orderBy("user_id")
    },
      """SELECT user_id,
         round(CASE WHEN count(*) >= 60
               THEN corr(value, epoch_us(ts)) END + 1e-9, 6) AS corr_vt,
         count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1"""),

    // ---- GLOBAL cumsum via two-pass range-partitioned prefix sum —
    //      the scale path that avoids a single-partition window ----
    Query("q_cumsum_global", (s, d) => {
      val order = Seq(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      // project before the prefix-sum so the bucket shuffle carries only
      // the 5 needed columns, not all 16
      Cumulative.globalCumsumBucketed(
        T(s, d, "lineitem").select("l_orderkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount"),
        order, "l_orderkey", Seq(col("l_quantity") -> "cum_qty"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          r(col("cum_qty"), 2).as("cum_qty"))
        .orderBy(order: _*)
    },
      """SELECT l_orderkey, l_linenumber, l_quantity,
         round(sum(l_quantity) OVER (ORDER BY l_orderkey, l_linenumber,
           l_quantity, l_extendedprice, l_discount
           ROWS UNBOUNDED PRECEDING) + 1e-9, 2) AS cum_qty
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount"""),

    // ---- salted two-phase aggregation for skewed keys ----
    Query("q_salted_agg", (s, d) => {
      val out = GroupOps.saltedStats(T(s, d, "events"),
        Seq("event_type"), "value", salt = 16)
      out.select(col("event_type"),
        r(col("value_sum"), 2).as("vsum"),
        col("value_count").as("vcount"),
        r(col("value_mean"), 4).as("vmean"),
        r(col("value_min"), 4).as("vmin"),
        r(col("value_max"), 4).as("vmax"))
        .orderBy("event_type")
    },
      """SELECT event_type,
         round(sum(value) + 1e-9, 2) AS vsum,
         count(value) AS vcount,
         round(sum(value)/count(value) + 1e-9, 4) AS vmean,
         round(min(value) + 1e-9, 4) AS vmin,
         round(max(value) + 1e-9, 4) AS vmax
         FROM events GROUP BY 1 ORDER BY 1"""),

    // ---- §2.10 remaining str ops: strip, count, endswith ----
    Query("q_str_ops2", (s, d) => {
      T(s, d, "part").select(
        col("p_partkey"),
        StrDt.strStrip(concat(lit("  "), col("p_name"), lit(" "))).as("name_stripped"),
        StrDt.strCount(col("p_name"), " ").as("n_spaces"),
        StrDt.strEndsWith(col("p_type"), "STEEL").as("is_steel"),
        StrDt.strContains(col("p_name"), "^a.*e").as("a_to_e"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey,
         trim('  ' || p_name || ' ') AS name_stripped,
         len(string_split(p_name, ' ')) - 1 AS n_spaces,
         ends_with(p_type, 'STEEL') AS is_steel,
         regexp_matches(p_name, '^a.*e') AS a_to_e
         FROM part ORDER BY p_partkey"""),

    // ---- §2.10 remaining dt ops on a true timestamp: hour/minute,
    //      floor day, ceil hour, strftime with time tokens ----
    Query("q_dt_ops2", (s, d) => {
      val ts = col("ts")
      T(s, d, "events").select(
        col("event_id"),
        StrDt.dtHour(ts).as("h"),
        StrDt.dtMinute(ts).as("mi"),
        StrDt.dtFloor(ts, "day").as("day_start"),
        StrDt.dtCeil(ts, "hour").as("hour_ceil"),
        StrDt.dtStrftime(ts, "%Y-%m-%d %H:%M").as("ymdhm"))
        .orderBy("event_id")
    },
      """SELECT event_id,
         hour(ts) AS h, minute(ts) AS mi,
         date_trunc('day', ts) AS day_start,
         CASE WHEN date_trunc('hour', ts) = ts THEN ts
              ELSE date_trunc('hour', ts) + INTERVAL 1 HOUR END AS hour_ceil,
         strftime(ts, '%Y-%m-%d %H:%M') AS ymdhm
         FROM events ORDER BY event_id"""),

    // ---- §2.9 weighted window, win_type='gaussian' ----
    Query("q_weighted_gaussian", (s, d) => {
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(WindowOps.weightedMean(col("value"), byUser, gaussW), 4).as("gmean"))
        .orderBy("user_id", "event_id")
    }, {
      s"""SELECT event_id, user_id,
         round(${wMeanSql(gaussW)} + 1e-9, 4) AS gmean
         FROM events WINDOW w AS ($evWin) ORDER BY user_id, event_id"""
    }),

    // ---- §2.9 weighted window, remaining scipy win_type parity:
    //      blackman / bartlett / hann in one frame pass (all three
    //      share byUser, so WindowExec evaluates them together) ----
    Query("q_weighted_wintypes", (s, d) => {
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(WindowOps.weightedMean(col("value"), byUser, blackW), 4)
          .as("blackman_mean"),
        r(WindowOps.weightedMean(col("value"), byUser, bartW), 4)
          .as("bartlett_mean"),
        r(WindowOps.weightedMean(col("value"), byUser, hannW), 4)
          .as("hann_mean"),
        // r9 generators through the oracle-gated lag-composition row:
        // like blackman/bartlett/hann above, the weights are inlined
        // as identical literals on BOTH sides, so this row proves the
        // WINDOW ALGEBRA under these weights; the generator VALUES
        // themselves (Bessel-I0 kaiser, center-decay exponential) are
        // differentially spec-tested against scipy in WindowSpec
        r(WindowOps.weightedMean(col("value"), byUser, hammW), 4)
          .as("hamming_mean"),
        r(WindowOps.weightedMean(col("value"), byUser, kaisW), 4)
          .as("kaiser_mean"),
        r(WindowOps.weightedMean(col("value"), byUser, expW), 4)
          .as("exp_mean"))
        .orderBy("user_id", "event_id")
    },
      s"""SELECT event_id, user_id,
         round(${wMeanSql(blackW)} + 1e-9, 4) AS blackman_mean,
         round(${wMeanSql(bartW)} + 1e-9, 4) AS bartlett_mean,
         round(${wMeanSql(hannW)} + 1e-9, 4) AS hann_mean,
         round(${wMeanSql(hammW)} + 1e-9, 4) AS hamming_mean,
         round(${wMeanSql(kaisW)} + 1e-9, 4) AS kaiser_mean,
         round(${wMeanSql(expW)} + 1e-9, 4) AS exp_mean
         FROM events WINDOW w AS ($evWin) ORDER BY user_id, event_id"""),

    // ---- §2.8 groupby transform with an ARBITRARY UDF (join-back
    //      path): per-user demeaning; exercises the flatMapGroups +
    //      row-id join shape ----
    Query("q_groupby_transform_udf", (s, d) => {
      GroupOps.transformApply(T(s, d, "events"),
        keys = Seq("user_id"), ordCol = "event_id",
        valueCol = "value", out = "demean") { xs =>
        val m = xs.sum / xs.size
        xs.map(_ - m)
      }
        .select(col("event_id"), col("user_id"), r(col("demean"), 4).as("demean"))
        .orderBy("user_id", "event_id")
    },
      """SELECT event_id, user_id,
         round(value - avg(value) OVER (PARTITION BY user_id) + 1e-9, 4) AS demean
         FROM events ORDER BY user_id, event_id"""),

    // ---- §2.9 ewm ignore_na=True through mean/sum/std (null clock does
    //      not advance the decay; nulls synthesized from event_type) ----
    Query("q_ewm_ignorena", (s, d) => {
      val v = when(col("event_type") === "click", col("value"))
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(Ewm.mean(v, byUser, 0.2, ignoreNa = true), 4).as("im_mean"),
        r(Ewm.sum(v, byUser, 0.2, ignoreNa = true), 4).as("im_sum"),
        // scale 2: closed-form pow-sum oracle carries ~1e-8 relative
        // error (same reason as q_ewm's ewm_var)
        r(Ewm.std(v, byUser, 0.2, ignoreNa = true), 2).as("im_std"))
        .orderBy("user_id", "event_id")
    },
      // ignore_na=True: weights are (1-a)^(distance among VALID obs); the
      // valid-observation index cv makes the same closed-form geometric
      // sums as q_ewm work (valid positions are consecutive integers)
      """WITH e AS (SELECT event_id, user_id, ts,
           CASE WHEN event_type = 'click' THEN value END AS v FROM events),
         o AS (SELECT event_id, user_id, ts, v,
           count(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS cv
           FROM e),
         c AS (SELECT event_id, user_id, cv,
           sum(CASE WHEN v IS NOT NULL THEN v * pow(0.8, -cv) END) OVER w AS su,
           sum(CASE WHEN v IS NOT NULL THEN pow(0.8, -cv) END) OVER w AS sw,
           sum(CASE WHEN v IS NOT NULL THEN v * v * pow(0.8, -cv) END) OVER w AS sxx,
           (1 - pow(0.8, cv)) / 0.2 AS swc,
           (1 - pow(0.64, cv)) / 0.36 AS sw2c
           FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING))
         SELECT event_id, user_id,
           round(su/sw + 1e-9, 4) AS im_mean,
           round(su * pow(0.8, cv) + 1e-9, 4) AS im_sum,
           round(sqrt(CASE WHEN cv >= 2 THEN
             (sxx/sw - (su/sw)*(su/sw)) * (swc*swc/(swc*swc - sw2c)) END) + 1e-9, 2)
             AS im_std
         FROM c ORDER BY user_id, event_id"""),

    // ---- §2.9 rolling agg-spec: one WindowSpec, several ops per column
    //      in a single WindowExec pass (incl. the round-4 quantile/rank
    //      dispatch entries) ----
    Query("q_roll_spec", (s, d) => {
      val w = WindowOps.rollingSpec(byUser, 10)
      val base = T(s, d, "events").select(
        Seq(col("event_id"), col("user_id")) ++ WindowOps.rAggSpec(
          Seq((col("value"), "v", Seq("mean", "std", "quantile", "rank"))),
          w, mp = 10): _*)
      base.select(col("event_id"), col("user_id"),
        r(col("v_mean"), 4).as("v_mean"), r(col("v_std"), 4).as("v_std"),
        r(col("v_quantile"), 4).as("v_quantile"),
        r(col("v_rank"), 1).as("v_rank"))
        .orderBy("user_id", "event_id")
    },
      s"""SELECT event_id, user_id,
         round(CASE WHEN count(value) OVER w >= 10 THEN avg(value) OVER w END + 1e-9, 4) AS v_mean,
         round(CASE WHEN count(value) OVER w >= 10 THEN stddev_samp(value) OVER w END + 1e-9, 4) AS v_std,
         round(CASE WHEN count(value) OVER w >= 10 THEN quantile_cont(value, 0.5) OVER w END + 1e-9, 4) AS v_quantile,
         round(CASE WHEN count(value) OVER w >= 10 THEN
           len(list_filter(list(value) OVER w, y -> y < value)) +
           (len(list_filter(list(value) OVER w, y -> y = value)) + 1)/2.0 END + 1e-9, 1) AS v_rank
         FROM events WINDOW w AS ($evWin ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id"""),

    // ---- §2.5 describe(percentiles=[.1,.5,.9]) — parameterized
    //      percentile rows, exact sort-based quantiles ----
    Query("q_describe_pct", (s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice")
      Reductions.describe(T(s, d, "lineitem"), cols, Seq(0.1, 0.5, 0.9))
        .select(col("stat") +: cols.map(c => r(col(c), 4).as(c)): _*)
        .orderBy("stat")
    }, {
      val cols = Seq("l_quantity", "l_extendedprice")
      val rows = Seq(
        "count" -> ((c: String) => s"count($c)::DOUBLE"),
        "mean" -> ((c: String) => s"avg($c)"),
        "std" -> ((c: String) => s"stddev_samp($c)"),
        "min" -> ((c: String) => s"min($c)::DOUBLE"),
        "10%" -> ((c: String) => s"quantile_cont($c,0.1)"),
        "50%" -> ((c: String) => s"quantile_cont($c,0.5)"),
        "90%" -> ((c: String) => s"quantile_cont($c,0.9)"),
        "max" -> ((c: String) => s"max($c)::DOUBLE"))
      rows.map { case (stat, f) =>
        s"SELECT '$stat' AS stat, " +
          cols.map(c => s"round(${f(c)} + 1e-9,4) AS $c").mkString(", ") +
          " FROM lineitem"
      }.mkString("", " UNION ALL ", " ORDER BY stat")
    }),

    // ---- §2.5 describe(include='object') — count/unique/top/freq on
    //      string columns (top = smallest most-frequent, deterministic) ----
    Query("q_describe_obj", (s, d) => {
      Reductions.describeObject(T(s, d, "customer"),
        Seq("c_mktsegment", "c_name"))
        .orderBy("stat")
    }, {
      def top(c: String) =
        s"""(SELECT $c FROM customer WHERE $c IS NOT NULL
            GROUP BY 1 ORDER BY count(*) DESC, $c LIMIT 1)"""
      def freq(c: String) =
        s"""(SELECT count(*)::VARCHAR FROM customer WHERE $c IS NOT NULL
            GROUP BY $c ORDER BY count(*) DESC, $c LIMIT 1)"""
      s"""SELECT 'count' AS stat, count(c_mktsegment)::VARCHAR AS c_mktsegment,
            count(c_name)::VARCHAR AS c_name FROM customer
         UNION ALL SELECT 'unique', count(DISTINCT c_mktsegment)::VARCHAR,
            count(DISTINCT c_name)::VARCHAR FROM customer
         UNION ALL SELECT 'top', ${top("c_mktsegment")}, ${top("c_name")}
         UNION ALL SELECT 'freq', ${freq("c_mktsegment")}, ${freq("c_name")}
         ORDER BY stat"""
    }),

    // ---- §2.9 weighted window std/var (WIN_OPS parity: mean/sum/std/var;
    //      win_type='hamming') ----
    Query("q_weighted_std", (s, d) => {
      T(s, d, "events").select(
        col("event_id"), col("user_id"),
        r(WindowOps.weightedVar(col("value"), byUser, hammW), 4).as("wvar"),
        r(WindowOps.weightedStd(col("value"), byUser, hammW), 4).as("wstd"))
        .orderBy("user_id", "event_id")
    }, {
      // same expanded pandas roll_weighted_var formula as
      // WindowOps.weightedVar, clamped at 0 on both engines
      def lagT(i: Int): String = {
        val lagN = hammW.size - 1 - i
        if (lagN == 0) "value" else s"lag(value,$lagN) OVER w"
      }
      val s1 = hammW.zipWithIndex.map { case (wt, i) =>
        s"${lit17(wt)}*${lagT(i)}"
      }.mkString(" + ")
      val s2 = hammW.zipWithIndex.map { case (wt, i) =>
        s"${lit17(wt)}*${lagT(i)}*${lagT(i)}"
      }.mkString(" + ")
      val n = hammW.size
      // DuckDB's greatest also ignores NULLs -> same explicit guard
      val varExpr = s"CASE WHEN ($s1) IS NOT NULL THEN " +
        s"greatest((($s2) - ($s1)*($s1)/${lit17(hammW.sum)}) " +
        s"* $n / ${lit17((n - 1) * hammW.sum)}, 0) END"
      s"""SELECT event_id, user_id,
         round($varExpr + 1e-9, 4) AS wvar,
         round(sqrt($varExpr) + 1e-9, 4) AS wstd
         FROM events WINDOW w AS ($evWin) ORDER BY user_id, event_id"""
    }))
}
