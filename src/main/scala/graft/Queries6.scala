package graft

import org.apache.spark.sql.functions._
import graft.engine._
import graft.engine.Core.r
import graft.Query.T

/** Sixth tranche (round 6, second batch): the pandas-core reshaping /
  * binning / positional family ([[graft.engine.Reshape]]) — melt,
  * crosstab, cut/qcut, drop_duplicates(keep=), groupby positional ops.
  * Same conventions as [[Queries]]. */
object Queries6 {

  val queries: Seq[Query] = Seq(

    // ---- melt: wide -> long, a stack Generate over the scan (zero
    //      shuffle; the plan never materializes the wide frame) ----
    Query("q_melt", (s, d) => {
      Reshape.melt(T(s, d, "part"), Seq("p_partkey"),
          Seq("p_size", "p_retailprice"))
        .select(col("p_partkey"), col("variable"),
          r(col("value"), 6).as("value"))
        .orderBy("p_partkey", "variable")
    },
      """SELECT * FROM (
           SELECT p_partkey, 'p_size' AS variable,
             round(CAST(p_size AS DOUBLE) + 1e-9, 6) AS value FROM part
           UNION ALL
           SELECT p_partkey, 'p_retailprice',
             round(p_retailprice + 1e-9, 6) FROM part)
         ORDER BY p_partkey, variable"""),

    // ---- crosstab: bounded distinct collect discovers the column
    //      set (pandas does the same), then ONE hash aggregate ----
    Query("q_crosstab", (s, d) => {
      Reshape.crosstab(T(s, d, "lineitem"), "l_returnflag", "l_linestatus")
        .orderBy("l_returnflag")
    },
      // count FILTER, not sum(CASE): DuckDB's sum yields HUGEINT,
      // which pandas reads as float64 and the dtype check rejects
      """SELECT l_returnflag,
         count(*) FILTER (WHERE l_linestatus = 'F') AS F,
         count(*) FILTER (WHERE l_linestatus = 'O') AS O
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),

    // ---- cut (static edges, pure codegen when-chain) + qcut (ONE
    //      exact-quantile probe, then the same chain) ----
    Query("q_cut_qcut", (s, d) => {
      val li = T(s, d, "lineitem")
      Reshape.qcut(li, "l_extendedprice", 4, out = "qc")
        .select(col("l_orderkey"), col("l_linenumber"),
          Reshape.cut(col("l_quantity"), Seq(0.0, 10.0, 25.0, 50.0)).as("c"),
          col("qc"))
        .orderBy("l_orderkey", "l_linenumber", "c", "qc")
    },
      // qcut edges: exact quantiles rounded to 6 decimals (both
      // engines' interpolation can differ by an ulp); (lo, hi]
      // buckets, lowest edge included — mirrors Reshape.cut/qcut
      """WITH e AS (SELECT
           round(quantile_cont(l_extendedprice, 0.25), 6) AS e1,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS e2,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS e3,
           round(min(l_extendedprice), 6) AS e0,
           round(max(l_extendedprice), 6) AS e4
           FROM lineitem)
         SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity > 0 AND l_quantity <= 10 THEN 0
                WHEN l_quantity > 10 AND l_quantity <= 25 THEN 1
                WHEN l_quantity > 25 AND l_quantity <= 50 THEN 2 END AS c,
           CASE WHEN l_extendedprice >= e0 AND l_extendedprice <= e1 THEN 0
                WHEN l_extendedprice > e1 AND l_extendedprice <= e2 THEN 1
                WHEN l_extendedprice > e2 AND l_extendedprice <= e3 THEN 2
                WHEN l_extendedprice > e3 AND l_extendedprice <= e4 THEN 3
           END AS qc
         FROM lineitem, e
         ORDER BY l_orderkey, l_linenumber, c, qc"""),

    // ---- drop_duplicates(subset, keep='first') under an explicit
    //      deterministic order — one window shuffle on the subset ----
    Query("q_drop_dup", (s, d) => {
      val ev = T(s, d, "events")
        .select("event_id", "user_id", "event_type", "value")
      Reshape.dropDuplicates(ev, Seq("user_id", "event_type"), "event_id")
        .select(col("event_id"), col("user_id"), col("event_type"),
          r(col("value"), 6).as("value"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id, event_type,
         round(value + 1e-9, 6) AS value
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY event_id"""),

    // ---- groupby positional: head(3) per group (WindowGroupLimit
    //      bounds state) + cumcount ----
    Query("q_groupby_pos", (s, d) => {
      val ev = T(s, d, "events").select("event_id", "user_id", "value")
      Reshape.headPerGroup(ev, Seq("user_id"), "event_id", 3)
        .withColumn("cc", Reshape.cumcount(Seq("user_id"), "event_id"))
        .select(col("event_id"), col("user_id"),
          r(col("value"), 6).as("value"), col("cc"))
        .orderBy("user_id", "event_id")
    },
      """SELECT event_id, user_id, round(value + 1e-9, 6) AS value,
         rn - 1 AS cc
         FROM (SELECT event_id, user_id, value, row_number() OVER
                 (PARTITION BY user_id ORDER BY event_id) AS rn
               FROM events)
         WHERE rn <= 3 ORDER BY user_id, event_id"""))
}
