package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine._
import graft.engine.Core.r
import graft.Query.T

/** Seventh tranche (round 6, third batch): the frame-alignment /
  * selection family ([[graft.engine.Frame]]) — shift/diff, nlargest /
  * nsmallest, corrwith, groupby.filter, combine_first, outer concat,
  * Series.explode, get_dummies, row-wise rank / idx-extrema. Same
  * conventions as [[Queries]]. */
object Queries7 {

  val queries: Seq[Query] = Seq(

    // ---- nlargest/nsmallest: TakeOrderedAndProject (per-task top-n +
    //      driver merge — never a global sort) ----
    Query("q_nlargest", (s, d) => {
      val o = T(s, d, "orders").select("o_orderkey", "o_totalprice")
      val top = Frame.nlargest(o, 15, "o_totalprice", "o_orderkey")
        .withColumn("tag", lit("top"))
      val bot = Frame.nsmallest(o, 15, "o_totalprice", "o_orderkey")
        .withColumn("tag", lit("bottom"))
      top.unionAll(bot)
        .select(col("tag"), col("o_orderkey"),
          r(col("o_totalprice"), 6).as("o_totalprice"))
        .orderBy("tag", "o_orderkey")
    },
      """SELECT tag, o_orderkey, round(o_totalprice + 1e-9, 6) AS o_totalprice
         FROM (
           SELECT 'top' AS tag, o_orderkey, o_totalprice FROM
             (SELECT o_orderkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 15)
           UNION ALL
           SELECT 'bottom', o_orderkey, o_totalprice FROM
             (SELECT o_orderkey, o_totalprice FROM orders
              ORDER BY o_totalprice ASC, o_orderkey LIMIT 15))
         ORDER BY tag, o_orderkey"""),

    // ---- shift (lag + lead) and diff under an explicit per-group
    //      order — one window shuffle ----
    Query("q_shift_diff", (s, d) => {
      val ev = T(s, d, "events").select("event_id", "user_id", "value")
      val w = Window.partitionBy("user_id").orderBy("event_id")
      ev.select(col("event_id"), col("user_id"),
          r(Frame.shift(col("value"), 1, w), 6).as("prev"),
          r(Frame.shift(col("value"), -2, w), 6).as("fwd2"),
          r(Frame.diff(col("value"), 1, w), 6).as("d1"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id,
         round(lag(value) OVER w + 1e-9, 6) AS prev,
         round(lead(value, 2) OVER w + 1e-9, 6) AS fwd2,
         round(value - lag(value) OVER w + 1e-9, 6) AS d1
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
         ORDER BY event_id"""),

    // ---- corrwith: ONE equi-join + ONE aggregate for all column
    //      pairs, rows (colname, corr) like the pandas Series ----
    Query("q_corrwith", (s, d) => {
      val la = T(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          avg(col("l_discount")).as("avg_disc"))
      val o = T(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      Frame.corrwith(la, o, Seq("l_orderkey"),
          Seq("sum_qty" -> "o_totalprice", "avg_disc" -> "o_totalprice"))
        .select(col("colname"), r(col("corr"), 6).as("corr"))
        .orderBy("colname")
    },
      """WITH la AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty,
                       avg(l_discount) AS avg_disc
                     FROM lineitem GROUP BY 1),
         j AS (SELECT la.*, o.o_totalprice
               FROM la JOIN orders o ON la.l_orderkey = o.o_orderkey)
         SELECT * FROM (
           SELECT 'sum_qty' AS colname,
             round(corr(sum_qty, o_totalprice) + 1e-9, 6) AS corr FROM j
           UNION ALL
           SELECT 'avg_disc',
             round(corr(avg_disc, o_totalprice) + 1e-9, 6) FROM j)
         ORDER BY colname"""),

    // ---- groupby.filter: |groups|-row aggregate, AQE-broadcast LEFT
    //      SEMI join back — the frame itself is never shuffled ----
    Query("q_groupby_filter", (s, d) => {
      val ev = T(s, d, "events").select("event_id", "user_id", "value")
      Frame.groupFilter(ev, Seq("user_id"), avg(col("value")), _ > 50.0)
        .select(col("event_id"), col("user_id"), r(col("value"), 6).as("value"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id, round(value + 1e-9, 6) AS value
         FROM events
         WHERE user_id IN (SELECT user_id FROM events
                           GROUP BY 1 HAVING avg(value) > 50.0)
         ORDER BY event_id"""),

    // ---- combine_first: left's nulls filled from right on one
    //      full-outer join; right-only rows appended, one-sided
    //      columns pass through ----
    Query("q_combine_first", (s, d) => {
      val c = T(s, d, "customer")
      val left = c.filter(col("c_custkey") % 5 =!= 0)
        .select(col("c_custkey"), col("c_name"),
          when(col("c_custkey") % 3 === 0, lit(null))
            .otherwise(col("c_acctbal")).as("c_acctbal"))
      val right = c.select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment"))
      Frame.combineFirst(left, right, Seq("c_custkey"))
        .select(col("c_custkey"), r(col("c_acctbal"), 6).as("c_acctbal"),
          col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },
      // right (full customer) is a key superset of left, so coalesced
      // keys come from the right side; left-only rows cannot occur here
      """WITH l AS (SELECT c_custkey, c_name,
                      CASE WHEN c_custkey % 3 = 0 THEN NULL
                           ELSE c_acctbal END AS c_acctbal
                    FROM customer WHERE c_custkey % 5 <> 0),
         rt AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer)
         SELECT coalesce(l.c_custkey, rt.c_custkey) AS c_custkey,
           round(coalesce(l.c_acctbal, rt.c_acctbal) + 1e-9, 6) AS c_acctbal,
           l.c_name, rt.c_mktsegment
         FROM l FULL JOIN rt ON l.c_custkey = rt.c_custkey
         ORDER BY c_custkey"""),

    // ---- concat(axis=0, join='outer'): unionByName with null-filled
    //      missing columns, zero shuffle ----
    Query("q_concat", (s, d) => {
      val c = T(s, d, "customer")
      val a = c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name"),
          r(col("c_acctbal"), 6).as("c_acctbal"))
      val b = c.filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_mktsegment"))
      Frame.concatOuter(Seq(a, b)).orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name, round(c_acctbal + 1e-9, 6) AS c_acctbal,
           NULL AS c_mktsegment
         FROM customer WHERE c_custkey % 2 = 0
         UNION ALL
         SELECT c_custkey, NULL, NULL, c_mktsegment
         FROM customer WHERE c_custkey % 2 = 1
         ORDER BY c_custkey"""),

    // ---- Series.explode: Generate over the scan, zero shuffle ----
    Query("q_explode", (s, d) => {
      val p = T(s, d, "part")
        .select(col("p_partkey"), split(col("p_type"), " ").as("w"))
      Frame.explodeCol(p, "w", "word").orderBy("p_partkey", "word")
    },
      """SELECT p_partkey, unnest(string_split(p_type, ' ')) AS word
         FROM part ORDER BY p_partkey, word"""),

    // ---- get_dummies: bounded distinct collect discovers the
    //      category columns (as pandas does), then pure codegen ----
    Query("q_get_dummies", (s, d) => {
      val o = T(s, d, "orders").select("o_orderkey", "o_orderstatus")
      Frame.getDummies(o, "o_orderstatus", "os").orderBy("o_orderkey")
    },
      // category set {F, O, P} is stable across every SF (verified at
      // sf0.001) — mirrors the engine's sorted distinct discovery
      """SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS os_F,
         CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS os_O,
         CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS os_P
         FROM orders ORDER BY o_orderkey"""),

    // ---- rank(axis=1, method='average') + idxmin(axis=1): row-local
    //      array HOFs, pure codegen, zero shuffle ----
    Query("q_rowwise_rank", (s, d) => {
      val cols = Seq("l_quantity", "l_discount", "l_tax")
      T(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          r(Frame.rowRank(cols, "l_quantity"), 6).as("rk_qty"),
          r(Frame.rowRank(cols, "l_discount"), 6).as("rk_disc"),
          r(Frame.rowRank(cols, "l_tax"), 6).as("rk_tax"),
          Frame.idxminRow(cols).as("idx_min"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      // average rank of x among {a,b,c} = #smaller + (#equal+1)/2,
      // where #equal counts x itself: (2 + #other_equal) / 2
      """SELECT l_orderkey, l_linenumber,
         round((l_discount < l_quantity)::INT + (l_tax < l_quantity)::INT
           + (2 + (l_discount = l_quantity)::INT
                + (l_tax = l_quantity)::INT) / 2.0 + 1e-9, 6) AS rk_qty,
         round((l_quantity < l_discount)::INT + (l_tax < l_discount)::INT
           + (2 + (l_quantity = l_discount)::INT
                + (l_tax = l_discount)::INT) / 2.0 + 1e-9, 6) AS rk_disc,
         round((l_quantity < l_tax)::INT + (l_discount < l_tax)::INT
           + (2 + (l_quantity = l_tax)::INT
                + (l_discount = l_tax)::INT) / 2.0 + 1e-9, 6) AS rk_tax,
         CASE WHEN l_quantity <= l_discount AND l_quantity <= l_tax
                THEN 'l_quantity'
              WHEN l_discount <= l_tax THEN 'l_discount'
              ELSE 'l_tax' END AS idx_min
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""))
}
