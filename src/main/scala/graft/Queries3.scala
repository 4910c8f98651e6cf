package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine._
import graft.engine.Core.r
import graft.pipeline.Similarity
import graft.Query.T

/** Third tranche: temporal joins (as-of in all three directions, bucketed
  * range join), rank method variants, extended str/dt accessor surface,
  * rollup grouping sets, per-group top-k, and IVF ANN.
  * Same conventions as [[Queries]]. */
object Queries3 {

  private def nonPurchases(s: SparkSession, d: String): DataFrame =
    T(s, d, "events").filter(col("event_type") =!= "purchase")
      .select("event_id", "user_id", "ts")

  private def purchases(s: SparkSession, d: String): DataFrame =
    T(s, d, "events").filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))

  private val LeftCte =
    """l AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'purchase'),
       p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')"""

  val queries: Seq[Query] = Seq(

    // ---- as-of join, backward (pandas merge_asof default) ----
    Query("q_asof_join", (s, d) => {
      Joins.asof(nonPurchases(s, d), purchases(s, d).withColumnRenamed("value", "last_purchase"),
        on = "ts", by = Seq("user_id"))
        .select("event_id", "user_id", "last_purchase")
        .orderBy("event_id")
    },
      s"""WITH $LeftCte
         SELECT l.event_id, l.user_id, r.value AS last_purchase
         FROM l ASOF LEFT JOIN p r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id"""),

    // ---- as-of join, forward + tolerance ----
    Query("q_asof_fwd_tol", (s, d) => {
      Joins.asof(nonPurchases(s, d), purchases(s, d).withColumnRenamed("value", "next_purchase"),
        on = "ts", by = Seq("user_id"), direction = Joins.Forward,
        toleranceUs = Some(3600L * 1000000L))
        .select("event_id", "user_id", "next_purchase")
        .orderBy("event_id")
    },
      s"""WITH $LeftCte
         SELECT l.event_id, l.user_id,
           CASE WHEN epoch_us(r.ts) - epoch_us(l.ts) <= 3600000000
                THEN r.value END AS next_purchase
         FROM l ASOF LEFT JOIN p r
           ON l.user_id = r.user_id AND l.ts <= r.ts
         ORDER BY l.event_id"""),

    // ---- as-of join, nearest (ties -> backward) ----
    Query("q_asof_nearest", (s, d) => {
      Joins.asof(nonPurchases(s, d), purchases(s, d).withColumnRenamed("value", "near_purchase"),
        on = "ts", by = Seq("user_id"), direction = Joins.Nearest)
        .select("event_id", "user_id", "near_purchase")
        .orderBy("event_id")
    },
      s"""WITH $LeftCte,
         b AS (SELECT l.event_id, r.ts AS bts, r.value AS bval
               FROM l ASOF LEFT JOIN p r
                 ON l.user_id = r.user_id AND l.ts >= r.ts),
         f AS (SELECT l.event_id, r.ts AS fts, r.value AS fval
               FROM l ASOF LEFT JOIN p r
                 ON l.user_id = r.user_id AND l.ts <= r.ts)
         SELECT l.event_id, l.user_id,
           CASE WHEN fts IS NULL OR (bts IS NOT NULL AND
                  epoch_us(l.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(l.ts))
                THEN bval ELSE fval END AS near_purchase
         FROM l JOIN b USING (event_id) JOIN f USING (event_id)
         ORDER BY l.event_id"""),

    // ---- bucketed point-in-interval range join ----
    Query("q_range_join", (s, d) => {
      val ev = T(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
      Joins.rangeJoin(p, col("p_ts"), col("p_ts") + expr("INTERVAL 30 MINUTES"),
        c, col("c_ts"), by = Seq("user_id"), bucketUs = 30L * 60 * 1000000L)
        .select("purchase_id", "click_id", "user_id")
        .orderBy("purchase_id", "click_id")
    },
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 30 MINUTE
         ORDER BY purchase_id, click_id"""),

    // ---- §2.5 rank method variants: min / dense / first / max / pct —
    //      all read from the Rank kernel's by-value table of
    //      l_quantity (Rank.valueTable: the probe's histogram, broadcast
    //      back) and the probe's non-null count. method='first' adds the
    //      within-tie ordinal via Reductions.withinTieOrdinal: the
    //      tiebreak column is bucketed by value-deterministic quantile
    //      cuts, so NO window is partitioned by the value alone —
    //      l_quantity has ~50 distinct values and a by-value window would
    //      put a whole ~N/50-row tie group on one task at 100 TB. The
    //      largest partition anywhere is ~tieGroup/buckets.
    //      Null values left-join to null stats -> null ranks
    //      (pandas na_option='keep', intentional), unlike a nulls-last
    //      window which would assign them trailing ranks. ----
    Query("q_rank_methods", (s, d) => {
      val q = col("l_quantity")
      val li = T(s, d, "lineitem")
      val p = Rank.probe(li, Nil, Seq("l_quantity"))
      val tot = p.groups.get.head.n(0).toDouble
      val tiebreak = Seq(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"))
      Reductions.withinTieOrdinal(li, "l_quantity", tiebreak, "__tie_ord")
        .join(Rank.valueTable(p, 0), q === col("__gv"), "left")
        .select(
          col("l_orderkey"), col("l_linenumber"), q,
          (col("__gb") + 1).cast("long").as("rk_min"),
          col("__gd").cast("long").as("rk_dense"),
          (col("__gb") + col("__tie_ord")).cast("long").as("rk_first"),
          (col("__gb") + col("__gc")).cast("long").as("rk_max"),
          r((col("__gb") + 1) / tot, 6).as("rk_min_pct"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), q,
          col("l_extendedprice"), col("rk_first"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity,
         rank() OVER (ORDER BY l_quantity) AS rk_min,
         dense_rank() OVER (ORDER BY l_quantity) AS rk_dense,
         row_number() OVER (ORDER BY l_quantity, l_orderkey, l_linenumber,
           l_extendedprice, l_discount) AS rk_first,
         rank() OVER (ORDER BY l_quantity)
           + count(*) OVER (PARTITION BY l_quantity) - 1 AS rk_max,
         round(rank() OVER (ORDER BY l_quantity) * 1.0
           / count(*) OVER () + 1e-9, 6) AS rk_min_pct
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, rk_first"""),

    // ---- §2.10 str accessor, tranche 3 ----
    Query("q_str_ops3", (s, d) => {
      T(s, d, "part").select(
        col("p_partkey"),
        StrDt.strRepeat(col("p_brand"), 2).as("brand2"),
        StrDt.strFind(col("p_type"), "STEEL").as("steel_at"),
        StrDt.strCenter(col("p_brand"), 12, "*").as("brand_c"),
        StrDt.strGet(col("p_name"), 3).as("ch3"),
        StrDt.strRemovePrefix(col("p_type"), "ECONOMY ").as("type_np"),
        StrDt.strRemoveSuffix(col("p_type"), " STEEL").as("type_ns"),
        StrDt.strPad(col("p_brand"), 12, "right", ".").as("brand_r"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey,
         repeat(p_brand, 2) AS brand2,
         strpos(p_type, 'STEEL') - 1 AS steel_at,
         CASE WHEN length(p_brand) >= 12 THEN p_brand
              ELSE rpad(lpad(p_brand,
                     CAST(floor((12 + length(p_brand)) / 2) AS INT), '*'),
                   12, '*') END AS brand_c,
         CASE WHEN length(p_name) > 3 THEN substring(p_name, 4, 1) END AS ch3,
         CASE WHEN starts_with(p_type, 'ECONOMY ')
              THEN substring(p_type, length('ECONOMY ') + 1)
              ELSE p_type END AS type_np,
         CASE WHEN p_type LIKE '% STEEL'
              THEN substring(p_type, 1, length(p_type) - 6)
              ELSE p_type END AS type_ns,
         rpad(p_brand, 12, '.') AS brand_r
         FROM part ORDER BY p_partkey"""),

    // ---- §2.10 dt accessor, tranche 3 ----
    Query("q_dt_ops3", (s, d) => {
      val ts = col("o_orderdate")
      T(s, d, "orders").select(
        col("o_orderkey"),
        StrDt.dtDayOfYear(ts).as("doy"),
        StrDt.dtWeek(ts).as("wk"),
        StrDt.dtDaysInMonth(ts).as("dim"),
        StrDt.dtIsMonthStart(ts).as("is_ms"),
        StrDt.dtIsMonthEnd(ts).as("is_me"),
        StrDt.dtIsQuarterStart(ts).as("is_qs"),
        StrDt.dtDate(ts).as("dt"),
        StrDt.dtNormalize(ts).as("norm"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
         dayofyear(o_orderdate) AS doy,
         weekofyear(o_orderdate) AS wk,
         day(last_day(o_orderdate)) AS dim,
         day(o_orderdate) = 1 AS is_ms,
         o_orderdate::DATE = last_day(o_orderdate) AS is_me,
         day(o_orderdate) = 1 AND (month(o_orderdate) - 1) % 3 = 0 AS is_qs,
         o_orderdate::DATE AS dt,
         date_trunc('day', o_orderdate) AS norm
         FROM orders ORDER BY o_orderkey"""),

    // ---- rollup grouping sets (beyond-reference: subtotal frames) ----
    Query("q_rollup", (s, d) => {
      T(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(r(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g1"),
          grouping(col("l_linestatus")).cast("int").as("g2"))
        .orderBy(col("g1"), col("g2"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity) + 1e-9, 2) AS sum_qty,
         count(*) AS n,
         CAST(grouping(l_returnflag) AS INT) AS g1,
         CAST(grouping(l_linestatus) AS INT) AS g2
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY g1, g2, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    // ---- per-group top-k (WindowGroupLimit pushdown) ----
    Query("q_topk_group", (s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, d, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_orderpriority", "rn")
    },
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders
         QUALIFY rn <= 3
         ORDER BY o_orderpriority, rn"""),

    // ---- IVF ANN (scale path). Deterministic centroid table (the 16
    //      lowest vec_ids) makes cell assignment + probes fully
    //      SQL-reproducible -> full rows/schema/hash check ----
    Query("q_ann_ivf", (s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.ivfTopKWith(emb.filter(col("vec_id") < 10), emb,
        centroids = emb.filter(col("vec_id") < 16), k = 5, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), r(col("cos"), 6).as("cos"),
          col("rank"))
        .orderBy("query_id", "rank")
    },
      s"""WITH $IvfCte
         SELECT qid AS query_id, nid AS neighbor_id,
           round(cos + 1e-9, 6) AS cos, rank
         FROM ivfranked WHERE rank <= 5 ORDER BY query_id, rank"""),

    // ---- §2.2/§2.12 whole-frame agg spec (reference
    //      parallelize_aggregate): stat x col frame, one agg pass ----
    Query("q_agg_frame", (s, d) => {
      val cols = Seq("l_quantity", "l_discount", "l_tax")
      Reductions.aggregateSpec(T(s, d, "lineitem"), cols,
        Seq("sum", "mean", "std", "max"))
        .select(col("stat") +: cols.map(c => r(col(c), 2).as(c)): _*)
        .orderBy("stat")
    }, {
      val cols = Seq("l_quantity", "l_discount", "l_tax")
      val rows = Seq(
        "sum" -> ((c: String) => s"sum($c)"),
        "mean" -> ((c: String) => s"avg($c)"),
        "std" -> ((c: String) => s"stddev_samp($c)"),
        "max" -> ((c: String) => s"max($c)::DOUBLE"))
      rows.map { case (stat, f) =>
        s"SELECT '$stat' AS stat, " +
          cols.map(c => s"round(${f(c)} + 1e-9, 2) AS $c").mkString(", ") +
          " FROM lineitem"
      }.mkString("", " UNION ALL ", " ORDER BY stat")
    }),

    // ---- §2.8 GroupBy.describe: per-group 8-stat summary, one grouped
    //      aggregate pass (exact per-group percentiles) ----
    Query("q_groupby_describe", (s, d) => {
      GroupOps.describeBy(T(s, d, "events"), Seq("event_type"), "value")
        .select(col("event_type"), col("value_count"),
          r(col("value_mean"), 4).as("value_mean"),
          r(col("value_std"), 4).as("value_std"),
          r(col("value_min"), 4).as("value_min"),
          r(col("value_p25"), 4).as("value_p25"),
          r(col("value_p50"), 4).as("value_p50"),
          r(col("value_p75"), 4).as("value_p75"),
          r(col("value_max"), 4).as("value_max"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(value) AS value_count,
         round(avg(value) + 1e-9, 4) AS value_mean,
         round(stddev_samp(value) + 1e-9, 4) AS value_std,
         round(min(value) + 1e-9, 4) AS value_min,
         round(quantile_cont(value, 0.25) + 1e-9, 4) AS value_p25,
         round(quantile_cont(value, 0.5) + 1e-9, 4) AS value_p50,
         round(quantile_cont(value, 0.75) + 1e-9, 4) AS value_p75,
         round(max(value) + 1e-9, 4) AS value_max
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // ---- §2.5 Series.value_counts (normalize fraction; deterministic
    //      value tie-break) ----
    Query("q_value_counts", (s, d) => {
      Reductions.valueCounts(T(s, d, "lineitem"), "l_returnflag")
        .select(col("l_returnflag"), col("count"), r(col("frac"), 6).as("frac"))
    },
      """SELECT l_returnflag, count(*) AS count,
         round(count(*) / (SELECT count(l_returnflag) FROM lineitem) + 1e-9, 6) AS frac
         FROM lineitem WHERE l_returnflag IS NOT NULL
         GROUP BY 1 ORDER BY count DESC, l_returnflag"""),

    // ---- §2.10 str accessor, tranche 4: capitalize / char-class
    //      predicates / partition / slice_replace ----
    Query("q_str_ops4", (s, d) => {
      val t = col("p_type")
      T(s, d, "part").select(
        col("p_partkey"),
        StrDt.strCapitalize(t).as("cap"),
        StrDt.strIsAlpha(col("p_brand")).as("alpha"),
        StrDt.strIsDigit(StrDt.strSplitItem(col("p_brand"), "#", 1)).as("numpart"),
        StrDt.strIsUpper(t).as("upper_t"),
        StrDt.strIsLower(t).as("lower_t"),
        StrDt.strPartitionBefore(t, " ").as("head"),
        StrDt.strPartitionAfter(t, " ").as("tail"),
        StrDt.strSliceReplace(col("p_brand"), 0, 5, "B").as("spliced"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey,
         upper(substr(p_type, 1, 1)) || lower(substr(p_type, 2)) AS cap,
         regexp_full_match(p_brand, '[A-Za-z]+') AS alpha,
         regexp_full_match(split_part(p_brand, '#', 2), '[0-9]+') AS numpart,
         p_type = upper(p_type) AND regexp_matches(p_type, '[A-Z]') AS upper_t,
         p_type = lower(p_type) AND regexp_matches(p_type, '[a-z]') AS lower_t,
         split_part(p_type, ' ', 1) AS head,
         CASE WHEN strpos(p_type, ' ') > 0
              THEN substr(p_type, strpos(p_type, ' ') + 1) ELSE '' END AS tail,
         'B' || substr(p_brand, 6) AS spliced
         FROM part ORDER BY p_partkey"""),

    // ---- §2.10 dt accessor, tranche 4: year/quarter boundaries + leap ----
    Query("q_dt_ops4", (s, d) => {
      val ts = col("o_orderdate")
      T(s, d, "orders").select(
        col("o_orderkey"),
        StrDt.dtIsYearStart(ts).as("ys"),
        StrDt.dtIsYearEnd(ts).as("ye"),
        StrDt.dtIsLeapYear(ts).as("leap"),
        StrDt.dtIsQuarterEnd(ts).as("qe"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
         month(o_orderdate) = 1 AND day(o_orderdate) = 1 AS ys,
         month(o_orderdate) = 12 AND day(o_orderdate) = 31 AS ye,
         (year(o_orderdate) % 4 = 0 AND year(o_orderdate) % 100 <> 0)
           OR year(o_orderdate) % 400 = 0 AS leap,
         o_orderdate::DATE = last_day(o_orderdate)
           AND month(o_orderdate) % 3 = 0 AS qe
         FROM orders ORDER BY o_orderkey"""),

    // ---- recall@5 of the IVF scale path vs the exact baseline ----
    Query("q_ann_ivf_recall", (s, d) => {
      val emb = T(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      Similarity.recallAtK(
        Similarity.ivfTopKWith(q, emb, centroids = emb.filter(col("vec_id") < 16),
          k = 5, nprobe = 4),
        Similarity.bruteForceTopK(q, emb, k = 5), k = 5)
        .orderBy("query_id")
    },
      s"""WITH $IvfCte,
         ann AS (SELECT qid, nid FROM ivfranked WHERE rank <= 5),
         bf AS (SELECT qid, nid FROM (
                  SELECT q.qid, c.vec_id AS nid,
                    row_number() OVER (PARTITION BY q.qid ORDER BY
                      list_cosine_similarity(qv, CAST(c.embedding AS DOUBLE[])) DESC,
                      c.vec_id) AS rank
                  FROM ivfq q, embeddings c WHERE c.vec_id <> q.qid)
                WHERE rank <= 5),
         hits AS (SELECT a.qid, count(*) AS h
                  FROM ann a JOIN bf b ON a.qid = b.qid AND a.nid = b.nid
                  GROUP BY 1)
         SELECT b.qid AS query_id, coalesce(h, 0) / 5.0 AS recall
         FROM (SELECT DISTINCT qid FROM bf) b
         LEFT JOIN hits USING (qid) ORDER BY query_id"""))

  /** IVF cell assignment + probe lists in SQL, mirroring
    * Similarity.ivfTopKWith with centroids = vec_id < 16, nprobe = 4:
    * argmax-cosine cell per corpus vector (first-max tie-break = lowest
    * centroid id, same as the engine's ascending scan), top-4 cells per
    * query. */
  private lazy val IvfCte: String =
    """cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                 FROM embeddings WHERE vec_id < 16),
       corp AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv
                FROM embeddings),
       cs AS (SELECT nid, cid, list_cosine_similarity(nv, cv) AS s
              FROM corp, cents),
       csr AS (SELECT nid, cid,
                 row_number() OVER (PARTITION BY nid ORDER BY s DESC, cid) AS rn
               FROM cs),
       assign AS (SELECT nid, cid AS cell FROM csr WHERE rn = 1),
       ivfq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 10),
       qs AS (SELECT qid, cid, list_cosine_similarity(qv, cv) AS s
              FROM ivfq, cents),
       qsr AS (SELECT qid, cid,
                 row_number() OVER (PARTITION BY qid ORDER BY s DESC, cid) AS rn
               FROM qs),
       probe AS (SELECT qid, cid AS cell FROM qsr WHERE rn <= 4),
       cand AS (SELECT q.qid, c.nid,
                  list_cosine_similarity(q.qv, c.nv) AS cos
                FROM ivfq q
                JOIN probe p ON p.qid = q.qid
                JOIN assign a ON a.cell = p.cell
                JOIN corp c ON c.nid = a.nid
                WHERE c.nid <> q.qid),
       ivfranked AS (SELECT qid, nid, cos,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY cos DESC, nid) AS rank
                     FROM cand)"""
}
