package graft

import org.apache.spark.sql.functions._
import graft.engine._
import graft.engine.Core.r
import graft.Query.T

/** Eighth tranche (round 6): the conditional-selection / encoding /
  * time-selection family ([[graft.engine.Frame]], round-6 batch) —
  * clip / where / mask, factorize, stack / unstack, between_time /
  * at_time / truncate, searchsorted. Same conventions as [[Queries]]. */
object Queries8 {

  val queries: Seq[Query] = Seq(

    // ---- clip / where / mask: pure codegen over the scan, zero
    //      shuffle ----
    Query("q_clip_where", (s, d) => {
      val ev = T(s, d, "events").select("event_id", "value")
      ev.select(col("event_id"),
          r(Frame.clip(col("value"), Some(10.0), Some(90.0)), 6).as("clipped"),
          r(Frame.where(col("value"), col("value") >= 25.0, lit(null)), 6)
            .as("wh"),
          r(Frame.mask(col("value"), col("value") > 50.0, lit(50.0)), 6)
            .as("mk"))
        .orderBy("event_id")
    },
      """SELECT event_id,
         round(least(greatest(value, 10.0), 90.0) + 1e-9, 6) AS clipped,
         round(CASE WHEN value >= 25.0 THEN value END + 1e-9, 6) AS wh,
         round(CASE WHEN value > 50.0 THEN 50.0 ELSE value END + 1e-9, 6)
           AS mk
         FROM events ORDER BY event_id"""),

    // ---- factorize: codes in first-appearance order. One hash
    //      aggregate to |distinct| rows, a row_number over that SMALL
    //      table, one AQE-broadcast join back — the frame itself is
    //      never sorted ----
    Query("q_factorize", (s, d) => {
      val o = T(s, d, "orders").select("o_orderkey", "o_orderpriority")
      Frame.factorize(o, "o_orderpriority", "o_orderkey", "code")
        .select("o_orderkey", "o_orderpriority", "code")
        .orderBy("o_orderkey")
    },
      """WITH f AS (SELECT o_orderpriority, min(o_orderkey) AS fst
                    FROM orders GROUP BY 1),
         c AS (SELECT o_orderpriority,
                 row_number() OVER (ORDER BY fst) - 1 AS code
               FROM f)
         SELECT o.o_orderkey, o.o_orderpriority, c.code
         FROM orders o JOIN c USING (o_orderpriority)
         ORDER BY o_orderkey"""),

    // ---- unstack: one shuffle (groupBy + pivot with the category
    //      list supplied — no discovery job); null where the (index,
    //      category) pair is absent ----
    Query("q_unstack", (s, d) => {
      val sums = T(s, d, "lineitem")
        .groupBy(col("l_orderkey"), col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("sq"))
      Frame.unstack(sums, Seq("l_orderkey"), "l_returnflag", "sq",
          Seq("A", "N", "R"))
        .select(col("l_orderkey"), r(col("A"), 6).as("qty_a"),
          r(col("N"), 6).as("qty_n"), r(col("R"), 6).as("qty_r"))
        .orderBy("l_orderkey")
    },
      """SELECT l_orderkey,
         round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END)
           + 1e-9, 6) AS qty_a,
         round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END)
           + 1e-9, 6) AS qty_n,
         round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END)
           + 1e-9, 6) AS qty_r
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    // ---- stack: wide -> long dropping nulls (pandas default);
    //      Generate over the scan, zero shuffle ----
    Query("q_stack", (s, d) => {
      val c = T(s, d, "customer")
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0, lit(null))
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          col("c_nationkey"))
      Frame.stack(c, Seq("c_custkey"), Seq("c_acctbal", "c_nationkey"),
          "var", "val")
        .select(col("c_custkey"), col("var"), r(col("val"), 6).as("val"))
        .orderBy("c_custkey", "var")
    },
      """SELECT c_custkey, var, round(val + 1e-9, 6) AS val FROM (
           SELECT c_custkey, 'c_acctbal' AS var,
             CASE WHEN c_custkey % 3 = 0 THEN NULL
                  ELSE c_acctbal END AS val
           FROM customer
           UNION ALL
           SELECT c_custkey, 'c_nationkey', c_nationkey::DOUBLE
           FROM customer)
         WHERE val IS NOT NULL
         ORDER BY c_custkey, var"""),

    // ---- between_time + truncate + at_time: time-of-day and
    //      index-range selection — pure codegen filters that push to
    //      the scan ----
    Query("q_time_select", (s, d) => {
      val ev = T(s, d, "events").select("event_id", "ts", "value")
      ev.filter(Frame.betweenTime(col("ts"), "09:00:00", "17:00:00") &&
          col("event_id").between(100, 50000))
        .select(col("event_id"),
          (hour(col("ts")) * 3600 + minute(col("ts")) * 60 +
            second(col("ts"))).as("sod"),
          Frame.atTime(col("ts"), "12:00:00").cast("int").as("at_noon"),
          r(col("value"), 6).as("value"))
        .orderBy("event_id")
    },
      """SELECT event_id,
         (date_part('hour', ts) * 3600 + date_part('minute', ts) * 60
           + date_part('second', ts))::INT AS sod,
         CASE WHEN date_part('hour', ts) = 12
               AND date_part('minute', ts) = 0
               AND date_part('second', ts) = 0 THEN 1 ELSE 0 END AS at_noon,
         round(value + 1e-9, 6) AS value
         FROM events
         WHERE date_part('hour', ts) * 3600 + date_part('minute', ts) * 60
             + date_part('second', ts) BETWEEN 32400 AND 61200
           AND event_id BETWEEN 100 AND 50000
         ORDER BY event_id"""),

    // ---- searchsorted: all probes share ONE map-side-combined
    //      aggregate pass; the series is never sorted ----
    Query("q_searchsorted", (s, d) => {
      val li = T(s, d, "lineitem").select("l_quantity")
      Frame.searchsorted(li, "l_quantity",
          Seq(1.0, 10.5, 25.0, 37.75, 50.0))
        .orderBy("probe")
    },
      """SELECT p AS probe,
         (SELECT count(*) FROM lineitem WHERE l_quantity < p) AS pos_left,
         (SELECT count(*) FROM lineitem WHERE l_quantity <= p) AS pos_right
         FROM (SELECT unnest([1.0, 10.5, 25.0, 37.75, 50.0]) AS p)
         ORDER BY probe"""),

    // ---- §2.10 str accessor, tranche 7: casefold / isdecimal /
    //      ljust / rjust / zfill (pad-only, never truncate) / join /
    //      rsplit-item — all codegen over the scan ----
    Query("q_str_ops7", (s, d) => {
      val p = T(s, d, "part")
      p.select(
        col("p_partkey"),
        StrDt.strCasefold(col("p_name")).as("cf"),
        StrDt.strIsDecimal(StrDt.strSplitItem(col("p_brand"), "#", 1))
          .as("isdec"),
        StrDt.strLjust(col("p_type"), 22, ".").as("lj"),
        StrDt.strRjust(col("p_type"), 22, ".").as("rj"),
        StrDt.strZfill(StrDt.strSplitItem(col("p_brand"), "#", 1), 4)
          .as("zf"),
        StrDt.strZfill(col("p_type"), 10).as("zfw"),
        StrDt.strJoin(split(col("p_name"), " "), "-").as("jo"),
        StrDt.strRsplitItem(col("p_name"), " ", 0).as("rs0"),
        StrDt.strRsplitItem(col("p_name"), " ", 1).as("rs1"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey,
         lower(p_name) AS cf,
         regexp_full_match(split_part(p_brand, '#', 2), '[0-9]+') AS isdec,
         CASE WHEN length(p_type) >= 22 THEN p_type
              ELSE rpad(p_type, 22, '.') END AS lj,
         CASE WHEN length(p_type) >= 22 THEN p_type
              ELSE lpad(p_type, 22, '.') END AS rj,
         CASE WHEN length(split_part(p_brand, '#', 2)) >= 4
              THEN split_part(p_brand, '#', 2)
              ELSE lpad(split_part(p_brand, '#', 2), 4, '0') END AS zf,
         CASE WHEN length(p_type) >= 10 THEN p_type
              ELSE lpad(p_type, 10, '0') END AS zfw,
         array_to_string(string_split(p_name, ' '), '-') AS jo,
         string_split(p_name, ' ')[len(string_split(p_name, ' '))] AS rs0,
         string_split(p_name, ' ')[len(string_split(p_name, ' ')) - 1] AS rs1
         FROM part ORDER BY p_partkey"""),

    // ---- §2.10 str accessor, tranche 8: REAL Unicode normalization
    //      (native codegen expression; the decomposed suffix e+U+0301
    //      composes to é under NFC, and NFD decomposes it back) +
    //      str.encode via hex so the oracle compares strings ----
    Query("q_str_ops8", (s, d) => {
      val deco = concat(col("p_name"), lit(" caf"), lit("e"),
        lit("\u0301"))
      T(s, d, "part").select(
        col("p_partkey"),
        StrDt.strNormalize(deco, "NFC").as("nfc"),
        length(StrDt.strNormalize(deco, "NFC")).as("nfc_len"),
        length(StrDt.strNormalize(StrDt.strNormalize(deco, "NFC"), "NFD"))
          .as("nfd_len"),
        hex(StrDt.strEncode(col("p_name"))).as("enc_hex"))
        .orderBy("p_partkey")
    },
      // nfc: DuckDB nfc_normalize composes e+U+0301 to é exactly as the
      // native expression does; nfd_len = nfc_len + 1 re-decomposed char,
      // closed-form because p_name is ASCII (TPC-H) and the only
      // decomposable char is the injected é
      """SELECT p_partkey,
         nfc_normalize(p_name || ' cafe' || chr(769)) AS nfc,
         CAST(length(nfc_normalize(p_name || ' cafe' || chr(769)))
              AS INTEGER) AS nfc_len,
         CAST(length(p_name) + 6 AS INTEGER) AS nfd_len,
         hex(encode(p_name)) AS enc_hex
         FROM part ORDER BY p_partkey"""),

    // ---- §2.10 dt accessor, tranche 7: time-of-day, weekday alias,
    //      isocalendar year + week — codegen date arithmetic ----
    Query("q_dt_ops7", (s, d) => {
      val ts = col("ts")
      T(s, d, "events").select(
        col("event_id"),
        StrDt.dtTime(ts).as("tm"),
        StrDt.dtWeekday(ts).as("wd"),
        StrDt.dtIsoYear(ts).as("iy"),
        StrDt.dtWeek(ts).as("iw"))
        .orderBy("event_id")
    },
      """SELECT event_id,
         strftime(ts::TIMESTAMP, '%H:%M:%S') AS tm,
         (isodow(ts) - 1)::INTEGER AS wd,
         isoyear(ts)::INTEGER AS iy,
         week(ts)::INTEGER AS iw
         FROM events ORDER BY event_id"""),

    // ---- pct_change(freq=): index realignment against the value at
    //      exactly t - freq — one self equi-join on the shifted key,
    //      never a sort ----
    Query("q_pct_change_freq", (s, d) => {
      val daily = T(s, d, "events")
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      Cumulative.pctChangeFreq(daily, "day", Seq("v"), "D",
          by = Seq("user_id"))
        .select(col("user_id"), col("day"), r(col("v"), 6).as("v"),
          r(col("v_pct"), 6).as("v_pct"))
        .orderBy("user_id", "day")
    },
      """WITH s AS (SELECT user_id, date_trunc('day', ts::TIMESTAMP) AS day,
                      sum(value) AS v
                    FROM events GROUP BY 1, 2)
         SELECT a.user_id, a.day, round(a.v + 1e-9, 6) AS v,
                round(a.v / b.v - 1 + 1e-9, 6) AS v_pct
         FROM s a LEFT JOIN s b
           ON a.user_id = b.user_id AND b.day = a.day - INTERVAL 1 DAY
         ORDER BY a.user_id, a.day"""))
}
