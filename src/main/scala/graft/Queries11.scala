package graft

import org.apache.spark.sql.functions._
import graft.engine._
import graft.engine.Core.r
import graft.Query.T

/** Eleventh tranche (round 11) — the last proxy names plus oracle rows
  * for the 100 TB sketch modes (VERDICT r10 "Next round" items 4, 5, 8):
  *   - `str.extractall` (reference proxy `parallel_str_dt.py:91-116`) +
  *     the full `str.cat(others=, sep=, na_rep=)` signature;
  *   - tolerance-oracle rows pinning describeApprox / nuniqueApprox /
  *     kendallApprox: each query computes the sketch AND its exact
  *     counterpart in Spark and emits the exact values (hash-compared
  *     against DuckDB) together with an `ok` flag asserting the sketch
  *     landed inside its documented tolerance — if the sketch drifts,
  *     Spark emits false where the oracle says true and the row fails.
  * Same conventions as [[Queries]]. */
object Queries11 {

  val queries: Seq[Query] = Seq(

    // ---- §2.10 str accessor, tranche 10: extractall (EVERY match,
    //      0-based match index ≙ the pandas MultiIndex level; rows
    //      without a match drop) and the full cat signature — na_rep
    //      substitution vs pandas' default whole-result NaN
    //      propagation (bare concat_ws would silently SKIP null cells
    //      and their separators — wrong on both legs) ----
    Query("q_str_ops10", (s, d) => {
      val base = T(s, d, "part").select(
        col("p_partkey"), col("p_name"),
        when(col("p_size") % 3 === 0, lit(null).cast("string"))
          .otherwise(col("p_brand")).as("holed"))
      val withCat = base.select(
        col("p_partkey"), col("p_name"),
        StrDt.strCatList(Seq(col("p_name"), col("holed")), "_",
          naRep = Some("NA")).as("cat_na"),
        StrDt.strCatList(Seq(col("p_name"), col("holed")), "_")
          .as("cat_null"))
      StrDt.strExtractAll(withCat, "p_name", "([a-z])([a-z]*)",
          Seq("g1", "g2"))
        .select(col("p_partkey"), col("cat_na"), col("cat_null"),
          col("match"), col("g1"), col("g2"))
        .orderBy("p_partkey", "match")
    },
      """WITH base AS (SELECT p_partkey, p_name,
           CASE WHEN p_size % 3 = 0 THEN NULL ELSE p_brand END AS holed
         FROM part),
         cat AS (SELECT p_partkey, p_name,
           concat_ws('_', p_name, coalesce(holed, 'NA')) AS cat_na,
           CASE WHEN holed IS NULL THEN NULL
                ELSE p_name || '_' || holed END AS cat_null
         FROM base)
         SELECT p_partkey, cat_na, cat_null,
           CAST(generate_subscripts(a1, 1) - 1 AS INTEGER) AS match,
           unnest(a1) AS g1, unnest(a2) AS g2
         FROM (SELECT p_partkey, cat_na, cat_null,
             regexp_extract_all(p_name, '([a-z])([a-z]*)', 1) AS a1,
             regexp_extract_all(p_name, '([a-z])([a-z]*)', 2) AS a2
           FROM cat)
         ORDER BY p_partkey, match"""),

    // ---- nunique 100 TB mode (HLL++, rsd=0.01): exact counts are the
    //      hash-compared surface; each `*_ok` flag pins the sketch to
    //      ±5% of exact (5x the configured rsd — drift, not noise,
    //      trips it) ----
    Query("q_nunique_approx", (s, d) => {
      val li = T(s, d, "lineitem")
      val cols = Seq("l_partkey", "l_suppkey", "l_quantity")
      val approx = Reductions.nuniqueApprox(li, cols)
        .select(cols.map(c => col(c).as(s"__a_$c")): _*)
      val exact = li.agg(
        count_distinct(col(cols.head)).as(cols.head),
        cols.tail.map(c => count_distinct(col(c)).as(c)): _*)
      exact.crossJoin(approx).select(
        cols.map(c => col(c).as(s"${c}_nd")) ++
          cols.map(c => (abs(col(s"__a_$c") - col(c)) <=
            ceil(col(c) * 0.05)).as(s"${c}_ok")): _*)
    },
      """SELECT count(DISTINCT l_partkey) AS l_partkey_nd,
           count(DISTINCT l_suppkey) AS l_suppkey_nd,
           count(DISTINCT l_quantity) AS l_quantity_nd,
           TRUE AS l_partkey_ok, TRUE AS l_suppkey_ok,
           TRUE AS l_quantity_ok
         FROM lineitem"""),

    // ---- describe 100 TB mode (ONE pass, percentile_approx sketch,
    //      accuracy=10000): exact describe rides the hash compare. `ok`
    //      pins each stat to the sketch's ACTUAL contract: percentile
    //      rows must land between the exact quantiles at p ± delta,
    //      where delta covers the GK rank-error guarantee (n/acc) plus
    //      ~2.5 ranks for the convention gap — the sketch targets rank
    //      ceil(p*n) while exact `percentile` interpolates at
    //      p*(n-1)+1, and the sketch snaps to a raw data value where
    //      exact interpolates. A VALUE-space tolerance is wrong for
    //      discrete columns whose exact quantile rank sits on a value
    //      boundary — at sf0.1, l_quantity's median rank 300000 is
    //      exactly the 25->26 step, so 26.0 is a CORRECT approx answer
    //      but a 4% value error. Non-percentile stats are computed
    //      exactly by both forms and keep the tight 1%-of-(|exact|+1)
    //      band ----
    Query("q_describe_approx", (s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax")
      val li = T(s, d, "lineitem")
      val acc = 10000
      // parquet count is metadata-only; del needs n before the
      // percentile list can be built
      val n = li.count().toDouble
      val del = 1.5 / acc + 2.5 / n
      require(del < 0.125, s"band delta $del would disorder fractions")
      val ps = Seq(0.25, 0.5, 0.75)
      // the p +/- delta band fractions ride the SAME exact describe
      // pass as the surface quartiles (one persisted sort per column
      // prices all nine fractions) — the previous shape ran a second
      // value-buffering `percentile` aggregate per column just for the
      // bands, doubling the row's exact-pass cost to verify one sketch
      val frs = ps.flatMap(p => Seq(math.max(0.0, p - del), p,
        math.min(1.0, p + del)))
      // rows are addressed by their `stat` LABEL, never by position —
      // a describe-layout change then fails loudly here instead of
      // silently comparing against the wrong stat (round-13 rework of
      // the old exact(13)/exact(4+3*i+.) positional indexing)
      val exact = Reductions.describe(li, cols, frs).collect()
      require(exact.length == frs.length + 5,
        s"describe emitted ${exact.length} rows for ${frs.length} " +
          "fractions (expected count/mean/std/min + fractions + max) " +
          "— row layout changed, update q_describe_approx")
      def lbl(row: org.apache.spark.sql.Row): String =
        row.getString(row.fieldIndex("stat"))
      val byLabel = exact.map(r => lbl(r) -> r).toMap
      require(byLabel.size == exact.length,
        "duplicate describe stat labels — the band delta no longer " +
          "keeps the nine fractions label-distinct")
      // label format comes from Reductions.pctLabel itself (ADVICE
      // r13: single-sourced); the loud missing-label failure below now
      // only fires if describe drops a requested fraction entirely
      def pctRow(p: Double): org.apache.spark.sql.Row = {
        val label = graft.engine.Reductions.pctLabel(p)
        byLabel.getOrElse(label, sys.error(
          s"describe emitted no '$label' row — percentile labeling " +
            "changed, update q_describe_approx"))
      }
      val approx = Reductions.describeApprox(li, cols).collect()
        .map(r => r.getString(0) -> r).toMap
      def cell(row: org.apache.spark.sql.Row, c: String): Double = {
        val i = row.fieldIndex(c)
        if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
      }
      val byStat =
        Seq("count", "mean", "std", "min", "max")
          .map(st => st -> byLabel.getOrElse(st, sys.error(
            s"describe emitted no '$st' row"))).toMap ++
        ps.map(p => s"${(p * 100).toInt}%" -> pctRow(p))
      def okFor(stat: String, c: String): Boolean = {
        val a = cell(approx(stat), c)
        ps.indices.find(i => s"${(ps(i) * 100).toInt}%" == stat) match {
          case Some(i) =>
            a >= cell(pctRow(frs(3 * i)), c) - 1e-9 &&
              a <= cell(pctRow(frs(3 * i + 2)), c) + 1e-9
          case None =>
            val e = cell(byStat(stat), c)
            math.abs(a - e) <= (math.abs(e) + 1) * 0.01
        }
      }
      val stats = Seq("count", "mean", "std", "min",
        "25%", "50%", "75%", "max")
      import s.implicits._
      stats.map { st =>
        val vs = cols.map(c => cell(byStat(st), c))
        (st, vs(0), vs(1), vs(2), vs(3), cols.forall(okFor(st, _)))
      }.toDF("stat" +: cols :+ "ok": _*)
        .select(col("stat") +:
          (cols.map(c => r(col(c), 4).as(c)) :+ col("ok")): _*)
        .orderBy("stat")
    }, {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax")
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
          ", TRUE AS ok FROM lineitem"
      }.mkString("", " UNION ALL ", " ORDER BY stat")
    }),

    // ---- kendall 100 TB sampling mode: deterministic hash-ordered
    //      sample of 1000 of the ~2000 slice rows. The exact tau rides
    //      the hash compare (vs the O(n²) SQL pair definition); `ok`
    //      pins the sampled estimate within 0.2 of exact (≈3 standard
    //      errors at n=1000 — drift or a broken sampler trips it, the
    //      seed's luck doesn't) ----
    Query("q_kendall_approx", (s, d) => {
      val ev = T(s, d, "events").filter(col("user_id") < 30)
        .withColumn("tsu", Core.usOf(col("ts")))
      val exact = Corr.kendall(ev, "value", "tsu")
        .select(col("kendall").as("__e"))
      val approx = Corr.kendallApprox(ev, "value", "tsu", maxRows = 1000)
        .select(col("kendall").as("__a"))
      exact.crossJoin(approx).select(
        r(col("__e"), 6).as("kendall"),
        (abs(col("__a") - col("__e")) <= 0.2).as("ok"))
    },
      """WITH b AS (SELECT value AS x, epoch_us(ts) AS y,
           row_number() OVER (ORDER BY event_id) AS i
           FROM events WHERE user_id < 30),
         p AS (SELECT a.x x1, a.y y1, c.x x2, c.y y2
               FROM b a JOIN b c ON a.i < c.i)
         SELECT round(
           sum(sign(x2 - x1) * sign(y2 - y1))
           / sqrt((count(*) - sum(CASE WHEN x1 = x2 THEN 1 ELSE 0 END))
                * (count(*) - sum(CASE WHEN y1 = y2 THEN 1 ELSE 0 END)))
           + 1e-9, 6) AS kendall,
           TRUE AS ok
         FROM p"""))
}
