package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}

/** Full-frame reductions and per-column statistics.
  *
  * Reproduces the reference's reduction surface (`p_min/max/mean/median/
  * skew/kurt/std/var/sem/sum/prod/mad/nunique/idxmax/idxmin/mode/quantile/
  * rank/describe`, `/root/reference/parallel_pandas/core/
  * parallel_dataframe.py:714-861, 432-647`) with Spark-native aggregates.
  *
  * Numeric-semantics notes (SURVEY.md §2.2):
  *   - pandas `skew`/`kurt` are bias-adjusted sample moments (G1, G2);
  *     Spark `skewness`/`kurtosis` are population moments (g1, g2). The
  *     adjusted forms below match pandas and DuckDB exactly.
  *   - `std`/`var` default ddof=1 == Spark `stddev_samp`/`var_samp`.
  *   - quantile: pandas default linear interpolation == Catalyst
  *     `percentile` (exact) == DuckDB `quantile_cont`.
  *
  * All aggregates here are single-pass map-side-combinable Catalyst
  * expressions — at 100 TB they run as partial aggregation with no extra
  * shuffle beyond the final 1-row combine.
  */
object Reductions {

  /** Bias-adjusted sample skewness G1 = g1 * sqrt(n(n-1)) / (n-2). */
  def sampleSkew(c: Column): Column = {
    val n = count(c).cast("double")
    when(n >= 3, skewness(c) * sqrt(n * (n - 1)) / (n - 2))
  }

  /** Bias-adjusted excess sample kurtosis
    * G2 = ((n+1) g2 + 6) (n-1) / ((n-2)(n-3)), g2 = Spark `kurtosis`. */
  def sampleKurt(c: Column): Column = {
    val n = count(c).cast("double")
    when(n >= 4, ((n + 1) * kurtosis(c) + lit(6.0)) * (n - 1) / ((n - 2) * (n - 3)))
  }

  /** Standard error of the mean (ddof=1): stddev_samp / sqrt(n). */
  def sem(c: Column): Column = stddev_samp(c) / sqrt(count(c).cast("double"))

  /** Sample variance with arbitrary ddof (pandas `var(ddof=k)`). */
  def varDdof(c: Column, ddof: Int): Column = {
    val n = count(c).cast("double")
    when(n > ddof, var_pop(c) * n / (n - ddof))
  }

  /** `sum` with pandas `min_count` gate: null unless >= minCount non-null. */
  def sumMinCount(c: Column, minCount: Int): Column =
    when(count(c) >= minCount, sum(c))

  /** Exact product aggregate (pandas `prod`). Null-skipping; empty input
    * -> 1.0 (pandas identity). Mergeable, so it runs as a normal partial
    * aggregate at scale. */
  val productAgg: Aggregator[java.lang.Double, Double, Double] =
    new Aggregator[java.lang.Double, Double, Double] {
      def zero: Double = 1.0
      def reduce(b: Double, a: java.lang.Double): Double =
        if (a == null || a.isNaN) b else b * a.doubleValue()
      def merge(b1: Double, b2: Double): Double = b1 * b2
      def finish(r: Double): Double = r
      def bufferEncoder: Encoder[Double] = Encoders.scalaDouble
      def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }

  /** Product as a Column (registered UDAF under the hood). */
  def product(c: Column): Column = udaf(productAgg).apply(c)

  /** Mean absolute deviation about the mean (removed from pandas 2.x but
    * still in the reference surface). Two-pass: per-column means are tiny
    * (1 row) -> broadcast cross join, never a wide shuffle. */
  def mad(df: DataFrame, cols: Seq[String]): DataFrame = {
    val means = df.agg(
      avg(col(cols.head)).as(s"__m_${cols.head}"),
      cols.tail.map(c => avg(col(c)).as(s"__m_$c")): _*)
    val joined = df.crossJoin(broadcast(means))
    joined.agg(
      avg(abs(col(cols.head) - col(s"__m_${cols.head}"))).as(s"mad_${cols.head}"),
      cols.tail.map(c => avg(abs(col(c) - col(s"__m_$c"))).as(s"mad_$c")): _*)
  }

  /** idx label of the per-column max/min, first occurrence on ties
    * (pandas `idxmax`/`idxmin`): max_by over (value, -idx) struct. */
  def idxmax(idx: Column, value: Column): Column =
    max_by(idx, struct(value, (idx * -1).as("_negidx")))
  def idxmin(idx: Column, value: Column): Column =
    min_by(idx, struct(value, idx))

  /** All tied modes of a column, like pandas `mode` (multi-row, sorted).
    * One hash aggregation + a broadcastable 1-row max. The (small)
    * counts table is materialized once — it feeds both the max branch
    * and the filter branch, which would otherwise each re-scan the
    * input. */
  def modeAll(df: DataFrame, c: String): DataFrame = {
    val counts = df.filter(col(c).isNotNull).groupBy(col(c)).count()
      .localCheckpoint()
    val maxCnt = counts.agg(max("count").as("__maxc"))
    counts.crossJoin(broadcast(maxCnt))
      .filter(col("count") === col("__maxc"))
      .select(col(c)).orderBy(col(c))
  }

  /** pandas `rank(method='average', pct, na_option, ascending)` over the
    * WHOLE frame: the [[Rank]] kernel's midrank plus pandas' options on
    * top. `outs` is (outputColumn, pct?) so average rank and its pct
    * form share one rank attachment. The probe's exact counts become
    * literals: the non-null count (NaN included — Spark orders it as
    * the greatest value) and the row count.
    *
    * na_option: 'keep' (default) leaves null ranks null and `pct`
    * divides by the non-null count; 'top'/'bottom' rank the null block
    * first/last as ONE tie group and `pct` divides by the row count —
    * all matching pandas. Descending is the mirror of the ascending
    * average rank: nVal + 1 − rank. */
  def withRankAvg(df: DataFrame, c: String, outs: Seq[(String, Boolean)],
                  ascending: Boolean = true,
                  naOption: String = "keep"): DataFrame = {
    val p = Rank.probe(df, Nil, Seq(c))
    val g = p.groups.get.head
    val nVal = g.n(0).toDouble
    val nAll = g.rows.toDouble
    val nNull = nAll - nVal
    val asc = col("__rk")
    val base = if (ascending) asc else lit(nVal + 1) - asc
    val v = col(c)
    def rankExpr(pct: Boolean): Column = naOption match {
      case "keep" => if (pct) base / nVal else base
      case "top" =>
        val r = when(v.isNull, (nNull + 1) / 2.0).otherwise(base + nNull)
        if (pct) r / nAll else r
      case "bottom" =>
        val r = when(v.isNull, nVal + (nNull + 1) / 2.0).otherwise(base)
        if (pct) r / nAll else r
      case other => throw new IllegalArgumentException(s"na_option: $other")
    }
    outs.foldLeft(Rank.midrank(p, Seq("__rk"))) { case (acc, (out, pct)) =>
      acc.withColumn(out, rankExpr(pct))
    }.drop("__rk")
  }

  /** Volume-based shuffle width for a bucket-partitioned sort stage
    * (VERDICT r13 item 1). A `Window.partitionBy(bucket).orderBy(value)`
    * sorts each SHUFFLE PARTITION in one task sorter, so the session's
    * core-count width (right for task-overhead-bound jobs) makes every
    * sort partition `totalBytes / width` — measured to spill at 10×
    * scale (q_corr_matrix_full sf10: 13.7× of sf1 at width 32, 7.5× at
    * 256). This sizes the width so each task's in-flight sort stays
    * within `targetBytes` of execution memory: never below the session
    * width (small inputs keep today's plan), capped at 4096 (beyond
    * local scale; a real cluster re-tunes `targetBytes`). `fields` is
    * the sorted frame's column count; the per-row cost model is
    * 8 B/field + 32 B of UnsafeRow + sorter pointer/prefix overhead. */
  private[graft] def sortWidth(rows: Long, fields: Int, sessionWidth: Int,
      targetBytes: Long = 32L << 20): Int = {
    val rowBytes = 8L * fields + 32L
    val need = math.ceil(rows.toDouble * rowBytes / targetBytes).toLong
    math.max(sessionWidth.toLong, math.min(need, 4096L)).toInt
  }

  /** Plan-stats threshold above which the matrix rank prestep pays one
    * exact `count()` to size its own sort shuffle ([[sortWidth]]); the
    * pruned 4-column lineitem frame measures ~3.7 MB at sf0.1, ~38 MB
    * at sf1 (both healthy at session width) and ~380 MB at sf10 (the
    * measured spill decade), so 64 MB splits the decades cleanly. */
  private[graft] val SortBigBytes: Long = 64L << 20

  /** Default driver bound of the [[Rank]] kernel's tables: a rank-stats
    * table has one row per (group, distinct value) or (group, bucket).
    * One fitting this many rows (≈1.5 MB of (key, value, cnt, before,
    * dense) doubles) is built on the driver and BROADCAST; a larger one
    * stays in the plan and joins back by a shuffle join. Above the
    * probe's key bound the row count is bounded from
    * approx_count_distinct estimates with headroom, and a collect past
    * the summed bounds fails loudly. */
  private[graft] val GroupRankStatsMaxRows: Long = 65536L

  /** Session-adaptive form of the gate (VERDICT r14 item 6): size the
    * counts-table row cap from `spark.sql.autoBroadcastJoinThreshold`
    * so the broadcast stats table never outgrows what the session is
    * configured to broadcast. 160 B/row is a conservative
    * HashedRelation footprint for a table row (boxed key +
    * UnsafeRow + hash-table entry), and intentionally maps the 10 MB
    * default threshold to exactly [[GroupRankStatsMaxRows]] (65536) so
    * default-config plans are unchanged. A disabled auto-broadcast
    * (threshold ≤ 0) falls back to the default cap: the join-back uses
    * an explicit broadcast() hint, which a -1 threshold does not
    * disable. */
  private[graft] def groupRankStatsMaxRows(
      spark: org.apache.spark.sql.SparkSession): Long = {
    val s = spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
      "10485760").trim
    // plain longs (incl. the -1 "disabled" sentinel) are not byte
    // strings; parse them directly
    val thr =
      try java.lang.Long.parseLong(s)
      catch { case _: NumberFormatException =>
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s) }
    if (thr <= 0) GroupRankStatsMaxRows else thr / 160L
  }

  /** Within-tie ordinal — the 1-based position of each row inside its
    * value's tie group under `tiebreak` ordering (what pandas
    * `rank(method='first')` adds on top of the min rank) — WITHOUT a
    * `Window.partitionBy(value)` over the frame, which at scale puts a
    * whole tie group (~n/distinct rows) on one task when the column is
    * LOW-cardinality (exactly the case where ties matter).
    *
    * Design: the FIRST tiebreak column is cut into ~defaultParallelism
    * quantile buckets (one approxQuantile job) via the value-
    * deterministic binary-search expression (bucket id is a pure
    * function of the value, so plan branches agree by construction,
    * and bucket order == tiebreak order because equal values always
    * share a bucket). Then:
    *   - per-(value, bucket) counts (map-side combinable) → running
    *     offsets via a window over the (distinct × buckets)-row counts
    *     table, broadcast back;
    *   - `row_number` within a `(value, bucket)` window ordered by the
    *     full tiebreak — the largest partition any task holds is
    *     ~tieGroup/buckets, and the bucket count grows with the cluster.
    * Null values get a null ordinal (na_option='keep').
    *
    * Contract: intended for LOW-cardinality value columns (the counts
    * table is O(distinct × buckets) and is broadcast); for near-unique
    * columns tie groups are tiny and a plain per-value window is already
    * skew-free. The first tiebreak column must be numeric and ordered
    * ascending (it dominates the composite ordering). `df` should be a
    * slim source plan: the cuts and counts re-read it. */
  def withinTieOrdinal(df: DataFrame, c: String, tiebreak: Seq[Column],
                       out: String): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    val tb = tiebreak.head
    val cuts = df.select(tb.cast("double").as("__tbv")).stat
      .approxQuantile("__tbv", (1 until n).map(_.toDouble / n).toArray, 0.01)
      .distinct.sorted
    def bucketOf(v: Column): Column =
      coalesce(graft.functions.BucketBin.bucketBin(v.cast("double"), cuts),
        lit(0))
    val withB = df.withColumn("__tb", bucketOf(tb))
    val cnts = df.filter(col(c).isNotNull)
      .groupBy(col(c).as("__tv"), bucketOf(tb).as("__tbb"))
      .agg(count(lit(1)).as("__tn"))
    // running offset of each bucket within its value's tie group; the
    // window runs over the tiny counts table, never the frame
    val wOff = Window.partitionBy("__tv").orderBy("__tbb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = cnts
      .withColumn("__toff", coalesce(sum(col("__tn")).over(wOff), lit(0L)))
      .select(col("__tv"), col("__tbb"), col("__toff"))
    val wIn = Window.partitionBy(col(c), col("__tb")).orderBy(tiebreak: _*)
    withB.join(broadcast(offs),
        withB(c) === col("__tv") && col("__tb") === col("__tbb"), "left")
      .withColumn(out,
        when(col(c).isNotNull, col("__toff") + row_number().over(wIn)))
      .drop("__tb", "__tv", "__tbb", "__toff")
  }

  /** Exact quantiles (pandas linear interpolation) via DISTRIBUTED SORT
    * instead of Catalyst's value-counting Percentile buffer. The buffer
    * is O(distinct values) per partial — unbounded for continuous
    * columns at scale; the sort is a range shuffle plus a lookup of the
    * two rows bracketing each quantile position. Eager (runs two jobs). */
  def quantilesBySort(df: DataFrame, c: String, qs: Seq[Double],
                      knownCount: Option[Long] = None): Seq[Double] = {
    // The sorted values are PERSISTED *before* zipWithIndex: its
    // partition-start-offsets job is the FIRST execution of the plan
    // and so populates the cache, and every later job (count, index
    // lookup) reads that same materialization. Persisting the zipped
    // RDD instead (ADVICE r10's first cut) left a race: the offsets
    // job ran on the UN-persisted parent, so a non-deterministic or
    // concurrently-changing upstream could cache data inconsistent
    // with the index assignment — silently wrong ranks with no guard
    // able to fire. Persisting the parent closes it with no extra pass.
    val vals = df.select(col(c).cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))
      .sort("v").rdd.map(_.getDouble(0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sorted = vals.zipWithIndex()
      val n = knownCount.getOrElse(sorted.count())
      if (n == 0) return qs.map(_ => Double.NaN)
      val needed = qs.flatMap { q =>
        val p = (n - 1) * q
        Seq(math.floor(p).toLong, math.ceil(p).toLong)
      }.toSet
      val picked: Map[Long, Double] = sorted
        .filter { case (_, i) => needed.contains(i) }
        .map(_.swap).collect().toMap
      def at(idx: Long): Double = picked.getOrElse(idx,
        throw new IllegalStateException(
          s"quantilesBySort($c): sorted index $idx absent from the " +
            s"scan (n=$n, got ${picked.size}/${needed.size} positions) " +
            "— the input row count changed between jobs (knownCount " +
            "stale, or a non-deterministic source)"))
      qs.map { q =>
        val p = (n - 1) * q
        val lo = at(math.floor(p).toLong)
        val hi = at(math.ceil(p).toLong)
        lo + (p - math.floor(p)) * (hi - lo)
      }
    } finally vals.unpersist(blocking = false)
  }

  /** Bounded exact histogram: (value -> count) while the column holds
    * at most `cap` distinct values, else null; null and NaN are
    * skipped, -0.0 counts as 0.0. A native aggregate
    * ([[graft.functions.BoundedHistogram]]). */
  def boundedHistogram(c: Column, cap: Int): Column =
    graft.functions.BoundedHistogram.boundedHistogram(c, cap)

  /** Misra-Gries heavy-hitter summary: at most `k` (item -> estimated
    * count) entries from ONE mergeable aggregation pass — the
    * fail-soft sibling of [[boundedHistogram]] (which poisons itself
    * above its cap). Classic guarantees, preserved under partial merge
    * (Agarwal et al., "Mergeable Summaries", PODS 2012): estimates
    * never exceed true counts, undercount by at most n/(k+1), and
    * every item with true frequency > n/(k+1) is present. reduce()
    * decrements all counters on overflow (amortized O(1)); merge()
    * adds the two maps then subtracts the (k+1)-th largest count from
    * all. With <= k distinct values the counts are EXACT — the regime
    * the oracle row pins; the error bound is spec-tested. State is k
    * entries per partial: "top domains over 100 TB" without shuffling
    * every distinct key. */
  /** One Misra-Gries reduce step over a mutable summary: increment a
    * present item, insert while under k, else decrement-all (dropping
    * zeros). Shared by [[misraGriesAgg]] and the streaming
    * [[graft.streaming.Streams.streamingHeavyHitters]] state handler so
    * the two surfaces cannot drift. Null items are ignored. */
  private[graft] def mgStep(b: java.util.HashMap[String, java.lang.Long],
                            a: String, k: Int): Unit = {
    if (a != null) {
      val prev = b.get(a)
      if (prev != null) b.put(a, prev + 1L)
      else if (b.size < k) b.put(a, 1L)
      else { // decrement-all: drop zeros, the new item is absorbed
        val it = b.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue == 1L) it.remove()
          else e.setValue(e.getValue - 1L)
        }
      }
    }
  }

  def misraGriesAgg(k: Int): Aggregator[String,
      java.util.HashMap[String, java.lang.Long], Map[String, Long]] = {
    require(k >= 1, s"misraGriesAgg: need k >= 1; got $k (k <= 0 would " +
      "silently discard every item as an empty summary)")
    new Aggregator[String, java.util.HashMap[String, java.lang.Long],
        Map[String, Long]] {
      def zero = new java.util.HashMap[String, java.lang.Long]
      def reduce(b: java.util.HashMap[String, java.lang.Long],
                 a: String) = { mgStep(b, a, k); b }
      def merge(b1: java.util.HashMap[String, java.lang.Long],
                b2: java.util.HashMap[String, java.lang.Long]) = {
        val it = b2.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val prev = b1.get(e.getKey)
          b1.put(e.getKey,
            if (prev == null) e.getValue else prev + e.getValue)
        }
        if (b1.size > k) {
          // subtract the (k+1)-th largest count from every entry and
          // drop the non-positive ones: <= k survive, bounds add up
          val counts = new Array[Long](b1.size)
          var i = 0
          val vit = b1.values().iterator()
          while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
          java.util.Arrays.sort(counts)
          val sub = counts(counts.length - k - 1)
          val eit = b1.entrySet().iterator()
          while (eit.hasNext) {
            val e = eit.next()
            if (e.getValue <= sub) eit.remove()
            else e.setValue(e.getValue - sub)
          }
        }
        b1
      }
      def finish(b: java.util.HashMap[String, java.lang.Long])
        : Map[String, Long] = {
        val out = Map.newBuilder[String, Long]
        val it = b.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          out += (e.getKey -> e.getValue.longValue())
        }
        out.result()
      }
      def bufferEncoder: Encoder[java.util.HashMap[String, java.lang.Long]] =
        Encoders.kryo[java.util.HashMap[String, java.lang.Long]]
      def outputEncoder: Encoder[Map[String, Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    }
  }

  /** [[misraGriesAgg]] exploded to a (item, est_count) frame, largest
    * first (count desc, then item — deterministic). Nulls don't count
    * (pandas value_counts dropna analogue). */
  def heavyHitters(df: DataFrame, c: String, k: Int): DataFrame =
    df.agg(udaf(misraGriesAgg(k)).apply(col(c).cast("string")).as("__mg"))
      .select(explode(col("__mg")).as(Seq("item", "est_count")))
      .orderBy(col("est_count").desc, col("item"))

  /** pandas' percentile row label: 0.25 -> "25%", 0.025 -> "2.5%".
    * `private[graft]` so label-addressed consumers (q_describe_approx's
    * band lookup) call THIS instead of re-stating the format — the
    * contract is single-sourced (ADVICE r13). */
  private[graft] def pctLabel(p: Double): String = {
    val v = math.round(p * 10000) / 100.0
    if (v == v.toInt) s"${v.toInt}%" else s"$v%"
  }

  /** Columns of `df` matching pandas-style dtype selectors for
    * `describe(include=/exclude=)`: "number", "object" (strings),
    * "datetime", "bool". */
  def selectDtypes(df: DataFrame, include: Seq[String],
                   exclude: Seq[String] = Nil): Seq[String] = {
    import org.apache.spark.sql.types._
    def matches(dt: DataType, sel: String): Boolean = sel match {
      case "number"   => dt.isInstanceOf[NumericType]
      case "object"   => dt == StringType
      case "datetime" =>
        dt == TimestampType || dt == TimestampNTZType || dt == DateType
      case "bool"     => dt == BooleanType
      case "all"      => true
      case other => throw new IllegalArgumentException(s"dtype selector: $other")
    }
    df.schema.fields
      .filter(f => include.isEmpty || include.exists(matches(f.dataType, _)))
      .filterNot(f => exclude.exists(matches(f.dataType, _)))
      .map(_.name).toSeq
  }

  /** pandas `describe(include=…, exclude=…, percentiles=…)` front-end:
    * selects columns by dtype and dispatches numeric vs object shape
    * (numeric wins when both kinds are selected, like pandas' default). */
  def describeAuto(df: DataFrame, include: Seq[String] = Seq("number"),
                   exclude: Seq[String] = Nil,
                   percentiles: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    val cols = selectDtypes(df, include, exclude)
    require(cols.nonEmpty, s"describe: no columns match include=$include exclude=$exclude")
    val slim = df.select(cols.map(col): _*)
    val numeric = selectDtypes(slim, Seq("number"))
    val datetimes = selectDtypes(slim, Seq("datetime"))
    if (numeric.nonEmpty) describe(df, numeric, percentiles)
    else if (datetimes.size == cols.size)
      describeDatetime(df, datetimes, percentiles)
    else describeObject(df, cols)
  }

  /** pandas `describe()` on OBJECT (string) columns: count / unique /
    * top / freq. `top` is the lexicographically-smallest most-frequent
    * value — deterministic on ties, where pandas' "first encountered"
    * depends on row order. Assembled driver-side like [[describe]].
    *
    * ONE job for ANY column count: each row explodes to its (column,
    * value) pairs (a k-wide scan, not k scans), the per-(col, value)
    * counts hash-aggregate (map-side combinable), and a second tiny
    * aggregate over the counts table folds each column to
    * (count = Σ value counts, unique = #groups, top/freq = min_by over
    * the (-count, value) struct — max count, then smallest value). */
  def describeObject(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "describe: at least one column required")
    val pairs = df.select(explode(map(
        cols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*))
        .as(Seq("__c", "__v")))
      .filter(col("__v").isNotNull)
    val perCol = pairs.groupBy(col("__c"), col("__v"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("__c"))
      .agg(sum(col("__n")).as("__count"),
        count(lit(1)).as("__unique"),
        min_by(col("__v"), struct((-col("__n")).as("nc"), col("__v"))).as("__top"),
        max(col("__n")).as("__freq"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))).toMap
    def cell(c: String): (Long, Long, String, Long) =
      perCol.getOrElse(c, (0L, 0L, null, 0L))
    val rows: Seq[(String, Seq[String])] = Seq(
      "count" -> cols.map(cell(_)._1.toString),
      "unique" -> cols.map(cell(_)._2.toString),
      "top" -> cols.map(cell(_)._3),
      "freq" -> cols.map(cell(_)._4.toString))
    val spark = df.sparkSession
    val data = rows.map { case (s, vs) =>
      org.apache.spark.sql.Row.fromSeq(s +: vs)
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("stat",
        org.apache.spark.sql.types.StringType) +:
        cols.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toIndexedSeq, 1), schema)
  }

  /** pandas `describe()` on DATETIME columns (pandas ≥2 default /
    * `datetime_is_numeric=True` shape): count / mean / min / 25% / 50% /
    * 75% / max, timestamps rendered as strings (the stat column mixes
    * counts and timestamps, which pandas holds as object dtype). Same
    * job shape as numeric [[describe]] — one aggregate pass plus a
    * distributed quantile sort per column over epoch-micros.
    *
    * The mean is computed with EXACT integer arithmetic (decimal sum of
    * epoch micros, half-up integer division) — a double sum of ~1e19
    * carries ~0.3 µs of error, enough to flip the rounded microsecond
    * either side of a .5 boundary and flake any bit-exact comparison. */
  def describeDatetime(df: DataFrame, cols: Seq[String],
                       percentiles: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(cols.nonEmpty, "describe: at least one column required")
    val ps = percentiles.sorted
    // cast("timestamp") first: parquet TIMESTAMP can surface as NTZ,
    // which unix_micros rejects (identity under the UTC session tz)
    def usOf(c: String): Column = unix_micros(col(c).cast("timestamp"))
    val us = df.select(cols.map(c => usOf(c).cast("double").as(c)): _*)
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"count__$c"),
        sum(usOf(c).cast("decimal(38,0)")).as(s"sum__$c"),
        min(usOf(c)).cast("double").as(s"min__$c"),
        max(usOf(c)).cast("double").as(s"max__$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def cnt(c: String): Long = one.getLong(one.fieldIndex(s"count__$c"))
    def cell(name: String, c: String): Double = {
      val i = one.fieldIndex(s"${name}__$c")
      if (one.isNullAt(i)) Double.NaN else one.getDouble(i)
    }
    def meanUs(c: String): Option[BigInt] = {
      val i = one.fieldIndex(s"sum__$c")
      if (one.isNullAt(i) || cnt(c) == 0) None
      else {
        val s = BigInt(one.getDecimal(i).toBigInteger)
        val n = BigInt(cnt(c))
        Some((2 * s + n) / (2 * n)) // half-up for the positive epoch
      }
    }
    val quarts = cols.map(c =>
      c -> quantilesBySort(us, c, ps, knownCount = Some(cnt(c)))).toMap
    val fmtr = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def fmtL(v: Long): String = java.time.LocalDateTime.ofInstant(
      java.time.Instant.EPOCH.plus(v, java.time.temporal.ChronoUnit.MICROS),
      java.time.ZoneOffset.UTC).format(fmtr)
    def fmt(v: Double): String = if (v.isNaN) null else fmtL(math.round(v))
    val rows: Seq[(String, Seq[String])] =
      Seq("count" -> cols.map(cnt(_).toString),
        "mean" -> cols.map(c => meanUs(c).map(m => fmtL(m.toLong)).orNull),
        "min" -> cols.map(c => fmt(cell("min", c)))) ++
      ps.zipWithIndex.map { case (p, i) =>
        pctLabel(p) -> cols.map(c => fmt(quarts(c)(i)))
      } ++
      Seq("max" -> cols.map(c => fmt(cell("max", c))))
    val spark = df.sparkSession
    val data = rows.map { case (s, vs) =>
      org.apache.spark.sql.Row.fromSeq(s +: vs)
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("stat",
        org.apache.spark.sql.types.StringType) +:
        cols.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toIndexedSeq, 1), schema)
  }

  /** pandas `describe(percentiles=…)` -> (stat, col...) long-form frame.
    * One aggregate pass for count/mean/std/min/max plus
    * [[quantilesBySort]] per column for the exact percentile rows; the
    * result is assembled driver-side (describe is an eager, human-sized
    * summary — pandas' is too). */
  def describe(df: DataFrame, cols: Seq[String],
               percentiles: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(cols.nonEmpty, "describe: at least one column required")
    val ps = percentiles.sorted
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).cast("double").as(s"count__$c"),
        avg(col(c)).as(s"mean__$c"),
        stddev_samp(col(c)).as(s"std__$c"),
        min(col(c)).cast("double").as(s"min__$c"),
        max(col(c)).cast("double").as(s"max__$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def cell(name: String, c: String): Double = {
      val i = one.fieldIndex(s"${name}__$c")
      if (one.isNullAt(i)) Double.NaN else one.getDouble(i)
    }
    // one sort job per column; submit them CONCURRENTLY so wall time
    // is ~one sort instead of cols.size sequential sorts
    val quarts = Core.runConcurrently(cols)(c =>
      c -> quantilesBySort(df, c, ps,
        knownCount = Some(cell("count", c).toLong))).toMap
    val rows: Seq[(String, Seq[Double])] =
      Seq("count" -> cols.map(cell("count", _)),
        "mean" -> cols.map(cell("mean", _)),
        "std" -> cols.map(cell("std", _)),
        "min" -> cols.map(cell("min", _))) ++
      ps.zipWithIndex.map { case (p, i) =>
        pctLabel(p) -> cols.map(c => quarts(c)(i))
      } ++
      Seq("max" -> cols.map(cell("max", _)))
    val spark = df.sparkSession
    val data = rows.map { case (s, vs) =>
      org.apache.spark.sql.Row.fromSeq(s +: vs.map(v => if (v.isNaN) null else v))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("stat",
        org.apache.spark.sql.types.StringType) +:
        cols.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toIndexedSeq, 1), schema)
  }

  /** 100 TB mode of [[describe]]: ONE aggregation job, no per-column
    * sort jobs — quartiles come from `approx_percentile` (t-digest-style
    * sketch with map-side partials, `accuracy` trades error for sketch
    * size) and everything else is the same exact single-pass aggregate.
    * Use when columns are wide or a full sort per column is off-budget;
    * the exact form stays the parity/oracle surface. */
  def describeApprox(df: DataFrame, cols: Seq[String],
                     accuracy: Int = 10000,
                     percentiles: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(cols.nonEmpty, "describe: at least one column required")
    val ps = percentiles.sorted
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).cast("double").as(s"count__$c"),
        avg(col(c)).as(s"mean__$c"),
        stddev_samp(col(c)).as(s"std__$c"),
        min(col(c)).cast("double").as(s"min__$c"),
        max(col(c)).cast("double").as(s"max__$c"),
        percentile_approx(col(c), array(ps.map(lit): _*),
          lit(accuracy)).as(s"q__$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def cell(name: String, c: String): Double = {
      val i = one.fieldIndex(s"${name}__$c")
      if (one.isNullAt(i)) Double.NaN else one.getDouble(i)
    }
    def quart(c: String, qi: Int): Double = {
      val i = one.fieldIndex(s"q__$c")
      if (one.isNullAt(i)) Double.NaN
      else {
        val s = one.getSeq[Any](i)
        if (s == null || s(qi) == null) Double.NaN
        else s(qi).asInstanceOf[Number].doubleValue()
      }
    }
    val rows: Seq[(String, Seq[Double])] =
      Seq("count" -> cols.map(cell("count", _)),
        "mean" -> cols.map(cell("mean", _)),
        "std" -> cols.map(cell("std", _)),
        "min" -> cols.map(cell("min", _))) ++
      ps.zipWithIndex.map { case (p, i) =>
        pctLabel(p) -> cols.map(quart(_, i))
      } ++
      Seq("max" -> cols.map(cell("max", _)))
    val spark = df.sparkSession
    val data = rows.map { case (s, vs) =>
      org.apache.spark.sql.Row.fromSeq(s +: vs.map(v => if (v.isNaN) null else v))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("stat",
        org.apache.spark.sql.types.StringType) +:
        cols.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toIndexedSeq, 1), schema)
  }

  /** Valid (non-null, non-NaN) row values as a sorted double array — the
    * shared prestep for the axis=1 quantile family. One `sort_array` over
    * a width-k array per row: O(k log k) work inside whole-stage codegen,
    * zero shuffle — the exact shape the reference's #1 benchmark
    * (`p_quantile(q, axis=1)`, `/root/reference/README.md:23-40`,
    * dispatch `parallel_dataframe.py:608`) needs at 100 TB: embarrassingly
    * parallel over rows. */
  def rowSortedValid(cols: Seq[Column]): Column =
    sort_array(filter(array(cols.map(_.cast("double")): _*),
      x => x.isNotNull && !isnan(x)))

  /** Row-wise quantile (pandas linear interpolation) over a PRE-SORTED
    * valid-value array ([[rowSortedValid]] — materialize it once via
    * `withColumn` when taking several quantiles). Interpolates between
    * the two bracketing order statistics; the high index is clamped so
    * frac=0 never reads past the end (ANSI mode throws on out-of-bounds
    * `element_at`). Empty row -> null (pandas NaN). */
  def rowQuantileSorted(arr: Column, q: Double): Column = {
    val n = size(arr)
    val pos = (n - 1).cast("double") * lit(q)
    val lo = floor(pos).cast("int")
    val frac = pos - floor(pos)
    val loV = element_at(arr, lo + 1)
    val hiV = element_at(arr, least(lo + 2, n))
    when(n > 0, loV + frac * (hiV - loV))
  }

  /** Row-wise sample variance over the valid values (pandas
    * `var(axis=1, ddof)`): two-pass shifted-mean form
    * sum((x - mean)^2) / (n - ddof) — no catastrophic cancellation for
    * large-magnitude rows, unlike sum(x^2) - sum(x)^2/n. Null when
    * n <= ddof. Pure array HOFs — stays in codegen; the mean
    * sub-expression re-evaluates per element (HOF lambda semantics),
    * which is O(k^2) in the ROW width k — fine for axis=1 frames. */
  def rowVar(arr: Column, ddof: Int = 1): Column = {
    val n = size(arr).cast("double")
    val m = aggregate(arr, lit(0.0), (a, x) => a + x) / n
    val ss = aggregate(arr, lit(0.0), (a, x) => a + (x - m) * (x - m))
    when(n > ddof, ss / (n - ddof))
  }

  /** Row-wise sample std (pandas `std(axis=1)`). */
  def rowStd(arr: Column, ddof: Int = 1): Column = sqrt(rowVar(arr, ddof))

  /** pandas `DataFrame.agg(['sum','mean',...])` (whole-frame, axis=0;
    * reference `parallelize_aggregate`, `parallel_dataframe.py:341-361`):
    * list-spec over columns -> (stat, col...) long-form frame, exactly
    * the stat×col shape pandas concats. ONE single-pass aggregate (all
    * fn×col cells map-side combinable), assembled driver-side like
    * [[describe]]. */
  def aggregateSpec(df: DataFrame, cols: Seq[String],
                    fns: Seq[String]): DataFrame = {
    require(cols.nonEmpty && fns.nonEmpty, "aggregate: empty spec")
    val aggs = for (f <- fns; c <- cols)
      yield GroupOps.aggFn(f)(col(c)).cast("double").as(s"${f}__$c")
    val one = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val rows = fns.map { f =>
      org.apache.spark.sql.Row.fromSeq(f +: cols.map { c =>
        val i = one.fieldIndex(s"${f}__$c")
        if (one.isNullAt(i)) null
        else { val v = one.getDouble(i); if (v.isNaN) null else (v: java.lang.Double) }
      })
    }
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val schema = StructType(StructField("stat", StringType) +:
      cols.map(c => StructField(c, DoubleType)))
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** pandas `Series.value_counts(normalize, ascending, dropna)`:
    * (value, count, frac), ordered by count (desc by default) with the
    * VALUE as the deterministic tie-break (pandas' first-encountered
    * tie order is row-order-dependent — meaningless distributed). One
    * hash aggregate + a broadcast 1-row total. */
  def valueCounts(df: DataFrame, c: String, ascending: Boolean = false,
                  dropna: Boolean = true): DataFrame = {
    val base = if (dropna) df.filter(col(c).isNotNull) else df
    val counts = base.groupBy(col(c)).agg(count(lit(1)).as("count"))
    val tot = counts.agg(sum(col("count")).cast("double").as("__t"))
    val ord = if (ascending) col("count").asc else col("count").desc
    counts.crossJoin(broadcast(tot))
      .select(col(c), col("count"), (col("count") / col("__t")).as("frac"))
      .orderBy(ord, col(c))
  }

  /** 100 TB mode of nunique: HyperLogLog++ sketch (`approx_count_distinct`,
    * `rsd` = relative standard deviation) — one pass, mergeable partials,
    * constant memory; the exact `count_distinct` stays the parity surface. */
  def nuniqueApprox(df: DataFrame, cols: Seq[String],
                    rsd: Double = 0.01): DataFrame =
    df.agg(approx_count_distinct(col(cols.head), rsd).as(cols.head),
      cols.tail.map(c => approx_count_distinct(col(c), rsd).as(c)): _*)

  /** pandas `quantile(q, interpolation=)` beyond 'linear': lower /
    * higher / nearest / midpoint, exactly. Position p = q·(n−1); the
    * non-linear modes are order statistics at ⌊p⌋/⌈p⌉, fetched with the
    * same exact `percentile` at integer-position fractions (linear
    * interpolation at an integer position IS the element). 'nearest'
    * uses numpy's banker's rounding at frac = .5 (even index wins),
    * matching pandas. One count job + one aggregate for ALL requested
    * qs and modes; non-null count per column, like pandas. Returns one
    * row per q: (q, linear, lower, higher, nearest, midpoint). */
  def quantileInterp(df: DataFrame, c: String, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1),
      s"quantile: need 0<=q<=1, got $qs")
    val spark = df.sparkSession
    val x = col(c).cast("double")
    val n = df.filter(x.isNotNull && !isnan(x)).count()
    require(n > 0, s"quantile: no non-null values in $c")
    def at(pos: Long): Column =
      if (n == 1) percentile(x, lit(0.0))
      else percentile(x, lit(pos.toDouble / (n - 1)))
    val aggs = qs.zipWithIndex.flatMap { case (q, i) =>
      val p = q * (n - 1)
      val lo = math.floor(p).toLong
      val hi = math.ceil(p).toLong
      val frac = p - lo
      val near =
        if (frac > 0.5) hi
        else if (frac < 0.5) lo
        else if (lo % 2 == 0) lo else hi // numpy banker's rounding
      Seq(percentile(x, lit(q)).as(s"__lin$i"), at(lo).as(s"__lo$i"),
        at(hi).as(s"__hi$i"), at(near).as(s"__nr$i"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("q", DoubleType),
      StructField("linear", DoubleType), StructField("lower", DoubleType),
      StructField("higher", DoubleType), StructField("nearest", DoubleType),
      StructField("midpoint", DoubleType)))
    val rows = qs.zipWithIndex.map { case (q, i) =>
      val lo = one.getDouble(4 * i + 1); val hi = one.getDouble(4 * i + 2)
      org.apache.spark.sql.Row(q, one.getDouble(4 * i), lo, hi,
        one.getDouble(4 * i + 3), (lo + hi) / 2.0)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }
}
