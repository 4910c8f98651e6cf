package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Cumulative / order-sensitive per-row ops: cumsum, cummin, cummax,
  * cumprod, pct_change.
  *
  * Reference: `ParallelizeAccumFunc` (`/root/reference/parallel_pandas/
  * core/parallel_dataframe.py:864-916`) and latent `p_pct_change`
  * (`:465-489`). pandas semantics: NaN cells stay NaN in the output and
  * are skipped by the accumulation (skipna=True default).
  *
  * Scale note: a global `Window.orderBy(idx)` with no partitionBy
  * serializes into one task. Callers at cluster scale should pass a
  * partitioned window (`Window.partitionBy(group).orderBy(idx)`) — all
  * of the engine's own grouped queries do. A truly global running sum at
  * 100 TB needs the two-pass range-partitioned prefix-sum: sort, per-
  * partition partials, broadcast the partition prefix offsets, add. The
  * unit of work the reference supports (per-group cumulatives) never
  * needs it.
  */
object Cumulative {

  private def running(w: WindowSpec) =
    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** NaN/null passthrough: pandas keeps the cell NaN but continues the
    * accumulation across it; Spark window aggs already skip nulls, we just
    * re-null the output cell where the input was null. */
  private def keepNull(c: Column, out: Column): Column =
    when(c.isNull, lit(null)).otherwise(out)

  def cumsum(c: Column, w: WindowSpec): Column = keepNull(c, sum(c).over(running(w)))
  def cummin(c: Column, w: WindowSpec): Column = keepNull(c, min(c).over(running(w)))
  def cummax(c: Column, w: WindowSpec): Column = keepNull(c, max(c).over(running(w)))

  /** pandas `skipna=False` mode: the first NaN poisons every later cell
    * (result is null from the first null input onward). The poison flag
    * is a running max over the null indicator — same single window
    * frame as the accumulation itself. */
  private def poisoned(c: Column, w: WindowSpec, out: Column): Column =
    when(max(when(c.isNull, 1).otherwise(0)).over(running(w)) === 1,
      lit(null)).otherwise(out)
  def cumsumNoSkip(c: Column, w: WindowSpec): Column =
    poisoned(c, w, sum(c).over(running(w)))
  def cummaxNoSkip(c: Column, w: WindowSpec): Column =
    poisoned(c, w, max(c).over(running(w)))

  /** cumprod via the product Aggregator as a running window function
    * (exact, handles zeros/negatives; WindowExec evaluates the growing
    * frame incrementally, O(n) per partition). */
  def cumprod(c: Column, w: WindowSpec): Column =
    keepNull(c, udaf(Reductions.productAgg).apply(c).over(running(w)))

  /** GLOBAL running sum without a single-partition window — the 100 TB
    * path for un-grouped cumulatives. Two passes:
    *   1. range-partition by the order key and take per-partition sums
    *      (tiny: one row per partition, collected to the driver);
    *   2. per-partition running sum (parallel `Window.partitionBy` on the
    *      partition id) plus the broadcast prefix offset.
    *
    * The ranged frame is localCheckpoint'ed: `repartitionByRange` SAMPLES
    * to pick bounds, so re-evaluating it for the second pass could assign
    * rows to different partitions than the offsets were computed from.
    * `order` must be a total order (unique keys) for a well-defined
    * result — same requirement as any running sum. Every value column
    * shares the one range shuffle, partials job and offsets broadcast;
    * the rank kernel's in-plan ungrouped tables sum a count and a dense
    * index in the same ordering.
    *
    * Precision: partials and offsets are carried as Double — prefix
    * sums are exact only up to 2^53. Fine for counts/measures; do NOT
    * feed 64-bit id-like columns through this expecting exact sums. */
  def globalCumsumMulti(df: org.apache.spark.sql.DataFrame, order: Seq[Column],
                        values: Seq[(Column, String)],
                        partitions: Int = 0): org.apache.spark.sql.DataFrame = {
    val n = if (partitions > 0) partitions
            else df.sparkSession.sparkContext.defaultParallelism
    val ranged = df.repartitionByRange(n, order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val sumAggs = values.zipWithIndex.map { case ((v, _), i) =>
      coalesce(sum(v), lit(0.0)).as(s"s$i")
    }
    val partials: Map[Int, Seq[Double]] = ranged.groupBy("__pid")
      .agg(sumAggs.head, sumAggs.tail: _*)
      .collect().map(r => r.getInt(0) ->
        values.indices.map(i => r.getDouble(i + 1))).toMap
    val pids = partials.keys.toSeq.sorted
    val offsets: Seq[Map[Int, Double]] = values.indices.map { i =>
      pids.zip(pids.scanLeft(0.0)((acc, p) => acc + partials(p)(i))
        .dropRight(1)).toMap
    }
    val w = Window.partitionBy("__pid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    values.zipWithIndex.foldLeft(ranged) { case (acc, ((v, out), i)) =>
      acc.withColumn(out, sum(v).over(w) +
        coalesce(element_at(typedLit(offsets(i)), col("__pid")), lit(0.0)))
    }.drop("__pid")
  }

  /** GLOBAL running sum via VALUE-DETERMINISTIC buckets — the lazy,
    * checkpoint-free alternative to [[globalCumsumMulti]] when the
    * leading order column is numeric.
    *
    * One light job fetches ~`buckets` approximate quantile cut points
    * of `lead`; the bucket id is then a pure function of the value, so
    * the per-bucket partial-sums branch and the main branch agree by
    * construction (a sampled `repartitionByRange` evaluated twice picks
    * different bounds — the reason the Multi variant must checkpoint).
    * Running offsets come from a window over the ~`buckets`-row partials
    * table, broadcast back; within-bucket running sums are ordinary
    * partitioned windows. Ties in `lead` share a bucket, so any total
    * `order` extending `lead` is consistent across buckets.
    *
    * Same 2^53 Double-exactness bound as the Multi variant. */
  def globalCumsumBucketed(df: org.apache.spark.sql.DataFrame,
                           order: Seq[Column], lead: String,
                           values: Seq[(Column, String)],
                           buckets: Int = 0): org.apache.spark.sql.DataFrame = {
    val n = if (buckets > 0) buckets
            else df.sparkSession.sparkContext.defaultParallelism
    val cuts = df.stat.approxQuantile(
      lead, (1 until n).map(_.toDouble / n).toArray, 0.01).distinct.sorted
    // native binary-search bucket expression (graft.functions.BucketBin)
    def bucketOf(v: Column): Column =
      coalesce(graft.functions.BucketBin.bucketBin(v, cuts), lit(0))
    val sums = values.zipWithIndex.map { case ((v, _), i) =>
      coalesce(sum(v), lit(0.0)).as(s"__s$i")
    }
    val wOff = Window.orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = df.groupBy(bucketOf(col(lead)).as("__bkt"))
      .agg(sums.head, sums.tail: _*)
      .select(col("__bkt") +: values.indices.map(i =>
        coalesce(sum(col(s"__s$i")).over(wOff), lit(0.0)).as(s"__off$i")): _*)
    val w = Window.partitionBy("__bkt").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    values.zipWithIndex.foldLeft(
        df.withColumn("__bkt", bucketOf(col(lead)))
          .join(broadcast(offs), Seq("__bkt"), "left")) {
        case (acc, ((v, out), i)) =>
          acc.withColumn(out, sum(v).over(w) + col(s"__off$i"))
      }
      .drop("__bkt" +: values.indices.map(i => s"__off$i"): _*)
  }

  /** pct_change(periods, fill_method='pad', limit=): forward-fill then
    * lag. `x/lag(x) - 1` over the given ordering. `limit=n` caps the
    * pad at n consecutive nulls, exactly pandas' ffill(limit=): a null
    * more than n rows past the last valid value stays null — which is
    * just `last(ignoreNulls)` over a BOUNDED trailing frame of n+1
    * rows (the nearest valid value, when within reach, is inside that
    * frame and is its last non-null). Bounded frame ⇒ bounded state at
    * any scale. The reference also forwards `freq=` (index
    * realignment, not a window op) — that form is [[pctChangeFreq]].
    *
    * Zero denominator -> null via try_divide (Spark's ANSI mode would
    * otherwise THROW, and it matches the DuckDB oracle's NULL; pandas
    * yields +/-inf here — documented deviation, the only disagreement
    * in the family). */
  def pctChange(c: Column, w: WindowSpec, periods: Int = 1,
                fillMethod: Option[String] = Some("pad"),
                limit: Option[Int] = None): Column = {
    val filled = fillMethod match {
      case Some("pad") =>
        val frame = limit match {
          case Some(n) => w.rowsBetween(-n.toLong, Window.currentRow)
          case None => w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        }
        last(c, ignoreNulls = true).over(frame)
      case _ => c
    }
    try_divide(filled, lag(filled, periods).over(w)) - 1
  }

  /** pandas `pct_change(freq=...)` (`parallel_dataframe.py:465-489`
    * forwards it): the value at t vs the value at EXACTLY t − freq in
    * the (by, ts) index — `df / df.shift(freq=f) - 1`, null when no
    * row exists at the shifted timestamp. This is index REALIGNMENT,
    * not a lag: row counts between t and t − freq are irrelevant.
    *
    * Scale shape: ONE equi-join of the frame against itself with the
    * timestamp shifted forward (calendar-correct month/quarter/year
    * arithmetic, fixed intervals otherwise) — shuffles once on
    * (by, ts), AQE-planned, never globally sorted. Requires (by, ts)
    * unique, as pandas does (shift-alignment on duplicate labels
    * raises there). Zero denominator → null via try_divide, matching
    * [[pctChange]]'s documented deviation. Appends `<col>_pct` per
    * value column. */
  def pctChangeFreq(df: DataFrame, ts: String, valueCols: Seq[String],
                    freq: String, by: Seq[String] = Nil): DataFrame = {
    val off = freqInterval(freq)
    val prev = df.select(by.map(col) ++ Seq((col(ts) + off).as(ts)) ++
      valueCols.map(c => col(c).as(s"__prev_$c")): _*)
    df.join(prev, by :+ ts, "left")
      .select(df.columns.map(col) ++ valueCols.map(c =>
        (try_divide(col(c), col(s"__prev_$c")) - lit(1)).as(s"${c}_pct")): _*)
  }

  private def freqInterval(freq: String): Column = freq match {
    case "Y" | "A"   => expr("INTERVAL 12 MONTH")
    case "Q"         => expr("INTERVAL 3 MONTH")
    case "M"         => expr("INTERVAL 1 MONTH")
    case "W"         => expr("INTERVAL 7 DAY")
    case "D"         => expr("INTERVAL 1 DAY")
    case "H"         => expr("INTERVAL 1 HOUR")
    case "min" | "T" => expr("INTERVAL 1 MINUTE")
    case "S"         => expr("INTERVAL 1 SECOND")
    case other => throw new IllegalArgumentException(
      s"pct_change(freq=): unsupported freq '$other'")
  }
}
