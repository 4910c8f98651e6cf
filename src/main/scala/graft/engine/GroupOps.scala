package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GroupBy operators: agg-spec interpreter, transform, pivot_table, merge.
  *
  * Reference: `/root/reference/parallel_pandas/core/parallel_groupby.py`
  * (p_agg `:187-257`, p_transform `:96-184`, p_apply `:66-93`) and
  * `parallel_dataframe.py` (pivot_table `:100-183`, merge `:650-687`).
  *
  * pandas semantics kept:
  *   - null group keys are excluded from aggregation (`dropna=True`,
  *     `parallel_groupby.py:111-124`) but transform leaves their rows
  *     null;
  *   - `sort=True` default -> result ordered by keys;
  *   - agg specs: string | list | dict | named -> one Catalyst agg
  *     expression each, single hash-aggregate pass (map-side partials,
  *     one shuffle on the keys — the minimal plan at any scale).
  */
object GroupOps {

  /** String agg-spec -> Catalyst aggregate (pandas names). */
  def aggFn(name: String)(c: Column): Column = name match {
    case "sum"     => sum(c)
    case "mean"    => avg(c)
    case "min"     => min(c)
    case "max"     => max(c)
    case "count"   => count(c)
    case "median"  => percentile(c, lit(0.5))
    case "std"     => stddev_samp(c)
    case "var"     => var_samp(c)
    case "sem"     => Reductions.sem(c)
    case "skew"    => Reductions.sampleSkew(c)
    case "kurt"    => Reductions.sampleKurt(c)
    case "prod"    => Reductions.product(c)
    case "nunique" => count_distinct(c)
    case "first"   => first(c, ignoreNulls = true)
    case "last"    => last(c, ignoreNulls = true)
    case other     => throw new IllegalArgumentException(s"agg fn: $other")
  }

  /** Dict/list agg spec: (column -> list of fn names), output columns
    * named `col_fn` (pandas flattened MultiIndex convention). Null keys
    * dropped, result sorted by keys (pandas defaults). */
  def agg(df: DataFrame, keys: Seq[String],
          spec: Seq[(String, Seq[String])],
          dropNullKeys: Boolean = true,
          sortKeys: Boolean = true): DataFrame = {
    val base = if (dropNullKeys)
      df.filter(keys.map(col(_).isNotNull).reduce(_ && _)) else df
    val exprs = spec.flatMap { case (c, fns) =>
      fns.map(f => aggFn(f)(col(c)).as(s"${c}_$f"))
    }
    val out = base.groupBy(keys.map(col): _*).agg(exprs.head, exprs.tail: _*)
    if (sortKeys) out.orderBy(keys.map(col): _*) else out
  }

  /** transform fast path: built-in agg broadcast back to rows — a window
    * aggregate partitioned by the keys (no join, one shuffle). Null keys
    * produce null output (pandas parity) rather than aggregating the
    * null partition. */
  def transform(fn: String, c: Column, keys: Seq[Column]): Column = {
    val w = Window.partitionBy(keys: _*)
    val anyNull = keys.map(_.isNull).reduce(_ || _)
    when(anyNull, lit(null)).otherwise(aggFn(fn)(c).over(w))
  }

  /** pandas `GroupBy.transform(func)` with an ARBITRARY series->series
    * function — the join-back path for callables the window fast path
    * ([[transform]]) can't express (reference accepts any callable,
    * `parallel_groupby.py:96-184`).
    *
    * Shape: a slim (group-key, row-id, order, value) projection goes
    * through ONE `flatMapGroups` pass that sorts each group by `ordCol`,
    * applies `f` to the group's value series (nulls arrive as NaN, like
    * pandas), and emits (row-id, result); an equi-join on the row id
    * puts results back on the full rows. Null-key rows never enter a
    * group and stay null (pandas parity). Two shuffles (groups + join),
    * both on compact keys; group contents must fit one executor — the
    * same contract as pandas' per-group callable. */
  def transformApply(df: DataFrame, keys: Seq[String], ordCol: String,
                     valueCol: String, out: String)
                    (f: IndexedSeq[Double] => IndexedSeq[Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val withId = df.withColumn("__rid", monotonically_increasing_id())
    val slim = withId
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .select(
        concat_ws("\u0001", keys.map(col(_).cast("string")): _*).as("__k"),
        col("__rid"),
        col(ordCol).cast("double").as("__o"),
        coalesce(col(valueCol).cast("double"), lit(Double.NaN)).as("__v"))
      .as[(String, Long, Double, Double)]
    val mapped = slim.groupByKey(_._1)
      .flatMapGroups { (_: String, it: Iterator[(String, Long, Double, Double)]) =>
        val rows = it.toIndexedSeq.sortBy(_._3)
        val outs = f(rows.map(_._4))
        require(outs.size == rows.size,
          s"transform fn returned ${outs.size} values for a ${rows.size}-row group")
        rows.iterator.zip(outs.iterator).map { case (rw, v) => (rw._2, v) }
      }
      .toDF("__rid2", out)
    withId.join(mapped, col("__rid") === col("__rid2"), "left")
      .drop("__rid", "__rid2")
  }

  /** pivot_table: groupBy(index).pivot(column, values).agg. Providing the
    * pivot values explicitly skips Spark's extra distinct-collect job and
    * makes output columns deterministic. */
  def pivotTable(df: DataFrame, index: Seq[String], column: String,
                 values: Seq[String], value: String, aggfunc: String,
                 fillValue: Option[Double] = None,
                 dropNullKeys: Boolean = true): DataFrame = {
    val base = if (dropNullKeys)
      df.filter(index.map(col(_).isNotNull).reduce(_ && _)) else df
    val out = base.groupBy(index.map(col): _*)
      .pivot(column, values)
      .agg(aggFn(aggfunc)(col(value)))
    val filled = fillValue.map(v => out.na.fill(v, values)).getOrElse(out)
    filled.orderBy(index.map(col): _*)
  }

  /** pandas `GroupBy.describe()` on one value column: per-group
    * count/mean/std/min/25%/50%/75%/max as flat `<c>_<stat>` columns.
    * ONE grouped aggregate pass — the exact `percentile` buffers are
    * per-group (bounded by group cardinality), all map-side combinable,
    * single shuffle on the keys. */
  def describeBy(df: DataFrame, keys: Seq[String], c: String,
                 percentiles: Seq[Double] = Seq(0.25, 0.5, 0.75),
                 dropNullKeys: Boolean = true,
                 sortKeys: Boolean = true): DataFrame = {
    val base = if (dropNullKeys)
      df.filter(keys.map(col(_).isNotNull).reduce(_ && _)) else df
    val v = col(c)
    val aggs = Seq(
      count(v).as(s"${c}_count"),
      avg(v).as(s"${c}_mean"),
      stddev_samp(v).as(s"${c}_std"),
      min(v).as(s"${c}_min")) ++
      percentiles.map(p =>
        percentile(v, lit(p)).as(s"${c}_p${math.round(p * 100)}")) ++
      Seq(max(v).as(s"${c}_max"))
    val out = base.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    if (sortKeys) out.orderBy(keys.map(col): _*) else out
  }

  /** Two-phase aggregation for SKEWED keys (the classic salting pattern):
    * partial-aggregate per (key, salt), then combine the salt buckets.
    * Exact for the algebraic stats exposed here (sum/count/min/max, with
    * mean = combined sum / combined count). The salt is the deterministic
    * partition id modulo `salt` — no rand(), so results are reproducible.
    *
    * When ONE key holds a large share of all rows, a plain groupBy sends
    * that key's every row to a single reducer; salting caps any single
    * task at ~1/salt of the key's volume. (Spark's AQE skew handling
    * covers joins, not aggregations — this is the aggregation-side
    * equivalent.) */
  def saltedStats(df: DataFrame, keys: Seq[String], value: String,
                  salt: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt", pmod(spark_partition_id(), lit(salt)))
    val partial = salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(col(value)).as("__s"), count(col(value)).as("__n"),
        min(col(value)).as("__mn"), max(col(value)).as("__mx"))
    partial.groupBy(keys.map(col): _*)
      .agg(sum("__s").as(s"${value}_sum"),
        sum("__n").as(s"${value}_count"),
        (sum("__s") / sum("__n")).as(s"${value}_mean"),
        min("__mn").as(s"${value}_min"),
        max("__mx").as(s"${value}_max"))
  }

  /** pandas merge: equi-join with suffix disambiguation of overlapping
    * non-key columns. Spark picks broadcast/sort-merge itself; callers
    * can wrap the right side in `broadcast()`. `validate`: see
    * [[validateMerge]]. */
  def merge(left: DataFrame, right: DataFrame, on: Seq[String],
            how: String = "inner",
            suffixes: (String, String) = ("_x", "_y"),
            validate: Option[String] = None): DataFrame = {
    validate.foreach(validateMerge(_, left, on, right, on))
    val overlap = (left.columns.toSet intersect right.columns.toSet) -- on.toSet
    val l = overlap.foldLeft(left)((d, c) => d.withColumnRenamed(c, c + suffixes._1))
    val r = overlap.foldLeft(right)((d, c) => d.withColumnRenamed(c, c + suffixes._2))
    // pandas 2.x how='cross': cartesian product, `on` must be empty
    if (how == "cross") {
      require(on.isEmpty,
        "MergeError: Can not pass on, right_on, left_on with how='cross'")
      l.crossJoin(r)
    } else l.join(r, on, how)
  }

  /** pandas `merge(validate=…)`: "1:1" / "1:m" / "m:1" / "m:m" (or the
    * spelled-out forms) asserts key uniqueness on the constrained
    * side(s) BEFORE the join, failing fast with pandas' MergeError
    * message shape. The check is one map-side-combinable `max(count)`
    * aggregate per constrained side (never a frame-sized collect);
    * "m:m" checks nothing, like pandas. */
  private def validateMerge(v: String, left: DataFrame, leftOn: Seq[String],
                            right: DataFrame, rightOn: Seq[String]): Unit = {
    def unique(df: DataFrame, ks: Seq[String]): Boolean =
      df.groupBy(ks.map(col): _*).count()
        .agg(coalesce(max(col("count")), lit(0L)).as("m"))
        .collect()(0).getLong(0) <= 1
    def fail(side: String, kind: String): Nothing =
      throw new IllegalArgumentException(
        s"MergeError: Merge keys are not unique in $side dataset; " +
          s"not a $kind merge")
    v match {
      case "1:1" | "one_to_one" =>
        if (!unique(left, leftOn)) fail("left", "one-to-one")
        if (!unique(right, rightOn)) fail("right", "one-to-one")
      case "1:m" | "one_to_many" =>
        if (!unique(left, leftOn)) fail("left", "one-to-many")
      case "m:1" | "many_to_one" =>
        if (!unique(right, rightOn)) fail("right", "many-to-one")
      case "m:m" | "many_to_many" => ()
      case other =>
        throw new IllegalArgumentException(
          s""""$other" is not a valid argument. Valid arguments are:
             |- "1:1"
             |- "1:m"
             |- "m:1"
             |- "m:m"""".stripMargin)
    }
  }

  /** pandas `merge(left_on=, right_on=, left_index=, right_index=)` —
    * the asymmetric-key forms (reference `parallel_dataframe.py:660-672`
    * passes all four through to pandas). The engine materializes the
    * pandas index as an ordinary column at ingest ([[IO.withRowId]]),
    * so `left_index=True` is simply `leftOn = Seq("row_id")`: one entry
    * point covers left_on+right_index, left_index+right_on and
    * index-to-index. Differing key names keep BOTH key columns (pandas
    * left_on/right_on behavior); identical key lists delegate to
    * [[merge]], which emits the single shared key column. `indicator`
    * adds pandas' `_merge` column (left_only/right_only/both) from
    * presence FLAGS, not value nullability — correct even when payload
    * columns are legitimately null. Plain equi-join underneath: shuffle
    * on the keys, AQE broadcast when one side is small. */
  def mergeOn(left: DataFrame, right: DataFrame,
              leftOn: Seq[String], rightOn: Seq[String],
              how: String = "inner",
              suffixes: (String, String) = ("_x", "_y"),
              indicator: Boolean = false,
              validate: Option[String] = None): DataFrame = {
    require(leftOn.nonEmpty && leftOn.size == rightOn.size,
      s"MergeError: len(left_on)=${leftOn.size} must equal " +
        s"len(right_on)=${rightOn.size} and be nonzero")
    val l0 = if (indicator) left.withColumn("__ml", lit(1)) else left
    val r0 = if (indicator) right.withColumn("__mr", lit(1)) else right
    def finish(j: DataFrame): DataFrame =
      if (!indicator) j
      else j.withColumn("_merge",
          when(col("__ml").isNull, "right_only")
            .when(col("__mr").isNull, "left_only")
            .otherwise("both"))
        .drop("__ml", "__mr")
    if (leftOn == rightOn)
      return finish(merge(l0, r0, leftOn, how, suffixes, validate))
    validate.foreach(validateMerge(_, left, leftOn, right, rightOn))
    // overlapping names (keys with DIFFERENT names are not exempt —
    // pandas suffixes any shared name that isn't a shared key)
    val overlap = l0.columns.toSet intersect r0.columns.toSet
    val l = overlap.foldLeft(l0)((d, c) => d.withColumnRenamed(c, c + suffixes._1))
    val r = overlap.foldLeft(r0)((d, c) => d.withColumnRenamed(c, c + suffixes._2))
    def named(side: DataFrame, c: String, suf: String): Column =
      if (overlap.contains(c)) side(c + suf) else side(c)
    val cond = leftOn.zip(rightOn).map { case (a, b) =>
      named(l, a, suffixes._1) === named(r, b, suffixes._2) }
      .reduce(_ && _)
    finish(l.join(r, cond, how))
  }
}
