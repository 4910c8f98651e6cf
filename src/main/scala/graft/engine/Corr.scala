package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Correlation matrices: pearson / spearman / kendall.
  *
  * Reference: `p_corr` (`/root/reference/parallel_pandas/core/
  * parallel_dataframe.py:285-325`, numba kernels `_numba.py:44-158`).
  * pandas semantics: full col x col matrix, pairwise NaN masking,
  * `min_periods` gate; spearman = pearson over average ranks; kendall is
  * tau-b (tie-adjusted).
  *
  * Scale notes: pearson over k columns is one aggregate pass with
  * k*(k-1)/2 `corr` expressions (map-side combinable — fine for the
  * reference's <=100-column frames; for very wide frames
  * [[pearsonLongGramian]] computes the Gramian once). Spearman's rank prestep is the [[Rank]] kernel —
  * one probe job, then broadcast stats joins or bucketed midrank
  * windows, no global window at any scale. Kendall (the reference's
  * numba kernel is O(n²) pairwise, `_numba.py:106-146`) is one kernel,
  * [[kendallMatrix]], with one rule: one bounded collect of the rows
  * is both the probe and the data; at most [[kendallCollectMaxRows]]
  * rows run Knight's O(n log n) tau on the driver, more run every pair
  * through the exact grid decomposition ([[kendallGrid]]). Both see
  * the same input projection and pairwise masks. [[kendallMatrixBy]]
  * runs the same per-cell step per group on the executors, and
  * [[kendallApprox]] samples into the kernel.
  */
object Corr {

  /** The Kendall kernel's driver bound: rows allowed under a ~256 MB
    * driver-heap budget, with a JVM cost model of ~(64 + 48·k) bytes
    * per collected external Row of k boxed doubles (Row object + field
    * array + a boxed Double per cell). k=2 → ~1.7M rows, k=4 → ~1.0M.
    * [[kendallMatrix]] runs the driver pass up to this many rows and
    * the grid above it; [[kendallMatrixBy]] buffers at most this many
    * rows per group. */
  def kendallCollectMaxRows(k: Int): Long =
    (256L << 20) / (64L + 48L * k.max(1))

  /** Pairwise pearson matrix in long form (c1, c2, corr), upper triangle. */
  def pearsonLong(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) => Core.safeCorr(col(a), col(b)).as(s"${a}__$b") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) => s"'$a', '$b', `${a}__$b`" }
      .mkString(s"stack(${pairs.size}, ", ", ", ") as (c1, c2, corr)")
    one.select(expr(stacked))
  }

  /** pandas `groupby(key).corr()`: the per-group correlation matrix in
    * long form (key, c1, c2, corr), upper triangle incl. the diagonal.
    * pearson: ONE grouped aggregate carries all k(k+1)/2 `corr` cells —
    * map-side-combinable co-moments, one shuffle on the group key.
    * spearman: each column midranked WITHIN its group by the [[Rank]]
    * kernel — stats joins or (key, value-bucket) windows, never
    * `Window.partitionBy(key)`, so a low-cardinality group key
    * (l_returnflag: 3 values) never serializes n/3 of the corpus
    * through one sort task. NULL cells midrank to NULL and are pairwise-
    * masked by the correlation (the old group-window form ranked nulls
    * first, polluting the coefficient). Columns are cast to double up
    * front, like pandas' `to_numpy(dtype=float)`: every rank regime then
    * ranks the same float64 values (a long above 2^53 ties with its
    * double neighbours on both sides of the key bound). Like
    * [[spearmanMatrix]], ranks are computed per COLUMN (not per pair):
    * on null-laden data this is
    * rank-then-mask, whereas pandas re-ranks each pair's common rows —
    * the documented fast-path deviation; see [[corrMatrixPairwise]] for
    * the exact per-pair semantics ungrouped.
    * Degenerate cells (zero variance in a group) are null, like pandas'
    * NaN. */
  def corrMatrixBy(df0: DataFrame, key: String, cols: Seq[String],
                   method: String = "pearson",
                   minPeriods: Int = 1): DataFrame = {
    // pandas groupby(dropna=True): null keys drop for EVERY method
    // (Spark's groupBy would keep a null-key group)
    val df = df0.filter(col(key).isNotNull)
      .select(col(key) +: cols.map(c => col(c).cast("double").as(c)): _*)
    val src = method match {
      case "pearson" => df
      case "spearman" =>
        Rank.midrank(Rank.probe(df, Seq(key), cols), cols.map(c => s"__mr_$c"))
          .select(col(key) +: cols.map(c => col(s"__mr_$c").as(c)): _*)
      case "kendall" =>
        return kendallMatrixBy(df, key, cols, minPeriods)
          .withColumnRenamed("kendall", "corr")
      case other => throw new IllegalArgumentException(
        s"corrMatrixBy: method='$other' (pearson|spearman|kendall)")
    }
    val pairs = for {
      i <- cols.indices; j <- i until cols.size
    } yield (cols(i), cols(j))
    // min_periods gates per CELL on the pairwise-complete count, like
    // pandas DataFrame.corr within each group (spearman counts ranked
    // cells, which null exactly where the original was null/NaN)
    val aggs = pairs.flatMap { case (a, b) => Seq(
      Core.safeCorr(col(a), col(b)).as(s"${a}__$b"),
      count(when(col(a).isNotNull && col(b).isNotNull, 1))
        .as(s"${a}__${b}__n")) }
    val one = src.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) =>
      s"'$a', '$b', CASE WHEN `${a}__${b}__n` >= $minPeriods " +
        s"THEN `${a}__$b` END" }
      .mkString(s"stack(${pairs.size}, ", ", ", ") as (c1, c2, corr)")
    one.select(col(key), expr(stacked))
  }

  /** Injective string form of a group-key value for `groupByKey`.
    * `String.valueOf` alone is identity-hash for `Array[Byte]` (Spark
    * BinaryType surfaces as a JVM array), which would put EQUAL binary
    * keys in different groups — encode binary as hex and recurse into
    * containers instead. Container ELEMENTS are length-prefixed
    * (`<len>:<token>`) so a separator character inside a string element
    * can never alias two distinct keys (Seq("a,b") vs Seq("a","b")),
    * and strings/nulls carry a type tag so a string element can never
    * collide with the null marker or a container rendering -- the same
    * scheme as snapshotDiff's digest. -0.0 encodes as 0.0, so the two
    * zeros are one group, as in `groupBy` and pandas. */
  private[graft] def groupKeyString(v: Any): String = v match {
    case null => "n"
    case s: String => "s" + s
    case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
    case a: Array[_] => a.map(keyToken).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] =>
      s.map(keyToken).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(keyToken).mkString("(", ",", ")")
    case other => String.valueOf(unsignedZero(other))
  }
  /** Length-prefixed element token: the prefix fixes where each token
    * ends, making container encodings injective given injective element
    * encodings. */
  private def keyToken(v: Any): String = {
    val e = groupKeyString(v); e.length + ":" + e
  }
  private def unsignedZero(v: Any): Any = v match {
    case d: Double if d == 0.0 => 0.0
    case f: Float if f == 0f => 0f
    case other => other
  }

  /** pandas `groupby(key).corr(method='kendall')` — per-group tau-b
    * matrix in long form (key, c1, c2, kendall), upper triangle incl.
    * the diagonal, completing [[corrMatrixBy]]'s method set. pandas
    * runs scipy's kendalltau per group; the analogue here is ONE typed
    * flatMapGroups after one shuffle on the key: each group's k
    * columns, in the kernel's input projection, buffer into arrays
    * (GROUP-sized memory — the same contract as pandas' per-group
    * kernel and GroupBy.p_apply) and the kernel's per-cell step
    * ([[kendallCell]]: pairwise mask, `minPeriods` gate, Knight's
    * O(n log n) tau) runs per pair, groups in parallel across
    * executors. A group above [[kendallCollectMaxRows]] rows fails
    * fast (run that group's slice through [[kendallMatrix]]).
    * OFF-diagonal degenerate (constant-side) cells are null; the
    * diagonal is LITERAL 1.0 without invoking the kernel — the
    * reference's unconditional `np.fill_diagonal(result_mat, 1)`, same
    * rule as [[corrMatrixWith]], so a within-group-constant column
    * still self-correlates at 1 (this matches the REFERENCE's
    * unconditional diagonal fill; actual pandas would NaN a diagonal
    * cell whose column has fewer than min_periods valid values —
    * reference-parity wins the tie, documented deviation). Null
    * grouping keys drop (pandas groupby dropna=True, like
    * [[GroupOps.agg]]). The TYPED key value rides through the group
    * output itself (first row of each group) — no string round-trip
    * join-back, no second scan of a possibly non-deterministic
    * upstream (ADVICE r10). Groups are keyed on an injective string
    * form of the key ([[groupKeyString]]). */
  def kendallMatrixBy(df: DataFrame, key: String, cols: Seq[String],
                      minPeriods: Int = 1): DataFrame =
    kendallGroups(df, key, cols, minPeriods, kendallCollectMaxRows(cols.size))

  /** [[kendallMatrixBy]] with its per-group row bound as a parameter. */
  private[graft] def kendallGroups(df: DataFrame, key: String,
      cols: Seq[String], minPeriods: Int, maxGroupRows: Long): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val k = cols.size
    require(k >= 1, "kendallMatrixBy: need at least one column")
    val slim = kendallInput(df.filter(col(key).isNotNull), cols, col(key).as("__k"))
    val outSchema = StructType(Seq(
      StructField(key, slim.schema("__k").dataType),
      StructField("c1", StringType, nullable = false),
      StructField("c2", StringType, nullable = false),
      StructField("kendall", DoubleType)))
    slim.groupByKey(r => groupKeyString(r.get(0)))(Encoders.STRING)
      .flatMapGroups { (ks: String, it: Iterator[Row]) =>
        val rows = it.zipWithIndex.map { case (r, t) =>
          require(t < maxGroupRows, s"kendallMatrixBy: group '$ks' exceeds " +
            s"$maxGroupRows rows — run its slice through kendallMatrix")
          r
        }.toArray
        val keyVal = unsignedZero(rows(0).get(0))
        val data = Array.tabulate(k, rows.length)((i, t) => rows(t).getDouble(1 + i))
        for (i <- (0 until k).iterator; j <- i until k) yield
          if (i == j) Row(keyVal, cols(i), cols(j), 1.0) // fill_diagonal
          else Row(keyVal, cols(i), cols(j), kendallCell(data, i, j, minPeriods)._1)
      }(Encoders.row(outSchema))
  }

  /** pandas `groupby(key).cov(ddof=1)`: per-group covariance matrix in
    * long form (key, c1, c2, cov) — same one-grouped-aggregate shape as
    * [[corrMatrixBy]], with per-group variances on the diagonal. */
  def covMatrixBy(df0: DataFrame, key: String, cols: Seq[String],
                  minPeriods: Int = 1): DataFrame = {
    val df = df0.filter(col(key).isNotNull) // pandas groupby dropna=True
    val pairs = for {
      i <- cols.indices; j <- i until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (a, b) =>
      Seq(covar_samp(col(a), col(b)).as(s"${a}__$b"),
        count(when(col(a).isNotNull && col(b).isNotNull, 1))
          .as(s"${a}__${b}__n"))
    }
    val one = df.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) =>
      s"'$a', '$b', CASE WHEN `${a}__${b}__n` >= $minPeriods THEN `${a}__$b` END"
    }.mkString(s"stack(${pairs.size}, ", ", ", ") as (c1, c2, cov)")
    one.select(col(key), expr(stacked))
  }

  /** Pairwise covariance matrix (pandas `DataFrame.cov(ddof=1,
    * min_periods)`) in long form (c1, c2, cov), upper triangle plus the
    * diagonal (pandas' cov matrix carries per-column variance there).
    * `covar_samp` masks pairwise-incomplete rows like pandas; the
    * min_periods gate nulls under-observed cells. One aggregate pass —
    * all k(k+1)/2 co-moments are map-side combinable. */
  def covLong(df: DataFrame, cols: Seq[String], minPeriods: Int = 1): DataFrame = {
    val pairs = for {
      i <- cols.indices; j <- i until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (a, b) =>
      Seq(covar_samp(col(a), col(b)).as(s"${a}__$b"),
        count(when(col(a).isNotNull && col(b).isNotNull, 1)).as(s"${a}__${b}__n"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) =>
      s"'$a', '$b', CASE WHEN `${a}__${b}__n` >= $minPeriods THEN `${a}__$b` END"
    }.mkString(s"stack(${pairs.size}, ", ", ", ") as (c1, c2, cov)")
    one.select(expr(stacked))
  }

  /** Spearman rho for one pair: pearson over average ranks, both
    * attached by the [[Rank]] kernel after ONE probe job (broadcast
    * stats join for a low-cardinality side, probe-fed fixed-bucket
    * window for a continuous one, quantile-cut window when fixed
    * buckets would be too imbalanced). One lazy job does the bucket
    * shuffle(s) and the final corr; no checkpoint, no frame-sized
    * broadcast, no single-task sort at any cardinality.
    *
    * Rows where either side is null or NaN are excluded up front
    * (pandas pairwise-complete masking, which treats NaN as missing —
    * ranks are computed on the common subset), like the matrix forms.
    *
    * Like [[rankedFrame]], the midrank sort sizes its OWN shuffle from
    * input volume above the plan-stats gate `bigBytes`
    * ([[Reductions.SortBigBytes]]; see [[rankWidth]]). */
  def spearman(df: DataFrame, a: String, b: String,
               bigBytes: Long = Reductions.SortBigBytes): DataFrame = {
    val base = df.select(col(a).cast("double").as("__a"),
        col(b).cast("double").as("__b"))
      .filter(complete(Seq("__a", "__b")))
    val p = Rank.probe(base, Nil, Seq("__a", "__b"))
    Rank.midrank(p, Seq("ra", "rb"), rankWidth(p, bigBytes))
      .agg(Core.safeCorr(col("ra"), col("rb")).as("spearman"))
  }

  /** Shuffle width of an ungrouped probe's midrank windows (VERDICT r13
    * item 1): 0 (session width, zero extra work) while the probed
    * frame's plan-stats size is below `bigBytes`; above it
    * [[Reductions.sortWidth]] from the probe's exact row count (which
    * counts NaN rows too), with the sorted frame carrying each
    * column's value and rank plus the bucket id and offset. Width moves
    * placement, never ranks. */
  private def rankWidth(p: Rank.Probe, bigBytes: Long): Int =
    if (p.df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(bigBytes)) 0
    else Reductions.sortWidth(p.groups.get.map(_.rows).sum, 2 * p.cols.size + 2,
      p.df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)

  /** Full spearman matrix over `cols`, long form (c1, c2, spearman),
    * upper triangle — pandas `p_corr(method='spearman')` on a k-column
    * frame (`parallel_dataframe.py:285-325`; the reference fans the
    * upper triangle out to a pool, `:279`).
    *
    * ONE stats job for ALL columns (the batched form of [[spearman]]'s
    * probe): a single aggregate computes every column's bounded exact
    * histogram AND its quantile cut points in one pass. Each column is
    * then ranked ONCE — broadcast rank-stats join when low-cardinality,
    * deterministic-bucket midrank window otherwise — and one final
    * aggregate evaluates all k(k-1)/2 rank correlations. Total: 1 probe
    * job + 1 main job, independent of k.
    *
    * Null handling: LISTWISE deletion (rows with a null/NaN in any of
    * `cols` are dropped before ranking) — ranking each column once is
    * only meaningful over a common row set. pandas masks per PAIR;
    * identical when nulls are absent (the common case for numeric
    * matrices). For pairwise-exact semantics on null-laden data, call
    * the single-pair [[spearman]] per pair. */
  def spearmanMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val (ranked, pairs) = rankedFrame(df, cols)
    val corrAggs = pairs.map { case (i, j) =>
      Core.safeCorr(col(s"__r$i"), col(s"__r$j")).as(s"s${i}_$j") }
    val one = ranked.agg(corrAggs.head, corrAggs.tail: _*)
    val stacked = pairs.map { case (i, j) =>
      s"'${cols(i)}', '${cols(j)}', `s${i}_$j`" }
      .mkString(s"stack(${pairs.size}, ", ", ", ") as (c1, c2, spearman)")
    one.select(expr(stacked))
  }

  /** Shared prestep of the matrix forms: the listwise-complete frame
    * with every column's midrank attached (`__c<i>` value, `__r<i>`
    * rank) after ONE batched [[Rank]] probe job, plus the
    * upper-triangle index pairs. Low-NDV columns rank via a broadcast
    * stats join (no shuffle of the frame); a high-NDV column's
    * fixed-bucket window gets its per-bucket offsets straight from the
    * probe. The midrank sort sizes its own shuffle above `bigBytes`
    * ([[rankWidth]]). Bucket choice and width affect placement/balance
    * only, never rank values — pinned by GroupCorrSpec's forced-big-path
    * equality. */
  private[graft] def rankedFrame(df: DataFrame, cols: Seq[String],
      bigBytes: Long = Reductions.SortBigBytes)
    : (DataFrame, Seq[(Int, Int)]) = {
    val k = cols.size
    require(k >= 2, "corr matrix: need at least two columns")
    val base = df.filter(complete(cols))
      .select(cols.zipWithIndex.map { case (c, i) =>
        col(c).cast("double").as(s"__c$i") }: _*)
    val p = Rank.probe(base, Nil, base.columns.toSeq)
    val ranked = Rank.midrank(p, (0 until k).map(i => s"__r$i"),
      rankWidth(p, bigBytes))
    val pairs = for { i <- 0 until k; j <- (i + 1) until k } yield (i, j)
    (ranked, pairs)
  }

  /** Pearson AND spearman matrices in ONE main job (long form: c1, c2,
    * pearson, spearman): the final aggregate evaluates raw-value and
    * rank correlations for every pair over the same ranked frame, so
    * the whole two-method matrix costs 1 stats probe + 1 aggregate at
    * any column count. `withKendall` joins the [[kendallMatrix]] kernel
    * over the same listwise-complete rows, so the full three-method
    * matrix has no row ceiling. Listwise-complete masking across
    * `cols`, like the other matrix forms. */
  def corrMatrixAll(df: DataFrame, cols: Seq[String],
                    withKendall: Boolean = false): DataFrame = {
    val (ranked, pairs) = rankedFrame(df, cols)
    val corrAggs = pairs.flatMap { case (i, j) => Seq(
      Core.safeCorr(col(s"__c$i"), col(s"__c$j")).as(s"p${i}_$j"),
      Core.safeCorr(col(s"__r$i"), col(s"__r$j")).as(s"s${i}_$j")) }
    val one = ranked.agg(corrAggs.head, corrAggs.tail: _*)
    val stacked = pairs.map { case (i, j) =>
      s"'${cols(i)}', '${cols(j)}', `p${i}_$j`, `s${i}_$j`" }
      .mkString(s"stack(${pairs.size}, ", ", ",
        ") as (c1, c2, pearson, spearman)")
    val ps = one.select(expr(stacked))
    if (withKendall) ps.join(kendallListwise(df, cols), Seq("c1", "c2"))
    else ps
  }

  /** PAIRWISE-complete pearson + spearman matrix — pandas `df.corr()`
    * semantics on NaN-laden frames (`parallel_dataframe.py:266-275`,
    * mirrored by the reference's own NaN test
    * `tests/test_apply_corr.py:43-48`): every cell (i, j) is computed
    * over the rows where BOTH columns are non-null/non-NaN, and nulled
    * when that pair count is below `minPeriods`. The listwise matrix
    * forms ([[corrMatrixAll]]/[[spearmanMatrix]]) are identical on
    * null-free frames and ~k× cheaper — use them there; this is the
    * exact form for data with holes.
    *
    * Scale shape: TWO jobs at any column count. Each column i masked to
    * each partner j's present rows is one [[Rank]] column, so ONE probe
    * job covers all k(k-1) masked columns and its midrank is exactly
    * pandas' re-ranking of the pair's complete rows. The main job
    * attaches every masked midrank (broadcast stats joins while the
    * masked column fits the histogram cap, bucket windows above it) and
    * ONE aggregate evaluates every pearson cell, pair count and rank
    * correlation. Long form (c1, c2, pearson, spearman, n), upper
    * triangle. */
  def corrMatrixPairwise(df: DataFrame, cols: Seq[String],
                         minPeriods: Int = 1): DataFrame = {
    val k = cols.size
    require(k >= 2, "corr matrix: need at least two columns")
    val pairs = for { i <- 0 until k; j <- (i + 1) until k } yield (i, j)
    val ordered = pairs.flatMap { case (i, j) => Seq((i, j), (j, i)) }
    val base = df.select(cols.zipWithIndex.map { case (c, i) =>
      val d = col(c).cast("double")
      when(!isnan(d), d).as(s"__c$i")
    }: _*)
    val masked = base.select(base.columns.map(col) ++ ordered.map { case (i, j) =>
      when(col(s"__c$j").isNotNull, col(s"__c$i")).as(s"__m${i}_$j") }: _*)
    val ranked = Rank.midrank(
      Rank.probe(masked, Nil, ordered.map { case (i, j) => s"__m${i}_$j" }),
      ordered.map { case (i, j) => s"__r${i}_$j" })
    val aggs = pairs.flatMap { case (i, j) => Seq(
      Core.safeCorr(col(s"__c$i"), col(s"__c$j")).as(s"p${i}_$j"),
      Core.safeCorr(col(s"__r${i}_$j"), col(s"__r${j}_$i")).as(s"s${i}_$j"),
      count(when(col(s"__c$i").isNotNull && col(s"__c$j").isNotNull, 1))
        .as(s"n${i}_$j")) }
    val stacked = pairs.map { case (i, j) =>
      s"'${cols(i)}', '${cols(j)}', " +
        s"CASE WHEN n${i}_$j >= $minPeriods THEN p${i}_$j END, " +
        s"CASE WHEN n${i}_$j >= $minPeriods THEN s${i}_$j END, n${i}_$j" }
      .mkString(s"stack(${pairs.size}, ", ", ",
        ") as (c1, c2, pearson, spearman, n)")
    ranked.agg(aggs.head, aggs.tail: _*).select(expr(stacked))
  }

  /** The Kendall kernel: pandas `df.corr(method='kendall',
    * min_periods)` — `p_corr(method='kendall')` — as a tau-b matrix in
    * long form (c1, c2, kendall, n), upper triangle. Every cell (i, j)
    * masks ITS OWN pair of columns (rows with null or NaN in either
    * drop) and is null when its pair count `n` is below `minPeriods`
    * or one side is constant.
    *
    * One rule picks the algorithm: ONE `limit(bound + 1)` collect of
    * the rows with at least two cells is both the probe and the data,
    * with `bound` = [[kendallCollectMaxRows]](k). At most `bound` rows:
    * each pair compacts its mask and runs Knight's O(n log n) tau
    * ([[kendallCell]]) on the driver pool of [[Core.runConcurrently]].
    * More: every pair runs through the exact distributed grid
    * ([[kendallGrid]]), never sampled. */
  def kendallMatrix(df: DataFrame, cols: Seq[String],
                    minPeriods: Int = 1): DataFrame =
    kendallKernel(df, cols, minPeriods, kendallCollectMaxRows(cols.size))

  /** [[kendallMatrix]] with its driver bound as a parameter. */
  private[graft] def kendallKernel(df: DataFrame, cols: Seq[String],
      minPeriods: Int, bound: Long): DataFrame = {
    val k = cols.size
    require(k >= 2, "kendallMatrix: need at least two columns")
    val cells = kendallInput(df, cols)
    val present = cells.columns.map(c => when(!isnan(col(c)), 1).otherwise(0))
      .reduce(_ + _)
    val rows = cells.filter(present >= 2)
      .limit((bound + 1).min(Int.MaxValue).toInt).collect()
    if (rows.length > bound) return kendallGrid(df, cols, minPeriods)
    val data = Array.tabulate(k, rows.length)((i, t) => rows(t).getDouble(i))
    val pairs = kendallPairs(k)
    // k(k-1)/2 independent O(n log n) sorts on a bounded driver pool:
    // at 12 columns that is 66 taus across 8 threads
    val taus = Core.runConcurrently(pairs) { case (i, j) =>
      kendallCell(data, i, j, minPeriods)
    }
    kendallFrame(df, cols, pairs.zip(taus))
  }

  /** The kernel's one input projection, after any `lead` columns: each
    * of `cols` cast to double as `__v<i>`, with null and NaN as NaN
    * (the hole marker) and -0.0 as 0.0 (pandas and scipy compare the
    * two zeros equal; a total double order in a sort or a range cut
    * would split their tie). */
  private def kendallInput(df: DataFrame, cols: Seq[String],
                           lead: Column*): DataFrame =
    df.select(lead ++ cols.zipWithIndex.map { case (c, i) =>
      val d = col(c).cast("double")
      when(d.isNull || isnan(d), Double.NaN).when(d === 0.0, 0.0)
        .otherwise(d).as(s"__v$i")
    }: _*)

  private def kendallPairs(k: Int): IndexedSeq[(Int, Int)] =
    for { i <- 0 until k; j <- (i + 1) until k } yield (i, j)

  /** The kernel's per-cell step over column arrays with NaN holes:
    * compact pair (i, j)'s mask, gate on `minPeriods`, run Knight's tau.
    * Returns (tau, pair count). */
  private def kendallCell(data: Array[Array[Double]], i: Int, j: Int,
                          minPeriods: Int): (java.lang.Double, Long) = {
    val keep = Array.range(0, data(i).length)
      .filter(t => !data(i)(t).isNaN && !data(j)(t).isNaN)
    val n = keep.length
    (if (n < minPeriods) null else knightTau(keep.map(data(i)), keep.map(data(j))),
      n.toLong)
  }

  /** The kernel's output frame (c1, c2, kendall, n). */
  private def kendallFrame(df: DataFrame, cols: Seq[String],
      cells: Seq[((Int, Int), (java.lang.Double, Long))]): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    df.sparkSession.createDataFrame(java.util.Arrays.asList(cells.map {
        case ((i, j), (tau, n)) => org.apache.spark.sql.Row(cols(i), cols(j), tau, n)
      }: _*),
      StructType(Seq(StructField("c1", StringType),
        StructField("c2", StringType), StructField("kendall", DoubleType),
        StructField("n", LongType))))
  }

  /** Rows complete in every one of `cols` (not null, not NaN): the
    * listwise mask of the matrix forms. */
  private def complete(cols: Seq[String]): Column =
    cols.map(c => col(c).isNotNull && !isnan(col(c).cast("double"))).reduce(_ && _)

  /** The kernel over the listwise-complete rows, as (c1, c2, kendall). */
  private def kendallListwise(df: DataFrame, cols: Seq[String]): DataFrame =
    kendallMatrix(df.filter(complete(cols)), cols).select("c1", "c2", "kendall")

  /** pandas `p_corr(method=…)` matrix dispatch: full col×col matrix in
    * long form for all three methods. For `method=callable`
    * (`parallel_dataframe.py:285,311`) use [[corrMatrixWith]]. */
  def corrMatrix(df: DataFrame, cols: Seq[String],
                 method: String = "pearson"): DataFrame = method match {
    case "pearson"  => pearsonLong(df, cols)
    case "spearman" => spearmanMatrix(df, cols)
    case "kendall"  => kendallListwise(df, cols)
    case other => throw new IllegalArgumentException(
      s"corr method: $other (pearson|spearman|kendall; " +
        "for method=callable use corrMatrixWith)")
  }

  /** pandas `p_corr(method=callable)` — the reference masks each pair
    * to its finite rows and calls `corrf(a, b)` per pair
    * (`parallel_dataframe.py:265-283`). The Spark-first hook takes the
    * callable as an AGGREGATE-expression builder `(x, y) => Column`
    * (builtin functions, or `udaf(Aggregator)` for arbitrary typed
    * logic), so ONE ungrouped aggregate computes every k(k+1)/2 cell
    * distributively with map-side partials — no per-pair collect, no
    * driver arrays, unlike the reference's in-memory `mat[:, i]` form.
    * Each cell sees ITS OWN pairwise-finite mask (both inputs null on
    * incomplete rows — `np.isfinite`, so ±Inf rows are excluded too)
    * and is gated on `minPeriods` complete pairs like the named
    * methods. Diagonal cells are emitted as literal 1.0 without
    * invoking the callable, matching the reference's
    * `np.fill_diagonal(result_mat, 1)` — a zero-variance column still
    * self-correlates at 1, and a covariance-style callable doesn't
    * leak its own diagonal. DOCUMENTED DEVIATION from actual pandas
    * `DataFrame.corr`, which NaNs a diagonal cell when the column's
    * valid count is below min_periods: the reference fills the
    * diagonal unconditionally and reference-parity wins the tie
    * (same rule in [[kendallMatrixBy]]). */
  def corrMatrixWith(df: DataFrame, cols: Seq[String],
                     corrf: (Column, Column) => Column,
                     minPeriods: Int = 1): DataFrame = {
    if (cols.isEmpty) {
      // pandas df.corr over zero numeric columns -> empty frame
      import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
      return df.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("c1", StringType),
          StructField("c2", StringType), StructField("corr", DoubleType))))
    }
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (a, b) =>
      val ca = col(a).cast("double"); val cb = col(b).cast("double")
      def fin(c: Column) =
        c.isNotNull && !isnan(c) && abs(c) =!= Double.PositiveInfinity
      val ok = fin(ca) && fin(cb)
      Seq(corrf(when(ok, ca), when(ok, cb)).as(s"${a}__$b"),
        count(when(ok, 1)).as(s"${a}__${b}__n"))
    }
    val one =
      if (aggs.isEmpty) df.agg(count(lit(1)).as("__dummy"))
      else df.agg(aggs.head, aggs.tail: _*)
    val diag = cols.map(a => s"'$a', '$a', CAST(1.0 AS DOUBLE)")
    val off = pairs.map { case (a, b) =>
      s"'$a', '$b', CASE WHEN `${a}__${b}__n` >= $minPeriods " +
        s"THEN `${a}__$b` END"
    }
    val stacked = (diag ++ off)
      .mkString(s"stack(${cols.size + pairs.size}, ", ", ",
        ") as (c1, c2, corr)")
    one.select(expr(stacked))
  }

  /** Full pearson matrix for WIDE frames via a NATIVE one-pass Gramian
    * aggregate — no MLlib RDD detour, no k²/2 separate Catalyst
    * aggregate expressions (which bloat codegen past ~100 columns).
    * One `Aggregator` carries a flat (n, sums[k], gram[k(k+1)/2])
    * buffer: O(k²) state per partial, map-side combinable, one row to
    * the driver; the corr matrix falls out of the moments there. Rows
    * with a null/NaN in any column are skipped (listwise — the same
    * masking as the MLlib `handleInvalid="skip"` path and
    * [[corrMatrixAll]]). Same raw-moment arithmetic as MLlib's Gramian. */
  def pearsonLongGramian(df: DataFrame, cols: Seq[String]): DataFrame = {
    val k = cols.size
    require(k >= 2, "corr matrix: need at least two columns")
    val agg = new org.apache.spark.sql.expressions.Aggregator[
        Seq[Double], Array[Double], Array[Double]] {
      private val len = 1 + k + k * (k + 1) / 2
      def zero: Array[Double] = new Array[Double](len)
      def reduce(b: Array[Double], xs: Seq[Double]): Array[Double] = {
        b(0) += 1
        var i = 0; var g = 1 + k
        while (i < k) {
          val x = xs(i)
          b(1 + i) += x
          var j = i
          while (j < k) { b(g) += x * xs(j); g += 1; j += 1 }
          i += 1
        }
        b
      }
      def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
        var i = 0
        while (i < len) { a(i) += b(i); i += 1 }
        a
      }
      def finish(b: Array[Double]): Array[Double] = b
      def bufferEncoder = org.apache.spark.sql.Encoders.kryo[Array[Double]]
      def outputEncoder = org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Array[Double]]()
    }
    val gramUdaf = udaf(agg)
    val m = df.filter(complete(cols))
      .select(gramUdaf(array(cols.map(col(_).cast("double")): _*)).as("m"))
      .collect()(0).getSeq[Double](0)
    val n = m(0)
    def sum(i: Int) = m(1 + i)
    // flat upper-triangle offset of (i, j), i <= j
    def gram(i: Int, j: Int) = m(1 + k + i * k - i * (i - 1) / 2 + (j - i))
    def cov(i: Int, j: Int) = gram(i, j) - sum(i) * sum(j) / n
    val rows = for { i <- 0 until k; j <- (i + 1) until k } yield {
      val d = math.sqrt(cov(i, i) * cov(j, j))
      val r: java.lang.Double = if (n == 0 || d == 0) null else cov(i, j) / d
      org.apache.spark.sql.Row(cols(i), cols(j), r)
    }
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("c1", StringType),
        StructField("c2", StringType), StructField("corr", DoubleType))))
  }

  /** Kendall tau-b of one pair (pandas `Series.corr(method='kendall')`):
    * the one-cell view of the [[kendallMatrix]] kernel, as (kendall). */
  def kendall(df: DataFrame, a: String, b: String): DataFrame =
    kendallMatrix(df, Seq(a, b)).select("kendall")

  /** Knight's-algorithm tau-b core over in-memory arrays (null when the
    * denominator is 0, i.e. one side is constant). Inputs are not
    * mutated. */
  private[engine] def knightTau(xs: Array[Double], ys: Array[Double]): java.lang.Double = {
    val n = xs.length
    val idx = Array.range(0, n)
    val sorted = idx.sortBy(i => (xs(i), ys(i)))
    val y = sorted.map(ys)
    val n0 = n.toLong * (n - 1) / 2
    val n1 = tieRuns(sorted.map(xs).toIndexedSeq)
    val n3 = tieRuns(sorted.map(i => (xs(i), ys(i))).toIndexedSeq)
    val n2 = tieRuns(y.sorted.toIndexedSeq)
    // inversionCount mutates y in place — y is not read after this
    val swaps = inversionCount(y)
    val denom = math.sqrt((n0 - n1).toDouble * (n0 - n2).toDouble)
    if (denom == 0) null else (n0 - n1 - n2 + n3 - 2 * swaps) / denom
  }

  /** Merge-sort inversion count of `y` IN PLACE (returns #pairs i<j
    * with y_i > y_j). */
  private def inversionCount(y: Array[Double]): Long = {
    var swaps = 0L
    val buf = new Array[Double](y.length)
    def merge(lo: Int, mid: Int, hi: Int): Unit = {
      var i = lo; var j = mid; var k = lo
      while (i < mid && j < hi) {
        if (y(i) <= y(j)) { buf(k) = y(i); i += 1 }
        else { buf(k) = y(j); j += 1; swaps += (mid - i) }
        k += 1
      }
      while (i < mid) { buf(k) = y(i); i += 1; k += 1 }
      while (j < hi) { buf(k) = y(j); j += 1; k += 1 }
      System.arraycopy(buf, lo, y, lo, hi - lo)
    }
    def msort(lo: Int, hi: Int): Unit =
      if (hi - lo > 1) {
        val mid = lo + (hi - lo) / 2
        msort(lo, mid); msort(mid, hi); merge(lo, mid, hi)
      }
    msort(0, y.length)
    swaps
  }

  /** Tie-pair count Σ run·(run-1)/2 over a SORTED key sequence. */
  private def tieRuns[K](keys: IndexedSeq[K]): Long = {
    var pairs = 0L; var run = 1L; var j = 1
    while (j <= keys.length) {
      if (j < keys.length && keys(j) == keys(j - 1)) run += 1
      else { pairs += run * (run - 1) / 2; run = 1 }
      j += 1
    }
    pairs
  }

  /** The kernel's distributed regime: EXACT tau-b for every pair
    * without a collect of the data or a sample — the 100 TB path, and
    * what [[kendallMatrix]] runs above its driver bound. Same input
    * projection, pairwise masks, `minPeriods` gate and long form
    * (c1, c2, kendall, n). Tests and the grid's oracle row call it
    * directly to force the regime at any size.
    *
    * Grid decomposition, per pair: bucket x and y by range cuts (equal
    * values can never split across buckets, so cross-bucket comparisons
    * are strict). Every (a, b) pair falls in exactly one of three
    * classes, each counted exactly:
    *   1. same x-bucket  — per-xb local Knight pass (inversions of y in
    *      (x,y)-sorted order), which also yields the x/(x,y) tie pairs
    *      (ties never cross buckets);
    *   2. different x-bucket, same y-bucket — per-yb pass: total
    *      inversions of the stripe minus the per-(xb,yb)-cell
    *      inversions (those are class 1), plus the y tie pairs;
    *   3. different x-bucket AND different y-bucket — order is fully
    *      determined by bucket indices: Σ m(i,j)·D(i,j) over the B×B
    *      grid count matrix with D the (x-suffix, y-prefix) dominance
    *      sum — O(B²) on the driver from one map-side-combinable
    *      aggregate.
    *
    * Scale shape: two data shuffles (groupBy xb, groupBy yb) with
    * per-group memory n/B (`buckets` sizes a stripe to an executor),
    * one grid aggregate, driver state O(B²). Pair counts accumulate in
    * Long — exact for n up to ~3e9 rows (n² / 2 < 2⁶³). Degenerate
    * frames (≤ a few distinct x or y) collapse toward one stripe; the
    * grid counts expose that BEFORE the stripe passes run, so the
    * guard fails fast with the stripe size instead of OOMing an
    * executor (`maxStripeRows`; a fully-constant side returns null
    * anyway — denominator 0). */
  private[graft] def kendallGrid(df: DataFrame, cols: Seq[String],
      minPeriods: Int = 1, buckets: Int = 64,
      maxStripeRows: Long = 50000000L): DataFrame = {
    require(buckets >= 2, s"need buckets>=2, got $buckets")
    val cells = kendallInput(df, cols)
    val pairs = kendallPairs(cols.size)
    kendallFrame(df, cols, pairs.map { case (i, j) =>
      (i, j) -> gridTau(cells.select(col(s"__v$i").as("x"), col(s"__v$j").as("y"))
        .filter(!isnan(col("x")) && !isnan(col("y"))), minPeriods, buckets, maxStripeRows)
    })
  }

  /** One pair of [[kendallGrid]] over its masked (x, y) frame: (tau, n). */
  private def gridTau(base: DataFrame, minPeriods: Int, buckets: Int,
                      maxStripeRows: Long): (java.lang.Double, Long) = {
    val spark = base.sparkSession
    import spark.implicits._
    // range cuts computed ONCE, driver-side (2·B doubles) — evaluating
    // sampled cuts independently in two plan branches would assign
    // inconsistent buckets (the BASELINE.md round-4 lesson)
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val q = base.stat.approxQuantile(Array("x", "y"), probs, 0.01)
    val xCuts = q(0).distinct.sorted
    val yCuts = q(1).distinct.sorted
    // the bucketed frame feeds THREE consuming jobs (grid counts, per-xb
    // Knight pass, per-yb stripe pass) — persist it so the scan + bucket
    // assignment run once, not three times; released before returning
    val withB = base
      .withColumn("xb", graft.functions.BucketBin.bucketBin(col("x"), xCuts))
      .withColumn("yb", graft.functions.BucketBin.bucketBin(col("y"), yCuts))
      .as[(Double, Double, Int, Int)]
      .persist()
    try {

    // class-3 pairs from the grid counts
    val nx = xCuts.length + 1; val ny = yCuts.length + 1
    val m = Array.ofDim[Long](nx, ny)
    withB.groupBy(col("xb"), col("yb")).count().collect()
      .foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    // the stripe passes hold one stripe in executor memory; the grid
    // knows every stripe size up front, so refuse degenerate inputs
    // loudly before launching them
    val maxX = (0 until nx).map(i => (0 until ny).map(j => m(i)(j)).sum).max
    val maxY = (0 until ny).map(j => (0 until nx).map(i => m(i)(j)).sum).max
    val n = m.map(_.sum).sum
    if (n < minPeriods) return (null, n)
    require(math.max(maxX, maxY) <= maxStripeRows,
      s"kendallGrid: largest bucket stripe has ${math.max(maxX, maxY)} " +
        s"rows (> maxStripeRows=$maxStripeRows) — the value distribution " +
        "is too concentrated for B=" + buckets + " range buckets; " +
        "use kendallApprox")
    // D(i,j) = Σ_{i'>i, j'<j} m(i',j'): y-prefix then x-suffix, O(B²)
    val pref = Array.ofDim[Long](nx, ny) // pref(i)(j) = Σ_{j'<j} m(i)(j')
    for (i <- 0 until nx; j <- 1 until ny)
      pref(i)(j) = pref(i)(j - 1) + m(i)(j - 1)
    var sGrid = 0L
    val dSuf = new Array[Long](ny) // running Σ_{i'>i} pref(i')(j)
    for (i <- nx - 1 to 0 by -1) {
      for (j <- 0 until ny) sGrid += m(i)(j) * dSuf(j)
      for (j <- 0 until ny) dSuf(j) += pref(i)(j)
    }

    // class-1: per-xb Knight + x/(x,y) ties (never cross buckets)
    val xbAgg = withB.groupByKey(_._3).mapGroups { (_, it) =>
      val rows = it.toArray.sortBy(t => (t._1, t._2))
      val inv = inversionCount(rows.map(_._2))
      (inv, tieRuns(rows.map(_._1)), tieRuns(rows.map(t => (t._1, t._2))))
    }.collect()
    // class-2: per-yb stripe inversions minus in-cell inversions + y ties
    val ybAgg = withB.groupByKey(_._4).mapGroups { (_, it) =>
      val rows = it.toArray.sortBy(t => (t._1, t._2))
      val total = inversionCount(rows.map(_._2))
      val inCell = rows.groupBy(_._3).valuesIterator
        .map(cell => inversionCount(cell.map(_._2))) // cells stay (x,y)-sorted
        .sum
      (total - inCell, tieRuns(rows.map(_._2).sorted.toIndexedSeq))
    }.collect()

    val n0 = n * (n - 1) / 2
    val n1 = xbAgg.map(_._2).sum
    val n3 = xbAgg.map(_._3).sum
    val n2 = ybAgg.map(_._2).sum
    val s = xbAgg.map(_._1).sum + ybAgg.map(_._1).sum + sGrid
    val denom = math.sqrt((n0 - n1).toDouble * (n0 - n2).toDouble)
    (if (denom == 0) null else (n0 - n1 - n2 + n3 - 2 * s) / denom, n)
    } finally withB.unpersist(blocking = false)
  }

  /** 100 TB mode of [[kendall]]: exact tau-b over a deterministic hash
    * sample of `maxRows` of the pair's complete rows (null and NaN
    * masked first, like the kernel). Sampling is by `xxhash64(a, b,
    * row id, seed)` order — deterministic, reproducible, and independent of the
    * input partitioning, unlike `limit` (first-partitions bias) or
    * `sample` (rng per partition). Error is O(1/sqrt(maxRows)) for the
    * tau estimate; maxRows=10k ⇒ ~1%. */
  def kendallApprox(df: DataFrame, a: String, b: String,
                    maxRows: Int = 10000, seed: Long = 42L): DataFrame = {
    // The hash mixes a per-row id: hashing only (x, y) would sample
    // duplicate value pairs all-or-nothing, biasing tau-b toward
    // whatever ties happened to hash low. The row id is deterministic
    // for a fixed input layout (stable re-runs), which is the
    // reproducibility this sketch promises.
    val sampled = df.filter(complete(Seq(a, b)))
      .withColumn("__h",
        xxhash64(col(a), col(b), monotonically_increasing_id(), lit(seed)))
      .orderBy("__h").limit(maxRows)
    kendall(sampled, a, b)
  }
}
