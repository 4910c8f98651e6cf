package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions._

/** Discoverable operator surface — the engine's analogue of the
  * reference's `.parallel` accessor namespace (`df.parallel.mean()` ⇔
  * `df.p_mean()`, `/root/reference/parallel_pandas/core/accessor.py:15-83`,
  * registered `main.py:53-55`).
  *
  * `import graft.engine.Syntax._` gives every DataFrame a `.pp` handle:
  *
  * {{{
  *   df.pp.mean()                       // one row, per-column means
  *   df.pp.describe("x", "y")
  *   df.pp.quantile(0.95, "x")
  *   df.pp.agg(Seq("k"), Seq("x" -> Seq("sum", "mean")))
  *   df.pp.pivotTable(Seq("k"), "cat", Seq("A","B"), "x", "sum")
  *   df.pp.merge(other, on = Seq("id"), how = "left")
  *   df.pp.applymap(Seq("x"), c => c * 2)
  * }}}
  *
  * Reductions run over all numeric columns by default (pandas
  * `numeric_only` behavior). Everything returns plain DataFrames.
  *
  * The `.str`/`.dt` element-wise families live on [[StrDt]] and are a
  * CURATED surface by contract (seven tranches, ~75 ops), not the
  * reference's runtime proxy over the whole pandas accessor: each op
  * must be a codegen'd Catalyst expression to keep the scan
  * vectorized, so an op outside the set is a compile error — never a
  * silent fall-off onto a row-at-a-time UDF. See the [[StrDt]]
  * scaladoc for the full contract and how to extend it.
  */
object Syntax {

  implicit class PpOps(private val df: DataFrame) extends AnyVal {
    def pp: Pp = new Pp(df)
  }

  final class Pp(private val df: DataFrame) {

    private def numeric(cols: Seq[String]): Seq[String] = {
      val cs = if (cols.nonEmpty) cols else Core.numericCols(df)
      require(cs.nonEmpty,
        s"no numeric columns in schema [${df.columns.mkString(", ")}] — " +
          "name the columns explicitly")
      cs
    }

    private def reduce(cols: Seq[String], f: Column => Column,
                       suffix: String): DataFrame = {
      val cs = numeric(cols)
      val aggs = cs.map(c => f(col(c)).as(s"${c}_$suffix"))
      df.agg(aggs.head, aggs.tail: _*)
    }

    // ---- §2.2 reductions ----
    def min(cols: String*): DataFrame = reduce(cols, F.min, "min")
    def max(cols: String*): DataFrame = reduce(cols, F.max, "max")
    def mean(cols: String*): DataFrame = reduce(cols, avg, "mean")
    def sum(cols: String*): DataFrame = reduce(cols, F.sum, "sum")
    def median(cols: String*): DataFrame =
      reduce(cols, percentile(_, lit(0.5)), "median")
    def std(cols: String*): DataFrame = reduce(cols, stddev_samp, "std")
    def variance(cols: String*): DataFrame = reduce(cols, var_samp, "var")
    def sem(cols: String*): DataFrame = reduce(cols, Reductions.sem, "sem")
    def skew(cols: String*): DataFrame = reduce(cols, Reductions.sampleSkew, "skew")
    def kurt(cols: String*): DataFrame = reduce(cols, Reductions.sampleKurt, "kurt")
    def prod(cols: String*): DataFrame = reduce(cols, Reductions.product, "prod")
    def nunique(cols: String*): DataFrame =
      reduce(cols, count_distinct(_), "nunique")

    def quantile(q: Double, cols: String*): DataFrame =
      reduce(cols, percentile(_, lit(q)), s"q$q")
    def mad(cols: String*): DataFrame = Reductions.mad(df, numeric(cols))
    def describe(cols: String*): DataFrame =
      Reductions.describe(df, numeric(cols))
    def describe(percentiles: Seq[Double], cols: Seq[String]): DataFrame =
      Reductions.describe(df, numeric(cols), percentiles)
    def describeAuto(include: Seq[String] = Seq("number"),
                     exclude: Seq[String] = Nil): DataFrame =
      Reductions.describeAuto(df, include, exclude)
    def describeDatetime(cols: String*): DataFrame =
      Reductions.describeDatetime(df, cols)
    def mode(c: String): DataFrame = Reductions.modeAll(df, c)
    def valueCounts(c: String, ascending: Boolean = false,
                    dropna: Boolean = true): DataFrame =
      Reductions.valueCounts(df, c, ascending, dropna)
    def aggregate(fns: Seq[String], cols: String*): DataFrame =
      Reductions.aggregateSpec(df, numeric(cols), fns)
    def rank(c: String, outs: Seq[(String, Boolean)] = Seq("rank" -> false),
             ascending: Boolean = true, naOption: String = "keep"): DataFrame =
      Reductions.withRankAvg(df, c, outs, ascending, naOption)

    // ---- §2.4 element-wise ----
    def applymap(cols: Seq[String], f: Column => Column): DataFrame =
      Apply.applymap(df, cols, f)
    def isin(c: String, values: Seq[Any]): DataFrame =
      df.withColumn(s"${c}_isin", col(c).isin(values: _*))
    def replace(c: String, from: String, to: String,
                regex: Boolean = false): DataFrame =
      df.withColumn(c, StrDt.strReplace(col(c), from, to, regex))

    // ---- §2.8 groupby ----
    def agg(keys: Seq[String], spec: Seq[(String, Seq[String])]): DataFrame =
      GroupOps.agg(df, keys, spec)
    def transform(fn: String, valueCol: String, keys: Seq[String]): DataFrame =
      df.withColumn(s"${valueCol}_$fn",
        GroupOps.transform(fn, col(valueCol), keys.map(col)))
    def transformApply(keys: Seq[String], ordCol: String, valueCol: String,
                       out: String)
                      (f: IndexedSeq[Double] => IndexedSeq[Double]): DataFrame =
      GroupOps.transformApply(df, keys, ordCol, valueCol, out)(f)
    def describeBy(keys: Seq[String], c: String): DataFrame =
      GroupOps.describeBy(df, keys, c)

    // ---- §2.7 reshaping ----
    def pivotTable(index: Seq[String], column: String, values: Seq[String],
                   value: String, aggfunc: String = "mean"): DataFrame =
      GroupOps.pivotTable(df, index, column, values, value, aggfunc)
    def merge(right: DataFrame, on: Seq[String], how: String = "inner",
              suffixes: (String, String) = ("_x", "_y"),
              validate: Option[String] = None): DataFrame =
      GroupOps.merge(df, right, on, how, suffixes, validate)
    /** pandas merge(left_on/right_on | left_index/right_index) —
      * asymmetric keys, both kept, optional _merge indicator. */
    def mergeOn(right: DataFrame, leftOn: Seq[String], rightOn: Seq[String],
                how: String = "inner",
                suffixes: (String, String) = ("_x", "_y"),
                indicator: Boolean = false,
                validate: Option[String] = None): DataFrame =
      GroupOps.mergeOn(df, right, leftOn, rightOn, how, suffixes,
        indicator, validate)
    def pctChange(c: String, w: WindowSpec): DataFrame =
      df.withColumn(s"${c}_pct_change", Cumulative.pctChange(col(c), w))

    // ---- fill family + resample (round 6) ----
    def ffill(c: String, w: WindowSpec, limit: Option[Int] = None): DataFrame =
      df.withColumn(c, Fill.ffill(col(c), w, limit))
    def bfill(c: String, w: WindowSpec, limit: Option[Int] = None): DataFrame =
      df.withColumn(c, Fill.bfill(col(c), w, limit))
    def interpolate(c: String, w: WindowSpec): DataFrame =
      Fill.interpolate(df, c, c, w)
    def resample(ts: String, freq: String,
                 aggs: Seq[(String, String)]): DataFrame =
      Resample.resampleAgg(df, ts, freq, aggs)

    // ---- reshape / binning / positional (round 6) ----
    def melt(idVars: Seq[String], valueVars: Seq[String]): DataFrame =
      Reshape.melt(df, idVars, valueVars)
    def crosstab(a: String, b: String): DataFrame = Reshape.crosstab(df, a, b)
    def qcut(c: String, q: Int, out: String = "code",
             exact: Boolean = true, accuracy: Int = 10000): DataFrame =
      Reshape.qcut(df, c, q, out, exact, accuracy)
    /** pandas corr(method=callable): aggregate-builder callable. */
    def corrMatrixWith(cols: Seq[String],
                       corrf: (Column, Column) => Column,
                       minPeriods: Int = 1): DataFrame =
      Corr.corrMatrixWith(df, cols, corrf, minPeriods)
    def dropDuplicates(subset: Seq[String], ordCol: String,
                       keep: String = "first"): DataFrame =
      Reshape.dropDuplicates(df, subset, ordCol, keep)
    def groupbyHead(keys: Seq[String], ordCol: String, n: Int): DataFrame =
      Reshape.headPerGroup(df, keys, ordCol, n)

    // ---- frame alignment / selection (round 6, third batch) ----
    def shift(c: String, periods: Int, w: WindowSpec): DataFrame =
      df.withColumn(s"${c}_shift", Frame.shift(col(c), periods, w))
    def diff(c: String, periods: Int, w: WindowSpec): DataFrame =
      df.withColumn(s"${c}_diff", Frame.diff(col(c), periods, w))
    def nlargest(n: Int, c: String, tiebreak: String): DataFrame =
      Frame.nlargest(df, n, c, tiebreak)
    def nsmallest(n: Int, c: String, tiebreak: String): DataFrame =
      Frame.nsmallest(df, n, c, tiebreak)
    def corrwith(right: DataFrame, on: Seq[String],
                 pairs: Seq[(String, String)]): DataFrame =
      Frame.corrwith(df, right, on, pairs)
    def groupbyFilter(keys: Seq[String], agg: Column,
                      pred: Column => Column): DataFrame =
      Frame.groupFilter(df, keys, agg, pred)
    def combineFirst(right: DataFrame, on: Seq[String]): DataFrame =
      Frame.combineFirst(df, right, on)
    def concat(others: DataFrame*): DataFrame =
      Frame.concatOuter(df +: others)
    def explodeCol(c: String, out: String = "value"): DataFrame =
      Frame.explodeCol(df, c, out)
    def getDummies(c: String, prefix: String): DataFrame =
      Frame.getDummies(df, c, prefix)

    // ---- §2.3 cumulative (order given by the caller's window) ----
    def cumsum(c: String, w: WindowSpec): DataFrame =
      df.withColumn(s"${c}_cumsum", Cumulative.cumsum(col(c), w))
    def cummax(c: String, w: WindowSpec): DataFrame =
      df.withColumn(s"${c}_cummax", Cumulative.cummax(col(c), w))
    def cummin(c: String, w: WindowSpec): DataFrame =
      df.withColumn(s"${c}_cummin", Cumulative.cummin(col(c), w))
    def cumprod(c: String, w: WindowSpec): DataFrame =
      df.withColumn(s"${c}_cumprod", Cumulative.cumprod(col(c), w))

    // ---- §2.6 correlation: pandas corr(method=…), full matrix ----
    def corrMatrix(cols: String*): DataFrame =
      Corr.pearsonLong(df, numeric(cols))
    def corrMatrix(method: String, cols: Seq[String]): DataFrame =
      Corr.corrMatrix(df, numeric(cols), method)

    // ---- §2.10 frame-level str ops (round 11) ----
    /** pandas str.extractall: one row per (input row, match). */
    def strExtractAll(src: String, pat: String, groups: Seq[String],
                      matchCol: String = "match"): DataFrame =
      StrDt.strExtractAll(df, src, pat, groups, matchCol)
    /** pandas str.cat(others=[...], sep=, na_rep=). */
    def strCat(out: String, cols: Seq[String], sep: String = "",
               naRep: Option[String] = None): DataFrame =
      df.withColumn(out, StrDt.strCatList(cols.map(col), sep, naRep))

    // ---- 100 TB sketch modes (approximate, one-pass) ----
    def describeApprox(cols: String*): DataFrame =
      Reductions.describeApprox(df, numeric(cols))
    def nuniqueApprox(cols: String*): DataFrame =
      Reductions.nuniqueApprox(df, if (cols.isEmpty) df.columns.toSeq else cols)

    // ---- dedup / curation pipeline ----
    // spanning-edge candidates (r12): clusters only consume component
    // structure, and edges give identical components with linear
    // output per bucket — no quadratic left to cap, so no maxBucket
    // parameter (the dead r12 one was removed in r13)
    def dedupClusters(id: String, text: String,
                      checkpointDir: Option[String] = None): DataFrame =
      graft.pipeline.Dedup.clusters(
        graft.pipeline.Dedup.minhashLshEdges(df, id, text),
        checkpointDir = checkpointDir)
    def minhashLshEdges(id: String, text: String): DataFrame =
      graft.pipeline.Dedup.minhashLshEdges(df, id, text)
    def substringDedupText(id: String, text: String, win: Int = 30,
                           stride: Int = 1,
                           maxWindowDf: Option[Long] = None): DataFrame =
      graft.pipeline.Dedup.substringDedupText(df, id, text, win, stride,
        maxWindowDf)
    def ngramShingleEdges(id: String, text: String, k: Int = 3,
                          maxShingleDf: Int = 1000): DataFrame =
      graft.pipeline.Dedup.ngramShingleEdges(df, id, text, k, maxShingleDf)
    // checkpointDir: the r14 storage-stage protocol knob — reliable
    // checkpoint files for the CC iteration state instead of
    // localCheckpoint blocks (see Dedup.clusters)
    def dedupFuzzy(id: String, text: String,
                   checkpointDir: Option[String] = None): DataFrame =
      graft.pipeline.Dedup.fuzzy(df, id, text,
        checkpointDir = checkpointDir)
    def decontaminate(bench: DataFrame, id: String, text: String,
                      k: Int = 3): DataFrame =
      graft.pipeline.Curation.decontaminate(df, bench, id, text, k)
    def semanticDecontaminate(bench: DataFrame, threshold: Double,
                              id: String = "vec_id",
                              vec: String = "embedding"): DataFrame =
      graft.pipeline.Similarity.semanticDecontaminate(df, bench,
        threshold, id, vec)
    def bm25TopTerms(id: String, text: String, k: Int = 3): DataFrame =
      graft.pipeline.TextAnalysis.bm25TopTerms(df, id, text, k)
    def unigramLogProb(id: String, text: String): DataFrame =
      graft.pipeline.TextAnalysis.unigramLogProb(df, id, text)
    def dedupLines(id: String, text: String, sepRegex: String = "\n",
                   joinSep: String = "\n",
                   maxDocFreq: Option[Int] = None): DataFrame =
      graft.pipeline.Curation.dedupLines(df, id, text, sepRegex, joinSep,
        maxDocFreq)
    def shuffleOrder(id: String, seed: Long): DataFrame =
      graft.pipeline.Curation.shuffleOrder(df, id, seed)
    def mixtureSample(id: String, strata: String, alpha: Double): DataFrame =
      graft.pipeline.Curation.mixtureSample(df, id, strata, alpha)
    def gopherFilter(id: String, text: String): DataFrame =
      graft.pipeline.Curation.gopherFilter(df, id, text)
    def substringSpans(id: String, text: String, win: Int = 30,
                       stride: Int = 1,
                       maxWindowDf: Option[Long] = None): DataFrame =
      graft.pipeline.Dedup.substringSpans(df, id, text, win, stride,
        maxWindowDf)
    def substringDupStats(id: String, text: String, win: Int = 30,
                          stride: Int = 1,
                          maxWindowDf: Option[Long] = None): DataFrame =
      graft.pipeline.Dedup.substringDupStats(df, id, text, win, stride,
        maxWindowDf)
    def capPerStratum(id: String, strata: String, cap: Int,
                      salts: Int = 32): DataFrame =
      graft.pipeline.Curation.capPerStratum(df, id, strata, cap, salts)
    def weightedCapPerStratum(id: String, strata: String, weight: String,
                              cap: Int, salts: Int = 32): DataFrame =
      graft.pipeline.Curation.weightedCapPerStratum(df, id, strata,
        weight, cap, salts)
    def snapshotDiff(newer: DataFrame, id: String,
                     contentCols: Seq[String]): DataFrame =
      graft.pipeline.Curation.snapshotDiff(df, newer, id, contentCols)
    def chunkSliding(id: String, tokensCol: String, chunkLen: Int,
                     stride: Int, minTail: Int = 1): DataFrame =
      graft.pipeline.Curation.chunkSliding(df, id, tokensCol, chunkLen,
        stride, minTail)
    def heavyHitters(c: String, k: Int): DataFrame =
      graft.engine.Reductions.heavyHitters(df, c, k)
    def quantizeInt8(id: String = "vec_id",
                     vec: String = "embedding"): DataFrame =
      graft.pipeline.Similarity.quantizeInt8(df, id, vec)
    def dequantizeInt8(id: String = "vec_id", q: String = "qvec",
                       scale: String = "scale"): DataFrame =
      graft.pipeline.Similarity.dequantizeInt8(df, id, q, scale)
    def dsirWeights(target: DataFrame, id: String, text: String,
                    buckets: Int = 4096, alpha: Double = 0.5): DataFrame =
      graft.pipeline.Curation.dsirWeights(df, target, id, text, buckets, alpha)
    def tokenBudget(id: String, strata: String, tokenCol: String,
                    budget: Long): DataFrame =
      graft.pipeline.Curation.tokenBudget(df, id, strata, tokenCol, budget)

    // ---- round-8 tranche: pairwise covariance family + graph rank ----
    def covMatrix(cols: String*): DataFrame =
      Corr.covLong(df, numeric(cols))
    def corrMatrixBy(key: String, cols: Seq[String],
                     method: String = "pearson",
                     minPeriods: Int = 1): DataFrame =
      Corr.corrMatrixBy(df, key, cols, method, minPeriods)
    def covMatrixBy(key: String, cols: Seq[String],
                    minPeriods: Int = 1): DataFrame =
      Corr.covMatrixBy(df, key, cols, minPeriods)
    def rollingCov(a: String, b: String, w: WindowSpec, n: Int,
                   minPeriods: Int): DataFrame =
      df.withColumn(s"${a}_${b}_cov", WindowOps.rCov(col(a), col(b),
        WindowOps.rollingSpec(w, n), minPeriods))
    def ewmCorr(a: String, b: String, w: WindowSpec, alpha: Double,
                ignoreNa: Boolean = false): DataFrame =
      df.withColumn(s"${a}_${b}_ewm_corr",
        Ewm.corr(col(a), col(b), w, alpha, ignoreNa))
    /** pandas ewm(times=, halflife=Timedelta).mean() — irregular
      * time-decay; `w` must order by `times` (+ a tiebreak). */
    def ewmMeanTimes(c: String, times: String, w: WindowSpec,
                     halflifeMicros: Double): DataFrame =
      df.withColumn(s"${c}_ewm_times",
        Ewm.meanTimes(col(c), col(times), w, halflifeMicros))
    def pageRank(src: String, dst: String, iters: Int,
                 damping: Double = 0.85): DataFrame =
      graft.pipeline.Curation.pageRank(df, src, dst, iters, damping)
    def editDistanceJoin(id: String, text: String, maxDist: Int,
                         q: Int = 2): DataFrame =
      graft.pipeline.Dedup.editDistanceJoin(df, id, text, maxDist, q)
    def editDistanceJoinTables(right: DataFrame, id: String, text: String,
                               rightId: String, rightText: String,
                               maxDist: Int, q: Int = 2): DataFrame =
      graft.pipeline.Dedup.editDistanceJoinTables(df, right, id, text,
        rightId, rightText, maxDist, q)
    def bpeTrain(id: String, text: String, numMerges: Int): DataFrame =
      graft.pipeline.TextAnalysis.bpeTrain(df, id, text, numMerges)
    def bpeApply(id: String, text: String,
                 merges: Seq[(String, String)]): DataFrame =
      graft.pipeline.TextAnalysis.bpeApply(df, id, text, merges)
  }
}
