package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Cumulative, Ewm, WindowOps}

/** Window/cumulative/ewm differential tests vs hand-computed pandas:
  * r = pd.Series([1,3,2,5,4]):
  *   r.rolling(3).mean() = [nan,nan,2,3.3333...,3.6666...]
  *   r.rolling(3).rank(method='average') = [nan,nan,2,3,2]
  *   r.expanding(2).std() = [nan,1.41421356,1.0,1.70782513,1.58113883]
  *   r.rolling(3,win_type='triang').mean() = [nan,nan,2.25,3.0,4.0]
  * e = pd.Series([1,2,3,4]).ewm(alpha=0.2,adjust=True):
  *   mean=[1,1.5555...,2.14754...,2.77506...]
  *   var =[nan,0.5,0.99180...,1.63154...], sum=[1,2.8,5.24,8.192]
  * pd.Series([1,nan,2]).cumsum() = [1,nan,3]
  * pd.Series([1,nan,3]).pct_change() (pad) = [nan,0,2] */
class WindowSpec extends SparkSpec {
  import spark.implicits._

  private lazy val r5 = Seq(1.0, 3.0, 2.0, 5.0, 4.0).zipWithIndex
    .map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
  private val byI = Window.orderBy("i")

  test("rolling mean with min_periods=window") {
    val w = WindowOps.rollingSpec(byI, 3)
    val out = r5.select(col("i"), WindowOps.rMean(col("v"), w, 3).as("m")).orderBy("i")
    assertSeqApprox(colD(out, "m"),
      Seq(None, None, Some(2.0), Some(10.0 / 3), Some(11.0 / 3)))
  }

  test("rolling rank method=average inside trailing window") {
    val w = WindowOps.rollingSpec(byI, 3)
    val out = r5.select(col("i"), WindowOps.rRank(col("v"), w, 3).as("r")).orderBy("i")
    assertSeqApprox(colD(out, "r"),
      Seq(None, None, Some(2.0), Some(3.0), Some(2.0)))
  }

  test("rolling apply: arbitrary function over the frame") {
    val w = WindowOps.rollingSpec(byI, 2)
    val out = r5.select(col("i"),
      WindowOps.rApply(col("v"), w, 2, xs => xs.max - xs.min).as("range")).orderBy("i")
    assertSeqApprox(colD(out, "range"),
      Seq(None, Some(2.0), Some(1.0), Some(3.0), Some(1.0)))
  }

  test("rolling apply raw=False: callable sees (index, value) series incl. nulls") {
    // pandas: s = pd.Series([1, nan, 2, 5], index=[0,1,2,3])
    //   s.rolling(3, min_periods=2).apply(lambda s: s.idxmax(), raw=False)
    //   = [nan, nan, 2, 3] — needs the INDEX, raw=True can't express it
    val df = Seq((0L, Some(1.0)), (1L, None), (2L, Some(2.0)), (3L, Some(5.0)))
      .toDF("i", "v")
    val w = WindowOps.rollingSpec(byI, 3)
    val out = df.select(col("i"),
      WindowOps.rApplySeries(col("i"), col("v"), w, 2, { s =>
        s.filterNot(_._2.isNaN).maxBy(_._2)._1.toDouble
      }).as("idxmax")).orderBy("i")
    assertSeqApprox(colD(out, "idxmax"), Seq(None, None, Some(2.0), Some(3.0)))
    // null values arrive IN the series (as NaN with their index)
    val out2 = df.select(col("i"),
      WindowOps.rApplySeries(col("i"), col("v"), w, 1, s => s.size.toDouble)
        .as("n")).orderBy("i")
    assertSeqApprox(colD(out2, "n"),
      Seq(Some(1.0), Some(2.0), Some(3.0), Some(3.0)))
  }

  test("expanding std with min_periods=2") {
    val w = WindowOps.expandingSpec(byI)
    val out = r5.select(col("i"), WindowOps.rStd(col("v"), w, 2).as("s")).orderBy("i")
    assertSeqApprox(colD(out, "s"),
      Seq(None, Some(1.4142135623730951), Some(1.0),
        Some(1.707825127659933), Some(1.5811388300841898)))
  }

  test("weighted (triang) rolling mean") {
    val out = r5.select(col("i"),
      WindowOps.weightedMean(col("v"), byI, WindowOps.triangWeights(3)).as("m"))
      .orderBy("i")
    assertSeqApprox(colD(out, "m"),
      Seq(None, None, Some(2.25), Some(3.0), Some(4.0)))
  }

  test("weighted (triang) rolling var/std match pandas roll_weighted_var") {
    // hand-computed: w=[0.5,1,0.5], window [1,3,2] -> 1.03125,
    // [3,2,5] -> 2.25, [2,5,4] -> 2.25
    val wts = WindowOps.triangWeights(3)
    val out = r5.select(col("i"),
      WindowOps.weightedVar(col("v"), byI, wts).as("wv"),
      WindowOps.weightedStd(col("v"), byI, wts).as("ws")).orderBy("i")
    assertSeqApprox(colD(out, "wv"),
      Seq(None, None, Some(1.03125), Some(2.25), Some(2.25)))
    assertSeqApprox(colD(out, "ws"),
      Seq(None, None, Some(math.sqrt(1.03125)), Some(1.5), Some(1.5)))
  }

  test("window weight generators are finite at n=1") {
    for (w <- Seq(WindowOps.triangWeights(1), WindowOps.gaussianWeights(1, 1.0),
      WindowOps.hammingWeights(1), WindowOps.hannWeights(1),
      WindowOps.blackmanWeights(1), WindowOps.bartlettWeights(1),
      WindowOps.boxcarWeights(1), WindowOps.cosineWeights(1),
      WindowOps.barthannWeights(1), WindowOps.bohmanWeights(1),
      WindowOps.parzenWeights(1), WindowOps.tukeyWeights(1, 0.5),
      WindowOps.kaiserWeights(1, 14.0), WindowOps.exponentialWeights(1, 2.0),
      WindowOps.blackmanHarrisWeights(1), WindowOps.nuttallWeights(1))) {
      assert(w.size == 1 && !w.head.isNaN && !w.head.isInfinite)
    }
  }

  test("scipy window family matches closed-form values at n=5") {
    def approx(got: Seq[Double], want: Seq[Double], tol: Double = 1e-9): Unit =
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) <= tol, s"got $got want $want") }
    // closed-form points worked out independently from the scipy formulas
    approx(WindowOps.boxcarWeights(5), Seq(1, 1, 1, 1, 1.0))
    approx(WindowOps.blackmanHarrisWeights(5),
      Seq(6.0e-5, 0.21747, 1.0, 0.21747, 6.0e-5), 1e-12)
    approx(WindowOps.nuttallWeights(5),
      Seq(0.0003628, 0.2269824, 1.0, 0.2269824, 0.0003628), 1e-12)
    approx(WindowOps.cosineWeights(5),
      Seq(math.sin(0.1 * math.Pi), math.sin(0.3 * math.Pi), 1.0,
        math.sin(0.3 * math.Pi), math.sin(0.1 * math.Pi)))
    approx(WindowOps.barthannWeights(5), Seq(0.0, 0.5, 1.0, 0.5, 0.0), 1e-12)
    approx(WindowOps.bohmanWeights(5),
      Seq(0.0, 1.0 / math.Pi, 1.0, 1.0 / math.Pi, 0.0), 1e-12)
    approx(WindowOps.parzenWeights(5), Seq(0.016, 0.424, 1.0, 0.424, 0.016))
    approx(WindowOps.tukeyWeights(5, 0.5), Seq(0.0, 1.0, 1.0, 1.0, 0.0))
    // tukey limits: alpha=0 -> boxcar, alpha=1 -> hann
    approx(WindowOps.tukeyWeights(5, 0.0), WindowOps.boxcarWeights(5))
    approx(WindowOps.tukeyWeights(5, 1.0), WindowOps.hannWeights(5))
    // kaiser: beta=0 -> boxcar; endpoints = 1/I0(beta) with known
    // I0(2) = 2.2795853023360673
    approx(WindowOps.kaiserWeights(5, 0.0), Seq(1, 1, 1, 1, 1.0))
    val k = WindowOps.kaiserWeights(3, 2.0)
    approx(Seq(k(0), k(1), k(2)),
      Seq(1.0 / 2.2795853023360673, 1.0, 1.0 / 2.2795853023360673), 1e-12)
    approx(WindowOps.exponentialWeights(5, 2.0),
      Seq(math.exp(-1), math.exp(-0.5), 1.0, math.exp(-0.5), math.exp(-1)))
  }

  test("rAggSpec dispatches quantile/rank and custom callables") {
    val spec = Seq((col("v"), "v", Seq("mean", "quantile", "rank", "range")))
    val w = WindowOps.rollingSpec(byI, 3)
    val out = r5.select(col("i") +: WindowOps.rAggSpec(spec, w, 3,
      custom = Map("range" -> ((c, ws, mp) =>
        WindowOps.rMax(c, ws, mp) - WindowOps.rMin(c, ws, mp)))): _*)
      .orderBy("i")
    assert(out.columns.toSeq ==
      Seq("i", "v_mean", "v_quantile", "v_rank", "v_range"))
    assertSeqApprox(colD(out, "v_quantile"),
      Seq(None, None, Some(2.0), Some(3.0), Some(4.0)))
    assertSeqApprox(colD(out, "v_range"),
      Seq(None, None, Some(2.0), Some(3.0), Some(3.0)))
  }

  test("ewm mean/var/sum match pandas adjust=True bias=False") {
    val e = Seq(1.0, 2.0, 3.0, 4.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val out = e.select(col("i"),
      Ewm.mean(col("v"), byI, 0.2).as("m"),
      Ewm.variance(col("v"), byI, 0.2).as("var"),
      Ewm.sum(col("v"), byI, 0.2).as("s")).orderBy("i")
    assertSeqApprox(colD(out, "m"),
      Seq(1.0, 1.5555555555555554, 2.1475409836065573, 2.7750677506775063)
        .map(Some(_)))
    assertSeqApprox(colD(out, "var"),
      Seq(None, Some(0.5), Some(0.9918032786885247), Some(1.6315473810475811)),
      1e-8)
    assertSeqApprox(colD(out, "s"),
      Seq(1.0, 2.8, 5.24, 8.192).map(Some(_)))
  }

  test("ewm with nulls: ignore_na=False decays the clock across gaps") {
    // pandas: Series([1, nan, 3, 4]).ewm(alpha=0.5, adjust=True):
    //   mean=[1, 1, 2.6, 3.4615384615384617]
    //   var =[nan, nan, 2.0, 1.3636363636363635]
    //   sum =[1, 0.5, 3.25, 5.625]
    val df = Seq(Some(1.0), None, Some(3.0), Some(4.0)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val out = df.select(col("i"),
      Ewm.mean(col("v"), byI, 0.5).as("m"),
      Ewm.variance(col("v"), byI, 0.5).as("var"),
      Ewm.sum(col("v"), byI, 0.5).as("s")).orderBy("i")
    assertSeqApprox(colD(out, "m"),
      Seq(Some(1.0), Some(1.0), Some(2.6), Some(3.4615384615384617)))
    assertSeqApprox(colD(out, "var"),
      Seq(None, None, Some(2.0), Some(1.3636363636363635)), 1e-9)
    assertSeqApprox(colD(out, "s"),
      Seq(1.0, 0.5, 3.25, 5.625).map(Some(_)))
  }

  test("ewm ignore_na=True weights only valid observations") {
    // pandas: Series([1, nan, 3, 4]).ewm(alpha=0.5, adjust=True,
    //   ignore_na=True).mean() = [1, 1, 2.3333..., 3.2857142857142856]
    val df = Seq(Some(1.0), None, Some(3.0), Some(4.0)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val out = df.select(col("i"),
      Ewm.mean(col("v"), byI, 0.5, ignoreNa = true).as("m")).orderBy("i")
    assertSeqApprox(colD(out, "m"),
      Seq(Some(1.0), Some(1.0), Some(7.0 / 3), Some(3.2857142857142856)))
  }

  test("ewm ignore_na=True through sum and var/std") {
    // pandas: Series([1, nan, 3, 4]).ewm(alpha=0.5, adjust=True,
    //   ignore_na=True): sum=[1, 1, 3.5, 5.75],
    //   var=[nan, nan, 2.0, 1.857142857142857]
    val df = Seq(Some(1.0), None, Some(3.0), Some(4.0)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val out = df.select(col("i"),
      Ewm.sum(col("v"), byI, 0.5, ignoreNa = true).as("s"),
      Ewm.variance(col("v"), byI, 0.5, ignoreNa = true).as("var")).orderBy("i")
    assertSeqApprox(colD(out, "s"),
      Seq(1.0, 1.0, 3.5, 5.75).map(Some(_)))
    assertSeqApprox(colD(out, "var"),
      Seq(None, None, Some(2.0), Some(1.857142857142857)), 1e-9)
  }

  test("ewm alpha parameterizations: span/com/halflife") {
    assert(Ewm.alphaFromSpan(3.0) == 0.5)
    assert(Ewm.alphaFromCom(1.0) == 0.5)
    assertApprox(Some(Ewm.alphaFromHalflife(1.0)), Some(0.5), 1e-15)
    // span=5 on [1,2,3] -> pandas mean [1, 1.6, 2.263157894736842]
    val df = Seq(1.0, 2.0, 3.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val out = df.select(col("i"),
      Ewm.mean(col("v"), byI, Ewm.alphaFromSpan(5.0)).as("m")).orderBy("i")
    assertSeqApprox(colD(out, "m"),
      Seq(1.0, 1.6, 2.263157894736842).map(Some(_)))
  }

  test("cumsum keeps null cells null but skips them in the running sum") {
    val df = Seq(Some(1.0), None, Some(2.0)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val out = df.select(col("i"), Cumulative.cumsum(col("v"), byI).as("c")).orderBy("i")
    assertSeqApprox(colD(out, "c"), Seq(Some(1.0), None, Some(3.0)))
  }

  test("cumprod exact") {
    val df = Seq(2.0, 3.0, 0.5).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val out = df.select(col("i"), Cumulative.cumprod(col("v"), byI).as("c")).orderBy("i")
    assertSeqApprox(colD(out, "c"), Seq(2.0, 6.0, 3.0).map(Some(_)))
  }

  test("pct_change with pad fill") {
    val df = Seq(Some(1.0), None, Some(3.0)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val out = df.select(col("i"), Cumulative.pctChange(col("v"), byI).as("p")).orderBy("i")
    assertSeqApprox(colD(out, "p"), Seq(None, Some(0.0), Some(2.0)))
  }

  test("pct_change limit= caps the pad at n consecutive nulls") {
    // v: 1, null, null, 4 — limit=1 fills row 1 from row 0 but leaves
    // row 2 null (2 nulls deep), so row 2 is null/over-null and row 3
    // divides by a null lag -> null (pandas: 4/NaN -> NaN).
    val df = Seq(Some(1.0), None, None, Some(4.0)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val out = df.select(col("i"),
      Cumulative.pctChange(col("v"), byI, limit = Some(1)).as("p")).orderBy("i")
    assertSeqApprox(colD(out, "p"), Seq(None, Some(0.0), None, None))
    // limit=2 reaches the deeper null: row 2 fills to 1.0 as well
    val out2 = df.select(col("i"),
      Cumulative.pctChange(col("v"), byI, limit = Some(2)).as("p")).orderBy("i")
    assertSeqApprox(colD(out2, "p"), Seq(None, Some(0.0), Some(0.0), Some(3.0)))
  }

  test("pct_change(freq=): exact-timestamp realignment, calendar months") {
    import java.sql.Timestamp
    val df = Seq(
      ("a", "2024-01-31 00:00:00", 10.0),
      ("a", "2024-02-29 00:00:00", 15.0),   // Jan 31 + 1M clamps to Feb 29
      ("a", "2024-03-01 00:00:00", 20.0),   // no row at exactly -1M -> null
      ("b", "2024-02-29 00:00:00", 40.0))   // other key: no leak from a
      .map { case (g, t, v) => (g, Timestamp.valueOf(t), v) }
      .toDF("g", "t", "v")
    val out = Cumulative.pctChangeFreq(df, "t", Seq("v"), "M", by = Seq("g"))
      .orderBy("g", "t")
    // pandas: s / s.shift(freq='M') - 1 on the same index
    assertSeqApprox(colD(out, "v_pct"),
      Seq(None, Some(0.5), None, None))
    intercept[IllegalArgumentException] {
      Cumulative.pctChangeFreq(df, "t", Seq("v"), "5D")
    }
  }

  test("global cumsum: two-pass prefix sum equals a sequential running sum") {
    val df = (1 to 100).map(i => (i.toLong, i * 0.5)).toDF("i", "v")
      .repartition(7) // scatter rows so offsets actually matter
    val out = Cumulative.globalCumsumMulti(df, Seq(col("i")), Seq(col("v") -> "c"))
      .orderBy("i")
    val expect = (1 to 100).scanLeft(0.0)(_ + _ * 0.5).tail
    assertSeqApprox(colD(out, "c"), expect.map(Some(_)))
  }

  test("time-offset window is closed-right (ts-offset, ts]") {
    // events at 0s, 30s, 3600s with a 1h window: the third event's frame
    // is (0s, 3600s] — the open left edge excludes the event at exactly
    // ts - offset, so n=2 (pandas closed='right' semantics).
    val df = Seq((0L, 1.0), (30_000_000L, 2.0), (3_600_000_000L, 4.0))
      .toDF("us", "v")
    val spec = WindowOps.timeSpec(Window.orderBy("us"), 3_600_000_000L)
    val out = df.select(col("us"), count(col("v")).over(spec).as("n")).orderBy("us")
    assert(colD(out, "n") == Seq(Some(1.0), Some(2.0), Some(2.0)))
  }

  // pandas 2.2.2:
  //   x = Series([1, 3, nan, 2, 5, nan, 4, 1.5])
  //   y = Series([2, nan, 1, 4, 3, 6, 2.5, 0.5])
  // (a pair is masked when EITHER side is NaN; sample cov/corr need
  // >= 2 complete pairs, so the first three rows are NaN)
  private lazy val xyPairs = Seq(
    (0L, Some(1.0), Some(2.0)), (1L, Some(3.0), None),
    (2L, None, Some(1.0)), (3L, Some(2.0), Some(4.0)),
    (4L, Some(5.0), Some(3.0)), (5L, None, Some(6.0)),
    (6L, Some(4.0), Some(2.5)), (7L, Some(1.5), Some(0.5)))
    .toDF("i", "x", "y")

  test("ewm cov/corr pairwise vs pandas (ignore_na=False)") {
    // x.ewm(alpha=0.25).cov(y)  = [nan,nan,nan,1.0,-0.195505618,
    //                              -0.195505618,-0.2789780035,1.4756483982]
    // x.ewm(alpha=0.25).corr(y) = [nan,nan,nan,1.0,-0.1034369424,
    //                              -0.1034369424,-0.2384278967,0.5956806973]
    val out = xyPairs.select(col("i"),
      Ewm.cov(col("x"), col("y"), byI, 0.25).as("c"),
      Ewm.corr(col("x"), col("y"), byI, 0.25).as("r")).orderBy("i")
    assertSeqApprox(colD(out, "c"),
      Seq(None, None, None, Some(1.0), Some(-0.195505618),
        Some(-0.195505618), Some(-0.2789780035), Some(1.4756483982)), 1e-8)
    assertSeqApprox(colD(out, "r"),
      Seq(None, None, None, Some(1.0), Some(-0.1034369424),
        Some(-0.1034369424), Some(-0.2384278967), Some(0.5956806973)), 1e-8)
  }

  test("ewm cov/corr pairwise vs pandas (ignore_na=True)") {
    // x.ewm(alpha=0.25, ignore_na=True).cov(y) =
    //   [nan,nan,nan,1.0,0.2432432432,0.2432432432,-0.0378378378,
    //    1.2667349552]
    // ...corr(y) = [nan,nan,nan,1.0,0.121135928,0.121135928,
    //    -0.0285514579,0.5278635068]
    val out = xyPairs.select(col("i"),
      Ewm.cov(col("x"), col("y"), byI, 0.25, ignoreNa = true).as("c"),
      Ewm.corr(col("x"), col("y"), byI, 0.25, ignoreNa = true).as("r"))
      .orderBy("i")
    assertSeqApprox(colD(out, "c"),
      Seq(None, None, None, Some(1.0), Some(0.2432432432),
        Some(0.2432432432), Some(-0.0378378378), Some(1.2667349552)), 1e-8)
    assertSeqApprox(colD(out, "r"),
      Seq(None, None, None, Some(1.0), Some(0.121135928),
        Some(0.121135928), Some(-0.0285514579), Some(0.5278635068)), 1e-8)
  }

  test("rolling step=k keeps pandas' 0-indexed positions") {
    // pandas: Series([1,3,2,5,4,6,8]).rolling(3, step=2).mean()
    //   -> index {0: nan, 2: 2.0, 4: 3.6667, 6: 6.0}
    // Series.rolling(3, min_periods=1, step=3).sum() -> {0:1, 3:10, 6:18}
    val s7 = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 6.0, 8.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val w3 = WindowOps.rollingSpec(byI, 3)
    val m = s7.select(col("i"),
        WindowOps.rMean(col("v"), w3, 3).as("m"),
        WindowOps.stepKeep(byI, 2).as("k"))
      .filter(col("k")).orderBy("i").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(m.map(_._1).toSeq == Seq(0L, 2L, 4L, 6L))
    assertSeqApprox(m.map(_._2).toSeq,
      Seq(None, Some(2.0), Some(11.0 / 3), Some(6.0)))
    val sm = s7.select(col("i"),
        WindowOps.rSum(col("v"), w3, 1).as("s"),
        WindowOps.stepKeep(byI, 3).as("k"))
      .filter(col("k")).orderBy("i").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(sm.toSeq == Seq((0L, 1.0), (3L, 10.0), (6L, 18.0)))
  }

  test("ewm(times=, halflife=) mean decays by timestamp deltas vs pandas") {
    // pandas: s.ewm(halflife='2h', times=t).mean() with
    //   t = [0h, 1h, 3h, 4h], s = [1, 2, NaN, 4]
    // = [1.0, 1.585786437626905, 1.585786437626905, 3.091326307103841]
    // (row 2: a null contributes nothing and the ratio is decay-
    //  invariant, so the mean carries forward)
    import graft.engine.Ewm
    val df = Seq((0L, Some(1.0)), (3600L, Some(2.0)),
        (10800L, Option.empty[Double]), (14400L, Some(4.0)))
      .toDF("sec", "v")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val w = org.apache.spark.sql.expressions.Window.orderBy("sec")
    val out = df.select(col("sec"),
      Ewm.meanTimes(col("v"), col("ts"), w, 2.0 * 3600 * 1000000).as("m"))
      .orderBy("sec")
    assertSeqApprox(colD(out, "m"),
      Seq(Some(1.0), Some(1.585786437626905), Some(1.585786437626905),
        Some(3.091326307103841)), 1e-12)
  }

  test("rolling cov/corr pairwise-complete min_periods gate vs pandas") {
    // x.rolling(3, min_periods=2).cov(y)  = [nan,nan,nan,nan,-1.5,-1.5,
    //                                        0.25,2.5]
    // x.rolling(3, min_periods=2).corr(y) = [nan,nan,nan,nan,-1,-1,1,1]
    val w = WindowOps.rollingSpec(byI, 3)
    val out = xyPairs.select(col("i"),
      WindowOps.rCov(col("x"), col("y"), w, 2).as("c"),
      WindowOps.rCorr(col("x"), col("y"), w, 2).as("r")).orderBy("i")
    assertSeqApprox(colD(out, "c"),
      Seq(None, None, None, None, Some(-1.5), Some(-1.5), Some(0.25),
        Some(2.5)), 1e-8)
    assertSeqApprox(colD(out, "r"),
      Seq(None, None, None, None, Some(-1.0), Some(-1.0), Some(1.0),
        Some(1.0)), 1e-8)
  }
}
