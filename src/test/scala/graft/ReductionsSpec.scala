package graft

import org.apache.spark.sql.functions._
import graft.engine.Reductions

/** Differential tests vs hand-computed pandas values (pandas 2.x):
  * s = pd.Series([1,2,4,8]): s.skew()=1.1376243669576889,
  * s.kurt()=0.7576559546313799, s.sem()=1.547847968417226,
  * s.var(ddof=2)=14.375, (s-s.mean()).abs().mean()=2.25,
  * s.quantile([.25,.5,.75])=[1.75,3.0,5.0]. */
class ReductionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val s = Seq(1.0, 2.0, 4.0, 8.0).toDF("v")

  test("sample skew matches pandas G1") {
    assertApprox(d1(s.agg(Reductions.sampleSkew(col("v")))),
      Some(1.1376243669576889))
  }

  test("sample kurt matches pandas G2") {
    assertApprox(d1(s.agg(Reductions.sampleKurt(col("v")))),
      Some(0.7576559546313799), 1e-8)
  }

  test("sem matches pandas") {
    assertApprox(d1(s.agg(Reductions.sem(col("v")))), Some(1.547847968417226))
  }

  test("var with ddof=2") {
    assertApprox(d1(s.agg(Reductions.varDdof(col("v"), 2))), Some(14.375))
  }

  test("exact percentile = pandas linear interpolation") {
    val r = s.agg(
      percentile(col("v"), lit(0.25)),
      percentile(col("v"), lit(0.5)),
      percentile(col("v"), lit(0.75))).collect()(0)
    assertApprox(optD(r, 0), Some(1.75))
    assertApprox(optD(r, 1), Some(3.0))
    assertApprox(optD(r, 2), Some(5.0))
  }

  test("product aggregator: exact, null-skipping") {
    val df = Seq(Some(2.0), None, Some(3.0), Some(0.5)).toDF("v")
    assertApprox(d1(df.agg(Reductions.product(col("v")))), Some(3.0))
  }

  test("sum min_count gates to null") {
    assertApprox(d1(s.agg(Reductions.sumMinCount(col("v"), 5))), None)
    assertApprox(d1(s.agg(Reductions.sumMinCount(col("v"), 4))), Some(15.0))
  }

  test("mad matches pandas") {
    val out = Reductions.mad(s, Seq("v"))
    assertApprox(d1(out), Some(2.25))
  }

  test("idxmax/idxmin take the first occurrence on ties") {
    val df = Seq((10L, 1.0), (20L, 5.0), (30L, 5.0)).toDF("idx", "v")
    val r = df.agg(
      Reductions.idxmax(col("idx"), col("v")),
      Reductions.idxmin(col("idx"), col("v"))).collect()(0)
    assert(r.getLong(0) == 20L)
    assert(r.getLong(1) == 10L)
  }

  test("mode returns all tied modes sorted") {
    val df = Seq(1.0, 2.0, 2.0, 3.0, 3.0).toDF("v")
    val modes = Reductions.modeAll(df, "v").collect().map(_.getDouble(0)).toSeq
    assert(modes == Seq(2.0, 3.0))
  }

  test("rank method=average with ties and pct") {
    val df = Seq(5.0, 1.0, 3.0, 1.0, 4.0).toDF("v")
      .withColumn("i", monotonically_increasing_id())
    val out = Reductions.withRankAvg(df, "v", Seq("r" -> false, "p" -> true))
      .orderBy("i")
    assertSeqApprox(colD(out, "r"),
      Seq(5.0, 1.5, 3.0, 1.5, 4.0).map(Some(_)))
    assertSeqApprox(colD(out, "p"),
      Seq(1.0, 0.3, 0.6, 0.3, 0.8).map(Some(_)))
  }

  test("rank descending and null keeping") {
    val df = Seq(Some(5.0), Some(1.0), None, Some(4.0)).toDF("v")
      .withColumn("i", monotonically_increasing_id())
    val out = Reductions.withRankAvg(df, "v", Seq("r" -> false),
      ascending = false).orderBy("i")
    assertSeqApprox(colD(out, "r"), Seq(Some(1.0), Some(3.0), None, Some(2.0)))
  }

  test("rank na_option top and bottom tie the null block like pandas") {
    // pandas: [5, 1, NaN, 4, NaN].rank(na_option='top')
    //   -> [5.0, 3.0, 1.5, 4.0, 1.5]; 'bottom' -> [3.0, 1.0, 4.5, 2.0, 4.5]
    val df = Seq(Some(5.0), Some(1.0), None, Some(4.0), None).toDF("v")
      .withColumn("i", monotonically_increasing_id())
    val top = Reductions.withRankAvg(df, "v", Seq("t" -> false, "tp" -> true),
      naOption = "top")
    val out = Reductions.withRankAvg(top, "v", Seq("b" -> false),
      naOption = "bottom").orderBy("i")
    assertSeqApprox(colD(out, "t"), Seq(5.0, 3.0, 1.5, 4.0, 1.5).map(Some(_)))
    assertSeqApprox(colD(out, "b"), Seq(3.0, 1.0, 4.5, 2.0, 4.5).map(Some(_)))
    assertSeqApprox(colD(out, "tp"), Seq(1.0, 0.6, 0.3, 0.8, 0.3).map(Some(_)))
  }

  test("row-wise quantile/median/std match pandas axis=1") {
    // pd.DataFrame([[1,2,4,8],[3,None,5,1]]) .quantile/.std(axis=1):
    //   q25 -> [1.75, 2.0], median -> [3.0, 3.0], q95 -> [7.4, 4.8],
    //   std(ddof=1) -> [3.095695936834452, 2.0]
    val df = Seq((1L, Some(1.0), Some(2.0), Some(4.0), Some(8.0)),
                 (2L, Some(3.0), None, Some(5.0), Some(1.0)))
      .toDF("i", "a", "b", "c", "d")
    val cols = Seq(col("a"), col("b"), col("c"), col("d"))
    val out = df.withColumn("arr", Reductions.rowSortedValid(cols))
      .select(col("i"),
        Reductions.rowQuantileSorted(col("arr"), 0.25).as("q25"),
        Reductions.rowQuantileSorted(col("arr"), 0.5).as("med"),
        Reductions.rowQuantileSorted(col("arr"), 0.95).as("q95"),
        Reductions.rowStd(col("arr")).as("sd"))
      .orderBy("i")
    assertSeqApprox(colD(out, "q25"), Seq(1.75, 2.0).map(Some(_)))
    assertSeqApprox(colD(out, "med"), Seq(3.0, 3.0).map(Some(_)))
    assertSeqApprox(colD(out, "q95"), Seq(7.4, 4.8).map(Some(_)))
    assertSeqApprox(colD(out, "sd"),
      Seq(3.095695936834452, 2.0).map(Some(_)), 1e-9)
  }

  test("row-wise quantile: empty and single-value rows") {
    val df = Seq[(Long, Option[Double], Option[Double])](
      (1L, None, None), (2L, Some(7.0), None)).toDF("i", "a", "b")
    val out = df.withColumn("arr",
        Reductions.rowSortedValid(Seq(col("a"), col("b"))))
      .select(col("i"),
        Reductions.rowQuantileSorted(col("arr"), 0.5).as("med"),
        Reductions.rowStd(col("arr")).as("sd"))
      .orderBy("i")
    assertSeqApprox(colD(out, "med"), Seq(None, Some(7.0)))
    assertSeqApprox(colD(out, "sd"), Seq(None, None))
  }

  test("isin against a value table via broadcast semi-join") {
    val df = Seq("a", "b", "c").toDF("k")
    val values = Seq("b", "c", "z", "c").toDF("val")
    val out = graft.engine.Apply.isinTable(df, "k", values, "val", "hit")
      .orderBy("k").collect().map(r => (r.getString(0), r.getBoolean(1)))
    assert(out.toSeq == Seq(("a", false), ("b", true), ("c", true)))
  }

  test("describe: 8 stats x columns, exact quartiles") {
    val out = Reductions.describe(s, Seq("v")).orderBy("stat")
    val m = out.collect().map(r => r.getString(0) -> optD(r, 1)).toMap
    assertApprox(m("count"), Some(4.0))
    assertApprox(m("mean"), Some(3.75))
    assertApprox(m("min"), Some(1.0))
    assertApprox(m("25%"), Some(1.75))
    assertApprox(m("50%"), Some(3.0))
    assertApprox(m("75%"), Some(5.0))
    assertApprox(m("max"), Some(8.0))
  }

  test("describeApprox: one-job sketch form tracks the exact stats") {
    import spark.implicits._
    val df = (1 to 1000).map(_.toDouble).toDF("v")
    val exact = Reductions.describe(df, Seq("v")).collect()
      .map(r => r.getString(0) -> optD(r, 1)).toMap
    val approx = Reductions.describeApprox(df, Seq("v")).collect()
      .map(r => r.getString(0) -> optD(r, 1)).toMap
    // moments are exact in both; quartiles within sketch error (<=1 rank
    // at accuracy=10000 over 1000 rows)
    Seq("count", "mean", "std", "min", "max").foreach(k =>
      assertApprox(approx(k), exact(k)))
    Seq("25%", "50%", "75%").foreach { k =>
      assert(math.abs(approx(k).get - exact(k).get) <= 1.0,
        s"$k: ${approx(k)} vs ${exact(k)}")
    }
  }

  test("describe(percentiles=...) labels and values") {
    val out = Reductions.describe(s, Seq("v"), Seq(0.1, 0.9)).orderBy("stat")
    val m = out.collect().map(r => r.getString(0) -> optD(r, 1)).toMap
    assert(m.contains("10%") && m.contains("90%") && !m.contains("25%"))
    // sorted v = [1,2,4,8]: pos(0.1)=0.3 -> 1.3; pos(0.9)=2.7 -> 6.8
    assertApprox(m("10%"), Some(1.3))
    assertApprox(m("90%"), Some(6.8))
  }

  test("describeObject + describeAuto dtype dispatch") {
    import spark.implicits._
    val df = Seq(("x", 1.0), ("x", 2.0), ("y", 3.0)).toDF("k", "v")
    val obj = Reductions.describeObject(df, Seq("k")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(obj == Map("count" -> "3", "unique" -> "2", "top" -> "x",
      "freq" -> "2"))
    // auto: numeric wins when both dtypes present
    val auto = Reductions.describeAuto(df)
    assert(auto.columns.toSeq == Seq("stat", "v"))
    val objAuto = Reductions.describeAuto(df, include = Seq("object"))
    assert(objAuto.columns.toSeq == Seq("stat", "k"))
    assert(Reductions.selectDtypes(df, Seq("all"), Seq("object")) == Seq("v"))
  }

  test("describeDatetime: count/mean/min/quartiles/max over epoch-micros") {
    import spark.implicits._
    // 1970-01-01 00:00:00/01/02/05 UTC -> micros [0, 1e6, 2e6, 5e6]
    val df = Seq(0L, 1000000L, 2000000L, 5000000L)
      .toDF("u").select(timestamp_micros(col("u")).as("ts"))
    val m = Reductions.describeDatetime(df, Seq("ts")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("count") == "4")
    assert(m("mean") == "1970-01-01 00:00:02.000000")
    assert(m("min") == "1970-01-01 00:00:00.000000")
    // sorted pos(0.25)=0.75 -> 750000us; pos(0.5)=1.5 -> 1.5e6
    assert(m("25%") == "1970-01-01 00:00:00.750000")
    assert(m("50%") == "1970-01-01 00:00:01.500000")
    assert(m("max") == "1970-01-01 00:00:05.000000")
    // describeAuto routes datetime-only selections here
    val auto = Reductions.describeAuto(df, include = Seq("datetime"))
    assert(auto.columns.toSeq == Seq("stat", "ts") && auto.count() == 7)
  }

  test("applymap na_action='ignore' keeps nulls without calling f") {
    import spark.implicits._
    val df = Seq(Some(1.0), None, Some(3.0)).toDF("v")
    val out = graft.engine.Apply.applymap(df, Seq("v"),
      c => coalesce(c, lit(-1.0)) * 2, naAction = Some("ignore"))
    assert(colD(out.orderBy(col("v").asc_nulls_first), "v") ==
      Seq(None, Some(2.0), Some(6.0)))
  }

  test("aggregateSpec: stat x col frame from one pass") {
    val out = Reductions.aggregateSpec(s, Seq("v"), Seq("sum", "mean", "max"))
    val m = out.collect().map(r => r.getString(0) -> optD(r, 1)).toMap
    assertApprox(m("sum"), Some(15.0))
    assertApprox(m("mean"), Some(3.75))
    assertApprox(m("max"), Some(8.0))
  }

  test("valueCounts: count-desc with value tie-break, frac normalizes") {
    import spark.implicits._
    val df = Seq("b", "a", "b", "c", "a", "b").toDF("k")
    val rows = Reductions.valueCounts(df, "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(("b", 3L, 0.5), ("a", 2L, 2.0 / 6), ("c", 1L, 1.0 / 6)))
  }

  test("describeBy: per-group stats incl. exact percentiles") {
    import spark.implicits._
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 4.0), ("g", 8.0), ("h", 5.0))
      .toDF("k", "v")
    val out = graft.engine.GroupOps.describeBy(df, Seq("k"), "v").collect()
    val g = out.find(_.getString(0) == "g").get
    assert(g.getLong(1) == 4L)                       // count
    assert(math.abs(g.getDouble(5) - 1.75) < 1e-9)   // p25 of [1,2,4,8]
    assert(math.abs(g.getDouble(6) - 3.0) < 1e-9)    // p50
  }

  test("boundedHistogram: exact counts under cap, null over cap, merges across partitions") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 7).toDouble).toDF("v").repartition(8)
    val row = df.agg(
      Reductions.boundedHistogram(col("v"), cap = 10).as("h"),
      Reductions.boundedHistogram(col("v"), cap = 5).as("over")).collect()(0)
    val h = row.getMap[Double, Long](0)
    assert(h.size == 7)
    // 1..1000 % 7: residue r in 1..6 appears 143 times; 0 appears 142
    assert(h(0.0) == 142L && h(1.0) == 143L && h(6.0) == 143L)
    assert(row.isNullAt(1)) // 7 distinct > cap=5 -> null
    // -0.0 and 0.0 are one value: their counts add up, none is lost
    val z = Seq(-0.0, 0.0, 0.0, -0.0, 1.0).toDF("v").repartition(2)
      .agg(Reductions.boundedHistogram(col("v"), cap = 10).as("h"))
      .collect()(0).getMap[Double, Long](0)
    assert(z.toMap == Map(0.0 -> 4L, 1.0 -> 1L))
  }

  test("Rank stats from driver counts: before/cnt, -0.0 is 0.0, NaN last") {
    import graft.engine.Rank
    // a hand-built probe feeds the kernel's driver stats builder:
    // the 0.0 tie group (-0.0 joins 0.0) -> before 0, cnt 3 -> 2.0;
    // 5.0 -> before 3, cnt 2 -> 4.5; 9.0 -> 6.0; the two NaN rows
    // (n minus the histogram) -> before 6, cnt 2 -> 7.5
    val vs = Seq(5.0, -0.0, 0.0, 5.0, 0.0, 9.0, Double.NaN, Double.NaN)
    val df = vs.toDF("v")
    val hist = Map(5.0 -> 2L, 0.0 -> 3L, 9.0 -> 1L)
    val p = Rank.Probe(df, Nil, Seq("v"), gate = 65536L, keyNdv = 1L,
      colNdv = IndexedSeq.empty, groups = Some(Seq(Rank.Group(Nil, 8L,
        IndexedSeq(8L), IndexedSeq(hist), IndexedSeq(null)))))
    val got = Rank.midrank(p, Seq("r")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(got.size == 8)
    got.foreach { case (v, r) =>
      val want = if (v.isNaN) 7.5 else if (v == 0.0) 2.0
        else if (v == 5.0) 4.5 else 6.0
      assert(r == want, s"v=$v: $r vs $want")
    }
  }

  test("withRankAvg ranks longs above 2^53 exactly (pandas Series.rank " +
    "is exact on int64)") {
    val big = 1L << 53
    val df = Seq(big + 2, big, big + 1).toDF("x")
    val out = Reductions.withRankAvg(df, "x", Seq("r" -> false))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(big -> 1.0, (big + 1) -> 2.0, (big + 2) -> 3.0))
  }

  test("withRankAvg ranks strings and timestamps like pandas rank(), " +
    "ties and nulls included") {
    // pandas Series(["b", "a", None, "b", "\uFF21", "a", "b",
    // "\U0001D49C"]).rank() = [4, 1.5, NaN, 4, 6, 1.5, 4, 7]: code-point
    // order puts U+FF21 before U+1D49C, which UTF-16 order would swap
    val strs = Seq("b", "a", null, "b", "\uFF21", "a", "b", "\uD835\uDC9C")
    val sr = Reductions.withRankAvg(strs.zipWithIndex.toDF("s", "id"), "s",
      Seq("r" -> false)).collect().map(r => r.getInt(1) -> r.get(2)).toMap
    assert(sr == Map(0 -> 4.0, 1 -> 1.5, 2 -> null, 3 -> 4.0, 4 -> 6.0,
      5 -> 1.5, 6 -> 4.0, 7 -> 7.0))
    // pandas Series(pd.to_datetime(["2024-01-02", "2024-01-01", None,
    // "2024-01-02 00:00:00.000001", "2024-01-02"])).rank()
    //   = [2.5, 1, NaN, 4, 2.5]
    val ts = Seq("2024-01-02 00:00:00", "2024-01-01 00:00:00", null,
      "2024-01-02 00:00:00.000001", "2024-01-02 00:00:00")
    val tdf = ts.zipWithIndex.toDF("s", "id").select(col("s").cast("timestamp").as("t"), col("id"))
    val tr = Reductions.withRankAvg(tdf, "t", Seq("r" -> false))
      .collect().map(r => r.getInt(1) -> r.get(2)).toMap
    assert(tr == Map(0 -> 2.5, 1 -> 1.0, 2 -> null, 3 -> 4.0, 4 -> 2.5))
  }

  test("longs next to 2^53 rank the same in the driver and the in-plan " +
    "regime (pandas int64 ranks)") {
    import graft.engine.Rank
    val big = 1L << 53
    val df = Seq(Some(big + 2), Some(big), None, Some(big + 1), Some(big - 1),
      Some(big + 1)).toDF("x")
    val p = Rank.probe(df, Nil, Seq("x"))
    def ranks(q: Rank.Probe) = Rank.midrank(q, Seq("r")).collect()
      .map(r => Option(r.get(0)) -> Option(r.get(1))).toMap
    val want = Map(Some(big - 1) -> Some(1.0), Some(big) -> Some(2.0),
      Some(big + 1) -> Some(3.5), Some(big + 2) -> Some(5.0), None -> None)
    assert(ranks(p) == want, "driver regime")
    val inPlan = Rank.midrank(p.copy(gate = 0L), Seq("r"))
    assert(inPlan.queryExecution.optimizedPlan.toString.contains("shuffle_hash"))
    assert(ranks(p.copy(gate = 0L)) == want, "in-plan regime")
  }

  test("nuniqueApprox: HLL within rsd of exact") {
    import spark.implicits._
    val df = (1 to 10000).map(i => i % 997).toDF("v")
    val got = Reductions.nuniqueApprox(df, Seq("v"), rsd = 0.01)
      .collect()(0).getLong(0)
    assert(math.abs(got - 997L) <= 997 * 0.05, s"got $got")
  }

  test("heavyHitters: exact counts when distinct <= k") {
    import spark.implicits._
    val df = (1 to 1000).map(i => s"v${i % 7}").toDF("s").repartition(8)
    val rows = Reductions.heavyHitters(df, "s", k = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // exact regime: identical to groupBy counts, ordered desc-then-item
    val want = (0 to 6).map(r => s"v$r" ->
      (if (r == 0) 142L else 143L)).sortBy { case (i, c) => (-c, i) }
    assert(rows.toSeq == want)
  }

  test("heavyHitters: Misra-Gries bounds hold under distributed merge " +
    "on skewed random data (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1111L)
    // zipf-ish: item i drawn with weight ~ 1/(i+1)
    val ids = (0 until 60).toArray
    val weights = ids.map(i => 1.0 / (i + 1))
    val cum = weights.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    val data = Seq.fill(8000) {
      val u = rnd.nextDouble() * total
      s"item${ids(cum.indexWhere(u <= _))}"
    }
    val n = data.size
    val truth = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (k <- Seq(8, 16, 32)) {
      val est = Reductions.heavyHitters(
          data.toDF("s").repartition(16), "s", k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est.size <= k)
      val bound = n.toDouble / (k + 1)
      est.foreach { case (item, e) =>
        val t = truth(item)
        assert(e <= t, s"k=$k: overcount $item: $e > $t")
        assert(t - e <= bound + 1e-9, s"k=$k: $item est $e vs true $t " +
          s"exceeds n/(k+1)=$bound")
      }
      truth.foreach { case (item, t) =>
        if (t > bound)
          assert(est.contains(item),
            s"k=$k: frequent item $item (count $t > $bound) missing")
      }
    }
  }
}
