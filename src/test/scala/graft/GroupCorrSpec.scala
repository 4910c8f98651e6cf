package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.engine.{Corr, GroupOps}

/** GroupBy + correlation differential tests vs hand-computed pandas:
  * g = DataFrame(k=[a,a,b,b,None], v=[1,3,2,6,9]):
  *   g.groupby('k').v.mean() = {a: 2, b: 4}  (null key dropped)
  *   g.groupby('k').v.transform('mean') = [2,2,4,4,nan]
  * x=[1,2,2,3], y=[4,1,3,2]: pearson=-0.6324555320336759,
  *   spearman=-0.632455532033676, kendall tau-b=-0.5477225575051661 */
class GroupCorrSpec extends SparkSpec {
  import spark.implicits._

  private lazy val g = Seq(
    (Some("a"), 1.0), (Some("a"), 3.0), (Some("b"), 2.0),
    (Some("b"), 6.0), (None, 9.0)).toDF("k", "v")

  test("agg: list spec, col_fn naming, null keys dropped, sorted") {
    val out = GroupOps.agg(g, Seq("k"), Seq("v" -> Seq("mean", "sum")))
    assert(out.columns.toSeq == Seq("k", "v_mean", "v_sum"))
    val rows = out.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(("a", 2.0, 4.0), ("b", 4.0, 8.0)))
  }

  test("transform('mean') broadcasts per group; null keys yield null") {
    val out = g.withColumn("i", monotonically_increasing_id())
      .select(col("i"), GroupOps.transform("mean", col("v"), Seq(col("k"))).as("t"))
      .orderBy("i")
    assertSeqApprox(colD(out, "t"),
      Seq(Some(2.0), Some(2.0), Some(4.0), Some(4.0), None))
  }

  test("transformApply: arbitrary series UDF joins back; null keys stay null") {
    // per-group demean: a -> [-1, 1], b -> [-2, 2], null key -> null
    val df = g.withColumn("o", monotonically_increasing_id())
    val out = GroupOps.transformApply(df, Seq("k"), "o", "v", "t") { xs =>
      val m = xs.sum / xs.size; xs.map(_ - m)
    }.orderBy("o")
    assertSeqApprox(colD(out, "t"),
      Seq(Some(-1.0), Some(1.0), Some(-2.0), Some(2.0), None))
  }

  test("transformApply: series order follows ordCol, not input order") {
    // cumulative sum within group depends on ordering -> reversed ord
    // must produce reversed accumulation
    val df = Seq(("a", 2L, 10.0), ("a", 1L, 1.0)).toDF("k", "o", "v")
    val out = GroupOps.transformApply(df, Seq("k"), "o", "v", "c") { xs =>
      xs.scanLeft(0.0)(_ + _).tail.toIndexedSeq
    }.orderBy("o")
    assertSeqApprox(colD(out, "c"), Seq(Some(1.0), Some(11.0)))
  }

  test("pivot_table with explicit values and fill") {
    val df = Seq(("r1", "F", 1.0), ("r1", "O", 2.0), ("r2", "F", 3.0))
      .toDF("idx", "cat", "v")
    val out = GroupOps.pivotTable(df, Seq("idx"), "cat", Seq("F", "O"), "v",
      "sum", fillValue = Some(0.0))
    val rows = out.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(("r1", 1.0, 2.0), ("r2", 3.0, 0.0)))
  }

  test("merge renames overlapping columns with suffixes") {
    val l = Seq((1, "x", 10.0)).toDF("id", "name", "score")
    val r = Seq((1, "y", 20.0)).toDF("id", "name", "score")
    val out = GroupOps.merge(l, r, on = Seq("id"))
    assert(out.columns.toSet ==
      Set("id", "name_x", "score_x", "name_y", "score_y"))
    assert(out.count() == 1)
  }

  test("merge outer keeps non-matching keys") {
    val l = Seq((1, 10.0), (2, 20.0)).toDF("id", "a")
    val r = Seq((2, 200.0), (3, 300.0)).toDF("id", "b")
    val out = GroupOps.merge(l, r, on = Seq("id"), how = "outer")
    assert(out.count() == 3)
  }

  test("mergeOn: index/asymmetric keys, suffixes, flag indicator") {
    // left_index + right_on: both key columns kept, pandas-style
    val l = Seq((10L, "a"), (11L, "b"), (12L, "c")).toDF("row_id", "tag")
    val r = Seq((10L, 1.0), (12L, 2.0), (13L, 3.0)).toDF("k", "v")
    val out = GroupOps.mergeOn(l, r, Seq("row_id"), Seq("k"),
      how = "outer", indicator = true)
    assert(out.columns.toSet == Set("row_id", "tag", "k", "v", "_merge"))
    val m = out.collect().map(x =>
      (Option(x.get(0)), Option(x.get(2)), x.getString(4))).toSet
    assert(m == Set(
      (Some(10L), Some(10L), "both"), (Some(11L), None, "left_only"),
      (Some(12L), Some(12L), "both"), (None, Some(13L), "right_only")))
    // indicator comes from presence FLAGS: a legitimately-null payload
    // on a matched row must still read 'both'
    val rn = Seq((10L, Option.empty[Double])).toDF("k", "v")
    val fl = GroupOps.mergeOn(l, rn, Seq("row_id"), Seq("k"),
      how = "left", indicator = true)
      .filter(col("row_id") === 10L).head()
    assert(fl.getAs[String]("_merge") == "both" && fl.isNullAt(fl.fieldIndex("v")))
    // shared non-key names are suffixed even under asymmetric keys
    val l2 = Seq((1L, 5.0)).toDF("idx", "score")
    val r2 = Seq((1L, 6.0)).toDF("kk", "score")
    val s2 = GroupOps.mergeOn(l2, r2, Seq("idx"), Seq("kk"))
    assert(s2.columns.toSet == Set("idx", "score_x", "kk", "score_y"))
    // identical key lists delegate to merge(): single shared key column
    val s3 = GroupOps.mergeOn(l, l.withColumnRenamed("tag", "t2"),
      Seq("row_id"), Seq("row_id"))
    assert(s3.columns.toSet == Set("row_id", "tag", "t2"))
    // validate applies to each side's own keys
    val dup = Seq((10L, 1.0), (10L, 2.0)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      GroupOps.mergeOn(l, dup, Seq("row_id"), Seq("k"), validate = Some("1:1"))
    }
    assert(e.getMessage.contains("not unique in right dataset"))
    // 1:m constrains only the left keys, m:1 only the right keys
    val dupL = Seq((10L, "a"), (10L, "b")).toDF("row_id", "tag")
    assert(GroupOps.mergeOn(l, dup, Seq("row_id"), Seq("k"),
      validate = Some("1:m")).count() == 2)
    assert(GroupOps.mergeOn(dupL, r, Seq("row_id"), Seq("k"),
      validate = Some("m:1")).count() == 2)
    val e1m = intercept[IllegalArgumentException] {
      GroupOps.mergeOn(dupL, r, Seq("row_id"), Seq("k"), validate = Some("1:m"))
    }
    assert(e1m.getMessage.contains("not unique in left dataset") &&
      e1m.getMessage.contains("one-to-many"))
    val em1 = intercept[IllegalArgumentException] {
      GroupOps.mergeOn(l, dup, Seq("row_id"), Seq("k"), validate = Some("m:1"))
    }
    assert(em1.getMessage.contains("not unique in right dataset") &&
      em1.getMessage.contains("many-to-one"))
    intercept[IllegalArgumentException] {
      GroupOps.mergeOn(l, r, Seq("row_id"), Seq("k"), validate = Some("bogus"))
    }
  }

  test("merge(validate=) passes valid shapes and fails fast like pandas") {
    val l = Seq((1, 10.0), (2, 20.0)).toDF("id", "a")
    val dupL = Seq((1, 10.0), (1, 11.0), (2, 20.0)).toDF("id", "a")
    val r = Seq((1, 100.0), (2, 200.0)).toDF("id", "b")
    val dupR = Seq((1, 100.0), (1, 101.0)).toDF("id", "b")
    // valid: 1:1 unique/unique, 1:m dup right ok, m:1 dup left ok
    assert(GroupOps.merge(l, r, Seq("id"), validate = Some("1:1")).count() == 2)
    assert(GroupOps.merge(l, dupR, Seq("id"), validate = Some("1:m")).count() == 2)
    assert(GroupOps.merge(dupL, r, Seq("id"), validate = Some("m:1")).count() == 3)
    assert(GroupOps.merge(dupL, dupR, Seq("id"), validate = Some("m:m")).count() == 4)
    // invalid: fail fast with the pandas MergeError message shape
    val e1 = intercept[IllegalArgumentException] {
      GroupOps.merge(dupL, r, Seq("id"), validate = Some("1:1"))
    }
    assert(e1.getMessage.contains("not unique in left dataset") &&
      e1.getMessage.contains("one-to-one"))
    val e2 = intercept[IllegalArgumentException] {
      GroupOps.merge(l, dupR, Seq("id"), validate = Some("m:1"))
    }
    assert(e2.getMessage.contains("not unique in right dataset"))
    intercept[IllegalArgumentException] {
      GroupOps.merge(l, r, Seq("id"), validate = Some("bogus"))
    }
  }

  test("salted two-phase stats equal a plain aggregation") {
    val df = (1 to 200).map(i => (if (i <= 190) "hot" else "cold", i * 1.0))
      .toDF("k", "v").repartition(8)
    val out = GroupOps.saltedStats(df, Seq("k"), "v", salt = 4)
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(4), r.getDouble(5)))
    val hotSum = (1 to 190).map(_ * 1.0).sum
    val coldSum = (191 to 200).map(_ * 1.0).sum
    assert(out.toSeq == Seq(
      ("cold", coldSum, 10L, 191.0, 200.0),
      ("hot", hotSum, 190L, 1.0, 190.0)))
  }

  private lazy val xy = Seq((1.0, 4.0), (2.0, 1.0), (2.0, 3.0), (3.0, 2.0))
    .toDF("x", "y")

  test("pearson long-form matrix") {
    val out = Corr.pearsonLong(xy, Seq("x", "y"))
    val r = out.collect()(0)
    assert((r.getString(0), r.getString(1)) == ("x", "y"))
    assertApprox(optD(r, 2), Some(-0.6324555320336759), 1e-9)
  }

  test("native Gramian pearson matrix agrees with pairwise corr; skips null rows") {
    val df = Seq(
      (Some(1.0), Some(4.0), Some(2.0)), (Some(2.0), Some(1.0), Some(5.0)),
      (Some(2.0), Some(3.0), Some(1.0)), (Some(3.0), Some(2.0), Some(4.0)),
      (None, Some(9.0), Some(9.0))) // listwise-dropped row
      .toDF("x", "y", "z")
    val complete = df.na.drop()
    val g = Corr.pearsonLongGramian(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val pair = Corr.pearsonLong(complete, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(g.size == 3)
    pair.foreach { case (k, v) => assertApprox(Some(g(k)), Some(v), 1e-9) }
  }

  test("spearman = pearson over average ranks") {
    assertApprox(d1(Corr.spearman(xy, "x", "y")), Some(-0.632455532033676), 1e-9)
  }

  test("kendall tau-b with ties") {
    assertApprox(d1(Corr.kendall(xy, "x", "y")), Some(-0.5477225575051661), 1e-9)
  }

  /** Runs `f` and returns its value with the long call site of every
    * stage it submitted: a stage of the Kendall grid names
    * `kendallGrid` there. */
  private def stageSites[T](f: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val marker = "kendall-stage-sites-marker"
    @volatile var seen = false
    val l = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (!seen) sites.add(e.stageInfo.details)
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties.getProperty("spark.job.description") == marker) seen = true
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val out = f
      // one listener queue delivers in order: once the marker job is
      // seen, every stage of `f` has been too
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val until = System.nanoTime() + 30000000000L
      while (!seen && System.nanoTime() < until) Thread.sleep(20)
      assert(seen, "listener never saw the marker job")
      (out, sites.toArray.map(_.toString).toSeq)
    } finally sc.removeSparkListener(l)
  }

  test("q_kendall_dist runs the Kendall grid") {
    import spark.implicits._
    // a small events table: users 3 and 7 are the query's slice
    val dir = java.nio.file.Files.createTempDirectory("kendall-dist").toString
    val ev = (1 to 90).map(i =>
      (Seq(3L, 7L, 9L)(i % 3), i * 1000000000L, (i * 37 % 11).toDouble))
      .toDF("user_id", "ts", "value")
    ev.write.parquet(s"$dir/events.parquet")
    val (out, sites) = stageSites(SparkEntry.queries("q_kendall_dist")(spark, dir))
    assert(sites.exists(_.contains("kendallGrid")), sites.mkString("\n"))
    assertApprox(d1(out), refTauOf(ev.filter(col("user_id") =!= 9L)
      .withColumn("t", col("ts").cast("double")), "value", "t"), 1e-6)
  }

  test("kendallFast (Knight O(n log n)) equals pairwise kendall incl. ties") {
    import spark.implicits._
    assertApprox(d1(Corr.kendall(xy, "x", "y")),
      Some(-0.5477225575051661), 1e-9)
    // random-ish data with heavy ties in both columns
    val df = (1 to 400).map { i =>
      ((i * 37 % 11).toDouble, (i * 53 % 7).toDouble)
    }.toDF("x", "y")
    assertApprox(d1(Corr.kendall(df, "x", "y")),
      refTauOf(df, "x", "y"), 1e-12)
  }

  test("kendallDistributed (grid decomposition) equals pairwise kendall") {
    import spark.implicits._
    def grid(df: org.apache.spark.sql.DataFrame, b: Int) =
      d1(Corr.kendallGrid(df, Seq("x", "y"), buckets = b).select("kendall"))
    assertApprox(grid(xy, 3), Some(-0.5477225575051661), 1e-9)
    // heavy ties in both columns, several bucket settings (cuts land on
    // tied values — the equal-values-never-split property is what's
    // under test), negatives, and nulls/NaN filtered like the others
    val df = (1 to 400).map { i =>
      ((i * 37 % 11).toDouble - 5, (i * 53 % 7).toDouble)
    }.toDF("x", "y")
    val want = refTauOf(df, "x", "y")
    for (b <- Seq(2, 3, 8, 64))
      assertApprox(grid(df, b), want, 1e-12)
    val withNulls = df.union(Seq((Double.NaN, 1.0), (1.0, Double.NaN))
      .toDF("x", "y"))
    assertApprox(grid(withNulls, 64), want, 1e-12)
    // constant side -> null (denominator 0)
    val const = (1 to 50).map(i => (1.0, i.toDouble)).toDF("x", "y")
    assert(grid(const, 64).isEmpty)
  }

  test("corrMatrixAll escalates kendall to the distributed path above the bound") {
    import spark.implicits._
    val df = (1 to 50).map { i =>
      ((i * 37 % 11).toDouble, (i * 53 % 7).toDouble)
    }.toDF("a", "b")
    val bounded = Corr.corrMatrixAll(df, Seq("a", "b"), withKendall = true)
      .collect()(0)
    // force the grid with a tiny driver bound
    val (escalated, sites) = stageSites(
      Corr.kendallKernel(df, Seq("a", "b"), 1, 10L).collect()(0))
    assert(sites.exists(_.contains("kendallGrid")), sites.mkString("\n"))
    assertApprox(optD(escalated, 2), optD(bounded, 4), 1e-12)
  }

  test("kendallDistributed refuses concentrated distributions loudly") {
    import spark.implicits._
    // x has 2 distinct values -> one stripe holds >= half the rows
    val df = (1 to 100).map(i => ((i % 2).toDouble, i.toDouble)).toDF("x", "y")
    val e = intercept[IllegalArgumentException] {
      Corr.kendallGrid(df, Seq("x", "y"), maxStripeRows = 10L)
    }
    assert(e.getMessage.contains("maxStripeRows"))
    // and with the default bound the same frame is exact
    assertApprox(d1(Corr.kendallGrid(df, Seq("x", "y")).select("kendall")),
      refTauOf(df, "x", "y"), 1e-12)
  }

  test("kendallMatrixDistributed cells equal single-pair kendall") {
    import spark.implicits._
    val df = (1 to 120).map { i =>
      ((i * 37 % 11).toDouble, (i * 53 % 7).toDouble, i.toDouble)
    }.toDF("a", "b", "c")
    val got = Corr.kendallGrid(df, Seq("a", "b", "c"),
      buckets = 4).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got.size == 3)
    for (((c1, c2), v) <- got)
      assertApprox(Some(v), refTauOf(df, c1, c2), 1e-12)
  }

  test("Kendall kernel: -0.0 ties 0.0 in the driver, grid and grouped " +
    "paths (a total double order split the tie)") {
    import spark.implicits._
    // tau-b of x=[-0,0,1], y=[2,1,3] is 2/sqrt(6), as for x=[0,0,1]
    val want = Some(2 / math.sqrt(6))
    val df = Seq((-0.0, 2.0), (0.0, 1.0), (1.0, 3.0)).toDF("x", "y")
    assertApprox(d1(Corr.kendall(df, "x", "y")), want, 1e-12)
    for (b <- Seq(2, 3))
      assertApprox(d1(Corr.kendallGrid(df, Seq("x", "y"), buckets = b)
        .select("kendall")), want, 1e-12)
    val by = Corr.kendallMatrixBy(df.withColumn("g", lit(1)), "g",
        Seq("x", "y")).filter(col("c1") =!= col("c2"))
    assertApprox(d1(by.select("kendall")), want, 1e-12)
  }

  test("kendallMatrixBy: -0.0 and 0.0 group keys are one group, keyed 0.0") {
    val df = Seq((-0.0, 1.0, 4.0), (-0.0, 2.0, 1.0), (0.0, 3.0, 3.0),
      (0.0, 4.0, 2.0)).toDF("k", "x", "y")
    val out = Corr.kendallMatrixBy(df, "k", Seq("x", "y"))
      .filter(col("c1") === "x" && col("c2") === "y").collect()
    assert(out.length == 1, out.mkString(", "))
    assert(java.lang.Double.compare(out(0).getDouble(0), 0.0) == 0)
    assert(math.abs(out(0).getDouble(3) - (-1.0 / 3)) < 1e-12)
  }

  test("spearmanMatrix: every pair equals the single-pair spearman") {
    import spark.implicits._
    // x: low-cardinality (histogram/broadcast-join rank path),
    // z: near-unique (deterministic-bucket midrank path) — both paths
    // must agree with the pairwise form
    val df = (1 to 300).map { i =>
      ((i * 37 % 5).toDouble, (i * 53 % 7).toDouble, math.sin(i) * 1000)
    }.toDF("x", "y", "z")
    val m = Corr.spearmanMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> optD(r, 2)).toMap
    assert(m.size == 3)
    for (((a, b), got) <- m)
      assertApprox(got, d1(Corr.spearman(df, a, b)), 1e-9)
  }

  test("corrMatrixPairwise: per-pair masks, not listwise; minPeriods gates cells") {
    import spark.implicits._
    // x is null exactly where z is large, so the (x,y) cell must be
    // computed over a DIFFERENT row subset than the (y,z) cell —
    // listwise deletion would force them onto the same rows.
    val df = (1 to 200).map { i =>
      (if (i % 3 == 0) None else Some(i.toDouble),
       (i * 53 % 7).toDouble,
       if (i % 5 == 0) None else Some(math.sin(i) * 1000))
    }.toDF("x", "y", "z")
    val m = Corr.corrMatrixPairwise(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((optD(r, 2), optD(r, 3), r.getLong(4)))).toMap
    assert(m.size == 3)
    // per-pair n: 200 minus that pair's own holes (and only its own)
    assert(m(("x", "y"))._3 == 200 - 200 / 3)
    assert(m(("y", "z"))._3 == 200 - 200 / 5)
    assert(m(("x", "z"))._3 == 200 - 200 / 3 - 200 / 5 + 200 / 15)
    // each cell equals the single-pair form on that pair's masked frame
    for ((a, b) <- Seq(("x", "y"), ("x", "z"), ("y", "z"))) {
      val masked = df.filter(col(a).isNotNull && col(b).isNotNull)
      assertApprox(m((a, b))._1,
        d1(masked.agg(corr(col(a), col(b)).as("c"))), 1e-9)
      assertApprox(m((a, b))._2, d1(Corr.spearman(masked, a, b)), 1e-9)
    }
    // minPeriods above a pair's n nulls that cell but keeps its count
    val gated = Corr.corrMatrixPairwise(df, Seq("x", "y", "z"),
        minPeriods = 200 - 200 / 3 - 200 / 5 + 200 / 15 + 1)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((optD(r, 2), r.getLong(4)))).toMap
    assert(gated(("x", "z"))._1.isEmpty)
    assert(gated(("x", "z"))._2 == 200 - 200 / 3 - 200 / 5 + 200 / 15)
    assert(gated(("x", "y"))._1.nonEmpty)
  }

  test("kendallMatrixPairwise: each cell equals kendallFast on its own mask") {
    import spark.implicits._
    val df = (1 to 200).map { i =>
      (if (i % 3 == 0) None else Some(i.toDouble),
       (i * 53 % 7).toDouble,
       if (i % 5 == 0) None else Some(math.sin(i) * 1000))
    }.toDF("x", "y", "z")
    val m = Corr.kendallMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((optD(r, 2), r.getLong(3)))).toMap
    assert(m.size == 3)
    assert(m(("x", "y"))._2 == 200 - 200 / 3)
    assert(m(("x", "z"))._2 == 200 - 200 / 3 - 200 / 5 + 200 / 15)
    for ((a, b) <- Seq(("x", "y"), ("x", "z"), ("y", "z")))
      assertApprox(m((a, b))._1, refTauOf(df, a, b), 1e-9)
    // minPeriods above the thinnest pair nulls that cell only
    val gated = Corr.kendallMatrix(df, Seq("x", "y", "z"),
        minPeriods = 200 - 200 / 3 - 200 / 5 + 200 / 15 + 1)
      .collect().map(r => (r.getString(0), r.getString(1)) -> optD(r, 2)).toMap
    assert(gated(("x", "z")).isEmpty && gated(("x", "y")).nonEmpty)
  }

  test("kendallMatrix: every pair equals kendallFast; corrMatrix dispatches") {
    import spark.implicits._
    val df = (1 to 300).map { i =>
      ((i * 37 % 5).toDouble, (i * 53 % 7).toDouble, math.sin(i) * 1000)
    }.toDF("x", "y", "z")
    val m = Corr.kendallMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> optD(r, 2)).toMap
    assert(m.size == 3)
    for (((a, b), got) <- m)
      assertApprox(got, refTauOf(df, a, b), 1e-12)
    // dispatcher: pearson matrix comes back in the same long form
    val p = Corr.corrMatrix(df, Seq("x", "y", "z"), "pearson")
    assert(p.columns.toSeq == Seq("c1", "c2", "corr") && p.count() == 3)
    intercept[IllegalArgumentException] {
      Corr.corrMatrix(df, Seq("x", "y"), "nope")
    }
  }

  test("kendallApprox: exact when the sample covers the input; close on a sample") {
    import spark.implicits._
    // maxRows >= n -> identical to exact
    assertApprox(d1(Corr.kendallApprox(xy, "x", "y", maxRows = 1000)),
      Some(-0.5477225575051661), 1e-9)
    // monotone relation: exact tau=1; any sample preserves it exactly
    val mono = (1 to 500).map(i => (i.toDouble, i * 2.0)).toDF("x", "y")
    assertApprox(d1(Corr.kendallApprox(mono, "x", "y", maxRows = 100)),
      Some(1.0), 1e-9)
  }

  test("corrMatrixBy vs pandas groupby.corr()") {
    // pandas: df.groupby('g')[['x','y','z']].corr() on the frame below:
    //   g=1: xy=0.848528137, xz=0.316227766, yz=0.223606798
    //   g=2: xy=-0.277350098, xz=0.038461538, yz=-0.970725343
    val df = Seq(
      (1L, 1.0, 2.0, 1.0), (1L, 2.0, 1.0, 1.0), (1L, 4.0, 5.0, 2.0),
      (1L, 3.0, 4.0, 0.0), (2L, 1.0, 2.0, 5.0), (2L, 5.0, 2.0, 4.0),
      (2L, 2.0, 8.0, 1.0)).toDF("g", "x", "y", "z")
    val out = Corr.corrMatrixBy(df, "g", Seq("x", "y", "z"))
      .collect().map(r => ((r.getLong(0), r.getString(1), r.getString(2)),
        r.getDouble(3))).toMap
    val want = Map(
      (1L, "x", "y") -> 0.8485281374238570, (1L, "x", "z") -> 0.3162277660168379,
      (1L, "y", "z") -> 0.2236067977499790, (2L, "x", "y") -> -0.2773500981126146,
      (2L, "x", "z") -> 0.0384615384615385, (2L, "y", "z") -> -0.9707253433941511)
    want.foreach { case (k, v) =>
      assert(math.abs(out(k) - v) < 1e-9, s"$k: ${out(k)} vs $v") }
    // diagonal = 1 for non-degenerate columns
    Seq("x", "y", "z").foreach { c =>
      assert(math.abs(out((1L, c, c)) - 1.0) < 1e-12) }
    // spearman: perfectly monotone within-group pair = 1 regardless of
    // nonlinearity
    val m = Seq((1L, 1.0, 10.0), (1L, 2.0, 100.0), (1L, 3.0, 1000.0),
      (2L, 1.0, 3.0), (2L, 2.0, 1.0), (2L, 3.0, 0.5))
      .toDF("g", "x", "y")
    val sp = Corr.corrMatrixBy(m, "g", Seq("x", "y"), "spearman")
      .collect().map(r => ((r.getLong(0), r.getString(1), r.getString(2)),
        r.getDouble(3))).toMap
    assert(math.abs(sp((1L, "x", "y")) - 1.0) < 1e-12)
    assert(math.abs(sp((2L, "x", "y")) - (-1.0)) < 1e-12)
  }

  test("corrMatrixBy spearman: NULL cells get NULL midranks (pairwise-masked)") {
    // ADVICE r8: the old group-window form ranked nulls FIRST (Spark
    // sort order), so a null y polluted the coefficient. With null->null
    // midranks, the masked pearson runs over the complete rows only:
    // g=1: x=[1,2,3,4,5] ranks [1..5], y=[4,null,2,1,3] ranks [4,-,2,1,3]
    // -> corr of ([1,3,4,5],[4,2,1,3]) = -3.5/sqrt(8.75*5)
    val df = Seq(
      (1L, 1.0, Some(4.0)), (1L, 2.0, None), (1L, 3.0, Some(2.0)),
      (1L, 4.0, Some(1.0)), (1L, 5.0, Some(3.0))).toDF("g", "x", "y")
    val sp = Corr.corrMatrixBy(df, "g", Seq("x", "y"), "spearman")
      .filter(col("c1") === "x" && col("c2") === "y").head()
    assert(math.abs(sp.getDouble(3) - (-0.5291502622129181)) < 1e-12,
      s"got ${sp.getDouble(3)}")
  }

  test("covMatrixBy vs pandas groupby.cov()") {
    // pandas groupby('g')[['x','y']].cov():
    //   g=1: xx=2.3333, xy=2.6667, yy=4.3333
    //   g=2: xx=4.3333, xy=-2.0,  yy=12.0
    val df = Seq((1L, 1.0, 2.0), (1L, 2.0, 1.0), (1L, 4.0, 5.0),
      (2L, 1.0, 2.0), (2L, 5.0, 2.0), (2L, 2.0, 8.0)).toDF("g", "x", "y")
    val out = Corr.covMatrixBy(df, "g", Seq("x", "y"))
      .collect().map(r => ((r.getLong(0), r.getString(1), r.getString(2)),
        r.getDouble(3))).toMap
    val want = Map(
      (1L, "x", "x") -> 7.0 / 3, (1L, "x", "y") -> 8.0 / 3,
      (1L, "y", "y") -> 13.0 / 3, (2L, "x", "x") -> 13.0 / 3,
      (2L, "x", "y") -> -2.0, (2L, "y", "y") -> 12.0)
    want.foreach { case (k, v) =>
      assert(math.abs(out(k) - v) < 1e-9, s"$k: ${out(k)} vs $v") }
  }

  // ---- corr(method=callable) — corrMatrixWith (VERDICT r9 item 1) ----

  /** Degenerate-safe pearson as a callable aggregate builder: the same
    * arithmetic pandas runs per pair, so corrMatrixWith(pearsonf) must
    * reproduce the builtin pearson matrix cell for cell. */
  private def pearsonf(x: Column, y: Column): Column = {
    val n = count(when(x.isNotNull, 1)).cast("double")
    val cov = sum(x * y) - sum(x) * sum(y) / n
    val vx = sum(x * x) - sum(x) * sum(x) / n
    val vy = sum(y * y) - sum(y) * sum(y) / n
    cov / sqrt(vx * vy)
  }

  test("corrMatrixWith(pearson callable) equals the builtin pearson matrix") {
    val df = Seq((1.0, 4.0, 2.0), (2.0, 1.0, 5.0), (2.0, 3.0, 1.0),
      (3.0, 2.0, 7.0), (5.0, 6.0, 2.0)).toDF("x", "y", "z")
    val cols = Seq("x", "y", "z")
    val want = Corr.pearsonLong(df, cols).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val got = Corr.corrMatrixWith(df, cols, pearsonf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    want.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-12, s"$k: ${got(k)} vs $v") }
  }

  test("corrMatrixWith: diagonal is literal 1.0 even for zero-variance " +
    "or covariance-style callables (np.fill_diagonal)") {
    val df = Seq((1.0, 7.0), (2.0, 7.0), (3.0, 7.0)).toDF("x", "c")
    // covariance callable — would put var(x)≠1 (and 0 for the constant
    // column) on the diagonal if the callable ran there
    val covf = (x: Column, y: Column) => {
      val n = count(when(x.isNotNull, 1)).cast("double")
      (sum(x * y) - sum(x) * sum(y) / n) / (n - 1)
    }
    val got = Corr.corrMatrixWith(df, Seq("x", "c"), covf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got(("x", "x")) == 1.0 && got(("c", "c")) == 1.0)
    assert(math.abs(got(("x", "c")) - 0.0) < 1e-12) // cov(x, const)=0
  }

  test("corrMatrixWith: pairwise mask excludes null, NaN AND ±Inf " +
    "(np.isfinite), and minPeriods gates cells to null") {
    val df = Seq(
      (Some(1.0), Some(2.0)), (Some(2.0), Some(Double.PositiveInfinity)),
      (Some(3.0), Some(6.0)), (None, Some(8.0)),
      (Some(Double.NaN), Some(1.0)), (Some(5.0), Some(10.0)),
      (Some(4.0), Some(Double.NegativeInfinity))).toDF("x", "y")
    // finite-complete rows: (1,2),(3,6),(5,10) — exactly collinear
    val cell = Corr.corrMatrixWith(df, Seq("x", "y"), pearsonf)
      .filter(col("c1") === "x" && col("c2") === "y").head()
    assert(math.abs(cell.getDouble(2) - 1.0) < 1e-12)
    // 3 complete pairs < minPeriods=4 -> null cell
    val gated = Corr.corrMatrixWith(df, Seq("x", "y"), pearsonf,
      minPeriods = 4).filter(col("c1") === "x" && col("c2") === "y").head()
    assert(gated.isNullAt(2))
    // zero columns (numeric_only filtered everything away): empty
    // frame like pandas, not a stack(0) parse error
    val empty = Corr.corrMatrixWith(df, Seq.empty, pearsonf)
    assert(empty.columns.toSeq == Seq("c1", "c2", "corr") &&
      empty.count() == 0)
  }

  test("kendallMatrixBy: per-group cells equal kendallFast on the " +
    "group slice; NaN pairwise-masked; constant column -> null; " +
    "diagonal 1; key type round-trips") {
    val df = Seq(
      (1L, 1.0, Some(4.0), 7.0), (1L, 2.0, Some(1.0), 7.0),
      (1L, 2.0, Some(3.0), 7.0), (1L, 3.0, None, 7.0),
      (1L, 4.0, Some(2.0), 7.0),
      (2L, 1.0, Some(1.0), 1.0), (2L, 2.0, Some(2.0), 2.0),
      (2L, 3.0, Some(3.0), 5.0), (2L, 4.0, Some(1.0), 3.0))
      .toDF("g", "x", "y", "c")
    val out = Corr.kendallMatrixBy(df, "g", Seq("x", "y", "c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // cross-check the masked x-y cells against the definition per slice
    for (g <- Seq(1L, 2L)) {
      val want = refTauOf(df.filter(col("g") === g), "x", "y").get
      assert(math.abs(out((g, "x", "y")).get - want) < 1e-12,
        s"g=$g: ${out((g, "x", "y"))} vs $want")
    }
    // key type preserved (LongType); diagonals are LITERAL 1 even for
    // the group-1 constant column (np.fill_diagonal — the kernel never
    // runs on i==j); the constant column's OFF-diagonal cell is null
    assert(out((1L, "x", "x")).contains(1.0) &&
      out((2L, "y", "y")).contains(1.0))
    assert(out((1L, "x", "c")).isEmpty && out((1L, "c", "c")).contains(1.0))
    assert(out((2L, "c", "c")).contains(1.0))
    // dispatch through corrMatrixBy renames to `corr`
    val viaDispatch = Corr.corrMatrixBy(df, "g", Seq("x", "y"), "kendall")
    assert(viaDispatch.columns.toSeq == Seq("g", "c1", "c2", "corr"))
  }

  test("corrMatrixBy/covMatrixBy: null grouping keys drop for EVERY " +
    "method (pandas dropna=True) — group sets agree across methods") {
    val df = Seq(
      (Some(1L), 1.0, 4.0), (Some(1L), 2.0, 1.0), (Some(1L), 3.0, 3.0),
      (None, 9.0, 9.0), (None, 8.0, 7.0)).toDF("g", "x", "y")
    for (m <- Seq("pearson", "spearman", "kendall")) {
      val keys = Corr.corrMatrixBy(df, "g", Seq("x", "y"), m)
        .select("g").distinct().collect().map(_.getLong(0)).toSet
      assert(keys == Set(1L), s"method=$m grouped null keys: $keys")
    }
    val covKeys = Corr.covMatrixBy(df, "g", Seq("x", "y"))
      .select("g").distinct().collect().map(_.getLong(0)).toSet
    assert(covKeys == Set(1L))
  }

  test("corrMatrixBy(min_periods=): per-cell pairwise-complete gate " +
    "for every method") {
    // group 1 has only 2 complete (x, y) pairs (one y hole)
    val df = Seq(
      (1L, 1.0, Some(4.0)), (1L, 2.0, Option.empty[Double]),
      (1L, 3.0, Some(2.0)),
      (2L, 1.0, Some(1.0)), (2L, 2.0, Some(3.0)), (2L, 3.0, Some(2.0)),
      (2L, 4.0, Some(4.0))).toDF("g", "x", "y")
    for (m <- Seq("pearson", "spearman", "kendall")) {
      val out = Corr.corrMatrixBy(df, "g", Seq("x", "y"), m,
          minPeriods = 3)
        .filter(col("c1") === "x" && col("c2") === "y")
        .collect().map(r => r.getLong(0) -> r.isNullAt(3)).toMap
      assert(out(1L), s"method=$m: 2 pairs < min_periods=3 must null")
      assert(!out(2L), s"method=$m: 4 pairs >= 3 must compute")
    }
  }

  test("kendall collect bound is byte-aware (VERDICT r10): 256 MB " +
    "budget caps rows by row width, and the budget drives escalation") {
    // cost model: 64 + 48*k bytes per collected Row of k boxed doubles
    assert(Corr.kendallCollectMaxRows(2) == (256L << 20) / 160)
    assert(Corr.kendallCollectMaxRows(4) == 1048576L)
    // wider matrices shrink the bound; never unbounded, never zero
    assert(Corr.kendallCollectMaxRows(100) < Corr.kendallCollectMaxRows(4))
    assert(Corr.kendallCollectMaxRows(100) > 0)
    // the bound is what the kernel escalates on: a 50-row frame over a
    // 10-row bound takes the grid, below it the driver pass, with
    // identical cells (a range, not a local frame, so that the driver
    // pass's collect runs a stage too)
    val df = spark.range(1, 51).select(
      (col("id") * 37 % 11).cast("double").as("a"),
      (col("id") * 53 % 7).cast("double").as("b"))
    val (esc, escSites) = stageSites(
      Corr.kendallKernel(df, Seq("a", "b"), 1, 10L).collect()(0))
    val (full, fullSites) = stageSites(
      Corr.kendallMatrix(df, Seq("a", "b")).collect()(0))
    assert(escSites.exists(_.contains("kendallGrid")))
    assert(fullSites.nonEmpty && !fullSites.exists(_.contains("kendallGrid")),
      fullSites.mkString("\n"))
    assertApprox(optD(esc, 2), optD(full, 2), 1e-12)
  }

  test("kendallMatrixBy: a group above the buffer bound fails loudly") {
    val df = Seq((1L, 1.0, 2.0), (1L, 2.0, 1.0), (1L, 3.0, 3.0))
      .toDF("g", "x", "y")
    val e = intercept[Exception] {
      Corr.kendallGroups(df, "g", Seq("x", "y"), 1, maxGroupRows = 2).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msgs.contains("exceeds 2 rows"))
  }

  test("kendallMatrixBy: BINARY grouping keys — equal byte arrays land " +
    "in ONE group (JVM Array identity-toString would shatter them)") {
    // two distinct binary keys, 4 and 3 rows; each row's key is a
    // FRESH Array[Byte] instance, so any identity-based grouping
    // yields 7 singleton groups (every tau null by min_periods)
    val rows = Seq(
      (Array[Byte](1, 2), 1.0, 4.0), (Array[Byte](1, 2), 2.0, 1.0),
      (Array[Byte](1, 2), 3.0, 3.0), (Array[Byte](1, 2), 4.0, 2.0),
      (Array[Byte](9), 1.0, 1.0), (Array[Byte](9), 2.0, 3.0),
      (Array[Byte](9), 3.0, 2.0))
    val df = rows.toDF("k", "x", "y")
    val out = Corr.kendallMatrixBy(df, "k", Seq("x", "y"))
      .filter(col("c1") === "x" && col("c2") === "y")
      .collect().map(r => r.getAs[Array[Byte]](0).toSeq -> r.getDouble(3))
      .toMap
    assert(out.size == 2, s"expected 2 groups, got ${out.keySet}")
    assert(math.abs(out(Seq[Byte](1, 2)) - (-1.0 / 3)) < 1e-12)
    assert(math.abs(out(Seq[Byte](9)) - 1.0 / 3) < 1e-12)
  }

  test("groupKeyString is injective on the container aliasing cases: " +
    "separator chars in elements, null vs literal markers, nesting") {
    import org.apache.spark.sql.Row
    val ks = Corr.groupKeyString _
    // every pair here rendered IDENTICALLY under bare-',' joining
    val collisions = Seq(
      Seq("a,b") -> Seq("a", "b"),
      Seq("a", null) -> Seq("a", "n"), // null marker vs string
      Seq("[1:sa]") -> Seq(Seq("a")), // element that mimics a rendering
      Row("x,", "y") -> Row("x", ",y"),
      Seq("2:sa") -> Seq("a", "a")) // length-prefix mimicry
    collisions.foreach { case (a, b) =>
      assert(ks(a) != ks(b), s"${ks(a)} aliases $a and $b")
    }
    // equal values still encode equal (Seq vs Array, nested)
    assert(ks(Seq("a", "b")) == ks(Array("a", "b")))
    assert(ks(Row(Seq("a,b"), 1L)) == ks(Row(Array("a,b"), 1L)))
  }

  test("kendallMatrixBy: ARRAY key with separator chars — Seq(\"a,b\") " +
    "and Seq(\"a\",\"b\") stay distinct groups (no silent pooling)") {
    val df = Seq(
      (Seq("a,b"), 1.0, 4.0), (Seq("a,b"), 2.0, 1.0), (Seq("a,b"), 3.0, 3.0),
      (Seq("a", "b"), 1.0, 1.0), (Seq("a", "b"), 2.0, 3.0),
      (Seq("a", "b"), 3.0, 2.0)).toDF("k", "x", "y")
    val out = Corr.kendallMatrixBy(df, "k", Seq("x", "y"))
      .filter(col("c1") === "x" && col("c2") === "y")
      .collect().map(r => r.getSeq[String](0) -> r.getDouble(3)).toMap
    assert(out.size == 2, s"expected 2 groups, got ${out.keySet}")
    assert(math.abs(out(Seq("a,b")) - (-1.0 / 3)) < 1e-12)
    assert(math.abs(out(Seq("a", "b")) - 1.0 / 3) < 1e-12)
  }

  test("sortWidth: session width on small inputs, volume-scaled above, capped") {
    import graft.engine.Reductions.sortWidth
    // sf0.1 shape (600k rows, k=4 matrix -> 10 fields): stays at session
    assert(sortWidth(600000L, 10, 32) == 32)
    // sf10 shape (60M rows): 60e6 * 112 B / 32 MB -> 201 partitions,
    // matching the measured-good width-256 decade (BASELINE.md sf10)
    assert(sortWidth(60000000L, 10, 32) == 201)
    // never below the session width, monotone in rows
    assert(sortWidth(0L, 10, 32) == 32)
    assert(sortWidth(60000000L, 10, 512) == 512)
    // bounded: a 10B-row frame cannot demand unbounded partitions
    assert(sortWidth(10000000000L, 10, 32) == 4096)
  }

  test("rankedFrame: forced volume-sized sort path ranks identically " +
    "to the session-width path (width/buckets move placement, not values)") {
    // > 65536 distinct values so the midrank WINDOW path actually runs
    // (the bounded histogram overflows; small frames always broadcast)
    val df = (1 to 70000).map { i =>
      val a = (i * 2654435761L % 100003).toDouble + i * 1e-7
      (a, (i % 97).toDouble)
    }.toDF("a", "b")
    def rankMap(bigBytes: Long): Map[Double, (Double, Double)] =
      Corr.rankedFrame(df, Seq("a", "b"), bigBytes)._1
        .collect()
        .map(r => r.getDouble(0) -> (r.getDouble(2), r.getDouble(3)))
        .toMap
    val small = rankMap(Long.MaxValue) // plan-stats gate: session width
    val big = rankMap(0L)              // forced: count + sortWidth + repartition
    assert(small.size == 70000 && big.size == 70000)
    small.foreach { case (v, (ra, rb)) =>
      assert(big(v) == ((ra, rb)), s"rank mismatch at value $v")
    }
    // and the forced path really carries the explicit exchange
    val planned = Corr.rankedFrame(df, Seq("a", "b"), 0L)._1
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(planned.contains("repartitionbyexpression"))
    assert(!Corr.rankedFrame(df, Seq("a", "b"), Long.MaxValue)._1
      .queryExecution.optimizedPlan.toString.toLowerCase
      .contains("repartitionbyexpression"))
  }

  test("rankedFrame fixed-bucket offsets path (r15) and its imbalance " +
    "fallback both produce exact midranks vs driver ground truth") {
    import graft.functions.SortableBucket
    val n = 70000
    val rows = (1 to n).map { i =>
      // a: spread over [0, 100003] -> many active fixed buckets, with
      // deliberate ties every 1000th row; > 65536 distinct so the value
      // histogram overflows and the WINDOW path runs
      val ai = if (i % 1000 == 0) i - 1 else i
      val a = (ai * 2654435761L % 100003).toDouble + ai * 1e-7
      // b: > 65536 distinct values concentrated inside ~7e-5 relative
      // width -> ONE fixed bucket -> the quantile-cut fallback runs
      val b = 1.0 + (i * 40503L % 70001).toDouble * 1e-9
      (a, b)
    }
    val df = rows.toDF("a", "b")
    def truth(vs: Seq[Double]): Map[Double, Double] = {
      val sorted = vs.sorted
      val first = scala.collection.mutable.HashMap.empty[Double, Int]
      val last = scala.collection.mutable.HashMap.empty[Double, Int]
      sorted.zipWithIndex.foreach { case (v, i) =>
        if (!first.contains(v)) first(v) = i + 1
        last(v) = i + 1
      }
      first.keysIterator.map(v => v -> (first(v) + last(v)) / 2.0).toMap
    }
    val ta = truth(rows.map(_._1)); val tb = truth(rows.map(_._2))
    // fixture really exercises BOTH paths: a spreads across buckets,
    // b concentrates in one (the > 20%-share fallback trigger)
    assert(rows.map(r => SortableBucket.bucketOf(r._1, 18)).distinct.size > 16)
    assert(rows.map(r => SortableBucket.bucketOf(r._2, 18)).distinct.size == 1)
    assert(ta.size > 65536 && tb.size > 65536)
    val got = Corr.rankedFrame(df, Seq("a", "b"))._1.collect()
    assert(got.length == n)
    got.foreach { r =>
      val (a, b, ra, rb) =
        (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(ra == ta(a), s"a=$a: $ra vs ${ta(a)}")
      assert(rb == tb(b), s"b=$b: $rb vs ${tb(b)}")
    }
  }

  test("spearman (single pair) on NaN-bearing input: NaN rows drop like " +
    "pandas, the forced sort width agrees, and the probe counts every row") {
    import graft.engine.Rank
    // pandas: Series([1, nan, 2, 3]).corr(Series([4, 3, 1, 2]),
    //   method='spearman') -> -0.5 (the NaN pair is dropped)
    val small = Seq((1.0, 4.0), (Double.NaN, 3.0), (2.0, 1.0), (3.0, 2.0))
      .toDF("a", "b")
    assertApprox(d1(Corr.spearman(small, "a", "b")), Some(-0.5), 1e-12)
    // > 65536 distinct values: the bucket windows run, sized from the
    // probe's row count when forced
    val df = (1 to 70000).map { i =>
      val a = if (i % 97 == 0) Double.NaN
        else (i * 2654435761L % 100003).toDouble + i * 1e-7
      (a, (i * 40503L % 99991).toDouble + i * 1e-7)
    }.toDF("a", "b")
    def rho(bigBytes: Long): Double =
      Corr.spearman(df, "a", "b", bigBytes).collect()(0).getDouble(0)
    assert(math.abs(rho(Long.MaxValue) - rho(0L)) < 1e-12)
    // the probe's row count includes NaN rows (the value histograms
    // skip NaN; the count does not)
    val p = Rank.probe(df, Nil, Seq("a", "b"))
    assert(p.groups.get.map(_.rows).sum == df.count())
    assert(p.groups.get.head.n(0) == 70000L)
  }

  test("spearman (single pair): forced volume-sized sort path computes " +
    "the same rho as the session-width path") {
    // continuous values (> 65536 distinct) so the midrank WINDOW path
    // runs on both columns
    val df = (1 to 70000).map { i =>
      val a = (i * 2654435761L % 100003).toDouble + i * 1e-7
      val b = (i * 40503L % 99991).toDouble + i * 1e-7
      (a, b)
    }.toDF("a", "b")
    def rho(bigBytes: Long): Double =
      Corr.spearman(df, "a", "b", bigBytes).collect()(0).getDouble(0)
    val small = rho(Long.MaxValue) // plan-stats gate: session width
    val big = rho(0L)              // forced: count + sortWidth + repartition
    assert(math.abs(small - big) < 1e-12,
      s"single-pair spearman diverged: session-width $small vs forced $big")
  }

  test("Rank kernel: every regime gives the same exact midranks") {
    import graft.engine.Rank
    // multi-group frame with heavy ties, null values, NaN, -0.0/0.0,
    // uneven group sizes and a NULL key group (ranked like any other
    // key when the kernel is called directly)
    val rows = (1 to 5000).map { i =>
      val k = if (i % 9 == 0) null else s"g${i % 7}"
      val v: java.lang.Double =
        if (i % 41 == 0) null else if (i % 53 == 0) Double.NaN
        else if (i % 23 == 0) -0.0 else (i * 131 % 23).toDouble
      (k, v, i.toLong)
    }
    val df = rows.toDF("k", "v", "id")
    // driver truth: per-key average ranks, NaN greatest, -0.0 == 0.0
    val truth: Map[Long, Option[Double]] = rows.groupBy(_._1).values.flatMap { g =>
      val vs = g.flatMap(r => Option(r._2).map(_.doubleValue + 0.0))
      def mid(v: Double): Double = {
        val before = vs.count(w => java.lang.Double.compare(w, v) < 0)
        val ties = vs.count(w => java.lang.Double.compare(w, v) == 0)
        before + (ties + 1) / 2.0
      }
      g.map(r => r._3 -> Option(r._2).map(v => mid(v.doubleValue + 0.0)))
    }.toMap
    val p = Rank.probe(df, Seq("k"), Seq("v"))
    assert(p.groups.exists(_.size == 8), "expected the per-key probe regime")
    val noHist = p.copy(groups = p.groups.map(_.map(g =>
      g.copy(hist = IndexedSeq(null)))))
    val regimes = Seq(
      "driver stats join" -> p,
      "fixed-bucket window" -> noHist,
      "quantile-cut window" -> noHist.copy(groups = noHist.groups.map(_.map(g =>
        g.copy(bkt = IndexedSeq(null))))),
      "counted stats join" -> p.copy(groups = None),
      // the (key, value) product fits the gate, the headroomed bound not
      "in-plan stats join" -> p.copy(groups = None, gate = p.keyNdv * p.colNdv(0)),
      "in-plan quantile-cut window" -> p.copy(groups = None, gate = 0L))
    def check(name: String, q: Rank.Probe,
              truth: Map[Long, Option[Double]]): Unit = {
      val ranked = Rank.midrank(q, Seq("r"))
      // a driver table joins back by broadcast, an in-plan one by shuffle
      val inPlan = ranked.queryExecution.optimizedPlan.toString.contains("shuffle_hash")
      assert(inPlan == name.startsWith("in-plan"), s"$name: in-plan = $inPlan")
      val got = ranked.select("id", "r").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
      assert(got.size == 5000, s"$name: ${got.size} rows")
      truth.foreach { case (id, want) =>
        assert(got(id) == want, s"$name: midrank at id=$id: ${got(id)} vs $want")
      }
    }
    for ((name, q) <- regimes) check(name, q, truth)
    // ungrouped, a long (not exact as a double) counts by its raw value:
    // 2^53 + v keeps every tie that a double cast would merge
    val longs = rows.map { case (_, v, id) =>
      (if (v == null || v.isNaN) None else Some((1L << 53) + v.longValue), id) }
    val lvs = longs.flatMap(_._1)
    val ltruth = longs.map { case (t, id) => id -> t.map(x =>
      lvs.count(_ < x) + (lvs.count(_ == x) + 1) / 2.0) }.toMap
    val lp = Rank.probe(longs.toDF("t", "id"), Nil, Seq("t"))
    check("driver typed stats join", lp, ltruth)
    check("in-plan typed stats join", lp.copy(gate = 0L), ltruth)
    // the null-key group really is ranked, and null values rank null
    assert(rows.exists(r => r._1 == null && r._2 != null && !r._2.isNaN))
    assert(rows.filter(_._2 == null).forall { case (_, _, id) => truth(id).isEmpty })
  }

  test("corrMatrixBy spearman ranks longs above 2^53 as float64 on both " +
    "sides of the 1024-key bound (pandas groupby.corr)") {
    import graft.engine.Rank
    // as float64, x = [2^53, 2^53+1, 2^53+2] is [2^53, 2^53, 2^53+2]:
    // ranks [1.5, 1.5, 3] vs y ranks [3, 1, 2] -> pandas 2.2.2 gives 0.0
    // (exact int64 ranks [1, 2, 3] would give -0.5)
    val big = 1L << 53
    val one = Seq(("a", big, 3L), ("a", big + 1, 1L), ("a", big + 2, 2L))
    val padded = one ++ (1 to 2047).flatMap(i =>
      Seq((s"p$i", i.toLong, 1L), (s"p$i", i + 1L, 2L), (s"p$i", i + 2L, 3L)))
    def rho(rows: Seq[(String, Long, Long)]): Double =
      Corr.corrMatrixBy(rows.toDF("g", "x", "y"), "g", Seq("x", "y"), "spearman")
        .filter(col("g") === "a" && col("c1") === "x" && col("c2") === "y")
        .head().getDouble(3)
    assert(math.abs(rho(one)) < 1e-12, s"per-key probe regime: ${rho(one)}")
    val wide = padded.toDF("g", "x", "y")
      .select(col("g"), col("x").cast("double").as("x"),
        col("y").cast("double").as("y"))
    assert(Rank.probe(wide, Seq("g"), Seq("x", "y")).groups.isEmpty,
      "padding must take the in-plan regime above the key bound")
    assert(math.abs(rho(padded)) < 1e-12, s"in-plan regime: ${rho(padded)}")
  }

  /** 2048 keys of three rows each, above the 1024-key probe bound: x
    * (~2050 values) is counted by quantile-cut bucket, y (3 values) by
    * value; every group's spearman is 1. */
  private def padded2048 = (0 until 2048).flatMap(i => Seq(
      (s"p$i", i.toDouble, 1.0), (s"p$i", i + 1.0, 2.0), (s"p$i", i + 2.0, 3.0)))
    .toDF("g", "x", "y")

  test("corrMatrixBy(spearman) above the key bound builds every rank " +
    "table with one counts job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val df = padded2048
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val marker = "rank-counts-test-marker"
    @volatile var seen = false
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties.getProperty("spark.job.description") == marker) seen = true
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    val out = try {
      val o = Corr.corrMatrixBy(df, "g", Seq("x", "y"), "spearman")
      // one listener queue delivers in order: once the marker job is
      // seen, every event of the call above has been too
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val until = System.nanoTime() + 30000000000L
      while (!seen && System.nanoTime() < until) Thread.sleep(20)
      assert(seen, "listener never saw the marker job")
      o
    } finally sc.removeSparkListener(l)
    // the call ran the approx-NDV probe, the quantile cuts (whose
    // posexplode is not this) and ONE counts aggregate for both columns
    val counts = plans.toArray.map(_.toString)
      .filter(_.contains("explode(array(struct("))
    assert(counts.length == 1, s"${counts.length} counts jobs")
    assert(counts.head.contains("graft_bucket_bin"), counts.head)
    assert(plans.size <= 3, s"${plans.size} queries ran during the call")
    // every table is a driver LocalRelation: the only aggregate left in
    // the plan is the per-key corr
    val lp = out.queryExecution.optimizedPlan
    assert(lp.collect { case a: Aggregate => a }.length == 1, lp.toString)
    val cells = out.filter(col("c1") === "x" && col("c2") === "y").collect()
    assert(cells.length == 2048 && cells.forall(_.getDouble(3) == 1.0))
  }

  test("Rank: tables above the gate stay in the plan — no counts rows " +
    "reach the driver, and they join back by shuffle, not broadcast") {
    import graft.engine.Rank
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val p = Rank.probe(padded2048, Seq("g"), Seq("x", "y"))
    // y (3 values) still counts by value and x by quantile-cut bucket,
    // but neither table's headroomed bound fits this gate
    val low = p.copy(gate = p.keyNdv * p.colNdv(1))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val marker = "rank-in-plan-test-marker"
    @volatile var seen = false
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties.getProperty("spark.job.description") == marker) seen = true
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    val out = try {
      val o = Rank.midrank(low, Seq("rx", "ry"))
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val until = System.nanoTime() + 30000000000L
      while (!seen && System.nanoTime() < until) Thread.sleep(20)
      assert(seen, "listener never saw the marker job")
      o
    } finally sc.removeSparkListener(l)
    assert(!plans.toArray.exists(_.toString.contains("explode(array(struct(")),
      "a counts aggregate ran while the ranks were built")
    def ranks(d: org.apache.spark.sql.DataFrame) = d.collect().map(r =>
      (r.getAs[String]("g"), r.getAs[Double]("x")) ->
        (r.getAs[Double]("rx"), r.getAs[Double]("ry"))).toMap
    val got = ranks(out)
    assert(got.size == 3 * 2048 && got == ranks(Rank.midrank(p, Seq("rx", "ry"))))
    // the plan that ran, after adaptive re-planning
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
    assert("ShuffledHashJoin".r.findAllMatchIn(plan).size == 2, plan)
  }

  test("Rank counts job: a keyNdv that understates the keys fails " +
    "loudly at the cap instead of building a truncated table") {
    import graft.engine.Rank
    val df = padded2048
    val p = Rank.probe(df, Seq("g"), Seq("x", "y"))
    assert(p.groups.isEmpty, "expected the regime above the key bound")
    assert(Rank.midrank(p, Seq("rx", "ry")).count() == 3 * 2048)
    // one key claimed: both columns now count by value, and their
    // 2 × 6144 (key, value) rows exceed the bound of ~1 key
    val e = intercept[IllegalArgumentException](
      Rank.midrank(p.copy(keyNdv = 1L), Seq("rx", "ry")))
    assert(e.getMessage.contains("x, y"), e.getMessage)
  }

  test("Rank counts job: a NaN key and a binary key each rank as one " +
    "group, as in the per-key probe regime") {
    import graft.engine.Rank
    val df = (1 to 600).map { i =>
      val d = if (i % 3 == 0) Double.NaN else (i % 2).toDouble
      (d, Array((i % 5).toByte), (i * 7 % 13).toDouble, i.toLong)
    }.toDF("d", "b", "v", "id")
    val p = Rank.probe(df, Seq("d", "b"), Seq("v"))
    def ranks(q: Rank.Probe): Map[Long, Double] = Rank.midrank(q, Seq("r"))
      .select("id", "r").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = ranks(p)
    assert(want.size == 600)
    assert(ranks(p.copy(groups = None)) == want, "counted by value")
    assert(ranks(p.copy(groups = None, gate = 0L)) == want, "counted by bucket")
  }

  test("corrMatrixBy spearman: low-NDV columns take the broadcast " +
    "rank-stats path (no corpus-sized WindowExec), values unchanged") {
    import org.apache.spark.sql.execution.window.WindowExec
    // x, y both low-NDV: every rank attaches by a join on a driver-built
    // stats table, so the ranked frame carries no window at all
    val df = (1 to 2000).map { i =>
      (s"g${i % 3}", (i % 5).toDouble, (i * 7 % 11).toDouble)
    }.toDF("g", "x", "y")
    val out = Corr.corrMatrixBy(df, "g", Seq("x", "y"), "spearman")
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p.children ++ p.subqueries).flatMap(walk)
    val wins = walk(out.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(wins.isEmpty, s"${wins.size} WindowExec in the rank-stats path")
    // and the coefficient matches the direct per-group computation
    val cells = out.filter(col("c1") === "x" && col("c2") === "y")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    for (g <- Seq("g0", "g1", "g2")) {
      val slice = df.filter(col("g") === g)
      val exp = Corr.spearman(slice, "x", "y").collect()(0).getDouble(0)
      assert(math.abs(cells(g) - exp) < 1e-12,
        s"group $g: ${cells(g)} vs single-pair $exp")
    }
  }

  test("corrMatrixBy(spearman) grouped-probe regime attaches every rank " +
    "via a broadcast LocalRelation join — no window, no in-plan " +
    "aggregate subtree, no frame exchange before the corr agg (r15 pin)") {
    // low NDV key and values: the grouped probe collects everything and
    // every column takes the driver-built stats join
    val df = (1 to 5000).map { i =>
      (s"g${i % 4}", (i % 7).toDouble, (i * 3 % 11).toDouble)
    }.toDF("g", "x", "y")
    val plan = Corr.corrMatrixBy(df, "g", Seq("x", "y"), "spearman")
      .queryExecution.optimizedPlan
    val s = plan.toString.toLowerCase
    // rank attachment is the broadcast join-back on (__gk, __gv)
    assert(s.contains("__gk") && s.contains("localrelation"),
      "expected the driver-built rank-stats LocalRelation join")
    // ZERO windows and ZERO aggregates BELOW the final per-key corr
    // aggregate: a regression to the window path (or to the r14
    // in-plan stats subtree) re-adds one of these
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWin}
    assert(plan.collect { case w: LWin => w }.isEmpty,
      "grouped-probe regime must not rank via windows")
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.length == 1,
      s"expected ONLY the final corr aggregate, found ${aggs.length}")
  }

  test("grouped rank-stats gate derives from autoBroadcastJoinThreshold " +
    "(VERDICT r14 item 6): conf-sized cap, default unchanged, spearman " +
    "values identical on both sides of the gate") {
    import graft.engine.Reductions
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val dflt = spark.conf.get(key)
    try {
      // default 10 MB threshold maps to exactly the legacy constant
      spark.conf.set(key, (10L * 1024 * 1024).toString)
      assert(Reductions.groupRankStatsMaxRows(spark) ===
        Reductions.GroupRankStatsMaxRows)
      // cap scales linearly with the session threshold (160 B/row)
      spark.conf.set(key, (160L * 1000).toString)
      assert(Reductions.groupRankStatsMaxRows(spark) === 1000L)
      // disabled auto-broadcast keeps the explicit-hint default cap
      spark.conf.set(key, "-1")
      assert(Reductions.groupRankStatsMaxRows(spark) ===
        Reductions.GroupRankStatsMaxRows)
      // and the gate only moves PLACEMENT: squeezing every column onto
      // the bucketed-window fallback leaves each coefficient equal
      // (midranks are bit-identical — pinned by the sibling spec — the
      // corr aggregate's float summation order differs by path)
      val df = (1 to 2000).map { i =>
        (s"g${i % 3}", (i % 5).toDouble, (i * 7 % 11).toDouble)
      }.toDF("g", "x", "y")
      spark.conf.set(key, dflt)
      val viaStats = Corr.corrMatrixBy(df, "g", Seq("x", "y"), "spearman")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))
          -> r.getDouble(3)).toMap
      spark.conf.set(key, "160") // cap = 1 row: nothing fits the stats path
      val viaWindow = Corr.corrMatrixBy(df, "g", Seq("x", "y"), "spearman")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))
          -> r.getDouble(3)).toMap
      assert(viaStats.keySet == viaWindow.keySet)
      viaStats.foreach { case (k3, v) =>
        assert(math.abs(v - viaWindow(k3)) < 1e-9,
          s"gate moved cell $k3: $v vs ${viaWindow(k3)}")
      }
    } finally spark.conf.set(key, dflt)
  }
}
