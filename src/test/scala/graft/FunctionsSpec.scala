package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Native vector expressions ([[graft.functions.DotProduct]] /
  * [[graft.functions.L2Norm]]): value parity against the interpreted
  * higher-order-function formulation, null handling, codegen
  * participation, and SQL registration via extensions. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
    (2L, Array(0.0, 0.0), Array(0.0, 1.0)),
    (3L, Array(1.5, -2.5, 0.25, 8.0), Array(-1.0, 0.5, 2.0, 0.125))
  ).toDF("id", "a", "b")

  test("dot matches the HOF formulation and hand values") {
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val rows = vecs.select(VectorFunctions.dot(col("a"), col("b")).as("d"), hof.as("h"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(rows(0).getDouble(0) == 32.0)
    assert(rows(1).getDouble(0) == 0.0)
  }

  test("dot truncates to the shorter array like the UDF kernel did") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(10.0, 10.0))).toDF("a", "b")
    assert(df.select(VectorFunctions.dot(col("a"), col("b"))).collect()(0)
      .getDouble(0) == 30.0)
  }

  test("l2norm matches hand values; null input -> null") {
    val got = vecs.select(VectorFunctions.l2norm(col("a")).as("n")).collect()
      .map(_.getDouble(0))
    assert(got(0) == math.sqrt(14.0))
    assert(got(1) == 0.0)
    val withNull = Seq((1L, Some(Array(3.0, 4.0))), (2L, None))
      .toDF("id", "v")
    val r = withNull.select(VectorFunctions.l2norm(col("v"))).orderBy(col("id")).collect()
    assert(r(0).getDouble(0) == 5.0)
    assert(r(1).isNullAt(0))
  }

  test("native expressions stay inside whole-stage codegen") {
    // non-foldable input (range), so the projection can't constant-fold away
    val df = spark.range(100)
      .select(col("id"), array(col("id").cast("double"),
        (col("id") * 2).cast("double")).as("a"))
      .select(VectorFunctions.dot(col("a"), col("a")).as("d"),
        VectorFunctions.l2norm(col("a")).as("n"))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // formatted mode marks codegen'd operators with `[codegen id : N]`;
    // the projection carrying graft_dot/graft_l2norm must be inside one
    val projLine = formatted.linesIterator
      .find(l => l.contains("Project") && l.contains("codegen id"))
    assert(projLine.isDefined, formatted)
    assert(!formatted.contains("CodegenFallback"), formatted)
    assert(df.agg(sum("d")).collect()(0).getDouble(0) > 0)
  }

  test("graft_wrap stays inside WholeStageCodegen like the other natives") {
    // spark.range (not a local Seq): ConvertToLocalRelation would fold
    // a literal frame at plan time and leave nothing to codegen
    val df = spark.range(2)
      .select(concat(lit("word"), col("id"), lit(" tail piece")).as("s"))
      .select(graft.engine.StrDt.strWrap(col("s"), 8).as("w"))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val projLine = formatted.linesIterator
      .find(l => l.contains("Project") && l.contains("codegen id"))
    assert(projLine.isDefined, formatted)
    assert(!formatted.contains("CodegenFallback"), formatted)
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("word0\ntail\npiece", "word1\ntail\npiece"))
  }

  test("bucket-bin: binary search equals the indicator sum, NaN past last cut, null in null out") {
    import spark.implicits._
    val cuts = Array(1.0, 3.0, 7.0)
    val df = Seq(Some(0.5), Some(1.0), Some(2.0), Some(3.0), Some(3.5),
      Some(9.0), Some(Double.NaN), None).toDF("v")
    val out = df.select(col("v"),
      graft.functions.BucketBin.bucketBin(col("v"), cuts).as("b"),
      (cuts.map(c => when(col("v") > lit(c), 1).otherwise(0)): Seq[org.apache.spark.sql.Column])
        .reduce(_ + _).as("ref")).collect()
    out.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1))
      else if (r.getDouble(0).isNaN) assert(r.getInt(1) == cuts.length)
      else assert(r.getInt(1) == r.getInt(2), s"row $r")
    }
    // exact-cut value buckets LEFT (v > cut strict): 1.0 -> 0, 3.0 -> 1
    val m = out.filter(r => !r.isNullAt(0) && !r.getDouble(0).isNaN)
      .map(r => r.getDouble(0) -> r.getInt(1)).toMap
    assert(m(1.0) == 0 && m(3.0) == 1 && m(3.5) == 2 && m(9.0) == 3)
  }

  test("rolling hash: order-sensitive, matches a hand-rolled mirror") {
    def md5p32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    def mirror(toks: Seq[String]): Long =
      toks.foldLeft(0L)((h, t) => (h * 1000003L + md5p32(t)) % 2147483647L)
    val df = Seq((1L, "hello world hello again"), (2L, "again hello world hello"))
      .toDF("id", "text")
    val got = df.select(col("id"),
      graft.pipeline.TextAnalysis.rollingFingerprint(col("text")).as("rh"))
      .orderBy("id").collect()
    assert(got(0).getLong(1) == mirror(Seq("hello", "world", "hello", "again")))
    assert(got(1).getLong(1) == mirror(Seq("again", "hello", "world", "hello")))
    assert(got(0).getLong(1) != got(1).getLong(1)) // order matters
  }

  test("window hashes: rolled values equal direct polynomial recompute") {
    import graft.functions.WindowHashes
    val df = Seq("abcabcab").toDF("t")
    val out = df.select(WindowHashes(col("t"), 3, 1, WindowHashes.Base1))
      .collect()(0).getSeq[Long](0)
    def direct(s: String): Long =
      s.foldLeft(0L)((h, c) => h * WindowHashes.Base1 + c)
    assert(out == "abcabcab".sliding(3).map(direct).toSeq)
    // equal window content -> equal hash (abc@0==abc@3, bca@1==bca@4)
    assert(out(0) == out(3) && out(1) == out(4) && out(0) != out(1))
    // stride=2 emits every other position's hash
    val s2 = df.select(WindowHashes(col("t"), 3, 2, WindowHashes.Base1))
      .collect()(0).getSeq[Long](0)
    assert(s2 == Seq(out(0), out(2), out(4)))
    // shorter than win -> empty, never null
    val e = Seq("ab").toDF("t")
      .select(WindowHashes(col("t"), 3, 1, WindowHashes.Base1))
      .collect()(0).getSeq[Long](0)
    assert(e.isEmpty)
  }

  test("window hash pairs: fused one-pass emission equals two single-base passes") {
    import graft.functions.{WindowHashes, WindowHashPairs}
    val df = Seq("abcabcabxy", "zz").toDF("t")
    for (stride <- Seq(1, 2)) {
      val fused = df.select(WindowHashPairs(col("t"), 3, stride).as("p"))
        .collect().map(_.getSeq[org.apache.spark.sql.Row](0))
      val h1 = df.select(WindowHashes(col("t"), 3, stride, WindowHashes.Base1))
        .collect().map(_.getSeq[Long](0))
      val h2 = df.select(WindowHashes(col("t"), 3, stride, WindowHashes.Base2))
        .collect().map(_.getSeq[Long](0))
      for (r <- df.collect().indices) {
        assert(fused(r).map(_.getLong(0)) == h1(r))
        assert(fused(r).map(_.getLong(1)) == h2(r))
      }
    }
    // shorter than win -> empty array, never null
    assert(df.filter(col("t") === "zz")
      .select(WindowHashPairs(col("t"), 3, 1))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0).isEmpty)
  }

  test("SQL surface: graft_dot/graft_l2norm usable after register()") {
    VectorFunctions.register(spark)
    vecs.createOrReplaceTempView("fs_vecs")
    val r = spark.sql(
      "SELECT graft_dot(a, b) AS d, graft_l2norm(b) AS n FROM fs_vecs WHERE id = 1")
      .collect()(0)
    assert(r.getDouble(0) == 32.0)
    assert(r.getDouble(1) == math.sqrt(77.0))
  }

  test("SQL surface: graft_normalize(s, form) after register()") {
    VectorFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_normalize('cafe\u0301', 'NFC') AS c, " +
        "graft_normalize('\ufb01n', 'NFKC') AS k")
      .collect()(0)
    assert(r.getString(0) == "caf\u00e9")
    assert(r.getString(1) == "fin")
  }

  test("NearestCentroid: bit-identical to the struct-min argmin tree " +
    "on ties, NaN, null vectors, short vectors and offsets") {
    import graft.functions.NearestCentroid.nearestCentroid
    import graft.functions.VectorFunctions.sqdist
    val book = Array(
      Array(1.0, 2.0), Array(1.0, 2.0), // exact duplicate -> tie
      Array(0.0, 0.0), Array(-1.0, 5.0))
    val w = 2
    // rows: plain, exact tie with c0/c1, NaN element, null vector,
    // short (1-elem) vector, empty vector, -0.0 vs 0.0 centroid hit
    val rows: Seq[Seq[java.lang.Double]] = Seq(
      Seq(0.9, 2.1, 7.0, 7.0), Seq(1.0, 2.0, 0.0, 0.0),
      Seq(Double.NaN, 2.0, 1.0, 2.0), null,
      Seq(1.0), Seq.empty[java.lang.Double], Seq(-0.0, 0.0, -0.0, 0.0))
    val df = rows.toDF("v").select(col("v").cast("array<double>").as("v"))
    // the r14 formulation this kernel replaced, built inline: struct
    // lexicographic min over (sqdist(slice(v)), index)
    def oldForm(off: Int): org.apache.spark.sql.Column =
      array_min(array(book.zipWithIndex.map { case (cv, c) =>
        struct(sqdist(slice(col("v"), off + 1, w),
          array(cv.map(lit): _*)).as("d"), lit(c).as("c"))
      }: _*)).getField("c")
    for (off <- Seq(0, 2)) {
      val got = df.select(
        nearestCentroid(col("v"), book, off, w).as("nc"),
        oldForm(off).as("old")).collect()
      got.zip(rows).foreach { case (r, in) =>
        val exp = if (r.isNullAt(1)) 0 else r.getInt(1)
        assert(r.getInt(0) == exp,
          s"offset=$off input=$in: kernel ${r.getInt(0)} vs tree $exp")
      }
    }
    // interpreted eval agrees with COMPILED codegen — compiled
    // explicitly via GenerateMutableProjection, which THROWS on a
    // janino error where a DataFrame run would silently fall back to
    // interpreted execution and hide a codegen bug (r15: the first
    // NearestCentroid codegen misparse was invisible to a
    // collect-based comparison for exactly that reason)
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val expr = graft.functions.NearestCentroid(
      BoundReference(0, ArrayType(DoubleType), nullable = true), book, 0, w)
    val compiled = GenerateMutableProjection.generate(Seq(expr),
      useSubexprElimination = false)
    rows.foreach { vs =>
      val ad = if (vs == null) null
        else ArrayData.toArrayData(vs.map(Double.unbox).toArray)
      val in = new GenericInternalRow(Array[Any](ad))
      val viaEval = expr.eval(in)
      val viaCodegen = compiled(in).getInt(0)
      assert(viaEval == viaCodegen,
        s"eval/codegen disagree on $vs: $viaEval vs $viaCodegen")
    }
  }

  test("SortableBucket: monotone over the double order, equal values " +
    "(incl. -0.0/0.0 and any NaN payload) share a bucket, null -> null") {
    import graft.functions.SortableBucket
    // scalar form: monotonicity across signs, magnitudes, infinities
    val vals = Seq(Double.NegativeInfinity, -1e300, -2.5, -1.0, -1e-300,
      -0.0, 0.0, 1e-300, 0.5, 1.0, 1.0000001, 2.5, 1e300,
      Double.PositiveInfinity)
    val bks = vals.map(SortableBucket.bucketOf(_, 18))
    bks.sliding(2).foreach { case Seq(a, b) =>
      assert(a <= b, s"bucket order violated: $a > $b in $bks")
    }
    // -0.0 and 0.0 compare equal in Spark and must share a bucket
    assert(SortableBucket.bucketOf(-0.0, 18) ==
      SortableBucket.bucketOf(0.0, 18))
    // NaN buckets greatest regardless of payload bits
    val oddNaN = java.lang.Double.longBitsToDouble(0x7ff0000000000001L)
    assert(SortableBucket.bucketOf(oddNaN, 18) ==
      SortableBucket.bucketOf(Double.NaN, 18))
    assert(SortableBucket.bucketOf(Double.NaN, 18) >
      SortableBucket.bucketOf(Double.PositiveInfinity, 18))
    // codegen path agrees with the scalar form, null propagates
    val df = (vals.map(v => java.lang.Double.valueOf(v)) :+
        null.asInstanceOf[java.lang.Double])
      .toDF("v")
      .select(col("v"),
        SortableBucket.sortableBucket(col("v")).as("b"))
      .collect()
    df.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1))
      else assert(r.getInt(1) ==
        SortableBucket.bucketOf(r.getDouble(0), 18),
        s"codegen/eval disagree at ${r.getDouble(0)}")
    }
  }

  private def hist(r: org.apache.spark.sql.Row, i: Int): Map[Double, Long] =
    if (r.isNullAt(i)) null else r.getMap[Double, Long](i).toMap

  test("BoundedHistogram: -0.0 and 0.0 are one key with summed counts; " +
    "NaN and null are skipped") {
    import graft.engine.Reductions.boundedHistogram
    val vs = Seq[java.lang.Double](-0.0, 0.0, null, Double.NaN, -0.0, 2.0,
      java.lang.Double.longBitsToDouble(0x7ff0000000000001L), 0.0)
    val r = vs.toDF("v").repartition(3)
      .agg(boundedHistogram(col("v"), 2).as("h")).head()
    assert(hist(r, 0) == Map(0.0 -> 4L, 2.0 -> 1L))
    // the one zero key is +0.0
    assert(hist(r, 0).keys.forall(k =>
      java.lang.Double.doubleToRawLongBits(k) != java.lang.Double.doubleToRawLongBits(-0.0)))
    // only null and NaN: an empty histogram, not an overflow
    val none = Seq[java.lang.Double](null, Double.NaN).toDF("v")
      .agg(boundedHistogram(col("v"), 1)).head()
    assert(hist(none, 0) == Map.empty)
  }

  test("BoundedHistogram: an overflow poisons the result through merges " +
    "in both orders and through serialization") {
    import graft.functions.BoundedHistogram
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.MapData
    import org.apache.spark.sql.types.DoubleType
    val agg = BoundedHistogram(BoundReference(0, DoubleType, nullable = true), cap = 3)
    def buf(vs: Double*): BoundedHistogram.Counts =
      vs.foldLeft(agg.createAggregationBuffer())((b, v) => agg.update(b, InternalRow(v)))
    def out(b: BoundedHistogram.Counts): Map[Double, Long] = agg.eval(b) match {
      case null => null
      case m: MapData =>
        m.keyArray.toDoubleArray().zip(m.valueArray.toLongArray()).toMap
    }
    // each partial is under the cap, their union is over it
    assert(out(agg.merge(buf(1, 2), buf(3, 4))) == null)
    assert(out(agg.merge(buf(3, 4), buf(1, 2))) == null)
    // a poisoned partial poisons any merge it enters, on either side
    val over = buf(1, 2, 3, 4)
    assert(out(over) == null)
    assert(out(agg.merge(buf(), buf(1, 2, 3, 4))) == null)
    assert(out(agg.merge(buf(1, 2, 3, 4), buf())) == null)
    assert(out(agg.merge(buf(1), over)) == null)
    assert(out(agg.deserialize(agg.serialize(over))) == null)
    // under the cap, shared keys add up, in either order
    val want = Map(1.0 -> 3L, 2.0 -> 2L, 0.0 -> 2L)
    assert(out(agg.merge(buf(1, 1, -0.0), buf(2, 1, 2, 0.0))) == want)
    assert(out(agg.merge(buf(2, 1, 2, 0.0), buf(1, 1, -0.0))) == want)
    assert(out(agg.deserialize(agg.serialize(buf(1, 1, -0.0, 2)))) ==
      Map(1.0 -> 2L, 0.0 -> 1L, 2.0 -> 1L))
    // in a plan: two partitions of two values each, merged over cap 3
    val r = spark.range(0, 4, 1, 2).select(col("id").cast("double").as("v"))
      .agg(graft.engine.Reductions.boundedHistogram(col("v"), 3),
        graft.engine.Reductions.boundedHistogram(col("v"), 4)).head()
    assert(r.isNullAt(0))
    assert(hist(r, 1) == Map(0.0 -> 1L, 1.0 -> 1L, 2.0 -> 1L, 3.0 -> 1L))
  }

  test("BoundedHistogram: a grouped histogram over > 128 keys (the " +
    "sort-based ObjectHashAggregate fallback) equals exact groupBy counts") {
    import graft.engine.Reductions.boundedHistogram
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // every partition sees all 300 keys: past the 128-key fallback
    // threshold, so partial buffers are serialized for the sort
    val df = spark.range(0, 20000, 1, 4).select((col("id") % 300).as("k"),
      (col("id") * 7 % 13).cast("double").as("v"))
    val grouped = df.groupBy("k").agg(boundedHistogram(col("v"), 16).as("h"))
    val got = grouped.collect().flatMap { r =>
      hist(r, 1).map { case (v, n) => (r.getLong(0), v, n) }
    }.toSet
    val want = df.groupBy("k", "v").count().collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got.size == want.size && got == want)
    val helper = new AdaptiveSparkPlanHelper {}
    val fellBack = helper.collect(grouped.queryExecution.executedPlan) {
      case o: ObjectHashAggregateExec => o.metrics("numTasksFallBacked").value
    }
    assert(fellBack.sum > 0, "expected the sort-based fallback to run")
  }

  test("BoundedHistogram runs with codegen fallback off and CODEGEN_ONLY " +
    "projections") {
    import graft.engine.Reductions.boundedHistogram
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val df = s.range(0, 5000, 1, 4).select((col("id") % 5).as("k"),
      (col("id") % 11).cast("double").as("v"))
    val got = df.groupBy("k").agg(count(lit(1)).as("n"),
        boundedHistogram(col("v"), 64).as("h"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), hist(r, 2))).toMap
    assert(got.size == 5)
    got.foreach { case (k, (n, h)) =>
      assert(n == 1000L && h.values.sum == 1000L && h.size == 11, s"key $k")
    }
  }

  /** The explode/group-by formulation TopBigramFrac replaced, kept as
    * the reference: (doc, bigram) rows, a count per bigram, the max and
    * the sum per doc, joined back on the doc id. */
  private def topBigramReference(df: org.apache.spark.sql.DataFrame) = {
    import graft.pipeline.{Dedup, TextAnalysis}
    val base = df.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
      .withColumn("n", size(col("w")))
    val top = base.filter(col("n") >= 2)
      .select(col("doc_id"), explode(Dedup.shinglesFromWords(col("w"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top"), sum("c").as("tot"))
    base.join(top, Seq("doc_id"), "left").select(col("doc_id"),
      coalesce(col("top").cast("double") / col("tot"), lit(0.0)).as("ref"))
  }

  test("TopBigramFrac equals the explode/group-by formulation, codegen " +
    "only and interpreted") {
    import graft.functions.TopBigramFrac
    import graft.pipeline.TextAnalysis
    val rnd = new scala.util.Random(1709L)
    val texts: Seq[(Long, String)] = Seq(
      1L -> null, 2L -> "", 3L -> "   ", 4L -> "solo", 5L -> "a b",
      6L -> "a b a b a b", 7L -> "x y x y z x y x y",
      // NBSP (U+00A0) is not whitespace to the tokenizer: doc 8's
      // "cafe<NBSP>bar" is ONE token
      8L -> "caf\u00e9\u00a0bar baz caf\u00e9\u00a0bar baz caf\u00e9 bar",
      9L -> "\tlead tab, then   runs of  spaces", 10L -> "A a A a") ++
      (11L to 60L).map(i => i -> Seq.fill(1 + rnd.nextInt(30))(
        Seq("p", "q", "r", "s")(rnd.nextInt(4))).mkString(" "))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val modes = Seq(
      "codegen only" -> Map("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((mode, confs) <- modes) {
      val s = spark.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val df = s.createDataFrame(texts ++ docs).toDF("doc_id", "text")
      val got = df.select(col("doc_id"),
          TopBigramFrac(TextAnalysis.tokens(col("text"))).as("k"))
        .join(topBigramReference(df), "doc_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      assert(got.length == texts.length + docs.length, mode)
      got.foreach { case (id, k, ref) =>
        assert(java.lang.Double.doubleToLongBits(k) ==
          java.lang.Double.doubleToLongBits(ref), s"$mode doc $id: $k != $ref")
      }
      val byId = got.map(g => g._1 -> g._2).toMap
      assert(byId(1L) == 0.0 && byId(2L) == 0.0 && byId(4L) == 0.0, mode)
      assert(byId(6L) == 3.0 / 5.0 && byId(8L) == 2.0 / 5.0, mode)
      // null elements (never produced by the tokenizer) pair as one value
      val nulls = s.range(1).select(TopBigramFrac(array(lit("a"),
        lit(null).cast("string"), lit("a"), lit(null).cast("string"))))
      assert(nulls.head().getDouble(0) == 2.0 / 3.0, mode)
    }
  }

  test("AdcTable equals the per-entry sqdist formulation, codegen only and " +
    "interpreted") {
    import graft.functions.AdcTable
    // the form AdcTable replaced: one graft_sqdist over a slice and a
    // literal centroid per (subspace, centroid)
    def reference(v: org.apache.spark.sql.Column,
                  books: Array[Array[Array[Double]]], w: Int) =
      array(books.indices.map { s =>
        array(books(s).map(cv => VectorFunctions.sqdist(
          slice(v, s * w + 1, w),
          array(cv.map(lit): _*).cast("array<double>"))): _*)
      }: _*)
    // 200 seeded 64-dim float32-valued vectors, like the embeddings table
    val rnd = new scala.util.Random(2303L)
    val emb = (0L until 200L).map(i =>
      i -> Array.fill(64)(rnd.nextGaussian().toFloat.toDouble))
    val src = emb.take(16).map(_._2)
    // q_pq_topk's book shape (4 x 16 centroids of width 16, sub-slices of
    // the first 16 vectors), and a ragged set: a short centroid, an empty
    // one and one wider than the subspace
    val pinned = Array.tabulate(4)(s => src.map(_.slice(s * 16, s * 16 + 16)).toArray)
    val ragged = Array(Array(Array(1.0, -2.0), Array.empty[Double]),
      Array(Array(0.5, 0.25, 3.0, 7.0), Array(-0.0)))
    // edge vectors under negative ids, apart from the seeded ones
    val edge = Seq(
      -1L -> Array.empty[Double], -2L -> Array.tabulate(40)(_ * 0.5),
      -3L -> Array.tabulate(70)(i => -i * 0.25),
      -4L -> Array(Double.NaN, 1.0, Double.PositiveInfinity, -0.0, 0.0),
      -5L -> Array(-0.0, -0.0, 1e300, -1e300))
    val rows = (emb ++ edge).map { case (id, v) => (id, v.toSeq) } :+
      ((-6L, null.asInstanceOf[Seq[Double]]))
    val modes = Seq(
      "codegen only" -> Map("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((mode, confs) <- modes; (books, w) <- Seq(pinned -> 16, ragged -> 2)) {
      val s = spark.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val got = s.createDataFrame(rows).toDF("id", "v")
        .select(col("id"), AdcTable.adcTable(col("v"), books, w).as("k"),
          reference(col("v"), books, w).as("r"))
        .collect()
      assert(got.length == rows.length, mode)
      got.foreach { r =>
        val id = r.getLong(0)
        type Table = scala.collection.Seq[scala.collection.Seq[Any]]
        val ref = r.getAs[Table](2)
        if (id == -6L) {
          // a null vector: a null table where every reference entry is null
          assert(r.isNullAt(1) && ref.flatten.forall(_ == null), mode)
        } else {
          val k = r.getAs[Table](1)
          assert(k.map(_.length) == ref.map(_.length), s"$mode vec $id")
          k.flatten.zip(ref.flatten).foreach {
            case (a: Double, b: Double) =>
              assert(java.lang.Double.doubleToLongBits(a) ==
                java.lang.Double.doubleToLongBits(b), s"$mode vec $id: $a != $b")
            case (a, b) => fail(s"$mode vec $id: $a vs $b")
          }
        }
      }
    }
  }
}
