package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Ewm
import graft.pipeline.{Curation, Dedup}

/** Seeded randomized differential tests for the round-8 operator
  * tranche, each against an INDEPENDENT reference formulation:
  *   - editDistanceJoin: the prefix-filtered plan vs an O(n²)
  *     brute-force levenshtein sweep — random small-alphabet strings
  *     maximize duplicate grams, ties and short-string/filter-floor
  *     crossings (the regimes where a pruning bug would hide);
  *   - pageRank: the persisted-invariant DataFrame loop vs a driver
  *     dense-map power iteration;
  *   - ewm.cov/corr: the streaming-recurrence pairwise Aggregator vs
  *     the explicit position-weight closed form over pairwise-complete
  *     observations.
  * Fixed seeds → deterministic suite. */
class Round8PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private def draw[A](gen: Gen[A], seed: Seed): (A, Seed) =
    (gen.pureApply(Gen.Parameters.default, seed), seed.next)

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("editDistanceJoin equals brute force on random small-alphabet strings") {
    var seed = Seed(11L)
    for (round <- 1 to 6) {
      val gen = for {
        n <- Gen.choose(8, 30)
        t <- Gen.choose(1, 2)
        q <- Gen.choose(2, 3)
        ss <- Gen.listOfN(n, for {
          len <- Gen.choose(0, 10)
          cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
        } yield cs.mkString)
      } yield (t, q, ss)
      val ((t, q, ss), s2) = draw(gen, seed); seed = s2
      val df = ss.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "t")
      val got = Dedup.editDistanceJoin(df, "id", "t", maxDist = t, q = q)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        i <- ss.indices; j <- (i + 1) until ss.size
        d = lev(ss(i), ss(j)) if d <= t
      } yield (i.toLong, j.toLong, d)).toSet
      assert(got == want,
        s"round $round (t=$t q=$q n=${ss.size}): " +
          s"missing=${want -- got} spurious=${got -- want}")
    }
  }

  test("editDistanceJoinTables equals brute force (cross, colliding ids)") {
    var seed = Seed(29L)
    for (round <- 1 to 4) {
      val gen = for {
        nl <- Gen.choose(5, 18)
        nr <- Gen.choose(5, 18)
        t <- Gen.choose(1, 2)
        ls <- Gen.listOfN(nl, for {
          len <- Gen.choose(0, 9)
          cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
        } yield cs.mkString)
        rs <- Gen.listOfN(nr, for {
          len <- Gen.choose(0, 9)
          cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
        } yield cs.mkString)
      } yield (t, ls, rs)
      val ((t, ls, rs), s2) = draw(gen, seed); seed = s2
      // ids deliberately collide across the two tables (both 0-based)
      val ldf = ls.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "t")
      val rdf = rs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "t")
      val got = Dedup.editDistanceJoinTables(ldf, rdf, "id", "t", "id", "t",
          maxDist = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        i <- ls.indices; j <- rs.indices
        d = lev(ls(i), rs(j)) if d <= t
      } yield (i.toLong, j.toLong, d)).toSet
      assert(got == want,
        s"round $round (t=$t): missing=${want -- got} spurious=${got -- want}")
    }
  }

  private def refPageRank(edges: Set[(Long, Long)], iters: Int,
                          d: Double): Map[Long, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val n = nodes.size.toDouble
    val out = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.toSeq
        .map { case (s, t) => t -> r(s) / out(s) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      val dangling = nodes.toSeq.filterNot(out.contains).map(r).sum
      r = nodes.map(v => v ->
        ((1 - d) / n + d * (contrib.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    r
  }

  test("pageRank equals the driver dense power iteration on random digraphs") {
    var seed = Seed(13L)
    for (round <- 1 to 4) {
      val gen = for {
        nv <- Gen.choose(4, 12)
        ne <- Gen.choose(3, 25)
        es <- Gen.listOfN(ne, for {
          s <- Gen.choose(0, nv - 1)
          t <- Gen.choose(0, nv - 1) if s != t
        } yield (s.toLong, t.toLong))
      } yield es.toSet
      val (edges, s2) = draw(gen, seed); seed = s2
      if (edges.nonEmpty) {
        val df = edges.toSeq.toDF("s", "t")
        val got = Curation.pageRank(df, "s", "t", iters = 3)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val want = refPageRank(edges, 3, 0.85)
        assert(got.keySet == want.keySet, s"round $round node sets differ")
        got.foreach { case (k, v) =>
          assert(math.abs(v - want(k)) < 1e-9,
            s"round $round node $k: $v vs ${want(k)}") }
      }
    }
  }

  test("rolling cov/corr equals a per-window brute force (random)") {
    var seed = Seed(23L)
    for (round <- 1 to 6) {
      val gen = for {
        n <- Gen.choose(3, 30)
        win <- Gen.choose(2, 8)
        mp <- Gen.choose(2, 4)
        xs <- Gen.listOfN(n, Gen.option(Gen.choose(-9, 9).map(_.toDouble)))
        ys <- Gen.listOfN(n, Gen.option(Gen.choose(-9, 9).map(_.toDouble)))
      } yield (win, mp, xs, ys)
      val ((win, mp, xs, ys), s2) = draw(gen, seed); seed = s2
      val df = xs.zip(ys).zipWithIndex
        .map { case ((x, y), i) => (i.toLong, x, y) }.toDF("i", "x", "y")
      val w = graft.engine.WindowOps.rollingSpec(
        Window.partitionBy(lit(1)).orderBy("i"), win)
      val got = df.select(col("i"),
          graft.engine.WindowOps.rCov(col("x"), col("y"), w, mp).as("c"),
          graft.engine.WindowOps.rCorr(col("x"), col("y"), w, mp).as("r"))
        .orderBy("i").collect()
      for (i <- xs.indices) {
        val lo = math.max(0, i - win + 1)
        val pairsC = (lo to i).collect {
          case j if xs(j).nonEmpty && ys(j).nonEmpty => (xs(j).get, ys(j).get)
        }
        val wantC =
          if (pairsC.size < mp || pairsC.size < 2) None
          else {
            val mx = pairsC.map(_._1).sum / pairsC.size
            val my = pairsC.map(_._2).sum / pairsC.size
            Some(pairsC.map { case (x, y) => (x - mx) * (y - my) }.sum /
              (pairsC.size - 1))
          }
        val gc = if (got(i).isNullAt(1)) None else Some(got(i).getDouble(1))
        (gc, wantC) match {
          case (Some(a), Some(b)) =>
            assert(math.abs(a - b) < 1e-9, s"round $round cov row $i: $a vs $b")
          case (a, b) => assert(a == b, s"round $round cov row $i: $a vs $b")
        }
        // corr: additionally NaN (null) on zero-variance frames — the
        // degenerate case where Spark 4's builtin corr throws under
        // ANSI mode (the bug this suite caught in rCorr)
        val wantR = wantC.flatMap { _ =>
          val mx = pairsC.map(_._1).sum / pairsC.size
          val my = pairsC.map(_._2).sum / pairsC.size
          val vx = pairsC.map(p => (p._1 - mx) * (p._1 - mx)).sum
          val vy = pairsC.map(p => (p._2 - my) * (p._2 - my)).sum
          if (vx == 0 || vy == 0) None
          else Some(pairsC.map(p => (p._1 - mx) * (p._2 - my)).sum /
            math.sqrt(vx * vy))
        }
        val gr = if (got(i).isNullAt(2)) None else Some(got(i).getDouble(2))
        (gr, wantR) match {
          case (Some(a), Some(b)) =>
            assert(math.abs(a - b) < 1e-9, s"round $round corr row $i: $a vs $b")
          case (a, b) => assert(a == b, s"round $round corr row $i: $a vs $b")
        }
      }
    }
  }

  test("stat family degenerate-input sweep: constant series never throw") {
    import graft.engine._
    import graft.engine.{WindowOps, Reductions, Cumulative}
    val const = Seq.fill(5)(2.5).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val byI = Window.partitionBy(lit(1)).orderBy("i")
    val w3 = byI.rowsBetween(-2, 0)
    // every moment/ratio op must survive zero variance (ANSI mode is
    // the default; unguarded internal divisions throw — corr did)
    const.agg(Reductions.sampleSkew(col("v")),
      Reductions.sampleKurt(col("v")), Reductions.sem(col("v")),
      Reductions.varDdof(col("v"), 2)).collect()
    const.select(WindowOps.rSkew(col("v"), w3, 3),
      WindowOps.rKurt(col("v"), w3, 3), WindowOps.rSem(col("v"), w3, 2),
      WindowOps.rCorr(col("v"), col("v"), w3, 2),
      WindowOps.weightedVar(col("v"), byI, Seq(1.0, 2.0, 1.0))).collect()
    Corr.spearman(const.withColumn("u", col("v")), "v", "u").collect()
    Corr.kendall(const.withColumn("u", col("v")), "v", "u").collect()
    Reductions.describe(const, Seq("v")).collect()
    const.select(Ewm.variance(col("v"), byI, 0.3),
      Ewm.corr(col("v"), col("v"), byI, 0.3)).collect()
    // pct_change over a zero base (division) must not throw either
    Seq((0L, 0.0), (1L, 5.0)).toDF("i", "v")
      .select(Cumulative.pctChange(col("v"), byI)).collect()
  }

  test("corr family is degenerate-safe: constant inputs null, never throw") {
    val df = Seq((1L, 1.0, 2.0), (1L, 1.0, 3.0), (1L, 1.0, 4.0),
      (2L, 1.0, 5.0), (2L, 2.0, 5.0), (2L, 3.0, 5.0)).toDF("g", "x", "y")
    // groupby matrix: x constant in g=1, y constant in g=2
    val m = graft.engine.Corr.corrMatrixBy(df, "g", Seq("x", "y"))
      .filter(col("c1") === "x" && col("c2") === "y").orderBy("g").collect()
    assert(m.forall(_.isNullAt(3)), "degenerate group cells must be null")
    // global long form on a constant column
    val p = graft.engine.Corr.pearsonLong(
      df.filter(col("g") === 1), Seq("x", "y")).collect()
    assert(p.head.isNullAt(2))
    // autocorr of a constant series
    val w = Window.partitionBy("g").orderBy("y")
    val a = graft.engine.Frame.autocorr(df.filter(col("g") === 1),
      "x", w, Seq("g")).collect()
    assert(a.head.isNullAt(1))
  }

  /** Closed-form pandas ewm.cov/corr (adjust=True, bias=False,
    * ignore_na=False): explicit weights (1-a)^(rows-since) over
    * pairwise-complete rows — decay indexed by ROW distance. */
  private def refEwmCovCorr(xs: Seq[Option[Double]], ys: Seq[Option[Double]],
                            a: Double)
      : (Seq[Option[Double]], Seq[Option[Double]]) = {
    val cov = collection.mutable.ArrayBuffer[Option[Double]]()
    val corr = collection.mutable.ArrayBuffer[Option[Double]]()
    for (i <- xs.indices) {
      val valid = (0 to i).collect {
        case j if xs(j).nonEmpty && ys(j).nonEmpty =>
          (xs(j).get, ys(j).get, math.pow(1 - a, (i - j).toDouble))
      }
      if (valid.size < 2) { cov += None; corr += None }
      else {
        val sw = valid.map(_._3).sum
        val sw2 = valid.map(v => v._3 * v._3).sum
        val mx = valid.map(v => v._1 * v._3).sum / sw
        val my = valid.map(v => v._2 * v._3).sum / sw
        val cb = valid.map(v => (v._1 - mx) * (v._2 - my) * v._3).sum / sw
        val vx = valid.map(v => (v._1 - mx) * (v._1 - mx) * v._3).sum / sw
        val vy = valid.map(v => (v._2 - my) * (v._2 - my) * v._3).sum / sw
        val denom = sw * sw - sw2
        cov += (if (denom <= 0) None else Some(sw * sw / denom * cb))
        corr += (if (vx <= 0 || vy <= 0) None
                 else Some(cb / math.sqrt(vx * vy)))
      }
    }
    (cov.toSeq, corr.toSeq)
  }

  test("ewm cov/corr aggregator equals the explicit-weight closed form (random)") {
    var seed = Seed(17L)
    for (round <- 1 to 8) {
      val gen = for {
        n <- Gen.choose(2, 35)
        a <- Gen.choose(0.05, 0.95)
        xs <- Gen.listOfN(n, Gen.option(Gen.choose(-5, 5).map(_.toDouble)))
        ys <- Gen.listOfN(n, Gen.option(Gen.choose(-5, 5).map(_.toDouble)))
      } yield (a, xs, ys)
      val ((a, xs, ys), s2) = draw(gen, seed); seed = s2
      val df = xs.zip(ys).zipWithIndex
        .map { case ((x, y), i) => (i.toLong, x, y) }.toDF("i", "x", "y")
      val w = Window.partitionBy(lit(1)).orderBy("i")
      val got = df.select(col("i"),
          Ewm.cov(col("x"), col("y"), w, a).as("c"),
          Ewm.corr(col("x"), col("y"), w, a).as("r"))
        .orderBy("i").collect()
      val (wc, wr) = refEwmCovCorr(xs, ys, a)
      for (i <- xs.indices) {
        val gc = if (got(i).isNullAt(1)) None else Some(got(i).getDouble(1))
        val gr = if (got(i).isNullAt(2)) None else Some(got(i).getDouble(2))
        def close(x: Option[Double], y: Option[Double]) = (x, y) match {
          case (Some(p), Some(q)) => math.abs(p - q) < 1e-7
          case (None, None) => true
          case _ => false
        }
        assert(close(gc, wc(i)), s"round $round cov row $i: $gc vs ${wc(i)}")
        assert(close(gr, wr(i)), s"round $round corr row $i: $gr vs ${wr(i)}")
      }
    }
  }
}
