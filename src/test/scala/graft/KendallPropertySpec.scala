package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.engine.Corr

/** Property tests: the Kendall kernel equals the O(n²) pairwise
  * definition ([[SparkSpec.refTau]]) on arbitrary tie-heavy data —
  * randomized evidence on top of GroupCorrSpec's fixed vectors. The
  * grid's bucket-boundary bookkeeping (classes 1/2/3 partition of the
  * pair space) and the per-pair masks are exactly the kind of logic a
  * fixed example can miss. Cases are drawn from FIXED seeds so the
  * suite is deterministic. */
class KendallPropertySpec extends SparkSpec {
  import spark.implicits._

  test("kendallDistributed == pairwise definition on random tie-heavy data") {
    // few distinct values -> dense ties AND cut points landing exactly
    // on tied values; sizes around the bucket count stress empty and
    // single-row stripes
    val gen = for {
      n <- Gen.choose(2, 60)
      xs <- Gen.listOfN(n, Gen.choose(-3, 3).map(_.toDouble))
      ys <- Gen.listOfN(n, Gen.choose(0, 4).map(_.toDouble))
      b <- Gen.oneOf(2, 3, 5, 16)
    } yield (xs, ys, b)
    var seed = Seed(42L)
    for (_ <- 1 to 30) {
      val (xs, ys, b) = gen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val df = xs.zip(ys).toDF("x", "y")
      val got = Corr.kendallGrid(df, Seq("x", "y"), buckets = b)
        .collect()(0)
      val gotOpt = if (got.isNullAt(2)) None else Some(got.getDouble(2))
      (refTau(xs, ys), gotOpt) match {
        case (None, None) =>
        case (Some(w), Some(g)) => assert(math.abs(g - w) <= 1e-12,
          s"want $w got $g (n=${xs.length}, b=$b, xs=$xs, ys=$ys)")
        case (w, g) => fail(s"want $w got $g (n=${xs.length}, b=$b)")
      }
    }
  }

  /** A cell: null, NaN, either zero, or one of a few integers (dense
    * ties). */
  private val cell: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None), 1 -> Gen.const(Some(Double.NaN)),
    1 -> Gen.const(Some(-0.0)), 1 -> Gen.const(Some(0.0)),
    6 -> Gen.choose(-3, 3).map(v => Some(v.toDouble)))

  private type R = (Int, Option[Double], Option[Double], Option[Double])

  /** Seeded frames of (g, x, y, z): a group key of 1-3 values and three
    * columns of [[cell]]s. */
  private def frames(seed: Long, cases: Int): Seq[Seq[R]] = {
    val gen = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, for {
      g <- Gen.choose(1, 3); x <- cell; y <- cell; z <- cell
    } yield (g, x, y, z)))
    Iterator.iterate(Seed(seed))(_.next).take(cases)
      .map(gen.pureApply(Gen.Parameters.default, _)).toSeq
  }

  private val cols = Seq("x", "y", "z")

  /** The definition on pair (i, j)'s own mask: (n, tau), tau None when
    * n is below `minPeriods`. */
  private def ref(rows: Seq[R], i: Int, j: Int,
                  minPeriods: Int): (Long, Option[Double]) = {
    val m = rows.map(r => IndexedSeq(r._2, r._3, r._4)).collect {
      case c if c(i).exists(!_.isNaN) && c(j).exists(!_.isNaN) =>
        (c(i).get, c(j).get)
    }
    (m.size, if (m.size < minPeriods) None else refTau(m.map(_._1), m.map(_._2)))
  }

  /** Every (c1, c2, kendall, n) cell against [[ref]]. */
  private def assertCells(got: DataFrame, rows: Seq[R], minPeriods: Int,
                          what: String): Unit = {
    val cells = got.collect()
    assert(cells.length == 3, what)
    cells.foreach { r =>
      val (n, want) = ref(rows, cols.indexOf(r.getString(0)),
        cols.indexOf(r.getString(1)), minPeriods)
      assert(r.getLong(3) == n, s"$what (${r.getString(0)}, ${r.getString(1)}): n")
      assertApprox(optD(r, 2), want, 1e-12)
    }
  }

  test("kendallMatrix (driver regime) == pairwise definition per " +
    "pair mask, with nulls, NaN, ±0.0 and dense ties") {
    for ((rows, c) <- frames(7L, 20).zipWithIndex; mp <- Seq(1, 5))
      assertCells(Corr.kendallMatrix(rows.toDF("g", "x", "y", "z"), cols, mp),
        rows, mp, s"case $c, minPeriods $mp")
  }

  test("kendallGrid (forced grid regime) == pairwise definition per " +
    "pair mask, with nulls, NaN, ±0.0 and dense ties") {
    // each case runs one minPeriods and one bucket count; the cases
    // cover every combination twice
    val settings = for (mp <- Seq(1, 5); b <- Seq(2, 3, 5, 16)) yield (mp, b)
    for ((rows, c) <- frames(11L, 16).zipWithIndex) {
      val (mp, b) = settings(c % settings.size)
      assertCells(Corr.kendallGrid(rows.toDF("g", "x", "y", "z"), cols, mp,
        buckets = b), rows, mp, s"case $c, minPeriods $mp, buckets $b")
    }
  }

  test("kendallMatrixBy == pairwise definition per group and pair mask") {
    for ((rows, c) <- frames(13L, 12).zipWithIndex; mp <- Seq(1, 5)) {
      val got = Corr.kendallMatrixBy(rows.toDF("g", "x", "y", "z"), "g", cols, mp)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2)) -> optD(r, 3))
        .toMap
      val groups = rows.groupBy(_._1)
      assert(got.size == groups.size * 6, s"case $c")
      for ((g, slice) <- groups; i <- cols.indices; j <- i until cols.size) {
        val want = if (i == j) Some(1.0) else ref(slice, i, j, mp)._2 // fill_diagonal
        assertApprox(got((g, cols(i), cols(j))), want, 1e-12)
      }
    }
  }
}
