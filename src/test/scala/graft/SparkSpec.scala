package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + comparison helpers for all specs.
  * Differential-test style mirrors the reference's suite (oracle =
  * serial pandas there, hand-computed pandas values here — see
  * SURVEY.md §5). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Column of a 1-row/1-col result as Option[Double]. */
  def d1(df: DataFrame): Option[Double] = optD(df.collect()(0), 0)

  def optD(r: Row, i: Int): Option[Double] =
    if (r.isNullAt(i)) None
    else Some(r.get(i) match {
      case d: Double => d
      case f: Float => f.toDouble
      case n: Number => n.doubleValue()
    })

  /** Collect one double column (with nulls) in dataframe order. */
  def colD(df: DataFrame, name: String): Seq[Option[Double]] =
    df.select(name).collect().toSeq.map(optD(_, 0))

  def assertApprox(got: Option[Double], want: Option[Double],
                   tol: Double = 1e-9): Unit = (got, want) match {
    case (None, None) =>
    case (Some(g), Some(w)) =>
      assert(math.abs(g - w) <= tol, s"got $g want $w")
    case _ => fail(s"got $got want $want")
  }

  /** O(n²) reference Kendall tau-b straight from the definition; None
    * when a side is constant (denominator 0). */
  def refTau(xs: Seq[Double], ys: Seq[Double]): Option[Double] = {
    val x = xs.toIndexedSeq; val y = ys.toIndexedSeq
    var cd = 0L; var tx = 0L; var ty = 0L; var n0 = 0L
    for (i <- x.indices; j <- (i + 1) until x.length) {
      n0 += 1
      cd += (math.signum(x(j) - x(i)) * math.signum(y(j) - y(i))).toLong
      if (x(i) == x(j)) tx += 1
      if (y(i) == y(j)) ty += 1
    }
    val denom = math.sqrt((n0 - tx).toDouble * (n0 - ty).toDouble)
    if (denom == 0) None else Some(cd / denom)
  }

  /** [[refTau]] of columns `a`, `b` over the rows where both are
    * present (not null, not NaN) — pandas' pairwise mask. */
  def refTauOf(df: DataFrame, a: String, b: String): Option[Double] = {
    val rows = df.select(df(a).cast("double"), df(b).cast("double")).collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) &&
        !r.getDouble(0).isNaN && !r.getDouble(1).isNaN)
    refTau(rows.map(_.getDouble(0)), rows.map(_.getDouble(1)))
  }

  def assertSeqApprox(got: Seq[Option[Double]], want: Seq[Option[Double]],
                      tol: Double = 1e-9): Unit = {
    assert(got.size == want.size, s"size ${got.size} != ${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      (g, w) match {
        case (None, None) =>
        case (Some(a), Some(b)) =>
          assert(math.abs(a - b) <= tol, s"row $i: got $a want $b")
        case _ => fail(s"row $i: got $g want $w")
      }
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
