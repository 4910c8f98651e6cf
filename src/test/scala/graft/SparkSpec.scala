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
