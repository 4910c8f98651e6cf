package graft

import org.apache.spark.sql.functions._
import graft.engine.Core

/** The query registry, the oracle JSON Verify writes, and the bounded
  * re-root the composed pipeline rows return through. */
class RegistrySpec extends SparkSpec {
  import spark.implicits._

  test("registry: 201 names, each with a build and a non-empty oracle") {
    assert(SparkEntry.all.size == 201)
    assert(SparkEntry.queries.size == 201)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    val empty = SparkEntry.oracleSql.collect {
      case (n, sql) if sql.trim.isEmpty => n }
    assert(empty.isEmpty, s"empty oracles: $empty")
  }

  test("registry: a name declared twice is rejected, not silently replaced") {
    val q = SparkEntry.all.head
    val other = Query(q.name, q.build, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      SparkEntry.requireDistinct(SparkEntry.all :+ other))
    assert(e.getMessage.contains(q.name))
  }

  test("oracle_sql.json round-trips quote, backslash, tab, CR and \\u0001") {
    val sql = Map(
      "q_a" -> "SELECT '\"x\"' AS q, 'a\\b' AS s\tFROM t\r\nWHERE c = '\u0001'",
      "q_b" -> "SELECT 1")
    val json = Verify.oracleJson(sql)
    assert(!json.exists(_ < ' '), "raw control character in the JSON text")
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    assert(org.json4s.jackson.JsonMethods.parse(json)
      .extract[Map[String, String]] == sql)
  }

  test("reroot: under the cap, same rows in the same order on a local scan") {
    val df = (1 to 50).map(i => (i, s"r$i")).toDF("k", "v")
      .repartition(4).orderBy(desc("k"))
    val got = Core.reroot(df, 50, "q_test")
    assert(got.collect().toSeq == df.collect().toSeq)
    assert(got.schema == df.schema)
    assert(got.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
  }

  test("reroot: one row over the cap fails loudly, naming the query") {
    val df = (1 to 51).toDF("k")
    val e = intercept[IllegalArgumentException](
      Core.reroot(df, 50, "q_test stage"))
    assert(e.getMessage.contains("q_test stage"))
  }

  /** A row as text with every double as its bit pattern and every
    * binary as hex, recursively, so NaN, -0.0 and bytes compare exactly. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  private def edgeFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("d", "double").add("b", "binary")
      .add("a", "array<array<double>>").add("s", "string")
    val big = (1L << 53) + 1
    val rows = Seq(
      org.apache.spark.sql.Row(big, Double.NaN, Array[Byte](0, -1, 7),
        Seq(Seq(-0.0, Double.NaN), null, Seq()), "x"),
      org.apache.spark.sql.Row(Long.MaxValue, -0.0, Array.emptyByteArray,
        Seq(Seq(1e300, Double.NegativeInfinity)), null),
      org.apache.spark.sql.Row(null, null, null, null, ""),
      org.apache.spark.sql.Row(-big, 0.0, Array[Byte](127), Seq(null), "z"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("reroot and truncatePlan keep every row of the Row path: null, NaN, " +
    "-0.0, binary, long above 2^53, nested arrays") {
    val df = edgeFrame.orderBy(col("id").asc_nulls_first)
    // the Row paths they replaced: collect -> createDataFrame(rows), and
    // localCheckpoint -> createDataFrame(ck.rdd)
    val viaRows = spark.createDataFrame(
      java.util.Arrays.asList(df.limit(51).collect(): _*), df.schema)
    val ck = df.localCheckpoint()
    val viaRdd = spark.createDataFrame(ck.rdd, ck.schema)
    val rerooted = Core.reroot(df, 50, "q_edge")
    val truncated = Core.truncatePlan(df)
    try {
      assert(rerooted.schema == viaRows.schema)
      assert(truncated.df.schema == viaRdd.schema)
      assert(rerooted.collect().map(canon).toSeq ==
        viaRows.collect().map(canon).toSeq)
      assert(truncated.df.collect().map(canon).sorted.toSeq ==
        viaRdd.collect().map(canon).sorted.toSeq)
      assert(rerooted.collect().map(canon).toSeq.length == 4)
    } finally truncated.release()
  }

  test("truncatePlan resets the plan's size estimate a bare checkpoint keeps") {
    val df = (1 to 10).toDF("k")
    val reset = spark.sessionState.conf.defaultSizeInBytes
    assert(df.localCheckpoint().queryExecution.optimizedPlan.stats
      .sizeInBytes < reset)
    for (dir <- Seq(None, Some("target/test-ckpt"))) {
      val t = Core.truncatePlan(df, dir)
      assert(t.df.queryExecution.optimizedPlan.stats.sizeInBytes == reset)
      assert(t.df.collect().map(_.getInt(0)).sorted.toSeq == (1 to 10))
      assert(t.rows.count() == 10)
      t.release()
    }
  }
}
