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
}
