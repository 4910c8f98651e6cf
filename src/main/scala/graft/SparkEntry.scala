package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see SURVEY.md §7. Every query file declares its
  * rows as [[Query]] values; this object is the one registry of them. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_groupby_agg")(spark, "/root/testdata/sf0.001")

  /** Every registered query, in declaration order. */
  val all: Seq[Query] = requireDistinct(Seq(
    Queries.queries, Queries2.queries, Queries3.queries, Queries4.queries,
    Queries5.queries, Queries6.queries, Queries7.queries, Queries8.queries,
    Queries9.queries, Queries10.queries, Queries11.queries,
    PipelineQueries.queries, PipelineQueries2.queries,
    PipelineQueries3.queries, PipelineQueries4.queries,
    PipelineQueries5.queries, PipelineQueries6.queries,
    StreamQueries.queries).flatten)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] = all.map(q => q.name -> q.oracle).toMap

  /** `qs` unchanged, after checking that no name is declared twice (a
    * map built from them would silently keep only the last). */
  def requireDistinct(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }
}
