package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (local iteration only; the driver passes 2): a
    // comma-separated query-name filter
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // clear the previous run's output first: a query that now fails
      // must leave no parquet for the oracle check to pass on
      deleteTree(Paths.get(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }))
    spark.stop()
  }

  /** `oracle_sql.json`: one JSON object of name -> SQL. json4s escapes
    * quotes, backslashes and every control character, so a tab or CR in
    * an oracle cannot break the reader's json.load. */
  def oracleJson(sql: Map[String, String]): String =
    org.json4s.jackson.Serialization.write(sql)(org.json4s.DefaultFormats)

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.delete(q))
      finally walk.close()
    }
}
