package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.{Core, Corr}

/** Operator calls the benchmark makes directly, for input shapes no
  * registry row has. Each goes through the same public functions the
  * registry rows use. */
object Ops {
  private def lineitem(s: SparkSession, d: String): DataFrame =
    Core.normalizeTs(s.read.parquet(s"$d/lineitem.parquet"))

  private val rankCols = Seq("l_quantity", "l_extendedprice", "l_discount")

  val direct: Map[String, (SparkSession, String) => DataFrame] = Map(
    // grouped spearman on each side of Corr.GroupedProbeMaxKeys (1024):
    // l_suppkey has supplier-count keys (<= 1024 at the workload's
    // scale), l_partkey has part-count keys (> 1024)
    "spearman_by_suppkey" -> ((s, d) =>
      Corr.corrMatrixBy(lineitem(s, d), "l_suppkey", rankCols, "spearman")),
    "spearman_by_partkey" -> ((s, d) =>
      Corr.corrMatrixBy(lineitem(s, d), "l_partkey", rankCols, "spearman")))
}
