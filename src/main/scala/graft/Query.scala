package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Core

/** One registered query: its name, the engine build over a testdata
  * directory, and the equivalent DuckDB SQL the oracle check runs on the
  * same parquet tables. Declaring all three together writes each name
  * once, and a query cannot be registered without its oracle. */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       oracle: String)

object Query {
  /** The table reader every query uses: `<dir>/<name>.parquet` with its
    * timestamp columns normalized ([[Core.normalizeTs]]). */
  def T(s: SparkSession, dir: String, name: String): DataFrame =
    Core.normalizeTs(s.read.parquet(s"$dir/$name.parquet"))
}
