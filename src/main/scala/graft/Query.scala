package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.engine.Core

/** One registered query: its name, the engine build over a testdata
  * directory, and the equivalent DuckDB SQL the oracle check runs on the
  * same parquet tables. Declaring all three together writes each name
  * once, and a query cannot be registered without its oracle. */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       oracle: String)

object Query {
  /** Inferred schemas per session, keyed by [[stamp]]. Weak keys: a
    * stopped session's entries go with it. */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, StructType]]()

  /** The table reader every query uses: `<dir>/<name>.parquet` with its
    * timestamp columns normalized ([[Core.normalizeTs]]). The first read
    * of a table in a session infers its schema (Spark's footer-reading
    * job); a repeat read of the same files passes that schema with
    * `read.schema(...)` and runs no job before the query's own. */
  def T(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = stamp(s, path) match {
      case None => s.read.parquet(path) // fails as Spark does
      case Some(key) =>
        val known = schemas.synchronized(
          schemas.computeIfAbsent(s, _ => new ConcurrentHashMap[String, StructType]()))
        known.get(key) match {
          case null =>
            val read = s.read.parquet(path)
            known.put(key, read.schema)
            read
          case schema => s.read.schema(schema).parquet(path)
        }
    }
    Core.normalizeTs(df)
  }

  /** The path plus each data file's name, length and modification time,
    * so a rewritten table is inferred afresh; None for a missing path. */
  private def stamp(s: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val files = fs.listFiles(p, true)
      val sb = new StringBuilder(path)
      while (files.hasNext) {
        val f = files.next()
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          sb.append(s"|${f.getPath}:${f.getLen}:${f.getModificationTime}")
      }
      Some(sb.toString)
    }
  }
}
