package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sf1 generator for the order-of-magnitude bench gate
  * (VERDICT r10 item 6): the driver ships testdata up to sf0.1; the 10×
  * explode stress rows approximate but don't replace a real data step.
  * This materializes a genuine 10×-row dataset ONCE into `target/sf1`
  * (~160 MB parquet on disk — snappy-compressed; decoded row volume is
  * several× that) so `graft.Bench --sf sf1 --only hot10` measures the
  * hot queries against order-of-magnitude-larger INPUT FILES — real scan
  * volume, real shuffle widths, no in-plan explode node.
  *
  * Construction: each fact table becomes 10 copies with remapped row
  * ids (`id*10+c`, c∈[0,10)) — joins between lineitem and orders stay
  * consistent (both orderkeys remap identically), group keys
  * (user_id, l_returnflag, …) are left alone so GROUPS GROW 10× DEEPER
  * (the harder scale story for grouped/window operators), and document
  * texts repeat 10× so dedup sees genuinely bigger clusters. Dimension
  * tables copy through unchanged. Deterministic by construction — no
  * rng anywhere. */
object MakeSf1 {

  /** fact table -> row-id columns remapped as id*10+c */
  private val scaled: Seq[(String, Seq[String])] = Seq(
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))
  private val copied: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part")

  /** `factor` copies of every row, with each column in `ids` remapped
    * `id*factor + copy` so remapped keys stay join-consistent across
    * tables and distinct across copies. THE single definition of the
    * n-fold synthesis — the bench stress rows and the sf1 generator
    * must not drift apart, so both call this. */
  def tenfold(df: DataFrame, ids: Seq[String],
              factor: Int = 10): DataFrame = {
    // Spread BEFORE the multiplying explode (guide §2.5 input skew /
    // §6 split sizing): the sf0.1 parquet inputs are single-row-group
    // files, so a bare scan is ONE task and the ×factor explode — and
    // every map-side stage after it (probe aggregates, signature
    // kernels, window-hash explodes) — would run on one core. Moving
    // the (small) base across a round-robin exchange first costs a few
    // MB of shuffle and makes the synthetic corpus behave like the
    // many-split table it stands in for. Output multiset unchanged.
    val withC = graft.engine.Core.spread(df).select(
      explode(sequence(lit(0), lit(factor - 1))).as("__c") +:
        df.columns.map(col): _*)
    ids.foldLeft(withC) { case (d, id) =>
      d.withColumn(id, col(id) * factor + col("__c"))
    }.drop("__c")
  }

  /** Generate (if absent) and return the scaled directory. A marker
    * file (named after the target dir, e.g. `_GRAFT_SF10_COMPLETE` for
    * `target/sf10`) makes the generation once-only; a partial previous
    * run regenerates. `srcDir` is BY-NAME: chained scales
    * (`ensure(ensure(sf0.1 → sf1) → sf10)`) only resolve — and
    * potentially regenerate — the intermediate scale when the final one
    * is actually missing (ADVICE r13: a completed sf10 no longer
    * regenerates a cleaned sf1 it would never read). */
  def ensure(spark: SparkSession, srcDir: => String, outDir: String,
             factor: Int = 10): String = {
    val name = new java.io.File(outDir).getName.toUpperCase
    val marker = new java.io.File(outDir, s"_GRAFT_${name}_COMPLETE")
    if (marker.exists()) return outDir
    val from = srcDir // resolve the source scale only when generating
    System.err.println(s"[make-sf1] generating $outDir from $from " +
      s"(factor=$factor) ...")
    scaled.foreach { case (t, ids) =>
      val src = spark.read.parquet(s"$from/$t.parquet")
      tenfold(src, ids, factor)
        // spread the copies so downstream scans see balanced splits
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      System.err.println(s"[make-sf1] wrote $t")
    }
    copied.foreach { t =>
      spark.read.parquet(s"$from/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    marker.createNewFile()
    System.err.println(s"[make-sf1] done: $outDir")
    outDir
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "target/sf1"
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Session.local(32)
    ensure(spark, src, out)
    spark.stop()
  }
}
