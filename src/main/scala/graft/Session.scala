package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built (the reference's
  * `initialize(n_cpu, ...)`, SURVEY.md §2.13): every main and the test
  * suite share these confs and differ only in their core count. */
object Session {
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts ships as TIMESTAMP(NANOS), which Spark reads only as a
      // raw long; Core.normalizeTs rebuilds the timestamp column
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // let AQE re-plan INSIDE cached-plan materialization (off by
      // default): iterative ops persist their invariants, and without
      // this the cached subtree runs with static 32-partition shuffles
      // — measured 7.5 -> 5.7 s on the q_pagerank row alone
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // static, JVM-wide: generated classes are cached by (class loader,
      // source), and driver threads and executor tasks load each
      // whole-stage class under different loaders, so a class takes two
      // entries. The four llm_curation ops alone hold 79 entries at
      // sf0.001 in local[4], near Spark's default of 100 (4 segments
      // of 25, so some JVMs still recompile a few per call); the
      // Verify, Bench and test mixes run many more queries per JVM
      .config("spark.sql.codegen.cache.maxEntries", "256")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
