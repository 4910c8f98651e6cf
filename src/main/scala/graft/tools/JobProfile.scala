package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB wall-time attribution for one query (optimization-round
  * measurement aid, guide §1/§7.1 with the UI disabled): runs a named
  * query (registered or bench-only) `reps` times and prints, for the
  * LAST rep, every Spark job it launched — start offset, duration,
  * description — plus the gaps (driver-side work: planning, collects,
  * local finishes). Earlier reps warm JIT/codegen so the attribution
  * is not startup noise.
  *
  * Usage: `sbt "runMain graft.tools.JobProfile <sfDir> <query> [reps]"`.
  * Session mirrors Bench's timing session. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "JobProfile: <sfDir> <query> [reps]")
    val sfDir = args(0); val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val all = graft.SparkEntry.queries ++ graft.Bench.benchOnly
    val fn = all.getOrElse(name, sys.error(s"unknown query $name"))
    // warm-up like Bench's session warmer
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()

    final case class Job(id: Int, t0: Long, var t1: Long = 0L,
                         desc: String, stages: Int)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(js.jobId, Job(js.jobId, js.time, desc = d,
          stages = js.stageInfos.size))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.t1 = je.time
      }
    }
    for (r <- 1 to reps) {
      jobs.clear()
      spark.catalog.clearCache(); System.gc()
      if (r == reps) spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[profile] rep $r: $dt%.3f s (rows=$n)")
      if (r == reps) {
        spark.sparkContext.removeSparkListener(listener)
        // listener events are posted asynchronously; drain before reading
        Thread.sleep(500)
        val js = jobs.values.toArray(Array.empty[Job]).sortBy(_.t0)
        if (js.nonEmpty) {
          val base = js.head.t0
          var prevEnd = base
          js.foreach { j =>
            val gap = (j.t0 - prevEnd) / 1e3
            if (gap > 0.005)
              println(f"         gap ${gap}%8.3f s   (driver)")
            val dur = (math.max(j.t1, j.t0) - j.t0) / 1e3
            println(f"job ${j.id}%3d  +${(j.t0 - base) / 1e3}%8.3f  " +
              f"${dur}%8.3f s  stages=${j.stages}%2d  ${j.desc.take(100)}")
            prevEnd = math.max(prevEnd, if (j.t1 > 0) j.t1 else j.t0)
          }
          println(f"[profile] job time total: " +
            f"${js.map(j => math.max(j.t1, j.t0) - j.t0).sum / 1e3}%.3f s " +
            f"across ${js.length} jobs; wall $dt%.3f s")
        } else println("[profile] no jobs recorded")
      }
    }
    spark.stop()
  }
}
