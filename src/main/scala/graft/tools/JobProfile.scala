package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB wall-time attribution for one query (optimization-round
  * measurement aid, guide §1/§7.1 with the UI disabled): runs a named
  * query (registered or bench-only) `reps` times, each time writing its
  * full result to the `noop` sink (so no work is pruned, as a `count()`
  * would let Catalyst do). Every rep prints its time, its job count and
  * the classes it compiled (the delta of Spark's codegen compilation
  * counter): rep 1's count is the query's generated-class working set,
  * later reps show what the codegen cache failed to keep. The LAST rep
  * also lists every Spark job it launched — start offset, duration,
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
    val compiled = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    spark.sparkContext.addSparkListener(listener)
    for (r <- 1 to reps) {
      spark.catalog.clearCache(); System.gc()
      // listener events are posted asynchronously; drain before reading
      Thread.sleep(500)
      jobs.clear()
      val c0 = compiled.getCount
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"[profile] rep $r: $dt%.3f s, ${jobs.size} jobs, " +
        s"${compiled.getCount - c0} classes compiled")
      if (r == reps) {
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
