package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.perfbench.Bus
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** One benchmark run of one workload on generated tables: set-up rounds,
  * a cold pass that writes every result as parquet for run.py to check,
  * timed passes that fully materialize every result into a `noop` sink
  * (with --trace 1: one traced pass between two untraced ones). Writes raw
  * measurements to `<out>/result.json` (and spans to `<out>/trace.json`);
  * run.py turns them into metrics.
  *
  * Args: --data DIR --out DIR --ops name=layer,... --tables t1,...
  *       --seconds S --trace 0|1 */
object Harness {
  type Op = (SparkSession, String) => DataFrame

  /** Timed passes a run makes at least, whatever --seconds says. */
  val MinPasses = 2
  /** Session starts in set-up, for a median. */
  val Setups = 5

  private implicit val formats: Formats = DefaultFormats

  private def write(path: String, v: AnyRef): Unit =
    Files.writeString(Paths.get(path), Serialization.write(v))

  private def session(cpus: Int, out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", s"$out/tmp")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(x => x(0).stripPrefix("--") -> x(1)).toMap
    val data = a("data"); val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val registry = graft.SparkEntry.queries ++ Ops.direct
    val ops: Seq[(String, String, Op)] = a("ops").split(",").toSeq.map { x =>
      val Array(n, layer) = x.split("=")
      (Text.checkName(n), layer, registry.getOrElse(n, sys.error(s"unknown op $n")))
    }
    val cpus = Runtime.getRuntime.availableProcessors
    val tables = a("tables").split(",").toSeq

    // set-up: session start plus reading the footer of every table the
    // ops read; repeated so run.py can report a median
    var spark: SparkSession = null
    val sessionS = (1 to Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, out)
      tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext

    val attempts = mutable.Map.empty[String, Int].withDefaultValue(0)
    val threw = mutable.Map.empty[String, Int].withDefaultValue(0)
    val errors = mutable.Map.empty[String, String]
    def fail(name: String, e: Throwable): Unit = {
      threw(name) += 1
      errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }

    /** One call: build the DataFrame, then materialize all of it, into
      * the noop sink or, with `save`, as parquet for the output checks. */
    def call(name: String, fn: Op, save: Boolean = false): Double = {
      attempts(name) += 1
      val t0 = System.nanoTime()
      try {
        val w = fn(spark, data).write.mode("overwrite")
        if (save) w.parquet(s"$out/results/$name") else w.format("noop").save()
      } catch { case NonFatal(e) => fail(name, e) }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(Text.fmt("[perfbench] %s %.3f s%s", name, dt, if (save) " (cold)" else ""))
      dt
    }

    def pass(save: Boolean = false): (Double, Map[String, Double]) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val times = ops.map { case (n, _, fn) => n -> call(n, fn, save) }.toMap
      ((System.nanoTime() - t0) / 1e9, times)
    }

    def timed(budget: Double, min: Int): Seq[(Double, Map[String, Double])] = {
      val t0 = System.nanoTime()
      val buf = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
      while (buf.size < min || (System.nanoTime() - t0) / 1e9 < budget) buf += pass()
      buf.toSeq
    }

    // the cold pass is the first pass of the fresh session; it writes
    // every result as parquet, which run.py checks
    val (coldS, cold) = pass(save = true)
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_._1 == k) }
    Files.createDirectories(Paths.get(s"$out/results"))
    write(s"$out/results/oracle_sql.json", oracle)
    // traced pass: the same calls, each split into spans
    val tracer = new Tracer
    val run = tracer.open(-1, "run", "traced")
    def tracedPass(): (Double, Map[String, Map[String, Double]]) = {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      spark.catalog.clearCache()
      val p = tracer.open(run.id, "pass", "pass")
      val p0 = System.nanoTime()
      val per = ops.map { case (n, layer, fn) =>
        val op = tracer.open(p.id, "op", n)
        val b = tracer.open(op.id, "build", n, op.start)
        tracer.setCall(b, null)
        sc.setLocalProperty(Tracer.ParentProp, b.id.toString)
        attempts(n) += 1
        var act: Span = null
        try {
          val df = fn(spark, data)
          tracer.close(b)
          act = tracer.open(op.id, "action", n)
          tracer.setCall(b, act)
          sc.setLocalProperty(Tracer.ParentProp, act.id.toString)
          df.write.format("noop").mode("overwrite").save()
        } catch { case NonFatal(e) => fail(n, e) }
        if (act == null) { tracer.close(b); act = tracer.open(op.id, "action", n) }
        tracer.close(act)
        op.end = act.end
        sc.setLocalProperty(Tracer.ParentProp, null)
        Bus.drain(sc)
        tracer.setCall(null, null)
        n -> Tracer.opMetrics(tracer.since(op.id), layer, b, act)
      }.toMap
      tracer.close(p)
      val wall = (System.nanoTime() - p0) / 1e9
      sc.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
      (wall, per)
    }

    // a traced run makes an untraced, a traced and an untraced pass, so
    // JIT warm-up still in progress biases neither side of the
    // tracing-overhead difference
    val (passes, tracedResult) =
      if (!traced) (timed(seconds, MinPasses), None)
      else {
        val u1 = pass(); val t = tracedPass(); val u2 = pass()
        (Seq(u1, u2), Some(t))
      }
    tracer.close(run)

    val result = Map(
      "cpus" -> cpus,
      "min_passes" -> MinPasses,
      "session_s" -> sessionS,
      "cold_pass_s" -> coldS,
      "cold" -> cold,
      "passes" -> passes.map { case (w, t) => Map("wall" -> w, "ops" -> t) },
      "traced_pass" -> tracedResult.map { case (w, t) => Map("wall" -> w, "ops" -> t) },
      "attempts" -> attempts.toMap,
      "threw" -> threw.toMap,
      "errors" -> errors.toMap,
      "oracle" -> oracle.keys.toSeq.sorted,
      "peak_rss_mb" -> peakRssMb())
    if (traced) write(s"$out/trace.json", tracer.all.map(s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs.toMap)))
    spark.stop()
    write(s"$out/result.json", result)
  }
}
