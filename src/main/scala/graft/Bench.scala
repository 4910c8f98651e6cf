package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

object Bench {
  /** Bench-only rows (no oracle; never part of the Verify contract).
    * Object-scoped so PlanGuardSpec can pin the stress rows' physical
    * plans (VERDICT r10 item 7).
    *
    * bench_dedup_fuzzy_10x: q_dedup_fuzzy on a synthetic 10-copy union
    * of documents (~50k docs at sf0.1) so the dedup family has one
    * measurement that is data- rather than plan-overhead-bound — a
    * silent quadratic regression in the LSH pair join or the CC
    * contraction shows up here first (VERDICT r5 stretch item).
    * bench_kendall_dist_full: the unbounded-exact grid-decomposition
    * kendall over the ENTIRE events table (~1M rows at sf0.1) — scale
    * evidence for the no-collect path; the oracle-gated q_kendall_dist
    * runs on a two-user slice where the O(n²) SQL oracle is feasible. */
  val benchOnly: Map[String, (SparkSession, String) => DataFrame] =
    Map("bench_kendall_dist_full" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      val ev = Query.T(s, d, "events")
        .withColumn("tsu", unix_micros(col("ts")))
      graft.engine.Corr.kendallGrid(ev, Seq("value", "tsu")).select("kendall")
    },
    "bench_dedup_fuzzy_10x" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      // 10 exact copies with distinct ids: every true cluster gains 10
      // members, so pair volume and cluster diameter both scale, while
      // the id arithmetic keeps the synthesis deterministic.
      val big = graft.tools.MakeSf1.tenfold(docs, Seq("doc_id"))
      graft.pipeline.Dedup.fuzzy(big, "doc_id", "text",
        k = 3, bands = 4, rowsPerBand = 2)
    },
    // the SAME 10x corpus through the storage-stage protocol (VERDICT
    // r13 item 5): cluster contraction truncates through RELIABLE
    // checkpoint files instead of localCheckpoint block-manager blocks,
    // so this row's spread vs bench_dedup_fuzzy_10x measures the
    // shared-batch block-contention tax the knob removes (sf10:
    // 27-63 s swing shared vs 8.8-29.8 s isolated, BASELINE.md)
    "bench_dedup_fuzzy_ckpt" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val big = graft.tools.MakeSf1.tenfold(docs, Seq("doc_id"))
      graft.pipeline.Dedup.fuzzy(big, "doc_id", "text",
        k = 3, bands = 4, rowsPerBand = 2,
        checkpointDir = Some("target/ckpt"))
    },
    // q_dedup_fuzzy's EXACT shape (no tenfold) with the reliable-
    // checkpoint knob, so the storage-stage protocol can be A/B'd at
    // whatever --sf the batch runs (the r13 variance finding was
    // q_dedup_fuzzy at sf10 in a SHARED batch: 27-63 s swing vs
    // 8.8-29.8 isolated; this row is the knob-on twin at that volume)
    "bench_fuzzy_ckpt_1x" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      graft.pipeline.Dedup.fuzzy(
          s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
          k = 3, bands = 4, rowsPerBand = 2,
          checkpointDir = Some("target/ckpt"))
        .select(col("doc_id"), col("cluster_rep"),
          col("keep").cast("int").as("keep"))
        .orderBy("doc_id")
    },
    // 10x corpus through the IVF-PQ cell-keyed equi-join: 20k vectors
    // x 64d against 64 queries with 8 coarse cells / nprobe 2 —
    // candidate volume and code-table size both scale 10x while the
    // plan stays broadcast-free; evidence for the FAISS-layout claim.
    "bench_ivfpq_10x" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val big = graft.tools.MakeSf1.tenfold(emb, Seq("vec_id"))
      val (cells, books) = Queries9.ivfPqTables(emb)
      graft.pipeline.Similarity.ivfPqTopK(
        big.filter(col("vec_id") < 64), big, cells, books,
        k = 5, nprobe = 2)
    },
    // qcut's 100-TB path: percentile_approx probe (bounded per-partial
    // buffer) instead of the exact value-buffering percentile — the
    // oracle-gated q_cut_qcut keeps the exact probe; this row keeps
    // the approx path's cost visible next to it.
    "bench_qcut_approx" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      val li = s.read.parquet(s"$d/lineitem.parquet")
      graft.engine.Reshape.qcut(li, "l_extendedprice", 4, out = "qc",
          exact = false)
        .select(col("l_orderkey"), col("l_linenumber"), col("qc"))
    },
    // 10x stress for the corr-matrix family (VERDICT r9 item 7): the
    // full pearson+spearman matrix over a 10-copy lineitem union —
    // the midrank bucketing and the single corr aggregate both see
    // 10x rows; a regression in either plan shows here first.
    "bench_corr_matrix_10x" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
      val big = graft.tools.MakeSf1.tenfold(li, Seq.empty)
      graft.engine.Corr.corrMatrixAll(big,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    },
    // 10x stress for the de-skewed grouped spearman (the r9 rework:
    // (key, value-bucket) midrank windows instead of a 3-value
    // Window.partitionBy key) — a regression back to the serialized
    // low-NDV window shows up here as a super-linear jump.
    "bench_spearman_10x" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
      val big = graft.tools.MakeSf1.tenfold(li, Seq.empty)
      graft.engine.Corr.corrMatrixBy(big, "l_returnflag",
        Seq("l_quantity", "l_extendedprice", "l_discount"), "spearman")
    },
    // 10x stress for substring-span dedup: the Rabin-Karp window-hash
    // explode + hash agg + semi-join over a 10-copy documents union —
    // explode volume and dup-group sizes both scale 10x.
    "bench_substring_10x" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      val big = graft.tools.MakeSf1.tenfold(docs, Seq("doc_id"))
      graft.pipeline.Dedup.substringSpans(big, "doc_id", "text",
        win = 30)
    })

  /** The hot-ten batch rows for the sf1 order-of-magnitude gate
    * (VERDICT r10 item 6): one representative per heavy subsystem —
    * corr machinery (grouped spearman + full matrix), distributed rank,
    * global prefix sum, window family, LSH dedup, n-gram similarity,
    * text analysis, PQ ANN, iterative graph. Streaming rows are
    * excluded (checkpoint-harness-dominated, not data-bound). Run with
    * `--sf sf1 --only hot10`. */
  val hot10: Seq[String] = Seq(
    "q_groupby_corr_spearman", "q_corr_matrix_full", "q_rank",
    "q_cumsum_global", "q_rolling_stats", "q_dedup_fuzzy",
    "q_ngram_jaccard", "q_top_ngrams", "q_pq_topk", "q_pagerank")

  /** The ~30-row sf1 slice (VERDICT r11 item 3): hot10 plus one row per
    * previously-unmeasured family — joins (merge/asof/range), reshape
    * (pivot/melt/unstack), str/dt, qcut, groupby transform+apply,
    * value_counts, minhash dedup + the round-12 star mode, tfidf/dsir,
    * pack, snapshot diff, heavy hitters, ewm. Every family now has
    * order-of-magnitude scale evidence. Run with `--sf sf1 --only
    * hot30`. */
  val hot30: Seq[String] = hot10 ++ Seq(
    "q_merge", "q_asof_join", "q_range_join",
    "q_pivot", "q_melt", "q_unstack",
    "q_str_ops", "q_dt_ops", "q_cut_qcut",
    "q_groupby_transform", "q_groupby_apply", "q_value_counts",
    "q_dedup_minhash", "q_ngram_star_clusters",
    "q_tfidf", "q_dsir", "q_pack", "q_snapshot_diff",
    "q_heavy_hitters", "q_ewm")

  /** The 5 hottest sf1 rows, re-run at sf10 (VERDICT r12 item 2) for a
    * SECOND decade of scale evidence — two points make a trend line.
    * Run with `--sf sf10 --only hot5sf10` (~1.6 GB of parquet on disk,
    * several× that decoded; generated on first use). */
  val hot5sf10: Seq[String] = Seq(
    "q_corr_matrix_full", "q_groupby_corr_spearman", "q_pagerank",
    "q_pq_topk", "q_ngram_star_clusters")

  /** `--sf` resolution: an existing directory path is used as-is; a
    * bare name is looked up under /root/testdata first; `sf1` (absent
    * from the driver testdata) is GENERATED on first use into
    * target/sf1 by [[graft.tools.MakeSf1]] — a deterministic 10×
    * explode of sf0.1 with remapped row ids; `sf10` is a further 10×
    * of sf1 (ids compose as id*100 + copy, still join-consistent). */
  private def resolveSf(spark: SparkSession, v: String): String = {
    val f = new java.io.File(v)
    if (f.isDirectory) v
    else {
      val td = new java.io.File(s"/root/testdata/$v")
      if (td.isDirectory) td.getPath
      else if (v == "sf1")
        graft.tools.MakeSf1.ensure(spark, "/root/testdata/sf0.1",
          "target/sf1")
      else if (v == "sf10")
        graft.tools.MakeSf1.ensure(spark,
          graft.tools.MakeSf1.ensure(spark, "/root/testdata/sf0.1",
            "target/sf1"),
          "target/sf10")
      else sys.error(s"--sf $v: no such directory or testdata scale")
    }
  }

  def main(args: Array[String]): Unit = {
    // ---- CLI args (override env): --sf <dir|name>, --only a,b|hot10
    var sfOpt: Option[String] = None
    var onlyOpt: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case f @ ("--sf" | "--only") =>
          if (i + 1 >= args.length)
            sys.error(s"Bench: $f needs a value " +
              "(supported: --sf <dir|sfN>, --only <q1,q2|hot10>)")
          if (f == "--sf") sfOpt = Some(args(i + 1))
          else onlyOpt = Some(args(i + 1))
          i += 2
        case other => sys.error(s"Bench: unknown arg $other " +
          "(supported: --sf <dir|sfN>, --only <q1,q2|hot10>)")
      }
    }
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val sfDir = sfOpt.map(resolveSf(spark, _))
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    // Warm up JIT/codegen/shuffle machinery so the first timed query is
    // not charged for session startup (~4s otherwise).
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    // Optional comma-separated filter for targeted local iteration
    // (driver leaves it unset -> full set). "hot10" = the sf1 gate set.
    val only = onlyOpt.orElse(sys.env.get("SPARK_GRAFT_ONLY"))
      .map(v => if (v == "hot10") hot10.toSet
        else if (v == "hot30") hot30.toSet
        else if (v == "hot5sf10") hot5sf10.toSet
        else v.split(",").map(_.trim).toSet)
    val rt = Runtime.getRuntime
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // ---- measurement harness (reworked r11, VERDICT r10 item 1).
    // Round-8..10 recorded a 125-188 s same-tree total drift band:
    // ambient JVM/OS state inflates whole stretches of a run, and with
    // 3 CONSECUTIVE reps per query the median inherits the stretch's
    // bias (q_top_ngrams' reps climbed monotonically 1.6→3.1→5.5 s
    // inside one round-10 run). Three changes:
    //   1. INTERLEAVED reps — cycle round-robin over the whole query
    //      list instead of 3-in-a-row, so a slow ambient stretch taxes
    //      every query a little rather than one query fully;
    //   2. stress rows (bench_*) get 5 reps (their 10x inputs swing
    //      2.4x between same-tree runs — more samples, stabler median);
    //   3. a fixed CALIBRATION row opens every cycle; each rep is also
    //      reported normalized by its cycle's calibration drift factor
    //      (calib_cycle / median(calib)), which cancels run-wide
    //      ambient shift from the per-query medians. Raw medians stay
    //      the primary "queries" record (driver contract unchanged);
    //      "queries_calibrated" + "calibration" ride alongside.
    val baseReps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3)
    val stressReps = sys.env.get("SPARK_GRAFT_STRESS_REPS").map(_.toInt)
      .getOrElse(math.max(baseReps, 5))
    def repsFor(name: String): Int =
      if (name.startsWith("bench_")) stressReps else baseReps
    val selected = (SparkEntry.queries ++ benchOnly).toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    require(selected.nonEmpty, "Bench: --only matched no queries")
    val maxReps = selected.map { case (n, _) => repsFor(n) }.max
    // THREE calibration probes of different shape (VERDICT r13 item 8):
    // the original shuffle+agg, a pure-shuffle distinct, and a
    // partitioned window — round 13's two closing runs disagreed 1.745x
    // on the calibration unit because the lone agg probe JIT-swung >4x
    // within both runs, forcing the A/B back to raw. A per-shape median
    // with the cross-run ambient taken as the MEDIAN OF PER-SHAPE
    // RATIOS (bench_ab.py) survives any single shape swinging. The agg
    // probe stays probe 0 and is emitted as "calibration" unchanged, so
    // records remain comparable against pre-r14 BENCH files.
    def calibrate(): Seq[Double] = {
      import org.apache.spark.sql.functions._
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      Seq(
        timed(spark.read.parquet(s"$sfDir/lineitem.parquet")
          .groupBy("l_suppkey").agg(sum("l_extendedprice")).count()),
        timed(spark.read.parquet(s"$sfDir/orders.parquet")
          .select("o_custkey").distinct().count()),
        timed {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("ts")
          spark.read.parquet(s"$sfDir/events.parquet")
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= 3).count()
        })
    }
    val calProbeNames = Seq("agg", "shuffle", "window")
    val times = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[Double]]()
    selected.foreach { case (n, _) =>
      times(n) = scala.collection.mutable.ArrayBuffer.empty[Double] }
    val calib = scala.collection.mutable.ArrayBuffer.empty[Double]
    val calProbes = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    for (cycle <- 1 to maxReps) {
      val probes = calibrate()
      calProbes += probes
      calib += probes.head // the legacy agg probe keeps its record slot
      spark.catalog.clearCache(); System.gc()
      selected.foreach { case (name, fn) =>
        if (cycle <= repsFor(name) && !errors.contains(name)) {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count() } catch {
            case NonFatal(e) =>
              errors(name) = e.toString.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(300)
              System.err.println(s"[bench] FAILED $name (cycle $cycle)")
              e.printStackTrace()
          }
          val dt = (System.nanoTime() - t0) / 1e9
          // between queries: drop cached plans + one GC pass so a query
          // never reads the previous query's cache/broadcast state
          spark.catalog.clearCache(); System.gc()
          if (!errors.contains(name)) times(name) += dt
        }
      }
      // end of cycle: two GC passes so the ContextCleaner reaps
      // broadcast/shuffle blocks, and the post-GC heap line keeps any
      // remaining inflation diagnosable from the driver's record alone
      System.gc(); System.gc()
      Thread.sleep(50)
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      System.err.println(f"[bench] cycle $cycle/$maxReps done  " +
        f"calib=${calib.last}%.3fs  postGcHeap=${heapMb}MB")
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    // per-cycle ambient drift factor: each probe shape normalized by its
    // own cross-cycle median, then the MEDIAN across shapes — one shape
    // JIT-swinging (the r13 failure mode) moves its own ratio but not
    // the cycle's factor
    val probeMed = calProbeNames.indices.map(p =>
      median(calProbes.map(_(p)).toSeq))
    val drift = calProbes.map(ps =>
      median(calProbeNames.indices.map(p => ps(p) / probeMed(p)))).toSeq
    val runs = selected.map { case (name, _) =>
      val ts = times(name).toSeq
      // a failed query reports -1, never its partial wall time: a broken
      // query must not masquerade as a fast bench row
      val med =
        if (errors.contains(name) || ts.isEmpty) -1.0
        else median(ts)
      // rep i ran in cycle i+1 (reps are contiguous from cycle 1 until
      // completion or first failure) -> normalize by that cycle's drift
      val calTs = ts.zipWithIndex.map { case (t, i) => t / drift(i) }
      val medCal =
        if (errors.contains(name) || ts.isEmpty) -1.0
        else median(calTs)
      System.err.println(f"[bench] $name%-28s med=${med}%8.3fs  " +
        f"medCal=${medCal}%8.3fs  " +
        s"runs=${ts.map(t => f"$t%.3f").mkString(",")}")
      (name, med, medCal, ts)
    }
    val results = runs.map { case (name, med, _, _) => name -> med }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsCal = runs.map { case (k, _, mc, _) => s"\"" + k + "\":" + mc }
      .mkString("{", ",", "}")
    val runsJson = runs.map { case (k, _, _, ts) =>
      s"\"" + k + "\":[" + ts.mkString(",") + "]" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalCal = runs.map(_._3).filter(_ >= 0).sum
    // nerrors/rc ride the TOP level of the persisted record so a
    // timing consumer can't compare an errored run's total against a
    // clean one without seeing the flag (ADVICE r7)
    val rc = if (errors.nonEmpty) 1 else 0
    // JSON numbers format under Locale.ROOT: the f interpolator uses
    // the JVM default locale, which writes "1,234" under de_DE
    def num(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    val calJson = calib.map(num(_, 4)).mkString("[", ",", "]")
    val calProbesJson = calProbeNames.zipWithIndex.map { case (n, p) =>
      "\"" + n + "\":" + calProbes.map(ps => num(ps(p), 4))
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","nqueries":${results.size},"nerrors":${errors.size},"rc":$rc,"reps":$baseReps,"stress_reps":$stressReps,"aggregation":"median","interleaved":true,"total_calibrated":$totalCal,"calibration":$calJson,"calibration_probes":$calProbesJson,"queries":$qs,"queries_calibrated":$qsCal,"runs":$runsJson,"errors":$errJson,"sf":"$sfDir"}"""
    // The per-query map is ~100 entries and outgrew the driver's tail
    // capture in round 4 (BENCH_r04.json: parsed null). Emit the full
    // record first (and persist it to BENCH.json for the repo), then the
    // SHORT machine-parseable summary as the LAST line so any tail-based
    // capture always sees a complete JSON object.
    println(full)
    try {
      // a filtered or non-default-scale run records to a side file,
      // never over the round's full BENCH.json — keyed on the RESOLVED
      // sf dir, so an env-pointed SPARK_GRAFT_SF_DIR=<other scale> run
      // can't clobber the canonical record either (the driver's own
      // sf0.1 env setting still writes it)
      val out = if (only.isEmpty &&
          sfDir.stripSuffix("/") == "/root/testdata/sf0.1")
        "BENCH.json" else "BENCH_partial.json"
      val w = new java.io.PrintWriter(out)
      try w.println(full) finally w.close()
    } catch { case NonFatal(_) => () }
    // One COMPACT line per query (VERDICT r14 item 2): the driver's
    // tail capture truncates the giant single-line record above
    // mid-map, which left PERF.per_query and the scaling block empty
    // two rounds running. Short independent lines parse one by one
    // even when the capture window cuts into the stream. Additions
    // only — the full record above and the total line below are
    // byte-identical to previous rounds' emission.
    runs.foreach { case (name, med, _, ts) =>
      println(s"""{"q":"$name","med":${num(med, 3)},"reps":[${ts.map(num(_, 3)).mkString(",")}]}""")
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","nqueries":${results.size},"nerrors":${errors.size},"sf":"$sfDir"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
