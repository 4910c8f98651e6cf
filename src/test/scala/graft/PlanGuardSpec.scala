package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec

/** Scale-killer guard: walks the physical plan of EVERY registered query
  * and fails if a partition-less WindowExec (all rows to one task) shows
  * up outside the documented-bounded allowlist. A global window is only
  * acceptable over an intermediate whose size is bounded by construction
  * (stats tables, centroid lists, recall gates) — never over a frame
  * that grows with the corpus. This turns the per-round plan audit into
  * a regression test: adding a query with an unbounded global window
  * breaks the build, not the 100 TB run. */
class PlanGuardSpec extends SparkSpec {

  /** Queries where a global WindowExec is bounded by construction; the
    * bound is the justification. Everything else (describe shapes, mode
    * ties, recall gates, …) already avoids WindowExec entirely. */
  private val BoundedGlobalWindow: Map[String, String] = Map(
    "q_cumsum_global" -> "window runs over the per-bucket partials AGGREGATE of globalCumsumBucketed — exactly `buckets` (~defaultParallelism) rows",
    "q_pack" -> "same bounded partials window via packGreedy's globalCumsumBucketed prefix sum")

  private def globalWindows(p: SparkPlan): Seq[WindowExec] = {
    val self = p match {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
      case _ => Seq.empty
    }
    val kids = p.children ++ (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case _ => Seq.empty
    }) ++ p.subqueries
    self ++ kids.flatMap(globalWindows)
  }

  test("no query plan has an undocumented partition-less WindowExec") {
    val sfDir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        if (globalWindows(plan).nonEmpty && !BoundedGlobalWindow.contains(name))
          Some(name)
        else None
    }
    assert(offenders.isEmpty,
      s"queries with undocumented global windows: ${offenders.mkString(", ")} — " +
        "either repartition the plan or add a justified allowlist entry")
  }

  // ---- low-NDV window-key skew guard (VERDICT r8 "What's wrong #2"):
  // a Window partitioned SOLELY by a low-cardinality key (e.g.
  // l_returnflag, NDV=3) sends ~n/3 of a corpus-sized input through ONE
  // sort task — invisible to the partition-LESS guard above. Statically
  // undetectable (NDV is a data property), so this test EXECUTES each
  // window's child at sf0.001 and fails when a corpus-sized input
  // (>= 900 rows here; tables are 1000-6000) has a partition holding
  // > 20% of its rows. Bounded intermediates (group×bucket offsets,
  // stats tables) stay under the row floor by construction; the
  // events-by-user windows sit at ~1/15 share. Duplicate window shapes
  // across queries are deduped on the canonicalized (child, keys).

  /** Windows whose partition-key cardinality is CHOSEN to equal cluster
    * parallelism (not a data property): per-partition share is ~1/p by
    * construction, which reads as "skewed" only because test
    * parallelism is tiny. */
  private val ScalesWithParallelism: Map[String, String] = Map(
    "q_cumsum_global" -> ("globalCumsumBucketed partitions by __bkt " +
      "whose count = defaultParallelism — share is 1/p at any scale"),
    "q_pack" -> "same bucketed prefix-sum machinery via packGreedy")

  test("no corpus-sized window is partitioned by a low-NDV (skewed) key") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.GraftSqlShim
    val sfDir = "/root/testdata/sf0.001"
    val seen = scala.collection.mutable.HashMap
      .empty[(Seq[String], String), Option[String]]
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => ScalesWithParallelism.contains(name) }
      .flatMap { case (name, fn) =>
        val lp = fn(spark, sfDir).queryExecution.optimizedPlan
        val wins = lp.collect {
          case w: LWindow if w.partitionSpec.nonEmpty => w }
        wins.flatMap { w =>
          val key = (w.partitionSpec.map(_.canonicalized.toString),
            w.child.canonicalized.toString)
          seen.getOrElseUpdate(key, {
            val child = GraftSqlShim.ofRows(spark, w.child)
            val keys = w.partitionSpec.map(GraftSqlShim.column)
            val parts = child.groupBy(keys: _*)
              .count().select(org.apache.spark.sql.functions.sum("count"),
                org.apache.spark.sql.functions.max("count")).head()
            val rows = if (parts.isNullAt(0)) 0L else parts.getLong(0)
            val biggest = if (parts.isNullAt(1)) 0L else parts.getLong(1)
            if (rows >= 900 && biggest.toDouble / rows > 0.2)
              Some(s"$name: window by ${w.partitionSpec.map(_.sql).mkString(",")} " +
                s"over $rows rows, biggest partition $biggest " +
                f"(${biggest.toDouble / rows * 100}%.0f%%)")
            else None
          }).map(msg => s"$name -> $msg")
        }
    }
    assert(offenders.isEmpty,
      s"skewed low-NDV window keys (one task takes >20% of a corpus-" +
        s"sized input):\n  ${offenders.distinct.mkString("\n  ")}")
  }

  // ---- type-drift guard (VERDICT r7): the driver-generated events.ts
  // has shipped as parquet TIMESTAMP(NANOS) (read as raw long under
  // nanosAsLong) in rounds 1-6 and as plain timestamp[us] (read as
  // TIMESTAMP_NTZ) since round 7. A regeneration flipping the form must
  // fail HERE, in sbt test, not at the driver's verify gate. Every
  // query plan is analyzed against a fixture dir whose events.ts is
  // rewritten to each physical form in turn.

  /** Fixture dir = sf0.001 tables (file-copied) + events rewritten with
    * `ts` in the requested physical form. */
  private def fixtureDir(form: String): String = {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory(s"planguard_$form")
    val src = "/root/testdata/sf0.001"
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings"))
      Files.copy(Paths.get(s"$src/$t.parquet"),
        base.resolve(s"$t.parquet"))
    import org.apache.spark.sql.functions._
    val ev = graft.engine.Core.normalizeTs(
      spark.read.parquet(s"$src/events.parquet"))
    val ev2 = form match {
      case "ntz" => ev.withColumn("ts", col("ts").cast("timestamp_ntz"))
      case "nanos" =>
        ev.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case other => fail(s"unknown fixture form $other")
    }
    ev2.coalesce(1).write.parquet(base.resolve("events.parquet").toString)
    base.toString
  }

  for (form <- Seq("ntz", "nanos"))
    test(s"every query plan analyzes against events.ts as $form") {
      val dir = fixtureDir(form)
      val broken = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          try { fn(spark, dir).queryExecution.executedPlan; None }
          catch { case e: Throwable =>
            Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage.take(120)}")
          }
      }
      assert(broken.isEmpty,
        s"plans broken under $form events.ts:\n  ${broken.mkString("\n  ")}")
    }

  test("ivfPqTopK scores via an equi-join — never a cartesian/nested-loop") {
    // the IVF-PQ scale claim is that candidates come from a cell-keyed
    // equi-join (corpus * nprobe / nlist), unlike pqTopK's documented
    // broadcast cross join baseline; a regression to a cross product
    // must fail here, not at 100 TB
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val plan = SparkEntry.queries("q_ivfpq_topk")(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p.children ++ (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
        case _ => Seq.empty
      }) ++ p.subqueries
      p +: kids.flatMap(walk)
    }
    val bad = walk(plan).filter {
      case _: CartesianProductExec => true
      case _: BroadcastNestedLoopJoinExec => true
      case _ => false
    }
    assert(bad.isEmpty,
      s"ivf-pq plan contains non-equi joins: ${bad.map(_.nodeName).mkString(", ")}")
  }

  test("claimed zero-shuffle operators have NO Exchange in their plans") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p.children ++ (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
        case _ => Seq.empty
      }) ++ p.subqueries
      p +: kids.flatMap(walk)
    }
    // each of these documents "zero shuffle / scan speed" in its
    // scaladoc or SCALE.md — a regression adding an Exchange fails here
    val zeroShuffle = Seq(
      "semanticDecontaminate" -> graft.pipeline.Similarity
        .semanticDecontaminate(emb.filter(col("vec_id") >= 16),
          emb.filter(col("vec_id") < 16), 0.4),
      "bpeApply" -> graft.pipeline.TextAnalysis.bpeApply(docs, "doc_id",
        "text", Seq(("e", "r"), ("e", " "))),
      "pii+clean" -> docs.select(
        graft.pipeline.Curation.redact(col("text")),
        graft.pipeline.Curation.cleanText(col("text"))),
      "pqEncode" -> {
        val src = emb.filter(col("vec_id") < 16).orderBy("vec_id")
          .select(col("embedding").cast("array<double>")).collect()
          .map(_.getSeq[Double](0).toArray)
        val books = Array.tabulate(4)(s => src.map(_.slice(s * 16, s * 16 + 16)))
        graft.pipeline.Similarity.pqEncode(emb, "vec_id", "embedding", books)
      },
      "melt" -> graft.engine.Reshape.melt(
        spark.read.parquet(s"$sf/lineitem.parquet"),
        Seq("l_orderkey"), Seq("l_quantity", "l_discount")),
      "explodeCol+concat" -> graft.engine.Frame.concatOuter(Seq(
        docs.select("doc_id", "lang"), docs.select("doc_id", "source"))),
      "rowCumsum" -> {
        val li = spark.read.parquet(s"$sf/lineitem.parquet")
        li.select(graft.engine.Frame.rowCumsum(
          Seq(col("l_quantity"), col("l_discount")), Seq("q", "d")): _*)
      },
      "chunkSliding" -> graft.pipeline.Curation.chunkSliding(
        docs.select(col("doc_id"),
          split(lower(trim(col("text"))), "\\s+").as("toks")),
        "doc_id", "toks", chunkLen = 32, stride = 24, minTail = 8),
      "quantize+dequantize" -> graft.pipeline.Similarity.dequantizeInt8(
        graft.pipeline.Similarity.quantizeInt8(emb)),
      "repetitionMetrics" -> graft.pipeline.Curation.repetitionMetrics(
        docs, "doc_id", "text"),
      "gopherFilter" -> graft.pipeline.Curation.gopherFilter(
        docs, "doc_id", "text"))
    zeroShuffle.foreach { case (name, df) =>
      val shuffles = walk(df.queryExecution.executedPlan).collect {
        case s: ShuffleExchangeLike => s
      }
      assert(shuffles.isEmpty,
        s"$name claims zero-shuffle but plans ${shuffles.size} Exchange(s)")
    }
  }

  // ---- PLANS.md pins for the two most expensive non-streaming rows
  // (VERDICT r9 item 8) ----

  private def walkPlan(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p.children ++ (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case _ => Seq.empty
    }) ++ p.subqueries
    p +: kids.flatMap(walkPlan)
  }

  test("q_cut_qcut: bucketing is codegen-only — ONE exchange total " +
    "(the presentation range sort), no window, no join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = SparkEntry.queries("q_cut_qcut")(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan
    val nodes = walkPlan(plan)
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.size == 1,
      s"qcut planned ${shuffles.size} exchanges (want the single " +
        s"presentation sort): ${shuffles.map(_.nodeName).mkString(", ")}")
    assert(shuffles.head.outputPartitioning.toString.contains("range"),
      s"qcut's only exchange should be the range sort, got " +
        shuffles.head.outputPartitioning)
    assert(!nodes.exists(_.nodeName.contains("Window")) &&
      !nodes.exists(_.nodeName.contains("Join")),
      "qcut bucketing must stay a pure when-chain projection")
  }

  test("q_quality_gate, q_rep_metrics: the Gopher metrics are one " +
    "projection — no join, no explode, only the presentation range sort") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    for (name <- Seq("q_quality_gate", "q_rep_metrics")) {
      val nodes = walkPlan(SparkEntry.queries(name)(spark,
        "/root/testdata/sf0.001").queryExecution.executedPlan)
      val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.size == 1 &&
        shuffles.head.outputPartitioning.toString.contains("range"),
        s"$name: ${shuffles.map(_.outputPartitioning).mkString(", ")}")
      assert(!nodes.exists {
        case _: BaseJoinExec | _: GenerateExec => true
        case _ => false
      }, s"$name: the bigram metric left the scan projection")
      assert(nodes.exists(_.toString.contains("graft_top_bigram_frac")), name)
    }
  }

  test("q_dedup_fuzzy: the cluster table is a driver table joined to the " +
    "corpus, not a doc explode/distinct plan") {
    import org.apache.spark.sql.execution.{GenerateExec, LocalTableScanExec}
    val nodes = walkPlan(SparkEntry.queries("q_dedup_fuzzy")(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[LocalTableScanExec]))
    assert(!nodes.exists(_.isInstanceOf[GenerateExec]))
  }

  test("q_corr_matrix_full: corpus is NEVER shuffled — rank stats ride " +
    "broadcasts, the only exchange is the one-row-per-partial " +
    "SinglePartition aggregate merge") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val plan = SparkEntry.queries("q_corr_matrix_full")(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan
    val nodes = walkPlan(plan)
    val dataShuffles = nodes.collect { case s: ShuffleExchangeLike => s }
      .filterNot(_.outputPartitioning.toString.contains("SinglePartition"))
      // the presentation sort of the 6-row result is allowed
      .filterNot(_.outputPartitioning.toString.contains("range"))
    assert(dataShuffles.isEmpty,
      s"corr matrix shuffled the corpus: " +
        dataShuffles.map(_.outputPartitioning.toString).mkString(", "))
    assert(!nodes.exists {
      case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => true
      case _ => false
    }, "corr matrix must not plan non-equi joins")
  }

  // ---- stress-row shape guards (VERDICT r10 item 7): the 10x bench
  // rows encode the r9/r10 de-skew work but had no plan assertion —
  // a regression back to a serialized window would only show as a
  // super-linear timing jump, rounds later. Pin the shape here, on THE
  // benchmarked definitions (Bench.benchOnly), at sf0.001.

  test("corr stress rows: no partition-less window anywhere; grouped-" +
    "spearman midranks partition by (key, value-bucket), never the " +
    "low-NDV key alone") {
    val sfDir = "/root/testdata/sf0.001"
    for (name <- Seq("bench_spearman_10x", "bench_corr_matrix_10x")) {
      val plan = Bench.benchOnly(name)(spark, sfDir)
        .queryExecution.executedPlan
      assert(globalWindows(plan).isEmpty,
        s"$name: plan grew a partition-less WindowExec (all rows to " +
          "one task at 100 TB)")
    }
    // bench_spearman_10x = corrMatrixBy(spearman) on a 3-value key:
    // a CORPUS-sized midrank window (when one exists at all — r14's
    // grouped rank-stats path ranks low-NDV columns via a broadcast
    // counts join with NO frame window, which is why this guard no
    // longer requires a (key, bucket) window to be present) must carry
    // BOTH the group key and the value bucket — key-only partitioning
    // is exactly the n/3 single-task sort the r9 rework removed. The
    // legitimate key-only windows (the per-key running-OFFSET window,
    // and r14's rank-stats running offset) run over (NDV-bounded)
    // counts AGGREGATES, so their child subtree must contain an
    // aggregate.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val sp = Bench.benchOnly("bench_spearman_10x")(spark, sfDir)
      .queryExecution.executedPlan
    val wins = walkPlan(sp).collect { case w: WindowExec => w }
    wins.filter(_.partitionSpec.size < 2).foreach { w =>
      assert(walkPlan(w.child).exists(_.isInstanceOf[BaseAggregateExec]),
        s"window partitioned by " +
          s"${w.partitionSpec.map(_.sql).mkString(", ")} ONLY runs " +
          "over NON-aggregated (corpus-sized) input — the de-skewed " +
          "shape is (key, value-bucket), or no frame window at all " +
          "(grouped rank-stats broadcast join)")
    }
  }

  test("snapshotDiff: shuffles carry only (id, digest) — document " +
    "bodies never move through the full-outer join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.pipeline.Curation.snapshotDiff(docs, docs, "doc_id",
      Seq("text", "lang", "source")).queryExecution.executedPlan
    val shuffles = walkPlan(plan).collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty, "expected the id-keyed join shuffles")
    shuffles.foreach { s =>
      val out = s.output.map(_.name)
      assert(out.length <= 2 && !out.exists(_.matches("text|lang|source")),
        s"snapshotDiff shuffle widened to ${out.mkString(", ")} — the " +
          "map-side digest must reduce each side to (id, digest) BEFORE " +
          "the join")
    }
  }

  test("heavyHitters: ONE partial-state shuffle (map-side combine of " +
    "k-entry Misra-Gries summaries), never a per-distinct-key exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.engine.Reductions.heavyHitters(docs, "lang", k = 64)
      .queryExecution.executedPlan
    val nodes = walkPlan(plan)
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    // one single-partition exchange of aggregate PARTIALS plus the
    // trailing sort exchange over the <= k exploded output rows
    assert(shuffles.size <= 2,
      s"heavyHitters plans ${shuffles.size} exchanges — expected the " +
        "partials exchange (+ the k-row sort)")
    val aggs = nodes.filter(_.getClass.getSimpleName.contains("Aggregate"))
    assert(aggs.size >= 2,
      "heavyHitters lost its partial/final aggregate split — the " +
        "k-entry summary must combine map-side before the shuffle")
  }

  test("spanning-edge emitters: exactly the groupByKey shuffle + the " +
    "distinct — never a join, never an all-pairs materialization") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for ((name, df) <- Seq(
        "minhashLshEdges" ->
          graft.pipeline.Dedup.minhashLshEdges(docs, "doc_id", "text"),
        "ngramShingleEdges" ->
          graft.pipeline.Dedup.ngramShingleEdges(docs, "doc_id", "text"))) {
      val nodes = walkPlan(df.queryExecution.executedPlan)
      // Core.spread's RoundRobin fan-out of the compact doc scan is
      // input plumbing shared with every dedup path, not part of the
      // edge algorithm — exclude it from the count
      val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
        .filterNot(_.outputPartitioning.toString.contains("RoundRobin"))
      assert(shuffles.size == 2,
        s"$name plans ${shuffles.size} keyed exchanges — expected the " +
          "posting/bucket groupByKey shuffle plus the edge distinct")
      assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]),
        s"$name grew a join — edges must stream out of flatMapGroups")
    }
  }

  test("substringSpans: the WindowHashPairs explode is evaluated " +
    "exactly ONCE (count-over-hash window, not dup-agg + semi-join)") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.pipeline.Dedup.substringSpans(docs, "doc_id", "text",
      win = 30, stride = 4).queryExecution.executedPlan
    val nodes = walkPlan(plan)
    val gens = nodes.collect { case g: GenerateExec => g }
    assert(gens.size == 1,
      s"substringSpans plans ${gens.size} Generate nodes — the rolling-" +
        "hash explode (the dominant scan cost at 100 TB) must appear " +
        "exactly once; a second one means a branch re-evaluates it")
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]),
      "substringSpans grew a join — dup detection must stay the single " +
        "count-over-(h1,h2) window pass")
  }
}
