package graft.tools

import java.nio.file.{Files, Paths}

/** Physical-plan evidence, in two modes.
  *
  * `sbt "runMain graft.tools.PlanAudit [sfDir]"` regenerates PLANS.md:
  * the physical plan of each flagship query, as evidence for the shapes
  * claimed in SCALE.md. Run it after plan-affecting changes.
  *
  * `sbt "runMain graft.tools.PlanAudit <sfDir> <outDir> <suffix>
  * q1,q2,..."` writes `.explain("formatted")` of each named query into
  * `<outDir>/<query>_<suffix>.txt` — the before/after plan evidence the
  * optimization rounds commit under `plans/rNN/`. Bench-only rows
  * (graft.Bench.benchOnly) resolve too, and the session takes Bench's
  * core count (SPARK_GRAFT_CPUS, default 32), so the dumped plan is the
  * one the bench actually runs. */
object PlanAudit {
  val Flagship: Seq[(String, String)] = Seq(
    "q_groupby_agg" -> "partial+final hash aggregate on a pruned scan",
    "q_reductions" -> "single-pass global aggregate, ReadSchema pruned to referenced columns",
    "q_merge" -> "dimension join broadcasts the small side",
    "q_rolling_stats" -> "one shuffle on the group key, per-partition sort, frame evaluation",
    "q_cumsum_global" -> "two-pass prefix sum: range shuffle, NO single-partition window",
    "q_salted_agg" -> "two-phase salted aggregation (skew guard)",
    "q_ann_cosine" -> "pushed filter on vec_id; WindowGroupLimit prunes top-k ranking; native graft_dot/graft_l2norm in codegen",
    "q_dedup_minhash" -> "map-side signature kernel; single shuffle into flatMapGroups pair enumeration (no self-join)",
    "q_asof_join" -> "union + one shuffle on by-keys + window fill (no inequality join)",
    "q_range_join" -> "time-bucketed equi-join (inequality reduced to (key,bucket) hash join)",
    "q_topk_group" -> "WindowGroupLimit pushdown bounds per-group state",
    "q_fingerprint_roll" -> "native rolling-hash expression over the scan, zero shuffle",
    "q_rank" -> "distributed rank: broadcast LocalRelation stats join — no global sort, no frame-wide shuffle",
    "q_corr" -> "spearman prestep: broadcast per-value stats join, or (r15) the FIXED-bucket midrank window — per-bucket offsets come straight from the single probe pass (no in-plan offsets subtree, no quantile sketch); no partition-less window",
    "q_ann_lsh" -> "LSH candidates: bucket equi-join (sub-linear candidate set), WindowGroupLimit top-k",
    "q_decontam" -> "benchmark grams broadcast to the training side; one hash-aggregate by doc",
    "q_pii" -> "regex detect/redact entirely inside the scan projection, zero shuffle",
    "q_pack" -> "packing offsets: value-bucketed prefix sum, tiny partials broadcast, no global sort",
    "q_rank_methods" -> "de-skewed method='first': NO window partitioned by the value alone — row_number runs per (value, tiebreak-bucket), offsets broadcast",
    "q_corr_matrix" -> "matrix spearman: ONE batched probe (value histograms + fixed-bucket counts, r15), broadcast rank joins + probe-fed fixed-bucket midrank windows, single corr aggregate for all pairs",
    "q_tfidf" -> "BM25/TF-IDF: ONE tokenize (ReusedExchange on the (doc,term) aggregate feeds df/stats/scoring), vocab equi-join (never broadcast), doc-length + top-k share one doc-id window shuffle",
    "q_line_dedup" -> "corpus-wide line dedup: content-keyed map-side-combinable min aggregate, shuffle join-back (AQE skew-safe), per-doc bounded reassembly",
    "q_mixture" -> "temperature resampling: |strata|-row broadcast into a map-side filter — the corpus is never shuffled",
    "q_quality_gate" -> "composite quality gate: every metric (the top-bigram share too, native graft_top_bigram_frac over the token array) is one projection over the scan — no (doc,gram) explode, no join; the only exchange is the presentation sort",
    "q_rep_metrics" -> "repetition metrics: one projection over the scan (array_distinct + graft_top_bigram_frac), zero shuffle before the presentation sort",
    "q_dedup_incr" -> "incremental dedup: native bloom might_contain routes definitely-new digests around the exact anti-join (union of the two branches)",
    "q_semdedup" -> "SemDeDup: zero-shuffle literal-centroid assignment (no id join-back), ONE cluster-keyed shuffle feeds the in-cluster pair join, native codegen dot per pair",
    "q_pq_topk" -> "PQ/ADC: zero-shuffle native-kernel encode (graft_nearest_centroid, r15 — no slice/struct trees), queries broadcast WITH their precomputed ADC lookup tables (one graft_adc_table kernel) so scoring reads m cells per pair, WindowGroupLimit top-k",
    "q_resample" -> "resample: ONE map-side-combinable hash aggregate on the period label; calendar-spine gap fill is a broadcast join of bucket-sized frames",
    "q_corr_pairwise" -> "pairwise-complete corr, 2 jobs total: ONE rank-kernel probe over every per-pair masked column, then ONE main aggregate over broadcast rank-stats joins evaluates every pearson cell, pair count and spearman cell — no per-pair jobs",
    "q_dedup_minhash_incr" -> "incremental LSH: batch signatures map-side, ONE (band,key) equi-join against persisted state — state text never re-shingled",
    "q_nlargest" -> "nlargest/nsmallest: TakeOrderedAndProject (per-task top-n + driver merge), never a global sort",
    "q_bigram_lp" -> "bigram LM: sentinel rows carry unigrams, so uni/tot re-aggregate the vocab-sized bigram table (no extra corpus pass); big-count agg combines map-side (exchange moves distinct bigrams); ONE raw-pair shuffle total (the scoring join)",
    "q_dsir" -> "DSIR: raw corpus tokenized ONCE into the (doc,bucket) aggregate; raw unigram model re-aggregates that table (stage-reused exchange); buckets-row model broadcasts into the scoring join",
    "q_groupby_filter" -> "groupby.filter: groups-sized aggregate broadcast back as LEFT SEMI — the frame itself is never shuffled",
    "q_rolling_covcorr" -> "rolling/expanding cov+corr: ONE shuffle on the group key, both frames evaluated in the same WindowExec pass (builtin covar_samp/corr co-moments in codegen)",
    "q_ivfpq_topk" -> "IVF-PQ: native-kernel cell assignment + residual PQ codes map-side over the scan (graft_nearest_centroid, r15); candidates via ONE cell-keyed equi-join whose build side is PINNED to the (queries x nprobe) side carrying precomputed ADC tables (never a corpus broadcast, never a cartesian); WindowGroupLimit top-k",
    "q_pagerank" -> "PageRank iteration: persisted edge/outdeg invariants, node-sized rank frame broadcast into the edge join, ONE dst-keyed contrib aggregate per iteration",
    "q_edit_join" -> "edit-distance join: rare-gram prefix-filter equi-join (candidates ~ true pairs, never all-pairs), codegen levenshtein verify",
    "q_groupby_corr" -> "groupby.corr: ONE grouped aggregate carries every matrix cell — map-side-combinable co-moments, one group-key shuffle",
    "q_groupby_corr_spearman" -> "grouped spearman (r15): ONE grouped probe pass collects per-(key, column) exact value histograms + fixed-bucket counts + NaN counts; every rank attaches via a driver-built broadcast LocalRelation (stats join or per-(key,bucket) offsets + window) — ZERO per-column in-plan aggregate subtrees; one corr aggregate per key",
    "q_cut_qcut" -> "cut+qcut: bucketing is a pure codegen when-chain over the scan (edges are driver literals from the eager sort-based quantile probe) — the ONLY exchange is the final presentation sort",
    "q_corr_matrix_full" -> "full-scale corr matrix: spearman midranks via broadcast rank-stats joins + FIXED-bucket windows whose offsets ride the single probe pass (r15 — the main job scans the base once; no quantile sketch, no offsets subtree), then ONE aggregate evaluates every pearson+spearman cell; above the 64 MB plan-stats gate the midrank sort sizes itself from the probe's own row count (no count() job)",
    "q_chunk_sliding" -> "sliding-window chunking: sequence+explode+slice entirely inside the scan — the only exchange is the presentation sort",
    "q_heavy_hitters" -> "Misra-Gries heavy hitters: partial/final ObjectHashAggregate split (k-entry summaries combine map-side), one partials exchange + the k-row sort",
    "q_quantize_int8" -> "int8 quantization: pure codegen transform over the scan, zero shuffle before the presentation sort",
    "q_substring_dedup" -> "substring-span dedup: the rolling-hash explode appears ONCE (count-over-(h1,h2) window, no dup-agg/semi-join pair), then the per-doc span merge",
    "q_dedup_clusters_star" -> "spanning-edge (path-per-bucket) LSH emission: one bucket-keyed lag window, each pair at most once, output linear in posting volume, identical components; the driver union-find's table is the plan (LocalTableScan)",
    "q_dedup_fuzzy" -> "fuzzy dedup end to end: spanning-edge LSH edges checkpointed once, counted in one RDD job and, when they fit driverEdgeLimit, collected once into the driver union-find, whose table (LocalTableScan) joins the corpus — no doc explode/distinct",
    "q_pipeline_e2e" -> "9-stage pipeline composition — the builder persists the three survivor frames (consumer fan-out would otherwise re-evaluate upstream combinatorially); the four consumers of the BOUNDED token-budget stage re-root on its collected LocalRelation (r15 — re-analyzing the full chain per join branch cost a 5 s driver gap), the ~100-row result materializes eagerly and the caches are RELEASED; the returned plan is therefore the local result scan — the composed plan itself is documented in SCALE.md 'Pipeline composition'",
    "q_pipeline_funnel" -> "per-stage funnel over the e2e chain (r14: observe-harvested): every boundary carries a CollectMetrics node, multi-consumer frames persist, and ONE action on the final stage yields every count + the six gate-reason sums as byproducts — the in-plan form of 'counts come free from storage-write metrics'; the returned plan is the local report scan",
    "q_pipeline_semantic" -> "semantic-leg composition (SemDeDup -> semantic decontam -> int8 quantize -> dequantized top-3): zero-shuffle literal-centroid assignment + one cluster-keyed anti-join of the assigned frame with its earlier same-cluster matches (a hot cluster offers only its hub, from the one-job size probe), a map-side max-cos filter, no id join-back; one persisted store feeds the broadcast query cross join; the returned plan is the local result scan",
    "q_pipeline_semantic_ann" -> "the production ANN path composed (r14): the same semantic store feeds ivfPqTopK (literal cells/codebooks map-side, ONE cell-keyed equi-join, WindowGroupLimit top-k) with recall@5 measured against the exact L2 top-5 over that store; the returned plan is the local recall scan")

  def main(args: Array[String]): Unit = args match {
    case Array(sfDir, outDir, suffix, list) => dump(sfDir, outDir, suffix, list)
    case Array(sfDir) => plansMd(sfDir)
    case Array() => plansMd("/root/testdata/sf0.001")
    case _ => sys.error(
      "PlanAudit: [sfDir] | <sfDir> <outDir> <suffix> <q1,q2,...>")
  }

  private def plansMd(sfDir: String): Unit = {
    val spark = graft.Session.local(4)
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the flagship queries\n\n")
    sb.append("Generated by `graft.tools.PlanAudit` (sf=" + sfDir + "). Read\n")
    sb.append("together with SCALE.md: each plan is the evidence for the shape\n")
    sb.append("claimed there. Only the operator tree is shown (details elided).\n")
    Flagship.foreach { case (name, why) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val tree = df.queryExecution.executedPlan.toString()
        .linesIterator.takeWhile(_.trim.nonEmpty)
        .filterNot(_.contains("WholeStageCodegen")) // ids churn per run
        .map(_.replaceAll("#\\d+L?", "").replaceAll(", \\[plan_id=\\d+\\]", "")
          .replaceAll("0x[0-9A-F]{32,}", "0x<literal>")) // e.g. bloom bitsets
        .take(40).mkString("\n")
      sb.append(s"\n## $name — $why\n\n```\n$tree\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("[planaudit] wrote PLANS.md")
    spark.stop()
  }

  private def dump(sfDir: String, outDir: String, suffix: String,
                   list: String): Unit = {
    val spark = graft.Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    val all = graft.SparkEntry.queries ++ graft.Bench.benchOnly
    list.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = all(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[planaudit] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
