package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TopBigramFrac

/** Corpus-curation operators for a training-data pipeline: benchmark
  * decontamination, PII detection/redaction, deterministic hash splits,
  * repetition (boilerplate) metrics, greedy sequence packing, and
  * stratified deterministic sampling.
  *
  * These extend the reference surface (dubovikmaster/parallel-pandas has
  * no curation ops) with the operations a 100 TB LLM-data pipeline needs
  * around the dedup/similarity family in [[Dedup]]/[[Similarity]].
  * Design rules shared by all of them:
  *   - hash-determinism: every random-looking decision (split, sample)
  *     is a pure function of row content via md5, so re-runs, retries
  *     and the DuckDB oracle all agree bit-for-bit;
  *   - one shuffle max per op, keyed to spread (doc, gram) not doc;
  *   - no driver-side loops — the only collect is the ~`buckets`-row
  *     partials table inside the prefix-sum used by [[packGreedy]].
  */
object Curation {

  // ---------------------------------------------------------------
  // Benchmark decontamination
  // ---------------------------------------------------------------

  /** Flag training documents that share at least one word `k`-gram with
    * a benchmark/eval corpus (the standard "n-gram decontamination" of
    * LLM training sets; production uses k=8..13, tests use small k so
    * the tiny fixtures actually collide).
    *
    * Plan shape: the benchmark side is tiny relative to training (eval
    * suites are MBs, corpora are TBs) so its distinct gram set is
    * broadcast and applied MAP-SIDE to the streaming training grams —
    * almost everything dies before any shuffle. Only the surviving
    * contaminated (doc, gram) pairs are distinct-ed and counted, so the
    * one real shuffle carries contamination hits, not the corpus.
    *
    * The broadcast is SIZE-GUARDED with zero extra jobs: the decision
    * reads Catalyst's size estimate of the BENCH plan (file-scan bytes —
    * the same statistic Spark's own auto-broadcast threshold uses).
    * Above `maxBenchBytes` of source text the plan falls back to a
    * plain shuffle equi-join on the gram — a user pointing this at two
    * large corpora gets a slower plan, not a driver/executor OOM. The
    * default is conservative (256 MB of text explodes to a few GB of
    * k-grams, near the broadcast ceiling).
    *
    * Returns one row per training doc: (id, n_contaminated — distinct
    * contaminated grams, contaminated flag). */
  def decontaminate(train: DataFrame, bench: DataFrame,
                    id: String, text: String, k: Int = 3,
                    maxBenchBytes: Long = 256L << 20): DataFrame = {
    val benchGrams = bench
      .select(explode(Dedup.shingles(col(text), k)).as("__g"))
      .distinct()
    val benchBytes = bench.queryExecution.optimizedPlan.stats.sizeInBytes
    val gramSide =
      if (benchBytes <= maxBenchBytes) broadcast(benchGrams)
      else benchGrams
    val hits = train
      .select(col(id), explode(Dedup.shingles(col(text), k)).as("__g"))
      .join(gramSide, Seq("__g"))
      .distinct()
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_contaminated"))
    train.select(col(id))
      .join(hits, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)) > 0).as("contaminated"))
  }

  // ---------------------------------------------------------------
  // PII detection / redaction
  // ---------------------------------------------------------------

  /** Conservative ASCII regexes chosen to mean the SAME thing in Java
    * regex (Spark codegen) and RE2 (DuckDB): no backrefs, no lookahead,
    * no \b. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re  = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val PhoneRe = "\\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}"

  /** Per-row PII hit counts — pure codegen (regexp_count), zero
    * shuffle; runs at scan speed on 100 TB. */
  def piiCounts(text: Column): (Column, Column, Column) =
    (regexp_count(text, lit(EmailRe)),
     regexp_count(text, lit(Ipv4Re)),
     regexp_count(text, lit(PhoneRe)))

  /** Redact PII in place (email first so its digits can't be re-matched
    * as phones; ip before phone so dotted quads don't half-match). */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  // ---------------------------------------------------------------
  // Deterministic hash split / stratified sampling
  // ---------------------------------------------------------------

  /** Uniform-ish value in [0, 65536) that is a pure function of the id:
    * first 4 hex chars of md5(id as string). Identical in DuckDB as
    * ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 4))::BIGINT, which is
    * what makes the split/sample oracles exact. */
  def hashBucket(idCol: Column): Column =
    conv(substring(md5(idCol.cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long")

  /** Deterministic train/val/test assignment by cumulative fraction
    * thresholds over [[hashBucket]]. `splits` are (label, fraction)
    * in order; fractions must sum to 1. Stable under re-partitioning,
    * retries, and incremental ingest (a doc's split never changes when
    * more data arrives) — the property row_number()-based splits lack. */
  def hashSplit(idCol: Column, splits: Seq[(String, Double)]): Column = {
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    val b = hashBucket(idCol)
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    splits.zip(cum).init.foldRight(lit(splits.last._1): Column) {
      case (((label, _), hi), elseCol) =>
        when(b < math.round(hi * 65536).toDouble, lit(label)).otherwise(elseCol)
    }
  }

  /** Deterministic per-stratum Bernoulli sample: keep a row iff
    * hashBucket(id)/65536 < rate(stratum). Exact, reproducible
    * stratified downsampling — the curation move for rebalancing
    * sources/languages in a corpus. Unknown strata are dropped
    * (rate 0). */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double]): DataFrame = {
    val rate = rates.foldLeft(lit(0.0): Column) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol)) < rate * 65536)
  }

  /** Keep at most `cap` rows per stratum (the per-domain / per-source
    * quota of CommonCrawl-style pipelines), priority = md5(id) — a pure
    * function of the id, so the kept set is stable under repartition,
    * retries, and ingest order, and exactly reproducible by the oracle.
    *
    * Skew-aware two-phase selection:
    *   1. per-stratum count probe (tiny aggregate, broadcast back).
    *      Strata already within cap — the long tail of domains —
    *      bypass ALL ranking work: no sort, no extra shuffle beyond
    *      the broadcast-join probe.
    *   2. over-cap strata do distributed top-k: row_number per
    *      (stratum, salt) keeps `cap` rows per salt, then the final
    *      per-stratum row_number ranks <= salts*cap survivors. A row in
    *      the true top-cap is necessarily in its salt bucket's top-cap,
    *      so phase 1 never drops a winner; no task ever sorts a whole
    *      hot stratum (max task state ~ |stratum|/salts).
    * Emits the kept rows + n_stratum (pre-cap stratum size). */
  def capPerStratum(df: DataFrame, idCol: String, strataCol: String,
                    cap: Int, salts: Int = 32): DataFrame =
    capByPriority(df, idCol, strataCol,
      md5(col(idCol).cast("string").cast("binary")), cap, salts,
      caller = "capPerStratum")

  /** Shared two-phase core of [[capPerStratum]] /
    * [[weightedCapPerStratum]]: keep the `cap` rows with the SMALLEST
    * `(priority, id)` per stratum. The salted-phase correctness argument
    * holds for ANY fixed priority: a row in a stratum's true top-cap is
    * necessarily in its salt bucket's top-cap, so phase 1 never drops a
    * winner and no task ever sorts a whole hot stratum. */
  private def capByPriority(df: DataFrame, idCol: String,
                            strataCol: String, priority: Column,
                            cap: Int, salts: Int,
                            caller: String): DataFrame = {
    require(cap >= 1 && salts >= 1, s"need cap>=1, salts>=1; got $cap, $salts")
    // These working names must not pre-exist — most commonly hit by
    // chaining one cap's OUTPUT (which keeps n_stratum) into another;
    // fail with the name instead of Spark's AMBIGUOUS_REFERENCE.
    Seq("n_stratum", "__salt", "__rs", "__rn").foreach(n =>
      require(!df.columns.contains(n),
        s"$caller: frame already has a column '$n' (output of a " +
          "previous cap?) — drop or rename it first"))
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_stratum"))
    val joined = df.join(broadcast(counts), Seq(strataCol))
    val under = joined.filter(col("n_stratum") <= cap)
    val salted = joined.filter(col("n_stratum") > cap)
      .withColumn("__salt", hashBucket(col(idCol)) % salts)
    val phase1 = salted
      .withColumn("__rs", row_number().over(
        Window.partitionBy(col(strataCol), col("__salt"))
          .orderBy(priority, col(idCol))))
      .filter(col("__rs") <= cap)
    val phase2 = phase1
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(strataCol)).orderBy(priority, col(idCol))))
      .filter(col("__rn") <= cap)
      .drop("__salt", "__rs", "__rn")
    under.unionByName(phase2)
  }

  /** Quality-WEIGHTED per-stratum quota: keep at most `cap` rows per
    * stratum, sampled without replacement with inclusion odds
    * proportional to `weightCol` (Efraimidis–Spirakis / exponential
    * clocks: key = -ln(u)/w with u uniform, keep the `cap` smallest
    * keys — the higher the weight, the smaller the expected key). The
    * "keep the best-ish k docs per source, biased by quality but still
    * randomized" cut of quality-filtered pipelines; [[capPerStratum]]
    * is the unweighted special case.
    *
    * Determinism contract (the same one every sampler here obeys):
    * `u` derives bit-exactly from md5(id) — `(int(md5[0:8]) + 0.5) /
    * 2^32` is exact binary arithmetic — so the kept set is a pure
    * function of (id, weight), stable under repartition/retry/ingest
    * order and reproducible by the oracle. The clock is carried in LOG
    * space: `wkey = ln(-ln(u)) - ln(w)`, a monotone transform of
    * -ln(u)/w (both sides positive), so ordering — and therefore the
    * kept set — is identical, while the 1e-6 quantization (ties broken
    * by id) is now RELATIVE to the key's magnitude (~6 significant
    * figures) instead of absolute. An absolute 1e-6 on the raw key
    * collapsed every key to 0.000000 once weights reached ~1e5-1e6
    * (keys shrink as 1/w), silently degrading selection to
    * lowest-id-first; in log space the key stays in ~[-733, 23] for
    * every positive finite weight and no weight range is privileged.
    * The quantization shrinks the cross-engine risk of a last-ulp `ln`
    * divergence from ~1e-10/row (raw double ordering) to the
    * ~1e-12/row chance that the ulp lands exactly on a quantization
    * boundary AND the two engines' round() disagree there — negligible
    * at any realistic scale, but not zero.
    *
    * Rows with null, NaN, or non-positive weight are EXCLUDED (weight
    * 0 = never sampled); `n_stratum` counts the eligible rows. Same
    * skew-aware two-phase selection as [[capPerStratum]]. Emits the
    * kept rows + n_stratum + the quantized LOG-space key as `wkey`
    * (smaller = more preferred, as before). */
  def weightedCapPerStratum(df: DataFrame, idCol: String,
                            strataCol: String, weightCol: String,
                            cap: Int, salts: Int = 32): DataFrame = {
    require(!df.columns.contains("wkey"),
      "weightedCapPerStratum: frame already has a 'wkey' column")
    val u = (conv(substring(md5(col(idCol).cast("string").cast("binary")),
        1, 8), 16, 10).cast("long").cast("double") + 0.5) /
      lit(4294967296.0)
    // log-space clock: ln(-ln(u)) - ln(w); -ln(u) > 0 always because
    // u = (int+0.5)/2^32 lies strictly inside (0, 1)
    val key = round(log(-log(u)) - log(col(weightCol).cast("double")), 6)
    // NaN guard is load-bearing: Spark orders NaN ABOVE every number,
    // so `NaN > 0.0` is TRUE and a NaN quality score would ride in
    // with wkey=NaN instead of being excluded like null/<=0.
    val w = col(weightCol).cast("double")
    val eligible = df.filter(w > 0.0 && !isnan(w))
      .withColumn("wkey", key)
    capByPriority(eligible, idCol, strataCol, col("wkey"), cap, salts,
      caller = "weightedCapPerStratum")
  }

  /** Diff two corpus snapshots by id — the "what changed since the last
    * crawl/ingest" audit every continuously-rebuilt training corpus
    * needs. Returns one row per id present in either side with
    * `status` in added / removed / changed / unchanged (content
    * equality over `contentCols`, null-safe).
    *
    * Scale shape: each side is reduced to (id, digest) BEFORE the join
    * — the md5 digest is computed map-side over a length-prefixed
    * field encoding (`len:value` per column, `N` for null — injective,
    * so no concatenation ambiguity can alias two different rows), and
    * only those two narrow columns shuffle through the full-outer
    * sort-merge join. Document bodies never move. The join is
    * NULL-SAFE on id, so a null-id row on both sides compares rather
    * than splitting into a spurious added+removed pair. Ids must be
    * unique within each snapshot (corpus snapshots are keyed by doc
    * id); duplicate ids produce one output row per pairing.
    *
    * Equality semantics caveat: content compares through each column's
    * STRING RENDERING (the digest hashes `cast("string")`), so
    * distinct values with identical renderings read 'unchanged' —
    * e.g. -0.0 vs 0.0 doubles, or equal-instant timestamps of
    * different sub-second precision. For text/categorical snapshot
    * columns (the intended use) rendering is injective; if byte-exact
    * numeric/timestamp diffing matters, pre-encode those columns into
    * a canonical form (e.g. ieee bits via `hex`) before calling. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "snapshotDiff: need content columns")
    def digest(d: DataFrame, idOut: String, out: String): DataFrame =
      d.select(col(idCol).as(idOut), md5(concat(contentCols.map { c =>
        val s = col(c).cast("string")
        coalesce(concat(length(s).cast("string"), lit(":"), s), lit("N"))
      }: _*).cast("binary")).as(out))
    digest(oldDf, "__ido", "__ho")
      .join(digest(newDf, "__idn", "__hn"),
        col("__ido") <=> col("__idn"), "full_outer")
      .select(coalesce(col("__ido"), col("__idn")).as(idCol),
        when(col("__ho").isNull, lit("added"))
          .when(col("__hn").isNull, lit("removed"))
          .when(col("__ho") === col("__hn"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Fill a per-stratum token budget: keep docs in md5(id)-priority
    * order until the next doc would push the stratum's token total past
    * `budget` — the "give me N billion tokens per language/source" cut,
    * deterministic and stable under repartition/retry/ingest order.
    * A kept doc is never truncated (cum <= budget rule).
    *
    * Scale shape — NO per-stratum global sort: the priority is an md5,
    * so its first byte partitions each stratum into 256 uniformly-sized
    * buckets whose ORDER IS THE SORT ORDER (value-bucketed prefix sum,
    * same machinery as the global cumsum / packing plans):
    *   1. per-(stratum, bucket) token sums — tiny aggregate;
    *   2. running bucket offsets via a window over that 256·|strata|-row
    *      table, broadcast back;
    *   3. within-bucket cumsum windows on (stratum, bucket) — max task
    *      state is ~|stratum|/256 rows.
    * Emits kept rows + cum_tokens (stratum running total incl. self). */
  def tokenBudget(df: DataFrame, idCol: String, strataCol: String,
                  tokenCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"need budget>0, got $budget")
    val pr = md5(col(idCol).cast("string").cast("binary"))
    val b = conv(substring(pr, 1, 2), 16, 10).cast("int")
    val rows = df.withColumn("__b", b)
    val perBucket = rows.groupBy(col(strataCol), col("__b"))
      .agg(sum(col(tokenCol)).cast("long").as("__bs"))
    val offsets = perBucket
      .withColumn("__off",
        coalesce(sum(col("__bs")).over(
          Window.partitionBy(col(strataCol)).orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(strataCol), col("__b"), col("__off"))
    rows.join(broadcast(offsets), Seq(strataCol, "__b"))
      .withColumn("__cum",
        col("__off") + sum(col(tokenCol)).over(
          Window.partitionBy(col(strataCol), col("__b"))
            .orderBy(pr, col(idCol))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__cum") <= budget)
      .withColumn("cum_tokens", col("__cum"))
      .drop("__b", "__off", "__cum")
  }

  // ---------------------------------------------------------------
  // DSIR importance weights (data selection for language models)
  // ---------------------------------------------------------------

  /** DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169,
    * "Data Selection for Language Models via Importance Resampling"):
    * per raw doc, the mean hashed-unigram log-likelihood ratio
    * avg_tok log( p_target(b(tok)) / p_raw(b(tok)) ), where b hashes
    * words into `buckets` buckets (md5-based — engine-agnostic, which
    * is what makes the oracle exact) and both unigram models get
    * add-`alpha` smoothing over the bucket vocabulary. Docs that look
    * like the target domain score high; resample raw by this weight.
    *
    * Scale shape: the raw corpus is scanned + tokenized ONCE into the
    * per-(doc, bucket) aggregate; the raw unigram model re-aggregates
    * that table (its exchange is stage-reused between the model branch
    * and the scoring branch), so only the target corpus needs its own
    * pass. Both models are (bucket, count) tables bounded at `buckets`
    * rows — they partial-aggregate map-side, and the joined log-ratio
    * model BROADCASTS (buckets ~ 10k-1M rows regardless of corpus
    * size). The raw corpus is shuffled once, keyed (doc, bucket); the
    * scoring join is map-side against the broadcast model. Emits
    * (id, n_tokens, dsir_score). */
  def dsirWeights(raw: DataFrame, target: DataFrame, id: String,
                  text: String, buckets: Int = 4096,
                  alpha: Double = 0.5): DataFrame = {
    require(buckets >= 2 && alpha > 0, s"need buckets>=2, alpha>0; got $buckets, $alpha")
    val bucket = (c: Column) =>
      conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long") % buckets
    def toks(df: DataFrame, keep: Seq[Column]) =
      df.select(keep :+ explode(TextAnalysis.tokens(col(text))).as("__w"): _*)
        .filter(col("__w") =!= "")
        .select(keep :+ bucket(col("__w")).as("__b"): _*)
    val docBuckets = toks(raw, Seq(col(id))).groupBy(col(id), col("__b"))
      .agg(count(lit(1)).as("__k"))
    val tCnt = toks(target, Nil).groupBy(col("__b"))
      .agg(count(lit(1)).as("__ct"))
    val rCnt = docBuckets.groupBy(col("__b"))
      .agg(sum(col("__k")).as("__cr"))
    val model = tCnt.join(rCnt, Seq("__b"), "full_outer")
      .crossJoin(broadcast(tCnt.agg(sum("__ct").cast("double").as("__tT"))))
      .crossJoin(broadcast(rCnt.agg(sum("__cr").cast("double").as("__tR"))))
      .select(col("__b"),
        (log((coalesce(col("__ct"), lit(0L)) + alpha)
             / (col("__tT") + alpha * buckets))
         - log((coalesce(col("__cr"), lit(0L)) + alpha)
               / (col("__tR") + alpha * buckets))).as("__lr"))
    docBuckets
      .join(broadcast(model), Seq("__b"))
      .groupBy(col(id)).agg(
        sum(col("__k")).as("n_tokens"),
        (sum(col("__k") * col("__lr")) / sum(col("__k"))).as("dsir_score"))
  }

  // ---------------------------------------------------------------
  // Repetition / boilerplate metrics (Gopher-style quality signals)
  // ---------------------------------------------------------------

  /** Per-doc repetition metrics a la Gopher/MassiveText quality rules:
    *   - dup_word_frac: 1 - distinct/total tokens;
    *   - top_bigram_frac: occurrences of the most frequent word bigram
    *     over total bigrams (0 when < 2 tokens).
    * One projection over the scan, zero shuffle: the bigram mode is the
    * native [[graft.functions.TopBigramFrac]] kernel over each row's
    * token array, so every row gets its own metrics (a null or
    * duplicated id included). */
  def repetitionMetrics(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), TextAnalysis.tokens(col(text)).as("__w"))
      .select(col(id) +: repetitionCols(col("__w")): _*)

  /** (n_tokens, dup_word_frac, top_bigram_frac) of a token array. */
  private def repetitionCols(w: Column): Seq[Column] = Seq(
    size(w).as("n_tokens"),
    (lit(1.0) - size(array_distinct(w)).cast("double") /
      greatest(size(w), lit(1)).cast("double")).as("dup_word_frac"),
    TopBigramFrac(w).as("top_bigram_frac"))

  // ---------------------------------------------------------------
  // Text normalization
  // ---------------------------------------------------------------

  /** Canonical text cleanup applied before any hashing/dedup pass:
    * control chars -> space, whitespace runs collapsed, ends trimmed.
    * Pure codegen (two regexp_replace + trim), zero shuffle; the ASCII
    * control class is written out so Java regex and RE2 agree. */
  def cleanText(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "[\\x00-\\x1F\\x7F]", " "),
      "\\s+", " "))

  // ---------------------------------------------------------------
  // Corpus-wide line dedup (C4-style)
  // ---------------------------------------------------------------

  /** C4-style corpus-wide line-level deduplication over `sepRegex`-split
    * lines of `text`, in one of two modes:
    *   - keep-first (`maxDocFreq = None`): every distinct line survives
    *     only at its globally FIRST occurrence, ordered by (id,
    *     position) — C4's "deduplicate lines across the corpus";
    *   - boilerplate (`maxDocFreq = Some(n)`): drop lines that occur in
    *     more than `n` distinct documents (headers/footers/nav chrome),
    *     keeping every occurrence of the lines that survive.
    *
    * Plan shape at 100 TB: the per-line table is keyed by line CONTENT,
    * so both the first-occurrence min and the doc-frequency count are
    * map-side-combinable hash aggregates — a boilerplate line repeated
    * in a billion docs partial-aggregates down to one row per map task
    * before the shuffle. The join back to occurrences is a shuffle hash
    * join on the same key (AQE's skew-join splitting covers a hot line
    * on the probe side). Document reassembly is one groupBy on the doc
    * id; per-task state is bounded by a single document's line count
    * (`collect_list` + `array_sort`, same bound as reading the doc).
    * Emits (id, n_lines, n_kept, n_dropped, text_dedup).
    *
    * Null-id docs take no part in dedup (uniformly across BOTH
    * first-occurrence encodings — previously the decimal-encoded path
    * dropped their lines via null arithmetic while the struct-min path
    * kept them, so the output silently depended on the id's type): a
    * doc without an identity has no deterministic first-occurrence
    * order. Such docs still emit an output row, with every line
    * dropped (n_kept=0, text_dedup=""). */
  def dedupLines(df: DataFrame, id: String, text: String,
                 sepRegex: String = "\n", joinSep: String = "\n",
                 maxDocFreq: Option[Int] = None): DataFrame = {
    val lines = df.filter(col(id).isNotNull).select(col(id),
      posexplode(split(col(text), sepRegex)).as(Seq("__p", "__l")))
    val kept = maxDocFreq match {
      case Some(n) =>
        val freq = lines.groupBy(col("__l"))
          .agg(countDistinct(col(id)).as("__df"))
        lines.join(freq, Seq("__l")).filter(col("__df") <= n)
      case None =>
        val integralId = df.schema(id).dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => true
          case _ => false
        }
        if (integralId) {
          // min(struct) has no hash-aggregate implementation, so the
          // generic path below is a SortAggregate — a per-partition sort
          // over the exploded lines. For integral ids, encode (id, pos)
          // into ONE decimal(38,0): lexicographic because 0 <= pos <
          // 10^10 > any posexplode index, exact because |id|*10^10 +
          // pos < 10^38. min over it is a plain hash aggregate with
          // map-side partials (same shuffle volume, no sort CPU).
          def enc(i: Column, p: Column): Column =
            i.cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
              lit(10000000000L) + p
          val first = lines.groupBy(col("__l"))
            .agg(min(enc(col(id), col("__p"))).as("__m"))
          lines.join(first, Seq("__l"))
            .filter(enc(col(id), col("__p")) === col("__m"))
        } else {
          val first = lines.groupBy(col("__l"))
            .agg(min(struct(col(id).as("__i"), col("__p").as("__q"))).as("__m"))
          lines.join(first, Seq("__l"))
            .filter(col(id) === col("__m.__i") && col("__p") === col("__m.__q"))
        }
    }
    val rebuilt = kept.groupBy(col(id)).agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("__p"), col("__l")))),
          x => x.getField("__l")),
        joinSep).as("text_dedup"))
    df.select(col(id), size(split(col(text), sepRegex)).cast("long").as("n_lines"))
      .join(rebuilt, Seq(id), "left")
      .select(col(id), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  // ---------------------------------------------------------------
  // Temperature mixture sampling
  // ---------------------------------------------------------------

  /** Per-stratum keep rates for temperature-`alpha` mixture sampling:
    * target stratum probability ∝ n^alpha, so the Bernoulli keep rate
    * is ∝ n^(alpha-1), normalized so the largest rate is 1 (pure
    * downsampling — no row is ever duplicated). alpha=1 keeps the
    * natural mix, alpha=0 rebalances toward uniform, in between is the
    * standard multilingual/multi-source temperature schedule.
    *
    * The rate is quantized to 1e-6 so the keep decision is a stable
    * function of (stratum counts, id) across engines and reruns — the
    * raw pow() quotient is the one place a libm ulp could differ.
    * Returns (stratum, n_stratum, rate). */
  def mixtureRates(df: DataFrame, strataCol: String, alpha: Double): DataFrame = {
    val w = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_stratum"))
      .withColumn("__w", pow(col("n_stratum").cast("double"), lit(alpha - 1.0)))
    w.crossJoin(broadcast(w.agg(max(col("__w")).as("__mx"))))
      .select(col(strataCol), col("n_stratum"),
        round(col("__w") / col("__mx") + lit(1e-9), 6).as("rate"))
  }

  /** Deterministic temperature resampling: keep a row iff
    * hashBucket(id)/65536 < rate(stratum) with [[mixtureRates]] rates.
    * One tiny aggregate (|strata| rows) broadcast into a map-side
    * filter — the corpus itself is never shuffled. */
  def mixtureSample(df: DataFrame, idCol: String, strataCol: String,
                    alpha: Double): DataFrame =
    df.join(broadcast(mixtureRates(df, strataCol, alpha)
        .drop("n_stratum")), Seq(strataCol))
      .filter(hashBucket(col(idCol)) < col("rate") * 65536)

  // ---------------------------------------------------------------
  // Gopher-style composite quality gate
  // ---------------------------------------------------------------

  /** Composite document quality gate in the Gopher/MassiveText style:
    * token-count band, mean-word-length band, minimum stopword
    * fraction, and the [[repetitionMetrics]] repetition caps, each as
    * its own flag plus an overall `pass`: one projection over the scan,
    * zero shuffle and no join, one output row per input row. Emits per
    * doc: the five metrics, `n_flags` (rules tripped), `pass`, and
    * (r13) the six per-rule boolean flags `fail_min_words ..
    * fail_top_bigram` — so funnel/audit consumers tally drop reasons
    * without re-stating the thresholds. */
  def gopherFilter(df: DataFrame, id: String, text: String,
                   minWords: Int = 50, maxWords: Int = 100000,
                   wordLenBand: (Double, Double) = (3.0, 10.0),
                   minStopFrac: Double = 0.02,
                   maxDupWordFrac: Double = 0.5,
                   maxTopBigramFrac: Double = 0.2): DataFrame = {
    val m = df.select(col(id), TextAnalysis.tokens(col(text)).as("__w"),
        TextAnalysis.meanWordLen(col(text)).as("mean_word_len"),
        TextAnalysis.stopwordRatio(col(text), TextAnalysis.EnStops).as("stop_frac"))
      .select(Seq(col(id), col("mean_word_len"), col("stop_frac")) ++
        repetitionCols(col("__w")): _*)
    // per-rule flags ride the output (r13) so a funnel/audit consumer
    // can tally drop reasons without re-stating the thresholds — the
    // thresholds live HERE and nowhere else on the Spark side; the
    // flag NAMES are the single-sourced [[GateReasons]] list
    val conds = Seq[Column](
      col("n_tokens") < minWords,
      col("n_tokens") > maxWords,
      col("mean_word_len") < wordLenBand._1 ||
        col("mean_word_len") > wordLenBand._2,
      col("stop_frac") < minStopFrac,
      col("dup_word_frac") > maxDupWordFrac,
      col("top_bigram_frac") > maxTopBigramFrac)
    val flags = GateReasons.zip(conds)
    m.select(Seq(col(id), col("n_tokens"), col("mean_word_len"),
        col("stop_frac"), col("dup_word_frac"), col("top_bigram_frac"),
        flags.map(_._2.cast("int")).reduce(_ + _).as("n_flags")) ++
        flags.map { case (n, c) => c.as(n) }: _*)
      // flag columns come AFTER pass so existing positional consumers
      // (q_quality_gate, CurationSpec) keep their indices
      .withColumn("pass", col("n_flags") === 0)
      .select(Seq(col(id), col("n_tokens"), col("mean_word_len"),
        col("stop_frac"), col("dup_word_frac"), col("top_bigram_frac"),
        col("n_flags"), col("pass")) ++ GateReasons.map(col): _*)
  }

  /** The per-rule flag column names [[gopherFilter]] emits, in rule
    * order — funnel/audit consumers iterate THIS list instead of
    * hand-copying the names (order is load-bearing: the funnel oracle
    * maps stage_idx 10..15 to these positions). */
  val GateReasons: Seq[String] = Seq(
    "fail_min_words", "fail_max_words", "fail_word_len",
    "fail_stop_frac", "fail_dup_words", "fail_top_bigram")

  // ---------------------------------------------------------------
  // Greedy sequence packing
  // ---------------------------------------------------------------

  /** GPT-style "concatenate then chunk" sequence packing: documents in
    * a fixed order are laid head-to-tail and cut every `ctxLen` tokens;
    * a doc is assigned to the chunk where it STARTS. Emits (id, tokens,
    * start offset, chunk id, offset within chunk).
    *
    * The global running offset uses the checkpoint-free bucketed prefix
    * sum ([[graft.engine.Cumulative.globalCumsumBucketed]]) — value-
    * deterministic buckets, one tiny partials broadcast, no global sort
    * and no single-partition window, so the layout is computed scale-out
    * on 100 TB exactly like cumsum. */
  def packGreedy(df: DataFrame, id: String, tokenCol: String,
                 ctxLen: Int): DataFrame = {
    // The prefix sum carries token counts as Double, so the long casts
    // below are exact only while the TOTAL corpus token count stays
    // under 2^53 (~9e15 ≈ 9 petatokens) — comfortably above any current
    // training corpus, but not a place to route 64-bit id-like values.
    val cum = graft.engine.Cumulative.globalCumsumBucketed(
      df.select(col(id), col(tokenCol).cast("double").as("__t")),
      order = Seq(col(id)), lead = id,
      values = Seq((col("__t"), "__cum")))
    cum.select(
      col(id),
      col("__t").cast("long").as("n_tokens"),
      (col("__cum") - col("__t")).cast("long").as("start_offset"),
      floor((col("__cum") - col("__t")) / ctxLen).cast("long").as("chunk_id"),
      ((col("__cum") - col("__t")).cast("long") % ctxLen).as("chunk_offset"))
  }

  /** PER-DOCUMENT sliding-window chunking with overlap — the other
    * standard context-window prep (HF tokenizers'
    * `return_overflowing_tokens` + `stride` shape): each document is
    * independently cut into windows of `chunkLen` tokens whose starts
    * advance by `stride` (overlap = chunkLen - stride), so no training
    * example ever crosses a document boundary — the complement of
    * [[packGreedy]], which concatenates across documents. Tail windows
    * shorter than `minTail` drop (a near-duplicate suffix of the
    * previous window) unless they are the document's ONLY window.
    * Null and EMPTY token arrays yield no rows (no zero-length
    * training examples). Emits one row per (doc, window): id,
    * chunk_idx, start, chunk (token slice), n_chunk.
    *
    * Scale shape: pure per-row `sequence` + `explode` + `slice` inside
    * the scan — ZERO shuffle, no state, output volume ~n_tokens/stride
    * rows per doc. At 100 TB this is exactly a flatMap over the corpus;
    * partition count follows the input splits. */
  def chunkSliding(df: DataFrame, idCol: String, tokensCol: String,
                   chunkLen: Int, stride: Int,
                   minTail: Int = 1): DataFrame = {
    require(chunkLen >= 1 && stride >= 1 && stride <= chunkLen,
      s"chunkSliding: need 1 <= stride <= chunkLen; got stride=$stride, " +
        s"chunkLen=$chunkLen")
    require(minTail >= 1 && minTail <= chunkLen,
      s"chunkSliding: need 1 <= minTail <= chunkLen; got $minTail")
    // working/output names must not shadow the id column — a clash
    // would silently replace the id with window offsets
    Seq("__toks", "__n", "start", "chunk", "n_chunk", "chunk_idx")
      .foreach(n => require(idCol != n,
        s"chunkSliding: idCol '$n' collides with a working/output " +
          "column — rename it first"))
    val nTok = size(col(tokensCol))
    // null AND empty token arrays yield NO chunks: size(null) is null
    // so the predicate drops both, and without it the `start === 0`
    // escape would emit a phantom (chunk_idx=0, chunk=[], n_chunk=0)
    // row per empty doc — a zero-length training example downstream
    df.filter(nTok >= 1)
      .select(col(idCol), col(tokensCol).as("__toks"), nTok.as("__n"))
      .withColumn("start",
        explode(sequence(lit(0), greatest(col("__n") - 1, lit(0)),
          lit(stride))))
      .withColumn("chunk",
        slice(col("__toks"), col("start") + 1, lit(chunkLen)))
      .withColumn("n_chunk", size(col("chunk")))
      .filter(col("start") === 0 || col("n_chunk") >= minTail)
      .select(col(idCol),
        (col("start") / stride).cast("long").as("chunk_idx"),
        col("start").cast("long").as("start"),
        col("chunk"), col("n_chunk"))
  }

  /** Deterministic corpus shuffle — the "randomize training order" step
    * of a pretraining pipeline, as a pure function of (seed, id): the
    * sort key is a seeded hash of the id, so the permutation is
    * rerun-stable, resumable after failure, and auditable (unlike
    * `orderBy(rand())`, which draws a different corpus order per
    * attempt and silently breaks retry semantics). Emits the key as
    * `skey` so downstream shard writers can sort on it and readers can
    * verify the order.
    *
    * Scale shape: ONE range-partition sort on the key — the intended
    * full shuffle (there is no cheaper exact permutation); with a
    * downstream limit Spark collapses it to TakeOrderedAndProject.
    * `hash="xxhash64"` (default) is the cheap production key;
    * `"md5"` is bit-identical across engines (the oracle-checked
    * mode). Ties (hash collisions) break on the id, keeping the order
    * total and deterministic. */
  def shuffleOrder(df: DataFrame, id: String, seed: Long,
                   hash: String = "xxhash64"): DataFrame = {
    val key = hash match {
      case "xxhash64" => xxhash64(lit(seed), col(id))
      case "md5" => md5(concat_ws("#", lit(seed), col(id).cast("string")))
      case other =>
        throw new IllegalArgumentException(s"shuffleOrder: hash='$other'")
    }
    df.withColumn("skey", key).orderBy(col("skey"), col(id))
  }

  /** PageRank over a directed edge table — the domain/source quality
    * signal of web-corpus curation (CommonCrawl-style host ranking
    * feeding source weights for a pretraining mix). Classic damped
    * power iteration with dangling-mass redistribution:
    *
    *   r'(v) = (1-d)/N + d * (sum_{u->v} r(u)/outdeg(u) + dangling/N)
    *
    * so rank mass is conserved (sums to 1 every iteration, spec-gated).
    *
    * Scale shape: `iters` is a FIXED small constant (10-20 in
    * production); per iteration the plan is one join of the edge table
    * against the node-sized rank frame and one hash aggregate keyed by
    * dst. The rank frame is |V|-sized — orders of magnitude under the
    * edge table — so AQE broadcasts it and THE EDGE TABLE IS NEVER
    * RE-SHUFFLED; per-iteration cost is one broadcast + one contrib
    * shuffle of degree-bounded partials. The two global scalars
    * (N, dangling mass) ride a 1-row cross join, not a collect.
    *
    * Iteration hygiene (VERDICT r8): each round references the previous
    * `ranks` TWICE (contrib join + dangling aggregate), so a lazily
    * composed loop doubles the plan per iteration — exponential
    * Catalyst analysis at the 10-20 production iteration counts. The
    * rank frame is therefore lineage-truncated EVERY iteration
    * ([[graft.engine.Core.truncatePlan]] — eager localCheckpoint +
    * stats re-wrap, the Dedup.clusters pattern), and the previous
    * round's checkpoint blocks are released once the next state is
    * materialized: one node-sized job per iteration, plan size and
    * memory O(1) in `iters` (CurationSpec gates iters=10 wall-clock).
    * Deterministic: no sampling, float sums are the only
    * order-dependence (oracle rounds at 6). */
  def pageRank(edges: DataFrame, src: String, dst: String,
               iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "pageRank: iters >= 1")
    val e = edges.select(col(src).cast("long").as("e_src"),
      col(dst).cast("long").as("e_dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the loop invariants — the edge table and the node/outdeg frame —
    // are materialized ONCE (standard for iterative graph algorithms,
    // cf. GraphX) and every iteration joins against them; N rides the
    // rank frame as a constant column (seeded below), so the
    // per-iteration plan is exactly one rank-frame broadcast join, one
    // dst-keyed contrib aggregate and one node-sized dangling-mass
    // aggregate — and no standalone count job.
    // node set + outdegree in ONE node-keyed shuffle: explode both
    // endpoints with a src flag and aggregate, instead of
    // union.distinct + groupBy + join (3 shuffles, measured 2.6 s of
    // the 9.9 s r8 bench row); outdeg = #src occurrences since e is
    // edge-distinct, and a node that never appears as src is dangling
    // (null outdeg, matching the left join it replaces)
    val base = e.select(explode(array(
        struct(col("e_src").as("node"), lit(1L).as("__s")),
        struct(col("e_dst").as("node"), lit(0L).as("__s")))).as("ns"))
      .groupBy(col("ns.node").as("node"))
      .agg(sum(col("ns.__s")).as("__sn"))
      .select(col("node"), when(col("__sn") > 0, col("__sn")).as("outdeg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // N rides the rank frame as a column (seeded by ONE 1-row cross
    // join) instead of a driver-side count: the count was a full extra
    // materialization job before the first iteration — with the frame
    // form, setup + iteration 1 fuse into a single job
    val nF = base.agg(count(lit(1)).cast("double").as("__n"))
    var cur = base.crossJoin(nF).select(col("node"), col("outdeg"),
      (lit(1.0) / col("__n")).as("rank"), col("__n"))
    var held: Option[graft.engine.Core.Truncated] = None
    for (i <- 1 to iters) {
      val contrib = cur.filter(col("outdeg").isNotNull)
        .select(col("node"), (col("rank") / col("outdeg")).as("__share"))
        .join(e, col("node") === col("e_src"))
        .groupBy(col("e_dst").as("node2"))
        .agg(sum(col("__share")).as("contrib"))
      // dangling mass and N in ONE unfiltered node-sized aggregate
      val dangling = cur.agg(
        coalesce(sum(when(col("outdeg").isNull, col("rank"))), lit(0.0))
          .as("__dm"),
        max(col("__n")).as("__n2"))
      val next = base.join(contrib, col("node") === col("node2"), "left")
        .crossJoin(dangling)
        .select(col("node"), col("outdeg"),
          ((lit(1.0) - lit(damping)) / col("__n2") + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("__dm") / col("__n2")))
            .as("rank"),
          col("__n2").as("__n"))
      // truncate THEN release: the checkpoint job reads the previous
      // state, so freeing it early would recompute from nothing. The
      // LAST iteration stays lazy — one un-truncated round atop a
      // LogicalRDD leaf is constant-depth, and skipping its checkpoint
      // job saves a full materialization pass.
      if (i < iters) {
        val t = graft.engine.Core.truncatePlan(next)
        held.foreach(_.release())
        held = Some(t)
        cur = t.df
      } else cur = next
    }
    cur.select(col("node"), col("rank"))
  }

  /** Funnel/lineage report over a composed pipeline's stage boundaries:
    * one row per stage — (stage_idx, stage, rows_in, rows_out,
    * dropped) — where `rows_in` is the previous stage's survivor count
    * (the first stage reports itself as its own input, dropped = 0).
    * This is the per-stage audit a production curation run needs: what
    * did the quality gate / dedup / decontamination / budget each drop?
    *
    * Each count is one `count()` job over the stage's survivor frame,
    * run IN ORDER — so when the caller persists the stage boundaries
    * (as any sane composition already does; see q_pipeline_e2e's
    * stage-boundary materialization note), counting stage i warms
    * exactly the cache stage i+1 reads, and every boundary is evaluated
    * once. At 100 TB the boundaries are storage writes and these counts
    * come free from the writes' row-count metrics; this helper is the
    * single-plan equivalent, and the `observe()`-harvested form
    * (q_pipeline_funnel since r14: one `CollectMetrics` node per
    * boundary, all counts a byproduct of ONE chain execution — see
    * [[funnelRows]]) is the in-plan equivalent of those write metrics.
    * A stage that EXPANDS rows (explode, windowing) reports negative
    * `dropped` — the report is a ledger, not a monotonicity assertion.
    *
    * Reason rows some consumers APPEND under the same schema
    * (q_pipeline_funnel's `gate_*` rows) follow a DIFFERENT contract
    * than stage rows: gate reasons OVERLAP (one doc can trip several),
    * so a reason row's `rows_out` means "docs that survive that reason
    * ALONE", reason rows do not chain (`rows_in` is the gate's input
    * for every one of them, and their `dropped` can sum past the gate
    * stage's), and only the per-row invariant
    * `rows_in - rows_out = dropped` holds. */
  def funnelReport(stages: Seq[(String, DataFrame)]): DataFrame = {
    require(stages.nonEmpty, "funnelReport needs at least one stage")
    val spark = stages.head._2.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        funnelRows(stages.map { case (name, f) => (name, f.count()) }), 1),
      FunnelSchema)
  }

  /** The stage-row arithmetic of [[funnelReport]] over already-known
    * counts — shared by the `count()`-driven form above and the
    * `observe()`-harvested funnel (q_pipeline_funnel), so the two
    * forms cannot drift. */
  def funnelRows(counts: Seq[(String, Long)]): Seq[org.apache.spark.sql.Row] =
    counts.zipWithIndex.map { case ((name, c), i) =>
      val in = if (i == 0) c else counts(i - 1)._2
      org.apache.spark.sql.Row(i, name, in, c, in - c)
    }

  /** Output schema of [[funnelReport]] (and of the reason rows
    * q_pipeline_funnel appends to it). */
  val FunnelSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("stage_idx", IntegerType, nullable = false),
      StructField("stage", StringType, nullable = false),
      StructField("rows_in", LongType, nullable = false),
      StructField("rows_out", LongType, nullable = false),
      StructField("dropped", LongType, nullable = false)))
  }
}
