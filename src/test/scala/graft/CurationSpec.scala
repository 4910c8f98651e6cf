package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Curation

/** [[graft.pipeline.Curation]]: decontamination hits/misses, PII
  * detect+redact, hash split determinism & proportions, stratified
  * sampling, repetition metrics, greedy packing layout. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "train"),
    (2L, "pack my box with five dozen liquor jugs", "train"),
    (3L, "the quick brown fox sat still", "train"),
    (4L, "a a a a a a", "train"),
    (10L, "quick brown fox jumps high", "bench"),
    (11L, "totally unrelated benchmark text here", "bench")
  ).toDF("doc_id", "text", "kind")

  test("decontaminate flags only docs sharing a k-gram with bench") {
    val out = Curation.decontaminate(
      docs.filter($"kind" === "train"), docs.filter($"kind" === "bench"),
      "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
    // doc 1 shares "quick brown fox" + "brown fox jumps"; doc 3 shares
    // "quick brown fox"; docs 2 and 4 share nothing
    assert(out.map(r => r.getLong(0) -> r.getBoolean(2)).toSeq ==
      Seq(1L -> true, 2L -> false, 3L -> true, 4L -> false))
    assert(out(0).getLong(1) == 2L && out(2).getLong(1) == 1L)
  }

  test("decontaminate falls back to a shuffle join above maxBenchBytes") {
    // maxBenchBytes = 0 forces the non-broadcast path (any real plan
    // has a positive size estimate); results must be identical and the
    // plan must carry no broadcast hint
    val train = docs.filter($"kind" === "train")
    val bench = docs.filter($"kind" === "bench")
    val out = Curation.decontaminate(train, bench, "doc_id", "text", k = 3,
      maxBenchBytes = 0L)
    assert(out.orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toSeq ==
      Seq(1L -> true, 2L -> false, 3L -> true, 4L -> false))
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("broadcast"),
      s"expected no broadcast hint in fallback plan:\n$plan")
  }

  test("pii counts and redaction") {
    val df = Seq(
      (1L, "mail a@b.co and c.d+x@e-f.org, ip 192.168.0.1, tel +123 456 7890"),
      (2L, "no pii here at all"),
      (3L, "999.999.999.999 is a (sloppy but standard) ipv4 match")
    ).toDF("id", "t")
    val (e, i, p) = Curation.piiCounts(col("t"))
    val got = df.select(e.as("e"), i.as("i"), p.as("p"),
      Curation.redact(col("t")).as("r")).orderBy(df("id")).collect()
    assert((got(0).getInt(0), got(0).getInt(1), got(0).getInt(2)) == ((2, 1, 1)))
    assert(got(0).getString(3) ==
      "mail <EMAIL> and <EMAIL>, ip <IP>, tel <PHONE>")
    assert((got(1).getInt(0), got(1).getInt(1), got(1).getInt(2)) == ((0, 0, 0)))
    assert(got(2).getInt(1) == 1)
  }

  test("hashSplit is deterministic, exhaustive, and roughly proportional") {
    val ids = spark.range(0, 2000).toDF("id")
    val split = Curation.hashSplit(col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = ids.groupBy(split.as("s")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000L)
    assert(counts("train") > 1500 && counts("train") < 1700)
    assert(counts("val") > 120 && counts("val") < 280)
    // same id -> same split on a re-evaluated plan
    val twice = ids.select(split.as("a"), split.as("b"))
      .filter($"a" =!= $"b").count()
    assert(twice == 0L)
  }

  test("hashSplit rejects fractions that do not sum to 1") {
    intercept[IllegalArgumentException] {
      Curation.hashSplit(col("id"), Seq("a" -> 0.5, "b" -> 0.6))
    }
  }

  test("stratifiedSample keeps rate-1 strata whole and drops unknown strata") {
    val df = spark.range(0, 300)
      .select($"id", (concat(lit("s"), ($"id" % 3).cast("string"))).as("src"))
    val out = Curation.stratifiedSample(df, "id", "src",
      Map("s0" -> 1.0, "s1" -> 0.5))
    val by = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by("s0") == 100L)          // rate 1.0: all kept
    assert(by.get("s2").isEmpty)      // unmapped stratum dropped
    assert(by("s1") > 20 && by("s1") < 80)
  }

  test("repetitionMetrics: dup-word and top-bigram fractions") {
    val out = Curation.repetitionMetrics(
      Seq((1L, "a b a b a b"),      // bigrams: ab ba ab ba ab -> top 3/5
          (2L, "all words unique here"),
          (3L, "solo")).toDF("doc_id", "text"),
      "doc_id", "text").orderBy("doc_id").collect()
    assert(out(0).getInt(1) == 6)
    assert(math.abs(out(0).getDouble(2) - (1.0 - 2.0 / 6.0)) < 1e-12)
    assert(math.abs(out(0).getDouble(3) - 3.0 / 5.0) < 1e-12)
    assert(out(1).getDouble(2) == 0.0 &&
      math.abs(out(1).getDouble(3) - 1.0 / 3.0) < 1e-12)
    assert(out(2).getDouble(3) == 0.0) // < 2 tokens: no bigrams
    // null and duplicated ids: one row per input row, each with its own
    // metrics, in repetitionMetrics and in gopherFilter alike
    val df = Seq(
      (Some(7L), "a b a b a b"),  // 6 tokens: ab ba ab ba ab -> 3/5
      (Some(7L), "x y z"),        // 3 tokens: xy yz -> 1/2
      (None, "p q p q p"),        // 5 tokens: pq qp pq qp -> 2/4
      (None, "m n")               // 2 tokens: mn -> 1/1
    ).toDF("doc_id", "text")
    val want = Seq((Some(7L), 6, 3.0 / 5), (None, 5, 2.0 / 4),
      (Some(7L), 3, 1.0 / 2), (None, 2, 1.0)) // by n_tokens, descending
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.collect().map { r =>
        (Option(r.get(r.fieldIndex("doc_id"))).map(_.asInstanceOf[Long]),
          r.getInt(r.fieldIndex("n_tokens")),
          r.getDouble(r.fieldIndex("top_bigram_frac")))
      }.sortBy(-_._2).toSeq
    for (got <- Seq(
        rows(Curation.repetitionMetrics(df, "doc_id", "text")),
        rows(Curation.gopherFilter(df, "doc_id", "text")))) {
      assert(got.map(g => (g._1, g._2)) == want.map(w => (w._1, w._2)))
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g._3 - w._3) < 1e-12, s"$g vs $w")
      }
    }
  }

  test("dedupLines keep-first: a line survives only at its global (id, pos) min") {
    val df = Seq((1L, "a b c b"), (2L, "b c d"), (3L, "e a"))
      .toDF("doc_id", "text")
    val out = Curation.dedupLines(df, "doc_id", "text",
      sepRegex = " ", joinSep = " ").orderBy("doc_id").collect()
    // first occurrences: a@(1,0) b@(1,1) c@(1,2) d@(2,2) e@(3,0)
    assert(out.map(_.getString(4)).toSeq == Seq("a b c", "d", "e"))
    assert(out.map(_.getLong(1)).toSeq == Seq(4L, 3L, 2L)) // n_lines
    assert(out.map(_.getLong(2)).toSeq == Seq(3L, 1L, 1L)) // n_kept
    assert(out.map(_.getLong(3)).toSeq == Seq(1L, 2L, 1L)) // n_dropped
  }

  test("dedupLines keep-first: non-integral ids take the struct-min path, same result") {
    val df = Seq(("d1", "a b c b"), ("d2", "b c d"), ("d3", "e a"))
      .toDF("doc_id", "text")
    val out = Curation.dedupLines(df, "doc_id", "text",
      sepRegex = " ", joinSep = " ").orderBy("doc_id").collect()
    assert(out.map(_.getString(4)).toSeq == Seq("a b c", "d", "e"))
  }

  test("dedupLines keep-first: integral ids hash-aggregate (no SortAggregate)") {
    val df = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val plan = Curation.dedupLines(df, "doc_id", "text", sepRegex = " ")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"),
      "first-occurrence min should be a hash aggregate via the decimal (id,pos) encoding")
  }

  test("dedupLines boilerplate: lines in more than maxDocFreq docs are dropped") {
    val df = Seq((1L, "a b c b"), (2L, "b c d"), (3L, "e a"))
      .toDF("doc_id", "text")
    val out = Curation.dedupLines(df, "doc_id", "text",
      sepRegex = " ", joinSep = " ", maxDocFreq = Some(1))
      .orderBy("doc_id").collect()
    // doc freq: a=2 b=2 c=2 d=1 e=1 -> only d and e survive, in place
    assert(out.map(_.getString(4)).toSeq == Seq("", "d", "e"))
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 1L, 1L))
    assert(out.map(_.getLong(3)).toSeq == Seq(4L, 2L, 1L))
  }

  test("mixtureRates: temperature rates normalize to 1 on the smallest stratum") {
    val df = (Seq.fill(4)("big") ++ Seq("small"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "stratum")
    val rates = Curation.mixtureRates(df, "stratum", alpha = 0.5)
      .orderBy("stratum").collect()
    // n=4 -> 4^-0.5 = 0.5; n=1 -> 1.0; normalized by max (=1.0)
    assert(rates.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq == Seq(("big", 4L, 0.5), ("small", 1L, 1.0)))
    val kept = Curation.mixtureSample(df, "id", "stratum", alpha = 0.5)
    // rate-1.0 stratum is never downsampled
    assert(kept.filter($"stratum" === "small").count() == 1L)
  }

  test("gopherFilter: each rule trips independently and pass = no flags") {
    val df = Seq(
      (1L, "the cat sat on mat"),   // clean: passes every rule
      (2L, "the cat"),              // too short (+ its single bigram
                                    //  is trivially 100% of bigrams)
      (3L, "the the the the")       // dup words + repeated bigram
    ).toDF("doc_id", "text")
    val out = Curation.gopherFilter(df, "doc_id", "text",
      minWords = 3, maxWords = 10, wordLenBand = (1.0, 8.0),
      minStopFrac = 0.1, maxDupWordFrac = 0.5, maxTopBigramFrac = 0.9)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getInt(6), r.getBoolean(7))).toSeq ==
      Seq((0, true), (2, false), (2, false)))
    // doc 3: dup_word_frac = 1 - 1/4 = 0.75, top bigram 3/3 = 1.0
    assert(math.abs(out(2).getDouble(4) - 0.75) < 1e-12)
    assert(math.abs(out(2).getDouble(5) - 1.0) < 1e-12)
    // per-rule flags (r13): EACH rule's flag carries its own verdict —
    // a swap of two flag conditions keeps n_flags/pass green, so pin
    // the per-doc flag vectors against Curation.GateReasons order
    def flagsOf(r: org.apache.spark.sql.Row): Seq[Boolean] =
      Curation.GateReasons.map(n => r.getBoolean(r.fieldIndex(n)))
    assert(flagsOf(out(0)) ==
      Seq(false, false, false, false, false, false))
    // doc 2 ("the cat"): min_words + top_bigram (its one bigram is
    // 100% of bigrams > 0.9 cap)
    assert(flagsOf(out(1)) ==
      Seq(true, false, false, false, false, true))
    // doc 3 ("the the the the"): dup_words + top_bigram
    assert(flagsOf(out(2)) ==
      Seq(false, false, false, false, true, true))
  }

  test("funnelReport: per-stage rows_in chains to the previous stage's " +
    "rows_out; first stage is its own input; expanding stages go negative") {
    val base = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val filtered = base.filter(col("id") <= 3)
    val exploded = filtered.withColumn("c",
      explode(array(lit(1), lit(2)))).drop("c")
    val out = Curation.funnelReport(Seq(
        "input" -> base, "gate" -> filtered, "windows" -> exploded))
      .orderBy("stage_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      (0, "input", 5L, 5L, 0L),
      (1, "gate", 5L, 3L, 2L),
      (2, "windows", 3L, 6L, -3L))) // expansion: dropped is a ledger
    intercept[IllegalArgumentException] {
      Curation.funnelReport(Seq.empty)
    }
  }

  test("packGreedy lays docs head-to-tail and assigns start chunk") {
    val df = Seq((1L, 300), (2L, 300), (3L, 100), (4L, 50))
      .toDF("doc_id", "n_tok")
    val out = Curation.packGreedy(df, "doc_id", "n_tok", ctxLen = 512)
      .orderBy("doc_id").collect()
    // offsets: 0, 300, 600, 700 -> chunks 0, 0, 1, 1
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 300L, 600L, 700L))
    assert(out.map(_.getLong(3)).toSeq == Seq(0L, 0L, 1L, 1L))
    assert(out.map(_.getLong(4)).toSeq == Seq(0L, 300L, 88L, 188L))
  }

  test("capPerStratum: under-cap strata pass whole, over-cap ranked by md5(id)") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val df = ((1L to 10L).map(i => (i, "big")) ++ Seq((11L, "small")))
      .toDF("id", "stratum")
    val out = Curation.capPerStratum(df, "id", "stratum", cap = 3, salts = 4)
      .orderBy("id").collect().map(r => (r.getLong(1), r.getString(0)))
    // "small" (1 row <= cap) passes untouched with its stratum size
    assert(out.contains((11L, "small")))
    assert(out.count(_._2 == "big") == 3 && out.length == 4)
    // the kept "big" ids are exactly the 3 smallest md5 priorities
    val expect = (1L to 10L).sortBy(i => (md5hex(i.toString), i)).take(3).toSet
    assert(out.filter(_._2 == "big").map(_._1).toSet == expect)
    // n_stratum reports the PRE-cap size
    val n = Curation.capPerStratum(df, "id", "stratum", cap = 3, salts = 4)
      .filter(col("stratum") === "big").select("n_stratum").head().getLong(0)
    assert(n == 10L)
  }

  test("tokenBudget: bucketed prefix sum equals the single-window reference") {
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 200L).map(i => (i, if (i % 3 == 0) "a" else "b", 7L + i % 5))
      .toDF("id", "stratum", "n_tok")
    val out = Curation.tokenBudget(df, "id", "stratum", "n_tok", budget = 150L)
      .select("id", "cum_tokens")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pr = md5(col("id").cast("string").cast("binary"))
    val ref = df.withColumn("cum", sum(col("n_tok")).over(
        Window.partitionBy(col("stratum")).orderBy(pr, col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= 150L)
      .select("id", "cum")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out.nonEmpty && out == ref)
    // never exceeds the budget, never truncates a doc
    assert(out.map(_._2).max <= 150L)
  }

  test("dsirWeights: target-like raw docs score above off-domain ones") {
    val target = Seq((100L, "alpha beta alpha beta gamma"))
      .toDF("id", "text")
    val raw = Seq(
      (1L, "alpha beta alpha"),            // pure target vocabulary
      (2L, "zulu yankee xray whiskey"),    // disjoint vocabulary
      (3L, "alpha zulu")).toDF("id", "text") // mixed
    val out = Curation.dsirWeights(raw, target, "id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out.map(_._2) == Seq(3L, 4L, 2L)) // token counts
    val score = out.map(t => t._1 -> t._3).toMap
    assert(score(1L) > score(3L) && score(3L) > score(2L))
    // deterministic: same input -> bit-identical scores
    val again = Curation.dsirWeights(raw, target, "id", "text")
      .orderBy("id").collect().map(_.getDouble(2)).toSeq
    assert(again == out.map(_._3))
  }

  test("shuffleOrder: seeded permutation — rerun-stable, seed-sensitive, total") {
    val df = (1L to 100L).toDF("id")
    val once = Curation.shuffleOrder(df, "id", seed = 7L)
      .collect().map(_.getLong(0)).toSeq
    assert(once.sorted == (1L to 100L))              // a permutation
    assert(once != (1L to 100L))                     // actually shuffled
    val again = Curation.shuffleOrder(df, "id", seed = 7L)
      .collect().map(_.getLong(0)).toSeq
    assert(again == once)                            // rerun-stable
    val other = Curation.shuffleOrder(df, "id", seed = 8L)
      .collect().map(_.getLong(0)).toSeq
    assert(other != once)                            // seed changes order
    assertThrows[IllegalArgumentException] {
      Curation.shuffleOrder(df, "id", 7L, hash = "sha9")
    }
  }

  test("pageRank: damped power iteration, dangling mass, conservation") {
    // hand-computed (python, d=0.85, 2 iters, dangling node 5):
    //   edges (1,2),(1,3),(2,3),(3,1),(4,3),(3,5)
    //   iter2 ranks = [0.263155, 0.118655, 0.299705, 0.05533, 0.263155]
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L),
      (3L, 5L)).toDF("s", "t")
    val out = Curation.pageRank(e, "s", "t", iters = 2)
      .orderBy("node").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    val ranks = out.map(_.getDouble(1))
    val want = Seq(0.263155, 0.118655, 0.299705, 0.05533, 0.263155)
    ranks.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-9, s"got $g want $w") }
    // rank mass conserved exactly (dangling redistribution)
    assert(math.abs(ranks.sum - 1.0) < 1e-12)
    // duplicate edges collapse (distinct) — same result
    val dup = Curation.pageRank(e.union(e), "s", "t", iters = 2)
      .orderBy("node").collect().map(_.getDouble(1))
    ranks.zip(dup).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("pageRank: iters=10 runs with O(1) plan size and ~linear time") {
    // VERDICT r8: the lazily-composed loop referenced ranks twice per
    // round, doubling the plan per iteration (exponential analysis at
    // the scaladoc's own 10-20 production iters). With per-iteration
    // lineage truncation the returned plan is O(1)-deep and each extra
    // iteration adds one bounded node-sized job.
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id").as("s"), (col("event_id") % 97).as("t"))
    val out10 = Curation.pageRank(e, "s", "t", iters = 10)
    // plan depth must not grow with iters: iterations 1..9 are
    // truncated to LogicalRDD leaves and only the LAST round stays
    // lazy, so the optimized plan is one iteration's ops (~10 nodes)
    // regardless of iters — not 2^10
    val depth = {
      def d(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
        if (p.children.isEmpty) 1 else 1 + p.children.map(d).max
      d(out10.queryExecution.optimizedPlan)
    }
    assert(depth <= 14, s"pageRank(iters=10) plan depth $depth — lineage not truncated?")
    // correctness invariant at depth: mass still conserved
    val mass = out10.agg(sum("rank")).head().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-9, s"rank mass $mass")
    // wall-clock sanity: 10 iterations of a 1000-edge graph must be
    // seconds, not the minutes exponential analysis would take
    val t0 = System.nanoTime()
    Curation.pageRank(e, "s", "t", iters = 10).count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 60.0, s"pageRank(iters=10) took ${secs}s")
  }

  test("weightedCapPerStratum: exponential-clock keys match a local " +
    "A-ES reference; non-positive/null weights excluded; under-cap bypass") {
    import java.security.MessageDigest
    def u(id: Long): Double = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0
    }
    def key(id: Long, w: Double): Double =
      BigDecimal(math.log(-math.log(u(id))) - math.log(w))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // "big": 10 eligible rows (id 1-10, weight id*10), one zero-weight
    // and one null-weight row that must NOT count or be kept;
    // "small": 2 rows, under cap
    val rows = (1L to 10L).map(i => (i, "big", Some(i * 10.0))) ++
      Seq((90L, "big", Some(0.0)), (91L, "big", None),
        (92L, "big", Some(Double.NaN)),
        (20L, "small", Some(5.0)), (21L, "small", Some(1.0)))
    val df = rows.toDF("id", "stratum", "w")
    val out = Curation.weightedCapPerStratum(df, "id", "stratum", "w",
      cap = 3, salts = 4)
    val big = out.filter(col("stratum") === "big")
      .select("id", "wkey", "n_stratum").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val expect = (1L to 10L).map(i => i -> key(i, i * 10.0))
      .sortBy { case (i, k) => (k, i) }.take(3)
    assert(big.map(r => r._1 -> r._2).sortBy(_._1).toSeq ==
      expect.sortBy(_._1), s"got ${big.toSeq} want $expect")
    assert(big.forall(_._3 == 10L), "n_stratum counts ELIGIBLE rows only")
    val small = out.filter(col("stratum") === "small").collect()
    assert(small.length == 2, "under-cap stratum passes whole")
    assert(out.filter(col("id") >= 90L).count() == 0,
      "zero/null/NaN-weight rows are never kept (Spark orders NaN > 0)")
    // chaining a cap output (which keeps n_stratum) into another cap
    // fails loudly, not with AMBIGUOUS_REFERENCE
    assert(intercept[IllegalArgumentException] {
      Curation.capPerStratum(out, "id", "stratum", cap = 2)
    }.getMessage.contains("n_stratum"))
  }

  test("weightedCapPerStratum: raising a row's weight only improves its " +
    "rank (fixed u, key = ln(-ln(u)) - ln(w) decreasing in w)") {
    val base = (1L to 8L).map(i => (i, "s", 10.0)).toDF("id", "stratum", "w")
    val keptBase = Curation.weightedCapPerStratum(base, "id", "stratum",
      "w", cap = 3).select("id").collect().map(_.getLong(0)).toSet
    // boost one non-kept row's weight 1000x: it must enter the kept set
    val loser = (1L to 8L).find(!keptBase.contains(_)).get
    val boosted = (1L to 8L).map(i =>
      (i, "s", if (i == loser) 10000.0 else 10.0)).toDF("id", "stratum", "w")
    val keptBoost = Curation.weightedCapPerStratum(boosted, "id",
      "stratum", "w", cap = 3).select("id").collect().map(_.getLong(0)).toSet
    assert(keptBoost.contains(loser),
      s"boosting $loser 1000x must pull it into the top-3: $keptBoost")
    // and a kept row keeps its seat when its own weight rises
    val winner = keptBase.head
    val boosted2 = (1L to 8L).map(i =>
      (i, "s", if (i == winner) 10000.0 else 10.0)).toDF("id", "stratum", "w")
    val kept2 = Curation.weightedCapPerStratum(boosted2, "id", "stratum",
      "w", cap = 3).select("id").collect().map(_.getLong(0)).toSet
    assert(kept2.contains(winner))
  }

  test("snapshotDiff: four statuses; digest encoding is injective on " +
    "field boundaries and nulls") {
    val old = Seq(
      (1L, Some("a"), Some("b")),   // unchanged
      (2L, Some("x"), Some("y")),   // changed (content)
      (3L, Some("z"), Some("w")),   // removed
      (5L, Some("ab"), Some("")),   // vs ("a","b") — concat would alias
      (6L, None: Option[String], Some("c")), // vs ("N","c") null-alias
      (7L, Some(""), Some("q"))     // vs (null,"q") empty-vs-null
    ).toDF("id", "c1", "c2")
    val nw = Seq(
      (1L, Some("a"), Some("b")),
      (2L, Some("x"), Some("Y")),
      (4L, Some("n"), Some("n")),   // added
      (5L, Some("a"), Some("b")),
      (6L, Some("N"), Some("c")),
      (7L, None: Option[String], Some("q"))
    ).toDF("id", "c1", "c2")
    val st = Curation.snapshotDiff(old, nw, "id", Seq("c1", "c2"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "changed", 6L -> "changed", 7L -> "changed"))
  }

  test("weightedCapPerStratum: seeded randomized differential vs a " +
    "local A-ES reference (random weights across 9 decades — the " +
    "log-space key keeps discriminating where an absolute 1e-6 " +
    "quantization of -ln(u)/w collapsed every w >~ 1e5 key to 0)") {
    import java.security.MessageDigest
    def u(id: Long): Double = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0
    }
    def key(id: Long, w: Double): Double =
      BigDecimal(math.log(-math.log(u(id))) - math.log(w))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 3) {
      val n = 40 + rnd.nextInt(60)
      val rows = (1 to n).map { i =>
        (i.toLong, s"s${rnd.nextInt(4)}",
          math.pow(10.0, rnd.nextDouble() * 9.0 - 1.0))
      }
      val cap = 1 + rnd.nextInt(8)
      val got = Curation.weightedCapPerStratum(
          rows.toDF("id", "stratum", "w"), "id", "stratum", "w",
          cap, salts = 4)
        .select("stratum", "id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      // .toSeq first: flatMap over a Map with tuple results would
      // collapse back into a Map and keep one entry per stratum
      val want = rows.groupBy(_._2).toSeq.flatMap { case (st, rs) =>
        rs.map(r => (r._1, key(r._1, r._3)))
          .sortBy { case (i, k) => (k, i) }.take(cap)
          .map { case (i, _) => (st, i) }
      }.toSet
      assert(got == want,
        s"trial $trial (n=$n cap=$cap): missing=${want -- got} " +
          s"spurious=${got -- want}")
    }
  }

  test("snapshotDiff: seeded randomized differential vs a local diff " +
    "(values drawn from the digest-hostile alphabet)") {
    val rnd = new scala.util.Random(99)
    // values chosen to attack the length-prefix encoding: empty, the
    // null marker, separators, digit-leading strings
    val pool = Seq(null, "", "N", ":", "1:", "a", "ab", "2:ab", "a:b",
      "12", "1", ":a")
    def draw() = pool(rnd.nextInt(pool.length))
    for (trial <- 1 to 3) {
      val ids = (1L to 30L)
      val old = ids.filter(_ => rnd.nextBoolean()).map(i =>
        (i, draw(), draw()))
      val nw = ids.filter(_ => rnd.nextBoolean()).map(i =>
        (i, draw(), draw()))
      val got = Curation.snapshotDiff(
          old.toDF("id", "c1", "c2"), nw.toDF("id", "c1", "c2"),
          "id", Seq("c1", "c2"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val om = old.map(r => r._1 -> ((r._2, r._3))).toMap
      val nm = nw.map(r => r._1 -> ((r._2, r._3))).toMap
      val want = (om.keySet ++ nm.keySet).map { i =>
        i -> ((om.get(i), nm.get(i)) match {
          case (None, Some(_)) => "added"
          case (Some(_), None) => "removed"
          case (Some(a), Some(b)) if a == b => "unchanged"
          case _ => "changed"
        })
      }.toMap
      assert(got == want, s"trial $trial: ${got.toSet -- want.toSet} vs " +
        s"${want.toSet -- got.toSet}")
    }
  }

  test("snapshotDiff: null ids compare null-safely — one row, not a " +
    "spurious added+removed pair") {
    val old = Seq((Some(1L), "a"), (None: Option[Long], "same"))
      .toDF("id", "c1")
    val nw = Seq((Some(1L), "a"), (None: Option[Long], "same"))
      .toDF("id", "c1")
    val out = Curation.snapshotDiff(old, nw, "id", Seq("c1")).collect()
    assert(out.length == 2, s"expected 2 rows, got ${out.toSeq}")
    val nullRow = out.find(_.isNullAt(0)).get
    assert(nullRow.getString(1) == "unchanged")
  }

  test("chunkSliding: hand case — overlap windows, short tail dropped, " +
    "single short doc keeps its only window") {
    val df = Seq(
      (1L, (1 to 10).map(_.toString)), // 10 tokens
      (2L, Seq("a", "b"))) // shorter than minTail, but the only window
      .toDF("id", "toks")
    val out = Curation.chunkSliding(df, "id", "toks",
        chunkLen = 4, stride = 3, minTail = 3)
      .orderBy("id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[String](3), r.getInt(4)))
    // doc 1 starts: 0,3,6,9; start=9 yields 1 token < minTail=3 -> drop
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, Seq("1", "2", "3", "4"), 4),
      (1L, 1L, 3L, Seq("4", "5", "6", "7"), 4),
      (1L, 2L, 6L, Seq("7", "8", "9", "10"), 4),
      (2L, 0L, 0L, Seq("a", "b"), 2)))
    // null AND empty token arrays produce NO chunks (not a phantom
    // zero-length window)
    val degenerate = Seq((3L, null.asInstanceOf[Seq[String]]),
      (4L, Seq.empty[String])).toDF("id", "toks")
    assert(Curation.chunkSliding(degenerate, "id", "toks", 4, 3, 1)
      .count() == 0)
    // id-name collision with a working column fails loudly
    val e = intercept[IllegalArgumentException] {
      Curation.chunkSliding(df.withColumnRenamed("id", "start"),
        "start", "toks", 4, 3, 1)
    }
    assert(e.getMessage.contains("collides"))
  }

  test("chunkSliding: randomized vs in-memory sliding windows; every " +
    "token covered when stride <= chunkLen (seeded)") {
    val rnd = new scala.util.Random(2311L)
    for (trial <- 1 to 8) {
      val chunkLen = 1 + rnd.nextInt(12)
      val stride = 1 + rnd.nextInt(chunkLen)
      val minTail = 1 + rnd.nextInt(chunkLen)
      val docs = (1L to 20L).map(i =>
        (i, Seq.fill(rnd.nextInt(40))(s"t${rnd.nextInt(9)}")))
      // in-memory reference with identical semantics (empty docs
      // yield nothing)
      val want = docs.filter(_._2.nonEmpty).flatMap { case (id, toks) =>
        val n = toks.size
        (0 until n by stride).map { st =>
          (id, (st / stride).toLong, st.toLong,
            toks.slice(st, st + chunkLen))
        }.filter { case (_, _, st, ch) => st == 0 || ch.size >= minTail }
      }.sorted(Ordering.by((t: (Long, Long, Long, Seq[String])) =>
        (t._1, t._2)))
      val got = Curation.chunkSliding(docs.toDF("id", "toks"), "id",
          "toks", chunkLen, stride, minTail)
        .orderBy("id", "chunk_idx")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[String](3)))
      assert(got.toSeq == want,
        s"trial $trial (len=$chunkLen stride=$stride tail=$minTail)")
      // coverage: with minTail=1 no window drops, and stride <=
      // chunkLen makes consecutive windows contiguous — every token
      // index is covered
      if (minTail == 1) docs.foreach { case (id, toks) =>
        val covered = got.filter(_._1 == id).flatMap(t =>
          t._3.toInt until (t._3.toInt + t._4.size)).toSet
        assert(toks.indices.forall(covered), s"doc $id has coverage gaps")
      }
    }
  }
}
