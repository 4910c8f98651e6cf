package graft

import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.engine.Core
import graft.streaming.Streams
import graft.Query.T

/** Driver-verifiable streaming rows (VERDICT r6/r7: Streams.scala was the
  * only component with zero DuckDB-anchored evidence).
  *
  * q_stream_sessionize replays the events table through a REAL
  * Structured Streaming query — file source, micro-batches, event-time
  * watermark, flatMapGroupsWithState with event-time timeouts, parquet
  * sink — and returns the closed sessions, which must equal the batch
  * gap-sessionization the DuckDB oracle computes. Determinism argument:
  * the replay is split into two time-ordered micro-batches (so state
  * genuinely crosses a batch boundary) plus a far-future flush sentinel
  * that drives the watermark past every open session; because batch
  * boundaries are aligned with event time, no event is ever late, and a
  * session can only time out when no in-gap successor exists (the
  * successor would have to carry ts < watermark + gap, impossible when
  * the next batch's minimum ts exceeds watermark + delay). So the
  * streaming output is batch-equivalent BY CONSTRUCTION, not by luck —
  * the same argument that makes the operator correct on an unbounded
  * production stream where the watermark advances monotonically.
  */
object StreamQueries {

  val queries: Seq[Query] = Seq(
    Query("q_stream_sessionize", streamSessionize,
      // batch gap-sessionization (same 30-min gap as q_sessionize),
      // aggregated per session
      """WITH o AS (SELECT user_id, event_id, ts, value,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                     > 30*60*1000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (SELECT user_id, ts, value,
           sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
         FROM o)
       SELECT user_id, min(ts) AS session_start,
         count(*) AS n_events,
         round(sum(value) + 1e-9, 4) AS sum_value
       FROM s GROUP BY user_id, sid
       ORDER BY user_id, session_start"""),

    Query("q_stream_dedup", streamDedup,
      // streaming dedup survivors == batch exact dedup (min doc_id per
      // content group)
      """SELECT min(doc_id) AS doc_id, md5(text) AS fp
       FROM documents GROUP BY text ORDER BY doc_id"""),

    Query("q_stream_dedup_fuzzy", streamDedupFuzzy,
      // streaming fuzzy dedup decisions == the batch LSH candidate
      // relation: doc d is a near-dup iff an EARLIER doc (ids are
      // time-ordered in the replay) shares any minhash band key. The
      // minhash arithmetic mirrors q_dedup_minhash's oracle: one md5 per
      // distinct 3-shingle, 60-bit halves a/b, hash i = a + i*b, band i
      // holds hashes (2i, 2i+1).
      """WITH words AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents WHERE text IS NOT NULL),
         s0 AS (SELECT doc_id,
                  CASE WHEN len(w) >= 3 THEN
                    list_transform(generate_series(0, len(w)-3),
                                   i -> array_to_string(w[i+1:i+3], ' '))
                  ELSE [array_to_string(w, ' ')] END AS shl
                FROM words),
         sh AS (SELECT DISTINCT doc_id, unnest(shl) AS s FROM s0),
         hh AS (SELECT doc_id,
                  ('0x' || substr(md5(s), 1, 15))::BIGINT AS a,
                  ('0x' || substr(md5(s), 17, 15))::BIGINT AS b
                FROM sh),
         mh AS (SELECT doc_id, bb.band,
                  min(a + (bb.band*2) * b) AS h0,
                  min(a + (bb.band*2+1) * b) AS h1
                FROM hh, (SELECT unnest(generate_series(0, 3)) AS band) bb
                GROUP BY 1, 2),
         dup AS (SELECT DISTINCT c.doc_id
                 FROM mh a JOIN mh c
                   ON a.band = c.band AND a.h0 = c.h0 AND a.h1 = c.h1
                  AND a.doc_id < c.doc_id)
         SELECT m.doc_id,
           m.doc_id IN (SELECT doc_id FROM dup) AS is_dup
         FROM (SELECT DISTINCT doc_id FROM mh) m ORDER BY doc_id"""),

    Query("q_stream_window", streamWindow,
      // finalized tumbling windows == batch hour-truncated aggregate
      """SELECT date_trunc('hour', ts) AS wstart, user_id,
         count(*) AS n, round(sum(value) + 1e-9, 4) AS sum_value,
         round(avg(value) + 1e-9, 4) AS mean_value
       FROM events GROUP BY 1, 2 ORDER BY wstart, user_id"""),

    Query("q_stream_runmean", streamRunMean,
      // final running-mean state per key == batch per-user mean
      """SELECT user_id, count(*) AS n,
         round(sum(value) / count(*) + 1e-9, 4) AS mean_value
       FROM events GROUP BY user_id ORDER BY user_id"""),

    Query("q_stream_interval_join", streamIntervalJoin,
      // stream-stream interval join == the batch attribution join:
      // every purchase matched to same-user clicks in the trailing hour
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
         p.user_id AS user_id
       FROM events p JOIN events c
         ON p.event_type = 'purchase' AND c.event_type = 'click'
        AND p.user_id = c.user_id
        AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
       ORDER BY purchase_id, click_id"""),

    Query("q_stream_token_budget", streamTokenBudget,
      // streaming budget fill == the batch prefix rule in arrival
      // (= doc_id) order: kept iff the per-lang running total incl.
      // self stays <= 10000
      """SELECT doc_id, lang AS stratum,
         CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens,
         CASE WHEN sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 10000
           THEN 1 ELSE 0 END AS kept
       FROM documents ORDER BY doc_id"""),

    Query("q_stream_decontam", streamDecontam,
      // stateless streaming decontamination == the batch operator: the
      // oracle IS q_decontam's, shared by reference so the shingle
      // definition can never desynchronize between the two rows
      PipelineQueries2.DecontamSql),

    Query("q_stream_heavy_hitters", streamHeavyHitters,
      // streaming bucket-sharded Misra-Gries in the EXACT regime
      // (5 langs << k): final summaries == the batch groupBy counts,
      // same oracle as the batch q_heavy_hitters row
      PipelineQueries4.HeavyHittersSql))

  /** Phase timing for the replay harness, printed only when
    * GRAFT_STREAM_PROFILE is set — the rows are harness-dominated, so
    * knowing WHERE the seconds go (staging writes vs micro-batch run
    * vs sink read) is the difference between optimizing and guessing. */
  private def prof[A](label: String)(f: => A): A =
    if (sys.env.contains("GRAFT_STREAM_PROFILE")) {
      val t0 = System.nanoTime()
      val out = f
      System.err.println(
        f"[stream-prof] $label%-20s ${(System.nanoTime() - t0) / 1e9}%.3fs")
      out
    } else f

  /** Replay scratch space (staging files, checkpoints, sink): prefer
    * the tmpfs at /dev/shm — streaming checkpoints are many small
    * fsync-heavy writes, worth ~1s/query on ext4 /tmp. Production
    * deployments point checkpointLocation at durable storage; this is
    * bench/verify harness plumbing only. */
  private def scratchDir(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm))
      Files.createTempDirectory(shm, prefix)
    else Files.createTempDirectory(prefix)
  }

  /** Synthetic replay event time for documents rows: epoch + doc_id
    * seconds, so event-time order == id order and an id-split replay
    * is time-ordered by construction. */
  private def replayTs: org.apache.spark.sql.Column =
    timestamp_seconds(lit(1700000000L) + col("doc_id"))

  /** The shared documents-replay protocol: split `docs` into two
    * id-ordered halves, stage them as a 2-micro-batch file replay
    * under `base`, and open the file stream (1 file per trigger).
    * Every documents-table streaming row uses this, so the batch-
    * boundary semantics cannot drift between rows. */
  private def replayByIdHalves(base: java.nio.file.Path,
                               docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val midId = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val inDir = stageReplay(base, Seq(
      docs.filter(col("doc_id") <= midId),
      docs.filter(col("doc_id") > midId)))
    spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
  }

  /** Stage `splits` as one parquet FILE per micro-batch, mtime-ordered
    * (FileStreamSource processes files by modification time), under
    * `base/in`. Returns the input dir path. */
  private def stageReplay(base: java.nio.file.Path,
                          splits: Seq[DataFrame]): String = prof("stage") {
    val inDir = base.resolve("in")
    Files.createDirectories(inDir)
    val now = System.currentTimeMillis()
    // the per-split write JOBS run concurrently (Spark interleaves
    // independent jobs, so staging costs ~one job instead of N serial
    // ones); each split keeps its own coalesce(1) single-task write so
    // the staged file's ROW ORDER stays exactly the source order —
    // a union+repartition single-job form would shuffle row order
    // inside each staged file and change what order-sensitive stateful
    // operators see within a micro-batch. Batch identity comes from
    // the deterministic per-index mtime, not job completion order.
    Core.runConcurrently(splits.zipWithIndex, cap = 4) { case (df, i) =>
      val stage = base.resolve(s"stage_b$i").toString
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file in $stage"))
      val dst = inDir.resolve(f"b$i%03d.parquet")
      Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(now - 60000L + i * 20000L)
    }
    inDir.toString
  }

  /** Run an AvailableNow streaming query (1 staged file per trigger) to
    * a parquet sink and return the sink contents.
    *
    * State-store partition count: each micro-batch checkpoints every
    * state partition, so the session's batch-tuned
    * `spark.sql.shuffle.partitions` (32) multiplies into 32 store dirs
    * × N batches of tiny files. The replay data is bench-scale, so the
    * streaming queries run under a temporarily lowered setting (the
    * conf is read at query START and baked into the checkpoint; it is
    * restored right after `start()` returns, so concurrent batch plans
    * are unaffected). Real deployments size this to the stream's key
    * cardinality instead. */
  private def runToParquet(base: java.nio.file.Path,
                           out: DataFrame): DataFrame = {
    val spark = out.sparkSession
    val outDir = base.resolve("out").toString
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val q = try {
      spark.conf.set(key, "4")
      out.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
    } finally spark.conf.set(key, prev)
    prof("run")(q.awaitTermination())
    if (sys.env.contains("GRAFT_STREAM_PROFILE"))
      q.recentProgress.foreach(p => System.err.println(
        s"[stream-prof]   batch ${p.batchId}: ${p.durationMs}"))
    spark.read.parquet(outDir)
  }

  private def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = T(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("value"))

    val base = scratchDir("q_stream_sessionize")
    // Two halves split at the event-time midpoint (so session state
    // genuinely crosses a batch boundary), then a flush sentinel one
    // day after the max so the watermark passes every open session's
    // timeout.
    val row = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val lo = row.getTimestamp(0)
    val hi = row.getTimestamp(1)
    val midMs = lo.getTime + (hi.getTime - lo.getTime) / 2
    val mid = new java.sql.Timestamp(midMs)
    val sentinel = Seq((-1L,
      new java.sql.Timestamp(hi.getTime + 24L * 3600 * 1000), 0.0))
      .toDF("user_id", "ts", "value")
    val inDir = stageReplay(base, Seq(
      ev.filter(col("ts") <= lit(mid)),
      ev.filter(col("ts") > lit(mid)),
      sentinel))

    val src = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .as[Streams.SessionEvent]
    val sessions = Streams.sessionize(src, gapMs = 30L * 60 * 1000,
      watermark = "10 minutes")
    runToParquet(base, sessions.toDF())
      .filter(col("closed") && col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("n_events"),
        Core.r(col("sum_value"), 4).as("sum_value"))
      .orderBy("user_id", "session_start")
  }

  /** Tumbling event-time windowed aggregate replayed over events: in
    * append mode only watermark-finalized windows are emitted, so a
    * far-future flush sentinel drives every real window closed (its own
    * window stays open and is never emitted — filtered defensively
    * anyway). Finalized windows must equal the batch hour-truncated
    * aggregate exactly. */
  private def streamWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = T(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("value"))
    val base = scratchDir("q_stream_window")
    val row = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val mid = new java.sql.Timestamp(
      row.getTimestamp(0).getTime +
        (row.getTimestamp(1).getTime - row.getTimestamp(0).getTime) / 2)
    val sentinel = Seq((-1L,
      new java.sql.Timestamp(row.getTimestamp(1).getTime +
        24L * 3600 * 1000), 0.0))
      .toDF("user_id", "ts", "value")
    val inDir = stageReplay(base, Seq(
      ev.filter(col("ts") <= lit(mid)),
      ev.filter(col("ts") > lit(mid)),
      sentinel))
    val src = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val agg = Streams.windowedStats(src, "1 hour", "10 minutes")
    runToParquet(base, agg)
      .filter(col("user_id") >= 0)
      .select(col("window.start").as("wstart"), col("user_id"),
        col("n"), Core.r(col("sum_value"), 4).as("sum_value"),
        Core.r(col("mean_value"), 4).as("mean_value"))
      .orderBy("wstart", "user_id")
  }

  /** Running per-key mean via mapGroupsWithState in UPDATE mode to a
    * memory sink (parquet cannot take updates): every micro-batch emits
    * each touched key's current (n, mean); the final state per key is
    * the emission with the largest n (n grows monotonically), which
    * must equal the batch per-user mean. Two time-split batches prove
    * the state accumulates across batch boundaries; no sentinel needed
    * since every batch emits current state. */
  private def streamRunMean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = T(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("value"))
    val base = scratchDir("q_stream_runmean")
    val row = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val mid = new java.sql.Timestamp(
      row.getTimestamp(0).getTime +
        (row.getTimestamp(1).getTime - row.getTimestamp(0).getTime) / 2)
    val inDir = stageReplay(base, Seq(
      ev.filter(col("ts") <= lit(mid)),
      ev.filter(col("ts") > lit(mid))))
    val src = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .as[Streams.SessionEvent]
    val table = s"runmean_${base.getFileName.toString.replaceAll("[^a-zA-Z0-9_]", "_")}"
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val q = try { // same state-partition note as runToParquet
      spark.conf.set(key, "4")
      Streams.runningMean(src).toDF().writeStream
        .format("memory")
        .queryName(table)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
    } finally spark.conf.set(key, prev)
    q.awaitTermination()
    spark.table(table)
      .groupBy(col("key").as("user_id"))
      .agg(max(col("n")).as("n"),
        Core.r(max_by(col("mean"), col("n")), 4).as("mean_value"))
      .orderBy("user_id")
  }

  /** Streaming exact dedup with audit trail, replayed over the documents
    * table (deterministic synthetic event time = doc_id seconds, so
    * "first occurrence" == min doc_id, the batch survivor rule) and
    * compared against the batch group-by-content oracle. Two
    * micro-batches prove the fingerprint state carries across batch
    * boundaries; the audit handler orders within-batch arrivals by
    * (ts, doc_id), so survivors are deterministic. */
  private def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"),
        replayTs.as("ts"), col("text"))
    val base = scratchDir("q_stream_dedup")
    val src = replayByIdHalves(base, docs).as[Streams.StreamDoc]
    val decisions = Streams.streamingDedupAudit(src,
      ttlMs = 10L * 365 * 24 * 3600 * 1000, watermark = "10 minutes")
    runToParquet(base, decisions.toDF())
      .filter(col("is_first"))
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** Streaming fuzzy dedup replay: documents as a two-micro-batch
    * time-ordered stream (ts = epoch + doc_id like [[streamDedup]]),
    * per-(doc, band) decisions from the (band, key)-keyed state op,
    * folded to the per-doc flag with a stateless bool_or at the sink.
    * Batch-equivalence: ids are time-ordered, so `matched` ⇔ an
    * earlier-id doc shares the band key — exactly the oracle's EXISTS. */
  private def streamDedupFuzzy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"),
        replayTs.as("ts"), col("text"))
    val base = scratchDir("q_stream_dedup_fuzzy")
    val src = replayByIdHalves(base, docs).as[Streams.StreamDoc]
    val decisions = Streams.streamingDedupFuzzy(src,
      ttlMs = 10L * 365 * 24 * 3600 * 1000, watermark = "10 minutes")
    runToParquet(base, decisions.toDF())
      .groupBy("doc_id")
      .agg(expr("bool_or(matched)").as("is_dup"))
      .orderBy("doc_id")
  }

  /** Stream-stream interval join (click -> purchase attribution within
    * the trailing hour) replayed over events split into two time-ordered
    * micro-batches — clicks arriving in batch 1 must still match
    * purchases arriving in batch 2 (the symmetric-hash-join state
    * carries across the batch boundary; the generous watermark keeps
    * boundary-straddling lookback windows alive for the whole replay).
    * Inner matches emit in append mode as soon as both sides are
    * present; the result must equal the batch attribution join. */
  private def streamIntervalJoin(spark: SparkSession, dir: String)
      : DataFrame = {
    val ev = T(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"))
    val base = scratchDir("q_stream_ivj")
    val row = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val mid = new java.sql.Timestamp(
      row.getTimestamp(0).getTime +
        (row.getTimestamp(1).getTime - row.getTimestamp(0).getTime) / 2)
    val inDir = stageReplay(base, Seq(
      ev.filter(col("ts") <= lit(mid)),
      ev.filter(col("ts") > lit(mid))))
    val src = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val joined = Streams.intervalJoin(
      src.filter(col("event_type") === "click"),
      src.filter(col("event_type") === "purchase"),
      lookbackSec = 3600L, watermark = "24 hours")
    runToParquet(base, joined)
      .select(col("r_id").as("purchase_id"), col("l_id").as("click_id"),
        col("r_key").as("user_id"))
      .orderBy("purchase_id", "click_id")
  }

  /** Per-lang token-budget enforcement replayed as two time-ordered
    * micro-batches (ts = epoch + doc_id, so arrival order == id
    * order): the per-stratum running total must carry across the batch
    * boundary — a stratum that exhausts its budget in batch 1 must
    * keep rejecting in batch 2. The oracle is the batch prefix rule:
    * kept iff the id-ordered running token total including self stays
    * <= budget. */
  private def streamTokenBudget(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"),
        replayTs.as("ts"),
        col("lang").as("stratum"), col("n_chars").cast("long").as("tokens"))
    val base = scratchDir("q_stream_token_budget")
    val src = replayByIdHalves(base, docs).as[Streams.BudgetDoc]
    val decisions = Streams.streamingTokenBudget(src, budget = 10000L)
    runToParquet(base, decisions.toDF())
      .select(col("doc_id"), col("stratum"), col("cum_tokens"),
        col("kept").cast("int").as("kept"))
      .orderBy("doc_id")
  }

  /** Stateless streaming decontamination replayed as two micro-batches:
    * the src0 documents are the static eval suite, every other doc
    * streams through the broadcast gram filter. Statelessness makes
    * batch-equivalence trivial (a pure map commutes with batching) —
    * the row pins exactly that: the replay output must equal the batch
    * [[graft.pipeline.Curation.decontaminate]] oracle row-for-row. */
  private def streamDecontam(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"),
        replayTs.as("ts"), col("text"), col("source"))
    val bench = docs.filter(col("source") === "src0")
    val train = docs.filter(col("source") =!= "src0")
    val base = scratchDir("q_stream_decontam")
    val src = replayByIdHalves(base, train)
    val flagged = Streams.streamingDecontaminate(src, bench, "text", k = 3)
    runToParquet(base, flagged
        .select(col("doc_id"), col("n_contaminated"),
          col("contaminated").cast("int").as("contaminated")))
      .orderBy("doc_id")
  }

  /** Streaming heavy hitters replayed over the documents table in two
    * id-ordered micro-batches (state must carry a bucket's summary
    * across the boundary). The memory sink accumulates every batch's
    * emissions; each bucket's LATEST version is its final summary, and
    * buckets partition the item space so a union is the global answer.
    * k=64 >> 5 langs keeps every bucket exact — the oracle is the same
    * batch groupBy count as q_heavy_hitters. */
  private def streamHeavyHitters(spark: SparkSession,
                                 dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val base = scratchDir("q_stream_hh")
    val src = replayByIdHalves(base, docs)
    val table = s"hh_${base.getFileName.toString.replaceAll("[^a-zA-Z0-9_]", "_")}"
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val q = try { // same state-partition note as runToParquet
      spark.conf.set(key, "4")
      Streams.streamingHeavyHitters(src, "lang", k = 64, buckets = 8)
        .toDF().writeStream
        .format("memory")
        .queryName(table)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
    } finally spark.conf.set(key, prev)
    q.awaitTermination()
    Streams.hhLatest(spark.table(table))
      .orderBy(col("est_count").desc, col("item"))
  }
}
