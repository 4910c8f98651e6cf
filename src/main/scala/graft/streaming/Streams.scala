package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming counterparts of the engine's stream-shaped batch
  * ops (sessionization, windowed aggregation, running state).
  *
  * The reference is batch-only (SURVEY.md §2.11) — this module is the
  * forward-looking surface a 100 TB training-data pipeline needs when the
  * same tables arrive as streams: `readStream` -> these transforms ->
  * `writeStream`, with event-time watermarks bounding state.
  *
  * Scale notes: all operators here are keyed by user/session, so state is
  * hash-partitioned across executors; watermarks bound state size; and
  * every aggregation is incremental (no per-batch recomputation).
  */
object Streams {

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionUpdate(user_id: Long, session_start: java.sql.Timestamp,
                           n_events: Long, sum_value: Double, closed: Boolean)
  /** start/lastTs in MICROS since epoch: `Timestamp.getTime` is millis
    * and truncating would mis-judge gap comparisons that land within
    * 1ms of the boundary (the batch q_sessionize compares exact µs). */
  case class SessionState(start: Long, lastTs: Long, n: Long, sum: Double)

  private def usOf(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def tsOfUs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Tumbling event-time windowed aggregate with a watermark — the
    * streaming form of `groupBy(user).rolling(time)` aggregation.
    * Late rows beyond `watermark` are dropped; state for closed windows
    * is evicted automatically. */
  def windowedStats(events: DataFrame, windowDur: String, watermark: String,
                    tsCol: String = "ts", keyCol: String = "user_id",
                    valCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(valCol).as("sum_value"),
        avg(valCol).as("mean_value"))

  /** Watermarked stream-stream interval join — the attribution shape
    * (each `right` row joined to `left` rows of the same key whose
    * event time falls in `[r.ts - lookbackSec, r.ts]`). Both sides
    * carry the watermark and the join condition bounds both event
    * times, so Spark's symmetric hash join evicts left-side state once
    * the watermark passes `ts + lookbackSec` — state is
    * O(key-rate x lookback), never the full stream. Inner-join matches
    * emit as soon as both sides arrive (append mode), including across
    * micro-batches while the older side is still within the watermark
    * horizon. Columns are prefixed `l_`/`r_` to keep the output
    * self-describing. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   lookbackSec: Long, watermark: String,
                   tsCol: String = "ts", keyCol: String = "user_id")
      : DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("l_key"), col(tsCol).as("l_ts"),
        col("event_id").as("l_id"))
    val r = right.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("r_key"), col(tsCol).as("r_ts"),
        col("event_id").as("r_id"))
    r.join(l,
      col("l_key") === col("r_key") &&
        col("l_ts") <= col("r_ts") &&
        col("l_ts") >= col("r_ts") - expr(s"INTERVAL $lookbackSec SECONDS"))
  }

  /** Gap-based sessionization with explicit state: the streaming
    * equivalent of the batch `q_sessionize` query. A session closes when
    * no event arrives within `gapMs` of the last one. Closure is driven
    * by EVENT-time timeouts against the watermark — deterministic and
    * replayable, no wall-clock dependence (a processing-time timeout
    * would also busy-loop micro-batches while armed). */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long,
                 watermark: String = "10 minutes"): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (user: Long, it: Iterator[SessionEvent],
         state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(user, tsOfUs(s.start),
              s.n, s.sum, closed = true))
          } else {
            val sorted = it.toSeq.sortBy(e => usOf(e.ts))
            var out = List.empty[SessionUpdate]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = usOf(e.ts)
              cur match {
                case Some(s) if t - s.lastTs <= gapUs =>
                  cur = Some(s.copy(lastTs = t, n = s.n + 1, sum = s.sum + e.value))
                case Some(s) => // gap exceeded: close previous, open new
                  out ::= SessionUpdate(user, tsOfUs(s.start),
                    s.n, s.sum, closed = true)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close when the watermark passes lastTs + gap (timeout
              // API is millis; round UP so a µs-straddling boundary
              // never closes a session the exact comparison would keep)
              state.setTimeoutTimestamp(
                math.ceil((s.lastTs + gapUs) / 1000.0).toLong)
            }
            out.reverseIterator
          }
        })
  }

  case class StreamDoc(doc_id: Long, ts: java.sql.Timestamp, text: String)
  case class DedupDecision(doc_id: Long, fp: String, is_first: Boolean)

  /** Streaming exact dedup, watermark-bounded: the streaming form of
    * [[graft.pipeline.Dedup.exact]]. Keys state by the content md5 (never
    * the document body — state stays 32 bytes/doc) and drops re-arrivals
    * while the fingerprint is in state; the event-time watermark bounds
    * state ([[org.apache.spark.sql.Dataset.dropDuplicatesWithinWatermark]]
    * semantics, which this wraps). At 100 TB-stream scale the state store
    * is hash-partitioned by fingerprint, so dedup is shuffle-once and
    * embarrassingly parallel. */
  def streamingDedupExact(docs: Dataset[StreamDoc],
                          watermark: String = "10 minutes"): DataFrame =
    docs.toDF()
      .withColumn("fp", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming dedup with an explicit audit trail: emits EVERY document
    * tagged `is_first`, instead of silently dropping duplicates —
    * flatMapGroupsWithState keyed by fingerprint, with event-time TTL
    * eviction (state removed once the watermark passes the last
    * occurrence + `ttlMs`). Downstream writers filter `is_first` for the
    * deduped stream and aggregate the rest for dup-rate monitoring. */
  def streamingDedupAudit(docs: Dataset[StreamDoc], ttlMs: Long,
                          watermark: String = "10 minutes"): Dataset[DedupDecision] = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("fp", md5(col("text")))
      // the body never rides the state shuffle — only (id, ts, fp)
      .select(col("doc_id"), col("ts"), col("fp"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (fp: String, it: Iterator[(Long, java.sql.Timestamp, String)],
         state: GroupState[Long]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val docs = it.toSeq.sortBy(t => (t._2.getTime, t._1))
            val seen = state.getOption.isDefined
            val out = docs.zipWithIndex.map { case (d, i) =>
              DedupDecision(d._1, fp, is_first = !seen && i == 0)
            }
            val lastTs = docs.map(_._2.getTime).max
            state.update(lastTs)
            state.setTimeoutTimestamp(lastTs + ttlMs)
            out.iterator
          }
        })
  }

  /** One near-dup decision per (doc, band): `matched` = this band key
    * was seen on an EARLIER doc. Fold per doc with max(matched). */
  case class FuzzyDecision(doc_id: Long, band: Int, matched: Boolean)

  /** Streaming FUZZY (MinHash-LSH) dedup — the streaming form of
    * [[graft.pipeline.Dedup.minhashLshIncrementalPairs]]'s candidate
    * semantics: a document is a near-dup candidate iff ANY of its LSH
    * band keys was seen on an earlier document. State is keyed by
    * (band, key) — hash-partitioned across executors like the batch
    * equi-join — and holds only the last-seen event time (the
    * signature kernel runs map-side per micro-batch; document text
    * never enters state). Within a micro-batch, docs sharing a key
    * order by (ts, doc_id), so replaying time-ordered batches is
    * batch-equivalent by construction: `matched` for doc d under key
    * bk ⇔ some doc with smaller (ts, id) carries bk — independent of
    * where batch boundaries fall. Event-time TTL bounds state like the
    * exact [[streamingDedupAudit]]. Emits per-(doc, band) decisions in
    * Append mode; the per-doc flag is a stateless fold at the sink
    * (chaining a second stateful aggregate would force Update mode).
    * Null-text docs have no signature and emit NO decision (they can
    * never collide) — a batch oracle must exclude them too. */
  def streamingDedupFuzzy(docs: Dataset[StreamDoc], ttlMs: Long,
                          k: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                          watermark: String = "10 minutes")
      : Dataset[FuzzyDecision] = {
    import docs.sparkSession.implicits._
    val nh = bands * rowsPerBand
    val sigs = docs.toDF()
      .select(col("doc_id"), col("ts"),
        graft.pipeline.Dedup.minhashSigUdf(k, nh)(
          graft.pipeline.TextAnalysis.tokens(col("text"))).as("sig"))
      .filter(col("sig").isNotNull)
    val bandCols = (0 until bands).map { bd =>
      struct(lit(bd).as("band"),
        concat_ws(",", (0 until rowsPerBand).map(r =>
          col("sig")(bd * rowsPerBand + r).cast("string")): _*).as("key"))
    }
    sigs.select(col("doc_id"), col("ts"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("ts"), col("bk.band").as("band"),
        col("bk.key").as("key"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Int, String)]
      .groupByKey(t => (t._3, t._4))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (bk: (Int, String), it: Iterator[(Long, java.sql.Timestamp, Int, String)],
         state: GroupState[Long]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val ds = it.toSeq.sortBy(t => (t._2.getTime, t._1))
            val seen = state.getOption.isDefined
            val out = ds.zipWithIndex.map { case (d, i) =>
              FuzzyDecision(d._1, bk._1, matched = seen || i > 0)
            }
            val lastTs = ds.map(_._2.getTime).max
            state.update(lastTs)
            state.setTimeoutTimestamp(lastTs + ttlMs)
            out.iterator
          }
        })
  }

  /** Running per-key mean via mapGroupsWithState — the streaming form of
    * `groupby(key).transform('mean')` kept incrementally up to date. */
  case class KeyMean(key: Long, n: Long, mean: Double)
  case class MeanState(n: Long, sum: Double)

  def runningMean(events: Dataset[SessionEvent]): Dataset[KeyMean] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[SessionEvent], state: GroupState[MeanState]) => {
          val prev = state.getOption.getOrElse(MeanState(0L, 0.0))
          var n = prev.n; var sum = prev.sum
          it.foreach { e => n += 1; sum += e.value }
          state.update(MeanState(n, sum))
          KeyMean(user, n, sum / n)
        })
  }

  case class BudgetDoc(doc_id: Long, ts: java.sql.Timestamp,
                       stratum: String, tokens: Long)
  case class BudgetDecision(doc_id: Long, stratum: String,
                            cum_tokens: Long, kept: Boolean)

  /** Streaming per-stratum token-budget enforcement — the streaming
    * form of [[graft.pipeline.Curation.tokenBudget]] with ARRIVAL
    * order (event time, then id) as the priority: each stratum
    * accumulates every arriving doc's tokens and a doc is `kept` iff
    * the running total INCLUDING it stays within `budget` (the batch
    * op's prefix rule — a kept doc is never truncated). Emits every
    * doc with its decision (audit shape, like [[streamingDedupAudit]]);
    * downstream writers filter `kept`.
    *
    * State is ONE Long per stratum — bounded by the stratum
    * cardinality (languages/sources/domains), not the stream — so no
    * TTL is needed: the budget is a lifetime quota and must survive
    * arbitrarily late arrivals. Replaying time-ordered batches is
    * batch-equivalent because the running total is
    * order-deterministic: within a micro-batch docs sort by
    * (ts, doc_id), and across batches the replay is time-ordered. */
  def streamingTokenBudget(docs: Dataset[BudgetDoc],
                           budget: Long): Dataset[BudgetDecision] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.stratum)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (st: String, it: Iterator[BudgetDoc], state: GroupState[Long]) => {
          var cum = state.getOption.getOrElse(0L)
          val out = it.toSeq.sortBy(d => (usOf(d.ts), d.doc_id)).map { d =>
            cum += d.tokens
            BudgetDecision(d.doc_id, st, cum, kept = cum <= budget)
          }
          state.update(cum)
          out.iterator
        })
  }

  /** STATELESS streaming benchmark decontamination — the streaming
    * form of [[graft.pipeline.Curation.decontaminate]]: flag arriving
    * documents that share a word `k`-gram with a STATIC eval corpus.
    * The bench gram set is collected once (size-guarded — eval suites
    * are bounded by construction; above the cap, fail loudly rather
    * than ship an unbounded broadcast) and broadcast to executors, so
    * each micro-batch is a pure map over the scan: per doc, distinct
    * shingles ∩ bench set. Zero state, zero shuffle, no watermark
    * needed — the right shape for filtering an ingest stream against
    * benchmarks at any rate. Shingling is [[graft.pipeline.Dedup
    * .shingles]], identical to the batch op, so replay output equals
    * the batch result row-for-row. */
  def streamingDecontaminate(docs: DataFrame, bench: DataFrame,
                             textCol: String = "text", k: Int = 3,
                             maxBenchGrams: Int = 5000000): DataFrame = {
    import graft.pipeline.{Dedup, TextAnalysis}
    val spark = docs.sparkSession
    // words PRE-MATERIALIZED per Dedup.shinglesFromWords' contract: an
    // inline split inside the shingle HOF re-runs the regex per element
    val benchGrams = bench
      .withColumn("__w", TextAnalysis.tokens(col(textCol)))
      .select(explode(Dedup.shinglesFromWords(col("__w"), k)).as("g"))
      .distinct()
    // ONE bounded job: collect at most maxBenchGrams+1 rows, then check
    // the length — memory stays capped without running the explode +
    // distinct aggregation twice (probe-then-collect would)
    val collected = benchGrams.limit(maxBenchGrams + 1).collect()
    require(collected.length <= maxBenchGrams,
      s"streamingDecontaminate: bench corpus has > $maxBenchGrams " +
        "distinct grams — too large to broadcast; decontaminate the " +
        "stored corpus with Curation.decontaminate's equi-join instead")
    val b = spark.sparkContext.broadcast(
      collected.map(_.getString(0)).toSet)
    val hitsUdf = udf((grams: Seq[String]) =>
      if (grams == null) 0L
      else grams.distinct.count(b.value.contains).toLong)
    docs.withColumn("__w", TextAnalysis.tokens(col(textCol)))
      .withColumn("n_contaminated",
        hitsUdf(Dedup.shinglesFromWords(col("__w"), k)))
      .drop("__w")
      .withColumn("contaminated", col("n_contaminated") > 0)
  }

  case class HHIn(item: String, bucket: Int)
  case class HHState(counts: Map[String, Long], n: Long)
  case class HHOut(bucket: Int, version: Long, item: String,
                   est_count: Long)

  /** Streaming heavy hitters — "top domains/langs on the ingest stream"
    * with state bounded by construction: items shard across `buckets`
    * hash groups, each group's state is ONE k-entry Misra-Gries summary
    * ([[graft.engine.Reductions.mgStep]], the identical batch kernel),
    * so total state is `buckets * k` entries FOREVER, independent of
    * how many distinct items the stream ever carries (a plain streaming
    * groupBy().count() grows state per distinct key — the thing this op
    * exists to avoid). Buckets partition the item space, so per-item
    * guarantees are the batch MG bounds with n = that bucket's arrival
    * count; a bucket's summary is EXACT while its distinct items stay
    * <= k. Each micro-batch emits every updated bucket's full summary
    * stamped with a monotone `version` (items processed); the reader
    * keeps each bucket's latest version and unions — buckets are
    * disjoint, so no cross-summary merge is needed. Within-batch
    * arrivals fold in (item-)sorted order, making the decayed regime's
    * output a pure function of batch contents, not partition arrival
    * order. */
  def streamingHeavyHitters(items: DataFrame, itemCol: String, k: Int,
                            buckets: Int = 64): Dataset[HHOut] = {
    require(k >= 1 && buckets >= 1,
      s"streamingHeavyHitters: need k >= 1, buckets >= 1; got $k, $buckets")
    import items.sparkSession.implicits._
    items.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
      .withColumn("bucket",
        pmod(xxhash64(col("item")), lit(buckets.toLong)).cast("int"))
      .as[HHIn]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(
        (b: Int, it: Iterator[HHIn], state: GroupState[HHState]) => {
          val m = new java.util.HashMap[String, java.lang.Long]
          var n = 0L
          state.getOption.foreach { s =>
            s.counts.foreach { case (item, c) => m.put(item, c) }
            n = s.n
          }
          it.toSeq.map(_.item).sorted.foreach { item =>
            graft.engine.Reductions.mgStep(m, item, k)
            n += 1
          }
          val counts = {
            val bld = Map.newBuilder[String, Long]
            val eit = m.entrySet().iterator()
            while (eit.hasNext) {
              val e = eit.next()
              bld += (e.getKey -> e.getValue.longValue())
            }
            bld.result()
          }
          state.update(HHState(counts, n))
          // an EMPTY summary (a decrement-all round evicted everything)
          // must still emit a tombstone at the new version — otherwise
          // the latest-version reader would serve the stale superseded
          // summary forever
          if (counts.isEmpty) Iterator.single(HHOut(b, n, null, 0L))
          else counts.iterator.map { case (item, c) => HHOut(b, n, item, c) }
        })
  }

  /** The reader protocol for [[streamingHeavyHitters]]' accumulated
    * update-mode sink: keep each bucket's LATEST version, drop
    * tombstones (null item = that bucket's summary is currently empty),
    * and union — buckets partition the item space, so no cross-summary
    * merge is needed. Lives HERE so emitter and every consumer share
    * one contract (the same no-drift argument as the shared
    * [[graft.engine.Reductions.mgStep]] kernel). */
  def hhLatest(sink: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
    sink.withColumn("__mx", max(col("version")).over(w))
      .filter(col("version") === col("__mx") && col("item").isNotNull)
      .select(col("item"), col("est_count"))
  }
}
