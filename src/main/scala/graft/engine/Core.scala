package graft.engine

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core frame model for the graft engine.
  *
  * The reference (parallel-pandas) operates on pandas frames with a row
  * index and NaN-based missing data (`/root/reference/parallel_pandas/core/
  * parallel_dataframe.py:48`, `tests/conftest.py:27-32`). Spark rows are
  * unordered and distinguish NaN from null, so the engine:
  *
  *   1. materializes the row index as an ordinary column (`withIndex`) —
  *      every order-sensitive op (cumsum, rank, rolling, transform) orders
  *      by it explicitly;
  *   2. normalizes NaN -> null once at ingest (`nanToNull`) so Spark's
  *      null-skipping aggregates reproduce pandas `skipna=True` semantics.
  *
  * At cluster scale `monotonically_increasing_id` gives a partition-stable
  * but non-dense index; when a dense index is required use a natural key
  * (the engine's own queries always use natural keys from the data).
  */
object Core {

  val IdxCol = "__idx"

  /** Materialize a row index column. Partition-stable, not dense —
    * sufficient for ordering; O(1) per row, no shuffle. */
  def withIndex(df: DataFrame, col: String = IdxCol): DataFrame =
    df.withColumn(col, monotonically_increasing_id())

  /** NaN -> null for one column (no-op for non-floating types). */
  def nanToNull(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => when(isnan(c), lit(null)).otherwise(c)
    case _                      => c
  }

  /** Normalize every floating column's NaN to null (pandas-skipna parity —
    * see SURVEY.md §1 invariants). */
  def nanToNull(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      nanToNull(col(f.name), f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Numeric column names of a frame (pandas `numeric_only=True`). */
  def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toIndexedSeq

  /** Guard against Spark aggregate NaN leaking where DuckDB/pandas yield
    * null (e.g. stddev of a single row). */
  def noNaN(c: Column): Column = when(isnan(c), lit(null)).otherwise(c)

  /** Ensure at least session-default parallelism before heavy map-side
    * compute: a small parquet input arrives as ONE partition, which would
    * run e.g. shingle/hash generation on a single core (observed 7s for
    * an 0.2s job). No-op when the input is already parallel — at real
    * scale the scan has hundreds of partitions and this adds nothing. */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // the physical RDD's partitions: `df.rdd` would add a Row
    // deserializer to the scan's generated stage, a class of its own
    if (df.queryExecution.toRdd.getNumPartitions < p) df.repartition(p)
    else df
  }

  /** The testdata `events.ts` has shipped in two parquet physical forms:
    * TIMESTAMP(NANOS) — which Spark's reader only accepts as a raw long
    * via `spark.sql.legacy.parquet.nanosAsLong=true` — and plain
    * `timestamp[us]` without the UTC-adjusted flag, which Spark reads as
    * TIMESTAMP_NTZ. Normalize both to TimestampType so downstream code
    * (`unix_micros`, window ranges, as-of joins) is type-uniform.
    *
    * LongType nanos: integral `div`, NOT `/` — nanos (~1.8e18) exceed a
    * double's 53-bit mantissa, so float division is off by ±1µs on ~1/4
    * of rows — enough to flip exact gap comparisons (sessionization)
    * against an engine that converts exactly.
    *
    * NTZ: the cast to TimestampType reinterprets the wall-clock under the
    * session tz, which Verify/Bench pin to UTC, so the cast is identity on
    * the stored micros (same argument as Reductions.usOf). */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Micros-since-epoch of a timestamp-ish column, NTZ-safe: casts to
    * TimestampType first (identity under the pinned-UTC session tz), since
    * `unix_micros` rejects TIMESTAMP_NTZ input with DATATYPE_MISMATCH.
    * Use this instead of raw `unix_micros(c)` anywhere the input may not
    * have passed through [[normalizeTs]]. */
  def usOf(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** Round a double column for oracle-stable output. Floating-point sums
    * are association-order-dependent; Spark's partial aggregation and
    * DuckDB's sequential/segment-tree evaluation differ in the last ulps,
    * so query outputs are rounded identically on both sides.
    *
    * The +1e-9 epsilon (applied to the ORACLE SQL's round() too) shifts
    * the round-half boundary off the populated decimal grid: means /
    * variances of 2-decimal inputs land EXACTLY on half-boundaries
    * (e.g. expanding mean 50.06925, ewm var 483.605), where each engine's
    * last ulp — and Spark's run-to-run partial-merge order — decides the
    * direction. With the shift, both engines round such values up,
    * deterministically. Values not within 1e-9 below a boundary are
    * unaffected.
    *
    * The trailing + 0.0 normalizes SIGNED ZERO: a tiny negative value
    * (e.g. covar_samp ≈ -2.4e-7) rounds to -0.0 in engines that keep
    * the sign through round() (DuckDB does) and +0.0 in engines that
    * normalize (Spark's BigDecimal round does). -0.0 + 0.0 = +0.0 in
    * IEEE 754 round-to-nearest, so adding it on BOTH sides (here and a
    * literal `+ 0.0` in the affected oracle SQL) makes the exact-hash
    * compare deterministic. scripts/oracle_audit.py sweeps the oracle
    * corpus for this class. */
  def r(c: Column, scale: Int = 4): Column =
    round(noNaN(c) + lit(1e-9), scale) + lit(0.0)

  /** Degenerate-safe Pearson correlation AGGREGATE: Spark 4's builtin
    * `corr` divides by the co-moment product under ANSI mode, so a
    * zero-variance group/frame (constant column after pairwise masking)
    * throws DIVIDE_BY_ZERO at runtime where pandas yields NaN — found
    * by the round-8 seeded property suite. This form computes the same
    * co-moment ratio from covar_samp / stddev_samp (identical state,
    * ~1-2 ulp apart) and guards the division, so degenerate inputs
    * produce null. Valid wherever an aggregate expression is
    * (groupBy().agg, df.agg); the windowed analogue is
    * [[WindowOps.rCorr]], which applies the frame to each piece. */
  def safeCorr(a: Column, b: Column): Column = {
    val aM = when(a.isNotNull && b.isNotNull, a)
    val bM = when(a.isNotNull && b.isNotNull, b)
    val sx = stddev_samp(aM)
    val sy = stddev_samp(bM)
    when(sx > 0 && sy > 0, covar_samp(a, b) / (sx * sy))
  }

  /** Run `f` over `items` on a bounded fixed pool and await all
    * results — the shared scaffold for submitting INDEPENDENT Spark
    * jobs concurrently (the scheduler interleaves them, so wall time
    * is ~the slowest job instead of the sum). Submission threads only
    * enqueue jobs, so a small cap is plenty for any item count; an
    * empty `items` is a no-op (no zero-sized pool).
    *
    * Failure: `Future.sequence` fails fast, and on that path the pool
    * is shut down with `shutdownNow()` — NOT-YET-STARTED items are
    * cancelled and in-flight submission threads are interrupted before
    * the exception propagates, so a caller unwinding (e.g. about to
    * tear down the directory its sibling jobs write into) doesn't race
    * queued work it no longer wants. Jobs already running inside Spark
    * finish their current stage (interrupt doesn't kill a submitted
    * job mid-flight), but nothing new is launched. */
  def runConcurrently[A, B](items: Seq[A], cap: Int = 8)(f: A => B): Seq[B] =
    if (items.isEmpty) Seq.empty
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.max(1, math.min(items.size, cap)))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      var failed = false
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          items.map(a => scala.concurrent.Future(f(a)))),
        scala.concurrent.duration.Duration.Inf)
      catch { case t: Throwable => failed = true; throw t }
      finally if (failed) pool.shutdownNow() else pool.shutdown()
    }

  /** Re-root a frame that is BOUNDED by construction on a driver-side
    * LocalRelation: one capped collect, then a local scan in place of
    * the whole upstream lineage, so later plans neither re-analyze nor
    * re-run it. More than `cap` rows fails loudly, naming `what`; row
    * order is kept. The rows stay internal rows end to end (no Row
    * encoder pair). Only for verification-sized results — a production
    * pipeline writes such a stage to storage instead. */
  def reroot(df: DataFrame, cap: Int, what: String): DataFrame = {
    val rows = GraftSqlShim.collectRows(df.limit(cap + 1))
    require(rows.length <= cap,
      s"$what: more than $cap rows, over the driver re-root cap — " +
        "run the stages with per-stage storage writes instead")
    GraftSqlShim.localFrame(df.sparkSession, df.schema, rows.toSeq)
  }

  /** A lineage-truncated frame over checkpointed internal rows `rows`;
    * `release()` drops a local checkpoint's blocks — call it only after
    * the NEXT iteration's state is materialized; the frame is unusable
    * afterwards. */
  final case class Truncated(df: DataFrame, rows: RDD[InternalRow],
                             local: Boolean) {
    def release(): Unit = if (local) rows.unpersist(blocking = false)
  }

  /** Cut a DataFrame's lineage for ITERATIVE algorithms (pageRank,
    * cluster contraction): eager checkpoint, then a fresh frame over the
    * checkpointed internal rows, because a bare checkpoint CARRIES the
    * origin plan's estimated sizeInBytes into its LogicalRDD — an
    * iterative self-join then squares the estimate every round until
    * the planner multiplies million-digit BigInts (found in round 6's
    * cluster work). The re-wrap resets stats AND caps plan depth at
    * O(1) per iteration, so Catalyst analysis stays constant-time at
    * production iteration counts instead of doubling per round. It
    * wraps the same rows, so no row is converted and no class compiled.
    *
    * `checkpointDir`: `None` -> `localCheckpoint` (executor block
    * manager: fastest, but its MEMORY_AND_DISK blocks contend with every
    * other cached/checkpointed frame in a shared batch — the measured
    * sf10 dedup-fuzzy 27-63 s swing, BASELINE.md). `Some(dir)` ->
    * RELIABLE checkpoint files under `dir` — the "CC runs as a dedicated
    * storage stage" production protocol: block-manager-free, so
    * concurrent rows' storage churn cannot evict or stall the iteration
    * state. An already-configured SparkContext checkpoint dir wins over
    * `dir` (set once per session); checkpoint FILES are cleaned by Spark
    * at application exit (or eagerly with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`), so
    * `release()` is a no-op for them by design. */
  def truncatePlan(df: DataFrame,
                   checkpointDir: Option[String] = None): Truncated = {
    val spark = df.sparkSession
    checkpointDir.foreach { dir =>
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        spark.sparkContext.setCheckpointDir(dir)
    }
    val ck = if (checkpointDir.isEmpty) df.localCheckpoint()
      else df.checkpoint() // eager + reliable
    val rows = ck.queryExecution.logical match {
      case l: LogicalRDD => l.rdd
      case other => sys.error(s"truncatePlan: no checkpointed rows in ${other.nodeName}")
    }
    Truncated(GraftSqlShim.rddFrame(spark, rows, ck.schema), rows,
      local = checkpointDir.isEmpty)
  }
}
