package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The rank kernel: pandas `rank(method='average')` midranks of one or
  * more columns within the groups of `keys`; an empty key list ranks
  * the whole frame. It is the one rank path of the engine: `p_rank`
  * (reference `parallel_dataframe.py:571-595`) is
  * [[Reductions.withRankAvg]] on top of it, and spearman is pearson
  * over these ranks (`:297-299`) in [[Corr.spearman]],
  * [[Corr.rankedFrame]], [[Corr.corrMatrixPairwise]] and
  * [[Corr.corrMatrixBy]].
  *
  * probe → gate → attach:
  *   - [[probe]]: ONE aggregate job returns, per key and column, the
  *     bounded exact value histogram, the exact fixed-bucket counts
  *     ([[graft.functions.SortableBucket]]) and the non-null count
  *     (whose excess over the histogram is the NaN count), plus each
  *     key's row count. A grouped probe first runs one approx-NDV job;
  *     above [[GroupedProbeMaxKeys]] keys it skips the per-key collect
  *     and the NDVs size the gate instead.
  *   - [[midrank]] chooses once per column: a stats join when the
  *     (key, value) table fits the broadcast gate
  *     ([[Reductions.groupRankStatsMaxRows]]), else a window over fixed
  *     buckets when no (key, bucket) holds more than 20% of the rows,
  *     else a window over quantile-cut buckets (one batched
  *     approxQuantile job for all such columns).
  *   - every table is one `(keys, value-or-bucket, cnt, before, dense)`
  *     table of per-key counts: the probe's, or, for the columns the
  *     probe could not count (value counts above the key bound,
  *     quantile-cut buckets, columns not exact as doubles), those of
  *     ONE exploded counts aggregate ([[countTables]]). One rule places
  *     a counted table: when its row bound (keys × values, or keys ×
  *     buckets) fits the same gate it is collected and built on the
  *     driver by [[table]] and broadcast; otherwise it stays in the
  *     plan, its `before` a running sum over the counts, and joins back
  *     by a shuffle join. Stats join: rank = before + (cnt + 1) / 2.
  *     Bucket window, partitioned by (keys, bucket) and ordered by the
  *     value: rank = offset + cum − tie + (tie + 1) / 2, where cum
  *     counts the default RANGE frame (up to and including the tie
  *     group) and tie the RANGE(0, 0) frame. No window is ever
  *     partitioned by the keys alone over the frame, so a
  *     low-cardinality key never sorts a whole group in one task.
  *
  * Domain: grouped columns must be exact as doubles (double, float and
  * the ≤32-bit integers); callers cast to double first, which is
  * pandas' own float64 domain for corr. An ungrouped column of any
  * other orderable type (long, decimal, string, timestamp) is counted
  * by its raw value, so a long ranks exactly above 2^53. NaN ranks
  * greatest (Spark's order) and -0.0 ties 0.0 on every path; null
  * values get null ranks; keys match null-safely, so a null key is a
  * group like any other. The regime moves work placement, never rank
  * values. */
object Rank {

  /** Key-NDV bound of the per-key probe collect (r15): at or below it
    * the collect is bounded by ~cols × 2 × the broadcast gate (the
    * per-key histogram cap divides the gate); above it every table comes
    * from the counts job. */
  private[graft] val GroupedProbeMaxKeys: Long = 1024L

  /** One key's probe counts, one entry per probed column. A null
    * histogram overflowed its cap; columns that are not exact as
    * doubles carry no histograms. */
  final case class Group(key: Seq[Any], rows: Long, n: IndexedSeq[Long],
      hist: IndexedSeq[Map[Double, Long]],
      bkt: IndexedSeq[Map[Double, Long]])

  /** What [[probe]] learned about `df`: `groups` is None above
    * [[GroupedProbeMaxKeys]] keys. `colNdv` bounds each column's
    * by-value counts: grouped, the approximate NDV, which also sizes
    * the value-count gate keyNdv × colNdv ≤ `gate`; ungrouped, the
    * approximate NDV of a column not exact as a double and the
    * non-null count (an upper bound) of any other. */
  final case class Probe(df: DataFrame, keys: Seq[String], cols: Seq[String],
      gate: Long, keyNdv: Long, colNdv: IndexedSeq[Long],
      groups: Option[Seq[Group]])

  private def exact(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  private def keyName(i: Int): String = if (i == 0) "__gk" else s"__gk$i"

  /** Probe `cols` of `df` within `keys` (see the object doc). The
    * histogram cap per key is the broadcast gate divided by the key
    * NDV (floor 16), so the whole collect stays within the gate. */
  def probe(df: DataFrame, keys: Seq[String], cols: Seq[String]): Probe = {
    val gate = Reductions.groupRankStatsMaxRows(df.sparkSession)
    val (keyNdv, colNdv) =
      if (keys.isEmpty) (1L, IndexedSeq.empty[Long])
      else {
        val k = if (keys.size == 1) col(keys.head) else struct(keys.map(col): _*)
        val aggs = approx_count_distinct(k) +:
          cols.map(c => approx_count_distinct(col(c)))
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        (r.getLong(0), cols.indices.map(i => r.getLong(i + 1)))
      }
    if (keyNdv > GroupedProbeMaxKeys) Probe(df, keys, cols, gate, keyNdv, colNdv, None)
    else {
      val cap = math.max(16L, gate / math.max(keyNdv, 1L)).toInt
      val aggs = count(lit(1)) +: cols.zipWithIndex.flatMap { case (c, i) =>
        val v = col(c).cast("double")
        count(col(c)).as(s"__n$i") +: (
          if (!exact(df.schema(c).dataType)) Seq(approx_count_distinct(col(c)).as(s"__d$i"))
          else Seq(Reductions.boundedHistogram(v, cap).as(s"__h$i"),
            Reductions.boundedHistogram(graft.functions.SortableBucket
              .sortableBucket(v).cast("double"), cap).as(s"__b$i")))
      }
      val rows = df.groupBy(keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*).collect().toSeq
      def hists(r: Row, p: String): IndexedSeq[Map[Double, Long]] =
        cols.indices.map { i =>
          val f = r.schema.fieldNames.indexOf(s"$p$i")
          if (f < 0 || r.isNullAt(f)) null
          else r.getMap[Double, Long](f).toMap
        }
      val groups = rows.map(r => Group(keys.indices.map(r.get), r.getLong(keys.size),
        cols.indices.map(i => r.getLong(r.fieldIndex(s"__n$i"))),
        hists(r, "__h"), hists(r, "__b")))
      val ndv = if (keys.nonEmpty) colNdv else cols.indices.map(i =>
        if (exact(df.schema(cols(i)).dataType)) groups.head.n(i) else rows.head.getAs[Long](s"__d$i"))
      Probe(df, keys, cols, gate, keyNdv, ndv, Some(groups))
    }
  }

  /** How one column attaches: a stats join on the value when `bucket`
    * is None, else the midrank window over `bucket`. */
  private case class Attach(bucket: Option[Column], table: DataFrame)

  /** Column `i`'s attachment from the probe alone, if its counts fit:
    * the value histogram (NaN added back), else the fixed buckets when
    * no (key, bucket) holds more than 20% of the rows. */
  private def probed(p: Probe, i: Int): Option[Attach] = {
    val c = p.cols(i)
    if (!exact(p.df.schema(c).dataType)) {
      require(p.keys.isEmpty, s"rank: cast grouped column $c to double")
      None
    } else p.groups.flatMap { gs =>
      val hs = gs.map(_.hist(i)); val bs = gs.map(_.bkt(i))
      // NaN is absent from the value histogram but not from n
      lazy val withNaN = gs.map { g =>
        val nan = g.n(i) - g.hist(i).values.sum
        g.key -> (if (nan > 0) g.hist(i) + (Double.NaN -> nan) else g.hist(i))
      }
      lazy val bcounts = bs.flatMap(_.values)
      if (hs.forall(_ != null) && withNaN.map(_._2.size).sum <= p.gate)
        Some(Attach(None, table(p.df, p.keys, DoubleType, withNaN)))
      else if (bs.forall(_ != null) && bcounts.size <= p.gate &&
          (bcounts.isEmpty || bcounts.max.toDouble / bcounts.sum <= 0.2))
        Some(Attach(Some(graft.functions.SortableBucket.sortableBucket(col(c))),
          table(p.df, p.keys, DoubleType, gs.map(_.key).zip(bs))))
      else None
    }
  }

  /** Column `i`'s by-value `(keys, __gv, __gc, __gb, __gd)` table, the
    * one its stats join reads: pandas' min, max and dense ranks are
    * `__gb + 1`, `__gb + __gc` and `__gd`. */
  def valueTable(p: Probe, i: Int): DataFrame = probed(p, i) match {
    case Some(Attach(None, t)) => t
    case _ => countTables(p, Seq(i), Map.empty).head
  }

  /** Attach the midrank of each probed column `p.cols(i)` as `outs(i)`
    * to the probed frame. `width` > 0 repartitions each bucket window
    * to that many partitions (the caller sized it from volume via
    * [[Reductions.sortWidth]]) and raises the quantile bucket count to
    * match; it moves placement only. */
  def midrank(p: Probe, outs: Seq[String], width: Int = 0): DataFrame = {
    val Probe(df, keys, cols, gate, keyNdv, colNdv, groups) = p
    // Some: attached from the probe alone; None: counted, by value while
    // the (key, value) table fits the gate (always for a column not
    // exact as a double), else by quantile-cut bucket
    val fromProbe = cols.indices.map(probed(p, _))
    val byValue = cols.indices.filter(i => fromProbe(i).isEmpty &&
      (!exact(df.schema(cols(i)).dataType) || groups.isEmpty && keyNdv * colNdv(i) <= gate))
    val cut = cols.indices.filter(i => fromProbe(i).isEmpty && !byValue.contains(i))
    val cuts: Map[Int, Array[Double]] =
      if (cut.isEmpty) Map.empty
      else {
        // floor 2: a one-core session would otherwise get one bucket
        val dp = math.max(df.sparkSession.sparkContext.defaultParallelism, 2)
        val nb = if (width > 0) math.max(dp, math.min(2 * width, 4096)) else dp
        val qs = df.select(cut.map(i => col(cols(i)).cast("double")
            .as(s"__q$i")): _*)
          .stat.approxQuantile(cut.map(i => s"__q$i").toArray,
            (1 until nb).map(_.toDouble / nb).toArray, 0.01)
        cut.zip(qs.map(_.distinct.sorted)).toMap
      }
    val counted = (byValue ++ cut).sorted
    val tables = counted.zip(countTables(p, counted, cuts)).toMap
    cols.indices.foldLeft(df) { (d, i) =>
      val a = fromProbe(i).getOrElse(
        Attach(cuts.get(i).map(bucketOf(col(cols(i)), _)), tables(i)))
      attach(d, keys, cols(i), outs(i), a, width)
    }
  }

  private def bucketOf(c: Column, cuts: Array[Double]): Column =
    coalesce(graft.functions.BucketBin.bucketBin(c, cuts), lit(0))

  /** Headroom of an approx_count_distinct estimate (default 5% rsd):
    * five standard errors. */
  private val NdvHeadroom = 1.25

  /** Spark's ascending order of collected values: NaN greatest, strings
    * by their UTF-8 bytes (code points, as pandas orders them). */
  private val valueOrder: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) =>
      UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
    case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
  }

  /** Driver-built `(keys, value, cnt, before, dense)` table from per-key
    * counts, in ascending value order. A Scala map holds -0.0 and 0.0
    * as one key and Spark's grouping normalizes them, so no value has
    * two rows (Spark joins them equal; two rows would duplicate every
    * 0.0-valued frame row). */
  private def table(df: DataFrame, keys: Seq[String], vt: DataType,
                    counts: Seq[(Seq[Any], Iterable[(Any, Long)])]): DataFrame = {
    val rows = counts.flatMap { case (key, m) =>
      var before = 0.0
      m.toSeq.sortBy(_._1)(valueOrder).zipWithIndex.map { case ((v, cnt), d) =>
        val r = Row.fromSeq(key ++ Seq(v, cnt.toDouble, before, d + 1.0))
        before += cnt; r
      }
    }
    val schema = StructType(keys.zipWithIndex.map { case (k, i) =>
        StructField(keyName(i), df.schema(k).dataType) } ++
      (StructField("__gv", vt) +: Seq("__gc", "__gb", "__gd").map(
        StructField(_, DoubleType, nullable = false))))
    broadcast(df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema))
  }

  /** The `(keys, x, cnt, before, dense)` tables of the columns
    * `counted`, x being the value or, for a column in `cuts`, its
    * bucket. Each row explodes into one `(column, x)` per non-null
    * column, grouped by `(keys, column, x)`; a value not exact as a
    * double keeps its type in a field of its own. THE driver-or-plan
    * rule of the kernel: a table whose row bound fits the gate comes
    * from ONE collect of all such tables, which fails loudly, naming
    * the columns, above their summed bounds rather than build a
    * truncated table; any other stays in the plan ([[planTable]]). */
  private def countTables(p: Probe, counted: Seq[Int],
      cuts: Map[Int, Array[Double]]): Seq[DataFrame] = {
    val Probe(df, keys, cols, gate, keyNdv, colNdv, groups) = p
    // the keys the gate saw (exact from the grouped probe, else the
    // estimate with its headroom) times the values (estimated) or
    // buckets (exact)
    def est(ndv: Long): Long = math.ceil(ndv * NdvHeadroom).toLong + 1
    val nKeys = groups.fold(est(keyNdv))(_.size.toLong)
    val bound = counted.map(i =>
      i -> nKeys * cuts.get(i).fold(est(colNdv(i)))(_.length + 1L)).toMap
    val typed = counted.filterNot(i => exact(df.schema(cols(i)).dataType))
    val nk = keys.size
    def counts(is: Seq[Int]): DataFrame = {
      val e = explode(array(is.map { i =>
        val c = cols(i)
        val x = cuts.get(i).fold(col(c))(bucketOf(col(c), _))
        when(col(c).isNotNull, struct(lit(i).as("i") +:
          (if (typed.contains(i)) lit(null) else x).cast("double").as("v") +:
          typed.map(t => (if (t == i) x else lit(null))
            .cast(df.schema(cols(t)).dataType).as(s"t$t")): _*))
      }: _*)).as("__e")
      df.select(keys.indices.map(k => col(keys(k)).as(keyName(k))) :+ e: _*)
        .filter(col("__e").isNotNull)
        .groupBy(keys.indices.map(k => col(keyName(k))) ++
          ("i" +: "v" +: typed.map(t => s"t$t")).map(f => col(s"__e.$f")): _*)
        .count()
    }
    val (driver, inPlan) = counted.partition(i => bound(i) <= gate)
    val lim = math.min(driver.map(bound).sum, Int.MaxValue - 1L).toInt
    val rows = if (driver.isEmpty) Array.empty[Row]
      else counts(driver).limit(lim + 1).collect()
    require(rows.length <= lim, s"rank: the counts of " +
      s"${driver.map(cols).mkString(", ")} exceed their bound of $lim rows")
    val byCol = rows.groupBy(_.getInt(nk))
    counted.map { i =>
      val (v, vt) = if (typed.contains(i)) (s"t$i", df.schema(cols(i)).dataType)
        else ("v", DoubleType)
      if (inPlan.contains(i)) planTable(counts(Seq(i)), nk, v)
      else table(df, keys, vt, byCol.getOrElse(i, Array.empty[Row])
        .groupBy(keyOf(_, nk)).values.toSeq.map(rs => (0 until nk).map(rs.head.get) ->
          rs.map(r => r.getAs[Any](v) -> r.getAs[Long]("count"))))
    }
  }

  /** A counted table kept in the plan: `before` and the dense index are
    * running sums over the `(keys, i, v, count)` counts in value order,
    * by a window partitioned by (keys, column) when grouped, else by the
    * two-pass range prefix sum of [[Cumulative.globalCumsumMulti]] over
    * the checkpointed counts, so no task holds a whole column. The
    * join-back is a shuffle join: the table outgrew the broadcast gate. */
  private def planTable(counts: DataFrame, nk: Int, v: String): DataFrame = {
    val ks = (0 until nk).map(k => col(keyName(k)))
    val t = counts.select(ks ++ Seq(col("i"), col(v).as("__gv"),
      col("count").cast("double").as("__gc"), lit(1.0).as("__one")): _*)
    val sums = Seq(col("__gc") -> "__cum", col("__one") -> "__gd")
    val w = Window.partitionBy(ks :+ col("i"): _*).orderBy("__gv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (if (nk > 0) sums.foldLeft(t) { case (d, (x, o)) => d.withColumn(o, sum(x).over(w)) }
     else Cumulative.globalCumsumMulti(t.localCheckpoint(), Seq(col("__gv").asc), sums))
      .withColumn("__gb", col("__cum") - col("__gc"))
      .drop("i", "__one", "__cum").hint("shuffle_hash")
  }

  /** A collected key as a driver map key: Row equality holds NaN equal
    * to itself, as Spark's grouping does; a binary key compares by
    * content. */
  private def keyOf(r: Row, nk: Int): Row = Row.fromSeq((0 until nk).map(i => r.get(i) match {
    case b: Array[Byte] => b.toSeq
    case v => v
  }))

  private def attach(df: DataFrame, keys: Seq[String], c: String,
                     out: String, a: Attach, width: Int): DataFrame = {
    val d = a.bucket.fold(df)(b => df.withColumn("__bk", b))
    val on = if (a.bucket.isEmpty) col(c) else col("__bk")
    val joined = d.join(a.table, (keys.indices.map(i =>
      col(keys(i)) <=> col(keyName(i))) :+ (on === col("__gv"))).reduce(_ && _),
      "left")
    val ranked =
      if (a.bucket.isEmpty)
        joined.withColumn(out, col("__gb") + (col("__gc") + 1) / 2.0)
      else {
        val parts = keys.map(col) :+ col("__bk")
        val placed =
          if (width > 0) joined.repartition(width, parts: _*) else joined
        val cum = Window.partitionBy(parts: _*).orderBy(col(c))
        val tie = count(col(c))
          .over(cum.rangeBetween(Window.currentRow, Window.currentRow))
        placed.withColumn(out, when(col(c).isNotNull,
          col("__gb") + count(col(c)).over(cum).cast("double") - tie +
            (tie + 1) / 2.0))
      }
    ranked.drop(Seq("__bk", "__gv", "__gc", "__gb", "__gd") ++
      keys.indices.map(keyName): _*)
  }
}
