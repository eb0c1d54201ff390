package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Decimation operators (SURVEY §2.9 C1, §2.5 A2, §2.7 O3):
  *
  *  - [[strideSample]]: every k-th row (the reference's lazy pre-LTTB cap,
  *    qaqc/decimate.py:201-213)
  *  - [[coarsen]]: fixed-count bucket means with trim boundary
  *    (qaqc/plots.py:193-201)
  *  - [[lttb]]: exact Largest-Triangle-Three-Buckets
  *    (qaqc/decimate.py:94-163), including the numpy `array_split` bin
  *    sizing, the middle-of-bucket x / argmax-area y quirk, and
  *    first-tie-wins argmax.
  *
  * Scale: stride and coarsen are pure window/groupBy plans. LTTB is
  * inherently sequential per series (each selected point depends on the
  * previous), so it runs as a per-series sorted-group kernel
  * (`flatMapSortedGroups`). The reference bounds the per-series input to
  * `threshold × 10` rows via pre-striding; we keep that contract, so a
  * series always fits comfortably in one task even at 100 TB total.
  * [[downsample]] sizes every series first and skips the position pass
  * and the LTTB shuffle when no series is over the threshold (the
  * reference's default 5,000,000-point threshold leaves most series as
  * is); a caller-supplied bound on the series lengths skips the sizing
  * too.
  */
object Decimate {

  /** O3 stride sampling per series: rows at ordered positions 0, k, 2k, …
    * (numpy `slice(None, None, k)` semantics).
    *
    * With keys the position is a per-key window (one shuffle). The global
    * (`keyCols` empty) case does NOT use a global window — that would move
    * every row to one partition. Instead: range-repartition by `orderCol`,
    * count rows per partition (a cheap driver-side collect of one long per
    * partition), and filter with per-partition offsets — two passes, fully
    * parallel, exact global positions at any scale.
    */
  def strideSample(df: DataFrame, keyCols: Seq[String], orderCol: String,
                   stride: Int): DataFrame = {
    if (keyCols.nonEmpty) {
      // many small series: a plain per-key window is already parallel
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
      df.withColumn("__rn", row_number().over(w))
        .filter((col("__rn") - 1) % stride === 0)
        .drop("__rn")
    } else {
      // global: exact positions via the two-pass range-partitioned
      // plan — no single-task series
      OrderedPosition.withPosition(df, Nil, Seq(orderCol), "__pos")
        .filter(col("__pos") % stride === 0)
        .drop("__pos")
    }
  }

  /** A2 coarsen: non-overlapping buckets of `window` consecutive rows per
    * series, mean of every value column (time included — xarray
    * `coarsen(time=w, boundary="trim").mean()`). The trailing partial bucket
    * is dropped ("trim").
    */
  def coarsen(df: DataFrame, keyCols: Seq[String], timeCol: String,
              valueCols: Seq[String], window: Int,
              tieBreak: Seq[String] = Nil): DataFrame =
    coarsenBy(df, keyCols, timeCol, valueCols, _ => window, tieBreak)

  /** [[coarsen]] with the bucket width derived from the TOTAL row count —
    * which the position pass's offset table already holds, so sizing the
    * window costs no extra scan (the reference sizes it from `len(time)`,
    * qaqc/plots.py:193-201).
    */
  def coarsenBy(df: DataFrame, keyCols: Seq[String], timeCol: String,
                valueCols: Seq[String], windowFromTotal: Long => Int,
                tieBreak: Seq[String] = Nil): DataFrame = {
    // decimation input is the few-big-series shape by construction, so
    // positions come from the parallel two-pass plan, never a per-series
    // single-task window
    val (positioned, total) = OrderedPosition
      .withPositionCounted(df, keyCols, timeCol +: tieBreak, "__pos")
    val window = windowFromTotal(total)
    val bucketed = positioned
      .withColumn("__bucket", floor(col("__pos") / window))
    // Average epoch-micros relative to a fixed base so the partial sums stay
    // below 2^53 and the double-precision mean is bit-identical across
    // engines (a raw 2024-epoch µs sum over 50 rows already exceeds 2^53).
    val tsBase = 1600000000000000L
    val aggs = timestamp_micros(
        (floor(avg(unix_micros(col(timeCol)) - tsBase)) + tsBase).cast("long")).as(timeCol) +:
      valueCols.map(c => avg(col(c)).as(c)) :+
      count(lit(1)).as("__bucket_n")
    bucketed
      .groupBy((keyCols.map(col) :+ col("__bucket")): _*)
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("__bucket_n") === window) // boundary="trim"
      .drop("__bucket", "__bucket_n")
  }

  /** Exact LTTB kernel over one series sorted by x. Mirrors
    * qaqc/decimate.py:94-163: first/last preserved; interior split into
    * `threshold - 2` bins with numpy `array_split` sizing (first `L % n`
    * bins one element larger); per bin the point maximizing the triangle
    * (prev-output, candidate, next-bin-centroid) area is chosen (first tie
    * wins) but emitted at the bucket-middle x.
    */
  private[graft] def lttbKernel(xs: Array[Double], ys: Array[Double],
                                threshold: Int): Array[(Double, Double)] = {
    val n = xs.length
    if (threshold < 3 || n <= threshold) return xs.zip(ys)
    val nBins = threshold - 2
    val out = new Array[(Double, Double)](threshold)
    out(0) = (xs(0), ys(0))
    out(threshold - 1) = (xs(n - 1), ys(n - 1))
    val interior = n - 2
    val base = interior / nBins
    val rem = interior % nBins
    var start = 1
    var i = 0
    while (i < nBins) {
      val sz = base + (if (i < rem) 1 else 0)
      val end = start + sz
      val (ax, ay) = out(i)
      var cx = 0.0
      var cy = 0.0
      if (i < nBins - 1) {
        val nsz = base + (if (i + 1 < rem) 1 else 0)
        var j = end
        var sx = 0.0
        var sy = 0.0
        while (j < end + nsz) { sx += xs(j); sy += ys(j); j += 1 }
        cx = sx / nsz
        cy = sy / nsz
      } else { cx = xs(n - 1); cy = ys(n - 1) }
      var best = start
      var bestArea = Double.NegativeInfinity
      var j = start
      while (j < end) {
        val area = 0.5 * math.abs((ax - cx) * (ys(j) - ay) - (ax - xs(j)) * (cy - ay))
        if (area > bestArea) { bestArea = area; best = j }
        j += 1
      }
      val middle = start + sz / 2
      out(i + 1) = (xs(middle), ys(best))
      start = end
      i += 1
    }
    out
  }

  /** The plottable `(key, x, y)` projection shared by [[lttb]] and the
    * identity path of [[downsample]]: key as string, x and y as double,
    * null points dropped — they are unplottable and would crash the
    * non-nullable tuple deserializer in [[lttb]]; dropping them mirrors
    * the coarsen path, whose avg() skips nulls.
    */
  private def points(df: DataFrame, keyCol: String, xCol: String, yCol: String): DataFrame =
    df.select(
        col(keyCol).cast("string").as("key"),
        col(xCol).cast("double").as("x"),
        col(yCol).cast("double").as("y"))
      .filter(col("key").isNotNull && col("x").isNotNull && col("y").isNotNull)

  /** C1 distributed LTTB: decimate each series (identified by `keyCol`) to
    * `threshold` points. Input columns: `keyCol` (string), `xCol`, `yCol`
    * (numeric). Per-series data is gathered into its task via a sorted group
    * — bounded by the pre-stride contract (`strideSample` first when a
    * series exceeds `threshold * maxPointsFactor`).
    */
  def lttb(df: DataFrame, keyCol: String, xCol: String, yCol: String,
           threshold: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    points(df, keyCol, xCol, yCol)
      .as[(String, Double, Double)]
      .groupByKey(_._1)
      // Sort by (x, y) — x alone leaves duplicate-x rows in nondeterministic
      // relative order across runs, which would make the first-tie-wins
      // argmax pick run-dependent.
      .flatMapSortedGroups($"x", $"y") { (key: String, it: Iterator[(String, Double, Double)]) =>
        val pts = it.toArray
        lttbKernel(pts.map(_._2), pts.map(_._3), threshold)
          .iterator.map { case (x, y) => (key, x, y) }
      }
      .toDF(keyCol, xCol, yCol)
  }

  /** Over-cap series whose strides [[downsample]] inlines into the plan
    * as a map literal; past this many it broadcast-joins them instead, so
    * the plan does not grow with the number of series.
    */
  private[operators] val MaxStrideLiteral = 1000

  /** The reference's full downsample contract (qaqc/decimate.py:166-229):
    * pre-stride any series longer than `cap = threshold * maxPointsFactor`
    * to every `ceil(n / cap)`-th row in (x, y) order (`n` counts rows with
    * a null x or y too), then exact LTTB to `threshold` points. Rows with
    * a null key, x or y are dropped.
    *
    * Sizes first: one hash aggregate (map-side partials, parallel) collects
    * each series' row count to the driver — one row per non-null key, the
    * collect itself limited to `OrderedPosition.MaxOffsetRows + 1` rows
    * and rejected past the cap — and the largest series picks the path:
    *  - identity: every series has at most `threshold` rows, so LTTB
    *    returns its input and the output is the null-filtered projection:
    *    no shuffle, no position pass.
    *  - stride: otherwise. The two-pass position plan
    *    ([[OrderedPosition.withPosition]]; never a per-series window, which
    *    would move each series onto one task before the stride runs) keeps
    *    every `stride`-th row, with each over-cap series' stride taken from
    *    the collected sizes (a map literal up to [[MaxStrideLiteral]]
    *    series, a broadcast join past it; every other series keeps stride
    *    1), then [[lttb]].
    * Both paths return the same rows as striding and decimating each
    * series unconditionally.
    *
    * `maxSeriesRows` is an optional upper bound on every series' row
    * count that the caller knows without a job (a source's row-count
    * statistic, say). A bound at or under `threshold` proves the identity
    * path, so the sizes collect is skipped and building the frame starts
    * no Spark job; the rows are the same, since the sizes path takes the
    * identity exactly when its largest series is at or under `threshold`.
    */
  def downsample(df: DataFrame, keyCol: String, xCol: String, yCol: String,
                 threshold: Int, maxPointsFactor: Int = 10,
                 maxSeriesRows: Option[Long] = None): DataFrame =
    if (maxSeriesRows.exists(_ <= threshold)) {
      requirePositive(threshold, maxPointsFactor)
      points(df, keyCol, xCol, yCol).toDF(keyCol, xCol, yCol)
    } else downsampleBounded(df, keyCol, xCol, yCol, threshold, maxPointsFactor,
      OrderedPosition.MaxOffsetRows, MaxStrideLiteral)

  private def requirePositive(threshold: Int, maxPointsFactor: Int): Unit =
    require(threshold > 0 && maxPointsFactor > 0,
      s"Decimate.downsample: threshold ($threshold) and maxPointsFactor " +
        s"($maxPointsFactor) must be positive")

  /** [[downsample]] with its driver bounds as parameters: at most
    * `maxSeries` series, strides inlined up to `maxStrideLiteral` series.
    */
  private[operators] def downsampleBounded(df: DataFrame, keyCol: String, xCol: String,
                                           yCol: String, threshold: Int, maxPointsFactor: Int,
                                           maxSeries: Int, maxStrideLiteral: Int): DataFrame = {
    requirePositive(threshold, maxPointsFactor)
    val cap = threshold.toLong * maxPointsFactor
    // a null key is never plotted, so it never picks the path; grouping
    // on the raw key keeps the count per series, the string form matches
    // the key lttb groups on. maxSeries + 1 must not overflow limit()
    val sizes = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
      .select(col(keyCol).cast("string"), col("__n"))
      .limit(math.min(maxSeries.toLong + 1, Int.MaxValue).toInt).collect()
    require(sizes.length <= maxSeries,
      s"Decimate.downsample: more than $maxSeries series — too many to size on the driver")
    val maxN = sizes.iterator.map(_.getLong(1)).maxOption.getOrElse(0L)
    if (maxN <= threshold) points(df, keyCol, xCol, yCol).toDF(keyCol, xCol, yCol)
    else {
      val strides = sizes.toSeq.map(r => r.getString(0) -> r.getLong(1))
        .collect { case (k, n) if n > cap => k -> (n + cap - 1) / cap } // ceil(n / cap)
      val positioned = OrderedPosition
        .withPosition(df, Seq(keyCol), Seq(xCol, yCol), "__pos")
      val strided =
        if (strides.length <= maxStrideLiteral) {
          val stride = coalesce(typedLit(strides.toMap).apply(col(keyCol).cast("string")), lit(1L))
          positioned.filter(col("__pos") % stride === 0)
        } else {
          val spark = df.sparkSession
          import spark.implicits._
          val table = spark.sparkContext.parallelize(strides).toDF("__skey", "__stride")
          positioned
            .join(broadcast(table), col(keyCol).cast("string") === col("__skey"), "left")
            .filter(col("__pos") % coalesce(col("__stride"), lit(1L)) === 0)
            .drop("__skey", "__stride")
        }
      lttb(strided.drop("__pos"), keyCol, xCol, yCol, threshold)
    }
  }
}
