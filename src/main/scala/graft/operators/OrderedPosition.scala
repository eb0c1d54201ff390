package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Exact ordered positions and running sums for FEW-BIG-SERIES data
  * without serializing a series onto one task.
  *
  * `Window.partitionBy(series).orderBy(t)` moves each series to ONE task —
  * fine when series count ≫ cores, fatal at the 100 TB design point where a
  * (site, span, variable) series holds billions of rows (the reference's
  * decimation input is exactly this shape). This helper computes the same
  * 0-based per-series exclusive running sum of a per-row weight in two
  * fully-parallel passes:
  *
  *  1. range-repartition by (series, order) and sort within partitions —
  *     each partition holds a contiguous slice of one-or-more series;
  *  2. per-partition local row numbers and local prefix sums (parallel:
  *     partition count ≥ cores), plus a driver-side cumulative-offset
  *     table of (partition, series) weight totals — `partitions × series`
  *     rows, tiny by precondition — broadcast back and added to the local
  *     prefixes.
  *
  * One private body does both passes for every entry point: a position is
  * the running sum of a weight of 1 per row ([[withPosition]],
  * [[withPositionCounted]]); [[withRunningSum]] weighs each row by a
  * column.
  *
  * Precondition: series cardinality small enough that
  * `partitions × series` fits on the driver (guarded). For high-cardinality
  * keys use a plain window — it is already parallel there.
  */
object OrderedPosition {

  /** Driver-side row cap for the offset table (and for other per-series
    * driver collects in this package, e.g. `Decimate.downsample`'s sizes).
    */
  private[operators] val MaxOffsetRows = 1000000

  /** Append `outCol` = exact 0-based position of each row within its
    * (keyCols) series ordered by `orderCols` (global positions when
    * `keyCols` is empty).
    *
    * No window anywhere: the range-repartitioned, in-partition-sorted data
    * crosses an RDD boundary where a per-partition (indexed) closure
    * assigns (partition id, local sorted index, local prefix) directly.
    * The boundary is load-bearing twice over:
    *  - Catalyst cannot see through it, so the local sort can't be
    *    eliminated as "unnecessary" (an id projection's dependence on sort
    *    order is invisible to the optimizer — with
    *    `monotonically_increasing_id` over a `sortWithinPartitions`, the
    *    sort WAS removed at larger inputs and positions followed
    *    nondeterministic shuffle-fetch order);
    *  - the offsets job and the caller's job share the SAME RDD, so the
    *    shuffle map stage runs once and is reused across both jobs (no
    *    cache materialization needed — measured ~2× cheaper than
    *    persisting the sorted data at 20M rows).
    */
  def withPosition(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
                   outCol: String): DataFrame =
    withPositionCounted(df, keyCols, orderCols, outCol)._1

  /** `spark.sql.shuffle.partitions` as an Int, degrading to the input's
    * current partitioning when the conf is non-numeric (e.g. "auto" under
    * externally-managed shuffle) instead of throwing at plan time.
    */
  private[operators] def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toIntOption
      .getOrElse(math.max(df.rdd.getNumPartitions, 1))

  /** [[withPosition]] plus the TOTAL row count, which the offset table
    * already knows — callers that would otherwise `count()` the input just
    * to size downstream work (e.g. the coarsen bucket width) get it free.
    */
  def withPositionCounted(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
                          outCol: String): (DataFrame, Long) =
    runningSum(df, keyCols, orderCols, None, outCol)

  /** Append `outCol` = EXCLUSIVE running sum of `valueCol` (sum of all
    * PRIOR rows in `(keyCols, orderCols)` order; first row of a series
    * gets 0; global when `keyCols` is empty) — the prefix-sum analog of
    * [[withPosition]], with the same two-pass no-window execution: a
    * `Window.orderBy` running sum serializes EVERYTHING onto one task,
    * which is exactly what token-balanced shard assignment over a corpus
    * must not do.
    *
    * Null values count as 0. Handles any sign: the per-(partition,
    * series) base is the prefix at the series' FIRST local row
    * (`min_by(prefix, localRowNumber)`), not a min over prefixes.
    */
  def withRunningSum(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
                     valueCol: String, outCol: String): DataFrame =
    runningSum(df, keyCols, orderCols,
      Some(coalesce(col(valueCol).cast("long"), lit(0L))), outCol)._1

  /** The one two-pass body: append `outCol` = exclusive running sum of
    * `weight` per series and return it with the total weight. `None`
    * weighs every row 1 — the running sum is then the position — read as
    * a constant in the row-numbering closure, so a position caller's
    * range exchange carries no extra column. A `Some` weight rides the
    * exchange as `__v`.
    */
  private def runningSum(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
                         weight: Option[Column], outCol: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    val weighted = weight.fold(df)(w => df.withColumn("__v", w))
    val sortCols = (keyCols ++ orderCols).map(col)
    // explicit partition count pins the layout (REPARTITION_BY_NUM is not
    // AQE-coalesced), keeping partition ids stable across the two jobs
    val nPart = shufflePartitions(df)
    val sorted = weighted
      .repartitionByRange(nPart, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val baseSchema = sorted.schema
    val vPos = if (weight.isDefined) baseSchema.fieldIndex("__v") else -1
    // r19: InternalRow boundary instead of `df.rdd` — the external-Row
    // path deserialized every column into boxed objects and re-encoded
    // them through `createDataFrame` (one full row-codec round trip per
    // row; the dominant per-task cost of this operator at bench scale).
    // The appended (pid, local row, local prefix) ride a reused JoinedRow
    // over the scan's UnsafeRows: safe without copies because the only
    // consumer is the RDD scan's per-element unsafe projection, which
    // materializes each row before the iterator advances. The RDD
    // boundary itself (and both load-bearing properties documented on
    // [[withPosition]] — the un-eliminable sort, the shuffle shared
    // across the offsets and caller jobs) is unchanged.
    val augRdd = sorted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val extra = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
      extra.update(0, pid)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      var i = 0L
      var s = 0L
      it.map { r =>
        extra.update(1, i)
        extra.update(2, s)
        i += 1
        s += (if (vPos < 0) 1L else r.getLong(vPos))
        joined(r, extra): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    val augSchema = StructType(baseSchema.fields :+
      StructField("__pid", IntegerType, nullable = false) :+
      StructField("__lrn", LongType, nullable = false) :+
      StructField("__lps", LongType, nullable = false))
    val ranged = org.apache.spark.sql.GraftBridge
      .internalCreateDataFrame(spark, augRdd, augSchema)
    val partKeys = col("__pid") +: keyCols.map(col)
    val stats = ranged
      .groupBy(partKeys: _*)
      .agg(sum(if (weight.isDefined) col("__v") else lit(1L)).as("__tot"),
        min_by(col("__lps"), col("__lrn")).as("__first"))
      .collect()
    require(stats.length <= MaxOffsetRows,
      s"OrderedPosition: ${stats.length} (partition, series) groups — key " +
        "cardinality too high for the offset table; use a plain window instead")
    // driver-side cumulative offsets per series across ascending partitions;
    // each row carries (pid, keys..., off) so the executor-side value is
    // one add
    val byKey = stats.groupBy(r => (1 to keyCols.length).map(r.get))
    val offsetRows = byKey.valuesIterator.flatMap { rows =>
      val sortedRows = rows.sortBy(_.getInt(0))
      var acc = 0L
      sortedRows.map { r =>
        // series running total entering this partition, minus the local
        // prefix already accumulated before the series started here
        val off = acc - r.getLong(keyCols.length + 2)
        acc += r.getLong(keyCols.length + 1)
        Row.fromSeq(r.toSeq.dropRight(2) :+ off)
      }
    }.toSeq
    val keyFields = keyCols.map(c => df.schema(c))
    val offSchema = StructType(
      StructField("__pid", IntegerType) +: keyFields :+ StructField("__off", LongType))
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows, 1), offSchema)
    // null-safe (<=>) on the series keys: a null key forms its own series
    // (window-partition semantics); plain equality would silently drop it
    val offRenamed = (Seq("__pid") ++ keyCols).foldLeft(offDf) { (d, c) =>
      d.withColumnRenamed(c, s"__o_$c")
    }
    val cond = (Seq("__pid") ++ keyCols)
      .map(c => if (c == "__pid") ranged(c) === offRenamed("__o___pid")
                else ranged(c) <=> offRenamed(s"__o_$c"))
      .reduce(_ && _)
    val out = ranged
      .join(broadcast(offRenamed), cond)
      .withColumn(outCol, col("__off") + col("__lps"))
      .drop((Seq("__pid") ++ keyCols).map(c => s"__o_$c")
        ++ Seq("__pid", "__lrn", "__lps", "__off") ++ weight.map(_ => "__v"): _*)
    val total = stats.iterator.map(_.getLong(keyCols.length + 1)).sum
    (out, total)
  }
}
