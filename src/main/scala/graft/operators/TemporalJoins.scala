package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators (SURVEY §2.4): interval/range joins (J1/J7),
  * as-of joins (J2), validity-window construction (J3).
  *
  * Scale notes (100 TB design point):
  *  - When the interval side is broadcast-size (profiles, calibrations,
  *    annotations — always true in the reference), the theta-join is a
  *    BroadcastNestedLoopJoin over a few-hundred-row build side: cheap and
  *    shuffle-free.
  *  - When both sides are large, use [[bucketizedIntervalJoin]]: intervals
  *    are exploded into fixed-width time buckets and the join becomes an
  *    equi-join on the bucket key (shuffle-hash/sort-merge capable), with the
  *    exact range predicate applied as a post-filter.
  *  - The as-of join is the union-sentinel + running `last` pattern: one
  *    shuffle on the partition keys, no per-row lookups, scales linearly.
  */
object TemporalJoins {

  // Shadows functions.round: every oracle-compared column rounds with
  // DuckDB-exact semantics (see graft.functions.Rounding) so half-boundary
  // values hash identically on both engines.
  private def round(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    graft.functions.Rounding.dround(c, scale)

  /** J1/J7 containment join: rows of `facts` tagged with attributes of every
    * interval `[startCol, endCol]` containing `facts(tCol)`. Interval side is
    * broadcast (reference intervals are always small).
    */
  def intervalJoin(facts: DataFrame, tCol: String,
                   intervals: DataFrame, startCol: String, endCol: String,
                   joinType: String = "inner"): DataFrame =
    facts.join(
      broadcast(intervals),
      facts(tCol) >= intervals(startCol) && facts(tCol) <= intervals(endCol),
      joinType)

  /** J7 interval-overlap join: `[aStart, aEnd]` overlapping the window
    * `[wStart, wEnd]`, with null `aEnd` treated as open-ended (annotation
    * semantics, ref qaqc/dashboard.py:324-338). Clips the interval to the
    * window into `clip_start`/`clip_end`.
    */
  def overlapJoin(windows: DataFrame, wStart: String, wEnd: String,
                  annos: DataFrame, aStart: String, aEnd: String): DataFrame = {
    val cond = annos(aStart) < windows(wEnd) &&
      (annos(aEnd).isNull || annos(aEnd) > windows(wStart))
    windows.join(broadcast(annos), cond, "inner")
      .withColumn("clip_start", greatest(annos(aStart), windows(wStart)))
      .withColumn("clip_end", least(coalesce(annos(aEnd), windows(wEnd)), windows(wEnd)))
  }

  /** Large×large interval join: explode each interval into the fixed-width
    * buckets it covers, equi-join on the bucket, then re-check the exact
    * predicate. Turns a nested-loop join into a shuffle join; bucket width
    * should be ≳ the median interval length so the explode factor stays
    * small. Time columns must be TimestampType.
    *
    * `extraKeys` prepends shared equi-keys to the bucket join — the
    * per-(site, deployment) series shape: a keyed shuffle join alone
    * degenerates to a per-key cross product when the key is
    * low-cardinality, while `(keys…, bucket)` keeps work per task
    * bounded by bucket occupancy. The automatic
    * [[graft.plans.IntervalJoinRewrite]] leaves equi-keyed joins to Spark
    * and buckets at a fixed day, so this is the spelling for keyed
    * interval joins and for any other bucket width.
    */
  def bucketizedIntervalJoin(facts: DataFrame, tCol: String,
                             intervals: DataFrame, startCol: String, endCol: String,
                             bucketSeconds: Long,
                             extraKeys: Seq[String] = Nil): DataFrame = {
    val b = lit(bucketSeconds)
    val expanded = intervals.withColumn(
      "__bucket",
      explode(sequence(
        (unix_timestamp(col(startCol)) / b).cast("long"),
        (unix_timestamp(col(endCol)) / b).cast("long"))))
    val withBucket = facts.withColumn(
      "__bucket", (unix_timestamp(col(tCol)) / b).cast("long"))
    withBucket
      .join(expanded, extraKeys :+ "__bucket")
      .filter(col(tCol) >= col(startCol) && col(tCol) <= col(endCol))
      .drop("__bucket")
  }

  /** J2 backward as-of join: for each left row, the most recent right row at
    * or before it (per key), within `toleranceSeconds` if given.
    *
    * Routing: when both time columns are timestamps, this plans through
    * the native sort-merge exec [[graft.plans.AsOfJoinNative]] (its
    * strategy is installed by the required GraftExtensions) — one
    * exchange + sort per SIDE instead of shuffling the union of both, no
    * window buffering. The composed union-sentinel spelling below serves
    * every other time type with identical semantics (equivalence
    * spec-pinned and both oracle-checked: q12 routes, q53 constructs the
    * native node directly against the same oracle).
    *
    * @param rightValueCols columns of `right` to carry onto `left`
    *                       (emitted with an `asof_` prefix).
    */
  def asOfJoinBackward(left: DataFrame, lTime: String,
                       right: DataFrame, rTime: String,
                       keys: Seq[String], rightValueCols: Seq[String],
                       toleranceSeconds: Option[Long] = None): DataFrame =
    if (nativeEligible(left, lTime, right, rTime))
      finishNative(
        graft.plans.AsOfJoinNative.asOfJoin(left, lTime, right, rTime,
          keys, rightValueCols, toleranceSeconds,
          graft.plans.AsOfJoinNative.Backward),
        left, keys, rightValueCols.map(c => s"asof_$c"))
    else asOfJoinBackwardComposed(left, lTime, right, rTime, keys,
      rightValueCols, toleranceSeconds)

  /** The union-sentinel spelling of [[asOfJoinBackward]] (non-timestamp
    * time columns, and the specs' oracle for the native exec):
    * one window sorted by (key, time) over the tagged union carrying the
    * last non-null right values forward, then keep only left rows. Single
    * shuffle on `keys`, works when both sides are huge.
    */
  private[graft] def asOfJoinBackwardComposed(left: DataFrame, lTime: String,
                       right: DataFrame, rTime: String,
                       keys: Seq[String], rightValueCols: Seq[String],
                       toleranceSeconds: Option[Long] = None): DataFrame = {
    val tagged = asOfTagged(left, lTime, right, rTime, keys, rightValueCols)
    // Right rows sort before left rows at equal timestamps so an exact-time
    // match is visible to the left row (as-of is <=); the struct breaks
    // remaining ties deterministically (last right row in struct order wins).
    val carried = tagged.withColumn("__rv",
      last(col("__rv"), ignoreNulls = true).over(asOfWindow(keys, forward = false)))
    // Tolerance compared in microseconds — second-granularity unix_timestamp
    // would admit matches up to ~1 s beyond the bound.
    val inTol = toleranceSeconds match {
      case Some(tol) =>
        col("__rv").isNotNull &&
          unix_micros(col("__t")) - unix_micros(col("__rv.__rt")) <= tol * 1000000L
      case None => col("__rv").isNotNull
    }
    finishAsOf(carried, left, keys,
      rightValueCols.map(c => when(inTol, col(s"__rv.asof_$c")).as(s"asof_$c")))
  }

  /** J2 forward as-of join: for each left row, the EARLIEST right row at or
    * after it (per key), within `toleranceSeconds` if given — the mirror of
    * [[asOfJoinBackward]], same single-shuffle union-sentinel plan.
    *
    * The carry runs over the REVERSED time ordering with a growing frame:
    * the direct spelling ([CURRENT ROW, UNBOUNDED FOLLOWING] over ascending
    * time) is a shrinking frame, which Spark evaluates by re-aggregating the
    * remainder per row — O(n²) per partition (measured on q41, PLANS.md).
    */
  def asOfJoinForward(left: DataFrame, lTime: String,
                      right: DataFrame, rTime: String,
                      keys: Seq[String], rightValueCols: Seq[String],
                      toleranceSeconds: Option[Long] = None): DataFrame =
    if (nativeEligible(left, lTime, right, rTime))
      finishNative(
        graft.plans.AsOfJoinNative.asOfJoin(left, lTime, right, rTime,
          keys, rightValueCols, toleranceSeconds,
          graft.plans.AsOfJoinNative.Forward),
        left, keys, rightValueCols.map(c => s"asof_$c"))
    else asOfJoinForwardComposed(left, lTime, right, rTime, keys,
      rightValueCols, toleranceSeconds)

  /** Union-sentinel spelling of [[asOfJoinForward]] (see
    * [[asOfJoinBackwardComposed]]).
    */
  private[graft] def asOfJoinForwardComposed(left: DataFrame, lTime: String,
                      right: DataFrame, rTime: String,
                      keys: Seq[String], rightValueCols: Seq[String],
                      toleranceSeconds: Option[Long] = None): DataFrame = {
    val tagged = asOfTagged(left, lTime, right, rTime, keys, rightValueCols)
    val carried = tagged.withColumn("__rv",
      last(col("__rv"), ignoreNulls = true).over(asOfWindow(keys, forward = true)))
    val inTol = toleranceSeconds match {
      case Some(tol) =>
        col("__rv").isNotNull &&
          unix_micros(col("__rv.__rt")) - unix_micros(col("__t")) <= tol * 1000000L
      case None => col("__rv").isNotNull
    }
    finishAsOf(carried, left, keys,
      rightValueCols.map(c => when(inTol, col(s"__rv.asof_$c")).as(s"asof_$c")))
  }

  /** J2 nearest as-of join: for each left row, whichever of the backward and
    * forward matches is closer in time (ties go BACKWARD — the conventional
    * "prefer the past" rule), each side subject to `toleranceSeconds`.
    * Emits the value columns plus `asof_direction` ('b'/'f', null when
    * neither side matches within tolerance).
    *
    * One tagging pass, two window carries over the SAME partitioning (one
    * exchange; the asc and desc carries each sort once) — not two separate
    * joins, so the left side shuffles once.
    */
  def asOfJoinNearest(left: DataFrame, lTime: String,
                      right: DataFrame, rTime: String,
                      keys: Seq[String], rightValueCols: Seq[String],
                      toleranceSeconds: Option[Long] = None): DataFrame =
    if (nativeEligible(left, lTime, right, rTime))
      finishNative(
        graft.plans.AsOfJoinNative.asOfJoin(left, lTime, right, rTime,
          keys, rightValueCols, toleranceSeconds,
          graft.plans.AsOfJoinNative.Nearest),
        left, keys, rightValueCols.map(c => s"asof_$c") :+ "asof_direction")
    else asOfJoinNearestComposed(left, lTime, right, rTime, keys,
      rightValueCols, toleranceSeconds)

  /** Union-sentinel spelling of [[asOfJoinNearest]] (see
    * [[asOfJoinBackwardComposed]]).
    */
  private[graft] def asOfJoinNearestComposed(left: DataFrame, lTime: String,
                      right: DataFrame, rTime: String,
                      keys: Seq[String], rightValueCols: Seq[String],
                      toleranceSeconds: Option[Long] = None): DataFrame = {
    val tagged = asOfTagged(left, lTime, right, rTime, keys, rightValueCols)
    val carried = tagged
      .withColumn("__rvb",
        last(col("__rv"), ignoreNulls = true).over(asOfWindow(keys, forward = false)))
      .withColumn("__rvf",
        last(col("__rv"), ignoreNulls = true).over(asOfWindow(keys, forward = true)))
    val db = unix_micros(col("__t")) - unix_micros(col("__rvb.__rt"))
    val df = unix_micros(col("__rvf.__rt")) - unix_micros(col("__t"))
    val tolUs = toleranceSeconds.map(t => lit(t * 1000000L))
    val okB = col("__rvb").isNotNull && tolUs.map(db <= _).getOrElse(lit(true))
    val okF = col("__rvf").isNotNull && tolUs.map(df <= _).getOrElse(lit(true))
    val useB = okB && (!okF || db <= df)
    finishAsOf(carried, left, keys,
      rightValueCols.map(c =>
        when(useB, col(s"__rvb.asof_$c"))
          .when(okF, col(s"__rvf.asof_$c")).as(s"asof_$c")) :+
        when(useB, "b").when(okF, "f").as("asof_direction"))
  }

  /** Native-path eligibility: both time columns are plain timestamps
    * (the native exec reads micros longs and applies tolerance in
    * microseconds). Column names resolve with the
    * session's resolver (case-insensitive by default) like every other
    * path — a case-mismatched name must fall through to the composed
    * spelling's normal resolution, not throw out of the gate.
    */
  private def nativeEligible(left: DataFrame, lTime: String,
                             right: DataFrame, rTime: String): Boolean = {
    def timeTyped(df: DataFrame, name: String): Boolean = {
      val resolver = df.sparkSession.sessionState.analyzer.resolver
      df.schema.fields.exists(f => resolver(f.name, name) &&
        f.dataType == org.apache.spark.sql.types.TimestampType)
    }
    timeTyped(left, lTime) && timeTyped(right, rTime)
  }

  /** Reorder the native operator's output (left columns in input order,
    * then asof_*) to the composed spelling's contract (keys first, then
    * the remaining left columns, then asof_*) so routing is invisible.
    */
  private def finishNative(out: DataFrame, left: DataFrame,
                           keys: Seq[String], asofCols: Seq[String]): DataFrame =
    out.select(
      (keys ++ left.columns.filterNot(keys.contains) ++ asofCols).map(col): _*)

  /** Union-sentinel tagging shared by the as-of family: left rows tagged 1
    * carrying their payload as `__l_*` columns with a null right struct;
    * right rows tagged 0 carrying ONE struct `__rv` of (match time + value
    * columns), so a single `last(ignoreNulls)` always emits values from the
    * same right row even when some of its columns are null. Null right
    * times are dropped (they have no place on the as-of axis: sorted
    * nulls-first, one would become the carried match for every left row
    * before the first real right row).
    */
  private def asOfTagged(left: DataFrame, lTime: String,
                         right: DataFrame, rTime: String,
                         keys: Seq[String], rightValueCols: Seq[String]): DataFrame = {
    val lCols = left.columns
    val rvStruct = struct(
      (col(rTime).as("__rt") +: rightValueCols.map(c => col(c).as(s"asof_$c"))): _*)
    val nullRvType = {
      import org.apache.spark.sql.types.{StructField, StructType}
      StructType(StructField("__rt", right.schema(rTime).dataType) +:
        rightValueCols.map(c => StructField(s"asof_$c", right.schema(c).dataType)))
    }
    val leftTagged = left
      .withColumn("__is_left", lit(1))
      .withColumn("__t", col(lTime))
      .select(
        (keys.map(col) :+ col("__is_left") :+ col("__t") :+
          lit(null).cast(nullRvType).as("__rv")) ++
          lCols.filterNot(keys.contains).map(c => col(c).as(s"__l_$c")): _*)
    val rightTagged = right
      .filter(col(rTime).isNotNull)
      .withColumn("__is_left", lit(0))
      .withColumn("__t", col(rTime))
      .select(
        (keys.map(col) :+ col("__is_left") :+ col("__t") :+ rvStruct.as("__rv")) ++
          lCols.filterNot(keys.contains).map(c =>
            lit(null).cast(left.schema(c).dataType).as(s"__l_$c")): _*)
    leftTagged.unionByName(rightTagged)
  }

  /** The as-of carry window: growing frame over time ascending (backward
    * match) or descending (forward match). Right rows (sentinel 0) sort
    * before left rows at equal timestamps in BOTH directions, so an
    * exact-time match is visible to the left row; the struct breaks
    * remaining right-row ties deterministically (last in struct order wins).
    */
  private def asOfWindow(keys: Seq[String], forward: Boolean) =
    Window.partitionBy(keys.map(col): _*)
      .orderBy(if (forward) col("__t").desc else col("__t").asc,
        col("__is_left").asc, col("__rv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Keep only left rows of a carried as-of union and restore the left
    * payload columns, appending `outputCols`.
    */
  private def finishAsOf(carried: DataFrame, left: DataFrame, keys: Seq[String],
                         outputCols: Seq[Column]): DataFrame =
    carried
      .filter(col("__is_left") === 1)
      .select(
        keys.map(col) ++
          left.columns.filterNot(keys.contains).map(c => col(s"__l_$c").as(c)) ++
          outputCols: _*)

  /** J3 validity-window construction: per `key`, each row's window runs from
    * its own `tsCol` to the next row's (exclusive), the last row extending to
    * `defaultEnd`. Optional clip bounds (deployment start/stop in the
    * reference, qaqc/utils.py:182-191); empty windows are dropped.
    */
  def validityWindows(df: DataFrame, key: String, tsCol: String,
                      defaultEnd: Column,
                      clipLo: Option[Column] = None,
                      clipHi: Option[Column] = None,
                      tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(key)
      .orderBy((col(tsCol) +: tieBreak.map(col)): _*)
    val base = df
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", coalesce(lead(col(tsCol), 1).over(w), defaultEnd))
    val clipped = (clipLo, clipHi) match {
      case (Some(lo), Some(hi)) => base
        .withColumn("valid_from", greatest(col("valid_from"), lo))
        .withColumn("valid_to", least(col("valid_to"), hi))
      case (Some(lo), None) => base.withColumn("valid_from", greatest(col("valid_from"), lo))
      case (None, Some(hi)) => base.withColumn("valid_to", least(col("valid_to"), hi))
      case _ => base
    }
    clipped.filter(col("valid_from") < col("valid_to"))
  }

  /** Annotation overlay data for a plot window — the table behind every
    * plot path's `anno` overlay (rca_data_tools/qaqc/dashboard.py:324-346
    * `annoInRange`/`annoXnormalize` + the per-plot loop at :666-677):
    * annotations intersecting [startDate, endDate] are clipped to it
    * (open-ended annotations run to the window end), x-normalized to
    * window fractions, and reduced to ONE annotation per clipped start
    * line — the reference keys a dict by start line so later entries
    * overwrite earlier ones (:676-677); arrival order isn't meaningful on
    * a DataFrame, so the survivor here is the deterministic max of
    * (beginTime, annotation), documented divergence.
    *
    * Input columns: (beginTime timestamp, endTime nullable timestamp,
    * annotation string). Output: (start_line, end_line, annotation,
    * x_min, x_max) with fractions in [0, 1].
    */
  def annotationOverlay(annotations: DataFrame,
                        startDate: Column, endDate: Column): DataFrame = {
    val b = col("beginTime")
    val e = col("endTime")
    val inRange = !(b >= endDate || (e.isNotNull && e <= startDate))
    val clipped = annotations.filter(inRange)
      .withColumn("start_line", greatest(b, startDate))
      .withColumn("end_line",
        when(e.isNull || e > endDate, endDate).otherwise(e))
    val w = Window.partitionBy(col("start_line"))
      .orderBy(col("beginTime").desc, col("annotation").desc)
    val span = unix_micros(endDate) - unix_micros(startDate)
    clipped
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("start_line"), col("end_line"), col("annotation"),
        round((unix_micros(col("start_line")) - unix_micros(startDate))
          .cast("double") / span, 6).as("x_min"),
        round((unix_micros(col("end_line")) - unix_micros(startDate))
          .cast("double") / span, 6).as("x_max"))
  }
}
