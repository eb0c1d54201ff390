package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap handling and interpolation (SURVEY §2.6 W3/W4, §2.9 C2/C3):
  * window-function based linear interpolation — the classic Spark gap-fill
  * fragment the reference does with `interpolate_na` / `np.interp` — with
  * the reference's interpolated-cell gap masking (W3) as
  * [[interpolateLinear]]'s `maxGap`. All pure window plans: one shuffle on
  * the series key.
  */
object GapFill {

  /** W4 linear interpolation of null values in `valueCol` along `orderCol`
    * per series: y = y0 + (y1 - y0) * (t - t0) / (t1 - t0) between the
    * nearest non-null neighbours; leading/trailing nulls stay null
    * (xarray `interpolate_na(method="linear")` default).
    * `orderCol` must be numeric (e.g. epoch micros).
    *
    * NaN values are treated as MISSING, like pandas/xarray interpolate —
    * a NaN anchor would otherwise poison every cell it brackets.
    *
    * `maxGap` (in `orderCol` units): when set, cells whose bracketing
    * real observations are further apart than this stay null instead of
    * lerping across the void — the reference's interpolated-cell gap
    * masking (qaqc/dashboard.py:962-967), expressed where the
    * interpolation anchors are already known.
    */
  def interpolateLinear(df: DataFrame, keyCols: Seq[String], orderCol: String,
                        valueCol: String, outCol: String,
                        tieBreak: Seq[String] = Nil,
                        maxGap: Option[Double] = None): DataFrame = {
    val part: Seq[Column] = keyCols.map(col)
    val order = col(orderCol) +: tieBreak.map(col)
    val back = (if (part.isEmpty) Window.orderBy(order: _*)
                else Window.partitionBy(part: _*).orderBy(order: _*))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // "next non-null" as a REVERSED growing frame, not
    // [CURRENT ROW, UNBOUNDED FOLLOWING]: Spark evaluates shrinking
    // frames by re-aggregating the remainder for every row — O(n²) per
    // partition (measured: q41's 1.3k-row series took 8 s at sf0.1).
    // The desc-ordered prefix holds exactly the asc-ordered suffix, and
    // its last non-null is the asc-first non-null, so results are
    // identical at O(n).
    val orderDesc = order.map(_.desc)
    val fwd = (if (part.isEmpty) Window.orderBy(orderDesc: _*)
               else Window.partitionBy(part: _*).orderBy(orderDesc: _*))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val raw = col(valueCol)
    // effective value: NaN is missing, not an anchor
    val v = when(raw.isNotNull && !raw.isNaN, raw)
    val t = col(orderCol).cast("double")
    val prevV = last(when(v.isNotNull, v), ignoreNulls = true).over(back)
    val prevT = last(when(v.isNotNull, t), ignoreNulls = true).over(back)
    val nextV = last(when(v.isNotNull, v), ignoreNulls = true).over(fwd)
    val nextT = last(when(v.isNotNull, t), ignoreNulls = true).over(fwd)
    val lerp = prevV + (nextV - prevV) * (t - prevT) / (nextT - prevT)
    val inGap = maxGap match {
      case Some(g) => nextT - prevT <= g
      case None => lit(true)
    }
    df.withColumn(outCol,
      when(v.isNotNull, v)
        .when(prevV.isNotNull && nextV.isNotNull && inGap,
          when(nextT === prevT, prevV).otherwise(lerp))
        .otherwise(lit(null)))
  }

  /** Hourly/step-grid interpolation WITHOUT materializing the grid rows
    * through the shuffle (r20, the q41 rewrite): result-identical to the
    * classic composition
    *
    * {{{
    * obs.withColumn("is_grid", 0)
    *    .unionByName(gridRows)                       // one row per step in
    *    // [floor(min t/step), floor(max t/step)] per key, v null, is_grid 1
    *    |> interpolateLinear(keys, t, v, out, tieBreak = is_grid)
    *    |> filter(is_grid === 1)
    * }}}
    *
    * but the union+window plan SHUFFLES AND SORTS observations PLUS the
    * generated grid (the grid is step-count-proportional — q41's sf0.1
    * grid is 1.05M rows against 100k observations, and the 10×-scale
    * ratio was the engine's worst at 3.96×). Here only the observations
    * cross the one exchange; grid rows are GENERATED in the final
    * projection, after the windows, and never shuffle or sort
    * (guide §2.3 — shuffle keys and metadata, generate the heavy rows
    * once placement is decided).
    *
    * Shape: one window pass over obs partitioned by the series key —
    * per-key min/max t (the grid extent), next-anchor (t, v) via the
    * strictly-after reversed growing frame, row_number for the head
    * emitter. Each ANCHOR row (v non-null, non-NaN — the
    * [[interpolateLinear]] missing-value contract) then owns the grid
    * points in [its t, next anchor t) and emits them with the lerp;
    * the first row additionally emits the null head range (grid points
    * before the first anchor), which also covers anchorless series.
    * Candidate ranges carry a ±1 index margin and ownership is decided
    * by the SAME double comparisons the window sort used, so boundary
    * behaviour (a grid point exactly ON an anchor, including the
    * null-at-last-anchor edge) is bit-identical — spec-pinned against
    * the union+window composition, NaN/empty/exact-hit cases included.
    *
    * Contract: `orderCol` numeric non-null DOUBLE, unique per key (ties
    * make the interpolation order-dependent, so pre-aggregate them away,
    * as q41 does); `keyCols` non-empty high-cardinality keys.
    */
  def interpolateOntoStepGrid(obs: DataFrame, keyCols: Seq[String],
                              orderCol: String, valueCol: String,
                              stepUs: Long, outCol: String): DataFrame = {
    require(keyCols.nonEmpty, "interpolateOntoStepGrid needs a series key")
    val keys = keyCols.map(col)
    val wAll = Window.partitionBy(keys: _*)
    val wAsc = wAll.orderBy(col("__t").asc)
    // prev anchor at-or-before the row: asc growing frame (incl. current);
    // next anchor strictly after: reversed growing frame ENDING AT -1
    // (the interpolateLinear O(n) convention, minus the current row)
    val wPrev = wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = wAll.orderBy(col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val a = col("__v").isNotNull && !col("__v").isNaN
    val prepared = obs
      .withColumnRenamed(orderCol, "__t")
      .withColumnRenamed(valueCol, "__v")
      .withColumn("__lo", min(col("__t")).over(wAll))
      .withColumn("__hi", max(col("__t")).over(wAll))
      // every obs row owns the grid points in [its t, next ROW's t) —
      // the first row additionally owns [grid start, its t). The
      // bracketing ANCHORS (v non-null non-NaN, the interpolateLinear
      // missing-value contract) ride along as window columns, so head
      // nulls, NaN holes and the null-after-last-anchor edge all fall
      // out of one uniform lerp — no branches, no struct explode.
      .withColumn("__first", lag(col("__t"), 1).over(wAsc).isNull)
      .withColumn("__nrt", lead(col("__t"), 1).over(wAsc))
      .withColumn("__pat",
        last(when(a, col("__t")), ignoreNulls = true).over(wPrev))
      .withColumn("__pav",
        last(when(a, col("__v")), ignoreNulls = true).over(wPrev))
      .withColumn("__nat",
        last(when(a, col("__t")), ignoreNulls = true).over(wNext))
      .withColumn("__nav",
        last(when(a, col("__v")), ignoreNulls = true).over(wNext))
    // grid indices exactly as the union composition derives them:
    // floor(double t / step) — cast long for sequence()
    def gIdx(c: Column): Column = floor(c / stepUs).cast("long")
    val gLo = gIdx(col("__lo"))
    val gHi = gIdx(col("__hi"))
    // candidate range with a ±1 margin for double rounding at the step
    // boundaries; the keep-filter below is the exact arbiter
    val start = when(col("__first"), gLo)
      .otherwise(greatest(gLo, gIdx(col("__t")) - 1))
    val end = least(gHi, coalesce(gIdx(col("__nrt")) + 1, gHi))
    val seq = when(start <= end, sequence(start, end))
      .otherwise(array().cast("array<bigint>"))
    val exploded = prepared.select(
      (keys :+ col("__t") :+ col("__first") :+ col("__nrt") :+
        col("__pat") :+ col("__pav") :+ col("__nat") :+ col("__nav") :+
        explode(seq).as("__g")): _*)
    // grid time exactly as the union composition spells it: long index ×
    // long step, cast to double
    val tg = (col("__g") * stepUs).cast("double")
    // ownership by the very comparisons the window sort would have made
    val keep = (col("__first") || tg >= col("__t")) &&
      (col("__nrt").isNull || tg < col("__nrt"))
    // the lerp, operator-for-operator the interpolateLinear expression
    // (prevV + (nextV − prevV) * (t − prevT) / (nextT − prevT)); missing
    // prev anchor (head) or next anchor (tail, including a grid point
    // exactly ON the last anchor) stays null, like the composition.
    // tg >= __t guards the first row's sub-t head points: its own anchor
    // sits AFTER them, so they have no prev anchor and stay null
    val vInterp = when(tg >= col("__t") &&
        col("__pat").isNotNull && col("__nat").isNotNull,
      col("__pav") + (col("__nav") - col("__pav")) * (tg - col("__pat")) /
        (col("__nat") - col("__pat")))
    exploded.filter(keep)
      .select((keys :+ tg.as(orderCol) :+ vInterp.as(outCol)): _*)
  }

  /** C2-style regular grid: one row per (series, grid step) between the
    * series' min and max time, observed values joined on, everything else
    * null — ready for [[interpolateLinear]]. Grid generation is
    * `sequence()` + `explode` (distributed, no driver loop).
    *
    * CONTRACT: observations must sit ON grid points (`min + k·step`, as a
    * resample/bin step guarantees and [[graft.functions.Qartod.climTrace]]'s
    * whole-hour month points do) — an off-grid observation matches no grid
    * row and does NOT contribute, not even as an interpolation anchor.
    * For scattered data use the union-with-samples pattern
    * ([[graft.ProfileGrid]], q41): anchors ride along as non-grid rows
    * and are filtered after interpolation.
    */
  def timeGrid(df: DataFrame, keyCols: Seq[String], timeCol: String,
               stepSeconds: Long): DataFrame = {
    val grid = df.groupBy(keyCols.map(col): _*)
      .agg(min(col(timeCol)).as("__lo"), max(col(timeCol)).as("__hi"))
      .withColumn(timeCol, explode(sequence(
        col("__lo"), col("__hi"),
        expr(s"INTERVAL $stepSeconds SECONDS"))))
      .drop("__lo", "__hi")
    grid.join(df, keyCols :+ timeCol, "left")
  }
}
