package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType, TimestampType}

/** Port of the reference's profiler-grid query — its most-used plot path
  * (rca_data_tools/qaqc/dashboard.py:399-920 `plotProfilesGrid`, gridding
  * kernel `gridProfiles` at dashboard.py:154-228, grid assembly
  * `create_interpolation_grid` at dashboard.py:923-1013). As with
  * [[ProfileScatter]], the engine's deliverable is the plot-DATA table (the
  * interpolated (time, depth, value) grid in long form) plus the
  * deterministic artifact manifest; contour rendering stays a thin client.
  *
  * Semantics preserved from the reference (non-deploy, non-ADCP path):
  *  - window = [timeRef − span, timeRef] with null (value, pressure) rows
  *    dropped (dashboard.py:568-579); ≤5 samples in window → "No Data
  *    Available" manifest, no data rows (dashboard.py:591,657-662);
  *  - profile mask: start > first sample ∧ end ≤ last sample
  *    (dashboard.py:175);
  *  - descent-sampled parameters slice [peak, end], others [start, peak]
  *    (dashboard.py:186-195);
  *  - one grid column per profile at depth steps `arange(0, profileDepth,
  *    depthStep)` (dashboard.py:197-198), linearly interpolated along
  *    pressure with constant extrapolation at the edges (`np.interp`,
  *    dashboard.py:213); profiles with <2 pressure samples produce no
  *    column (dashboard.py:210,225-226 + zero-column deletion :999-1003);
  *  - pressure masks: cells above the shallowest sample are nulled when
  *    min pressure > 5, cells below the deepest when max pressure < 185
  *    (dashboard.py:215-222);
  *  - time-gap mask: when the gap between a column's seconds-truncated
  *    peak and the NEXT column's exceeds the threshold (5 days for spans
  *    > 45 days, else 1 day), the LEFT column of the gap is nulled —
  *    `zi[np.where(np.diff(xiDT) > gapThreshold)] = NaN`
  *    (dashboard.py:1004-1010);
  *  - ≤1 surviving column → "Insufficient Profiles Found For Gridding"
  *    manifest, no data rows (dashboard.py:1036,1071-1076);
  *  - manifest: a populated grid emits `none` then `clim` artifacts at the
  *    three scales (full, standard, local); the clim trio is recorded
  *    whether climatology data is present, absent, or fails to grid
  *    (dashboard.py:839,856-901,908 — all three clim branches append).
  *    The reference SAVES `anno` overlay files but never appends them to
  *    its fileNameList (dashboard.py:700-704,730-734,760-764 — no
  *    `fileNameList.append`), so they are absent here too. An empty or
  *    insufficient window instead emits `none` + `clim` + `anno` trios
  *    (dashboard.py:911-918).
  *
  * Deliberate divergence: the reference feeds `np.interp` the profile's
  * samples in reversed TIME order for ascent parameters (dashboard.py:
  * 204-206), which is pressure-ascending only while the cast is monotonic —
  * non-monotonic casts silently produce unsorted-xp garbage. This port
  * sorts by pressure outright (ties broken by value), which is identical
  * for monotonic profiles and well-defined for the rest.
  *
  * Scale shape: samples are never collected. The interpolation is the q41
  * union+window pattern — grid rows unioned with samples, two running
  * windows partitioned by profile (high-cardinality key: one per cast) —
  * so the whole plan is shuffle-once-per-side and codegen-friendly. Only
  * the per-profile stats (one row per cast in the window — broadcast-small
  * by construction, same bound as [[ProfileScatter]]'s counts) and the
  * 3-value extent reach the driver, where they also decide the manifest.
  */
object ProfileGrid {

  // Shadows functions.round: every oracle-compared column rounds with
  // DuckDB-exact semantics (see graft.functions.Rounding) so half-boundary
  // values hash identically on both engines.
  private def round(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    graft.functions.Rounding.dround(c, scale)

  /** `status` is the S7 operational-status string painted into every
    * artifact title (dashboard.py:448,462), default = the degrade rule.
    * `gridTimes` (r20) is the distinct, ascending set of the grid's `t`
    * values (the kept profiles' seconds-truncated peaks) — already on the
    * driver from the stats collect, exported so overlay consumers don't
    * re-derive it with a distinct over the grid (guide §8: use what the
    * driver knows that the optimizer cannot). Empty for an empty grid.
    */
  final case class Result(data: DataFrame, manifest: Seq[String],
                          status: String = graft.sources.OperationalStatus.Default,
                          gridTimes: Seq[Timestamp] = Nil) {
    def statusColor: String = graft.sources.OperationalStatus.colorFor(status)
  }

  private val Scales = Seq("full", "standard", "local")

  private def outSchema = StructType(Seq(
    StructField("t", TimestampType),
    StructField("depth", DoubleType),
    StructField("value", DoubleType)))

  def run(samples: DataFrame, timeCol: String, yParam: String, pressParam: String,
          profiles: DataFrame, // (start, peak, end) timestamps
          timeRef: Timestamp, spanDays: Int,
          profileDepth: Double, depthStep: Double,
          fileNameBase: String, spanString: String,
          descentSampled: Boolean = false,
          shallowMaskMin: Double = 5.0, deepMaskMax: Double = 185.0,
          status: String = graft.sources.OperationalStatus.Default): Result = {
    val spark = samples.sparkSession

    def emptyResult = {
      // dashboard.py:657-662 + 911-918: 'none' trio from the empty plot,
      // then a trio per overlay (clim, anno) from the emptySlice branch
      val manifest = Seq("none", "clim", "anno").flatMap(o =>
        Scales.map(sc => s"${fileNameBase}_${spanString}_${o}_$sc.png"))
      Result(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema),
        manifest, status)
    }

    val startDate = new Timestamp(timeRef.getTime - spanDays * 86400000L)
    val base = samples
      .filter(col(timeCol) >= lit(startDate) && col(timeCol) <= lit(timeRef) &&
        col(yParam).isNotNull && col(pressParam).isNotNull)

    val ext = base.agg(count(lit(1)), min(col(timeCol)), max(col(timeCol))).collect()(0)
    if (ext.getLong(0) <= 5) return emptyResult

    // profile mask against the data extent (dashboard.py:175 — strict on
    // start, inclusive on end; no 5-minute pad, unlike the scatter path)
    val inWin = profiles.filter(
      col("start") > lit(ext.getTimestamp(1)) && col("end") <= lit(ext.getTimestamp(2)))
    val sliceLo = if (descentSampled) "peak" else "start"
    val sliceHi = if (descentSampled) "end" else "peak"

    // Reuse.pinned: the slice feeds BOTH the driver-side stats collect
    // below and every downstream branch of the returned plan — without it
    // the sample scan + profile join execute twice (or four times in the
    // q66 overlay composition). The materialized slice is one (site, span)
    // window, the same working set the reference holds in memory — but at
    // 100 TB a big one, hence pinned (recompute path kept) rather than a
    // lineage-truncating checkpoint. LAZY: the stats collect below is the
    // first action and doubles as the materializing scan
    val pts = base.join(
        broadcast(inWin),
        col(timeCol) >= col(sliceLo) && col(timeCol) <= col(sliceHi))
      .select(col("peak"),
        col(pressParam).cast("double").as("p"),
        col(yParam).cast("double").as("v"))
      .transform(graft.operators.Reuse.pinned)

    // per-profile stats: one tiny agg, one row per surviving cast. The gap
    // mask needs each column's successor, so it is computed here on the
    // profile dimension (not the sample dimension) — driver-side, like the
    // reference's np.diff over gridX and ProfileScatter's plot numbering.
    val gapSeconds = (if (spanDays > 45) 5L else 1L) * 86400L
    val stats = pts.groupBy(col("peak"))
      .agg(count(lit(1)).as("n"), min(col("p")).as("min_p"), max(col("p")).as("max_p"))
      .filter(col("n") >= 2)
      .select(col("peak"), col("min_p"), col("max_p"))
      .collect().sortBy(_.getTimestamp(0).getTime)
    if (stats.length <= 1) return emptyResult

    val kept = stats.zipWithIndex.map { case (r, i) =>
      val peak = r.getTimestamp(0)
      val gapMasked = i + 1 < stats.length &&
        (stats(i + 1).getTimestamp(0).getTime / 1000L - peak.getTime / 1000L) > gapSeconds
      Row(peak, r.getDouble(1), r.getDouble(2), gapMasked)
    }
    val keptDf = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(kept.toSeq, 1),
      StructType(Seq(
        StructField("peak", TimestampType),
        StructField("min_p", DoubleType),
        StructField("max_p", DoubleType),
        StructField("gap_masked", org.apache.spark.sql.types.BooleanType)))))

    // grid columns: arange(0, profileDepth, depthStep) per kept profile
    val nSteps = math.ceil(profileDepth / depthStep).toInt
    val grid = keptDf.select(col("peak"), col("min_p"), col("max_p"), col("gap_masked"),
        explode(sequence(lit(0), lit(nSteps - 1))).as("gi"))
      .select(col("peak"), col("min_p"), col("max_p"), col("gap_masked"),
        (col("gi") * lit(depthStep)).as("gy"))

    // np.interp along pressure as the q41 union+window pattern: samples and
    // grid points interleave in pressure order; running last/first non-null
    // values bracket each grid point; edges clamp (constant extrapolation)
    val u = pts
      .join(broadcast(keptDf.select(col("peak"))), Seq("peak")) // drop <2-sample profiles
      .select(col("peak"), col("p"), col("v"), lit(0).as("is_grid"),
        lit(null).cast("double").as("gy"),
        lit(null).cast("double").as("min_p"), lit(null).cast("double").as("max_p"),
        lit(null).cast("boolean").as("gap_masked"))
      .unionByName(grid.select(col("peak"), col("gy").as("p"),
        lit(null).cast("double").as("v"), lit(1).as("is_grid"), col("gy"),
        col("min_p"), col("max_p"), col("gap_masked")))

    val ord = Seq(col("p"), col("is_grid"), col("v"))
    val back = Window.partitionBy(col("peak")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // next-non-null via the REVERSED growing frame — a
    // [CURRENT, UNBOUNDED FOLLOWING] frame is re-aggregated per row by
    // Spark (O(n²) per partition); the desc prefix is the asc suffix
    val fwd = Window.partitionBy(col("peak")).orderBy(ord.map(_.desc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col("v")
    val pv = last(v, ignoreNulls = true).over(back)
    val pp = last(when(v.isNotNull, col("p")), ignoreNulls = true).over(back)
    val nv = last(v, ignoreNulls = true).over(fwd)
    val np = last(when(v.isNotNull, col("p")), ignoreNulls = true).over(fwd)
    val interp = when(pv.isNull, nv).when(nv.isNull, pv)
      .when(np === pp, pv)
      .otherwise(pv + (nv - pv) * (col("p") - pp) / (np - pp))
    val masked = when(col("gap_masked"), lit(null))
      .when(col("min_p") > lit(shallowMaskMin) && col("gy") < col("min_p"), lit(null))
      .when(col("max_p") < lit(deepMaskMax) && col("gy") > col("max_p"), lit(null))
      .otherwise(interp)

    val data = u.withColumn("value", masked)
      .filter(col("is_grid") === 1)
      // xiDT is seconds-truncated (astype('datetime64[s]'), dashboard.py:1004)
      .select(timestamp_seconds(unix_timestamp(col("peak"))).as("t"),
        col("gy").as("depth"), round(col("value"), 6).as("value"))

    // populated grid: 'none' trio then the always-recorded 'clim' trio;
    // 'anno' files are saved but never recorded by the reference (see doc)
    val manifest = Seq("none", "clim").flatMap(o =>
      Scales.map(sc => s"${fileNameBase}_${spanString}_${o}_$sc.png"))
    // the grid's distinct t values: every kept peak emits nSteps grid rows
    // and t = timestamp_seconds(unix_timestamp(peak)) — floorDiv matches
    // unix_timestamp's floor-to-seconds for all epochs
    val gridTimes = kept.map(r => new Timestamp(
        Math.floorDiv(r.getTimestamp(0).getTime, 1000L) * 1000L))
      .distinct.sortBy(_.getTime).toSeq
    Result(data, manifest, status, gridTimes)
  }

  /** C3 fallback grid — the reference's "old method" used when the profile
    * index is empty or profile gridding fails (dashboard.py:944-967,
    * 975-995): an hourly × depth mesh over the padded window
    * `[start − span·0.002 d, end + span·0.002 d]`, scattered samples
    * interpolated onto it, and cells inside >1-day sample gaps nulled.
    *
    * Divergence, documented: the reference runs `scipy.griddata` — 2-D
    * linear interpolation over a Delaunay triangulation of the scattered
    * points, which is neither separable nor expressible as a distributed
    * plan without materializing the triangulation. This port grids
    * SEPARABLY: samples snap to the nearest depth row, each depth row
    * interpolates along time (no extrapolation past its first/last
    * sample), then each time column fills remaining holes along depth
    * (again no edge extrapolation) — the standard scalable re-expression;
    * values agree with griddata on axis-aligned data and differ only in
    * triangle-interior weighting. Two union+window passes, partitioned by
    * depth row then by time column — both high-cardinality keys, fully
    * parallel, no driver collection beyond the 3-value extent and the
    * hourly bucket table (bounded by the window's hour count).
    *
    * Gap-mask quirk preserved (dashboard.py:963): the reference only
    * applies the mask when there is MORE THAN ONE gap
    * (`len(timeGaps[0]) > 1`) — a single >1-day gap goes unmasked.
    *
    * Returns (t timestamp, depth double, value double) — one row per mesh
    * cell.
    */
  def gridFallback(samples: DataFrame, timeCol: String, yParam: String,
                   pressParam: String, timeRef: Timestamp, spanDays: Int,
                   yMin: Double, yMax: Double, depthStep: Double): DataFrame = {
    val spark = samples.sparkSession
    val padUs = (spanDays * 0.002 * 86400e6).toLong
    val startUs = timeRef.getTime * 1000L - spanDays * 86400000000L
    val xMinUs = startUs - padUs
    val xMaxUs = timeRef.getTime * 1000L + padUs
    val hourUs = 3600000000L
    val nT = ((xMaxUs - xMinUs + hourUs - 1) / hourUs).toInt // arange(xMin, xMax, 3600)
    val nD = math.ceil((yMax - yMin) / depthStep).toInt

    val base = samples
      .filter(col(timeCol) >= lit(new Timestamp(startUs / 1000L)) &&
        col(timeCol) <= lit(timeRef) &&
        col(yParam).isNotNull && col(pressParam).isNotNull)
      .select(unix_micros(col(timeCol)).as("tu"),
        col(pressParam).cast("double").as("p"),
        col(yParam).cast("double").as("v"))

    // >1-day sample gaps via hourly pre-aggregation: a day-plus gap cannot
    // hide inside one hour bucket, so consecutive non-empty buckets carry
    // exactly the sample-level gap endpoints. The bucket table is
    // mesh-sized (one row per non-empty hour of the window, at most nT),
    // so the driver sorts it and pairs consecutive buckets itself.
    val hourly = base.groupBy((col("tu") / hourUs).cast("long").as("hb"))
      .agg(min(col("tu")).as("mn"), max(col("tu")).as("mx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val gapRows = hourly.toSeq.sliding(2).collect {
      case Seq((_, _, mx), (_, nxtMn, _)) if nxtMn - mx > 86400000000L => (mx, nxtMn)
    }.toSeq
    // reference quirk: masking only engages with MORE than one gap
    val gapTable = if (gapRows.length > 1) gapRows else Nil

    // depth-row snap + time-axis interpolation per depth row
    val binned = base
      .withColumn("di", functions.round((col("p") - lit(yMin)) / lit(depthStep)).cast("int"))
      .filter(col("di") >= 0 && col("di") < nD)
    val mesh = spark.range(0, nD.toLong)
      .select(col("id").cast("int").as("di"))
      .crossJoin(spark.range(0, nT.toLong).select(
        (lit(xMinUs) + col("id") * hourUs).as("tu")))
    val u1 = binned.select(col("di"), col("tu"), col("v"), lit(0).as("is_grid"))
      .unionByName(mesh.select(col("di"), col("tu"),
        lit(null).cast("double").as("v"), lit(1).as("is_grid")))
    val ord1 = Seq(col("tu"), col("is_grid"), col("v"))
    val pass1 = u1.withColumn("v1", lerpNoClamp(col("di"), ord1, col("tu")))
      .filter(col("is_grid") === 1)
      .select(col("di"), col("tu"), col("v1").as("v"), lit(0).as("is_grid"))

    // depth-axis fill per time column (holes between populated depth rows)
    val ord2 = Seq(col("di"), col("is_grid"))
    val pass2 = pass1.withColumn("v2", lerpNoClamp(col("tu"), ord2, col("di")))

    val masked = gapTable.foldLeft(col("v2")) { case (acc, (lo, hi)) =>
      when(col("tu") > lit(lo) && col("tu") < lit(hi), lit(null)).otherwise(acc)
    }
    pass2.select(
      timestamp_micros(col("tu")).as("t"),
      (lit(yMin) + col("di") * lit(depthStep)).as("depth"),
      round(masked, 6).as("value"))
  }

  /** Linear interpolation onto grid rows interleaved in a union+window
    * plan: value rows carry `v`, grid rows null — the grid value lerps
    * between the bracketing non-null neighbours along `x`. No edge
    * clamping: outside the data's hull the result is null (`scipy
    * .griddata` semantics; the profile-grid `np.interp` path clamps
    * instead and builds its own expression in [[run]]). Both neighbour
    * lookups use GROWING frames (the "next" side over the reversed
    * ordering): Spark re-aggregates shrinking frames per row — O(n²)
    * per partition.
    */
  private def lerpNoClamp(partition: Column, ord: Seq[Column], x: Column): Column = {
    val back = Window.partitionBy(partition).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(partition).orderBy(ord.map(_.desc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col("v")
    val pv = last(v, ignoreNulls = true).over(back)
    val pt = last(when(v.isNotNull, x), ignoreNulls = true).over(back)
    val nv = last(v, ignoreNulls = true).over(fwd)
    val nt = last(when(v.isNotNull, x), ignoreNulls = true).over(fwd)
    when(v.isNotNull, v)
      .when(pv.isNotNull && nv.isNotNull,
        when(nt === pt, pv)
          .otherwise(pv + (nv - pv) * (x.cast("double") - pt) / (nt.cast("double") - pt)))
  }

  /** J5 climatology-difference overlay for the profiler grid
    * (dashboard.py:766-833): monthly climatology brackets become points
    * at month-15 centers, duplicated to refYear−1 and refYear+1
    * (dashboard.py:791-820), their midpoints `(lo+hi)/2` gridded onto the
    * profile-grid cells — separably (time pass per clim depth, depth pass
    * per grid column; same documented separable-vs-Delaunay divergence as
    * [[gridFallback]], no extrapolation outside the climatology hull) —
    * and `clim_diff = value − clim` appended. `clim` columns:
    * (month 1-12, depth, lo, hi). `gridTimes` are the grid's own `t`
    * values ([[Result.gridTimes]], already on the driver from [[run]]'s
    * stats collect), so the grid feeds exactly one plan branch.
    */
  def climDiffOverlay(grid: DataFrame, clim: DataFrame, refYear: Int,
                      gridTimes: Seq[Timestamp]): DataFrame = {
    val pts = clim.select(
        col("month").cast("int").as("m"),
        col("depth").cast("double").as("cd"),
        ((col("lo") + col("hi")) / 2.0).as("cv"))
      .select(col("cd"), col("cv"),
        explode(array(lit(refYear - 1), lit(refYear), lit(refYear + 1))).as("yy"),
        col("m"))
      .select(col("cd"), col("cv"),
        unix_micros(make_timestamp(col("yy"), col("m"), lit(15),
          lit(0), lit(0), lit(0))).as("ctu"))

    // ms → µs; the caller contract is the grid's own t values
    // (seconds-truncated), so this IS unix_micros(t) per distinct t
    val spark = grid.sparkSession
    val micros = gridTimes.map(t => t.getTime * 1000L).distinct.sorted
    val gtimes = spark.createDataFrame(
      spark.sparkContext.parallelize(micros.map(Row(_)), 1),
      StructType(Seq(StructField("tu", org.apache.spark.sql.types.LongType))))
    // pass 1: per clim depth, interpolate along time onto the grid times
    val u1 = pts.select(col("cd"), col("ctu").as("x"), col("cv").as("v"),
        lit(0).as("is_grid"))
      .unionByName(gtimes.crossJoin(pts.select(col("cd")).distinct())
        .select(col("cd"), col("tu").as("x"), lit(null).cast("double").as("v"),
          lit(1).as("is_grid")))
    val ord1 = Seq(col("x"), col("is_grid"))
    val pass1 = u1.withColumn("cv1", lerpNoClamp(col("cd"), ord1, col("x")))
      .filter(col("is_grid") === 1)
      .select(col("cd"), col("x").as("tu"), col("cv1"))

    // pass 2: per grid column, interpolate along depth onto the grid
    // depths. The grid branch of the union carries its own (t, value)
    // through the window, so the overlaid cells fall straight out of the
    // is_grid filter — no join of the grid back against its own cells
    // (which cost a third grid scan plus a whole exchange+join stage;
    // round-10 job audit: 18 → 16 jobs on q66 with identical output)
    val u2 = pass1.select(col("tu"), col("cd").as("y"), col("cv1").as("v"),
        lit(0).as("is_grid"), lit(null).cast("double").as("gy"),
        lit(null).cast("timestamp").as("t"),
        lit(null).cast("double").as("value"))
      .unionByName(grid.select(unix_micros(col("t")).as("tu"),
        col("depth").cast("double").as("y"), lit(null).cast("double").as("v"),
        lit(1).as("is_grid"), col("depth").cast("double").as("gy"),
        col("t"), col("value").cast("double").as("value")))
    val ord2 = Seq(col("y"), col("is_grid"))
    u2.withColumn("climv", lerpNoClamp(col("tu"), ord2, col("y")))
      .filter(col("is_grid") === 1)
      .select(col("t"), col("gy").as("depth"), col("value"),
        round(col("climv"), 6).as("clim"),
        round(col("value") - col("climv"), 6).as("clim_diff"))
  }
}
