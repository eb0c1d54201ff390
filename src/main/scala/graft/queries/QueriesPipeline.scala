package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.Pipeline.GrossRange
import graft.operators.Reconcile
import graft.sources.ConfigRegistry.{SiteConfig, VariableResolver}
import graft.sources.Tables

/** End-to-end pipeline queries: the reference's scan→prune→slice→melt→
  * decimate→flag path (SURVEY §3.1) and the K3/K4 sink reconciliation,
  * both against the synthetic tables.
  */
object QueriesPipeline {

  // Shadows functions.round: every oracle-compared column rounds with
  // DuckDB-exact semantics (see graft.functions.Rounding) so half-boundary
  // values hash identically on both engines.
  private def round(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    graft.functions.Rounding.dround(c, scale)

  type Q = (SparkSession, String) => DataFrame

  /** lineitem viewed as a 2-parameter instrument: canonical names resolved
    * through the variable map exactly like the reference's variableMap.csv.
    */
  private val site = SiteConfig(
    refDes = "LINEITEM-SITE", stage = 1, instrument = "CTD-FIXED",
    storeFile = "lineitem", nearestNeighbors = Nil,
    dataParameters = Seq("time", "quantity", "price"),
    depths = Nil, depthMinMax = None, decimationAlgo = "coarsen")

  private val resolver = new VariableResolver(Map(
    "time" -> Seq("l_shipdate"),
    "quantity" -> Seq("l_quantity"),
    "price" -> Seq("l_extendedprice")))

  private val ranges = Map(
    "quantity" -> GrossRange(24.0, 27.0, 25.0, 26.0),
    "price" -> GrossRange(20000.0, 60000.0, 30000.0, 45000.0))

  private val threshold = 100

  val queries: Map[String, Q] = Map(
    // §3.1 full path, coarsen algo (oracle-checked; the lttb path is
    // exercised by q35 and the Pipeline spec)
    "q48_pipeline" -> ((s, d) => {
      val pd = Pipeline.plotData(
        Tables.lineitem(s, d), site, resolver, "time",
        (lit("1994-01-01").cast("timestamp"), lit("1998-12-31").cast("timestamp")),
        ranges, threshold)
      pd.data.select(col("ref_des"), col("parameter"), col("t"),
        round(col("value"), 6).as("value"), col("flag"))
    }),

    // §3.1 profiler-scatter port (ProfileScatter): interval-tagged plot
    // data with the reference's 5-minute profile mask and summary-union
    "q52_profile_scatter" -> ((s, d) => {
      import s.implicits._
      val samples = Tables.events(s, d)
        .select(col("ts"), col("value"),
          get_json_object(col("props"), "$.k").cast("double").as("press"))
      val profiles = Seq(
        ("2024-01-16 00:00:00", "2024-01-16 12:00:00", "2024-01-17 00:00:00"),
        ("2024-01-17 06:00:00", "2024-01-17 12:00:00", "2024-01-17 18:00:00"),
        ("2024-01-19 00:00:00", "2024-01-19 06:00:00", "2024-01-19 12:00:00"))
        .toDF("start", "peak", "end")
        .select(col("start").cast("timestamp"), col("peak").cast("timestamp"),
          col("end").cast("timestamp"))
      val r = graft.ProfileScatter.run(
        samples, "ts", "value", "press", profiles,
        timeRef = java.sql.Timestamp.valueOf("2024-01-20 00:00:00"), spanDays = 5,
        fileNameBase = "QAQC_plots/EVENTS_value", spanString = "day",
        descentSampled = false,
        annoNonEmpty = true, climNonEmpty = true, flagNonEmpty = true)
      r.data.select(col("plot_idx"), round(col("x"), 6).as("x"),
        round(col("y"), 6).as("y"), col("z"))
    }),

    // §3.1 profiler-grid port (ProfileGrid): per-profile depth-grid
    // interpolation with pressure masks and the 1-day gap mask — the
    // reference's contour plot-data path (dashboard.py:399-920)
    "q59_profile_grid" -> ((s, d) => {
      import s.implicits._
      val samples = Tables.events(s, d)
        .select(col("ts"), col("value"),
          get_json_object(col("props"), "$.k").cast("double").as("press"))
      val profiles = Seq(
        ("2024-01-16 00:00:00", "2024-01-16 12:00:00", "2024-01-17 00:00:00"),
        ("2024-01-17 06:00:00", "2024-01-17 12:00:00", "2024-01-17 18:00:00"),
        ("2024-01-19 00:00:00", "2024-01-19 06:00:00", "2024-01-19 12:00:00"))
        .toDF("start", "peak", "end")
        .select(col("start").cast("timestamp"), col("peak").cast("timestamp"),
          col("end").cast("timestamp"))
      val r = graft.ProfileGrid.run(
        samples, "ts", "value", "press", profiles,
        timeRef = java.sql.Timestamp.valueOf("2024-01-20 00:00:00"), spanDays = 5,
        profileDepth = 190.0, depthStep = 0.5,
        fileNameBase = "QAQC_plots/EVENTS_value", spanString = "day")
      r.data
    }),

    // §3.1 fixed-depth scatter port (FixedScatter): per-depth fan-out +
    // time-machine traces (dashboard.py:1500-1994, plots.py:342-389);
    // events spread over 3 synthetic years to exercise the year shift
    "q60_fixed_scatter" -> ((s, d) => {
      val samples = Tables.events(s, d)
        .select(
          (col("ts") - make_dt_interval(
            ((col("event_id") % 3) * lit(365)).cast("int"))).as("ts"),
          col("value"),
          (get_json_object(col("props"), "$.k").cast("double") * lit(0.25)).as("press"))
      val r = graft.FixedScatter.runDepths(
        samples, "ts", "value", "press", depths = Seq(3, 7),
        timeRef = java.sql.Timestamp.valueOf("2024-01-20 00:00:00"), spanDays = 5,
        fileNameBase = "QAQC_plots/EVENTS_value", spanString = "day")
      r.data.select(col("depth"), col("trace"), col("legend"), col("plot_time"),
        round(col("value"), 6).as("value"))
    }),

    // J5 composed on the grid path: climatology midpoints (±1-year
    // month-15 centers) gridded onto the q59 profile grid, clim_diff out
    "q66_grid_clim" -> ((s, d) => {
      import s.implicits._
      val samples = Tables.events(s, d)
        .select(col("ts"), col("value"),
          get_json_object(col("props"), "$.k").cast("double").as("press"))
      val profiles = Seq(
        ("2024-01-16 00:00:00", "2024-01-16 12:00:00", "2024-01-17 00:00:00"),
        ("2024-01-17 06:00:00", "2024-01-17 12:00:00", "2024-01-17 18:00:00"),
        ("2024-01-19 00:00:00", "2024-01-19 06:00:00", "2024-01-19 12:00:00"))
        .toDF("start", "peak", "end")
        .select(col("start").cast("timestamp"), col("peak").cast("timestamp"),
          col("end").cast("timestamp"))
      val r = graft.ProfileGrid.run(
        samples, "ts", "value", "press", profiles,
        timeRef = java.sql.Timestamp.valueOf("2024-01-20 00:00:00"), spanDays = 5,
        profileDepth = 190.0, depthStep = 0.5,
        fileNameBase = "QAQC_plots/EVENTS_value", spanString = "day")
      val clim = Tables.nation(s, d).select(
        (col("n_nationkey") % 12 + 1).as("month"),
        (expr("n_nationkey div 12") * 50).cast("double").as("depth"),
        (col("n_nationkey") * 2.0).as("lo"),
        (col("n_nationkey") * 2.0 + 4.0).as("hi"))
      // the run() stats collect already knows the grid's distinct times
      graft.ProfileGrid.climDiffOverlay(r.data, clim, refYear = 2024,
        gridTimes = r.gridTimes)
    }),

    // C3 fallback mesh (ProfileGrid.gridFallback): hourly x depth grid
    // over scattered samples, separable interpolation, day-gap masking
    "q65_grid_fallback" -> ((s, d) => {
      val samples = Tables.events(s, d)
        .select(col("ts"), col("value"),
          get_json_object(col("props"), "$.k").cast("double").as("press"))
      graft.ProfileGrid.gridFallback(
        samples, "ts", "value", "press",
        timeRef = java.sql.Timestamp.valueOf("2024-01-20 00:00:00"), spanDays = 5,
        yMin = 0.0, yMax = 100.0, depthStep = 5.0)
    }),

    // Deploy-span scatter (FixedScatter.runDeploy): per-deployment traces
    // ±15d, shifted by 365*(yearRef - deploy year); two 2023 deployments
    // share a year_diff but stay separate traces
    "q67_deploy_scatter" -> ((s, d) => {
      val samples = Tables.events(s, d).select(
        (col("ts") - make_dt_interval(
          ((col("event_id") % 3) * lit(365)).cast("int"))).as("ts"),
        col("value"))
      val r = graft.FixedScatter.runDeploy(samples, "ts", "value",
        Seq(java.sql.Timestamp.valueOf("2024-01-17 12:00:00"),
          java.sql.Timestamp.valueOf("2023-01-16 00:00:00"),
          java.sql.Timestamp.valueOf("2023-01-10 00:00:00")),
        fileNameBase = "QAQC_plots/EVENTS_value")
      r.data.select(col("trace"), col("year_diff"), col("legend"),
        col("plot_time"), round(col("value"), 6).as("value"))
    }),

    // Annotation overlay table (annoInRange + annoXnormalize): clipped
    // spans with window-fraction coordinates, one per clipped start line
    "q70_anno_overlay" -> ((s, d) => {
      val annos = Tables.orders(s, d).select(
        col("o_orderdate").cast("timestamp").as("beginTime"),
        when(col("o_orderkey") % 5 === 0, lit(null).cast("timestamp"))
          .otherwise(col("o_orderdate").cast("timestamp") +
            make_dt_interval((col("o_orderkey") % 20).cast("int"))).as("endTime"),
        concat(lit("note-"), col("o_orderkey")).as("annotation"))
      graft.operators.TemporalJoins.annotationOverlay(annos,
        lit("1995-01-01 00:00:00").cast("timestamp"),
        lit("1995-03-01 00:00:00").cast("timestamp"))
    }),

    // Scatter flag-overlay data (dashboard.py:1884-1958): flagged points
    // per (flag type, level) with the reference's counted legend strings;
    // zero-hit (type, level) combinations keep a legend-only row
    "q71_scatter_flags" -> ((s, d) => {
      import s.implicits._
      val base = Tables.events(s, d)
        .filter(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp") &&
          col("ts") <= lit("2024-01-20 00:00:00").cast("timestamp"))
        .select(col("ts"), col("value"))
      val flagged = base.select(col("ts"), col("value"),
        explode(array(
          struct(lit("gross_range").as("flag_type"),
            graft.functions.Qartod.grossRangeFlag(col("value"),
              1.0, 18.0, 2.0, 15.0).as("flag")),
          struct(lit("spike").as("flag_type"),
            when(abs(col("value") - 10.0) >= 8.5, 4)
              .when(abs(col("value") - 10.0) >= 7.0, 3)
              .otherwise(1).as("flag")))).as("e"))
        .select(col("ts"), col("value"), col("e.flag_type"), col("e.flag"))
      val pts = flagged.filter(col("flag").isin(3, 4))
      val counts = pts.groupBy(col("flag_type"), col("flag"))
        .agg(count(lit(1)).as("n"))
      val levels = Seq(("gross_range", 4), ("gross_range", 3),
        ("spike", 4), ("spike", 3)).toDF("flag_type", "flag")
      val legend = levels.join(counts, Seq("flag_type", "flag"), "left")
        .select(col("flag_type"), col("flag"),
          when(col("n").isNotNull,
            format_string("%s %s: %d points", col("flag_type"),
              when(col("flag") === 4, "fail").otherwise("suspect"), col("n")))
          .otherwise(format_string("%s %s: no points flagged", col("flag_type"),
            when(col("flag") === 4, "fail").otherwise("suspect"))).as("legend"),
          col("n"))
      val pointRows = pts.join(broadcast(legend.select("flag_type", "flag", "legend")),
          Seq("flag_type", "flag"))
        .select(col("flag_type"), col("flag"), col("legend"), col("ts").as("t"),
          round(col("value"), 6).as("value"))
      val legendOnly = legend.filter(col("n").isNull)
        .select(col("flag_type"), col("flag"), col("legend"),
          lit(null).cast("timestamp").as("t"), lit(null).cast("double").as("value"))
      pointRows.unionByName(legendOnly)
    }),

    // K4 duplicate-format reconciliation over a synthesized file listing
    "q49_reconcile" -> ((s, d) => {
      val files = Tables.orders(s, d)
        .select(
          format_string("plot_%d.%s", col("o_orderkey") % 300,
            when(col("o_orderkey") % 2 === 0, "png").otherwise("svg")).as("name"),
          col("o_orderdate").as("mtime"))
        .groupBy(col("name")).agg(max(col("mtime")).as("mtime"))
      Reconcile.duplicateFormatDeletes(files, "name", "mtime")
    })
  )

  /** q59's full pipeline as shareable oracle CTEs ending in
    * `grid_out(t, depth, value)` — reused by the q66 clim overlay. */
  private val profileGridOracleCtes: String = """
      e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, CAST(value AS DOUBLE) AS v,
                        CAST(json_extract_string(props, '$.k') AS DOUBLE) AS p
                 FROM events
                 WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15 00:00:00'
                   AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-20 00:00:00'
                   AND value IS NOT NULL
                   AND json_extract_string(props, '$.k') IS NOT NULL),
      ext AS (SELECT min(ts) AS lo, max(ts) AS hi FROM e),
      prof(start_t, peak, end_t) AS (VALUES
        (TIMESTAMP '2024-01-16 00:00:00', TIMESTAMP '2024-01-16 12:00:00', TIMESTAMP '2024-01-17 00:00:00'),
        (TIMESTAMP '2024-01-17 06:00:00', TIMESTAMP '2024-01-17 12:00:00', TIMESTAMP '2024-01-17 18:00:00'),
        (TIMESTAMP '2024-01-19 00:00:00', TIMESTAMP '2024-01-19 06:00:00', TIMESTAMP '2024-01-19 12:00:00')),
      inwin AS (SELECT pr.* FROM prof pr, ext
                WHERE pr.start_t > ext.lo AND pr.end_t <= ext.hi),
      pts AS (SELECT m.peak, e.p, e.v
              FROM e JOIN inwin m ON e.ts >= m.start_t AND e.ts <= m.peak),
      stats AS (SELECT peak, min(p) AS min_p, max(p) AS max_p
                FROM pts GROUP BY 1 HAVING count(*) >= 2),
      kept AS (SELECT peak, min_p, max_p,
                      (lead(peak) OVER (ORDER BY peak) IS NOT NULL AND
                       epoch(lead(peak) OVER (ORDER BY peak)) - epoch(peak) > 86400)
                        AS gap_masked
               FROM stats),
      grid AS (SELECT peak, min_p, max_p, gap_masked, CAST(gi AS DOUBLE) * 0.5 AS gy
               FROM kept, unnest(range(380)) AS t(gi)),
      u AS (SELECT peak, p, v, 0 AS is_grid, CAST(NULL AS DOUBLE) AS gy,
                   CAST(NULL AS DOUBLE) AS min_p, CAST(NULL AS DOUBLE) AS max_p,
                   CAST(NULL AS BOOLEAN) AS gap_masked
            FROM pts JOIN (SELECT peak FROM stats) k USING (peak)
            UNION ALL
            SELECT peak, gy, NULL, 1, gy, min_p, max_p, gap_masked FROM grid),
      w AS (SELECT *,
                   last_value(v IGNORE NULLS) OVER wb AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS) OVER wb AS pp,
                   first_value(v IGNORE NULLS) OVER wf AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS) OVER wf AS np
            FROM u
            WINDOW wb AS (PARTITION BY peak ORDER BY p, is_grid, v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY peak ORDER BY p, is_grid, v
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      grid_out AS (
      SELECT CAST(to_timestamp(CAST(floor(epoch(peak)) AS BIGINT)) AS TIMESTAMP) AS t,
             gy AS depth,
             round(CASE WHEN gap_masked THEN NULL
                        WHEN min_p > 5.0 AND gy < min_p THEN NULL
                        WHEN max_p < 185.0 AND gy > max_p THEN NULL
                        WHEN pv IS NULL THEN nv
                        WHEN nv IS NULL THEN pv
                        WHEN np = pp THEN pv
                        ELSE pv + (nv - pv) * (p - pp) / (np - pp) END, 6) AS value
      FROM w WHERE is_grid = 1)"""

  val oracleSql: Map[String, String] = Map(
    "q48_pipeline" -> s"""
      WITH sliced AS (
        SELECT CAST(l_shipdate AS TIMESTAMP) AS t, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate <= TIMESTAMP '1998-12-31'),
      long AS (
        SELECT 'LINEITEM-SITE' AS ref_des, 'quantity' AS parameter, t,
               CAST(l_quantity AS DOUBLE) AS value FROM sliced
        UNION ALL
        SELECT 'LINEITEM-SITE', 'price', t, CAST(l_extendedprice AS DOUBLE) FROM sliced),
      w AS (SELECT greatest(1, CAST(count(*) // 2 // $threshold AS BIGINT)) AS w FROM long),
      rn AS (SELECT ref_des, parameter, t, value,
                    row_number() OVER (PARTITION BY ref_des, parameter
                                       ORDER BY t, value) AS rn
             FROM long),
      bucketed AS (
        SELECT ref_des, parameter,
               make_timestamp(CAST(floor(avg(epoch_us(t) - 1600000000000000))
                              + 1600000000000000 AS BIGINT)) AS t,
               avg(value) AS value, count(*) AS n
        FROM rn, w
        GROUP BY ref_des, parameter, floor((rn - 1) / w.w), w.w
        HAVING count(*) = w.w)
      SELECT ref_des, parameter, t, round(value, 6) AS value,
             CASE WHEN parameter = 'price' THEN
                    CASE WHEN value <= 20000.0 OR value >= 60000.0 THEN 4
                         WHEN value <= 30000.0 OR value >= 45000.0 THEN 3
                         ELSE 1 END
                  WHEN parameter = 'quantity' THEN
                    CASE WHEN value <= 24.0 OR value >= 27.0 THEN 4
                         WHEN value <= 25.0 OR value >= 26.0 THEN 3
                         ELSE 1 END
                  ELSE 1 END AS flag
      FROM bucketed""",
    "q52_profile_scatter" -> """
      WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value,
                        CAST(json_extract_string(props, '$.k') AS DOUBLE) AS press
                 FROM events
                 WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
                   AND ts <= TIMESTAMP '2024-01-20 00:00:00'),
      ext AS (SELECT min(ts) AS lo, max(ts) AS hi FROM e),
      p(start_t, peak, end_t) AS (VALUES
        (TIMESTAMP '2024-01-16 00:00:00', TIMESTAMP '2024-01-16 12:00:00', TIMESTAMP '2024-01-17 00:00:00'),
        (TIMESTAMP '2024-01-17 06:00:00', TIMESTAMP '2024-01-17 12:00:00', TIMESTAMP '2024-01-17 18:00:00'),
        (TIMESTAMP '2024-01-19 00:00:00', TIMESTAMP '2024-01-19 06:00:00', TIMESTAMP '2024-01-19 12:00:00')),
      masked AS (SELECT p.* FROM p, ext
                 WHERE p.start_t > ext.lo - INTERVAL 5 MINUTE
                   AND p.end_t <= ext.hi + INTERVAL 5 MINUTE),
      tagged AS (SELECT m.peak, e.value AS x, -e.press AS y, e.ts AS z
                 FROM e JOIN masked m ON e.ts >= m.start_t AND e.ts <= m.peak),
      idx AS (SELECT peak, CAST(dense_rank() OVER (ORDER BY peak) AS INT) AS plot_idx
              FROM (SELECT DISTINCT peak FROM tagged))
      SELECT t.plot_idx, round(x, 6) AS x, round(y, 6) + 0.0 AS y, z
      FROM (SELECT i.plot_idx, x, y, z FROM tagged tg JOIN idx i ON tg.peak = i.peak
            UNION ALL
            SELECT 0, x, y, z FROM tagged) t""",
    "q59_profile_grid" -> ("WITH " + profileGridOracleCtes + """
      SELECT t, depth, value FROM grid_out"""),
    "q60_fixed_scatter" -> """
      WITH s AS (SELECT CAST(ts AS TIMESTAMP) - (event_id % 3) * 365 * INTERVAL '1 day' AS ts,
                        CAST(value AS DOUBLE) AS v,
                        CAST(json_extract_string(props, '$.k') AS DOUBLE) * 0.25 AS press
                 FROM events),
      ext AS (SELECT min(year(ts)) AS y0 FROM s),
      traces AS (SELECT CAST(k AS INT) AS trace,
                        TIMESTAMP '2024-01-20 00:00:00'
                          - k * 365 * INTERVAL '1 day' - 5 * INTERVAL '1 day' AS lo,
                        TIMESTAMP '2024-01-20 00:00:00'
                          - k * 365 * INTERVAL '1 day' AS hi
                 FROM ext, unnest(range(2024 - y0 + 1)) AS t(k)),
      tagged AS (SELECT tr.trace, s.ts AS st, s.v, s.press
                 FROM s JOIN traces tr ON s.ts >= tr.lo AND s.ts <= tr.hi),
      leg AS (SELECT trace,
                     CASE WHEN min(year(st)) = max(year(st))
                          THEN CAST(max(year(st)) AS VARCHAR)
                          ELSE CAST(min(year(st)) AS VARCHAR) || ' - ' ||
                               CAST(max(year(st)) AS VARCHAR) END AS legend
              FROM tagged GROUP BY 1),
      shifted AS (SELECT t.trace, l.legend,
                         t.st + t.trace * 365 * INTERVAL '1 day' AS plot_time,
                         t.v, t.press
                  FROM tagged t JOIN leg l USING (trace)),
      d(depth) AS (VALUES (3), (7))
      SELECT CAST(depth AS INT) AS depth, trace, legend,
             CAST(plot_time AS TIMESTAMP) AS plot_time,
             round(CASE WHEN press > depth AND press < depth + 0.5 THEN v END, 6) AS value
      FROM shifted, d""",
    "q66_grid_clim" -> ("WITH " + profileGridOracleCtes + """,
      climp AS (SELECT (n_nationkey % 12) + 1 AS m,
                       CAST((n_nationkey // 12) * 50 AS DOUBLE) AS cd,
                       (CAST(n_nationkey AS DOUBLE) * 2.0 +
                        (CAST(n_nationkey AS DOUBLE) * 2.0 + 4.0)) / 2.0 AS cv
                FROM nation),
      cpts AS (SELECT cd, cv,
                      CAST(epoch_us(make_timestamp(CAST(yy AS BIGINT), CAST(m AS BIGINT),
                        15, 0, 0, 0)) AS BIGINT) AS ctu
               FROM climp, unnest([2023, 2024, 2025]) AS y(yy)),
      gtimes AS (SELECT DISTINCT CAST(epoch_us(t) AS BIGINT) AS tu FROM grid_out),
      u1c AS (SELECT cd, ctu AS x, cv AS v, 0 AS is_grid FROM cpts
              UNION ALL
              SELECT d.cd, g.tu, NULL, 1
              FROM gtimes g, (SELECT DISTINCT cd FROM cpts) d),
      w1c AS (SELECT *,
                     last_value(v IGNORE NULLS) OVER wb AS pv,
                     last_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS) OVER wb AS pt,
                     first_value(v IGNORE NULLS) OVER wf AS nv,
                     first_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS) OVER wf AS nt
              FROM u1c
              WINDOW wb AS (PARTITION BY cd ORDER BY x, is_grid
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wf AS (PARTITION BY cd ORDER BY x, is_grid
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      p1c AS (SELECT cd, x AS tu,
                     CASE WHEN v IS NOT NULL THEN v
                          WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                            CASE WHEN nt = pt THEN pv
                                 ELSE pv + (nv - pv) * (x - pt) / (nt - pt) END
                     END AS cv1
              FROM w1c WHERE is_grid = 1),
      u2c AS (SELECT tu, cd AS y, cv1 AS v, 0 AS is_grid, CAST(NULL AS DOUBLE) AS gy
              FROM p1c
              UNION ALL
              SELECT CAST(epoch_us(t) AS BIGINT), depth, NULL, 1, depth FROM grid_out),
      w2c AS (SELECT *,
                     last_value(v IGNORE NULLS) OVER wb AS pv,
                     last_value(CASE WHEN v IS NOT NULL THEN y END IGNORE NULLS) OVER wb AS pt,
                     first_value(v IGNORE NULLS) OVER wf AS nv,
                     first_value(CASE WHEN v IS NOT NULL THEN y END IGNORE NULLS) OVER wf AS nt
              FROM u2c
              WINDOW wb AS (PARTITION BY tu ORDER BY y, is_grid
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wf AS (PARTITION BY tu ORDER BY y, is_grid
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      p2c AS (SELECT tu, gy,
                     CASE WHEN v IS NOT NULL THEN v
                          WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                            CASE WHEN nt = pt THEN pv
                                 ELSE pv + (nv - pv) * (y - pt) / (nt - pt) END
                     END AS climv
              FROM w2c WHERE is_grid = 1)
      SELECT g.t, g.depth, g.value, round(c.climv, 6) AS clim,
             round(g.value - c.climv, 6) AS clim_diff
      FROM grid_out g
      JOIN p2c c ON CAST(epoch_us(g.t) AS BIGINT) = c.tu AND g.depth = c.gy"""),
    "q67_deploy_scatter" -> """
      WITH s AS (SELECT CAST(ts AS TIMESTAMP) - (event_id % 3) * 365 * INTERVAL '1 day' AS ts,
                        CAST(value AS DOUBLE) AS v
                 FROM events),
      tr(trace, anchor) AS (VALUES
        (0, TIMESTAMP '2024-01-17 12:00:00'),
        (1, TIMESTAMP '2023-01-16 00:00:00'),
        (2, TIMESTAMP '2023-01-10 00:00:00')),
      traces AS (SELECT trace, anchor - 15 * INTERVAL '1 day' AS lo,
                        anchor + 15 * INTERVAL '1 day' AS hi,
                        2024 - year(anchor) AS year_diff
                 FROM tr),
      tagged AS (SELECT t.trace, t.year_diff, s.ts AS st, s.v
                 FROM s JOIN traces t ON s.ts >= t.lo AND s.ts <= t.hi),
      leg AS (SELECT trace,
                     CASE WHEN min(year(st)) = max(year(st))
                          THEN CAST(max(year(st)) AS VARCHAR)
                          ELSE CAST(min(year(st)) AS VARCHAR) || ' - ' ||
                               CAST(max(year(st)) AS VARCHAR) END AS legend
              FROM tagged GROUP BY 1)
      SELECT CAST(t.trace AS INT) AS trace, CAST(t.year_diff AS INT) AS year_diff,
             l.legend,
             CAST(t.st + t.year_diff * 365 * INTERVAL '1 day' AS TIMESTAMP) AS plot_time,
             round(t.v, 6) AS value
      FROM tagged t JOIN leg l USING (trace)""",
    "q71_scatter_flags" -> """
      WITH base AS (SELECT CAST(ts AS TIMESTAMP) AS ts, CAST(value AS DOUBLE) AS value
                    FROM events
                    WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15 00:00:00'
                      AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-20 00:00:00'),
      flagged AS (
        SELECT ts, value, 'gross_range' AS flag_type,
               CASE WHEN value IS NOT NULL AND NOT isnan(value)
                         AND (value <= 1.0 OR value >= 18.0) THEN 4
                    WHEN value IS NOT NULL AND NOT isnan(value)
                         AND (value <= 2.0 OR value >= 15.0) THEN 3
                    ELSE 1 END AS flag
        FROM base
        UNION ALL
        SELECT ts, value, 'spike',
               CASE WHEN abs(value - 10.0) >= 8.5 THEN 4
                    WHEN abs(value - 10.0) >= 7.0 THEN 3 ELSE 1 END
        FROM base),
      pts AS (SELECT * FROM flagged WHERE flag IN (3, 4)),
      counts AS (SELECT flag_type, flag, count(*) AS n FROM pts GROUP BY 1, 2),
      levels(flag_type, flag) AS (VALUES
        ('gross_range', 4), ('gross_range', 3), ('spike', 4), ('spike', 3)),
      legend AS (
        SELECT l.flag_type, l.flag,
               CASE WHEN c.n IS NOT NULL THEN
                      printf('%s %s: %d points', l.flag_type,
                             CASE WHEN l.flag = 4 THEN 'fail' ELSE 'suspect' END, c.n)
                    ELSE printf('%s %s: no points flagged', l.flag_type,
                                CASE WHEN l.flag = 4 THEN 'fail' ELSE 'suspect' END)
               END AS legend, c.n
        FROM levels l LEFT JOIN counts c
          ON l.flag_type = c.flag_type AND l.flag = c.flag)
      SELECT p.flag_type, CAST(p.flag AS INT) AS flag, g.legend, p.ts AS t,
             round(p.value, 6) AS value
      FROM pts p JOIN legend g ON p.flag_type = g.flag_type AND p.flag = g.flag
      UNION ALL
      SELECT flag_type, CAST(flag AS INT), legend,
             CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE)
      FROM legend WHERE n IS NULL""",
    "q70_anno_overlay" -> """
      WITH win AS (SELECT TIMESTAMP '1995-01-01 00:00:00' AS lo,
                          TIMESTAMP '1995-03-01 00:00:00' AS hi),
      annos AS (
        SELECT CAST(o_orderdate AS TIMESTAMP) AS beginTime,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL
                    ELSE CAST(o_orderdate AS TIMESTAMP) +
                         CAST(o_orderkey % 20 AS INT) * INTERVAL '1 day' END AS endTime,
               'note-' || CAST(o_orderkey AS VARCHAR) AS annotation
        FROM orders),
      clipped AS (
        SELECT greatest(beginTime, w.lo) AS start_line,
               CASE WHEN endTime IS NULL OR endTime > w.hi THEN w.hi
                    ELSE endTime END AS end_line,
               annotation, beginTime, w.lo, w.hi
        FROM annos, win w
        WHERE NOT (beginTime >= w.hi OR (endTime IS NOT NULL AND endTime <= w.lo))),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY start_line
                                     ORDER BY beginTime DESC, annotation DESC) AS rn
        FROM clipped)
      SELECT start_line, end_line, annotation,
             round(CAST(epoch_us(start_line) - epoch_us(lo) AS DOUBLE) /
                   (epoch_us(hi) - epoch_us(lo)), 6) AS x_min,
             round(CAST(epoch_us(end_line) - epoch_us(lo) AS DOUBLE) /
                   (epoch_us(hi) - epoch_us(lo)), 6) AS x_max
      FROM ranked WHERE rn = 1""",
    "q65_grid_fallback" -> """
      WITH base AS (
        SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS tu,
               CAST(json_extract_string(props, '$.k') AS DOUBLE) AS p,
               CAST(value AS DOUBLE) AS v
        FROM events
        WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15 00:00:00'
          AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-20 00:00:00'
          AND value IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL),
      hourly AS (SELECT tu // 3600000000 AS hb, min(tu) AS mn, max(tu) AS mx
                 FROM base GROUP BY 1),
      gaps AS (SELECT gap_lo, gap_hi FROM (
                 SELECT mx AS gap_lo, lead(mn) OVER (ORDER BY hb) AS gap_hi FROM hourly)
               WHERE gap_hi IS NOT NULL AND gap_hi - gap_lo > 86400000000),
      gapsq AS (SELECT * FROM gaps WHERE (SELECT count(*) FROM gaps) > 1),
      binned AS (SELECT CAST(round(p / 5.0) AS INT) AS di, tu, v FROM base
                 WHERE CAST(round(p / 5.0) AS INT) >= 0
                   AND CAST(round(p / 5.0) AS INT) < 20),
      mesh AS (SELECT CAST(d.di AS INT) AS di,
                      epoch_us(TIMESTAMP '2024-01-15 00:00:00') - 864000000
                        + CAST(t.i AS BIGINT) * 3600000000 AS tu
               FROM unnest(range(20)) AS d(di), unnest(range(121)) AS t(i)),
      u1 AS (SELECT di, tu, v, 0 AS is_grid FROM binned
             UNION ALL
             SELECT di, tu, NULL, 1 FROM mesh),
      w1 AS (SELECT *,
                    last_value(v IGNORE NULLS) OVER wb AS pv,
                    last_value(CASE WHEN v IS NOT NULL THEN tu END IGNORE NULLS) OVER wb AS pt,
                    first_value(v IGNORE NULLS) OVER wf AS nv,
                    first_value(CASE WHEN v IS NOT NULL THEN tu END IGNORE NULLS) OVER wf AS nt
             FROM u1
             WINDOW wb AS (PARTITION BY di ORDER BY tu, is_grid, v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    wf AS (PARTITION BY di ORDER BY tu, is_grid, v
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      pass1 AS (SELECT di, tu,
                       CASE WHEN v IS NOT NULL THEN v
                            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                              CASE WHEN nt = pt THEN pv
                                   ELSE pv + (nv - pv) * (tu - pt) / (nt - pt) END
                       END AS v
                FROM w1 WHERE is_grid = 1),
      w2 AS (SELECT *,
                    last_value(v IGNORE NULLS) OVER wb AS pv,
                    last_value(CASE WHEN v IS NOT NULL THEN di END IGNORE NULLS) OVER wb AS pt,
                    first_value(v IGNORE NULLS) OVER wf AS nv,
                    first_value(CASE WHEN v IS NOT NULL THEN di END IGNORE NULLS) OVER wf AS nt
             FROM pass1
             WINDOW wb AS (PARTITION BY tu ORDER BY di
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    wf AS (PARTITION BY tu ORDER BY di
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      pass2 AS (SELECT di, tu,
                       CASE WHEN v IS NOT NULL THEN v
                            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                              CASE WHEN nt = pt THEN pv
                                   ELSE pv + (nv - pv) * (di - pt) / (nt - pt) END
                       END AS v2
                FROM w2)
      SELECT make_timestamp(tu) AS t, CAST(di AS DOUBLE) * 5.0 AS depth,
             round(CASE WHEN EXISTS (SELECT 1 FROM gapsq g
                                     WHERE pass2.tu > g.gap_lo AND pass2.tu < g.gap_hi)
                        THEN NULL ELSE v2 END, 6) AS value
      FROM pass2""",
    "q49_reconcile" -> """
      WITH files AS (
        SELECT printf('plot_%d.%s', o_orderkey % 300,
                      CASE WHEN o_orderkey % 2 = 0 THEN 'png' ELSE 'svg' END) AS name,
               max(CAST(o_orderdate AS TIMESTAMP)) AS mtime
        FROM orders GROUP BY 1),
      tagged AS (
        SELECT name, mtime,
               regexp_extract(name, '\.(png|svg)$', 1) AS ext,
               regexp_replace(name, '\.(png|svg)$', '') AS base
        FROM files WHERE regexp_extract(name, '\.(png|svg)$', 1) IN ('png', 'svg')),
      ranked AS (
        SELECT name, mtime, base,
               count(DISTINCT ext) OVER (PARTITION BY base) AS n_ext,
               row_number() OVER (PARTITION BY base
                                  ORDER BY mtime DESC, ext ASC, name ASC) AS rk
        FROM tagged)
      SELECT name, mtime FROM ranked WHERE n_ext = 2 AND rk > 1"""
  )
}
