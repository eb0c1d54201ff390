package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Qartod
import graft.operators.{Decimate, GapFill, TemporalJoins}
import graft.sources.Tables

/** QAQC-surface queries on the `events` time-series table: flags, windows,
  * as-of/interval joins, decimation, gap-fill — the reference's operator
  * inventory mapped onto the synthetic stream.
  */
object QueriesEvents {

  // Shadows functions.round: every oracle-compared column rounds with
  // DuckDB-exact semantics (see graft.functions.Rounding) so half-boundary
  // values hash identically on both engines.
  private def round(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    graft.functions.Rounding.dround(c, scale)

  type Q = (SparkSession, String) => DataFrame

  /** Inline maintenance-window intervals (events span Jan 2024). */
  private val windowRows = Seq(
    (1, "2024-01-02", "2024-01-04"),
    (2, "2024-01-09", "2024-01-11"),
    (3, "2024-01-16", "2024-01-18"),
    (4, "2024-01-23", "2024-01-25"))

  /** Fixed climatology table: per-month suspect spans on lineitem quantity;
    * month 6 deliberately un-fitted (NULL → flag 9).
    */
  private val climFixedRows: Seq[(Int, Option[Double], Option[Double])] =
    (1 to 12).map { m =>
      if (m == 6) (m, None, None)
      else (m, Some(2.0 + m % 3), Some(44.0 + m % 5))
    }

  private def climFixedDf(s: SparkSession): DataFrame = {
    import s.implicits._
    climFixedRows.toDF("month", "sus_lo", "sus_hi")
  }

  private[queries] def climFixedValuesSql: String =
    climFixedRows.map {
      case (m, Some(lo), Some(hi)) => s"($m, $lo, $hi)"
      case (m, _, _) => s"($m, NULL, NULL)"
    }.mkString(", ")

  /** Binned climatology: (month, quantity-bin) → suspect span on price;
    * (4, bin 1) un-fitted.
    */
  private val climBinnedRows: Seq[(Int, Double, Double, Option[Double], Option[Double])] =
    (for {
      m <- 1 to 12
      (qlo, qhi, b) <- Seq((1.0, 17.0, 0), (17.0, 34.0, 1), (34.0, 51.0, 2))
    } yield {
      if (m == 4 && b == 1) (m, qlo, qhi, None, None)
      else (m, qlo, qhi, Some(1000.0 + m * 100 + b * 50), Some(80000.0 - m * 500 - b * 1000))
    })

  private def climBinnedDf(s: SparkSession): DataFrame = {
    import s.implicits._
    climBinnedRows.toDF("month", "depth_lo", "depth_hi", "sus_lo", "sus_hi")
  }

  private[queries] def climBinnedValuesSql: String =
    climBinnedRows.map {
      case (m, ql, qh, Some(lo), Some(hi)) => s"($m, $ql, $qh, $lo, $hi)"
      case (m, ql, qh, _, _) => s"($m, $ql, $qh, NULL, NULL)"
    }.mkString(", ")

  val queries: Map[String, Q] = Map(
    // W2 lag/diff step test: count of |Δvalue| > 50 steps per user
    "q08_step_flags" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("step",
          when(abs(col("value") - lag(col("value"), 1).over(w)) > 50, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("step")).as("n_steps"))
    }),

    // C8 QARTOD gross-range flags (value domain ~[0, 490])
    "q09_gross_range" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("flag", Qartod.grossRangeFlag(col("value"), 1.0, 480.0, 10.0, 450.0))
        .groupBy(col("flag")).agg(count(lit(1)).as("cnt"))
    }),

    // C9 fixed climatology on lineitem (month → suspect span, month 6 → 9)
    "q10_climatology_fixed" -> ((s, d) => {
      Qartod.climatologyFixed(
          Tables.lineitem(s, d), "l_shipdate", "l_quantity", climFixedDf(s), "flag")
        .groupBy(col("flag")).agg(count(lit(1)).as("cnt"))
    }),

    // C9 binned climatology: month × quantity-bin → suspect span on price
    "q11_climatology_binned" -> ((s, d) => {
      Qartod.climatologyBinned(
          Tables.lineitem(s, d), "l_shipdate", "l_extendedprice", "l_quantity",
          climBinnedDf(s), "flag")
        .groupBy(col("flag")).agg(count(lit(1)).as("cnt"))
    }),

    // J2 as-of join: each purchase tagged with the user's most recent click
    "q12_asof_prev_click" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      TemporalJoins.asOfJoinBackward(
          purchases, "ts", clicks, "click_ts",
          keys = Seq("user_id"), rightValueCols = Seq("click_ts"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_click_ts").as("prev_click_ts"))
    }),

    // J2 nearest-direction as-of: closest click before OR after each
    // purchase within 2 h, ties backward — one tagging pass, two window
    // carries over one exchange (see TemporalJoins.asOfJoinNearest)
    "q89_asof_nearest" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      TemporalJoins.asOfJoinNearest(
          purchases, "ts", clicks, "click_ts",
          keys = Seq("user_id"), rightValueCols = Seq("click_ts"),
          toleranceSeconds = Some(7200L))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_click_ts").as("nearest_click_ts"),
          col("asof_direction").as("direction"))
    }),

    // J2 again through the NATIVE sort-merge as-of operator (custom
    // LogicalPlan + SparkStrategy + BinaryExecNode) — same oracle as q12
    "q53_asof_native" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      graft.plans.AsOfJoinNative.asOfJoin(
          purchases, "ts", clicks, "click_ts",
          keys = Seq("user_id"), rightValueCols = Seq("click_ts"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_click_ts").as("prev_click_ts"))
    }),

    // J1/J7 pure interval join against inline maintenance windows
    "q14_interval_windows" -> ((s, d) => {
      import s.implicits._
      val w = windowRows.toDF("w_id", "w_start", "w_end")
        .withColumn("w_start", col("w_start").cast("timestamp"))
        .withColumn("w_end", col("w_end").cast("timestamp"))
      TemporalJoins.intervalJoin(Tables.events(s, d), "ts", w, "w_start", "w_end")
        .groupBy(col("w_id"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
    }),

    // A2-adjacent calendar bucketing: daily per-type stats
    "q15_daily_stats" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(round(avg(col("value")), 4).as("avg_value"), count(lit(1)).as("cnt"))
    }),

    // A1 group-count + pivot to wide per-type daily counts
    "q16_pivot_daily" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0)
        .toDF("day", "n_click", "n_error", "n_purchase", "n_signup", "n_view")
    }),

    // Sessionization: 30-min-gap sessions per user (W2/W3 pattern)
    "q29_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
      Tables.events(s, d)
        .withColumn("tsu", unix_micros(col("ts")))
        .withColumn("new_session",
          when(lag(col("tsu"), 1).over(w).isNull ||
            col("tsu") - lag(col("tsu"), 1).over(w) > 1800L * 1000000L, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
    }),

    // C10 legacy QC bitmask decode + max-rollup summary flag
    "q30_bitmask_summary" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("qc_executed", col("event_id") % 256)
        .withColumn("qc_results", col("user_id") % 256)
        .withColumn("summary",
          Qartod.qcSummaryFlag(col("qc_executed"), col("qc_results")).cast("long"))
        .groupBy(col("summary")).agg(count(lit(1)).as("cnt"))
    }),

    // C6 positional flag-string combination
    "q31_combine_flags" -> ((s, d) => {
      val v = col("value")
      Tables.events(s, d)
        .withColumn("flags", Qartod.combineFlags(Seq(
          "gross_fail" -> (v <= 1.0 || v >= 480.0),
          "gross_suspect" -> (v <= 10.0 || v >= 450.0),
          "null_value" -> v.isNull)))
        .groupBy(col("flags")).agg(count(lit(1)).as("cnt"))
    }),

    // W4 linear interpolation of masked values (error events → null → lerp)
    "q34_gapfill_interp" -> ((s, d) => {
      val masked = Tables.events(s, d)
        .withColumn("tsu", unix_micros(col("ts")))
        .withColumn("v", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
      GapFill.interpolateLinear(masked, Seq("user_id"), "tsu", "v", "v_filled",
          tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), round(col("v_filled"), 6).as("v_filled"))
    }),

    // C1 LTTB decimation per event_type (rows-only check: not SQL-expressible)
    "q35_lttb" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("x", unix_micros(col("ts")).cast("double"))
      Decimate.downsample(ev.select("event_type", "x", "value"),
        "event_type", "x", "value", threshold = 100)
    }),

    // A2 coarsen: 50-row bucket means per type, trim boundary
    "q37_coarsen" -> ((s, d) => {
      Decimate.coarsen(Tables.events(s, d).select("event_type", "ts", "value", "event_id"),
          Seq("event_type"), "ts", Seq("value"), window = 50, tieBreak = Seq("event_id"))
        .select(col("event_type"), col("ts"), round(col("value"), 6).as("value"))
    }),

    // A5 column-wise bitwise-OR rollup: which QC bits ever ran per type
    "q51_bit_rollup" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("qc_executed", col("event_id") % 256)
        .groupBy(col("event_type"))
        .agg(expr("bit_or(qc_executed)").as("mask_or"),
          expr("bit_and(qc_executed)").as("mask_and"),
          count(lit(1)).as("cnt"))
    }),

    // §2.8 JSON parse: extract props.k and aggregate
    "q39_json_extract" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(round(avg(col("k")), 4).as("avg_k"), max(col("k")).as("max_k"))
    }),

    // Per-group robust feature normalization: p05/p95 winsorization +
    // z-score from (n, Σx, Σx²) — the numeric-feature preparation stage
    "q112_normalize_values" -> ((s, d) =>
      graft.operators.TrainingData.normalizeValues(
        Tables.events(s, d), groupCol = "event_type", valueCol = "value",
        idCols = Seq("event_id"))),

    // Per-group distribution audit: mean/std/skew/kurtosis from power
    // sums (one map-side-combined aggregate — no builtin moment aggs)
    "q117_moment_stats" -> ((s, d) =>
      graft.operators.TrainingData.momentStats(
        Tables.events(s, d), groupCol = "event_type", valueCol = "value")),

    // Global decile assignment WITHOUT ntile: 9 exact quantile
    // thresholds broadcast, bucket = #{thresholds < value} at scan rate
    "q119_quantile_buckets" -> ((s, d) =>
      graft.operators.TrainingData.quantileBuckets(
        Tables.events(s, d), valueCol = "value", nBuckets = 10,
        idCols = Seq("event_id", "event_type"))),

    // J1 at the keyed large×large shape: per-site validity windows joined
    // through the composite-key bucketized spelling — (site, day-bucket)
    // equi-join instead of a per-site cross product (the
    // TemporalJoins.bucketizedIntervalJoin extraKeys path; the automatic
    // rewrite leaves equi-keyed joins to Spark)
    "q147_keyed_interval_join" -> ((s, d) => {
      val facts = Tables.events(s, d).select(
        col("event_id"),
        concat(lit("S"), col("user_id") % 5).as("site"),
        col("ts"), col("value"))
      val wins = Tables.nation(s, d)
        .select(
          col("n_nationkey").cast("long").as("w_id"),
          concat(lit("S"), col("n_nationkey") % 5).as("site"),
          (lit("2024-01-01 00:00:00").cast("timestamp") +
            make_dt_interval(col("n_nationkey"))).as("w_start"))
        .withColumn("w_end", col("w_start") + expr("INTERVAL 2 DAYS"))
      TemporalJoins.bucketizedIntervalJoin(
          facts, "ts", wins, "w_start", "w_end", bucketSeconds = 86400L,
          extraKeys = Seq("site"))
        .groupBy(col("w_id"))
        .agg(count(lit(1)).as("cnt"),
          round(min(col("value")), 6).as("min_v"),
          round(max(col("value")), 6).as("max_v"))
    })
  )

  private val evCte =
    "WITH e AS (SELECT event_id, user_id, event_type, value, props, CAST(ts AS TIMESTAMP) AS ts FROM events)"

  val oracleSql: Map[String, String] = Map(
    "q08_step_flags" -> s"""$evCte
      SELECT user_id, CAST(sum(step) AS BIGINT) AS n_steps FROM (
        SELECT user_id,
               CASE WHEN abs(value - lag(value) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id)) > 50 THEN 1 ELSE 0 END AS step
        FROM e)
      GROUP BY user_id""",
    "q09_gross_range" -> s"""$evCte
      SELECT CASE WHEN value <= 1.0 OR value >= 480.0 THEN 4
                  WHEN value <= 10.0 OR value >= 450.0 THEN 3
                  ELSE 1 END AS flag, count(*) AS cnt
      FROM e GROUP BY 1""",
    "q10_climatology_fixed" -> s"""
      WITH clim(month, sus_lo, sus_hi) AS (VALUES $climFixedValuesSql)
      SELECT CASE WHEN c.month IS NULL THEN 1
                  WHEN c.sus_lo IS NULL OR c.sus_hi IS NULL THEN 9
                  WHEN l_quantity <= c.sus_lo OR l_quantity >= c.sus_hi THEN 3
                  ELSE 1 END AS flag, count(*) AS cnt
      FROM lineitem l LEFT JOIN clim c ON CAST(month(l.l_shipdate) AS INT) = c.month
      GROUP BY 1""",
    "q11_climatology_binned" -> s"""
      WITH clim(month, depth_lo, depth_hi, sus_lo, sus_hi) AS (VALUES $climBinnedValuesSql)
      SELECT CASE WHEN c.month IS NULL THEN 1
                  WHEN c.sus_lo IS NULL OR c.sus_hi IS NULL THEN 9
                  WHEN l_extendedprice <= c.sus_lo OR l_extendedprice >= c.sus_hi THEN 3
                  ELSE 1 END AS flag, count(*) AS cnt
      FROM lineitem l LEFT JOIN clim c
        ON CAST(month(l.l_shipdate) AS INT) = c.month
       AND l.l_quantity >= c.depth_lo AND l.l_quantity < c.depth_hi
      GROUP BY 1""",
    "q12_asof_prev_click" -> s"""$evCte
      SELECT event_id, user_id, ts, prev_click_ts FROM (
        SELECT event_id, user_id, event_type, ts,
               max(CASE WHEN event_type = 'click' THEN ts END) OVER (
                 PARTITION BY user_id
                 ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_click_ts
        FROM e WHERE event_type IN ('click', 'purchase'))
      WHERE event_type = 'purchase'""",
    "q89_asof_nearest" -> s"""$evCte
      SELECT event_id, user_id, ts,
             CASE WHEN okb IS NOT NULL AND (okf IS NULL OR
                       epoch_us(ts) - epoch_us(okb) <= epoch_us(okf) - epoch_us(ts))
                  THEN okb ELSE okf END AS nearest_click_ts,
             CASE WHEN okb IS NOT NULL AND (okf IS NULL OR
                       epoch_us(ts) - epoch_us(okb) <= epoch_us(okf) - epoch_us(ts))
                  THEN 'b'
                  WHEN okf IS NOT NULL THEN 'f' END AS direction
      FROM (
        SELECT event_id, user_id, event_type, ts,
               CASE WHEN bt IS NOT NULL AND epoch_us(ts) - epoch_us(bt) <= 7200000000
                    THEN bt END AS okb,
               CASE WHEN ft IS NOT NULL AND epoch_us(ft) - epoch_us(ts) <= 7200000000
                    THEN ft END AS okf
        FROM (
          SELECT event_id, user_id, event_type, ts,
                 max(CASE WHEN event_type = 'click' THEN ts END) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bt,
                 min(CASE WHEN event_type = 'click' THEN ts END) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ft
          FROM e WHERE event_type IN ('click', 'purchase')))
      WHERE event_type = 'purchase'""",
    "q53_asof_native" -> s"""$evCte
      SELECT event_id, user_id, ts, prev_click_ts FROM (
        SELECT event_id, user_id, event_type, ts,
               max(CASE WHEN event_type = 'click' THEN ts END) OVER (
                 PARTITION BY user_id
                 ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_click_ts
        FROM e WHERE event_type IN ('click', 'purchase'))
      WHERE event_type = 'purchase'""",
    "q14_interval_windows" -> s"""$evCte,
      w(w_id, w_start, w_end) AS (VALUES ${windowRows.map { case (i, a, b) =>
        s"($i, TIMESTAMP '$a', TIMESTAMP '$b')" }.mkString(", ")})
      SELECT w_id, count(*) AS cnt, round(sum(value), 2) AS sum_value
      FROM e JOIN w ON e.ts >= w.w_start AND e.ts <= w.w_end
      GROUP BY w_id""",
    "q15_daily_stats" -> s"""$evCte
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             round(avg(value), 4) AS avg_value, count(*) AS cnt
      FROM e GROUP BY 1, 2""",
    "q16_pivot_daily" -> s"""$evCte
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             count(*) FILTER (WHERE event_type = 'click') AS n_click,
             count(*) FILTER (WHERE event_type = 'error') AS n_error,
             count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
             count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
             count(*) FILTER (WHERE event_type = 'view') AS n_view
      FROM e GROUP BY 1""",
    "q29_sessionize" -> s"""$evCte
      SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
        SELECT user_id,
               CASE WHEN lag(tsu) OVER w IS NULL
                         OR tsu - lag(tsu) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
        FROM (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM e)
        WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id))
      GROUP BY user_id""",
    "q30_bitmask_summary" -> s"""$evCte
      SELECT summary, count(*) AS cnt FROM (
        SELECT greatest(1,
          ${(0 until 8).map { b =>
            val fail = if (b >= 2) 9 else 4
            s"CASE WHEN (((event_id % 256) >> $b) & 1) = 0 THEN 0 " +
              s"WHEN (((user_id % 256) >> $b) & 1) = 1 THEN 1 ELSE $fail END"
          }.mkString(", ")}) AS summary
        FROM e)
      GROUP BY summary""",
    "q31_combine_flags" -> s"""$evCte
      SELECT concat(
               CASE WHEN value <= 1.0 OR value >= 480.0 THEN '3' ELSE '1' END,
               CASE WHEN value <= 10.0 OR value >= 450.0 THEN '3' ELSE '1' END,
               CASE WHEN value IS NULL THEN '3' ELSE '1' END) AS flags,
             count(*) AS cnt
      FROM e GROUP BY 1""",
    "q34_gapfill_interp" -> s"""$evCte
      SELECT event_id, user_id,
             round(CASE WHEN v IS NOT NULL THEN v
                        WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
                          CASE WHEN next_t = prev_t THEN prev_v
                               ELSE prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t) END
                        ELSE NULL END, 6) AS v_filled
      FROM (
        SELECT event_id, user_id, v, t,
               last_value(v IGNORE NULLS) OVER wb AS prev_v,
               last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER wb AS prev_t,
               first_value(v IGNORE NULLS) OVER wf AS next_v,
               first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER wf AS next_t
        FROM (SELECT event_id, user_id,
                     CAST(epoch_us(ts) AS DOUBLE) AS t,
                     CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
              FROM e)
        WINDOW wb AS (PARTITION BY user_id ORDER BY t, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY t, event_id
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))""",
    "q37_coarsen" -> s"""$evCte
      SELECT event_type,
             make_timestamp(CAST(floor(avg(epoch_us(ts) - 1600000000000000)) + 1600000000000000 AS BIGINT)) AS ts,
             round(avg(value), 6) AS value
      FROM (SELECT event_type, ts, value,
                   row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
            FROM e)
      GROUP BY event_type, floor((rn - 1) / 50)
      HAVING count(*) = 50""",
    "q51_bit_rollup" -> s"""$evCte
      SELECT event_type, bit_or(event_id % 256) AS mask_or,
             bit_and(event_id % 256) AS mask_and, count(*) AS cnt
      FROM e GROUP BY 1""",
    "q39_json_extract" -> s"""$evCte
      SELECT event_type, round(avg(k), 4) AS avg_k, max(k) AS max_k
      FROM (SELECT event_type, CAST(json_extract_string(props, '$$.k') AS INT) AS k FROM e)
      GROUP BY event_type""",
    // std from (n, Σx, Σx²) with the IDENTICAL formula Spark evaluates
    // (never a stddev aggregate — engines merge those differently);
    // winsorization bounds rounded to 6 dp BEFORE use on both sides
    "q112_normalize_values" -> s"""$evCte,
      st AS (SELECT event_type, count(value) AS n,
                    sum(value) AS sx, sum(value * value) AS sxx,
                    round(quantile_cont(value, 0.05), 6) AS lo,
                    round(quantile_cont(value, 0.95), 6) AS hi
             FROM e GROUP BY 1)
      SELECT event_id, e.event_type, value,
             CASE WHEN n = 1 OR sxx - sx * sx / n <= 0 THEN NULL
                  ELSE round((value - sx / n)
                             / sqrt((sxx - sx * sx / n) / (n - 1)), 6) END AS z,
             CASE WHEN value IS NULL THEN NULL
                  ELSE round(least(greatest(value, lo), hi), 6) END AS winsorized,
             value < lo OR value > hi AS is_outlier
      FROM e JOIN st USING (event_type)""",
    // population-moment formulas written EXACTLY as the Scala side
    // evaluates them (same literals, same association); m2^1.5 spelled
    // sqrt(m2)*m2; zero-variance guard identical
    "q117_moment_stats" -> s"""$evCte,
      su AS (SELECT event_type, count(value) AS n, sum(value) AS sx,
                    sum(value * value) AS sxx,
                    sum(value * value * value) AS sxxx,
                    sum(value * value * value * value) AS sxxxx
             FROM e GROUP BY 1)
      SELECT event_type, n,
             round(sx / n, 6) AS mean,
             CASE WHEN sxx / n - (sx / n) * (sx / n) <= 0 THEN 0.0
                  ELSE round(sqrt(sxx / n - (sx / n) * (sx / n)), 6) END AS std,
             CASE WHEN sxx / n - (sx / n) * (sx / n) <= 0 THEN NULL
                  ELSE round((sxxx / n - 3 * (sx / n) * (sxx / n)
                              + 2 * (sx / n) * (sx / n) * (sx / n))
                             / (sqrt(sxx / n - (sx / n) * (sx / n))
                                * (sxx / n - (sx / n) * (sx / n))), 6) END AS skewness,
             CASE WHEN sxx / n - (sx / n) * (sx / n) <= 0 THEN NULL
                  ELSE round((sxxxx / n - 4 * (sx / n) * (sxxx / n)
                              + 6 * (sx / n) * (sx / n) * (sxx / n)
                              - 3 * (sx / n) * (sx / n) * (sx / n) * (sx / n))
                             / ((sxx / n - (sx / n) * (sx / n))
                                * (sxx / n - (sx / n) * (sx / n))) - 3, 6) END AS kurtosis
      FROM su""",
    // thresholds rounded to 6 dp BEFORE the comparison on both engines
    // (the rounded-threshold convention); bucket = #{thresholds < value}
    "q119_quantile_buckets" -> s"""$evCte,
      th AS (SELECT list_transform(
                      quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                      t -> round(t, 6)) AS ths
             FROM e)
      SELECT event_id, event_type, value,
             CASE WHEN value IS NULL THEN NULL
                  ELSE CAST(len(list_filter(ths, t -> value > t)) AS BIGINT)
             END AS bucket
      FROM e, th""",

    "q147_keyed_interval_join" -> s"""$evCte,
      f AS (SELECT event_id, 'S' || CAST(user_id % 5 AS VARCHAR) AS site,
                   ts, value FROM e),
      w AS (SELECT CAST(n_nationkey AS BIGINT) AS w_id,
                   'S' || CAST(n_nationkey % 5 AS VARCHAR) AS site,
                   TIMESTAMP '2024-01-01 00:00:00'
                     + n_nationkey * INTERVAL '1 day' AS w_start,
                   TIMESTAMP '2024-01-01 00:00:00'
                     + n_nationkey * INTERVAL '1 day'
                     + INTERVAL '2 days' AS w_end
            FROM nation)
      SELECT w_id, count(*) AS cnt,
             round(min(value), 6) AS min_v,
             round(max(value), 6) AS max_v
      FROM f JOIN w ON f.site = w.site
                   AND f.ts >= w.w_start AND f.ts <= w.w_end
      GROUP BY w_id"""
  )
}
