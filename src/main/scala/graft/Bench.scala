package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {

  /** The measurement loop, separated from `main` so the spec can drive it
    * with an injected query map: min-of-`runs` seconds per query, with
    * crashed queries EXCLUDED from the timings and returned as an error
    * map instead — a crash must never masquerade as a fast run (round 7
    * recorded 31 analysis-time crashes as ~0.1 s "speedups").
    */
  def measure(spark: SparkSession, sfDir: String,
              queries: Map[String, (SparkSession, String) => DataFrame],
              runs: Int = 2): (Map[String, Double], Map[String, String]) = {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = queries.flatMap { case (name, fn) =>
      val times = (0 until runs).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir)
            .selectExpr("count(1)", "bit_xor(hash(*))").collect()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          errors(name) =
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(200)
          None
        }
      }
      // untimed GC between queries: localCheckpoint blocks and broadcasts
      // from earlier queries are only released when the driver GC lets the
      // ContextCleaner see them — without this, block-manager pressure
      // from 80×2 query runs bleeds into whichever queries run late
      System.gc()
      // a query that crashed on ANY run is excluded from timings entirely:
      // a flaky query must not appear in both maps with a min over the
      // surviving runs (that would still let a crash masquerade as a timing)
      if (times.isEmpty || errors.contains(name)) None
      else Some(name -> times.min)
    }
    (results, errors.toMap)
  }

  /** 1/5/15-minute load averages at a point in time — the campaign's
    * own noise disclosure (this host is shared: same-HEAD totals move
    * in a ±15% band with background load, see PLANS.md bench protocol).
    */
  private def loadAvg(): String =
    try {
      val parts = scala.io.Source.fromFile("/proc/loadavg").mkString
        .trim.split("\\s+")
      s"[${parts(0)},${parts(1)},${parts(2)}]"
    } catch { case _: Throwable => "null" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val loadStart = loadAvg()
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: JIT + parquet footers, so the first timed query doesn't pay
    // JVM startup costs the rest don't
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      graft.sources.Tables.names.foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).collect()
        catch { case _: Throwable => }
      }
      // JIT the hash/dedup kernels on a tiny slice (steady-state measurement)
      graft.operators.Dedup.minHashDupPairs(
        graft.sources.Tables.documents(spark, sfDir).limit(64),
        "doc_id", "text", k = 3).count()
    } catch { case _: Throwable => }
    // min of two runs per query: steady-state throughput, standard
    // best-of-N benchmark methodology (first run can pay stragglers/GC).
    // The consumer aggregates hash(*) — NOT count(): Catalyst prunes
    // columns a bare count never reads, silently skipping the window/
    // interpolation work that produces them (measured: composed window
    // plans under count() omit the windows entirely). hash(*) forces
    // every output column of every row at negligible aggregate cost.
    // optional comma-separated query-name filter for local iteration
    // (e.g. SPARK_GRAFT_ONLY=q124_host_pagerank,q95_keep_best); the
    // driver never sets it, so the driver bench always runs everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      // `*_invariants` companions are correctness machinery (the driver's
      // DuckDB gate runs them via Verify): each one re-runs an operator the
      // bench already times and reduces it to a check vector, so timing
      // them would double-count that operator in the total. Excluded by
      // default; still selectable explicitly via SPARK_GRAFT_ONLY.
      case None => SparkEntry.queries.filter(!_._1.endsWith("_invariants"))
    }
    // TWO full suite passes, per-query min across them (round-15 VERDICT
    // item 5: a single suite pass moves in a ±15% same-HEAD band — 106.4
    // vs 90.2 s back to back — so the recorded number takes the min of
    // two passes; each pass is itself min-of-2 per query). A query that
    // errors in EITHER pass is excluded from timings entirely.
    val (r1, e1) = measure(spark, sfDir, selected)
    val (r2, e2) = measure(spark, sfDir, selected)
    val errors = e1 ++ e2
    val results = (r1.keySet ++ r2.keySet).filterNot(errors.contains)
      .map(k => k -> math.min(r1.getOrElse(k, Double.MaxValue),
                              r2.getOrElse(k, Double.MaxValue))).toMap
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                  case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }
    val qs = results.map { case (k, v) => "\"" + esc(k) + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def passTotal(r: Map[String, Double]): Double =
      if (r.nonEmpty) r.values.sum else 0.0
    // Full per-query detail line, for humans and local cross-round
    // diffs. DELIBERATELY carries no "metric" key: the driver parses
    // the FIRST line matching "metric":"total", and this line is long
    // enough to arrive truncated mid-map in the driver's ~2 KB log-tail
    // capture — round 18 added the compact line below but left
    // "metric":"total" here too, so the truncated line still won the
    // match and BENCH_r18.json recorded "parsed": null (round-18
    // ADVICE item 1).
    println(s"""{"detail":"per_query_full","queries":$qs,""" +
      s""""errors":$errs,"error_count":${errors.size},""" +
      f""""pass_totals":[${passTotal(r1)}%.1f,${passTotal(r2)}%.1f],""" +
      s""""sf":"$sfDir","total_sec":$total}""")
    // THE one machine-parseable line (round-17 VERDICT item 3): the
    // only line containing "metric":"total". Carries the totals, a
    // "queries" map per the driver contract, and the campaign's own
    // noise context (host load at start and end). The driver's capture
    // window is a 2000-char log TAIL (measured: every BENCH_r*.json
    // stores exactly 2000 chars and r14–r18 all parsed null because the
    // full ~6 KB per-query line can never fit it), so "queries" here
    // carries the TOP-40 SLOWEST entries — everything that matters for
    // a perf diff, sized so the whole line (~1.3 KB) survives the tail
    // intact; "queries_top" names the truncation loudly and the
    // complete map is on the preceding detail line for humans.
    // r19 ADVICE: one constant for the truncation, and queries_top
    // reports the map's TRUE size so the two can't drift on edits
    val topN = 40
    val top = results.toSeq.sortBy(-_._2).take(topN)
      .map { case (k, v) => "\"" + esc(k) + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      f""""pass_totals":[${passTotal(r1)}%.1f,${passTotal(r2)}%.1f],""" +
      s""""n_queries":${results.size},""" +
      s""""queries_top":${math.min(topN, results.size)},"error_count":${errors.size},""" +
      s""""sf":"$sfDir","host_load_start":$loadStart,""" +
      s""""host_load_end":${loadAvg()},"queries":$top}""")
    spark.stop()
  }
}
