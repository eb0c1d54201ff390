package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Bench

/** sf0.1 → sf1 scale-growth probe (round-10 VERDICT item 5): the AQE
  * stage-job-floor analysis predicts per-query cost at sf0.1 is
  * SCHEDULING-bound, so a 10× data growth should move the flat-band
  * queries far less than 10×. This probe builds a 10×-row version of the
  * three big tables (documents, events, embeddings) in a multi-file
  * layout — each copy c gets offset ids, a per-copy text suffix (so
  * dedup distributions scale instead of collapsing to pure duplicates),
  * a small per-copy time shift, and a per-copy first-component nudge on
  * embeddings (distinct vectors, no engine-specific distance-tie
  * ordering) — copies the dimension tables as-is, and times a query set
  * at both scales with [[Bench.measure]]'s min-of-2. The same layout
  * backs the round-11 dual-scale FULL-GATE run (`Verify` + `check.py`
  * re-oracled on the grown tables) and `RoutingFlipProbe`.
  *
  * Output: one JSON line with per-query seconds at both scales and the
  * growth ratio. Reading the ratios: ≈1 ⇒ scheduling-bound (the AQE
  * floor), ≤10 ⇒ at-most-linear in data (healthy: multi-split scans +
  * partial aggregation absorb some growth), >10 ⇒ super-linear — a plan
  * defect; audit it.
  *
  * Usage: runMain graft.tools.ScaleGrowthProbe [sfDir] [bigDir] [copies] [qCsv]
  */
object ScaleGrowthProbe {

  /** The slowest non-streaming driver-bench queries (r9 tail) plus the
    * two streaming replays among them — the set the floor analysis makes
    * predictions about. Streaming replays re-read the staged table from
    * the probe dir like any other query.
    */
  val DefaultQueries: Seq[String] = Seq(
    "q92_cross_contam", "q99_lm_quality", "q93_dup_spans",
    "q28_minhash_pairs", "q107_prepare_corpus", "q98_paragraph_dedup",
    "q86_line_dedup", "q62_cal_apply", "q65_grid_fallback",
    "q123_inverted_index", "q84_stream_interval_join", "q100_stream_sessionize")

  def buildBig(spark: SparkSession, sfDir: String, outDir: String,
               copies: Int, nFiles: Int): Unit = {
    val cs = spark.range(copies).select(col("id").cast("int").as("c"))
    def grown(t: String, grow: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$sfDir/$t.parquet")
      val n = base.count()
      grow(base.crossJoin(broadcast(cs)), col("c"))
        .drop("c")
        .repartition(nFiles)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      require(spark.read.parquet(s"$outDir/$t.parquet").count() == n * copies)
    }
    grown("documents", (df, c) => df
      .withColumn("doc_id", col("doc_id") + c.cast("long") * 1000000L)
      // distinct text per copy (suffix token), distributions preserved
      .withColumn("text",
        when(c === 0, col("text")).otherwise(concat(col("text"), lit(" cpy"), c))))
    grown("events", (df, c) => df
      .withColumn("event_id", col("event_id") + c.cast("long") * 100000000L)
      .withColumn("user_id", col("user_id") + c.cast("long") * 1000000L)
      // 1-second shift per copy: keeps every span/window query's
      // selectivity, avoids exact-timestamp pileups
      .withColumn("ts", col("ts") + make_dt_interval(lit(0), lit(0), lit(0), c.cast("double"))))
    grown("embeddings", (df, c) => df
      .withColumn("vec_id", col("vec_id") + c.cast("long") * 1000000L)
      // deterministic per-copy nudge on the first component: identical
      // copies would otherwise create exact distance ties whose
      // tie-break order is engine-specific; a distinct vector per copy
      // keeps every top-k/threshold query's answer well-defined while
      // preserving the distribution
      .withColumn("embedding",
        when(c === 0, col("embedding")).otherwise(transform(col("embedding"),
          (x, i) => when(i === 0, x + (c.cast("double") / 1000.0).cast("float"))
            .otherwise(x)))))
    // dimension tables ride along unchanged
    graft.sources.Tables.names
      .filterNot(Set("documents", "events", "embeddings")).foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    // `all` → the full gate surface straight from SparkEntry.queries
    // (round-15: an external CSV filter silently dropped a query; the
    // list now resolves structurally and unknown names ERROR)
    val qNames = if (args.length > 3) ProbeQueries.resolve(args(3))
                 else DefaultQueries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    buildBig(spark, sfDir, outDir, copies, nFiles = 8)
    val sel = ProbeQueries.select(qNames)
    val (small, errS) = Bench.measure(spark, sfDir, sel)
    val (big, errB) = Bench.measure(spark, outDir, sel)
    def fmt(m: Map[String, Double]): String =
      m.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val ratios = qNames.flatMap { q =>
      for (s <- small.get(q); b <- big.get(q)) yield f""""$q":${b / s}%.2f"""
    }.mkString("{", ",", "}")
    // the parity self-check REQUIRES every requested query measured or
    // errored at both scales — a list that shrank anywhere fails here
    val parity = ProbeQueries.parityLine(qNames,
      small.keys.filter(big.contains),
      (errS.keySet ++ errB.keySet).toSeq)
    println(s"""{"copies":$copies,$parity,"small":${fmt(small)},"big":${fmt(big)},""" +
      s""""ratio_big_over_small":$ratios,"errors":${errS.size + errB.size}}""")
    spark.stop()
  }
}
