package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Bench, SparkEntry}

/** Multi-file scan-parallelism probe (PLANS.md "Scan-parallelism note"):
  * every driver-generated testdata table is ONE parquet file with ONE row
  * group, so the bench never exercises the multi-split scan path a 100 TB
  * layout lives on — `spark.sql.files.maxPartitionBytes` is inert and scan
  * parallelism is capped at 1 task per table regardless of cluster size.
  *
  * This probe re-lays the tables out as `nFiles` part files each (what a
  * distributed writer produces), verifies the query surface is
  * layout-invariant (count + order-independent hash per query), and times
  * a scan-heavy query set against both layouts with the same min-of-2
  * methodology as [[graft.Bench]]. Output: one JSON line with per-table
  * scan-partition counts and per-query seconds for both layouts.
  *
  * Usage: runMain graft.tools.ReshardProbe [sfDir] [reshardDir] [nFiles] [qCsv]
  */
object ReshardProbe {

  /** Scan-heavy slice of the surface: the big-table aggregates, joins,
    * windows, and text kernels whose cost is data-proportional — the
    * queries a multi-split scan could actually speed up (streaming replay
    * and iterative-training queries are excluded: their cost is trigger /
    * fixed-job machinery, not scan width).
    */
  val DefaultQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q03_revenue_by_nation", "q07_next_order",
    "q13_interval_join", "q14_interval_windows", "q34_gapfill_interp",
    "q37_coarsen", "q86_line_dedup", "q93_dup_spans", "q98_paragraph_dedup",
    "q99_lm_quality", "q107_prepare_corpus", "q110_bm25", "q144_token_entropy")

  def reshard(spark: SparkSession, sfDir: String, outDir: String,
              nFiles: Int): Unit =
    graft.sources.Tables.names.foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .repartition(nFiles)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

  /** (count, order-independent hash) fingerprint of one query's result. */
  private def fingerprint(spark: SparkSession, dir: String,
                          name: String): (Long, Long) = {
    val r = SparkEntry.queries(name)(spark, dir)
      .selectExpr("count(1) AS c", "bit_xor(xxhash64(*)) AS h").collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_resharded"
    val nFiles = if (args.length > 2) args(2).toInt else 8
    val qNames = if (args.length > 3) args(3).split(",").toSeq else DefaultQueries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    reshard(spark, sfDir, outDir, nFiles)

    // scan parallelism per layout: input partitions of a full-table scan
    val scanParts = graft.sources.Tables.names.map { t =>
      val a = spark.read.parquet(s"$sfDir/$t.parquet").rdd.getNumPartitions
      val b = spark.read.parquet(s"$outDir/$t.parquet").rdd.getNumPartitions
      t -> (a, b)
    }

    // layout invariance: identical fingerprint on both layouts
    val mismatched = qNames.filter { q =>
      fingerprint(spark, sfDir, q) != fingerprint(spark, outDir, q)
    }

    val selected = SparkEntry.queries.filter(kv => qNames.contains(kv._1))
    val (base, be) = Bench.measure(spark, sfDir, selected)
    val (resh, re) = Bench.measure(spark, outDir, selected)

    def fmt(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
        .mkString("{", ",", "}")
    val parts = scanParts.map { case (t, (a, b)) => s""""$t":[$a,$b]""" }
      .mkString("{", ",", "}")
    println(s"""{"n_files":$nFiles,"scan_partitions":$parts,""" +
      s""""mismatched":[${mismatched.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""errors":${be.size + re.size},""" +
      s""""baseline_total":${f"${base.values.sum}%.2f"},""" +
      s""""resharded_total":${f"${resh.values.sum}%.2f"},""" +
      s""""baseline":${fmt(base)},"resharded":${fmt(resh)}}""")
    spark.stop()
  }
}
