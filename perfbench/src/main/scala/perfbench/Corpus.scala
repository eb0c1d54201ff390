package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Corpus-curation jobs from `SparkEntry.queries` over the grown layout.
  * A job is timed the way the repository's bench times a query: build
  * the plan and reduce it to `count(1), bit_xor(hash(*))`.
  */
final class Corpus(spark: SparkSession, in: Gen.CorpusData) {
  /** The job's own oracle, or its `*_invariants` companion where the job
    * has none.
    */
  private def checkOf(q: String): String = q match {
    case "q28_minhash_pairs" => "q28_minhash_invariants"
    case "q92_cross_contam" => "q92_contam_invariants"
    case other => other
  }

  def run(q: String): Digest = Checks.digest(SparkEntry.queries(q)(spark, in.dir))

  /** Untimed, once per generated layout and before the timed region:
    * write each job's checked output (the job itself, or its invariants
    * companion) and the oracle SQL under `outDir` for the DuckDB
    * comparison. Returns the digest each job with its own oracle must
    * reproduce in the timed runs: that of its written output. This pass
    * also warms every job's code path.
    */
  def writeChecks(outDir: String): Map[String, Digest] = {
    val oracles = SparkEntry.oracleSql
    val missing = Corpus.Jobs.map(checkOf).filterNot(oracles.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(",")}")
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      Json(Corpus.Jobs.map(checkOf).map(n => n -> oracles(n)).toMap))
    Par.map(Corpus.Jobs, spark.sparkContext.defaultParallelism) { q =>
      spark.sparkContext.setJobGroup("check", "output checks")
      val name = checkOf(q)
      SparkEntry.queries(name)(spark, in.dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      if (name == q) Some(q -> Checks.digest(spark.read.parquet(s"$outDir/$q"))) else None
    }.flatten.toMap
  }

  def checkNames: Seq[String] = Corpus.Jobs.map(checkOf)
}

object Corpus {
  /** In pass order; the first also serves as the set-up warm-up. */
  val Jobs: Seq[String] = Seq("q110_bm25", "q28_minhash_pairs", "q86_line_dedup",
    "q92_cross_contam", "q93_dup_spans", "q99_lm_quality", "q107_prepare_corpus",
    "q113_hybrid_rrf", "q126_tfidf_keywords", "q128_pmi_collocations")
}
