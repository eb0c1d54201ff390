package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ScaleContract
import graft.operators.Similarity
import graft.sources.Tables

/** ANN recall at data scale (round-12 VERDICT item 4): recall@k of every
  * approximate path against [[Similarity.bruteForceTopK]], measured on
  * the REAL embeddings table of a given layout — run it on both sf0.1
  * and a ScaleGrowthProbe-grown layout to see how recall moves with
  * corpus size, and whether the contract knobs (nBits per
  * [[ScaleContract.lshBits]], multiProbe, trained nProbe) restore it.
  *
  * 100 query vectors (vec_id < 100 — base-copy ids on grown layouts, so
  * the query set is IDENTICAL at every scale; only the corpus grows),
  * k = 10. Output: one line per method with mean recall@10.
  *
  * Usage: runMain graft.tools.RecallProbe [layoutDir]...
  */
object RecallProbe {

  private def meanRecall(approx: DataFrame, exact: DataFrame): Double = {
    val r = Similarity.recallAtK(approx, exact)
      .agg(avg(col("recall"))).collect()(0)
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }

  def run(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") >= 100).localCheckpoint(false)
    val queries = emb.filter(col("vec_id") < 100).localCheckpoint(false)
    val n = corpus.count()
    val k = 10
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = k).localCheckpoint(false)
    val contractBits = ScaleContract.lshBits(n)
    val kTrained = ScaleContract.semanticClusters(n)
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id", "embedding",
      k = kTrained, iters = 4, sampleN = 4096)
    val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16, iters = 4, sampleN = 4096)
    def ivf(bits: Int, multi: Boolean) = Similarity.ivfTopK(
      corpus, "vec_id", "embedding", queries, "vec_id", "embedding",
      dim = 64, k = k, nBits = bits, multiProbe = multi)
    def trained(nProbe: Int) = Similarity.ivfTopKTrained(
      corpus, "vec_id", "embedding", queries, "vec_id", "embedding",
      cents, k = k, nProbe = nProbe)
    Seq(
      "ivf_hyper_bits4" -> ivf(4, multi = false),
      "ivf_hyper_bits4_multi" -> ivf(4, multi = true),
      s"ivf_hyper_bits${contractBits}_contract" ->
        ivf(contractBits, multi = false),
      s"ivf_hyper_bits${contractBits}_contract_multi" ->
        ivf(contractBits, multi = true),
      s"ivf_trained_k${kTrained}_nprobe1" -> trained(1),
      s"ivf_trained_k${kTrained}_nprobe4" -> trained(4),
      s"ivf_trained_k${kTrained}_nprobe8" -> trained(8),
      "int8_quantized" -> Similarity.quantizedTopK(
        corpus, "vec_id", "embedding", queries, "vec_id", "embedding", k = k),
      "pq_m8_ksub16_adc" -> Similarity.pqTopK(
        corpus, "vec_id", "embedding", queries, "vec_id", "embedding",
        books, k = k)
    ).map { case (name, approx) => name -> meanRecall(approx, exact) }
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dirs.foreach { dir =>
      val rows = run(spark, dir)
      val n = Tables.embeddings(spark, dir).count()
      rows.foreach { case (m, r) =>
        println(f"""{"dir":"$dir","n_vectors":$n,"method":"$m","mean_recall_at_10":$r%.4f}""")
      }
    }
    spark.stop()
  }
}
