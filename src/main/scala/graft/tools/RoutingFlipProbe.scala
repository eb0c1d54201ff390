package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exercises every size-gated driver/distributed routing flip on BOTH
  * sides of its gate at a REAL grown corpus (round-11 VERDICT item 1):
  * the sf-scale oracle always lands on one side of each gate, so a bug
  * on the other side — or a divergence between the two paths — is
  * invisible to the correctness gate until real data crosses the
  * threshold. This probe runs each operator twice on the
  * [[ScaleGrowthProbe]] grown layout (10× documents), once with the gate
  * forced to the driver path and once forced distributed, and compares
  * order-independent fingerprints (count + bit_xor(hash(*))).
  *
  * Covered gates:
  *  - `Dedup.connectedComponents(smallGraphEdges)` — driver union-find
  *    vs distributed pointer-jumping label propagation
  *  - `GraphOps.pageRank(smallGraphEdges)` — driver loop vs distributed
  *    integer-fixed-point iteration
  *  - `Bpe.train(smallVocabWords)` — driver merge loop vs distributed
  *    pair-count rounds (merge lists compared exactly, order included)
  *  - `Curation.importanceWeights` — broadcast-map scoring vs the
  *    keyed-join fallback (gated on the vocabulary count)
  *
  * Usage: runMain graft.tools.RoutingFlipProbe [grownDir]
  * Prints one JSON line; every `*_match` must be true.
  */
object RoutingFlipProbe {

  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.selectExpr("count(1)", "coalesce(bit_xor(hash(*)), 0L)").head()
    (r.getLong(0), r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{Bpe, Dedup, GraphOps}

    val docs = graft.sources.Tables.documents(spark, dir).localCheckpoint(false)
    // a real near-dup edge list: the grown corpus's 10-copy families give
    // ~45 edges per original document (~250k edges at copies=10)
    val pairs = Dedup.minHashDupPairs(docs, "doc_id", "text")
      .localCheckpoint(false)
    val nEdges = pairs.count()

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      (body, (System.nanoTime() - t0) / 1e9)
    }

    // 1. connected components: force driver (gate above the edge count)
    //    vs force distributed (gate at 0)
    val (ccD, ccDriverS) = timed(fingerprint(Dedup.connectedComponents(
      pairs, "id_a", "id_b", smallGraphEdges = Long.MaxValue)))
    val (ccX, ccDistS) = timed(fingerprint(Dedup.connectedComponents(
      pairs, "id_a", "id_b", smallGraphEdges = 0L)))

    // 2. pageRank over the same (directed) edge list
    val (prD, prDriverS) = timed(fingerprint(GraphOps.pageRank(
      pairs, "id_a", "id_b", iterations = 8, smallGraphEdges = Long.MaxValue)))
    val (prX, prDistS) = timed(fingerprint(GraphOps.pageRank(
      pairs, "id_a", "id_b", iterations = 8, smallGraphEdges = 0L)))

    // 3. BPE training: the merge SEQUENCE is the contract (ordered)
    val (bpeD, bpeDriverS) = timed(Bpe.train(
      docs, "text", numMerges = 60, smallVocabWords = Long.MaxValue))
    val (bpeX, bpeDistS) = timed(Bpe.train(
      docs, "text", numMerges = 60, smallVocabWords = 0L))

    // 4. importanceWeights: broadcast-map scoring (vocab under the gate)
    //    vs the keyed-join fallback (gate at 0) — both fold each doc's
    //    weights in code-point token order, so rows must be IDENTICAL
    import graft.operators.Curation
    val iwTarget = docs.filter(col("doc_id") % 97 === 0)
    val iwCorpus = docs.filter(col("doc_id") % 97 =!= 0)
    val (iwB, iwMapS) = timed(fingerprint(Curation.importanceWeights(
      iwCorpus, iwTarget, "doc_id", "text",
      maxBroadcastVocab = Long.MaxValue)))
    val (iwJ, iwJoinS) = timed(fingerprint(Curation.importanceWeights(
      iwCorpus, iwTarget, "doc_id", "text", maxBroadcastVocab = 0L)))

    def j(m: (Long, Long)) = s"""{"rows":${m._1},"xh":${m._2}}"""
    println(
      s"""{"dir":"$dir","edges":$nEdges,""" +
      s""""cc_match":${ccD == ccX},"cc_driver":${j(ccD)},"cc_dist":${j(ccX)},""" +
      s""""pr_match":${prD == prX},"pr_driver":${j(prD)},"pr_dist":${j(prX)},""" +
      s""""bpe_match":${bpeD == bpeX},"bpe_merges":${bpeD.length},""" +
      s""""iw_match":${iwB == iwJ},"iw_map":${j(iwB)},"iw_join":${j(iwJ)},""" +
      f""""secs":{"cc":[$ccDriverS%.2f,$ccDistS%.2f],"pr":[$prDriverS%.2f,$prDistS%.2f],""" +
      f""""bpe":[$bpeDriverS%.2f,$bpeDistS%.2f],"iw":[$iwMapS%.2f,$iwJoinS%.2f]}}""")
    spark.stop()
  }
}
