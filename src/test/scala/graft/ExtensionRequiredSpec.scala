package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.operators.Dedup

/** [[GraftExtensions]] is a requirement, not an optimization: every routed
  * helper emits its native function unconditionally, so a session without
  * it fails analysis with Spark's unresolved-routine error naming the
  * function — never a silent detour through another spelling (which, for
  * the shingle hashes, would hash in a different space).
  */
class ExtensionRequiredSpec extends SparkSpec {

  test("minHashDupPairs fails analysis naming shingle_hashes when the session lacks it") {
    val bare = spark.newSession()
    bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier("shingle_hashes"))
    val docs = bare.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"))).toDF("doc_id", "text")
    val e = intercept[AnalysisException] {
      Dedup.minHashDupPairs(docs, "doc_id", "text").collect()
    }
    e.getMessage should include("shingle_hashes")
    // the shared session keeps its registration
    spark.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("shingle_hashes")) shouldBe true
  }
}
