package graft.functions.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{HashKernels, UdfSpellings}

/** The native `shingle_hashes` / `minhash_band_keys` expressions must be
  * bit-identical to the UDF kernel chain they replace on the hot dedup
  * scans (q28 miner, q92 cross-corpus, q146 gate): band keys computed by
  * either spelling have to collide identically or the candidate sets
  * silently diverge between the batch miner and the streaming gate.
  */
class MinHashExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog today",
    "",                       // empty → one empty-string shingle
    "   spaces  at   edges ", // space-trim semantics
    "one",                    // shorter than k → whole text as one shingle
    "ünïcödé tökens ünïcödé tökens mixed CASE Text",
    "a b a b a b a b",        // repeated shingles → distinct collapse
    "tab\tand\nnewline edges stay (only spaces trim)")

  test("shingle_hashes equals the kernel UDF on edge-case texts") {
    for (k <- Seq(1, 3, 5)) {
      val df = texts.toDF("text")
      val native = df.select(
          call_function("shingle_hashes", $"text", lit(k)).as("sh"))
        .as[Seq[Long]].collect()
      val viaUdf = df.select(UdfSpellings.shingleHashSetUdf(k)($"text").as("sh"))
        .as[Seq[Long]].collect()
      native.toSeq shouldBe viaUdf.toSeq
      // and each result is sorted distinct
      native.foreach { sh => sh shouldBe sh.distinct.sorted }
    }
  }

  test("shingle_hashes is jaccard-equivalent to the HOF spelling") {
    // Dedup.sortedShingleHashes is the native expression; the
    // interpreted HOF chain Dedup.shingleHashes is the Column spelling.
    // The two spellings hash shingles DIFFERENTLY (FNV-1a+mix64
    // vs xxhash64), so raw values are not comparable across spellings —
    // what every consumer (q40 pair jaccard, the q28/q92/q146 invariant
    // recomputes) relies on is that set SIZE and pairwise JACCARD are
    // invariant under the hash relabeling. Pin exactly that: equal set
    // sizes per text, equal jaccard per text pair, and both outputs
    // sorted distinct with the same null propagation.
    import graft.operators.Dedup
    import graft.functions.HashKernels
    for (k <- Seq(1, 3, 5)) {
      val df = texts.toDF("text")
      val native = df.select(
          call_function("shingle_hashes", $"text", lit(k)).as("sh"))
        .as[Seq[Long]].collect().toSeq
      val viaHof = df.select(
          sort_array(Dedup.shingleHashes($"text", k)).as("sh"))
        .as[Seq[Long]].collect().toSeq
      native.map(_.size) shouldBe viaHof.map(_.size)
      native.foreach { sh => sh shouldBe sh.distinct.sorted }
      viaHof.foreach { sh => sh shouldBe sh.distinct.sorted }
      for (i <- native.indices; j <- native.indices) {
        val jN = HashKernels.sortedJaccard(native(i), native(j))
        val jH = HashKernels.sortedJaccard(viaHof(i), viaHof(j))
        withClue(s"k=$k pair ($i,$j): ") { jN shouldBe jH }
      }
    }
    // null text propagates as null through both spellings
    val nullRow = Seq[Option[String]](None).toDF("text")
    nullRow.select(call_function("shingle_hashes", $"text", lit(3)))
      .collect().head.isNullAt(0) shouldBe true
    nullRow.select(sort_array(graft.operators.Dedup.shingleHashes($"text", 3)))
      .collect().head.isNullAt(0) shouldBe true
  }

  test("minhash_band_keys equals bandKeys(minHashSig(...)) bit for bit") {
    for ((numHashes, bands) <- Seq((64, 16), (128, 32), (8, 4))) {
      val sh = texts.toDF("text")
        .select(call_function("shingle_hashes", $"text", lit(3)).as("sh"))
      val native = sh.select(call_function(
          "minhash_band_keys", $"sh", lit(numHashes), lit(bands)).as("bk"))
        .as[Seq[Long]].collect()
      val viaUdf = sh.select(UdfSpellings.bandKeysUdf(bands, numHashes / bands)(
          UdfSpellings.minHashSigUdf(numHashes)($"sh")).as("bk"))
        .as[Seq[Long]].collect()
      native.toSeq shouldBe viaUdf.toSeq
      native.foreach(_.length shouldBe bands)
    }
  }

  test("null text propagates null through both expressions, no guard needed") {
    val df = Seq(Some("real text here"), None).toDF("text")
      .withColumn("sh", call_function("shingle_hashes", $"text", lit(3)))
      .withColumn("bk", call_function("minhash_band_keys", $"sh", lit(64), lit(16)))
    val rows = df.select(isnull($"sh"), isnull($"bk")).as[(Boolean, Boolean)]
      .collect().toSeq
    rows shouldBe Seq((false, false), (true, true))
  }

  test("containsNull=true arrays are accepted; a NULL ELEMENT throws at eval") {
    // the kernel reads primitive getLong(i): a null element would silently
    // unbox to 0 and hash as a real shingle. But containsNull = true is a
    // TYPE-level flag every parquet-read array<bigint> carries (a stored
    // shingle column has no way to re-declare it), so analysis accepts the
    // type and a checked kernel variant scans elements at eval time —
    // null-FREE nullable input works and matches the non-null shape;
    // an actually-null element fails loudly.
    val nullFree = Seq(Tuple1(Seq[java.lang.Long](1L, 2L, 3L))).toDF("sh")
    assert(nullFree.schema("sh").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    val viaNullable = nullFree
      .select(call_function("minhash_band_keys", $"sh", lit(64), lit(16)))
      .collect().head.getSeq[Long](0)
    val viaStrict = Seq(Tuple1(Array(1L, 2L, 3L)))
      .toDF("sh")
      .select(call_function("minhash_band_keys", $"sh", lit(64), lit(16)))
      .collect().head.getSeq[Long](0)
    viaNullable shouldBe viaStrict
    viaStrict.length shouldBe 16
    val withNull = Seq(Tuple1(Seq[java.lang.Long](1L, null, 3L))).toDF("sh")
    val e = intercept[Exception] {
      withNull.select(call_function(
        "minhash_band_keys", $"sh", lit(64), lit(16))).collect()
    }
    e.getMessage.toLowerCase should include("minhash_band_keys")
    e.getMessage.toLowerCase should include("null element")
  }

  test("the dedup scan plans through the native expressions, in one codegen stage") {
    // parquet-backed: over a LocalRelation the optimizer folds the whole
    // projection at plan time and no codegen stage exists to inspect
    val dir = java.nio.file.Files.createTempDirectory("graft_mh").toString
    (0 until 50).map(i => (i.toLong, s"document number $i with shared words"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val scan = docs.select(
      call_function("shingle_hashes", $"text", lit(3)).as("sh"))
      .select(call_function("minhash_band_keys", $"sh", lit(64), lit(16)).as("bk"))
    val plan = scan.queryExecution.executedPlan.toString
    plan should include("shingle_hashes")
    plan should include("minhash_band_keys")
    plan should not include "UDF"
    // "*(1) Project" = both expressions fused in ONE whole-stage-codegen
    // span directly over the file scan
    plan should include("*(1) Project [minhash_band_keys(shingle_hashes(")
    // (the full miner's routing is not visible in its plan — its sig
    // frame is localCheckpointed into a LogicalRDD — but DedupSpec's
    // miner tests run against this same extension-installed session, so
    // the native path is what they exercise)
  }

  test("SQL surface: constant-expression args accepted, bad shapes rejected") {
    Seq("alpha beta gamma delta").toDF("text").createOrReplaceTempView("mh_docs")
    val viaSql = spark.sql(
      "SELECT minhash_band_keys(shingle_hashes(text, 2 + 1), 64, 16) AS bk FROM mh_docs")
      .as[Seq[Long]].collect().head
    val viaCol = Seq("alpha beta gamma delta").toDF("text")
      .select(call_function("minhash_band_keys",
        call_function("shingle_hashes", $"text", lit(3)), lit(64), lit(16)))
      .as[Seq[Long]].collect().head
    viaSql shouldBe viaCol
    intercept[Exception] {
      spark.sql("SELECT minhash_band_keys(array(1L), 63, 16)").collect()
    }
  }
}
