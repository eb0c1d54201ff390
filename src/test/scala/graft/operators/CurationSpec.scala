package graft.operators

import graft.SparkSpec

class CurationSpec extends SparkSpec {
  import spark.implicits._

  // --- bm25TopK ---

  private val bm25Corpus = Seq(
    (1L, "apple banana apple"),          // len 3
    (2L, "banana cherry"),               // len 2
    (3L, "cherry cherry cherry cherry")  // len 4
  ).toDF("doc_id", "text")               // N=3, tot=9, avgdl=3

  test("bm25TopK matches the hand-computed score") {
    // query "apple": df=1, only doc 1 (tf=2, len=3):
    //   idf = ln((3-1+0.5)/(1+0.5)+1) = ln(8/3)
    //   score = idf * 2*2.2 / (2 + 1.2*(0.25 + 0.75*3/3)) = idf * 4.4/3.2
    val out = Curation.bm25TopK(bm25Corpus, "doc_id", "text",
      Seq(0L -> Seq("apple")), k = 5)
      .as[(Long, Long, Double)].collect()
    out.length shouldBe 1
    out.head._2 shouldBe 1L
    out.head._3 shouldBe math.log(8.0 / 3.0) * 4.4 / 3.2 +- 1e-6
  }

  test("bm25TopK length normalization ranks the shorter doc first at equal tf") {
    // "banana" has tf=1 in docs 1 (len 3) and 2 (len 2): doc 2 wins
    val out = Curation.bm25TopK(bm25Corpus, "doc_id", "text",
      Seq(0L -> Seq("banana")), k = 5)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    out.map(_._2).toSeq shouldBe Seq(2L, 1L)
  }

  test("bm25TopK sums per-term scores and keeps queries independent") {
    val both = Curation.bm25TopK(bm25Corpus, "doc_id", "text",
      Seq(0L -> Seq("apple", "banana"), 1L -> Seq("cherry")), k = 5)
      .as[(Long, Long, Double)].collect()
    val d1 = both.filter(r => r._1 == 0L && r._2 == 1L).head._3
    val apple = Curation.bm25TopK(bm25Corpus, "doc_id", "text",
      Seq(0L -> Seq("apple")), k = 5).as[(Long, Long, Double)].head()._3
    val banana = Curation.bm25TopK(bm25Corpus, "doc_id", "text",
      Seq(0L -> Seq("banana")), k = 5)
      .as[(Long, Long, Double)].collect().filter(_._2 == 1L).head._3
    d1 shouldBe apple + banana +- 2e-6 // each addend 6-dp rounded
    // query 1 sees only the cherry docs, ranked 3 (tf=4) above 2 (tf=1)
    both.filter(_._1 == 1L).sortBy(-_._3).map(_._2).toSeq shouldBe Seq(3L, 2L)
  }

  test("bm25TopK plans the term filter before the tf aggregate, no corpus window") {
    val out = Curation.bm25TopK(bm25Corpus, "doc_id", "text",
      Seq(0L -> Seq("apple", "banana")), k = 5)
    val plan = out.queryExecution.executedPlan.toString
    // top-k reduces through the partial heap aggregate, not a window
    plan should include("partial_topk_by_score")
    plan should not include "Window"
    // r19 single-scan shape: every consumer (stats, df, tf) reads the
    // lazily-checkpointed compact (doc_id, len, hits) frame, so the
    // served plan contains NO tokenize (the split/filter ran exactly
    // once, inside the checkpoint build) and no raw-corpus subtree
    val opt = out.queryExecution.optimizedPlan.toString
    opt should not include "split("
    opt should include("LogicalRDD") // the compact pinned frame
  }

  test("bm25 compact frame keeps only query-term hits and the FULL length") {
    // r19 ADVICE: the served plan no longer exposes the compact build, so
    // assert the hits-subset invariant directly against the builder
    val compact = Curation.bm25Compact(bm25Corpus, "doc_id", "text",
      Seq("apple", "banana"))
      .as[(Long, Int, Seq[String])].collect().sortBy(_._1)
    compact.map(_._1).toSeq shouldBe Seq(1L, 2L, 3L)
    // len is the full token count (BM25 normalization), NOT the hit count
    compact.map(_._2).toSeq shouldBe Seq(3, 2, 4)
    // hits arrays contain only query terms, with multiplicity preserved
    compact.flatMap(_._3).toSet.subsetOf(Set("apple", "banana")) shouldBe true
    compact.map(_._3).toSeq shouldBe Seq(
      Seq("apple", "banana", "apple"), Seq("banana"), Nil)
  }

  // --- rrfFuse ---

  test("rrfFuse sums reciprocal ranks across lists, hand-computed") {
    // list A ranks: d1=1, d2=2; list B ranks: d2=1, d3=2
    val a = Seq((0L, 1L, 0.9), (0L, 2L, 0.8)).toDF("query_id", "doc_id", "score")
    val b = Seq((0L, 2L, 0.7), (0L, 3L, 0.6)).toDF("query_id", "neighbor_id", "cosine")
    val out = Curation.rrfFuse(a, b, k = 10)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    // d2: 1/62 + 1/61 (both lists) beats d1: 1/61 beats d3: 1/62
    out.map(_._2).toSeq shouldBe Seq(2L, 1L, 3L)
    out(0)._3 shouldBe 1.0 / 62 + 1.0 / 61 +- 1e-6
    out(1)._3 shouldBe 1.0 / 61 +- 1e-6
    out(2)._3 shouldBe 1.0 / 62 +- 1e-6
  }

  test("rrfFuse ranks by score desc with doc-id tie-break, per query") {
    // equal scores: rank order falls back to doc_id asc; queries independent
    val a = Seq((0L, 5L, 1.0), (0L, 3L, 1.0), (1L, 7L, 0.5))
      .toDF("query_id", "doc_id", "score")
    val b = Seq.empty[(Long, Long, Double)].toDF("query_id", "doc_id", "score")
    val out = Curation.rrfFuse(a, b, k = 10)
      .as[(Long, Long, Double)].collect()
    val q0 = out.filter(_._1 == 0L).sortBy(-_._3)
    q0.map(_._2).toSeq shouldBe Seq(3L, 5L) // tie → smaller id ranks first
    out.filter(_._1 == 1L).head._3 shouldBe 1.0 / 61 +- 1e-6
  }

  // --- corpusDiff ---

  test("corpusDiff classifies added/removed/changed/unchanged, null-text safe") {
    val oldSnap = Seq((1L, Some("a")), (2L, Some("b")), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val newSnap = Seq((2L, Some("b2")), (3L, Option.empty[String]), (4L, Some("d")))
      .toDF("doc_id", "text")
    val out = Curation.corpusDiff(oldSnap, newSnap, "doc_id", "text")
      .select("doc_id", "status").as[(Long, String)].collect().sortBy(_._1)
    out.toSeq shouldBe Seq(
      (1L, "removed"),
      (2L, "changed"),
      (3L, "unchanged"), // null text on both sides: exists, content equal
      (4L, "added"))
  }

  // --- decontaminate ---

  test("decontaminate counts distinct trigram overlap per corpus doc") {
    val corpus = Seq(
      (1L, "a b c d e"),           // grams: "a b c","b c d","c d e"
      (2L, "x y z w"),             // grams: "x y z","y z w" — no overlap
      (3L, "a b c a b c d")        // distinct grams: "a b c","b c a","c a b","b c d"
    ).toDF("doc_id", "text")
    val bench = Seq((9L, "a b c d")).toDF("doc_id", "text") // "a b c","b c d"
    val out = Curation.decontaminate(corpus, bench, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    out(0) shouldBe ((1L, 3L, 2L, 0.666667))
    out(1) shouldBe ((2L, 2L, 0L, 0.0))
    out(2) shouldBe ((3L, 4L, 2L, 0.5))
  }

  test("decontaminate keeps zero-gram docs with contamination 0") {
    val corpus = Seq((1L, "too short"), (2L, ""), (3L, "one two three")).toDF("doc_id", "text")
    val bench = Seq((9L, "one two three")).toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, bench, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    out(0) shouldBe ((1L, 0L, 0L, 0.0))
    out(1) shouldBe ((2L, 0L, 0L, 0.0))
    out(2) shouldBe ((3L, 1L, 1L, 1.0))
  }

  test("wordNgramsKernel uses SQL-trim (spaces only) and Locale.ROOT lowercase") {
    import graft.functions.TextFunctions.wordNgramsKernel
    // a leading tab is NOT trimmed (SQL trim strips spaces only), so the
    // split yields a leading empty token — matching the DuckDB oracle's
    // trim()/regexp_split_to_array exactly
    wordNgramsKernel("\ta b", 3).toSeq shouldBe Seq(" a b")
    wordNgramsKernel("  a b c  ", 3).toSeq shouldBe Seq("a b c")
    wordNgramsKernel("A B C", 3).toSeq shouldBe Seq("a b c")
    wordNgramsKernel(null, 3).toSeq shouldBe Seq.empty
  }

  test("decontaminate normalizes case and whitespace before shingling") {
    val corpus = Seq((1L, "  The   QUICK brown fox ")).toDF("doc_id", "text")
    val bench = Seq((9L, "the quick brown")).toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, bench, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Double)].collect()
    out.head shouldBe ((1L, 2L, 1L, 0.5))
  }

  // --- domainQuota ---

  private val scored = Seq(
    ("a", 1L, 0.9), ("a", 2L, 0.8), ("a", 3L, 0.8), ("a", 4L, 0.7),
    ("b", 5L, 0.5)
  ).toDF("source", "doc_id", "score")

  test("domainQuota takes k best per class, ties to the smaller id") {
    val out = Curation.domainQuota(scored, "source", "doc_id", "score", k = 2)
      .as[(String, Long, Double)].collect().sortBy(r => (r._1, -r._3, r._2))
    out shouldBe Array(("a", 1L, 0.9), ("a", 2L, 0.8), ("b", 5L, 0.5))
  }

  test("domainQuota with k above the group size returns the whole group") {
    val out = Curation.domainQuota(scored, "source", "doc_id", "score", k = 10)
    out.count() shouldBe 5
  }

  test("domainQuota plan is window-free with the native aggregate installed") {
    val plan = Curation.domainQuota(scored, "source", "doc_id", "score", k = 2)
      .queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should include("topk_by_score")
  }

  // --- sampleExactN ---

  private val sampleDocs = Seq(
    ("a", 1L, "alpha beta"), ("a", 2L, "gamma delta"), ("a", 3L, "epsilon"),
    ("a", 4L, "zeta eta"), ("b", 5L, "theta"), ("b", 6L, null.asInstanceOf[String])
  ).toDF("source", "doc_id", "text")

  test("sampleExactN keeps exactly n smallest-fingerprint rows per class, ranked") {
    val out = Curation.sampleExactN(sampleDocs, "source", "doc_id", "text", n = 2)
      .as[(String, Long, Long, Int)].collect().sortBy(r => (r._1, r._4))
    out.count(_._1 == "a") shouldBe 2
    // null text never ranks: class b has one scorable row
    out.filter(_._1 == "b").map(_._2).toSeq shouldBe Seq(5L)
    // ranks are 1..n in ascending fingerprint order
    out.filter(_._1 == "a").map(_._4).toSeq shouldBe Seq(1, 2)
    val aFps = out.filter(_._1 == "a").map(_._3)
    aFps shouldBe aFps.sorted
  }

  test("sampleExactN is reshard-stable (same pick at any parallelism)") {
    val base = Curation.sampleExactN(sampleDocs, "source", "doc_id", "text", n = 2)
      .as[(String, Long, Long, Int)].collect().toSet
    val reshard = Curation.sampleExactN(sampleDocs.repartition(7), "source",
      "doc_id", "text", n = 2).as[(String, Long, Long, Int)].collect().toSet
    reshard shouldBe base
  }

  test("sampleExactN plan is window-free with the native aggregate installed") {
    val plan = Curation.sampleExactN(sampleDocs, "source", "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should include("topk_by_score")
  }

  // --- invertedIndex ---

  test("invertedIndex builds df/cf and doc-ordered capped postings") {
    val docs = Seq(
      (3L, "apple banana apple"), (1L, "Banana cherry"), (2L, "banana")
    ).toDF("doc_id", "text")
    val out = Curation.invertedIndex(docs, "doc_id", "text", maxPostings = 2)
      .as[(String, Long, Long, String, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    out("apple") shouldBe (("apple", 1L, 2L, "3:2", false))
    // banana: df=3 > cap 2 → first two doc ids kept, truncated
    out("banana") shouldBe (("banana", 3L, 3L, "1:1 2:1", true))
    out("cherry") shouldBe (("cherry", 1L, 1L, "1:1", false))
  }

  test("invertedIndex posting selection is window-free with the native aggregate") {
    val docs = Seq((1L, "a b"), (2L, "a")).toDF("doc_id", "text")
    val plan = Curation.invertedIndex(docs, "doc_id", "text", 4)
      .queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should include("topk_by_score")
  }

  // --- queryExpansion ---

  test("queryExpansion mines non-query terms from the feedback docs") {
    val docs = Seq(
      (1L, "apple banana cherry"), (2L, "apple banana"), (3L, "zebra yak")
    ).toDF("doc_id", "text")
    val out = Curation.queryExpansion(docs, "doc_id", "text",
      Seq(0L -> Seq("apple")), kDocs = 2, kTerms = 5)
      .as[(Long, Int, String, Long)].collect().sortBy(_._2)
    // feedback = docs 1,2; expansion excludes "apple"
    out.map(r => (r._2, r._3, r._4)).toSeq shouldBe
      Seq((1, "banana", 2L), (2, "cherry", 1L))
  }

  // --- sourceDivergence ---

  test("sourceDivergence: single-class corpus has exactly zero drift") {
    val docs = Seq(("a", "x y z"), ("a", "x x")).toDF("source", "text")
    val out = Curation.sourceDivergence(docs, "source", "text", topK = 2)
      .as[(String, Long, Double)].collect()
    out shouldBe Array(("a", 5L, 0.0))
  }

  test("sourceDivergence: mirrored classes diverge symmetrically, OOV counted") {
    // a = "x x y", b = "x y y": corpus x3 y3; topK=1 keeps x, y is OOV.
    // By the x<->y mirror symmetry jsd(a) == jsd(b) > 0
    val docs = Seq(("a", "x x y"), ("b", "x y y")).toDF("source", "text")
    val out = Curation.sourceDivergence(docs, "source", "text", topK = 1)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    out("a") shouldBe out("b")
    out("a") should be > 0.0
    // hand value: buckets (p=2/3,q=1/2) and (p=1/3,q=1/2)
    def c(p: Double, q: Double): Double = {
      val m = (p + q) / 2
      0.5 * (if (p == 0) 0.0 else p * math.log(p / m)) +
        0.5 * (if (q == 0) 0.0 else q * math.log(q / m))
    }
    out("a") shouldBe math.rint((c(2.0 / 3, 0.5) + c(1.0 / 3, 0.5)) * 1e6) / 1e6 +- 1e-9
  }

  // --- zipfFit ---

  test("zipfFit recovers slope -1 on an exactly Zipfian corpus") {
    // counts 12, 6, 4, 3 = 12/rank -> ln(freq) is collinear with -ln(rank)
    val docs = Seq(("a " * 12 + "b " * 6 + "c " * 4 + "d " * 3).trim)
      .toDF("text")
    val out = Curation.zipfFit(docs, "text", topK = 10)
      .as[(Long, Option[Double], Option[Double], Option[Double])].head()
    out._1 shouldBe 4L
    out._2.get shouldBe -1.0 +- 1e-6
    out._3.get shouldBe math.log(12.0) +- 1e-6
    out._4.get should be >= 0.999999
  }

  test("zipfFit yields nulls, not errors, on degenerate input") {
    val one = Curation.zipfFit(Seq("a a a").toDF("text"), "text", 10)
      .as[(Long, Option[Double], Option[Double], Option[Double])].head()
    one shouldBe ((1L, None, None, None))
    val empty = Curation.zipfFit(Seq.empty[String].toDF("text"), "text", 10)
      .as[(Long, Option[Double], Option[Double], Option[Double])].head()
    empty shouldBe ((0L, None, None, None))
  }

  // --- pmiCollocations ---

  test("windowPairs kernel emits normalized pairs, skips self-pairs") {
    graft.functions.TextFunctions.windowPairsKernel(
      Seq("x", "y", "x", "y"), 2).toSeq shouldBe Seq("x y", "x y", "x y")
    graft.functions.TextFunctions.windowPairsKernel(null, 2).toSeq shouldBe Seq()
  }

  test("pmiCollocations scores the hand-computed corpus") {
    // pairs(window 2): "x y"×4, "x z"×1, "y z"×1; c_x=3 c_y=3 c_z=1;
    // N_tok=7, N_pairs=6 → pmi("x y") = ln(4·49 / (9·6))
    val docs = Seq("x y x y", "x y z").toDF("text")
    val out = Curation.pmiCollocations(docs, "text", window = 2,
      minCount = 2, k = 10).as[(String, Long, Long, Long, Double)].collect()
    out.length shouldBe 1
    out.head._1 shouldBe "x y"
    out.head._2 shouldBe 4L
    out.head._5 shouldBe math.rint(math.log(4.0 * 7 * 7 / (3.0 * 3 * 6)) * 1e6) / 1e6 +- 1e-9
  }

  // --- tfidfKeywords ---

  test("tfidfKeywords ranks tf*ln(N/df) per doc, ties to the smaller term") {
    val docs = Seq(
      (1L, "apple apple banana"), (2L, "banana cherry"), (3L, "cherry")
    ).toDF("doc_id", "text")
    val out = Curation.tfidfKeywords(docs, "doc_id", "text", k = 2)
      .as[(Long, Int, String, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3).toSeq }
    out(1L) shouldBe Seq("apple", "banana") // 2·ln3 > ln1.5
    out(2L) shouldBe Seq("banana", "cherry") // equal scores -> term order
    out(3L) shouldBe Seq("cherry")
    val apple = Curation.tfidfKeywords(docs, "doc_id", "text", 2)
      .filter($"term" === "apple").select("score").as[Double].head()
    apple shouldBe math.rint(2.0 * math.log(3.0) * 1e6) / 1e6 +- 1e-9
  }

  // --- vocabTopK ---

  test("vocabTopK orders by count desc then token asc and limits") {
    val docs = Seq("b b a a c", "B A d").toDF("text")
    val out = Curation.vocabTopK(docs, "text", k = 3)
      .as[(String, Long)].collect()
    out shouldBe Array(("a", 3L), ("b", 3L), ("c", 1L))
  }

  // --- stratifiedSample ---

  private val strat = Seq(
    (1L, "alpha beta gamma", "keep"),
    (2L, "delta epsilon zeta", "keep"),
    (3L, "alpha beta gamma", "drop"),
    (4L, "eta theta iota", "drop")
  ).toDF("doc_id", "text", "source")

  test("stratifiedSample rate 1.0 keeps all, rate 0.0 drops all") {
    val out = Curation.stratifiedSample(strat, "text", "source",
      rates = Map("keep" -> 1.0, "drop" -> 0.0), defaultRate = 0.5)
      .select("doc_id").as[Long].collect().sorted
    out shouldBe Array(1L, 2L)
  }

  test("stratifiedSample is content-deterministic: duplicates decide together") {
    // same text in both classes at the same rate → identical bucket, and
    // the in/out decision depends only on (bucket, rate)
    val buckets = Curation.stratifiedSample(strat, "text", "source",
        rates = Map.empty, defaultRate = 1.0)
      .select("doc_id", "sample_bucket").as[(Long, Long)].collect().toMap
    buckets(1L) shouldBe buckets(3L)
    buckets.values.foreach { b => b should be >= 0L; b should be < 10000L }
  }

  test("repetitionStats computes dup-token and top-bigram fractions") {
    val out = Seq(
      "a b a b a b",       // dup 1-2/6; top bigram "a b" x3 of len 3, raw len 11
      "all distinct words here",
      "x",                 // single token: no bigram
      ""
    ).toDF("text")
      .select(graft.functions.TextFunctions.repetitionStats($"text").as("r"))
      .select("r._1", "r._2", "r._3")
      .as[(Double, String, Double)].collect()
    out(0)._1 shouldBe (1.0 - 2.0 / 6) +- 1e-9
    out(0)._2 shouldBe "a b"
    out(0)._3 shouldBe (3.0 * 3 / 11) +- 1e-9
    out(1)._1 shouldBe 0.0
    out(2) shouldBe ((0.0, null, 0.0))
    out(3) shouldBe ((0.0, null, 0.0))
  }

  test("repetitionStats matches SQL split semantics on degenerate whitespace") {
    val out = Seq("\t", "a a\t")
      .toDF("text")
      .select(graft.functions.TextFunctions.repetitionStats($"text").as("r"))
      .select("r._1", "r._2", "r._3")
      .as[(Double, String, Double)].collect()
    // "\t": SQL trim keeps it; split(-1) → ["", ""] like
    // regexp_split_to_array — dup 0.5, bigram " " (1 cp) over 1 raw cp
    out(0) shouldBe ((0.5, " ", 1.0))
    // trailing tab keeps a trailing empty token: 3 tokens, 2 distinct
    out(1)._1 shouldBe (1.0 - 2.0 / 3) +- 1e-9
    // null text → null struct, not a fabricated zero row
    val nulls = Seq((1, null.asInstanceOf[String])).toDF("id", "text")
      .select(graft.functions.TextFunctions.repetitionStats($"text").as("r"))
      .select("r._1").collect()
    nulls(0).isNullAt(0) shouldBe true
  }

  test("piiCounts finds emails, urls, and phone numbers") {
    import graft.functions.TextFunctions
    val df = Seq(
      "write to a.b+c@mail.example.org or see https://x.y/z?q=1 now",
      "call 555-123-4567 or 555-123-4568",
      "no pii here, 1234-5678 is not a phone, user@localhost is not an email"
    ).toDF("text")
    val out = df.select(TextFunctions.piiCounts(org.apache.spark.sql.functions.col("text")): _*)
      .as[(Int, Int, Int)].collect()
    out(0) shouldBe ((1, 1, 0))
    out(1) shouldBe ((0, 0, 2))
    out(2) shouldBe ((0, 0, 0))
  }

  test("redactPii substitutes placeholders in the fixed email→URL→phone order") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions.col
    val df = Seq(
      "write to a.b+c@mail.example.org or see https://x.y/z?q=1 now",
      "call 555-123-4567 or 555-123-4568",
      // an email inside a URL: the email is redacted FIRST, then the URL
      // match swallows the placeholder — the documented order contract
      "ftp via https://user@example.com/path today",
      "no pii here"
    ).toDF("text")
    val out = df.select(TextFunctions.redactPii(col("text"))).as[String].collect()
    out(0) shouldBe "write to <EMAIL> or see <URL> now"
    out(1) shouldBe "call <PHONE> or <PHONE>"
    out(2) shouldBe "ftp via <URL> today"
    out(3) shouldBe "no pii here"
  }

  test("benchmarkGramSet fails fast past maxGrams, naming the join formulation") {
    val bench = Seq((1L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text") // 8 distinct 3-grams
    val e = intercept[IllegalArgumentException] {
      Curation.benchmarkGramSet(bench, "text", 3, maxGrams = 5)
    }
    e.getMessage should include("decontaminate")
    e.getMessage should include("maxGrams")
    // at the cap exactly, the set comes back whole
    Curation.benchmarkGramSet(bench, "text", 3, maxGrams = 8).size shouldBe 8
  }

  test("ingestGate flags quality, contamination, and sampling in one pass") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then rests", "a"),
      (2L, "benchmark question one exactly verbatim copied text here now", "a"),
      (3L, "!!! ??? 123 456 !!!", "a")
    ).toDF("doc_id", "text", "source")
    val bench = spark.sparkContext.broadcast(
      Curation.benchmarkGramSet(
        Seq((9L, "benchmark question one exactly verbatim copied text here now"))
          .toDF("doc_id", "text"), "text", 3))
    val out = Curation.ingestGate(docs, "text", "source", bench, n = 3,
        stopwords = graft.functions.TextFunctions.LangStopwords("en"),
        minQuality = 0.3, maxContamination = 0.5,
        rates = Map.empty, defaultRate = 1.0)
      .select("doc_id", "contamination", "admitted")
      .as[(Long, Double, Boolean)].collect().sortBy(_._1).toList
    out(0)._2 shouldBe 0.0
    out(0)._3 shouldBe true   // clean prose, no contamination
    out(1)._2 shouldBe 1.0    // verbatim benchmark copy
    out(1)._3 shouldBe false
    out(2)._3 shouldBe false  // punctuation/digit soup fails quality
  }

  test("ingestGate rejects (not null-verdicts) unscorable null text") {
    val docs = Seq((1L, null.asInstanceOf[String], "a"), (2L, "fine text here", "a"))
      .toDF("doc_id", "text", "source")
    val bench = spark.sparkContext.broadcast(Set.empty[String])
    val out = Curation.ingestGate(docs, "text", "source", bench, n = 3,
        stopwords = Nil, minQuality = 0.0, maxContamination = 1.0,
        rates = Map.empty, defaultRate = 1.0)
      .select("doc_id", "admitted").as[(Long, Boolean)].collect().sortBy(_._1)
    out(0) shouldBe ((1L, false))
    out(1) shouldBe ((2L, true))
  }

  test("guarded ingestGate routes oversized benchmarks to the join path, bit-identically") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then rests", "a"),
      (2L, "benchmark question one exactly verbatim copied text here now", "a"),
      (3L, "!!! ??? 123 456 !!!", "a"),
      (4L, null.asInstanceOf[String], "b")
    ).toDF("doc_id", "text", "source")
    val benchmark = Seq(
      (9L, "benchmark question one exactly verbatim copied text here now"))
      .toDF("doc_id", "text")
    def gate(maxGrams: Long) = Curation.ingestGate(
      docs, "doc_id", "text", "source", benchmark, "text", n = 3,
      stopwords = graft.functions.TextFunctions.LangStopwords("en"),
      minQuality = 0.3, maxContamination = 0.5,
      rates = Map.empty, defaultRate = 1.0,
      denom = 10000, maxBroadcastGrams = maxGrams)
    val kernelRoute = gate(1000000L) // under guard: broadcast kernel
    val joinRoute = gate(1L)         // over guard: decontaminate-style join
    kernelRoute.columns.toSeq shouldBe joinRoute.columns.toSeq
    joinRoute.collect().map(_.toSeq).toSet shouldBe
      kernelRoute.collect().map(_.toSeq).toSet
    // and the join route genuinely plans a join, not a broadcast-set UDF
    joinRoute.queryExecution.executedPlan.toString should include("Join")
  }

  test("ingestGate batch/stream parity on the documents table") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingOps
      .runIngestGateAvailableNow(spark, dir, queryName = "gate_parity_test")
      .collect().map(_.toSeq).toSet
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
    val bench = spark.sparkContext.broadcast(
      Curation.benchmarkGramSet(
        batchDocs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 === 0), "text", 3))
    val batch = Curation.ingestGate(batchDocs, "text", "source", bench, n = 3,
        stopwords = graft.functions.TextFunctions.LangStopwords("en"),
        minQuality = 0.6, maxContamination = 0.05,
        rates = Map("src3" -> 1.0, "src11" -> 0.0), defaultRate = 0.5)
      .select("doc_id", "source", "quality", "contamination", "sample_bucket", "admitted")
      .collect().map(_.toSeq).toSet
    streamed shouldBe batch
    streamed.nonEmpty shouldBe true
  }

  test("stratifiedSample realized rate tracks the requested rate") {
    val docs = (0 until 2000).map(i => (i.toLong, s"doc number $i words", "c"))
      .toDF("doc_id", "text", "source")
    val n = Curation.stratifiedSample(docs, "text", "source",
      rates = Map("c" -> 0.3), defaultRate = 0.0).count()
    n.toDouble / 2000 shouldBe 0.3 +- 0.05
  }

  test("dupGramFraction: shared spans count, unique prose scores 0, short docs 0") {
    val shared = "one two three four five six seven eight" // exactly one 8-gram
    val docs = Seq(
      (1L, shared),                       // gram shared with doc 2 → frac 1
      (2L, s"$shared nine"),              // grams: shared(df2) + one unique → 1/2
      (3L, "totally different words in this eight gram span"), // unique → 0
      (4L, "too short"))                  // < 8 tokens → 0 grams, frac 0
      .toDF("doc_id", "text")
    val out = Curation.dupGramFraction(docs, "doc_id", "text", n = 8)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "n_dup", "dup_frac")
      .as[(Long, Long, Long, Double)].collect()
    out(0) shouldBe ((1L, 1L, 1L, 1.0))
    out(1) shouldBe ((2L, 2L, 1L, 0.5))
    out(2)._4 shouldBe 0.0
    out(3) shouldBe ((4L, 0L, 0L, 0.0))
  }

  test("gopherGate: each rule rejects its shape; prose passes; null text rejected") {
    val prose = ("the quick brown fox jumps over the lazy dog and then " * 6).trim
    val docs = Seq(
      (1L, prose),                                    // 60 plain words → pass
      (2L, "too short"),                              // min-words
      (3L, prose.split(" ").map("- " + _).mkString("\n")), // every line bulleted
      (4L, prose.split(" ").map(_ + "...").mkString("\n")), // every line ellipsed
      (5L, (prose + " ") * 1 + ("# " * 20).trim),     // symbol soup
      (6L, ("12 34 56 78 90 " * 12).trim),            // no alphabetic words
      (7L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Curation.gopherGate(docs, "text")
      .select("doc_id", "admitted").as[(Long, Boolean)].collect().sortBy(_._1)
    out.map(_._2).toSeq shouldBe Seq(true, false, false, false, false, false, false)
    // null text: null diagnostics, non-null verdict
    val r7 = Curation.gopherGate(docs, "text")
      .filter(org.apache.spark.sql.functions.col("doc_id") === 7)
      .select("n_words").collect()(0)
    r7.isNullAt(0) shouldBe true
  }

  test("dedupLines drops corpus-frequent lines, keeps order, drops emptied docs") {
    val boiler = "all rights reserved"
    val docs = (0 until 20).map { i =>
      (i.toLong, s"unique prose line $i\n$boiler\nsecond unique $i")
    } :+ (99L, boiler) // a doc that is ONLY boilerplate
    val df = docs.toDF("doc_id", "text")
    val out = Curation.dedupLines(df, "doc_id", "text", maxOccurrences = 5)
      .orderBy("doc_id")
      .select("doc_id", "text", "n_kept", "n_removed")
      .as[(Long, String, Long, Long)].collect()
    out.length shouldBe 20 // doc 99 emptied and dropped
    out.head shouldBe ((0L, "unique prose line 0\nsecond unique 0", 2L, 1L))
    out.foreach { case (_, t, k, r) =>
      t.contains(boiler) shouldBe false; k shouldBe 2L; r shouldBe 1L
    }
  }

  test("dedupLines keeps lines at exactly the occurrence threshold") {
    val df = Seq((1L, "shared\nmine"), (2L, "shared\nyours"))
      .toDF("doc_id", "text")
    val out = Curation.dedupLines(df, "doc_id", "text", maxOccurrences = 2)
      .orderBy("doc_id").select("text").as[String].collect()
    out shouldBe Array("shared\nmine", "shared\nyours")
  }

  test("dedupLines with \\n\\n separator dedups at paragraph granularity") {
    val boiler = "follow us\non social media" // multi-LINE paragraph
    val df = Seq(
      (1L, s"unique one\nstill one\n\n$boiler"),
      (2L, s"unique two\n\n$boiler"),
      (3L, s"unique three\n\n$boiler"))
      .toDF("doc_id", "text")
    val out = Curation.dedupLines(df, "doc_id", "text",
        maxOccurrences = 2, separator = "\n\n")
      .orderBy("doc_id")
      .select("text", "n_kept", "n_removed")
      .as[(String, Long, Long)].collect()
    // the repeated paragraph (3 occurrences) drops; inner newlines survive
    out shouldBe Array(
      ("unique one\nstill one", 1L, 1L),
      ("unique two", 1L, 1L),
      ("unique three", 1L, 1L))
  }

  test("importanceWeights: hand-computed smoothed log-likelihood ratios") {
    val target = Seq((100L, "apple apple banana")).toDF("doc_id", "text")
    val corpus = Seq((1L, "apple cherry"), (2L, "")).toDF("doc_id", "text")
    val out = Curation.importanceWeights(corpus, target, "doc_id", "text",
        alpha = 0.5)
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1)
    // vocab {apple, banana, cherry}: v=3, nT=3, nR=2
    val wApple = math.log(2.5 / 4.5) - math.log(1.5 / 3.5)
    val wCherry = math.log(0.5 / 4.5) - math.log(1.5 / 3.5)
    val expected = BigDecimal((wApple + wCherry) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    out shouldBe Array(
      (1L, 2L, Some(expected)),
      (2L, 0L, None)) // zero-token doc: counted, unscored
  }

  test("importanceWeights: broadcast-map and keyed-join routes emit bit-identical rows") {
    // repeats, a zero-token doc, a null text, and a supplementary-plane
    // token (🚀 sorts AFTER BMP chars in code-point/UTF-8 order but
    // BEFORE U+E000..U+FFFF in Java's char-wise compareTo — the exact
    // divergence codePointOrder exists to avoid)
    val target = Seq((100L, "apple apple banana 🚀ship"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "apple cherry apple 🚀ship �tail apple"),
      (2L, ""),
      (3L, null.asInstanceOf[String]),
      (4L, "cherry banana cherry"))
      .toDF("doc_id", "text")
    val broadcastRoute = Curation.importanceWeights(corpus, target,
        "doc_id", "text", alpha = 0.5) // vocab ≤ gate: map-only route
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1)
    val joinRoute = Curation.importanceWeights(corpus, target,
        "doc_id", "text", alpha = 0.5, maxBroadcastVocab = 0L)
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1)
    broadcastRoute shouldBe joinRoute
    broadcastRoute.map(_._1) shouldBe Array(1L, 2L, 3L, 4L)
    broadcastRoute(1)._2 shouldBe 0L // zero-token: counted, unscored
    broadcastRoute(1)._3 shouldBe None
    broadcastRoute(2)._2 shouldBe 0L // null text: same contract
    broadcastRoute(2)._3 shouldBe None
  }

  test("codePointOrder matches UTF-8 binary order where Java compareTo diverges") {
    // U+1F680 (surrogate pair, code point 0x1F680) vs U+FFFD: UTF-8/code
    // point order puts FFFD first; Java char order puts the surrogate
    // (0xD83D) first
    Curation.codePointOrder.compare("�", "🚀") should be < 0
    "�".compareTo("🚀") should be > 0 // the Java divergence
    Curation.codePointOrder.compare("ab", "ab") shouldBe 0
    Curation.codePointOrder.compare("ab", "abc") should be < 0
    Curation.codePointOrder.compare("b", "a") should be > 0
  }

  test("trimDupGrams removes corpus-duplicated spans, passes unique and short docs") {
    val span = "one two three four five six seven eight" // the shared 8-gram
    val docs = Seq(
      (1L, s"alpha $span omega"),
      (2L, s"beta gamma $span"),
      (3L, "totally unique prose that repeats nowhere in this corpus at all"),
      (4L, "short doc only")) // < 8 tokens: passes whole
      .toDF("doc_id", "text")
    val out = Curation.trimDupGrams(docs, "doc_id", "text",
        n = 8, minDocFreq = 2)
      .as[(Long, String, Int, Int)].collect().sortBy(_._1)
    out(0) shouldBe ((1L, "alpha omega", 10, 8))
    out(1) shouldBe ((2L, "beta gamma", 10, 8))
    out(2)._4 shouldBe 0 // unique doc untouched
    out(2)._2 shouldBe docs.filter($"doc_id" === 3L).select("text").as[String].head()
    out(3) shouldBe ((4L, "short doc only", 3, 0))
  }

  test("trimDupGrams trims exact-duplicate documents to empty") {
    val docs = Seq(
      (1L, "a b c d e f g h i"),
      (2L, "a b c d e f g h i")) // every position covered by a df-2 gram
      .toDF("doc_id", "text")
    val out = Curation.trimDupGrams(docs, "doc_id", "text", n = 8)
      .as[(Long, String, Int, Int)].collect().sortBy(_._1)
    out.foreach { r => r._2 shouldBe ""; r._3 shouldBe 9; r._4 shouldBe 9 }
  }

  test("mixtureRates computes min(1, budget*target/available) per class") {
    val docs = Seq(
      ("a", "one two three four"), ("a", "five six"),   // a: 6 tokens
      ("b", "uno dos"), ("b", "tres"))                  // b: 3 tokens
      .toDF("source", "text")
    val out = Curation.mixtureRates(docs, "source", "text",
        targets = Map("a" -> 0.5, "b" -> 0.9), budgetTokens = 10L)
      .as[(String, Long, Long, Double, Double)].collect().sortBy(_._1)
    out(0) shouldBe (("a", 2L, 6L, 0.5, 0.833333)) // 10*0.5/6
    out(1) shouldBe (("b", 2L, 3L, 0.9, 1.0))      // capped at 1
  }

  test("mixtureRates: zero-token class gets rate 0, not NaN/Inf") {
    val docs = Seq(("a", "one two"), ("b", ""), ("b", " "))
      .toDF("source", "text")
    val out = Curation.mixtureRates(docs, "source", "text",
        targets = Map("a" -> 0.5, "b" -> 0.5), budgetTokens = 10L)
      .as[(String, Long, Long, Double, Double)].collect().sortBy(_._1)
    out(1) shouldBe (("b", 2L, 0L, 0.5, 0.0))
  }

  test("linearScore: pinned hash-bucket weights, blank/null unscorable") {
    // token "a": h = 7*31+97 = 314, 314 % 4 = 2; "b": 315 % 4 = 3
    val w = Array(0.1, 0.2, 0.3, 0.4)
    val docs = Seq((1L, "a"), (2L, "a b"), (3L, ""), (4L, null))
      .toDF("doc_id", "text")
    val out = Curation.linearScore(docs, "doc_id", "text",
        dim = 4, weights = w, bias = 0.0)
      .as[(Long, Option[Double], Boolean)].collect().sortBy(_._1)
    def sig(x: Double) = BigDecimal(1.0 / (1.0 + math.exp(-x)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    out(0) shouldBe ((1L, Some(sig(0.3)), true))
    out(1) shouldBe ((2L, Some(sig(0.35)), true))
    out(2) shouldBe ((3L, None, false))
    out(3) shouldBe ((4L, None, false))
  }

  test("apportion: largest-remainder seats, remainder ties by class asc") {
    // equal weights, N=10: base 3+3+3, one seat left -> "a" (tie asc);
    // "a" has only 2 docs (capped), "c" is absent from the corpus
    val docs = (Seq.fill(2)("a") ++ Seq.fill(5)("b")).toDF("source")
    val out = Curation.apportion(docs, "source",
        weights = Map("a" -> 1L, "b" -> 1L, "c" -> 1L), totalN = 10L)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    out shouldBe Array(
      ("a", 1L, 2L, 3L, 1L, 4L, 2L),
      ("b", 1L, 5L, 3L, 1L, 3L, 3L),
      ("c", 1L, 0L, 3L, 1L, 3L, 0L))
  }

  test("apportion: exact division leaves no remainder seats") {
    val docs = Seq.fill(9)("a").toDF("source")
    val out = Curation.apportion(docs, "source",
        weights = Map("a" -> 3L, "b" -> 1L), totalN = 8L)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    out shouldBe Array(
      ("a", 3L, 9L, 6L, 0L, 6L, 6L),
      ("b", 1L, 0L, 2L, 0L, 2L, 0L))
  }

  test("tokenizerFertility: integer totals, one division, null guards") {
    val docs = Seq(
      ("en", "hello, world"),   // 2 words; subwords: hell,o,",",worl,d = 5
      ("en", "ab"),             // 1 word, 1 subword
      ("xx", ""),               // 0 words, 0 subwords
      ("yy", null))             // null text: counts skip, doc counted
      .toDF("lang", "text")
    val out = Curation.tokenizerFertility(docs, "lang", "text")
      .as[(String, Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().sortBy(_._1)
    out(0) shouldBe (("en", 2L, 3L, 6L, 14L, Some(2.0), Some(2.333333)))
    out(1) shouldBe (("xx", 1L, 0L, 0L, 0L, None, None))
    out(2) shouldBe (("yy", 1L, 0L, 0L, 0L, None, None))
  }

  test("vocabOverlap: exact Jaccard on distinct token sets") {
    val docs = Seq(
      ("a", "x y z"), ("a", "x x"),     // V_a = {x, y, z}
      ("b", "x y w"),                   // V_b = {x, y, w}
      ("c", "q"))                       // V_c disjoint
      .toDF("source", "text")
    val out = Curation.vocabOverlap(docs, "source", "text")
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    out(("a", "b")) shouldBe (("a", "b", 3L, 3L, 2L, 0.5))
    out.contains(("a", "c")) shouldBe false // no shared token: no pair row
    out.size shouldBe 1
  }

  test("tokenEntropy: hand-computed H, single-token doc yields +0.0") {
    val docs = Seq(
      (1L, "a a b"),   // H = -(2/3 ln 2/3 + 1/3 ln 1/3)
      (2L, "x"),       // H = 0 (normalized, not -0.0)
      (3L, ""))        // no tokens: absent
      .toDF("doc_id", "text")
    val out = Curation.tokenEntropy(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val h1 = r6(-((2.0 / 3) * math.log(2.0 / 3) + (1.0 / 3) * math.log(1.0 / 3)))
    out shouldBe Array((1L, 3L, 2L, h1), (2L, 1L, 1L, 0.0))
    out(1)._4.compareTo(0.0) shouldBe 0 // +0.0, not -0.0
  }

  test("quantileNormalize: Hazen percentile per class, nulls dropped") {
    val docs = Seq(
      (1L, "a", Some(0.1)), (3L, "a", Some(0.2)), (2L, "a", Some(0.3)),
      (4L, "b", Some(0.9)),           // singleton class -> quantile 0.5
      (5L, "a", None))                // null score: not rankable
      .toDF("doc_id", "source", "score")
    val out = Curation.quantileNormalize(docs, "source", "doc_id", "score")
      .as[(Long, String, Double, Long, Long, Double)].collect().sortBy(_._1)
    out shouldBe Array(
      (1L, "a", 0.1, 0L, 3L, 0.166667),
      (2L, "a", 0.3, 2L, 3L, 0.833333),
      (3L, "a", 0.2, 1L, 3L, 0.5),
      (4L, "b", 0.9, 0L, 1L, 0.5))
  }

  test("signalCorrelation: exact r = ±1, zero variance -> null") {
    val sig = Seq(
      (Some(0.1), 0.2, 0.3, 0.5),
      (Some(0.2), 0.4, 0.2, 0.5),
      (Some(0.3), 0.6, 0.1, 0.5),
      (None, 0.9, 0.9, 0.9))          // any-null row dropped (complete-case)
      .toDF("a", "b", "c", "d")
    val out = Curation.signalCorrelation(sig, Seq("a", "b", "c", "d"))
      .as[(String, String, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    out(("a", "b")) shouldBe ((3L, Some(1.0)))
    out(("a", "c")) shouldBe ((3L, Some(-1.0)))
    out(("a", "d")) shouldBe ((3L, None))
    out(("b", "c")) shouldBe ((3L, Some(-1.0)))
    out(("c", "d")) shouldBe ((3L, None))
    out.size shouldBe 6
  }

  test("signalCorrelation: split-long power sums match a BigDecimal reference exactly") {
    // values whose ×10⁶ squares exceed 2³¹ (hi half nonzero) and
    // NEGATIVE values (the arithmetic-shift + mask identity must hold
    // below zero) — r recomputed from exact BigDecimal power sums with
    // the same formula and rounding
    val rnd = new scala.util.Random(11)
    val data = (0 until 500).map { _ =>
      (BigDecimal(rnd.nextDouble() * 16 - 8)
         .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
       BigDecimal(rnd.nextDouble() * 4 - 2)
         .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val out = Curation.signalCorrelation(data.toDF("x", "y"), Seq("x", "y"))
      .as[(String, String, Long, Option[Double])].collect()
    out.length shouldBe 1
    val got = out(0)._4.get
    // exact integer reference
    val xs = data.map(d => BigDecimal(d._1 * 1e6).setScale(0,
      BigDecimal.RoundingMode.HALF_UP).toLongExact)
    val ys = data.map(d => BigDecimal(d._2 * 1e6).setScale(0,
      BigDecimal.RoundingMode.HALF_UP).toLongExact)
    val n = BigDecimal(xs.length)
    def bsum(vs: Seq[BigDecimal]) = vs.foldLeft(BigDecimal(0))(_ + _)
    val sx = bsum(xs.map(BigDecimal(_))); val sy = bsum(ys.map(BigDecimal(_)))
    val ssx = bsum(xs.map(v => BigDecimal(v) * BigDecimal(v)))
    val ssy = bsum(ys.map(v => BigDecimal(v) * BigDecimal(v)))
    val sxy = bsum(xs.zip(ys).map { case (a, b) => BigDecimal(a) * BigDecimal(b) })
    val nd = n.toDouble
    val vx = nd * ssx.toDouble - sx.toDouble * sx.toDouble
    val vy = nd * ssy.toDouble - sy.toDouble * sy.toDouble
    val expected = BigDecimal((nd * sxy.toDouble - sx.toDouble * sy.toDouble) /
        (math.sqrt(vx) * math.sqrt(vy)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got shouldBe expected
  }

  test("centroidDrift: hand-computed cosine; zero centroid yields null") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))
      .toDF("doc_id", "source")
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),  // a: sum [2, 0]
      (3L, Array(0.0f, 1.0f)),                           // b: sum [0, 1]
      (4L, Array(0.0f, 0.0f)))                           // c: zero centroid
      .toDF("vec_id", "embedding")
    val out = Curation.centroidDrift(docs, emb, "source",
        "doc_id", "vec_id", "embedding")
      .as[(String, Long, Option[Double])].collect().sortBy(_._1)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // corpus sum [2, 1]: cos(a) = 2/sqrt(5), cos(b) = 1/sqrt(5)
    out shouldBe Array(
      ("a", 2L, Some(r6(2.0 / math.sqrt(5.0)))),
      ("b", 1L, Some(r6(1.0 / math.sqrt(5.0)))),
      ("c", 1L, None))
  }

  test("blocklistGate counts words + sliding phrases, verdict at threshold") {
    val docs = Seq(
      (1L, "Bad BAD bad word"),      // 3x "bad" + 2x phrase "bad bad" = 5/4
      (2L, "clean text here"),       // 0 hits -> admitted
      (3L, ""),                      // zero tokens -> frac 0, admitted
      (4L, null))                    // null -> null diagnostics, rejected
      .toDF("doc_id", "text")
    val out = Curation.blocklistGate(docs, "doc_id", "text",
        blocklist = Seq("bad", "bad bad"), maxFrac = 0.5)
      .as[(Long, Option[Int], Option[Int], Option[Int], Option[Double], Boolean)]
      .collect().sortBy(_._1)
    out(0) shouldBe ((1L, Some(4), Some(5), Some(2), Some(1.25), false))
    out(1) shouldBe ((2L, Some(3), Some(0), Some(0), Some(0.0), true))
    out(2) shouldBe ((3L, Some(0), Some(0), Some(0), Some(0.0), true))
    out(3) shouldBe ((4L, None, None, None, None, false))
  }

  test("budgetSelect keeps the quality-ordered prefix within the budget") {
    val docs = Seq(
      (1L, "w w w", 0.9),      // 3 tokens, picked 1st  -> cum 3
      (2L, "w w w w", 0.9),    // 4 tokens, picked 2nd (id tie-break) -> 7
      (3L, "w w", 0.5),        // 2 tokens, picked 3rd -> 9
      (4L, "w w w w w", 0.4),  // 5 tokens, cum 14 > 10: cut here
      (5L, "w", 0.3))          // after the cut (monotone cum) — out
      .toDF("doc_id", "text", "score")
    val out = Curation.budgetSelect(docs, "doc_id", "text", "score",
        budgetTokens = 10L)
      .as[(Long, Double, Long, Long)].collect().sortBy(_._1)
    out shouldBe Array((1L, 0.9, 3L, 3L), (2L, 0.9, 4L, 7L), (3L, 0.5, 2L, 9L))
  }

  test("budgetSelect: null score/id are not candidates; tiny budget -> empty") {
    val docs = Seq(
      (Some(1L), "w w", Some(0.9)),
      (Some(2L), "w", None),          // unscorable
      (None, "w", Some(0.8)))         // null id
      .toDF("doc_id", "text", "score")
    Curation.budgetSelect(docs, "doc_id", "text", "score", budgetTokens = 10L)
      .count() shouldBe 1L
    Curation.budgetSelect(docs, "doc_id", "text", "score", budgetTokens = 1L)
      .count() shouldBe 0L
  }

  test("bigramCrossEntropy: hand-computed smoothed bigram surprisal") {
    val ref = Seq((100L, "a b a b")).toDF("doc_id", "text")
    val corpus = Seq((1L, "a b"), (2L, "c"), (3L, "a z")).toDF("doc_id", "text")
    val out = Curation.bigramCrossEntropy(corpus, ref, "doc_id", "text",
        alpha = 0.5)
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // ref: bigrams {a b: 2, b a: 1}, unigrams {a: 2, b: 2}, V=2
    val ce1 = r6(-math.log(2.5 / 3.0)) // "a b" seen twice
    val ce3 = r6(-math.log(0.5 / 3.0)) // "a z" unseen bigram, known prefix
    out shouldBe Array(
      (1L, 1L, Some(ce1)),
      (2L, 0L, None), // single-token doc: no bigrams
      (3L, 1L, Some(ce3)))
  }
}
