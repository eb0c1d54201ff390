package graft.functions.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{TextFunctions, UdfSpellings}

/** The native simhash40 / fingerprint40 / word_ngrams / pos_gram_hashes
  * expressions must match the kernel UDF spellings ([[UdfSpellings]])
  * exactly — these
  * feed value-checked oracle queries (q27 simhash, q38 fingerprints, q73
  * decontamination, q93 dup spans), so any divergence is a wrong answer,
  * not just a perf delta.
  */
class TextHashExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val texts: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog",
    "", "   spaced   out   ", "one", "ünïcödé MIXED case tokens here",
    "tab\tand\nnewline stay inside (space-only trim)",
    "a a a a a repeated tokens", null)

  test("simhash40 and fingerprint40 equal their kernel UDFs, nulls propagate") {
    val df = texts.toDF("text")
    val native = df.select(
        call_function("simhash40", $"text").as("s"),
        call_function("fingerprint40", $"text").as("f"))
      .as[(Option[Long], Option[Long])].collect().toSeq
    val viaUdf = df.select(
        UdfSpellings.simHash40Udf($"text").as("s"),
        UdfSpellings.fingerprint40Udf($"text").as("f"))
      .as[(Option[Long], Option[Long])].collect().toSeq
    native shouldBe viaUdf
    native.last shouldBe ((None, None)) // null text → null hashes
  }

  test("word_ngrams equals the kernel UDF; null text yields EMPTY, not null") {
    for (n <- Seq(1, 3, 8)) {
      val df = texts.toDF("text")
      val native = df.select(call_function("word_ngrams", $"text", lit(n)).as("g"))
        .as[Seq[String]].collect().toSeq
      val viaUdf = df.select(UdfSpellings.wordNgramsUdf(n)($"text").as("g"))
        .as[Seq[String]].collect().toSeq
      native shouldBe viaUdf
      native.last shouldBe Seq.empty // null text → empty array
    }
  }

  test("pos_gram_hashes equals the kernel UDF; null tokens yield EMPTY") {
    val toks = Seq(
      Some(Seq("alpha", "beta", "gamma", "delta")),
      Some(Seq("one")),
      Some(Seq.empty[String]),
      None)
    for (n <- Seq(2, 3)) {
      val df = toks.toDF("t")
      val native = df.select(call_function("pos_gram_hashes", $"t", lit(n)).as("h"))
        .as[Seq[Long]].collect().toSeq
      val viaUdf = df.select(UdfSpellings.posGramHashesUdf(n)($"t").as("h"))
        .as[Seq[Long]].collect().toSeq
      native shouldBe viaUdf
      native.last shouldBe Seq.empty
    }
  }

  test("stopword_ratio and quality_score equal the HOF formulations; null shapes pinned") {
    val sw = TextFunctions.LangStopwords("en")
    val df = texts.toDF("text")
    val native = df.select(
        TextFunctions.stopwordRatio($"text", sw).as("r"),
        TextFunctions.qualityScore($"text", sw).as("q"))
      .as[(Option[Double], Double)].collect().toSeq
    val viaHof = df.select(
        UdfSpellings.stopwordRatioHof($"text", sw).as("r"),
        round(UdfSpellings.qualityScoreHof($"text", sw), 6).as("q"))
      .as[(Option[Double], Option[Double])].collect().toSeq
    native.map(_._1) shouldBe viaHof.map(_._1)
    // quality kernel: null text → 0.5 (the HOF nulls); non-null rows equal
    native.zip(viaHof).foreach { case ((_, qn), (_, qh)) =>
      qh match {
        case Some(v) => qn shouldBe v
        case None => qn shouldBe 0.5
      }
    }
    native.last._1 shouldBe None // null text → null ratio
  }

  test("lang_id equals the kernel-UDF route (forced via a copied profile map)") {
    val df = ("el la de que y en un texto" +: texts).toDF("text")
    val native = df.select(TextFunctions.langIdHeuristic($"text").as("l"))
      .as[String].collect().toSeq
    // a structurally-equal but non-eq map takes the kernel-UDF route
    val copied = TextFunctions.LangStopwords.map(identity)
    val viaUdf = df.select(TextFunctions.langIdHeuristic($"text", copied).as("l"))
      .as[String].collect().toSeq
    native shouldBe viaUdf
    native.head shouldBe "es"
    native.last shouldBe "und" // null text
  }

  test("repetition_stats and gopher_stats equal their kernel UDFs field by field") {
    val df = ("buy now buy now buy now limited offer" +:
      "- bullet one\n- bullet two\nprose line..." +: texts).toDF("text")
    val nativeR = df.select(call_function("repetition_stats", $"text").as("r"))
      .select($"r._1", $"r._2", $"r._3")
      .as[(Option[Double], Option[String], Option[Double])].collect().toSeq
    val udfR = df.select(UdfSpellings.repetitionStatsUdf($"text").as("r"))
      .select($"r._1", $"r._2", $"r._3")
      .as[(Option[Double], Option[String], Option[Double])].collect().toSeq
    nativeR shouldBe udfR
    nativeR.last shouldBe ((None, None, None)) // null text → null struct

    val fields = Seq("n_words", "mean_word_len", "symbol_ratio",
      "bullet_frac", "ellipsis_frac", "alpha_frac")
    val nativeG = df.select(call_function("gopher_stats", $"text").as("g"))
      .select(fields.map(f => col(s"g.$f")): _*).collect().map(_.toSeq).toSeq
    val udfG = df.select(UdfSpellings.gopherStatsUdf($"text").as("g"))
      .select(fields.map(f => col(s"g.$f")): _*).collect().map(_.toSeq).toSeq
    nativeG shouldBe udfG
    nativeG.head.head shouldBe 8 // n_words of the first doc
  }

  test("linear_score equals the kernel UDF, nulls and blanks stay null") {
    val rnd = new scala.util.Random(5)
    val weights = Array.fill(64)(rnd.nextGaussian() * 0.2)
    val df = texts.toDF("text")
    val native = df.select(call_function("linear_score", $"text",
        array(weights.map(w => lit(w)).toIndexedSeq: _*), lit(0.1)).as("s"))
      .as[Option[Double]].collect().toSeq
    val viaUdf = df.select(
        UdfSpellings.linearScoreUdf(64, weights, 0.1)($"text").as("s"))
      .as[Option[Double]].collect().toSeq
    native shouldBe viaUdf
    native.last shouldBe None    // null text
    native(1) shouldBe None      // empty text
  }

  test("rebuild_trimmed equals the UDF walk on cover edge shapes") {
    val cases = Seq(
      (Some(Seq("a", "b", "c", "d")), Some(Seq(1, 2))),      // middle drop
      (Some(Seq("a", "b", "c")), Some(Seq(0, 1, 2))),        // full drop
      (Some(Seq("a", "b")), Some(Seq.empty[Int])),           // empty cover
      (Some(Seq("", "a", "b")), None),                       // null cover + leading empty
      (Some(Seq("", "a")), Some(Seq(1))),                    // walk after leading empty
      (None, None))                                          // null tokens
    val df = cases.toDF("t", "cov")
    val native = df.select(call_function("rebuild_trimmed", $"t", $"cov").as("x"))
      .as[Option[String]].collect().toSeq
    val viaUdf = {
      val u = udf((toks: Seq[String], cov: Seq[Int]) =>
        if (toks == null) null
        else if (cov == null || cov.isEmpty) toks.mkString(" ")
        else {
          val sb = new java.lang.StringBuilder
          var ci = 0
          var i = 0
          while (i < toks.length) {
            if (ci < cov.length && cov(ci) == i) ci += 1
            else {
              if (sb.length > 0) sb.append(' ')
              sb.append(toks(i))
            }
            i += 1
          }
          sb.toString
        })
      df.select(u($"t", $"cov").as("x")).as[Option[String]].collect().toSeq
    }
    native shouldBe viaUdf
    native(3) shouldBe Some(" a b") // mkString keeps the leading separator
    native(4) shouldBe Some("")     // walk keeps the empty survivor alone
    native.last shouldBe None
  }

  test("rebuild_trimmed_spans + spans_covered equal the covered-position spelling") {
    // the q101 span route must be bit-identical to the old spelling that
    // exploded every covered position: expand starts -> covered set ->
    // rebuild_trimmed / set size, vs the span kernels straight off starts
    val n = 3
    val cases = Seq(
      (Some(Seq("a", "b", "c", "d", "e", "f")), Some(Seq(1))),       // one span
      (Some(Seq("a", "b", "c", "d", "e", "f")), Some(Seq(0, 1))),    // overlap
      (Some(Seq("a", "b", "c", "d", "e", "f", "g")), Some(Seq(0, 3))), // adjacent merge
      (Some(Seq("a", "b", "c", "d", "e", "f", "g", "h")), Some(Seq(0, 5))), // disjoint
      (Some(Seq("a", "b", "c")), Some(Seq(0))),                      // full coverage
      (Some(Seq("a", "b")), Some(Seq.empty[Int])),                   // empty starts
      (Some(Seq("", "a", "b")), None),                               // null starts + leading empty
      (None, None))                                                  // null tokens
    val df = cases.toDF("t", "st")
    val viaSpans = df.select(
        call_function("rebuild_trimmed_spans", $"t", $"st", lit(n)).as("x"),
        call_function("spans_covered", $"st", lit(n)).as("r"))
      .as[(Option[String], Int)].collect().toSeq
    val viaCovered = df.select(
        call_function("rebuild_trimmed", $"t",
          sort_array(array_distinct(flatten(transform($"st",
            s => sequence(s, s + (n - 1))))))).as("x"),
        coalesce(org.apache.spark.sql.functions.size(
          array_distinct(flatten(transform($"st",
            s => sequence(s, s + (n - 1)))))), lit(0)).as("r"))
      .as[(Option[String], Int)].collect().toSeq
    viaSpans shouldBe viaCovered
    // and the test-side UDF spellings match the native expressions
    val viaUdf = df.select(
        UdfSpellings.rebuildTrimmedSpansUdf(n)($"t", $"st").as("x"),
        UdfSpellings.spansCoveredUdf(n)($"st").as("r"))
      .as[(Option[String], Int)].collect().toSeq
    viaSpans shouldBe viaUdf
    viaSpans(4) shouldBe ((Some(""), 3))   // fully trimmed
    viaSpans.last._1 shouldBe None         // null tokens propagate
  }

  test("window_pairs equals the kernel UDF with multiplicity and skip rules") {
    val toks = Seq(
      Some(Seq("a", "b", "c", "a")),
      Some(Seq("x", "x", "y")),  // equal-token pairs skipped
      Some(Seq("solo")),
      Some(Seq.empty[String]),
      None)
    for (w <- Seq(1, 2, 5)) {
      val df = toks.toDF("t")
      val native = df.select(call_function("window_pairs", $"t", lit(w)).as("p"))
        .as[Seq[String]].collect().toSeq
      val viaUdf = df.select(UdfSpellings.windowPairsUdf(w)($"t").as("p"))
        .as[Seq[String]].collect().toSeq
      native shouldBe viaUdf
      native.last shouldBe Seq.empty
    }
  }

  test("linear_score over a NON-nullable text column still nulls blanks (label false)") {
    // lit() is non-nullable: if the expression inherited child nullability
    // the optimizer would fold the label's coalesce away and a blank doc
    // would get a null label instead of false
    val df = spark.range(2).toDF("doc_id")
      .withColumn("text",
        when($"doc_id" === 0, lit("   ")).otherwise(lit("some quality text")))
      .select($"doc_id", coalesce($"text", lit("x")).as("text")) // non-nullable
    df.schema("text").nullable shouldBe false
    val out = graft.operators.Curation.linearScore(
        df, "doc_id", "text", dim = 8, weights = Array.fill(8)(0.3), bias = 0.0)
      .orderBy("doc_id")
      .select($"score", $"label").as[(Option[Double], Boolean)].collect().toSeq
    out.head shouldBe ((None, false)) // blank: null score, label FALSE not null
    out(1)._1.isDefined shouldBe true
  }

  test("a parquet-backed scan keeps all four in one codegen span, no UDFs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_th").toString
    (0 until 20).map(i => s"document number $i with words")
      .toDF("text").write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir).select(
      call_function("simhash40", $"text").as("s"),
      call_function("fingerprint40", $"text").as("f"),
      call_function("word_ngrams", $"text", lit(3)).as("g"))
    val plan = scan.queryExecution.executedPlan.toString
    plan should not include "UDF"
    plan should include("*(1) Project")
    Seq("simhash40", "fingerprint40", "word_ngrams").foreach(plan should include(_))
  }
}
