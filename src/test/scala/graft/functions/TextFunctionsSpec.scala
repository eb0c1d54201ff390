package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount / meanTokenLength on normal, blank, and multi-space text") {
    val df = Seq("hello world", "  ", "", "a  b\tc").toDF("t")
    df.select(TextFunctions.tokenCount(col("t"))).as[Int].collect() shouldBe
      Array(2, 0, 0, 3)
    val mtl = df.select(TextFunctions.meanTokenLength(col("t"))).as[Double].collect()
    mtl(0) shouldBe 5.0
    mtl(1) shouldBe 0.0
    mtl(3) shouldBe 1.0
  }

  test("charRatio counts regex-class characters") {
    val df = Seq("a.b.c", "abc", "").toDF("t")
    val r = df.select(TextFunctions.charRatio(col("t"), "[.]")).as[Double].collect()
    r(0) shouldBe 0.4 +- 1e-12
    r(1) shouldBe 0.0
    r(2) shouldBe 0.0
  }

  test("CharClassSpec matches Java regex on every BMP code point (+ astral samples)") {
    // every class the engine ships plus grammar-edge synthetics —
    // exhaustive over the BMP (surrogates excluded: not code points),
    // sampled over astral planes
    val classes = Seq("[^A-Za-z0-9\\s]", "[0-9]", "[.,!?;:]", "[.]",
      "[\\d]", "[\\w]", "[a-fA-F0-9]", "[-abc]", "[abc-]", "[^\\w\\s]",
      "[\\n\\t]", "[é∑日]", "[à-ÿ]")
    for (cls <- classes) {
      val spec = CharClassSpec.parse(cls).getOrElse(
        fail(s"parser rejected supported class $cls"))
      val p = java.util.regex.Pattern.compile(cls)
      val astral = Seq(0x10000, 0x1F600, 0x2070E, 0x10FFFF)
      val cps = (0 until 0xD800) ++ (0xE000 to 0xFFFF) ++ astral
      for (cp <- cps) {
        val s = new String(Character.toChars(cp))
        withClue(f"$cls cp=U+$cp%04X: ") {
          spec.matchesCp(cp) shouldBe p.matcher(s).matches()
        }
      }
    }
    // outside the subset → None (the caller keeps the regex engine)
    for (bad <- Seq("[a-z&&[^f]]", "[[:alpha:]]", "[\\S]", "[\\p{L}]",
      "[a-b-c]", "abc", "[]", "[\\x41]", "[\\s-z]"))
      withClue(s"$bad: ") { CharClassSpec.parse(bad) shouldBe None }
  }

  test("native char_class_ratio is bit-identical to the regexp_replace spelling") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abzAZ09 .,!?;:\t\n√é∑日😀-_&^]["
    val texts = Seq("", " ", "a", "....", "æøå 123", "a b",
      new String(Character.toChars(0x1F600)) * 3) ++
      (0 until 60).map(_ => Seq.fill(1 + rnd.nextInt(80))(
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = texts.toDF("t")
    for (cls <- Seq("[^A-Za-z0-9\\s]", "[0-9]", "[.,!?;:]", "[é∑日]")) {
      val both = df.select(
        TextFunctions.charRatio(col("t"), cls).as("native"),
        TextFunctions.charRatioRegex(col("t"), cls).as("regex")).collect()
      // the plan must actually use the native expression, not fall back
      df.select(TextFunctions.charRatio(col("t"), cls))
        .queryExecution.analyzed.toString should include("char_class_ratio")
      both.zip(texts).foreach { case (r, t) =>
        withClue(s"$cls on '$t': ") {
          // bit-identical, not approximately equal — the oracle hashes
          java.lang.Double.doubleToLongBits(r.getDouble(0)) shouldBe
            java.lang.Double.doubleToLongBits(r.getDouble(1))
        }
      }
    }
    // null text → null on both spellings
    val nulls = Seq[String](null).toDF("t")
      .select(TextFunctions.charRatio(col("t"), "[0-9]").as("n"),
        TextFunctions.charRatioRegex(col("t"), "[0-9]").as("r")).collect()
    nulls(0).isNullAt(0) shouldBe true
    nulls(0).isNullAt(1) shouldBe true
  }

  test("stopwordRatio is case-insensitive fraction of stopword tokens") {
    val df = Seq("The cat and THE dog").toDF("t")
    val r = df.select(TextFunctions.stopwordRatio(col("t"), Seq("the", "and")))
      .as[Double].collect()
    r(0) shouldBe 0.6 +- 1e-12
  }

  test("qualityScore stays within [0,1] and ranks prose above digit soup") {
    val df = Seq(
      "The quick brown fox jumps over the lazy dog and it is a fine day for that.",
      "919293 !!!! 848586 #### 121212 $$$$"
    ).toDF("t")
    val s = df.select(TextFunctions.qualityScore(col("t"), TextFunctions.LangStopwords("en")))
      .as[Double].collect()
    all(s) should (be >= 0.0 and be <= 1.0)
    s(0) should be > s(1)
  }

  test("stopwordRatio / qualityScore kernels are bit-identical to the HOF formulation") {
    val sw = TextFunctions.LangStopwords("en")
    val texts: Seq[String] = Seq(
      null, "", " ", "  \t ", "\t", "the", "THE the The", "a  b\tc", " the cat ",
      "tab\tseparated\tthe", "line\nbreaks\nthe and of", "punct!!! ... ???",
      "1234 5678 the 90", "mixed 12ab!? the", "é è ü the naïve café",
      "😀 emoji the 😁", // astral: code-point vs UTF-16 length
      "ends with space ", " starts", "double  space", "x" * 600,
      "the and of to in " * 40, "only-punct-,.;:!", "\n\n\n", "the nbsp")
    val df = texts.toDF("t")
    val rows = df.select(
      TextFunctions.stopwordRatio(col("t"), sw).as("k1"),
      UdfSpellings.stopwordRatioHof(col("t"), sw).as("h1"),
      TextFunctions.qualityScore(col("t"), sw).as("k2"),
      UdfSpellings.qualityScoreHof(col("t"), sw).as("h2")).collect()
    rows.foreach { r =>
      Seq((0, 1), (2, 3)).foreach { case (k, h) =>
        r.isNullAt(k) shouldBe r.isNullAt(h)
        if (!r.isNullAt(k))
          java.lang.Double.doubleToRawLongBits(r.getDouble(k)) shouldBe
            java.lang.Double.doubleToRawLongBits(r.getDouble(h))
      }
    }
  }

  test("langIdHeuristic picks the dominant stopword language, und when none") {
    val df = Seq(
      "the cat is in the house and it is warm",
      "el perro y el gato en la casa",
      "zxcv qwer asdf"
    ).toDF("t")
    df.select(TextFunctions.langIdHeuristic(col("t"))).as[String].collect() shouldBe
      Array("en", "es", "und")
  }

  test("fingerprint is deterministic, normalization-insensitive, bounded < 2^40") {
    val df = Seq("Hello   World", "hello world", "hello worlds").toDF("t")
    val f = df.select(TextFunctions.fingerprint(col("t"))).as[Long].collect()
    f(0) shouldBe f(1) // case + whitespace normalization
    f(0) should not be f(2)
    all(f) should (be >= 0L and be < TextFunctions.FingerprintMod)
  }

  test("subwordCount splits long words and counts digits/punct singly") {
    val df = Seq("hello, extraordinary 42").toDF("t")
    // hello -> hell+o (2), "," (1), extraordinary -> 13 chars -> 4 chunks (extr aord inar y), 4+2 digits
    df.select(TextFunctions.subwordCount(col("t"))).as[Int].collect()(0) shouldBe 9
  }

  test("urlHost normalizes case, strips www. and port, rejects non-URLs") {
    val df = Seq(
      "https://WWW.Example.COM:8080/p?q=1",
      "http://sub.a.example.org/x",
      "https://www.www.example.net/", // only ONE www. stripped
      "not a url").toDF("u")
    val out = df.select(TextFunctions.urlHost(col("u"))).as[Option[String]].collect()
    out shouldBe Array(Some("example.com"), Some("sub.a.example.org"),
      Some("www.example.net"), None)
  }

  test("registrableDomain takes the last two labels, single-label passthrough") {
    val df = Seq("sub.a.example.org", "example.com", "localhost").toDF("h")
    val out = df.select(TextFunctions.registrableDomain(col("h"))).as[String].collect()
    out shouldBe Array("example.org", "example.com", "localhost")
  }

  test("gopherStats: line fractions and alpha/symbol ratios on a crafted doc") {
    val text = "- bullet one two\nplain line here...\nlast 42 words"
    val df = Seq(text).toDF("t")
    val r = df.select(TextFunctions.gopherStats(col("t")): _*).collect()(0)
    r.getAs[Int]("n_words") shouldBe 10
    r.getAs[Double]("bullet_frac") shouldBe 1.0 / 3 +- 1e-6
    r.getAs[Double]("ellipsis_frac") shouldBe 1.0 / 3 +- 1e-6
    // "-" and "42" carry no letters → 8/10 alphabetic words
    r.getAs[Double]("alpha_frac") shouldBe 0.8 +- 1e-6
    // one "..." among 10 words
    r.getAs[Double]("symbol_ratio") shouldBe 0.1 +- 1e-6
  }

  test("normalizeText: CRLF, control chars, tabs, space runs, blank runs, edges") {
    val messy = " a\tb\r\nc  d \n\n\n\ne "
    val df = Seq(messy).toDF("t")
    val out = df.select(TextFunctions.normalizeText(col("t"))).as[String].head()
    out shouldBe "a b\nc d\n\ne"
  }

  test("normalizeText is idempotent and blank-collapsing") {
    val df = Seq("a b\nc d\n\ne", "\r\n \t \r\n", "").toDF("t")
    val out = df.select(TextFunctions.normalizeText(col("t"))).as[String].collect()
    out shouldBe Array("a b\nc d\n\ne", "", "")
  }
}
