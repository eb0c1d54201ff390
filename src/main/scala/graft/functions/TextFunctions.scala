package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for the training-data pipeline surface: token
  * counting, quality scoring, language-ID heuristic, document
  * fingerprinting. Cheap transforms are plain Catalyst expressions; the
  * per-document hot loops are JVM kernels served through the native
  * expressions [[graft.GraftExtensions]] registers (`call_function`), so
  * a session that analyzes these Columns must install the extension.
  */
object TextFunctions {

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** Whitespace tokens as an array (blank-safe). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Deterministic text normalization for hashing/dedup pipelines — the
    * canonical form every content hash ([[fingerprint]], MinHash, SimHash)
    * should be computed over, so cosmetic whitespace/control-char variants
    * of the same document collapse to one hash. Steps, in order: CRLF/CR →
    * LF; control characters other than newline/tab stripped; tabs →
    * spaces; space runs collapsed; line-edge spaces trimmed; 3+ blank
    * lines collapsed to one blank line; outer whitespace trimmed. A pure
    * regexp_replace chain — codegen'd, no shuffle, engine-portable (every
    * pattern is plain RE2).
    */
  def normalizeText(text: Column): Column = {
    val crlf = regexp_replace(text, "\r\n?", "\n")
    val ctrl = regexp_replace(crlf, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val tabs = regexp_replace(ctrl, "\t", " ")
    val spaces = regexp_replace(tabs, " {2,}", " ")
    val edges = regexp_replace(spaces, " *\n *", "\n")
    val blanks = regexp_replace(edges, "\n{3,}", "\n\n")
    regexp_replace(blanks, "^[\n ]+|[\n ]+$", "")
  }

  /** BPE-ish subword count: word chunks of ≤4 chars + digits + punctuation
    * each count as one token — a cheap deterministic stand-in for a real
    * tokenizer's token count.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Ratio of characters in `text` matching regex `charClass` (e.g.
    * "[.,!?;:]"); 0 for empty text; null text → null.
    *
    * Classes inside [[CharClassSpec]]'s supported subset route to the
    * native `char_class_ratio` expression — ONE code-point pass, no
    * replaced-string build; anything else keeps the regexp_replace
    * spelling (identical values: both divide the same two exact integer
    * counts once). The regex
    * double-`length` spelling was q139's per-row cost at 10× — two full
    * regex replaces + result strings per document (round-14 receipts in
    * PLANS.md).
    */
  def charRatio(text: Column, charClass: String): Column =
    if (CharClassSpec.parse(charClass).isDefined)
      call_function("char_class_ratio", text, lit(charClass))
    else charRatioRegex(text, charClass)

  /** The regexp_replace formulation of [[charRatio]] — the fallback for
    * classes outside the compiled subset and the spec's equivalence
    * anchor.
    */
  private[functions] def charRatioRegex(text: Column, charClass: String): Column =
    when(length(text) === 0, 0.0).otherwise(
      (length(text) - length(regexp_replace(text, charClass, ""))).cast("double") /
        length(text))

  /** [[charRatio]]'s per-row kernel over a non-null UTF8String — the
    * native `char_class_ratio` expression's entry point. One code-point
    * scan; the ratio divides the SAME two exact integers the regex
    * spelling divides (matching count = length − length(after-removal)),
    * so the doubles are bit-identical.
    */
  def charClassRatioData(text: org.apache.spark.unsafe.types.UTF8String,
                         spec: CharClassSpec): Double = {
    val s = text.toString
    val n = s.length
    if (n == 0) return 0.0
    var i = 0
    var total = 0
    var hits = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      total += 1
      if (spec.matchesCp(cp)) hits += 1
      i += Character.charCount(cp)
    }
    hits.toDouble / total
  }

  /** Mean token length (0 for blank). */
  def meanTokenLength(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
  }

  /** Fraction of tokens that appear in `stopwords` (lower-cased compare).
    *
    * JVM kernel rather than the `filter`/`array_contains` HOF pair: HOFs
    * are CodegenFallback — an interpreted expression tree per token ×
    * stopword — while the kernel tokenizes once and does hash-set
    * membership per token (the [[langIdHeuristic]] lesson; receipts in
    * PLANS.md). The bit-equivalence spec keeps the SQL formulation as
    * its oracle.
    */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    call_function("stopword_ratio", text, stopwordsArray(stopwords))

  // an empty list must still present as array<string>: a bare array()
  // is array<null> and the constant-arg builder rightly rejects it
  private def stopwordsArray(stopwords: Seq[String]): Column =
    if (stopwords.isEmpty) array().cast("array<string>")
    else array(stopwords.map(lit): _*)

  /** [[stopwordRatioKernel]] over a non-null UTF8String — the native
    * `stopword_ratio` expression's per-row entry point.
    */
  def stopwordRatioData(text: org.apache.spark.unsafe.types.UTF8String,
                        sw: Set[String]): Double =
    stopwordRatioKernel(text.toString, sw).doubleValue()

  /** Kernel for [[stopwordRatio]] — replicates the SQL token stream
    * exactly: space-only trim (SQL `trim`, not Java trim), `\s+` split
    * with limit −1 (edge empties kept, as Spark `split` does),
    * `Locale.ROOT` lower before the set probe. Null text → null (the HOF's
    * null propagation), blank → 0.0.
    */
  private[functions] def stopwordRatioKernel(text: String,
                                             sw: Set[String]): java.lang.Double = {
    if (text == null) return null
    val trimmed = HashKernels.trimSpaces(text)
    if (trimmed.isEmpty) return 0.0
    val toks = trimmed.split("\\s+", -1)
    var hits = 0
    var i = 0
    while (i < toks.length) {
      if (sw.contains(toks(i).toLowerCase(java.util.Locale.ROOT))) hits += 1
      i += 1
    }
    hits.toDouble / toks.length
  }

  /** Composite quality score in [0,1]: rewards moderate length and prose-like
    * stopword density, penalizes punctuation/digit soup. Deterministic and
    * documented so downstream filters are reproducible.
    *
    * JVM kernel for the same reason as [[stopwordRatio]] (the stopword
    * HOF dominated the scan cost of every quality-scored query); the
    * equivalence spec keeps the SQL formulation as its oracle. The kernel
    * mirrors SQL semantics term by term: `length()` counts CODE POINTS
    * (not UTF-16 units — `codePointCount`), the char ratios run the same
    * Java regex `regexp_replace` uses, the additions associate
    * left-to-right as the Column expression does, and the final 6-dp round is the oracle-exact [[Rounding.droundDouble]] (matching
    * the oracle-exact Column `round` of the SQL formulation).
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    call_function("quality_score", text, stopwordsArray(stopwords))

  /** [[qualityScoreKernel]] over a possibly-null UTF8String (null → 0.5,
    * the kernel's contract) — the native `quality_score` entry point.
    */
  def qualityScoreData(text: org.apache.spark.unsafe.types.UTF8String,
                       sw: Set[String]): Double =
    qualityScoreKernel(if (text == null) null else text.toString, sw)

  private[functions] def qualityScoreKernel(text: String,
                                            sw: Set[String]): java.lang.Double = {
    // null text: the Column formulation does NOT return null — `least`
    // skips null operands, so the len/stop terms collapse to 1.0 and the
    // punct/digit penalties to 0.0: exactly 0.5. Faithfully replicated
    // (callers that want null-on-null guard outside, as Curation does).
    if (text == null) return 0.5
    // One code-point pass replaces two regex replaceAll passes (each of
    // which allocated a stripped copy of the text): for the two FIXED
    // classes here, membership is a char-range test. `[^A-Za-z0-9\s]`
    // matches any code point outside ASCII alnum + Java regex \s
    // ([ \t\n\x0B\f\r] without UNICODE_CHARACTER_CLASS) — astral included,
    // exactly as Pattern.matcher iterates code points. Bit-equivalence vs
    // the regex/HOF formulation is spec-pinned (TextFunctionsSpec).
    var i = 0
    var len = 0
    var punctN = 0
    var digitN = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      len += 1
      val isDigit = cp >= '0' && cp <= '9'
      val isAlpha = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')
      val isWs = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (isDigit) digitN += 1
      else if (!isAlpha && !isWs) punctN += 1
      i += Character.charCount(cp)
    }
    val lenScore = math.min(len / 500.0, 1.0)
    val punct = if (len == 0) 0.0 else punctN.toDouble / len
    val digits = if (len == 0) 0.0 else digitN.toDouble / len
    val stop: Double = stopwordRatioKernel(text, sw)
    val raw = 0.25 * lenScore + 0.25 * math.min(stop * 4.0, 1.0) +
      0.25 * (1.0 - math.min(punct * 5.0, 1.0)) +
      0.25 * (1.0 - math.min(digits * 5.0, 1.0))
    Rounding.droundDouble(raw, 6)
  }

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Public common-word lists; extend per deployment.
    */
  val LangStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"))

  /** Language-ID heuristic: the language whose stopword list hits the most
    * tokens; "und" (undetermined) when nothing hits; ties go to the
    * lexicographically largest language code (the `array_max` ordering of
    * the original HOF formulation, preserved bit-for-bit).
    *
    * JVM kernel rather than HOFs: `filter(toks, t => array_contains(...))`
    * per language is CodegenFallback — an interpreted expression tree per
    * token × language. The kernel tokenizes once and does hash-set
    * membership per token (q25 at sf0.1: 1.38 s → see PLANS.md).
    */
  def langIdHeuristic(text: Column,
                      langs: Map[String, Seq[String]] = LangStopwords): Column =
    // the native expression carries the DEFAULT profile set; custom maps
    // (a per-deployment extension point) stay on the kernel UDF
    if (langs eq LangStopwords)
      call_function("lang_id", text)
    else {
      val ordered = langs.toSeq.sortBy(_._1).map { case (l, ws) => (l, ws.toSet) }
      val f = udf((s: String) => langIdKernel(s, ordered))
      f(text)
    }

  private lazy val defaultOrderedLangs: Seq[(String, Set[String])] =
    LangStopwords.toSeq.sortBy(_._1).map { case (l, ws) => (l, ws.toSet) }

  /** [[langIdKernel]] with the default profiles over a possibly-null
    * UTF8String (null → "und") — the native `lang_id` entry point.
    */
  def langIdData(text: org.apache.spark.unsafe.types.UTF8String):
      org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      langIdKernel(if (text == null) null else text.toString, defaultOrderedLangs))

  /** Kernel for [[langIdHeuristic]]: `langs` ordered ascending by code so
    * `>=` keeps the later (larger) code on hit ties, matching array_max.
    * Null/blank text → "und" (the HOF's null hits never exceed 0).
    */
  private[functions] def langIdKernel(text: String,
                                      langs: Seq[(String, Set[String])]): String = {
    if (text == null) return "und"
    val trimmed = text.trim
    if (trimmed.isEmpty) return "und"
    // Locale.ROOT: locale-sensitive lowercasing (tr-TR dotless ı) would
    // diverge from the locale-independent Spark lower() this replaced
    val toks = trimmed.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    var best = "und"
    var bestHits = 0
    langs.foreach { case (lang, set) =>
      var h = 0
      var i = 0
      while (i < toks.length) {
        if (set.contains(toks(i))) h += 1
        i += 1
      }
      if (h > 0 && h >= bestHits) { best = lang; bestHits = h }
    }
    best
  }

  /** C13 camera-size classifier parse (rca_data_tools/qaqc/visual_data.py:
    * 26-37): human-readable size string ("1.2 MB", "800 KB", "2 GB") →
    * megabytes as double; null when no unit matches.
    */
  /* NOTE: this parser implements q45's synthetic "n.n KB|MB|GB" contract
   * (binary multipliers, spaced two-letter units). The faithful
   * humanfriendly port for camera-archive sizes ("2.5M", decimal units,
   * case-insensitive) is [[graft.operators.CameraQaqc.sizeMb]]. */
  def parseHumanSizeMb(s: Column): Column = {
    val num = regexp_extract(s, "([0-9]+\\.?[0-9]*)", 1).cast("double")
    val unit = regexp_extract(s, "(KB|MB|GB)\\s*$", 1)
    when(unit === "KB", num / 1024.0)
      .when(unit === "MB", num)
      .when(unit === "GB", num * 1024.0)
  }

  /** Distinct word n-grams of the normalized text (lower + trim + `\s+`
    * split), joined with single spaces — the decontamination shingle unit.
    * Texts with fewer than `n` tokens yield an empty array; null text too.
    *
    * JVM kernel for the same reason as [[fingerprint]]: the HOF spelling
    * (`transform(sequence(...), i -> concat_ws(...))`) is CodegenFallback,
    * interpreted per gram — this is a per-document hot loop on a corpus
    * scan. Served by the native `word_ngrams` expression.
    */
  def wordNgramsCol(c: Column, n: Int): Column =
    call_function("word_ngrams", c, lit(n))

  /** [[wordNgramsKernel]] over a UTF8String (null → empty), returning
    * Catalyst ArrayData — the native `word_ngrams` expression's per-row
    * entry point.
    */
  def wordNgramsData(text: org.apache.spark.unsafe.types.UTF8String,
                     n: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      wordNgramsKernel(if (text == null) null else text.toString, n)
        .map(s => org.apache.spark.unsafe.types.UTF8String.fromString(s))
        .toIndexedSeq)

  private[graft] def wordNgramsKernel(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty[String]
    // SQL-trim semantics (spaces only — Java trim also strips \t\n, which
    // the DuckDB oracle's trim() does not) and Locale.ROOT lowercase, the
    // same normalization contract as HashKernels.fingerprint40
    var lo = 0
    var hi = text.length
    while (lo < hi && text.charAt(lo) == ' ') lo += 1
    while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
    val t = text.substring(lo, hi).toLowerCase(java.util.Locale.ROOT)
    if (t.isEmpty) return Array.empty[String]
    // limit -1 KEEPS trailing empty tokens, matching both Spark's split
    // and DuckDB's regexp_split_to_array on trailing non-space whitespace
    // (Java's default limit 0 silently drops them)
    val toks = t.split("\\s+", -1)
    if (toks.length < n) return Array.empty[String]
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[String](seen.size)
    seen.toArray(out)
    out
  }

  /** PII / link indicators for pretraining redaction filters: counts of
    * email addresses, URLs, and NANP-style phone numbers. Deliberately
    * simple patterns with identical semantics under Java regex and RE2 so
    * the counts are engine-portable (oracle-checkable).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** PII redaction — the acting form of [[piiCounts]]: emails, then URLs,
    * then phone numbers replaced by typed placeholders, in that fixed
    * order (the order is part of the contract: an email inside a URL is
    * redacted first and the URL match then swallows the placeholder —
    * identical on both engines because the order is identical). Null
    * propagates. Pure regexp chain, zero shuffle, scan-rate.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        UrlRe, "<URL>"),
      PhoneRe, "<PHONE>")

  /** (n_email, n_url, n_phone) columns for `text`; null text → null
    * counts (explicit guard — `size` of a null array is -1 or null
    * depending on ANSI/legacy settings, and the oracle's `len` is NULL).
    */
  def piiCounts(text: Column): Seq[Column] = Seq(
    ("n_email", EmailRe), ("n_url", UrlRe), ("n_phone", PhoneRe)).map {
    case (name, re) =>
      when(text.isNotNull,
        size(regexp_extract_all(text, lit(re), lit(0)))).as(name)
  }

  /** Repetition statistics — the Gopher/C4-style repetition quality
    * filters: `(dup_token_frac, top_bigram, top_bigram_frac)` where
    * dup_token_frac = 1 − distinct/total tokens, top_bigram is the most
    * frequent word 2-gram (ties to the lexicographically smallest), and
    * top_bigram_frac = its occurrences × its character length / the RAW
    * text length (the "fraction of characters in the most common 2-gram"
    * rule). Fewer than 2 tokens → (dup, null, 0.0); blank → all-zero with
    * null bigram; null text → null struct (the oracle's NULL
    * propagation). Character counts are CODEPOINTS (SQL `length()`
    * parity). Same normalization contract as [[wordNgramsKernel]]; JVM
    * kernel for the usual CodegenFallback reason, served by the native
    * `repetition_stats` expression. Struct fields are `_1/_2/_3` (a
    * tuple encoding).
    */
  def repetitionStats(text: Column): Column =
    call_function("repetition_stats", text)

  /** [[repetitionStatsKernel]] over a possibly-null UTF8String, returning
    * a Catalyst struct row — the native `repetition_stats` entry point.
    */
  def repetitionStatsData(text: org.apache.spark.unsafe.types.UTF8String):
      org.apache.spark.sql.catalyst.InternalRow = {
    val r = repetitionStatsKernel(if (text == null) null else text.toString)
    if (r == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](r._1,
        if (r._2 == null) null
        else org.apache.spark.unsafe.types.UTF8String.fromString(r._2),
        r._3))
  }

  private[functions] def repetitionStatsKernel(
      text: String): (Double, String, Double) = {
      // null text → null struct (the oracle's NULL propagation)
      if (text == null) null
      else {
        var lo = 0
        var hi = text.length
        while (lo < hi && text.charAt(lo) == ' ') lo += 1
        while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
        val t = text.substring(lo, hi).toLowerCase(java.util.Locale.ROOT)
        if (t.isEmpty) (0.0, null: String, 0.0)
        else {
          // limit -1: keep trailing empty tokens (Spark/DuckDB split
          // semantics); a nonempty string always yields ≥ 1 token, so the
          // fraction below cannot divide by zero
          val toks = t.split("\\s+", -1)
          val distinct = new java.util.HashSet[String]()
          toks.foreach(distinct.add)
          val dupFrac = 1.0 - distinct.size.toDouble / toks.length
          if (toks.length < 2) (dupFrac, null: String, 0.0)
          else {
            val counts = new java.util.HashMap[String, Int]()
            var i = 0
            while (i < toks.length - 1) {
              val g = toks(i) + " " + toks(i + 1)
              counts.merge(g, 1, Integer.sum)
              i += 1
            }
            var topG: String = null
            var topC = 0
            counts.forEach { (g, c) =>
              if (c > topC || (c == topC && (topG == null || g.compareTo(topG) < 0))) {
                topG = g; topC = c
              }
            }
            // codepoint counts, not UTF-16 units: SQL length() counts
            // codepoints (same engine-parity reason fingerprint40 walks
            // codePointAt)
            val gLen = topG.codePointCount(0, topG.length)
            val tLen = text.codePointCount(0, text.length)
            (dupFrac, topG, topC.toDouble * gLen / tLen)
          }
        }
      }
  }

  /** Gopher-style document-shape statistics (Rae et al. 2021 §A1.1, public
    * paper; also the C4/RefinedWeb line heuristics):
    *
    *  - `n_words` — whitespace token count
    *  - `mean_word_len` — mean token length
    *  - `symbol_ratio` — (# + ellipsis occurrences) / words ("symbol-to-
    *    word ratio ≤ 0.1")
    *  - `bullet_frac` — fraction of lines starting with a bullet
    *    ("≤ 90% of lines may start with a bullet point")
    *  - `ellipsis_frac` — fraction of lines ending with an ellipsis (≤ 30%)
    *  - `alpha_frac` — fraction of words containing ≥1 alphabetic char
    *    (≥ 80%)
    *
    * Null text propagates null stats (gate callers coalesce the verdict).
    *
    * ONE JVM-kernel pass per document: the expression spelling needs two
    * CodegenFallback lambdas (length aggregate, alpha filter) plus three
    * regex scans — the q25/q55 interpreted-HOF tax on a corpus scan
    * (measured 1.25 s → 0.3 s at sf0.1). Semantics are pinned by the q85
    * oracle, which recomputes every stat in SQL: SQL trim (spaces only),
    * `\s+` split keeping trailing empties, codepoint lengths, non-
    * overlapping left-to-right `#|\.\.\.` matches, per-line bullet/
    * ellipsis tests (≡ the RE2/Java `(?m)` anchors), oracle-exact rounding.
    */
  def gopherStats(text: Column): Seq[Column] = {
    val s = call_function("gopher_stats", text)
    Seq("n_words", "mean_word_len", "symbol_ratio", "bullet_frac",
      "ellipsis_frac", "alpha_frac").map(f => s.getField(f).as(f))
  }

  case class GopherStats(n_words: Int, mean_word_len: Double,
                         symbol_ratio: Double, bullet_frac: Double,
                         ellipsis_frac: Double, alpha_frac: Double)

  private val SymbolRe = java.util.regex.Pattern.compile("#|\\.\\.\\.")

  /** [[gopherStatsKernel]] over a possibly-null UTF8String, returning a
    * Catalyst struct row — the native `gopher_stats` entry point.
    */
  def gopherStatsData(text: org.apache.spark.unsafe.types.UTF8String):
      org.apache.spark.sql.catalyst.InternalRow = {
    val g = gopherStatsKernel(if (text == null) null else text.toString)
    if (g == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](g.n_words, g.mean_word_len, g.symbol_ratio, g.bullet_frac,
        g.ellipsis_frac, g.alpha_frac))
  }

  private[functions] def gopherStatsKernel(text: String): GopherStats = {
      if (text == null) null.asInstanceOf[GopherStats]
      else {
        def r6(x: Double): Double = Rounding.droundDouble(x, 6)
        // SQL-trim (spaces only) + split("\s+", -1): the tokens() contract
        var lo = 0
        var hi = text.length
        while (lo < hi && text.charAt(lo) == ' ') lo += 1
        while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
        val t = text.substring(lo, hi)
        val toks = if (t.isEmpty) Array.empty[String] else t.split("\\s+", -1)
        val nWords = toks.length
        var lenSum = 0L
        var alpha = 0
        toks.foreach { w =>
          lenSum += w.codePointCount(0, w.length)
          var i = 0
          var hit = false
          while (i < w.length && !hit) {
            val c = w.charAt(i)
            if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) hit = true
            i += 1
          }
          if (hit) alpha += 1
        }
        // non-overlapping left-to-right matches, = regexp_extract_all count
        val m = SymbolRe.matcher(text)
        var symbols = 0
        while (m.find()) symbols += 1
        // lines of the RAW text; ^[ \t]*[-*•] and \.\.\.$ are per-line tests
        val lines = text.split("\n", -1)
        var bullets = 0
        var ellipses = 0
        lines.foreach { ln =>
          var i = 0
          while (i < ln.length && (ln.charAt(i) == ' ' || ln.charAt(i) == '\t')) i += 1
          if (i < ln.length &&
            (ln.charAt(i) == '-' || ln.charAt(i) == '*' || ln.charAt(i) == '•'))
            bullets += 1
          if (ln.endsWith("...")) ellipses += 1
        }
        GopherStats(
          nWords,
          if (nWords == 0) 0.0 else r6(lenSum.toDouble / nWords),
          if (nWords == 0) 0.0 else r6(symbols.toDouble / nWords),
          r6(bullets.toDouble / lines.length),
          r6(ellipses.toDouble / lines.length),
          if (nWords == 0) 0.0 else r6(alpha.toDouble / nWords))
      }
  }

  /** Rebuild a document from its token array with the SORTED covered
    * positions dropped (the dup-span trim's final step): a linear merge
    * walk — an `array_contains` per token would be O(len × |covered|),
    * quadratic for a long fully-duplicated document. Null/empty cover →
    * the original tokens rejoined. The native `rebuild_trimmed`
    * expression's per-row entry point (toks non-null by contract there).
    */
  def rebuildTrimmedData(
      toks: org.apache.spark.sql.catalyst.util.ArrayData,
      cov: org.apache.spark.sql.catalyst.util.ArrayData):
      org.apache.spark.unsafe.types.UTF8String = {
    val sb = new java.lang.StringBuilder
    val nCov = if (cov == null) 0 else cov.numElements()
    val n = toks.numElements()
    var i = 0
    if (nCov == 0) {
      // mkString(" ") semantics — a separator between EVERY pair, empty
      // tokens included (the UDF's empty-cover branch; the walk below
      // would swallow the separator after a leading empty token)
      while (i < n) {
        if (i > 0) sb.append(' ')
        if (!toks.isNullAt(i)) sb.append(toks.getUTF8String(i).toString)
        i += 1
      }
    } else {
      var ci = 0
      while (i < n) {
        if (ci < nCov && cov.getInt(ci) == i) ci += 1
        else {
          if (sb.length > 0) sb.append(' ')
          if (!toks.isNullAt(i)) sb.append(toks.getUTF8String(i).toString)
        }
        i += 1
      }
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /** [[rebuildTrimmedData]]'s span form: drop every token covered by an
    * n-gram starting at any of the SORTED `starts` positions (token i is
    * covered iff some start s has s ≤ i ≤ s+n-1). Feeding the aggregate
    * only gram STARTS instead of every covered position cuts the
    * dup-span trim's shuffle by the gram width (n=8 in q101) — on a
    * heavily duplicated corpus nearly every position is covered, so the
    * covered-position explode was the operator's scale tail. Null/empty
    * starts keep mkString(" ") semantics like the empty-cover branch
    * above.
    */
  /** The merge walks below assume ASCENDING `starts`; a disordered array
    * would silently under-trim (the walk passes unmerged intervals by).
    * trimDupGrams always sorts, but `rebuild_trimmed_spans` /
    * `spans_covered` are registered SQL functions an ad-hoc caller can
    * feed anything — one comparison per element buys a loud error
    * instead of a wrong answer (round-14 ADVICE).
    */
  private def requireSortedStarts(
      starts: org.apache.spark.sql.catalyst.util.ArrayData,
      fn: String): Unit = {
    val m = starts.numElements()
    var i = 1
    while (i < m) {
      if (starts.getInt(i) < starts.getInt(i - 1))
        throw new IllegalArgumentException(
          s"$fn: starts must be sorted ascending — element $i " +
            s"(${starts.getInt(i)}) < element ${i - 1} (${starts.getInt(i - 1)})")
      i += 1
    }
  }

  def rebuildTrimmedSpansData(
      toks: org.apache.spark.sql.catalyst.util.ArrayData,
      starts: org.apache.spark.sql.catalyst.util.ArrayData,
      w: Int): org.apache.spark.unsafe.types.UTF8String = {
    val sb = new java.lang.StringBuilder
    val nSt = if (starts == null) 0 else starts.numElements()
    if (nSt > 0) requireSortedStarts(starts, "rebuild_trimmed_spans")
    val n = toks.numElements()
    var i = 0
    if (nSt == 0) {
      while (i < n) {
        if (i > 0) sb.append(' ')
        if (!toks.isNullAt(i)) sb.append(toks.getUTF8String(i).toString)
        i += 1
      }
    } else {
      var ci = 0
      var maxEnd = -1
      while (i < n) {
        while (ci < nSt && starts.getInt(ci) <= i) {
          val e = starts.getInt(ci) + w - 1
          if (e > maxEnd) maxEnd = e
          ci += 1
        }
        if (i > maxEnd) {
          if (sb.length > 0) sb.append(' ')
          if (!toks.isNullAt(i)) sb.append(toks.getUTF8String(i).toString)
        }
        i += 1
      }
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /** Total positions covered by the union of `[s, s+w-1]` intervals over
    * the SORTED start positions — the dup-span trim's `n_removed`
    * without materializing covered positions. O(|starts|). Null → 0.
    */
  def spansCoveredData(
      starts: org.apache.spark.sql.catalyst.util.ArrayData, w: Int): Int = {
    if (starts == null) return 0
    requireSortedStarts(starts, "spans_covered")
    val m = starts.numElements()
    var covered = 0
    var curStart = 0
    var curEnd = -1 // current merged interval [curStart, curEnd]
    var i = 0
    while (i < m) {
      val s = starts.getInt(i)
      val e = s + w - 1
      if (curEnd < 0) { curStart = s; curEnd = e }
      else if (s <= curEnd + 1) { if (e > curEnd) curEnd = e }
      else { covered += curEnd - curStart + 1; curStart = s; curEnd = e }
      i += 1
    }
    if (curEnd >= 0) covered += curEnd - curStart + 1
    covered
  }

  /** Normalized sliding-window token pairs for collocation statistics:
    * for each position i and offset 1..w, the unordered pair
    * `"min max"` of `t(i)` and `t(i+k)` — equal tokens skipped (a
    * repeated word is not a collocation of itself). Pairs keep
    * MULTIPLICITY (each co-occurrence event counts once), which is what
    * PMI's joint probability wants. Null token arrays yield no pairs.
    * [[windowPairsKernel]] over ArrayData tokens — the native
    * `window_pairs` entry point.
    */
  def windowPairsData(toks: org.apache.spark.sql.catalyst.util.ArrayData,
                      w: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val arr: Seq[String] =
      if (toks == null) null
      else scala.collection.immutable.ArraySeq.unsafeWrapArray(
        Array.tabulate(toks.numElements()) { i =>
          if (toks.isNullAt(i)) null else toks.getUTF8String(i).toString
        })
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      windowPairsKernel(arr, w)
        .map(s => org.apache.spark.unsafe.types.UTF8String.fromString(s))
        .toIndexedSeq)
  }

  private[graft] def windowPairsKernel(t: Seq[String], w: Int): Array[String] = {
    if (t == null) return Array.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < t.length - 1) {
      var k = 1
      val lim = math.min(w, t.length - 1 - i)
      while (k <= lim) {
        val a = t(i)
        val b = t(i + k)
        if (a != b) out += (if (a < b) a + " " + b else b + " " + a)
        k += 1
      }
      i += 1
    }
    out.toArray
  }

  /** All URL occurrences in `text` (the [[UrlRe]] pattern). */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(UrlRe), lit(0))

  /** Normalized host of a URL: the authority up to the first `/ : ? #`,
    * lower-cased, with one leading `www.` stripped — the canonical key for
    * per-domain corpus statistics. Non-URLs yield null.
    */
  def urlHost(url: Column): Column = {
    val raw = regexp_extract(url, "^[Hh][Tt][Tt][Pp][Ss]?://([^/:?#]+)", 1)
    val host = regexp_replace(lower(raw), "^www\\.", "")
    when(raw === "", null).otherwise(host)
  }

  /** Registrable domain: the last two dot-labels of a host (example.com of
    * a.b.example.com). A public-suffix list would refine co.uk-style
    * suffixes; two labels is the deterministic, engine-portable core.
    */
  def registrableDomain(host: Column): Column = {
    val dom = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    when(dom === "", host).otherwise(dom)
  }

  val FingerprintMod: Long = 1L << 40

  /** Rolling-hash document fingerprint: seed 7,
    * `h = (h*31 + codepoint) mod 2^40` over
    * `regexp_replace(lower(trim(text)), "\s+", " ")`. The modular reduction
    * each step keeps the value inside a signed 64-bit int in ANY engine
    * (DuckDB raises on BIGINT overflow; Java wraps — modulo keeps the two
    * in agreement), so the oracle recomputes it exactly with `list_reduce`.
    *
    * Evaluated by the JVM kernel [[HashKernels.fingerprint40]]: the
    * equivalent Catalyst HOF (`aggregate(split(text, ""), ...)`) is
    * CodegenFallback and walks an interpreted expression tree per
    * CHARACTER — measured 10.9 s for q55 vs <1 s as a kernel.
    */
  def fingerprint(text: Column): Column =
    call_function("fingerprint40", text)
}
