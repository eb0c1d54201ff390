package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Second spellings of the native kernels, kept only as the oracles of the
  * bit-equivalence specs. The engine serves each kernel through the native
  * expression [[graft.GraftExtensions]] registers; these wrap the same JVM
  * kernels in plain UDFs, or restate the original SQL formulation, so a
  * spec can compare the two evaluation routes row for row.
  */
object UdfSpellings {

  // ---- HashKernels ----

  def shingleHashSetUdf(k: Int): UserDefinedFunction =
    udf((text: String) => HashKernels.shingleHashSet(text, k))

  def minHashSigUdf(numHashes: Int): UserDefinedFunction =
    udf((sh: Seq[Long]) => HashKernels.minHashSig(sh, numHashes))

  def bandKeysUdf(bands: Int, rowsPerBand: Int): UserDefinedFunction =
    udf((sig: Seq[Long]) => HashKernels.bandKeys(sig, bands, rowsPerBand))

  def posGramHashesUdf(n: Int): UserDefinedFunction =
    udf((toks: Seq[String]) => HashKernels.posGramHashes(toks, n))

  // null text → null hash (a bare String parameter would NPE in the kernel)
  val simHash40Udf: UserDefinedFunction =
    udf((text: String) =>
      if (text == null) null else java.lang.Long.valueOf(HashKernels.simHash40(text)))

  val fingerprint40Udf: UserDefinedFunction =
    udf((text: String) =>
      if (text == null) null else java.lang.Long.valueOf(HashKernels.fingerprint40(text)))

  def linearScoreUdf(dim: Int, weights: Array[Double], bias: Double): UserDefinedFunction =
    udf((text: String) => HashKernels.linearScore(text, dim, weights, bias))

  // ---- TextFunctions ----

  def wordNgramsUdf(n: Int): UserDefinedFunction =
    udf((text: String) => TextFunctions.wordNgramsKernel(text, n))

  val repetitionStatsUdf: UserDefinedFunction =
    udf((text: String) => TextFunctions.repetitionStatsKernel(text))

  val gopherStatsUdf: UserDefinedFunction =
    udf((text: String) => TextFunctions.gopherStatsKernel(text))

  def windowPairsUdf(w: Int): UserDefinedFunction =
    udf((t: Seq[String]) => TextFunctions.windowPairsKernel(t, w))

  def rebuildTrimmedSpansUdf(w: Int): UserDefinedFunction =
    udf((toks: Seq[String], starts: Seq[Int]) => {
      if (toks == null) null
      else if (starts == null || starts.isEmpty) toks.mkString(" ")
      else {
        requireSorted(starts, "rebuild_trimmed_spans")
        val sb = new java.lang.StringBuilder
        var ci = 0
        var maxEnd = -1
        var i = 0
        while (i < toks.length) {
          while (ci < starts.length && starts(ci) <= i) {
            val e = starts(ci) + w - 1
            if (e > maxEnd) maxEnd = e
            ci += 1
          }
          if (i > maxEnd) {
            if (sb.length > 0) sb.append(' ')
            if (toks(i) != null) sb.append(toks(i))
          }
          i += 1
        }
        sb.toString
      }
    })

  def spansCoveredUdf(w: Int): UserDefinedFunction =
    udf((starts: Seq[Int]) => {
      if (starts == null) 0
      else {
        requireSorted(starts, "spans_covered")
        var covered = 0
        var curStart = 0
        var curEnd = -1
        starts.foreach { s =>
          val e = s + w - 1
          if (curEnd < 0) { curStart = s; curEnd = e }
          else if (s <= curEnd + 1) { if (e > curEnd) curEnd = e }
          else { covered += curEnd - curStart + 1; curStart = s; curEnd = e }
        }
        if (curEnd >= 0) covered += curEnd - curStart + 1
        covered
      }
    })

  // loud on disordered starts, like the native kernels (bit parity)
  private def requireSorted(starts: Seq[Int], fn: String): Unit = {
    var si = 1
    while (si < starts.length) {
      if (starts(si) < starts(si - 1)) throw new IllegalArgumentException(
        s"$fn: starts must be sorted ascending — " +
          s"element $si (${starts(si)}) < element ${si - 1} (${starts(si - 1)})")
      si += 1
    }
  }

  /** The original HOF formulation of [[TextFunctions.stopwordRatio]]. */
  def stopwordRatioHof(text: Column, stopwords: Seq[String]): Column = {
    val toks = TextFunctions.tokens(text)
    val sw = array(stopwords.map(lit): _*)
    when(size(toks) === 0, 0.0).otherwise(
      size(filter(toks, t => array_contains(sw, lower(t)))).cast("double") / size(toks))
  }

  /** The original Column formulation of [[TextFunctions.qualityScore]]. */
  def qualityScoreHof(text: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punct = TextFunctions.charRatio(text, "[^A-Za-z0-9\\s]")
    val digits = TextFunctions.charRatio(text, "[0-9]")
    val stop = stopwordRatioHof(text, stopwords)
    Rounding.dround(
      lit(0.25) * lenScore +
        lit(0.25) * least(stop * 4.0, lit(1.0)) +
        lit(0.25) * (lit(1.0) - least(punct * 5.0, lit(1.0))) +
        lit(0.25) * (lit(1.0) - least(digits * 5.0, lit(1.0))), 6)
  }

  // ---- Rounding ----

  /** The pure-Column spelling of [[Rounding.dround]] (duplicates `c`
    * across its branches, which the native expression avoids).
    */
  def droundColumn(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    val scaled = c * lit(p)
    // exact-fraction half-away (see Rounding's object doc). Column `floor`
    // is LONG-valued, so guard at 2^52: every double ≥ 2^52 is integral
    // and std::round is the identity there (this also routes ±Inf through
    // scaled/p); below 2^52 the long floor is exact and a − f is the
    // exact fraction. NaN falls through to m = 0 → caught by the
    // sign-of-zero branch, where NaN · 0.0 = NaN propagates it.
    val a = abs(scaled)
    val f = floor(a).cast("double")
    val m = when(a - f >= lit(0.5), f + lit(1.0)).otherwise(f)
    val r = when(a >= lit(4503599627370496.0), scaled / lit(p))
      .otherwise(when(scaled < 0, -m).otherwise(m) / lit(p))
    // sign-of-zero: DuckDB keeps the input's sign; c*0.0 is IEEE copysign
    when(r === lit(0.0), c * lit(0.0)).otherwise(r)
  }
}
