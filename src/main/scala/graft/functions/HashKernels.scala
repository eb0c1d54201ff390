package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Tight-loop JVM kernels for the MinHash/LSH dedup path (SURVEY §2 dedup
  * extension; ref has no equivalent — this is the training-data-pipeline
  * surface).
  *
  * Why JVM kernels and not Catalyst higher-order functions: the per-row
  * work here is O(shingles × numHashes) — thousands of hash evaluations per
  * document. Spark's higher-order functions (`transform`/`aggregate`) don't
  * participate in whole-stage codegen, so expressing the signature as 64
  * nested `array_min(transform(...))` trees evaluates interpreted `xxhash64`
  * expression objects per element (measured: ~660 s for 5k docs at sf0.1).
  * The native expressions [[graft.GraftExtensions]] registers call these
  * kernels once per row from generated code and run straight JVM loops
  * (~ms for the same input). All kernels are deterministic (seeded
  * splitmix64), so Catalyst may still dedupe/reorder them freely.
  */
object HashKernels {

  /** splitmix64 finalizer — a strong, cheap 64-bit mixer. */
  @inline def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** FNV-1a 64-bit over the string's UTF-16 code units, splitmix-finalized. */
  def hashString(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    mix64(h)
  }

  /** Space-only trim — Spark/DuckDB `trim` semantics, NOT Java
    * `String.trim` (which also strips tabs/newlines and would diverge
    * from every `trim(lower(text))` oracle on tab-edged text).
    */
  private[functions] def trimSpaces(text: String): String = {
    var lo = 0
    var hi = text.length
    while (lo < hi && text.charAt(lo) == ' ') lo += 1
    while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
    text.substring(lo, hi)
  }

  /** Whitespace tokens of the lower-cased, trimmed text — the same
    * normalization as [[graft.operators.Dedup.shingles]] and the SQL
    * oracles' `regexp_split_to_array(trim(lower(text)), '\s+')`:
    * space-only trim, locale-independent lower-case, split keeping
    * trailing empties (Spark `split` limit -1 semantics).
    */
  private def tokens(text: String): Array[String] = {
    val t = trimSpaces(text).toLowerCase(java.util.Locale.ROOT)
    if (t.isEmpty) Array(t) else t.split("\\s+", -1)
  }

  /** The engine-portable 40-bit rolling token hash shared by
    * [[simHash40]], [[linearScore]], and (over whole normalized text)
    * [[fingerprint40]]: seed 7, `h = (h*31 + codepoint) mod 2^40`.
    */
  private[functions] def tokenHash40(tok: String): Long = {
    val mod = 1L << 40
    var h = 7L
    var i = 0
    while (i < tok.length) {
      val cp = tok.codePointAt(i)
      h = (h * 31L + cp) % mod
      i += Character.charCount(cp)
    }
    h
  }

  /** Sorted distinct 64-bit hashes of the k-word shingles of `text`.
    * Documents shorter than k words contribute their whole token sequence as
    * one shingle (matching [[graft.operators.Dedup.shingles]]).
    */
  def shingleHashSet(text: String, k: Int): Array[Long] = {
    val toks = tokens(text)
    val raw =
      if (toks.length <= k) Array(hashString(toks.mkString(" ")))
      else {
        val n = toks.length - k + 1
        val out = new Array[Long](n)
        val sb = new java.lang.StringBuilder()
        var i = 0
        while (i < n) {
          sb.setLength(0)
          var j = 0
          while (j < k) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          out(i) = hashString(sb.toString)
          i += 1
        }
        out
      }
    // sorted-distinct in place (primitive sort beats a TreeSet by a lot)
    java.util.Arrays.sort(raw)
    var w = 0
    var r = 0
    while (r < raw.length) {
      if (w == 0 || raw(r) != raw(w - 1)) { raw(w) = raw(r); w += 1 }
      r += 1
    }
    if (w == raw.length) raw else java.util.Arrays.copyOf(raw, w)
  }

  /** MinHash signature: sig(i) = min over shingle hashes h of
    * mix64(h ^ seed_i), seeds derived from the hash-function index. One pass
    * per (shingle, i) pair in a tight loop.
    */
  private val seedCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private def seedsFor(numHashes: Int): Array[Long] =
    seedCache.computeIfAbsent(numHashes,
      n => Array.tabulate(n)(i => mix64(0x5851f42d4c957f2dL * (i + 1))))

  def minHashSig(shingleHashes: Seq[Long], numHashes: Int): Array[Long] = {
    val out = Array.fill(numHashes)(Long.MaxValue)
    val seeds = seedsFor(numHashes)
    val it = shingleHashes.iterator
    while (it.hasNext) {
      val h = it.next()
      var i = 0
      while (i < numHashes) {
        val v = mix64(h ^ seeds(i))
        if (v < out(i)) out(i) = v
        i += 1
      }
    }
    out
  }

  /** One 64-bit key per LSH band: FNV over the band's signature slice,
    * salted with the band index so identical slices in different bands never
    * collide into one bucket.
    */
  def bandKeys(sig: Seq[Long], bands: Int, rowsPerBand: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0xcbf29ce484222325L ^ b.toLong
      var r = 0
      while (r < rowsPerBand) {
        var v = sig(b * rowsPerBand + r)
        var byteI = 0
        while (byteI < 8) {
          h ^= (v & 0xffL)
          h *= 0x100000001b3L
          v >>>= 8
          byteI += 1
        }
        r += 1
      }
      out(b) = mix64(h)
      b += 1
    }
    out
  }

  /** Exact Jaccard of two sorted distinct long arrays (merge scan). */
  def sortedJaccard(a: Seq[Long], b: Seq[Long]): Double = {
    val aa = a.toArray
    val bb = b.toArray
    var i = 0; var j = 0; var inter = 0
    while (i < aa.length && j < bb.length) {
      if (aa(i) == bb(j)) { inter += 1; i += 1; j += 1 }
      else if (aa(i) < bb(j)) i += 1
      else j += 1
    }
    val union = aa.length + bb.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** All ordered pairs (a < b) from a sorted id array, capped at
    * `maxBucket` ids to bound the quadratic blow-up of a skewed LSH bucket
    * (ids beyond the cap are dropped — an explicit approximation; a bucket
    * that size is one giant near-dup cluster and remains connected through
    * the kept ids).
    */
  def bucketPairs(ids: Seq[Long], maxBucket: Int): Array[(Long, Long)] = {
    val n = math.min(ids.length, maxBucket)
    val nPairs = n.toLong * (n - 1) / 2
    require(nPairs <= Int.MaxValue,
      s"bucketPairs: $n ids expand to $nPairs pairs; cap the bucket (maxBucket)")
    val out = new Array[(Long, Long)](nPairs.toInt)
    var idx = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(idx) = (ids(i), ids(j))
        idx += 1
        j += 1
      }
      i += 1
    }
    out
  }

  /** LSH bucket pair emission with the exact size-ratio prune:
    * J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|) — pairs whose shingle-set sizes
    * already forbid reaching `minJaccard` are dropped before their sets
    * are ever joined. This is a hard bound, not an estimate: no
    * qualifying pair is lost. Ids are sorted and capped at `maxBucket`
    * like [[bucketPairs]].
    *
    * A pair colliding in several bands is emitted once PER band; the
    * caller dedups with a pair-keyed aggregate, whose map-side partial
    * combine collapses the ≤bands× duplicates before the exchange. This
    * replaced an in-kernel first-colliding-band dedup that required every
    * bucket row to carry its full band-key vector through the bucket
    * `collect_list` — ~bands² longs shuffled per document versus two
    * 8-byte columns here, and an O(n²·bands) per-bucket loop versus
    * O(n²): at 10× grown documents the slimmer exchange measured the
    * whole candidate stage ~25% faster with identical output pairs.
    */
  def bucketPairsRatio(ids: Seq[Long], sizes: Seq[Int], maxBucket: Int,
                       minJaccard: Double,
                       skipBothNonNegative: Boolean = false): Array[(Long, Long)] = {
    // unbox once into flat primitive arrays — the O(n²) loop below must
    // not touch boxed Seq accessors
    val m = ids.length
    val idArr = new Array[Long](m)
    val szArr = new Array[Int](m)
    var x = 0
    while (x < m) {
      idArr(x) = ids(x)
      szArr(x) = sizes(x)
      x += 1
    }
    val order = Array.range(0, m).sortBy(idArr)
    val n = math.min(m, maxBucket)
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var i = 0
    while (i < n) {
      val oi = order(i)
      val szI = szArr(oi)
      var j = i + 1
      while (j < n) {
        val oj = order(j)
        // cross-corpus mining (sign-tagged ids): a pair of two
        // non-negative reps can never expand to a cross-side doc pair
        // (any group touching the negative side has a negative rep), so
        // the dominant intra-corpus candidate mass is skipped in-kernel
        if (!(skipBothNonNegative && idArr(oi) >= 0 && idArr(oj) >= 0)) {
          val szJ = szArr(oj)
          val lo = math.min(szI, szJ).toDouble
          val hi = math.max(szI, szJ).toDouble
          if (hi == 0.0 || lo / hi >= minJaccard)
            out += ((idArr(oi), idArr(oj)))
        }
        j += 1
      }
      i += 1
    }
    out.toArray
  }

  /** Engine-portable 40-bit rolling fingerprint — the kernel twin of the
    * HOF formulation documented at [[graft.functions.TextFunctions.fingerprint]]
    * (seed 7, `h = (h*31 + codepoint) mod 2^40` over the normalized text).
    * Normalization replicates `regexp_replace(lower(trim(text)), "\s+", " ")`
    * exactly: trim strips SPACES ONLY (Spark/DuckDB `trim`, not Java
    * `String.trim`), then lower-case, then Java-regex whitespace-run
    * collapse — so results are bit-identical to the Catalyst HOF version
    * and to the DuckDB oracle's `list_reduce`.
    *
    * Why a kernel: `aggregate(split(text, ""))` is CodegenFallback — one
    * interpreted expression-tree walk PER CHARACTER (q55 spent 10.9 s of a
    * 54 s bench re-evaluating it up to 3× per row). This is one JVM loop
    * per row.
    */
  def fingerprint40(text: String): Long =
    tokenHash40(trimSpaces(text)
      .toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " "))

  /** Engine-portable 40-bit SimHash: per whitespace token of the
    * lower-cased trimmed text, a polynomial rolling hash
    * `h = (h*31 + codepoint) mod 2^40` (seed 7 — the
    * [[graft.functions.TextFunctions.fingerprint]] recurrence, exactly
    * reproducible in any engine's 64-bit integer SQL), then the classic
    * per-bit majority vote. 40 bits keeps every intermediate below 2^45 so
    * DuckDB's overflow-checked BIGINT math agrees bit-for-bit.
    */
  def simHash40(text: String): Long = {
    val toks = tokens(text)
    val votes = new Array[Int](40)
    var t = 0
    while (t < toks.length) {
      val h = tokenHash40(toks(t))
      var b = 0
      while (b < 40) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 40) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Cosine similarity of two double arrays (single fused loop, left-to-right
    * accumulation — same order as `aggregate(zip_with(...))` so results are
    * bit-stable against the expression version). Zero-norm input returns
    * null, matching [[graft.functions.expressions.CosineSimilarity]] and the
    * HOF formulation — a NaN here would sort ABOVE every real score in a
    * descending top-k.
    */
  def cosineKernel(a: Seq[Double], b: Seq[Double]): java.lang.Double = {
    val aa = a.toArray
    val bb = b.toArray
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < aa.length) {
      dot += aa(i) * bb(i)
      na += aa(i) * aa(i)
      nb += bb(i) * bb(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Hashed-feature linear classifier inference (the fastText/quality-
    * classifier shape): mean over tokens of `weights(h(tok) mod dim)`
    * plus `bias`, squashed by a sigmoid. Token hash is the engine-portable
    * 40-bit rolling hash (seed 7, ×31, mod 2^40 — the [[simHash40]] /
    * fingerprint recurrence), so a trained weight vector scores
    * identically in any engine with 64-bit integer SQL. Blank/null text →
    * null (unscorable). Summation is in token order — reproduced by the
    * oracle's list fold, keeping the doubles bit-identical.
    */
  def linearScore(text: String, dim: Int, weights: Array[Double],
                  bias: Double): java.lang.Double = {
    if (text == null) return null
    // toksCte normalization: space-only trim, Locale.ROOT lower, \s+
    // split keeping trailing empties — NOT Java trim/default locale,
    // which diverge on tab-edged text and Turkish-locale 'I'
    val t = trimSpaces(text).toLowerCase(java.util.Locale.ROOT)
    if (t.isEmpty) return null
    val toks = t.split("\\s+", -1)
    var s = 0.0
    var ti = 0
    while (ti < toks.length) {
      s += weights((tokenHash40(toks(ti)) % dim).toInt)
      ti += 1
    }
    val logit = bias + s / toks.length
    1.0 / (1.0 + math.exp(-logit))
  }

  // ---- ArrayData-shaped entry points for the native expressions ----
  // (called from generated code via the object's static forwarders: one
  // call per row, primitive arrays throughout, no Seq boxing)

  /** [[shingleHashSet]] over a UTF8String, returning Catalyst ArrayData. */
  def shingleHashesData(text: org.apache.spark.unsafe.types.UTF8String,
                        k: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(shingleHashSet(text.toString, k))

  /** Fused [[minHashSig]] + [[bandKeys]] over ArrayData: the signature
    * lives and dies in one primitive stack array instead of riding the
    * plan as an intermediate array column between two UDF boundaries.
    * Bit-identical to `bandKeys(minHashSig(sh, numHashes), bands,
    * rowsPerBand)` (spec-pinned).
    */
  def minHashBandKeysData(sh: org.apache.spark.sql.catalyst.util.ArrayData,
                          numHashes: Int, bands: Int, rowsPerBand: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = sh.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val seeds = seedsFor(numHashes)
    var i = 0
    while (i < n) {
      val h = sh.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = mix64(h ^ seeds(j))
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var hh = 0xcbf29ce484222325L ^ b.toLong
      var r = 0
      while (r < rowsPerBand) {
        var v = sig(b * rowsPerBand + r)
        var byteI = 0
        while (byteI < 8) {
          hh ^= (v & 0xffL)
          hh *= 0x100000001b3L
          v >>>= 8
          byteI += 1
        }
        r += 1
      }
      out(b) = mix64(hh)
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** [[minHashBandKeysData]] behind a null-element scan, for
    * `containsNull = true` children (any array<bigint> read back from
    * parquet carries that flag even when no element is actually null).
    * The unchecked kernel reads primitive `getLong(i)`, which would
    * silently unbox a null element to 0 and hash it as a real shingle —
    * so a genuinely-null element fails loudly here instead. Only wired
    * in when the child TYPE may carry nulls; the internal
    * shingle_hashes pipeline (containsNull = false) skips the scan.
    */
  def minHashBandKeysDataChecked(
      sh: org.apache.spark.sql.catalyst.util.ArrayData,
      numHashes: Int, bands: Int, rowsPerBand: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = sh.numElements()
    var i = 0
    while (i < n) {
      if (sh.isNullAt(i)) throw new IllegalArgumentException(
        s"minhash_band_keys: null element at index $i — shingle-hash " +
          "arrays must be null-free (filter(x -> x is not null) first)")
      i += 1
    }
    minHashBandKeysData(sh, numHashes, bands, rowsPerBand)
  }

  /** [[posGramHashes]] over ArrayData tokens (null → empty, matching the
    * kernel's Seq spelling), returning Catalyst ArrayData.
    */
  def posGramHashesData(toks: org.apache.spark.sql.catalyst.util.ArrayData,
                        n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val arr: Array[String] =
      if (toks == null) null
      else Array.tabulate(toks.numElements()) { i =>
        if (toks.isNullAt(i)) null else toks.getUTF8String(i).toString
      }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(posGramHashes(
        if (arr == null) null else scala.collection.immutable.ArraySeq.unsafeWrapArray(arr), n))
  }

  /** Hash of the space-joined n-gram at every start position of a
    * pre-tokenized document (length `max(0, tokens - n + 1)`, order
    * preserved, NOT distinct) — the [[graft.operators.Curation
    * .trimDupGrams]] gram stream. A kernel because the Column spelling
    * (`transform(starts, i => xxhash64(concat_ws(slice(...))))`) is a
    * CodegenFallback HOF interpreted per position with per-element array
    * slices; one JVM loop with a reused builder does the same work at
    * scan rate. Hash = [[hashString]] (same 64-bit collision convention
    * as the other gram kernels; the hashes never leave the plan).
    */
  def posGramHashes(toks: Seq[String], n: Int): Array[Long] = {
    if (toks == null || toks.length < n) return Array.emptyLongArray
    val m = toks.length - n + 1
    val out = new Array[Long](m)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = hashString(sb.toString)
      i += 1
    }
    out
  }

  // ---- Column-level wrappers ----

  def bucketPairsUdf(maxBucket: Int): UserDefinedFunction =
    udf((ids: Seq[Long]) => bucketPairs(ids, maxBucket))

  def bucketPairsRatioUdf(maxBucket: Int, minJaccard: Double,
                          skipBothNonNegative: Boolean = false): UserDefinedFunction =
    udf((ids: Seq[Long], sizes: Seq[Int]) =>
      bucketPairsRatio(ids, sizes, maxBucket, minJaccard, skipBothNonNegative))
}
