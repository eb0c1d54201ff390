package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-curation operators for the training-data pipeline surface:
  * benchmark decontamination, per-domain quota selection, vocabulary
  * statistics, and deterministic stratified sampling. These sit alongside
  * [[Dedup]]/[[Similarity]]/[[TrainingData]] as the curation steps a
  * 100 TB pretraining pipeline runs between dedup and packing.
  *
  * Scale design notes (the 1000-executor reading):
  *  - [[decontaminate]] broadcasts the benchmark's n-gram set (benchmark
  *    suites are MBs against a corpus of TBs) — the corpus side is one
  *    scan + one hash-aggregate keyed by document id (high cardinality,
  *    map-side partial aggregation).
  *  - [[domainQuota]] reduces through the `topk_by_score`
  *    TypedImperativeAggregate: at most k entries per map partition per
  *    domain cross the shuffle, and no per-domain single-reducer window
  *    exists (same shape as [[Similarity]]'s reduce).
  *  - [[vocabTopK]] is groupBy+count (map-side combine) followed by a
  *    global ordered limit — Spark plans `TakeOrderedAndProject`, a
  *    per-partition top-k merge on the driver, never a global sort.
  *  - [[stratifiedSample]] is a pure per-row filter on a content hash —
  *    no shuffle at all, and re-running it on a re-ingested (re-sharded,
  *    re-ordered) corpus selects the SAME documents, which is the whole
  *    point of hash-based sampling over `rand()`.
  */
object Curation {

  // Shadows functions.round: every oracle-compared column rounds with
  // DuckDB-exact semantics (see graft.functions.Rounding) so half-boundary
  // values hash identically on both engines.
  private def round(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    graft.functions.Rounding.dround(c, scale)

  /** Per-document benchmark contamination: the fraction of the document's
    * distinct word `n`-grams that also occur anywhere in `benchmark`.
    * Returns (`idCol`, n_grams, n_hit, contamination) — one row per corpus
    * document, zero-gram documents included with contamination 0.
    *
    * This is the standard n-gram-overlap decontamination check run before
    * training: a document sharing many shingles with an eval benchmark is
    * contaminated and must be dropped or flagged.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val bench = benchmark
      .select(explode(TextFunctions.wordNgramsCol(col(textCol), n)).as("gram"))
      .distinct()
      .withColumn("__hit", lit(1))
    corpus
      .select(col(idCol),
        explode_outer(TextFunctions.wordNgramsCol(col(textCol), n)).as("gram"))
      .join(broadcast(bench), Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(col("gram")).as("n_grams"), count(col("__hit")).as("n_hit"))
      .select(col(idCol), col("n_grams"), col("n_hit"),
        round(when(col("n_grams") === 0, 0.0)
          .otherwise(col("n_hit").cast("double") / col("n_grams")), 6)
          .as("contamination"))
  }

  /** Per-domain quota: the `k` highest-`scoreCol` rows of each `classCol`
    * group, ties broken by ascending id — domain-balanced selection of the
    * best documents. Returns (`classCol`, `idCol`, score).
    *
    * `idCol` must be integral (cast to long); `scoreCol` double. Null
    * scores never rank.
    */
  def domainQuota(docs: DataFrame, classCol: String, idCol: String,
                  scoreCol: String, k: Int): DataFrame =
    docs.groupBy(col(classCol))
      .agg(call_function("topk_by_score",
        col(scoreCol).cast("double"), col(idCol).cast("long"), lit(k)).as("topk"))
      .select(col(classCol), explode(col("topk")).as("e"))
      .select(col(classCol), col("e.neighbor_id").as(idCol),
        col("e.cosine").as("score"))

  /** Corpus vocabulary: the `k` most frequent whitespace tokens of the
    * lower-cased corpus, ordered (count desc, token asc) so the boundary
    * of the top-k is deterministic. Returns (token, cnt).
    */
  def vocabTopK(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs
      .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)

  /** Bounded-state heavy hitters: the k most frequent tokens via the
    * `approx_top_items` SpaceSaving aggregate — at most `capacity`
    * counters per aggregation buffer, map-side partial merge, every item
    * with true frequency > N/capacity guaranteed present with
    * `cnt ≥ true ≥ lb`. The scale counterpart of [[vocabTopK]], whose
    * exact hash aggregate must shuffle the FULL distinct vocabulary
    * (every long-tail hapax) before the top-k cut; this ships ≤ capacity
    * counters per map partition. With `capacity` ≥ the distinct-token
    * count the result is exact (`lb = cnt`) and partitioning-independent
    * — the regime the oracle-checked query runs in; the approximation
    * bounds at small capacity are property-pinned in
    * `ApproxTopItemsSpec`.
    *
    * Returns ranked rows (token, cnt, lb) — (cnt desc, token asc).
    */
  def vocabTopKApprox(docs: DataFrame, textCol: String, k: Int,
                      capacity: Int): DataFrame =
    docs
      .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
      .agg(call_function("approx_top_items",
        col("token"), lit(k), lit(capacity)).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.token"), col("t.cnt"), col("t.lb"))

  /** Deterministic per-class sampling: keep a row when
    * `fingerprint(text) mod denom < rate(class) * denom`. Content-hashed,
    * not `rand()`-based: the same document (and every byte-identical
    * duplicate of it) makes the same in/out decision on every run, every
    * engine, every shard order — reproducible subsampling, and
    * dedup-consistent by construction.
    *
    * Returns the input rows that survive, plus their `sample_bucket`
    * (the hash residue, for auditing the realized rate).
    */
  def stratifiedSample(docs: DataFrame, textCol: String, classCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       denom: Int = 10000): DataFrame =
    docs
      .withColumn("sample_bucket",
        pmod(TextFunctions.fingerprint(col(textCol)), lit(denom.toLong)))
      .filter(col("sample_bucket") < rateThreshold(classCol, rates, defaultRate, denom))

  private def rateThreshold(classCol: String, rates: Map[String, Double],
                            defaultRate: Double, denom: Int): Column =
    rates.foldRight(lit(math.round(defaultRate * denom)): Column) {
      case ((cls, r), acc) =>
        when(col(classCol) === cls, lit(math.round(r * denom))).otherwise(acc)
    }

  /** Zipf rank–frequency fit: least squares of ln(freq) on ln(rank) over
    * the corpus's `topK` most frequent tokens — natural text follows
    * Zipf's law with slope ≈ −1, so the fitted (slope, r²) is a cheap
    * corpus-health diagnostic (template/boilerplate floods flatten the
    * curve, truncated vocabularies steepen it). Returns ONE row
    * (n_terms, slope, intercept, r2); degenerate fits (fewer than two
    * points, or zero variance) yield nulls, never a division error.
    *
    * Scale shape: the only corpus-sized work is [[vocabTopK]]'s map-side-
    * combined count + ordered limit (TakeOrderedAndProject). The fit
    * itself runs over ≤ topK points: the sums fold an x-sorted bounded
    * array left-to-right, so every Σ is order-exact and an engine
    * replaying the same fold gets bit-identical moments — a plain sum's
    * merge order would wobble the regression in ulps.
    */
  def zipfFit(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    // (−cnt, token) ascending IS rank order (cnt desc, token asc), so a
    // token's rank is its 1-based index in the sorted array
    val folded = vocabTopK(docs, textCol, topK)
      .agg(sort_array(collect_list(struct((-col("cnt")).as("ncnt"), col("token"))))
        .as("r"))
      .select(transform(col("r"), (e, i) => struct(
        log((i + 1).cast("double")).as("x"),
        log((-e.getField("ncnt")).cast("double")).as("y"))).as("a"))
      .select(
        size(col("a")).cast("double").as("n"),
        aggregate(col("a"), lit(0.0), (acc, e) => acc + e.getField("x")).as("sx"),
        aggregate(col("a"), lit(0.0), (acc, e) => acc + e.getField("y")).as("sy"),
        aggregate(col("a"), lit(0.0),
          (acc, e) => acc + e.getField("x") * e.getField("y")).as("sxy"),
        aggregate(col("a"), lit(0.0),
          (acc, e) => acc + e.getField("x") * e.getField("x")).as("sxx"),
        aggregate(col("a"), lit(0.0),
          (acc, e) => acc + e.getField("y") * e.getField("y")).as("syy"))
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    folded.select(
      col("n").cast("long").as("n_terms"),
      round(when(dx === 0.0, lit(null)).otherwise(num / dx), 6).as("slope"),
      round(when(dx === 0.0, lit(null))
        .otherwise((col("sy") - (num / dx) * col("sx")) / col("n")), 6)
        .as("intercept"),
      round(when(dx === 0.0 || dy === 0.0, lit(null))
        .otherwise((num * num) / (dx * dy)), 6).as("r2"))
  }

  /** Per-class distribution drift: Jensen–Shannon divergence between each
    * class's token distribution and the whole corpus's, computed over the
    * corpus's `topK` tokens plus ONE out-of-vocabulary residual bucket —
    * the truncation both bounds the work and smooths the tail, the
    * standard move for distribution tests on open vocabularies. JSD is
    * symmetric and bounded by ln 2; a source whose jsd spikes is drifting
    * (template flood, language shift, scraper breakage). Returns one row
    * per class: (class, tot_tokens, jsd).
    *
    * Scale shape: the corpus-sized work is two map-side-combined token
    * counts; everything after runs on the |classes|·(topK+1) grid (cross
    * join of the broadcast vocabulary). Probabilities divide INTEGER
    * counts once each, and the divergence folds a token-sorted bounded
    * array left-to-right with the OOV bucket appended LAST — every sum
    * order-exact, zero-count buckets contribute exactly 0 (no ln(0)).
    */
  def sourceDivergence(docs: DataFrame, classCol: String, textCol: String,
                       topK: Int): DataFrame = {
    val toks = Reuse.pinned(docs.select(col(classCol).as("cls"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("token")))
    val counts = toks.groupBy(col("cls"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val corpus = toks.groupBy(col("token")).agg(count(lit(1)).as("qcnt"))
      .localCheckpoint(false)
    val vocab = corpus.orderBy(col("qcnt").desc, col("token").asc).limit(topK)
    val totS = toks.groupBy(col("cls")).agg(count(lit(1)).as("tot_s"))
    val totC = toks.agg(count(lit(1)).as("tot_c"))
    val grid = totS.crossJoin(broadcast(vocab))
      .join(counts, Seq("cls", "token"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .crossJoin(broadcast(totC))
    def contrib(p: Column, q: Column): Column = {
      val m = (p + q) / lit(2)
      lit(0.5) * when(p === 0.0, lit(0.0)).otherwise(p * log(p / m)) +
        lit(0.5) * when(q === 0.0, lit(0.0)).otherwise(q * log(q / m))
    }
    val withC = grid
      .withColumn("p", col("cnt").cast("double") / col("tot_s"))
      .withColumn("q", col("qcnt").cast("double") / col("tot_c"))
      .withColumn("c", contrib(col("p"), col("q")))
    val folded = withC.groupBy(col("cls"), col("tot_s"), col("tot_c"))
      .agg(
        aggregate(sort_array(collect_list(struct(col("token"), col("c")))),
          lit(0.0), (acc, e) => acc + e.getField("c")).as("in_vocab"),
        sum(col("cnt")).as("cov_s"),
        sum(col("qcnt")).as("cov_c"))
    folded
      .withColumn("p0", (col("tot_s") - col("cov_s")).cast("double") / col("tot_s"))
      .withColumn("q0", (col("tot_c") - col("cov_c")).cast("double") / col("tot_c"))
      .select(col("cls").as(classCol), col("tot_s").as("tot_tokens"),
        round(col("in_vocab") + contrib(col("p0"), col("q0")), 6).as("jsd"))
  }

  /** Deterministic exact-N per-class sample: the `n` rows of each
    * `classCol` group with the SMALLEST content fingerprints of `textCol`
    * — a uniform-feeling yet fully reproducible pick. The fingerprint is a
    * content hash, so the same documents are selected on every run, every
    * engine, and every shard order, and byte-identical duplicates make the
    * same in/out decision. Complements [[stratifiedSample]]: that realizes
    * an expected RATE with zero shuffle, this realizes an exact COUNT.
    * Returns (`classCol`, `idCol`, fp, sample_rank) with sample_rank
    * 1..n ordered by (fp asc, id asc).
    *
    * Scale shape: per-class bounded heaps via the `topk_by_score`
    * TypedImperativeAggregate (score = −fp; fp < 2^40 < 2^53 so the
    * double round-trips exactly) — at most n entries per map partition
    * per class cross the shuffle, no per-class single-reducer window, no
    * global sort. Null text (null fingerprint) and null ids never rank.
    */
  def sampleExactN(docs: DataFrame, classCol: String, idCol: String,
                   textCol: String, n: Int): DataFrame =
    docs.groupBy(col(classCol))
      .agg(call_function("topk_by_score",
        negate(TextFunctions.fingerprint(col(textCol)).cast("double")),
        col(idCol).cast("long"), lit(n)).as("topk"))
      .select(col(classCol), posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col(classCol), col("e.neighbor_id").as(idCol),
        negate(col("e.cosine")).cast("long").as("fp"),
        (col("pos") + 1).cast("int").as("sample_rank"))

  /** Gopher document-shape gate (Rae et al. 2021 §A1.1): every input row
    * with the [[TextFunctions.gopherStats]] diagnostics plus the `admitted`
    * verdict at the published thresholds (parameterized; defaults are the
    * paper's). Stateless per-row expressions — no shuffle, runs inside the
    * scan's whole-stage codegen span, batch or stream. Null text → null
    * diagnostics, admitted = false (a null verdict is not a verdict).
    */
  def gopherGate(docs: DataFrame, textCol: String,
                 minWords: Int = 50, maxWords: Int = 100000,
                 minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                 maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
                 maxEllipsisFrac: Double = 0.3,
                 minAlphaFrac: Double = 0.8): DataFrame = {
    val stats = TextFunctions.gopherStats(col(textCol))
    docs.select(docs.columns.toIndexedSeq.map(col) ++ stats: _*)
      .withColumn("admitted", coalesce(
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanWordLen &&
          col("mean_word_len") <= maxMeanWordLen &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("bullet_frac") <= maxBulletFrac &&
          col("ellipsis_frac") <= maxEllipsisFrac &&
          col("alpha_frac") >= minAlphaFrac,
        lit(false)))
  }

  /** C4/RefinedWeb line-level exact dedup: drop every line whose corpus-wide
    * occurrence count exceeds `maxOccurrences` (boilerplate — nav text,
    * cookie banners, signatures — repeats across thousands of pages; prose
    * doesn't), then reassemble each document from its surviving lines in
    * order. Documents left with NO surviving lines drop out entirely.
    * Returns (`idCol`, text, n_kept, n_removed). `separator` (a LITERAL,
    * not a regex) selects the span granularity: "\n" = lines (default),
    * "\n\n" = the RefinedWeb paragraph-level variant.
    *
    * Scale shape (r19 count-over-window spelling): per-line corpus counts
    * come from `count().over(Window.partitionBy(xxhash64(line), length))`
    * — the split+posexplode scan evaluates ONCE and there is no separate
    * counts join; line text crosses exactly two exchanges (the count
    * window's, keyed by the 16-byte hash+length, and the per-doc rebuild
    * aggregate's — both fundamental to corpus-frequency + per-doc
    * rebuild). Skew trade, documented: the window buffers every duplicate
    * of a hot boilerplate line (full text rows) in ONE window group —
    * correct at any size (WindowExec spills via its unsafe-row array)
    * where the pre-r19 aggregate+join streamed the line side against
    * 1-row count groups; for a corpus where one line repeats across
    * millions of pages, prefer the agg+join spelling back. Reassembly
    * aggregates by document id (high cardinality, map-side combine).
    * 64-bit+length collisions conflate distinct lines' counts (odds
    * negligible below ~10^9 DISTINCT lines; above that, widen to two
    * independent hashes).
    */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 maxOccurrences: Long, separator: String = "\n"): DataFrame = {
    val lines = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(separator)))
          .as(Seq("__pos", "__line")))
      .withColumn("__h", xxhash64(col("__line")))
      .withColumn("__len", length(col("__line")))
    // r19: per-line corpus counts via a count-over-window on the SAME
    // key the old aggregate+join used — one evaluation of the split scan
    // instead of two (the counts side re-ran the whole posexplode), and
    // no separate counts shuffle: line text crosses exactly two
    // exchanges (the window's and the per-doc rebuild's), the minimum
    // for corpus-frequency + per-doc rebuild. Identical __cnt: the
    // window partition IS the old group, and the old inner join never
    // dropped rows (every line's key exists in its own count).
    val wCnt = Window.partitionBy(col("__h"), col("__len"))
    lines.withColumn("__cnt", count(lit(1)).over(wCnt))
      .groupBy(col(idCol))
      .agg(
        concat_ws(separator, transform(
          array_sort(collect_list(when(col("__cnt") <= maxOccurrences,
            struct(col("__pos"), col("__line"))))),
          e => e.getField("__line"))).as("text"),
        count(when(col("__cnt") <= maxOccurrences, 1)).as("n_kept"),
        count(when(col("__cnt") > maxOccurrences, 1)).as("n_removed"))
      .filter(col("n_kept") > 0)
  }

  /** Per-document duplicated-span fraction — the corpus-internal
    * complement of [[decontaminate]] and the cheap cousin of
    * suffix-array exact-substring dedup (Lee et al. 2021): the fraction
    * of a document's distinct word `n`-grams whose corpus document
    * frequency is ≥ `minDocFreq`. High values mark boilerplate-heavy or
    * near-copied documents that survive doc-level exact dedup. Returns
    * (`idCol`, n_grams, n_dup, dup_frac); documents with fewer than `n`
    * tokens score 0.
    *
    * Scale shape: grams shuffle as `xxhash64` keys (8 bytes, not gram
    * text) into a map-side-combined document-frequency count, joined back
    * co-partitioned on the same key — the [[dedupLines]] pattern one level
    * down (n-gram instead of line).
    */
  def dupGramFraction(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 8, minDocFreq: Int = 2): DataFrame = {
    val grams = docs
      .select(col(idCol),
        explode_outer(TextFunctions.wordNgramsCol(col(textCol), n)).as("__g"))
      // explicit null guard: xxhash64(null) is the (non-null) seed hash,
      // which would count every zero-gram document as one shared "gram"
      .withColumn("__h", when(col("__g").isNotNull, xxhash64(col("__g"))))
      .drop("__g")
      // grams feeds BOTH the df count and the join-back, and each
      // evaluation re-runs the corpus-wide n-gram hashing (r20 dedicated
      // A/B: removing the reuse costs +40% in both rounds — the r19
      // "reuse is free" reading was suite-noise). r20: Reuse.pinned, not
      // localCheckpoint — this frame is TOKEN-proportional (one row per
      // n-gram, the largest intermediate in the engine), so truncating
      // its lineage would make any executor loss after materialization
      // fatal at 100 TB; the pinned RDD keeps the recompute path.
      .transform(Reuse.pinned)
    val freq = grams.filter(col("__h").isNotNull)
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    grams.join(freq, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__h")).as("n_grams"),
        count(when(col("__df") >= minDocFreq, 1)).as("n_dup"))
      .select(col(idCol), col("n_grams"), col("n_dup"),
        round(when(col("n_grams") === 0, 0.0)
          .otherwise(col("n_dup").cast("double") / col("n_grams")), 6)
          .as("dup_frac"))
  }

  /** Duplicated-span REMOVAL — the acting form of [[dupGramFraction]]'s
    * signal and the scalable approximation of suffix-array exact-substring
    * dedup (Lee et al. 2021): every token position covered by a word
    * `n`-gram whose corpus document frequency is ≥ `minDocFreq` is dropped,
    * and the document is rebuilt from the surviving tokens (lower-cased,
    * single-space joined — the normalized token stream downstream hashing
    * consumes). Returns (`idCol`, text, n_tokens, n_removed) for every
    * input row; documents shorter than `n` tokens pass through whole, and
    * a fully-duplicated document survives as an empty string (drop on
    * n_tokens == n_removed downstream if desired).
    *
    * Scale shape: positioned grams shuffle as xxhash64 keys into a
    * document-frequency count over DISTINCT (doc, gram) pairs, join back
    * co-partitioned on the hash, and only dup-gram START positions
    * aggregate per doc (bounded by the document's own length; coverage
    * is reconstructed span-wise in the rebuild kernel, so the old
    * n-fold covered-position explode never ships). The rebuild is a
    * local array filter — no token-level shuffle. 64-bit gram-hash
    * collisions conflate distinct grams' frequencies (the [[dedupLines]]
    * convention: negligible below ~10^9 distinct grams; widen to two
    * hashes above).
    */
  def trimDupGrams(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 8, minDocFreq: Int = 2): DataFrame = {
    val toks = coalesce(TextFunctions.tokens(lower(col(textCol))),
      array().cast("array<string>"))
    val base = docs.select(col(idCol), toks.as("__t"))
    // cached: feeds BOTH the frequency count and the covered join —
    // without it the corpus-wide gram hashing (the operator's dominant
    // cost) evaluates twice per action. posexplode's 0-based pos is
    // exactly the gram's start position.
    val posGrams = base
      .select(col(idCol),
        posexplode(call_function("pos_gram_hashes", col("__t"), lit(n))))
      .toDF(idCol, "__pos", "__h")
      .transform(Reuse.pinned)
    val freq = posGrams.select(col(idCol), col("__h")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocFreq)
    // per-doc dup-gram START positions only: on a heavily duplicated
    // corpus nearly every position is covered by some duplicated gram,
    // so exploding each dup gram to its n covered positions multiplied
    // the post-join shuffle by the gram width (the operator's measured
    // scale tail at 10×). The span kernels reconstruct coverage from the
    // sorted starts: token i is covered iff some start s has
    // s ≤ i ≤ s+n-1, and n_removed is the merged-interval total —
    // bit-identical to the covered-position spelling
    // (TextHashExpressionsSpec pins both spellings against UDF oracles).
    val starts = posGrams.join(freq, Seq("__h"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("__pos"))).as("__starts"))
    val rebuilt =
      call_function("rebuild_trimmed_spans", col("__t"), col("__starts"), lit(n))
    val nRemoved = call_function("spans_covered", col("__starts"), lit(n))
    base.join(starts, Seq(idCol), "left")
      .select(col(idCol),
        rebuilt.as("text"),
        size(col("__t")).as("n_tokens"),
        nRemoved.as("n_removed"))
  }

  /** Domain-mixture reweighting (the Pile / DoReMi-static shape): given
    * per-class target fractions of a `budgetTokens` training budget,
    * compute each class's sampling rate `min(1, budget·target / available)`
    * from its available token mass. Classes absent from `targets` get rate
    * 0. Returns (`classCol`, n_docs, n_tokens, target_frac, rate) — the
    * rate table [[stratifiedSample]] then applies for a deterministic,
    * dedup-consistent realization of the mixture. One map-side-combined
    * aggregate over the corpus; the targets are a broadcast literal.
    */
  def mixtureRates(docs: DataFrame, classCol: String, textCol: String,
                   targets: Map[String, Double],
                   budgetTokens: Long): DataFrame = {
    val targetFrac = targets.foldRight(lit(0.0): Column) {
      case ((cls, f), acc) => when(col(classCol) === cls, lit(f)).otherwise(acc)
    }
    docs
      .select(col(classCol),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("__nt"))
      .groupBy(col(classCol))
      // coalesce: an all-null-text class sums to NULL, which would slip
      // past the === 0 guard below and emit a NULL rate
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__nt")), lit(0L)).as("n_tokens"))
      .select(col(classCol), col("n_docs"), col("n_tokens"),
        targetFrac.as("target_frac"),
        // explicit zero-token guard: nothing available → rate 0, not the
        // engine-dependent NaN/Inf of a 0/0 or x/0 division
        round(when(col("n_tokens") === 0, 0.0).otherwise(
          least(lit(1.0),
            lit(budgetTokens.toDouble) * targetFrac /
              col("n_tokens").cast("double"))), 6).as("rate"))
  }

  /** UT1/C4-style blocklist gate: per-document counts of banned terms and
    * the `admitted` verdict at a banned-token-fraction threshold. Blocklist
    * entries containing a space match as word bigrams (all positions, so
    * "x x" hits twice in "x x x" — the standard sliding match); everything
    * else matches single tokens. Tokenization is the corpus convention
    * (trim + lower + whitespace split). Returns (`idCol`, n_tokens,
    * n_banned, n_banned_distinct, banned_frac, admitted); null text yields
    * null diagnostics and admitted = false (unscorable is not admitted),
    * zero-token documents are admitted with fraction 0.
    *
    * Scale shape: pure per-row expressions against plan-literal term
    * arrays — no shuffle, runs in the scan's codegen span, batch or
    * stream. Right for real blocklists (UT1 is ~kB–MB, a plan literal /
    * broadcast); a blocklist too large to broadcast would instead explode
    * tokens and broadcast-join, same as [[decontaminate]].
    */
  def blocklistGate(docs: DataFrame, idCol: String, textCol: String,
                    blocklist: Seq[String], maxFrac: Double): DataFrame = {
    val normed = blocklist.map(_.trim.toLowerCase(java.util.Locale.ROOT))
    val (phrases, words) = normed.partition(_.contains(" "))
    val t = TextFunctions.tokens(lower(col(textCol)))
    val wordsLit = lit(words.toArray)
    // phrases grouped by word count: an n-word entry is matched against
    // the document's n-grams, so 3+-word blocklist entries (UT1 lists
    // have them) are live, not silently dead
    val phrasesByLen = phrases
      .groupBy(_.split(" ", -1).length).toSeq.sortBy(_._1)
    // n-gram array via chained zip_with; trailing pairs hit the null pad
    // -> concat null -> never matches
    def ngrams(n: Int): Column =
      (2 to n).foldLeft(t) { (acc, i) =>
        zip_with(acc, slice(t, lit(i), greatest(size(t) - (i - 1), lit(0))),
          (a, b) => concat(a, lit(" "), b))
      }
    val wh = filter(t, x => array_contains(wordsLit, x))
    val phCols = phrasesByLen.map { case (n, ps) =>
      filter(ngrams(n), x => array_contains(lit(ps.toArray), x))
    }
    val ph = phCols
      .reduceOption(concat(_, _))
      .getOrElse(lit(Array.empty[String]))
    docs
      .select(col(idCol), size(t).as("n_tokens"),
        (size(wh) + size(ph)).as("n_banned"),
        size(array_distinct(concat(wh, ph))).as("n_banned_distinct"))
      .withColumn("banned_frac",
        when(col("n_tokens") === 0, 0.0).otherwise(
          round(col("n_banned").cast("double") / col("n_tokens"), 6)))
      .withColumn("admitted",
        coalesce(col("banned_frac") <= maxFrac, lit(false)))
  }

  /** Token-budget-capped corpus selection: keep the best documents, in
    * (`scoreCol` desc, `idCol` asc) order, until their cumulative
    * whitespace-token count first exceeds `budgetTokens` — the "spend the
    * compute budget on the highest-quality prefix" selection step that
    * follows quality scoring in a pretraining pipeline. Returns the
    * selected rows as (`idCol`, `scoreCol`, n_tokens, cum_tokens) with
    * cum_tokens the INCLUSIVE running total (monotone, so the kept set is
    * a contiguous quality-ordered prefix). Unscorable rows (null score or
    * id) are not candidates.
    *
    * Scale shape: the global running sum is the [[TrainingData
    * .shardByTokens]] machinery — [[OrderedPosition.withRunningSum]]
    * (range repartition + per-partition prefix + broadcast offset table),
    * never a `Window.orderBy` that would serialize the corpus onto one
    * task. Determinism: ordering is on the ROUNDED score with the id as
    * tie-break, and the cumulative mass is integer — no float-order
    * ambiguity crosses the cut.
    */
  def budgetSelect(docs: DataFrame, idCol: String, textCol: String,
                   scoreCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    val base = docs
      .filter(col(scoreCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol), col(scoreCol),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      // score desc via an ascending sort on the negation (exact for
      // doubles; all-equal scores collapse to one key either way)
      .withColumn("__neg", negate(col(scoreCol).cast("double")))
    OrderedPosition.withRunningSum(base, Nil, Seq("__neg", idCol),
        "n_tokens", "__pfx")
      .withColumn("cum_tokens", col("__pfx") + col("n_tokens"))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col(idCol), col(scoreCol), col("n_tokens"), col("cum_tokens"))
  }

  /** Pairwise vocabulary overlap between classes — the source-similarity
    * map (two sources sharing most of their vocabulary are near-duplicate
    * feeds; one sharing almost nothing is an outlier): exact Jaccard
    * |V_a ∩ V_b| / |V_a ∪ V_b| over distinct token sets, one row per
    * unordered class pair (class_a < class_b). Returns (class_a, class_b,
    * n_a, n_b, n_common, jaccard).
    *
    * Scale shape: ONE distinct on (class, token) — the only corpus-sized
    * shuffle; the intersection self-join is keyed by token and emits at
    * most |classes|²/2 rows per shared token (classes are tens, a config
    * quantity, not data-scale); per-class sizes broadcast back onto the
    * |classes|² pair aggregate. All integers, one division.
    */
  def vocabOverlap(docs: DataFrame, classCol: String,
                   textCol: String): DataFrame = {
    // r19: the distinct (class, token) table feeds FOUR consumers (the
    // self-join's two sides + two broadcast size subqueries) — pin ONE
    // evaluation of the tokenize + distinct shuffle with a lazy
    // checkpoint (the table is vocabulary × classes rows, O(vocab), not
    // O(corpus); previously each consumer re-ran the full corpus
    // tokenize pass)
    val pairs = docs
      .select(col(classCol).as("cls"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
      .distinct()
      .localCheckpoint(false)
    val sizes = pairs.groupBy(col("cls")).agg(count(lit(1)).as("n"))
    val a = pairs.select(col("cls").as("class_a"), col("token"))
    val b = pairs.select(col("cls").as("class_b"), col("token"))
    val common = a.join(b, Seq("token"))
      .filter(col("class_a") < col("class_b"))
      .groupBy(col("class_a"), col("class_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizes.select(col("cls").as("class_a"), col("n").as("n_a"))),
        Seq("class_a"))
      .join(broadcast(sizes.select(col("cls").as("class_b"), col("n").as("n_b"))),
        Seq("class_b"))
      .select(col("class_a"), col("class_b"), col("n_a"), col("n_b"),
        col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
  }

  /** Per-document token entropy — the information-density quality signal
    * (low-entropy documents are repetitive boilerplate; [[gopherGate]]'s
    * fraction rules catch some of this, entropy is the principled form):
    * Shannon H = −Σ (c/n)·ln(c/n) over the document's token counts, with
    * the sum folded in TOKEN-SORTED order over a per-document BOUNDED
    * list (the cross-engine float-fold convention). Returns (`idCol`,
    * n_tokens, n_distinct, entropy, 6 dp, `+0.0` normalizing the −0.0 a
    * single-token document's negation would produce). Documents with no
    * tokens (blank/null text) drop out — no tokens, no distribution.
    *
    * Scale shape: token explode → (doc, token) count (map-side combined,
    * high-cardinality keys) → per-doc bounded fold. The shuffle carries
    * (id, token-hash-sized) count rows, not text.
    */
  def tokenEntropy(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val counts = docs
      .select(col(idCol),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("c"))
    counts.groupBy(col(idCol))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        sort_array(collect_list(struct(col("token"), col("c")))).as("__l"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        (round(negate(aggregate(
          transform(col("__l"), x =>
            (x.getField("c").cast("double") / col("n_tokens")) *
              log(x.getField("c").cast("double") / col("n_tokens"))),
          lit(0.0), (acc, v) => acc + v)), 6) + lit(0.0)).as("entropy"))
  }

  /** Pearson correlation matrix between quality signals — the diagnostic
    * that tells you which curation signals are redundant (|r| → 1) before
    * you weight them. Input columns must be 6-dp-ROUNDED signals in
    * roughly [0, 1]; each is snapped to an exact ×10⁶ integer grid, so
    * every power sum is an EXACT integer (no float-sum order ambiguity),
    * and the textbook
    * `(nΣxy − ΣxΣy)/√(nΣx²−(Σx)²)√(nΣy²−(Σy)²)` runs ONCE on the exact
    * sums cast to double, spelled identically on both engines. Returns
    * one row per unordered pair: (sig_x, sig_y, n, r); zero-variance
    * signals yield null r (the guard is on the variance terms, so no
    * sqrt of a rounding-negative and no division by zero). Rows with any
    * null signal are dropped (complete-case).
    *
    * Scale shape: ONE map-side-combined aggregate over the corpus
    * computing all k + k·(k+1) sums in a single pass; the pair fan-out
    * explodes a literal array on the 1-row result. The square/product
    * sums are SPLIT-LONG exact (round-14): each per-row product
    * `p = (p >> 23)·2²³ + (p & (2²³−1))` — the floor shift + non-negative
    * mask identity holds for negative p too — and the two halves
    * accumulate in plain LONG hash-agg slots (whole-stage codegen, no
    * per-row Decimal allocation — the previous decimal accumulators were
    * the aggregate's cost), recombined into a decimal on the ONE result
    * row. Exactness domain: snapped |signal·10⁶| < 2²³ (signals to ±8.3)
    * keeps every half-sum below 2²³·n — exact past 10¹² rows; larger
    * values or counts overflow a LONG half-sum and raise under ANSI
    * (loud, never silently wrong), exactly like the previous decimal
    * spelling's precision ceiling.
    */
  def signalCorrelation(docs: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two signal columns")
    val scaled = docs.select(cols.map(c =>
      round(col(c) * 1000000, 0).cast("long").as(s"__$c")): _*)
      .na.drop()
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val B = 23
    val mask = (1L << B) - 1
    def halves(e: Column, tag: String): Seq[Column] = Seq(
      sum(shiftright(e, B)).as(s"hi_$tag"),
      sum(e.bitwiseAND(lit(mask))).as(s"lo_$tag"))
    val aggExprs: Seq[Column] =
      (count(lit(1)).as("n") +:
        cols.flatMap(c => Seq(sum(col(s"__$c")).as(s"s_$c")) ++
          halves(col(s"__$c") * col(s"__$c"), s"ss_$c"))) ++
        pairs.flatMap { case (a, b) =>
          halves(col(s"__$a") * col(s"__$b"), s"sp_${a}_$b")
        }
    val one = scaled.agg(aggExprs.head, aggExprs.tail: _*)
    // recombine the split halves exactly on the single result row:
    // 2²³·hi + lo as decimal (the halves are exact longs; the decimal
    // product/sum is exact integers well inside 38 digits)
    def joined(tag: String): Column =
      (col(s"hi_$tag").cast("decimal(38,0)") * lit(1L << B) +
        col(s"lo_$tag").cast("decimal(38,0)")).cast("double")
    val nd = col("n").cast("double")
    val rows = pairs.map { case (a, b) =>
      val sx = col(s"s_$a").cast("double")
      val sy = col(s"s_$b").cast("double")
      val vx = nd * joined(s"ss_$a") - sx * sx
      val vy = nd * joined(s"ss_$b") - sy * sy
      val sxy = joined(s"sp_${a}_$b")
      struct(lit(a).as("sig_x"), lit(b).as("sig_y"), col("n").as("n"),
        when(vx <= 0 || vy <= 0, lit(null).cast("double"))
          .otherwise(round((nd * sxy - sx * sy) / (sqrt(vx) * sqrt(vy)), 6))
          .as("r"))
    }
    one.select(explode(array(rows: _*)).as("p"))
      .select(col("p.sig_x"), col("p.sig_y"), col("p.n"), col("p.r"))
  }

  /** Per-class quantile-rank normalization — maps each document's score to
    * its within-class Hazen percentile `(rank + 0.5) / n` (rank 0-based in
    * (`scoreCol` asc, `idCol` asc) order), the cross-source calibration
    * step that makes one quality threshold comparable across sources whose
    * raw score distributions differ. Returns (`idCol`, `classCol`,
    * `scoreCol`, rank, n, quantile); Hazen never divides by zero (n ≥ 1)
    * and needs no n = 1 special case. Rows with null score or id are not
    * rankable and are dropped (engines disagree on null sort order).
    *
    * Scale shape: ranks come from [[OrderedPosition.withPosition]] (range
    * repartition + per-partition local ranks + broadcast offsets) — the
    * few-big-classes shape where a per-class `Window` would funnel each
    * class through one reducer; class counts are a broadcast-joined
    * map-side-combined aggregate. For MANY SMALL classes invert the
    * choice: a per-class window never serializes when every class fits a
    * partition.
    */
  def quantileNormalize(docs: DataFrame, classCol: String, idCol: String,
                        scoreCol: String): DataFrame = {
    val clean = docs.filter(col(scoreCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol), col(classCol), col(scoreCol))
    val ranked = OrderedPosition.withPosition(clean, Seq(classCol),
      Seq(scoreCol, idCol), "rank")
    val counts = clean.groupBy(col(classCol)).agg(count(lit(1)).as("n"))
    ranked.join(broadcast(counts), Seq(classCol))
      .select(col(idCol), col(classCol), col(scoreCol), col("rank"), col("n"),
        round((col("rank") + lit(0.5)) / col("n"), 6).as("quantile"))
  }

  /** Per-class tokenizer fertility — the multilingual tokenizer-efficiency
    * report (subwords per word and chars per subword by language): a
    * language whose fertility is high is over-segmented by the tokenizer
    * and under-represented per token budget. Uses the whitespace word
    * tokenizer and the BPE-ish subword regex ([[TextFunctions
    * .subwordCount]]). Returns (`classCol`, n_docs, n_words, n_subwords,
    * n_chars, fertility, chars_per_subword); ratios divide the INTEGER
    * class totals once (never an average of per-doc rounded ratios — the
    * order-dependence trap), zero denominators yield null.
    *
    * Scale shape: one map-side-combined aggregate of integer counts —
    * scan-rate per-row regex work, a shuffle of |classes| rows.
    */
  def tokenizerFertility(docs: DataFrame, classCol: String,
                         textCol: String): DataFrame =
    docs.select(col(classCol),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("__w"),
        TextFunctions.subwordCount(col(textCol)).cast("long").as("__s"),
        length(col(textCol)).cast("long").as("__c"))
      .groupBy(col(classCol))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__w")), lit(0L)).as("n_words"),
        coalesce(sum(col("__s")), lit(0L)).as("n_subwords"),
        coalesce(sum(col("__c")), lit(0L)).as("n_chars"))
      .select(col(classCol), col("n_docs"), col("n_words"),
        col("n_subwords"), col("n_chars"),
        when(col("n_words") === 0, lit(null)).otherwise(
          round(col("n_subwords").cast("double") / col("n_words"), 6))
          .as("fertility"),
        when(col("n_subwords") === 0, lit(null)).otherwise(
          round(col("n_chars").cast("double") / col("n_subwords"), 6))
          .as("chars_per_subword"))

  /** Per-class embedding centroid drift: the cosine between each class's
    * mean embedding and the corpus mean — the embedding-space analog of
    * [[sourceDivergence]] (a source whose centroid points away from the
    * corpus is distributionally off). Returns (`classCol`, n_vecs,
    * cos_centroid) with cosine rounded at 6 dp; an all-zero centroid (or
    * an empty class) yields null, never a 0/0.
    *
    * Determinism: per-dimension sums run in FIXED-POINT (floor(v·2^20) as
    * long) — exact integer addition in any order/partitioning, so no
    * float-sum ambiguity crosses engines; and cosine is scale-invariant,
    * so it is computed directly on the integer sum vectors (cnt and the
    * 2^20 scale cancel), with the final dot/norm folds running in
    * dimension order over BOUNDED (dim-length) lists.
    *
    * Scale shape: one equi-join docs↔embeddings (co-partitioned shuffle on
    * the id at corpus scale), one (class, dim) map-side-combined aggregate
    * — the shuffle carries dim·classes longs, not vectors; the corpus
    * centroid REUSES those partials (an aggregate over classes·dim rows),
    * broadcast back per dim.
    */
  def centroidDrift(docs: DataFrame, embeddings: DataFrame, classCol: String,
                    idCol: String, vecIdCol: String,
                    embCol: String): DataFrame = {
    val joined = docs.select(col(idCol), col(classCol))
      .join(embeddings.select(col(vecIdCol), col(embCol)),
        col(idCol) === col(vecIdCol))
      .select(col(classCol), posexplode(col(embCol)).as(Seq("dim", "v")))
    val scaled = floor(col("v").cast("double") * 1048576).cast("long")
    // r19: lazily checkpointed — grid feeds both the corpus-centroid agg
    // and the final scoring join, and each evaluation re-runs the
    // docs⋈embeddings join + full posexplode (the operator's dominant
    // cost); the checkpoint is classes × dims rows, trivially small
    val grid = joined.select(col(classCol), col("dim"), scaled.as("sv"))
      .groupBy(col(classCol), col("dim"))
      .agg(sum(col("sv")).as("s"), count(lit(1)).as("n"))
      .localCheckpoint(false)
    val corpus = grid.groupBy(col("dim")).agg(sum(col("s")).as("cs"))
    def orderedFold(c: Column): Column = aggregate(
      transform(sort_array(collect_list(struct(col("dim"), c.as("v")))),
        x => x.getField("v")),
      lit(0.0), (acc, x) => acc + x)
    grid.join(broadcast(corpus), "dim")
      .select(col(classCol), col("dim"), col("n"),
        (col("s").cast("double") * col("cs").cast("double")).as("prod"),
        (col("s").cast("double") * col("s").cast("double")).as("s2"),
        (col("cs").cast("double") * col("cs").cast("double")).as("c2"))
      .groupBy(col(classCol))
      .agg(max(col("n")).as("n_vecs"),
        orderedFold(col("prod")).as("dot"),
        orderedFold(col("s2")).as("ns"),
        orderedFold(col("c2")).as("nc"))
      .select(col(classCol), col("n_vecs"),
        when(col("ns") === 0 || col("nc") === 0, lit(null))
          .otherwise(round(col("dot") / (sqrt(col("ns")) * sqrt(col("nc"))), 6))
          .as("cos_centroid"))
  }

  /** Largest-remainder (Hamilton) apportionment of an exact document
    * budget across classes: integer quotas `floor(totalN·w/Σw)` plus one
    * extra seat for the `totalN − Σfloor` largest remainders (tie-break
    * class asc) — the exact-count companion to [[mixtureRates]] (which
    * realizes FRACTIONAL targets as sampling rates). Returns one row per
    * weighted class: (`classCol`, weight, n_docs, base, rem, alloc,
    * alloc_capped) with `alloc_capped = min(alloc, available)`; classes
    * absent from the corpus report n_docs 0. Feed `alloc_capped` per class
    * into [[sampleExactN]] to materialize the pick.
    *
    * Determinism/scale shape: the apportionment is PURE INTEGER CONFIG
    * MATH (weights × budget), computed once at plan time — no float
    * quotas, no data dependence; the corpus is touched by exactly one
    * map-side-combined count aggregate, joined to the broadcast-literal
    * allocation table.
    */
  /** The pure Hamilton seat math behind [[apportion]]: per class
    * (weight, base, rem, alloc) with Σalloc = totalN exactly. Exposed for
    * property tests (quota + house-monotonicity-free invariants hold by
    * construction of the largest-remainder method).
    */
  private[operators] def hamiltonAlloc(weights: Map[String, Long],
                                       totalN: Long): Seq[(String, Long, Long, Long, Long)] = {
    require(totalN >= 0, s"totalN must be >= 0, got $totalN")
    require(weights.nonEmpty && weights.values.forall(_ >= 0),
      "weights must be non-empty and non-negative")
    val den = weights.values.sum
    require(den > 0, "at least one weight must be positive")
    val base = weights.map { case (c, w) => c -> totalN * w / den }
    val rem = weights.map { case (c, w) => c -> totalN * w % den }
    val extra = totalN - base.values.sum // = Σ fractional parts < |classes|
    val seats = weights.keys.toSeq
      .sortBy(c => (-rem(c), c)).take(extra.toInt).toSet
    weights.keys.toSeq.sorted.map(c =>
      (c, weights(c), base(c), rem(c),
        base(c) + (if (seats(c)) 1L else 0L)))
  }

  def apportion(docs: DataFrame, classCol: String,
                weights: Map[String, Long], totalN: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val allocDf = hamiltonAlloc(weights, totalN)
      .toDF(classCol, "weight", "base", "rem", "alloc")
    // the count aggregate (≤ |classes|+1 rows) is the broadcast side: a
    // LEFT join preserves the literal allocation table, so the build side
    // must be the right
    val avail = docs.groupBy(col(classCol)).agg(count(lit(1)).as("__n"))
    allocDf.join(broadcast(avail), Seq(classCol), "left")
      .select(col(classCol), col("weight"),
        coalesce(col("__n"), lit(0L)).as("n_docs"),
        col("base"), col("rem"), col("alloc"),
        least(col("alloc"), coalesce(col("__n"), lit(0L))).as("alloc_capped"))
  }

  /** Hashed-feature linear classifier scoring at scan rate (fastText-style
    * quality-classifier inference): sigmoid of `bias + mean_tok
    * weights(h(tok) mod dim)` via the engine-portable
    * [[graft.functions.HashKernels.linearScore]] kernel. `label` applies
    * the 0.5 decision threshold; blank/null text → null score, label
    * false (unscorable ≠ high-quality). A per-row kernel over a broadcast
    * weight vector — no shuffle, batch or stream.
    */
  def linearScore(docs: DataFrame, idCol: String, textCol: String,
                  dim: Int, weights: Array[Double],
                  bias: Double): DataFrame = {
    require(weights.length == dim, "weights must have length dim")
    val scoreCol = call_function("linear_score", col(textCol),
      array(weights.map(w => lit(w)).toIndexedSeq: _*), lit(bias))
    docs.select(col(idCol),
      round(scoreCol, 6).as("score"))
      .withColumn("label", coalesce(col("score") >= 0.5, lit(false)))
  }

  /** Distinct word n-grams of the benchmark corpus, collected to the
    * driver for broadcast. Bounded by the BENCHMARK size (eval suites are
    * MBs against a corpus of TBs), and the bound is ENFORCED: the collect
    * is capped at `maxGrams + 1` rows, so a benchmark that isn't
    * broadcast-size fails fast with an error naming the join formulation
    * ([[decontaminate]]) instead of accumulating an unbounded gram set on
    * the driver.
    */
  def benchmarkGramSet(benchmark: DataFrame, textCol: String, n: Int,
                       maxGrams: Int = 5000000): Set[String] = {
    val spark = benchmark.sparkSession
    import spark.implicits._
    require(maxGrams > 0, s"maxGrams must be positive, got $maxGrams")
    // maxGrams + 1 must not overflow limit(): Int.MaxValue caps the probe
    val lim = if (maxGrams == Int.MaxValue) Int.MaxValue else maxGrams + 1
    val grams = benchmark
      .select(explode(TextFunctions.wordNgramsCol(col(textCol), n)).as("g"))
      .distinct().limit(lim).as[String].collect()
    require(grams.length <= maxGrams,
      s"benchmarkGramSet: the benchmark has more than $maxGrams distinct " +
        s"$n-grams — not broadcast-size. Use the keyed-join formulation " +
        "(Curation.decontaminate) for a large reference set, or raise maxGrams.")
    grams.toSet
  }

  /** The full curation chain as ONE stateless row gate — quality score,
    * contamination against a driver-broadcast benchmark shingle set, and
    * stratified content-hash sampling — emitting every input row with its
    * diagnostics plus the `admitted` verdict. Stateless means the same
    * operator runs unchanged over a batch table or a `readStream` source
    * (no watermark, no state store): the streaming-ingest formulation of
    * [[decontaminate]] + [[stratifiedSample]], batch/stream parity by
    * construction.
    */
  def ingestGate(docs: DataFrame, textCol: String, classCol: String,
                 benchGrams: org.apache.spark.broadcast.Broadcast[Set[String]],
                 n: Int, stopwords: Seq[String],
                 minQuality: Double, maxContamination: Double,
                 rates: Map[String, Double], defaultRate: Double,
                 denom: Int = 10000): DataFrame = {
    val contamUdf = udf((text: String) => {
      val grams = TextFunctions.wordNgramsKernel(text, n)
      if (grams.isEmpty) 0.0
      else {
        val set = benchGrams.value
        var hit = 0
        var i = 0
        while (i < grams.length) { if (set.contains(grams(i))) hit += 1; i += 1 }
        hit.toDouble / grams.length
      }
    })
    docs
      // explicit null-text guard: pieces of qualityScore individually
      // tolerate null (least() skips it) and would yield a misleading
      // mid-scale score — an unscorable doc gets null diagnostics
      .withColumn("quality",
        when(col(textCol).isNotNull,
          TextFunctions.qualityScore(col(textCol), stopwords)))
      .withColumn("contamination",
        when(col(textCol).isNotNull, round(contamUdf(col(textCol)), 6)))
      .withColumn("sample_bucket",
        pmod(TextFunctions.fingerprint(col(textCol)), lit(denom.toLong)))
      // and a null verdict is not a verdict: unscorable → NOT admitted
      .withColumn("admitted",
        coalesce(
          col("quality") >= minQuality &&
            col("contamination") <= maxContamination &&
            col("sample_bucket") < rateThreshold(classCol, rates, defaultRate, denom),
          lit(false)))
  }

  /** Size-guarded [[ingestGate]]: takes the benchmark as a DataFrame and
    * routes by its distinct-gram count instead of relying on caller
    * discipline. At or under `maxBroadcastGrams` the grams collect to the
    * driver and the scan-rate kernel path runs (identical to the
    * broadcast overload); over it, contamination comes from the
    * [[decontaminate]]-style keyed join — exploded doc grams against the
    * distinct benchmark grams, co-partitioned on gram, nothing
    * benchmark-sized on the driver — and the same gate columns apply.
    * Both routes emit bit-identical rows (the gram arrays are the same
    * distinct sets, the rounding the same 6 dp; spec-pinned).
    *
    * `idCol` keys the per-document join-back on the join route. Batch
    * only: the join route aggregates per document, so streaming callers
    * keep the broadcast overload (benchmark boundedness is their
    * contract).
    */
  def ingestGate(docs: DataFrame, idCol: String, textCol: String,
                 classCol: String, benchmark: DataFrame, benchTextCol: String,
                 n: Int, stopwords: Seq[String],
                 minQuality: Double, maxContamination: Double,
                 rates: Map[String, Double], defaultRate: Double,
                 denom: Int, maxBroadcastGrams: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // lazy checkpoint: the routing count materializes the explode +
    // distinct ONCE; both the broadcast collect and the join route then
    // reuse the pinned gram frame instead of recomputing it
    val bench = benchmark
      .select(explode(TextFunctions.wordNgramsCol(col(benchTextCol), n)).as("gram"))
      .distinct()
      .localCheckpoint(false)
    val gramCount = bench.count()
    // a set past the driver-collectible ceiling routes to the join path
    // no matter the budget — silently truncating the broadcast set would
    // let contaminated docs through, the one failure a gate must not have
    if (gramCount <= maxBroadcastGrams && gramCount < Int.MaxValue.toLong) {
      // the count above already proved the set fits the caller's budget,
      // so collect the pinned frame directly — no re-derivation, and no
      // secondary cap that could re-reject an explicitly sized benchmark
      val bc = spark.sparkContext.broadcast(
        bench.as[String].collect().toSet)
      ingestGate(docs, textCol, classCol, bc, n, stopwords,
        minQuality, maxContamination, rates, defaultRate, denom)
    } else {
      val contam = docs
        .select(col(idCol),
          explode_outer(TextFunctions.wordNgramsCol(col(textCol), n)).as("gram"))
        .join(bench.withColumn("__hit", lit(1)), Seq("gram"), "left")
        .groupBy(col(idCol))
        .agg(count(col("gram")).as("__n"), count(col("__hit")).as("__h"))
        .select(col(idCol),
          round(when(col("__n") === 0, 0.0)
            .otherwise(col("__h").cast("double") / col("__n")), 6).as("__contam"))
      docs.join(contam, Seq(idCol), "left")
        .withColumn("quality",
          when(col(textCol).isNotNull,
            TextFunctions.qualityScore(col(textCol), stopwords)))
        // null text must stay a null contamination (unscorable), exactly
        // like the kernel path — the join route's explode_outer would
        // otherwise report 0.0
        .withColumn("contamination",
          when(col(textCol).isNotNull, col("__contam")))
        .withColumn("sample_bucket",
          pmod(TextFunctions.fingerprint(col(textCol)), lit(denom.toLong)))
        .withColumn("admitted",
          coalesce(
            col("quality") >= minQuality &&
              col("contamination") <= maxContamination &&
              col("sample_bucket") < rateThreshold(classCol, rates, defaultRate, denom),
            lit(false)))
        // same column ORDER as the kernel route (the USING join hoists
        // idCol to the front)
        .select((docs.columns.toIndexedSeq.map(col) ++ Seq("quality", "contamination",
          "sample_bucket", "admitted").map(col)): _*)
    }
  }

  /** DSIR-style importance weighting (Xie et al. 2023, with word unigrams
    * in place of hashed n-grams): per-document average log-likelihood
    * ratio `mean_tok ln(p_target(tok)/p_raw(tok))` between a target
    * (high-quality / in-domain) corpus and the raw corpus, add-`alpha`
    * smoothed over the joint vocabulary. Positive = target-like; sampling
    * proportional to exp(weight) reshapes raw data toward the target
    * distribution. Returns (`idCol`, n_tokens, logratio) for every corpus
    * row; zero-token documents get n_tokens 0 and null logratio.
    *
    * Scale shape: two map-side-combined token counts (target is small by
    * assumption, raw shuffles 8-byte-hashable tokens) and a full-outer
    * vocab merge build the weight table; scoring then routes on the
    * vocab size the totals action already computed. At or under
    * `maxBroadcastVocab` entries the (token → weight) map collects to the
    * driver (bounded by the gate count — same discipline as
    * [[ingestGate]]) and scoring is a MAP-ONLY pass over the corpus: no
    * explode, no shuffle of the token stream, no per-token join — the
    * hot-token skew of a token-keyed join (every "the" on one partition)
    * never materializes. Over the gate, scoring falls back to the keyed
    * join of exploded corpus tokens against the weight table —
    * co-partitioned on token, nothing corpus-sized on the driver. Both
    * routes fold each document's weights in byte-order of the token
    * (code-point order == UTF-8 binary order, Spark's `sort_array`
    * collation), so they emit bit-identical rows (spec-pinned).
    */
  def importanceWeights(corpus: DataFrame, target: DataFrame,
                        idCol: String, textCol: String,
                        alpha: Double = 0.5,
                        maxBroadcastVocab: Long = 2000000L): DataFrame = {
    def toks(df: DataFrame) =
      df.select(explode(TextFunctions.tokens(lower(col(textCol)))).as("tok"))
    val tCnt = toks(target).groupBy(col("tok")).agg(count(lit(1)).as("ct"))
    val rCnt = toks(corpus).groupBy(col("tok")).agg(count(lit(1)).as("cr"))
    val vocab = tCnt.join(rCnt, Seq("tok"), "full_outer")
      .select(col("tok"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
      .localCheckpoint(false)
    // coalesce: an empty joint vocabulary (all-null/blank corpora) sums
    // to NULL, and getLong on a null cell would NPE the driver
    val totals = vocab.agg(coalesce(sum(col("ct")), lit(0L)),
      coalesce(sum(col("cr")), lit(0L)), count(lit(1))).head()
    val (nT, nR, v) = (totals.getLong(0), totals.getLong(1), totals.getLong(2))
    val weights = vocab.select(col("tok"),
      (log((col("ct") + alpha) / lit(nT + alpha * v)) -
        log((col("cr") + alpha) / lit(nR + alpha * v))).as("w"))
    if (v <= maxBroadcastVocab && v < Int.MaxValue.toLong) {
      // map-only route: the totals action above already proved the vocab
      // fits the gate, so collect the weight map directly (CollectGuard:
      // bounded by maxBroadcastVocab). Every corpus token is in the map
      // by construction (the vocab is a full outer over the corpus
      // counts), so a miss is a logic error — the null unboxing below
      // fails the task rather than scoring with a silent default.
      val spark = corpus.sparkSession
      // capacity clamped: v * 2 as an Int overflows negative past
      // Int.MaxValue/2 and HashMap would throw — the route guard only
      // requires v < Int.MaxValue (a raised maxBroadcastVocab can land
      // in between)
      val wMap = new java.util.HashMap[String, java.lang.Double](
        math.min(1 << 30, v * 2L).toInt)
      weights.collect().foreach(r => wMap.put(r.getString(0), r.getDouble(1)))
      val bc = spark.sparkContext.broadcast(wMap)
      // per-doc exact fold: token instances added in code-point order of
      // the token (== sort_array's UTF8 binary order on the join route),
      // equal tokens consecutively — bit-identical to the sorted
      // collect_list fold, so partial-merge order can never wobble the
      // 6-dp hash gate (the bm25TopK/tokenEntropy convention)
      val sumUdf = udf { ts: Seq[String] =>
        if (ts == null || ts.isEmpty) 0.0
        else {
          val m = new java.util.TreeMap[String, java.lang.Integer](codePointOrder)
          ts.foreach { t =>
            val prev = m.get(t)
            m.put(t, if (prev == null) 1 else prev.intValue() + 1)
          }
          var s = 0.0
          val it = m.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val w: Double = bc.value.get(e.getKey)
            var k = e.getValue.intValue()
            while (k > 0) { s += w; k -= 1 }
          }
          s
        }
      }
      corpus
        .select(col(idCol), TextFunctions.tokens(lower(col(textCol))).as("__t"))
        .select(col(idCol),
          coalesce(size(col("__t")), lit(0)).cast("long").as("n_tokens"),
          sumUdf(col("__t")).as("__s"))
        .select(col(idCol), greatest(col("n_tokens"), lit(0L)).as("n_tokens"),
          when(col("n_tokens") > 0,
            round(col("__s") / col("n_tokens"), 6)).as("logratio"))
    } else {
      // r19: explode_outer + left join keep zero-token documents as one
      // null-tok row through the single aggregation (the
      // bigramCrossEntropy rewrite) — the old corpus-id re-scan +
      // corpus-sized left join that restored them is gone. The
      // weights join was effectively total anyway (the vocab is a full
      // outer over the corpus counts, so every non-null token matches);
      // null-tok rows are skipped by count(col("tok")) and the masked
      // collect_list, and the zero-token guard emits a null logratio —
      // row-for-row the old result (RoutingFlipProbe pins the route
      // against the broadcast twin).
      corpus
        .select(col(idCol), explode_outer(TextFunctions.tokens(lower(col(textCol)))).as("tok"))
        .join(weights, Seq("tok"), "left")
        .groupBy(col(idCol))
        // order-exact mean: fold the doc's (tok, w) list sorted by token —
        // w is a function of tok, so ties fold identically
        .agg(count(col("tok")).as("n_tokens"),
          when(count(col("tok")) > 0,
            round(
              aggregate(
                sort_array(collect_list(when(col("tok").isNotNull,
                  struct(col("tok"), col("w"))))),
                lit(0.0), (acc, e) => acc + e.getField("w")) / count(col("tok")),
              6)).as("logratio"))
        .select(col(idCol), col("n_tokens"), col("logratio"))
    }
  }

  /** Code-point comparator for strings — the order `sort_array` applies
    * to UTF8String (unsigned UTF-8 byte comparison == code-point order),
    * which differs from Java's char-wise `compareTo` for supplementary
    * characters (surrogates sort before U+E000..U+FFFF in UTF-16).
    */
  private[graft] val codePointOrder: java.util.Comparator[String] =
    new java.util.Comparator[String] with Serializable {
      override def compare(a: String, b: String): Int = {
        var i = 0
        var j = 0
        while (i < a.length && j < b.length) {
          val ca = a.codePointAt(i)
          val cb = b.codePointAt(j)
          if (ca != cb) return Integer.compare(ca, cb)
          i += Character.charCount(ca)
          j += Character.charCount(cb)
        }
        Integer.compare(a.length - i, b.length - j)
      }
    }

  /** CCNet-style LM quality scoring with a bigram model: per-document
    * cross-entropy `-mean ln p(tok_i | tok_{i-1})` under an add-`alpha`
    * smoothed bigram LM trained on `reference` (the high-quality corpus).
    * Low cross-entropy = reference-like prose; high = OOV-heavy or
    * disfluent text — the head/middle/tail split CCNet buckets on.
    * Returns (`idCol`, n_bigrams, cross_entropy) for every corpus row;
    * documents with <2 tokens get n_bigrams 0 and null cross_entropy.
    *
    * Scale shape: reference n-gram counts are keyed aggregates (map-side
    * combined); the corpus explodes to (bigram, prefix) rows joined
    * against them — two co-partitioned keyed joins, bounded by corpus
    * token count, no driver-side model object. The vocabulary size is the
    * only scalar collected.
    */
  def bigramCrossEntropy(corpus: DataFrame, reference: DataFrame,
                         idCol: String, textCol: String,
                         alpha: Double = 0.5): DataFrame = {
    def bigrams(tc: Column): Column =
      zip_with(
        slice(tc, lit(1), greatest(size(tc) - 1, lit(0))),
        slice(tc, lit(2), greatest(size(tc) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))
    val t = TextFunctions.tokens(lower(col(textCol)))
    // tokenize the reference ONCE: the token arrays feed both count
    // tables and the vocab-size action (bounded by the reference corpus,
    // small by assumption — the q97 vocab-cache convention)
    val refToks = reference.select(t.as("__t"))
      .localCheckpoint(false)
    val refBi = refToks.select(explode(bigrams(col("__t"))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    val refUni = refToks.select(explode(col("__t")).as("prefix"))
      .groupBy(col("prefix")).agg(count(lit(1)).as("cu"))
      .localCheckpoint(false)
    val v = refUni.count()
    // r19: explode_outer keeps zero-bigram documents (null/blank/<2-token
    // text) as a single null-bg row through the ONE aggregation, so the
    // old corpus-id re-scan + corpus-sized sort-merge left join that
    // restored them is gone outright (guide §2.4 — one less exchange and
    // one less scan at any scale). Null bg rows join nothing (left
    // joins), are skipped by the collect_list (the `when` yields null)
    // and count(col("bg")), and the entropy guard emits null for them —
    // row-for-row the old left-join result.
    corpus
      .select(col(idCol), explode_outer(bigrams(t)).as("bg"))
      .withColumn("prefix", element_at(split(col("bg"), " ", 2), 1))
      .join(refBi, Seq("bg"), "left")
      .join(refUni, Seq("prefix"), "left")
      .withColumn("lp",
        log((coalesce(col("cb"), lit(0L)) + alpha) /
          (coalesce(col("cu"), lit(0L)) + lit(alpha * v))))
      .groupBy(col(idCol))
      // order-exact mean, as in importanceWeights: lp is a function of the
      // bigram string, so the bg-sorted fold is bit-deterministic
      .agg(count(col("bg")).as("n_bigrams"),
        // null (not NaN) for zero-bigram docs — the old left join's gap
        when(count(col("bg")) > 0,
          round(-(aggregate(
            sort_array(collect_list(when(col("bg").isNotNull,
              struct(col("bg"), col("lp"))))),
            lit(0.0), (acc, e) => acc + e.getField("lp")) / count(col("bg"))),
            6)).as("cross_entropy"))
      .select(col(idCol), col("n_bigrams"), col("cross_entropy"))
  }

  /** BM25 keyword retrieval: for each query (a small set of terms), the
    * top-`k` documents by the Robertson/Sparck-Jones BM25 score
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·len/avgdl))` with
    * `idf = ln((N − df + 0.5)/(df + 0.5) + 1)` — the retrieval primitive
    * behind query-based decontamination and targeted corpus audits.
    *
    * Scale shape: the corpus tokenizes in ONE scan total — a compact
    * per-doc projection `(doc_id, len, hits)` (hits = the query-term
    * tokens only, a sliver of the token stream) is lazily checkpointed
    * and feeds BOTH the corpus stats aggregate and the tf aggregate, so
    * the expensive tokenize pass never runs twice (r19: the previous
    * spelling evaluated the tokenize subtree once under the stats
    * broadcast and again under tf — two full corpus scans). Only hits
    * cross the tf shuffle; df and the corpus stats are broadcast-size;
    * the query-term table is a broadcast literal; the final per-query
    * top-k reduces through the `topk_by_score` partial heap — no
    * per-query reducer. At 100 TB the checkpoint is O(corpus rows) of
    * ~16 bytes + hit terms, not O(corpus bytes); the stats would be a
    * precomputed corpus statistic there anyway.
    * Document length uses the whitespace-token convention of
    * [[TextFunctions.tokens]] (lowercased), matching the oracle's CTE.
    */
  /** The compact per-doc projection [[bm25TopK]] pins: one tokenize pass
    * into (doc_id, len, hits) where `len` is the FULL whitespace-token
    * count (the BM25 length normalization) and `hits` keeps only the
    * query-term tokens — the sliver the tf/df aggregates need. Exposed
    * package-private so the spec can assert the hits-subset invariant
    * directly against the build.
    */
  private[operators] def bm25Compact(docs: DataFrame, idCol: String,
                                     textCol: String,
                                     allTerms: Seq[String]): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.tokens(lower(col(textCol))).as("ws"))
      .select(col("doc_id"), coalesce(size(col("ws")), lit(0)).as("len"),
        filter(col("ws"), t => t.isInCollection(allTerms)).as("hits"))

  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[(Long, Seq[String])], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val allTerms = queryTerms.flatMap(_._2).distinct
    // one tokenize pass: keep length + query-term hits, drop the tokens.
    // r20: Reuse.pinned, not localCheckpoint — the compact frame is
    // CORPUS-PROPORTIONAL (one row per doc), so a lineage-truncating
    // checkpoint would make any executor loss after materialization fatal
    // at the 100 TB design point; the pinned RDD keeps the recompute path
    // at the same storage level (see [[Reuse]]).
    val compact = Reuse.pinned(bm25Compact(docs, idCol, textCol, allTerms))
    val stats = compact.agg(count(lit(1)).as("n_docs"),
      sum(col("len")).cast("long").as("tot"))
    val qt = broadcast(queryTerms.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term"))
    val tf = compact.select(col("doc_id"), col("len"), explode(col("hits")).as("term"))
      .groupBy(col("doc_id"), col("len"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .join(qt, Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("ts",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * (lit(k1) + lit(1.0))) /
          (col("tf") + lit(k1) * ((lit(1.0) - lit(b)) +
            lit(b) * col("len") / (col("tot").cast("double") / col("n_docs")))))
      .groupBy(col("query_id"), col("doc_id"))
      // order-exact fold in term order, NOT sum(): IEEE addition is only
      // order-safe for two addends, and a 3+-term query's per-doc score
      // would otherwise depend on partial-aggregate merge order — an ULP
      // wobble the cross-engine hash gate can't tolerate at a rounding
      // boundary (per-group lists are bounded by the query's term count)
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("ts")))),
        lit(0.0), (acc, s) => acc + s.getField("ts")).as("cosine"))
      .select(col("query_id"), col("doc_id").as("neighbor_id"), col("cosine"))
    Similarity.topKReduce(scored, k)
      .withColumnRenamed("neighbor_id", "doc_id")
      .withColumnRenamed("cosine", "score")
  }

  /** Materialized inverted index: one row per distinct token of the
    * lower-cased corpus with document frequency (`df`), corpus frequency
    * (`cf`), and the first `maxPostings` postings `"doc:tf"` ordered by
    * ascending doc id — the explicit index-BUILD counterpart of
    * [[bm25TopK]]'s on-the-fly scoring (a real deployment writes this
    * table once, partitioned by term hash, and serves retrieval from it).
    *
    * Scale shape: one tokenize scan feeds ONE (term, doc) hash aggregate
    * (map-side combine; the shuffle carries (term, doc_id, tf) triples,
    * never text); df/cf and the capped posting selection reduce in ONE
    * per-term aggregate whose posting pick is a `topk_by_score` bounded
    * heap (score = −doc_id, exact below 2^53) — a stop-word with a
    * million-document posting list costs `maxPostings` heap entries, not
    * a collect_list of the corpus. The selected (term, doc) pairs then
    * join back to the persisted tf table for their tf values:
    * |vocab|·maxPostings rows against a co-partitioned equi join.
    * `truncated` marks terms whose posting list was capped (df still
    * counts every document).
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    maxPostings: Int): DataFrame = {
    val tf = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
      // null ids never post
      .where(col("doc_id").isNotNull)
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .transform(Reuse.pinned)
    val sel = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        call_function("topk_by_score",
          negate(col("doc_id").cast("double")), col("doc_id"),
          lit(maxPostings)).as("sel"))
      .select(col("term"), col("df"), col("cf"),
        explode(col("sel.neighbor_id")).as("doc_id"))
    sel.join(tf, Seq("term", "doc_id"))
      .groupBy(col("term"), col("df"), col("cf"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("doc_id"), col("tf")))),
        s => concat(s.getField("doc_id").cast("string"), lit(":"),
          s.getField("tf").cast("string"))), " ").as("postings"))
      .select(col("term"), col("df"), col("cf"), col("postings"),
        (col("df") > maxPostings).as("truncated"))
  }

  /** Per-document TF-IDF keyword extraction: the `k` highest
    * `tf · ln(N/df)` tokens of each document (ties to the
    * lexicographically smaller term) — the classic corpus-audit signal
    * ("what is this document about") and the feature base of TF-IDF
    * retrieval. Returns (doc_id, kw_rank 1..k, term, tf, df, score).
    *
    * Scale shape: ONE tokenize scan into the (term, doc) tf aggregate
    * (map-side combined, persisted — it feeds both df and the scoring
    * join); df is a per-term aggregate joined back on term (broadcast
    * while the vocabulary is; co-partitioned hash join when not); N is
    * one scalar row cross-joined in. The top-k is a per-DOCUMENT
    * `row_number` window — doc_id is maximally high-cardinality, so every
    * partition carries many small groups and no reducer serializes (the
    * string tie-break rules out the long-id `topk_by_score` heap).
    */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val tf = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .transform(Reuse.pinned)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * log(col("n").cast("double") / col("df")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("kw_rank", row_number().over(w).cast("int"))
      .filter(col("kw_rank") <= k)
      .select(col("doc_id"), col("kw_rank"), col("term"), col("tf"),
        col("df"), round(col("score"), 6).as("score"))
  }

  /** PMI collocation mining: the `k` strongest token collocations of the
    * corpus — unordered within-±`window` token pairs scored by pointwise
    * mutual information `ln( (c_ab/N_pairs) / ((c_a/N_tok)·(c_b/N_tok)) )`
    * with a `minCount` support floor (PMI is noise-dominated at low
    * counts). The classic collocation/phrase-discovery statistic
    * (Church & Hanks 1990), and the signal behind phrase-aware
    * tokenization. Returns (pair, c_ab, c_a, c_b, pmi) — top `k` by
    * (pmi desc, pair asc).
    *
    * Scale shape: pair generation is a per-row KERNEL (O(len·window) per
    * doc, zero shuffle) feeding a map-side-combined pair count — windowed
    * pairs, not the O(len²) all-pairs blow-up. Marginal token counts and
    * the two scalar totals reduce from the same persisted token table;
    * the scoring joins are keyed on term (broadcastable vocabulary). The
    * final top-k is a global ordered limit — Spark plans
    * TakeOrderedAndProject (per-partition heads + driver merge), never a
    * global sort.
    */
  def pmiCollocations(docs: DataFrame, textCol: String, window: Int = 5,
                      minCount: Long = 5, k: Int = 50): DataFrame = {
    val toks = docs
      .select(TextFunctions.tokens(lower(col(textCol))).as("t"))
      .transform(Reuse.pinned)
    val cab = toks
      .select(explode(call_function("window_pairs", col("t"), lit(window))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("c_ab"))
      .transform(Reuse.pinned)
    val ct = toks.select(explode(col("t")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val nTok = toks.agg(sum(coalesce(size(col("t")), lit(0)))
      .cast("long").as("n_tok"))
    val nPairs = cab.agg(sum(col("c_ab")).cast("long").as("n_pairs"))
    cab.filter(col("c_ab") >= minCount)
      .withColumn("a", element_at(split(col("pair"), " "), 1))
      .withColumn("b", element_at(split(col("pair"), " "), 2))
      .join(ct.withColumnRenamed("term", "a").withColumnRenamed("c", "c_a"), Seq("a"))
      .join(ct.withColumnRenamed("term", "b").withColumnRenamed("c", "c_b"), Seq("b"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nPairs))
      .withColumn("pmi", round(log(
        (col("c_ab").cast("double") * col("n_tok") * col("n_tok")) /
          (col("c_a").cast("double") * col("c_b") * col("n_pairs"))), 6))
      .select(col("pair"), col("c_ab"), col("c_a"), col("c_b"), col("pmi"))
      .orderBy(col("pmi").desc, col("pair").asc)
      .limit(k)
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio 1971 flavor): run
    * the keyword query, take its top-`kDocs` BM25 feedback documents, and
    * mine the `kTerms` most frequent NON-query terms from them — the
    * classic recall-repair loop (expand "dup" with the words duplicate
    * documents actually use). Weights are INTEGER occurrence counts
    * across the feedback set — ranking involves no float arithmetic at
    * all, so the expansion is hash-exact by construction. Returns
    * (query_id, exp_rank 1..kTerms, term, weight), ties to the
    * lexicographically smaller term.
    *
    * Scale shape: [[bm25TopK]] provides the feedback set (queries ×
    * kDocs rows — broadcast-small), which broadcast-joins the corpus on
    * doc id BEFORE tokenization, so only the feedback documents are ever
    * tokenized/exploded (r19: the previous spelling exploded the WHOLE
    * corpus's token stream and then broadcast-filtered it — a full
    * corpus tokenize pass to keep queries × kDocs documents); the weight
    * aggregate is map-side combined on (query, term); original query
    * terms leave via a broadcast anti-join. The top-k window partitions
    * by query id (bounded rows per group: the feedback docs'
    * vocabulary).
    */
  def queryExpansion(docs: DataFrame, idCol: String, textCol: String,
                     queryTerms: Seq[(Long, Seq[String])],
                     kDocs: Int, kTerms: Int,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val feedback = bm25TopK(docs, idCol, textCol, queryTerms, kDocs, k1, b)
      .select(col("query_id"), col("doc_id"))
    val qt = broadcast(queryTerms.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term"))
    // join the broadcast-small feedback set BEFORE tokenizing: only the
    // queries × kDocs feedback documents pay the tokenize + explode (the
    // inner join on doc id commutes with exploding a non-key column, so
    // the (query_id, term) multiset is identical to exploding first)
    val weights = docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__text"))
      .join(broadcast(feedback), Seq("doc_id"))
      .select(col("query_id"),
        explode(TextFunctions.tokens(lower(col("__text")))).as("term"))
      .groupBy(col("query_id"), col("term"))
      .agg(count(lit(1)).as("weight"))
      .join(qt, Seq("query_id", "term"), "left_anti")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("weight").desc, col("term").asc)
    weights.withColumn("exp_rank", row_number().over(w).cast("int"))
      .filter(col("exp_rank") <= kTerms)
      .select(col("query_id"), col("exp_rank"), col("term"), col("weight"))
  }

  /** Snapshot diff for incremental corpus refresh: classify every doc id
    * across two snapshots as added / removed / changed / unchanged by the
    * engine-portable content fingerprint. Presence is tracked by explicit
    * markers (NOT by fingerprint nullity — a null-text document has a
    * null fingerprint yet still exists), and content equality is
    * null-safe, so two null-text snapshots of a doc compare unchanged.
    *
    * Scale shape: each side reduces to `(id, 8-byte fingerprint, marker)`
    * BEFORE the full-outer shuffle — document text never crosses the
    * wire, and the join carries ~17 bytes/row however wide the corpus.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol).cast("long").as("doc_id"),
      TextFunctions.fingerprint(col(textCol)).as("old_fp"),
      lit(true).as("__in_old"))
    val n = newDocs.select(col(idCol).cast("long").as("doc_id"),
      TextFunctions.fingerprint(col(textCol)).as("new_fp"),
      lit(true).as("__in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("old_fp"), col("new_fp"),
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(col("old_fp") <=> col("new_fp"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Reciprocal-rank fusion of two retrieval result sets (the hybrid
    * keyword+vector search pattern): each input is a per-query top-k
    * table `(query_id, doc_id, score)`; ranks are assigned within each
    * list by `(score desc, doc_id)` and fused as `Σ 1/(c + rank)`.
    *
    * Determinism: ranks are computed on the lists' 6-dp-ROUNDED scores
    * (what [[bm25TopK]]/[[Similarity]] emit — already hash-verified
    * cross-engine), ties break by doc id, and the two RRF addends sum
    * commutatively (IEEE addition is order-safe for exactly two terms).
    * The rank windows run over top-k RESULT sets (k·queries rows), never
    * the corpus — per-query partitions are bounded by k, so the window
    * is not a scale concern here.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60): DataFrame = {
    // inputs are positional: (query id, doc id, score) whatever the names
    def ranked(df: DataFrame) = {
      val Array(q, dId, sc) = df.columns
      df.select(col(q).as("query_id"), col(dId).as("doc_id"),
        row_number().over(Window.partitionBy(col(q))
          .orderBy(col(sc).desc, col(dId))).as("rank"))
    }
    val fused = ranked(a).unionByName(ranked(b))
      .groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
      .agg(sum(lit(1.0) / (lit(c.toDouble) + col("rank"))).as("cosine"))
    Similarity.topKReduce(
        fused.select(col("query_id"), col("neighbor_id"), col("cosine")), k)
      .withColumnRenamed("neighbor_id", "doc_id")
      .withColumnRenamed("cosine", "rrf")
  }
}
