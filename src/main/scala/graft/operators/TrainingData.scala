package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Training-data pipeline operators beyond dedup/similarity: deterministic
  * dataset splitting and sequence packing. Both are pure column/window
  * plans and both are engine-portable (the split hash is the modular
  * rolling fingerprint), so they're value-checked against the DuckDB
  * oracle — reproducibility of the train/test split IS the product
  * requirement here.
  */
object TrainingData {

  // Shadows functions.round: every oracle-compared column rounds with
  // DuckDB-exact semantics (see graft.functions.Rounding) so half-boundary
  // values hash identically on both engines.
  private def round(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    graft.functions.Rounding.dround(c, scale)

  /** Deterministic split assignment from the CONTENT hash (not the id):
    * re-ingesting the same document always lands in the same split, across
    * engines and runs. `fractions` are (label, weight) pairs; buckets are
    * `fingerprint(text) mod 100` cut at cumulative percentages.
    *
    * Null text → null label (null fingerprint → null bucket → `element_at`
    * with a null index is null): a document with no content has no
    * deterministic home, and silently defaulting it into the last split —
    * what a trailing `otherwise` would do — is the wrong call for a
    * reproducibility primitive. Filter or impute nulls upstream.
    */
  def hashSplit(text: Column, fractions: Seq[(String, Double)]): Column = {
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9, "fractions must sum to 1")
    val cuts = fractions.scanLeft(0.0)(_ + _._2).tail.map(f => math.round(f * 100).toInt)
    // precompute the bucket→label table and look it up with ONE array index:
    // a when-chain would embed the fingerprint expression once per branch and
    // Catalyst evaluates it per reference (measured 3× per row on q55)
    val labels = (0 until 100).map { b =>
      fractions.map(_._1).zip(cuts).collectFirst { case (l, cut) if b < cut => l }
        .getOrElse(fractions.last._1)
    }
    val bucket = (TextFunctions.fingerprint(text) % 100).cast("int")
    // slot 101 holds the null label and null buckets are coalesced onto it:
    // element_at over an all-non-null literal array reports nullable=false
    // under ANSI even with a nullable index (null index → null value), which
    // corrupts downstream projections; the explicit null slot makes the
    // array containsNull=true so the nullability is honest. coalesce also
    // keeps the fingerprint evaluated once (a when() guard would evaluate it
    // in both the condition and the branch).
    val slots = (labels :+ null).map(l => lit(l).cast("string"))
    element_at(array(slots: _*), coalesce(bucket, lit(100)) + lit(1))
  }

  /** Sequence packing (context-window fill): per `keys` series ordered by
    * `orderCols`, documents are assigned to consecutive packs of ~`capacity`
    * tokens using the streaming-fill rule `pack = floor(tokens_before /
    * capacity)` — the window-expressible approximation of greedy packing
    * (true greedy close-when-overflow needs sequential state; this one is a
    * single window cumsum, scales with the shuffle, and overshoots a pack
    * by at most one document). Appends `pack_id` and `pack_pos`.
    */
  def packSequences(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                    tokenCol: String, capacity: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sum(col(tokenCol)).over(w)
    df.withColumn("__cum", cum)
      .withColumn("pack_id", floor((col("__cum") - col(tokenCol)) / capacity).cast("long"))
      .withColumn("pack_pos",
        row_number().over(Window.partitionBy((keys.map(col) :+ col("pack_id")): _*)
          .orderBy(orderCols.map(col): _*)))
      .drop("__cum")
  }

  /** Fixed-token-window document chunking with overlap — the "split long
    * documents into context-window pieces" step before packing. Tokens are
    * whitespace tokens (swap in a real tokenizer's pieces upstream if
    * needed); chunk `i` covers tokens `[i*stride, i*stride + window)`, the
    * last chunk may be short, and a document of ≤ `window` tokens yields
    * exactly one chunk. Blank/null documents yield none. Appends
    * (chunk_idx, n_tokens, chunk); one output row per chunk.
    *
    * Pure per-row expressions (split + sequence + explode + slice): no
    * shuffle, no state — scales with the scan. With stride < window,
    * consecutive chunks overlap by `window - stride` tokens (the usual
    * training-data striding).
    */
  def chunkByTokens(df: DataFrame, textCol: String,
                    window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, s"window/stride must be positive")
    val toks = TextFunctions.tokens(col(textCol))
    val n = size(toks)
    // 1 + ceil((n - window) / stride) chunks, integer arithmetic identical
    // in any engine: 1 + (n - window + stride - 1) div stride
    val nChunks = when(n <= lit(window), lit(1))
      .otherwise(lit(1) + floor((n - window + stride - 1) / lit(stride.toDouble)).cast("int"))
    df.filter(col(textCol).isNotNull && n > 0)
      .withColumn("chunk_idx", explode(sequence(lit(0), nChunks - 1)))
      .withColumn("__ctoks", slice(toks, col("chunk_idx") * stride + 1, lit(window)))
      .withColumn("n_tokens", size(col("__ctoks")))
      .withColumn("chunk", array_join(col("__ctoks"), " "))
      .drop("__ctoks")
  }

  /** Token-balanced GLOBAL shard assignment: `shard_id = floor(global
    * exclusive token prefix / targetTokens)` in `orderCols` order — the
    * write-side partitioner for training shards of roughly equal token
    * mass (row-count partitioning skews when document lengths do).
    *
    * [[packSequences]] is the per-key version and uses a per-key window;
    * the GLOBAL prefix here would serialize the corpus onto one task as a
    * window, so it runs through
    * [[OrderedPosition.withRunningSum]] (range repartition + per-partition
    * prefix + broadcast offset table) — fully parallel.
    */
  def shardByTokens(df: DataFrame, orderCols: Seq[String], tokenCol: String,
                    targetTokens: Long): DataFrame = {
    require(targetTokens > 0, s"targetTokens must be positive, got $targetTokens")
    OrderedPosition.withRunningSum(df, Nil, orderCols, tokenCol, "__pfx")
      .withColumn("shard_id", floor(col("__pfx") / targetTokens).cast("long"))
      .drop("__pfx")
  }

  /** Per-group robust feature normalization — the standard numeric-feature
    * preparation stage: exact-percentile winsorization bounds plus a
    * z-score, emitted per input row.
    *
    * Determinism notes (the cross-engine hash gate):
    *  - std comes from `(n, Σx, Σx²)` with the textbook formula written
    *    IDENTICALLY on both engines — never from a `stddev` aggregate,
    *    whose partial-merge recurrences differ between engines;
    *  - the winsorization bounds are ROUNDED (6 dp) before use, so the
    *    clip and the outlier verdict compare against the same constant in
    *    both engines (the rounded-threshold convention);
    *  - null values propagate (null z / null verdict), matching SQL.
    *
    * Scale shape: ONE aggregate over the group keys (exact `percentile`
    * is a sort-based aggregate — at 100 TB swap in `approx_percentile`,
    * same call shape), broadcast back — no second shuffle of the data.
    *
    * Degenerate groups (one row, or zero variance) yield null z via an
    * explicit guard on `n` and the variance NUMERATOR — the guard must
    * not itself divide by `n−1`, which is 0 for singletons and, under
    * this build's ANSI default, would abort the job rather than null.
    */
  def normalizeValues(df: DataFrame, groupCol: String, valueCol: String,
                      idCols: Seq[String], pLo: Double = 0.05,
                      pHi: Double = 0.95): DataFrame = {
    val v = col(valueCol)
    val stats = df.groupBy(col(groupCol)).agg(
      count(v).as("__n"),
      sum(v).as("__sx"),
      sum(v * v).as("__sxx"),
      round(percentile(v, lit(pLo)), 6).as("__lo"),
      round(percentile(v, lit(pHi)), 6).as("__hi"))
    // sign(variance) == sign(this numerator) since n−1 > 0 when n > 1
    val varNum = col("__sxx") - col("__sx") * col("__sx") / col("__n")
    df.join(broadcast(stats), groupCol)
      .select(idCols.map(col) ++ Seq(
        col(groupCol), v,
        when(col("__n") === 1 || varNum <= 0, lit(null).cast("double"))
          .otherwise(round((v - col("__sx") / col("__n")) /
            sqrt(varNum / (col("__n") - 1)), 6)).as("z"),
        // explicit null guard: Spark's least/greatest IGNORE nulls (they
        // would return the bound for a null value), and engines disagree
        // on null-vs-ignore semantics here — never rely on either
        when(v.isNull, lit(null).cast("double"))
          .otherwise(round(least(greatest(v, col("__lo")), col("__hi")), 6))
          .as("winsorized"),
        (v < col("__lo") || v > col("__hi")).as("is_outlier")): _*)
  }

  /** Mean-pooled group embedding — the chunk→document pooling step of an
    * embedding pipeline: the element-wise mean of each group's vectors
    * plus its L2-normalized (unit) form. Returns one row per group with
    * `pooled` and `unit` arrays (null unit for a zero-norm pool, guarded
    * — ANSI would abort on the division).
    *
    * Determinism: vectors fold in `orderCol` order from a ZERO seed
    * (`0.0 + x == x`, so the seed is free and the spelling matches the
    * oracle's `list_reduce(list_prepend(0.0, list(... ORDER BY ...)))`
    * exactly); the norm folds the means in dim order. Per-group work is
    * bounded by the group's chunk count — no window, one aggregate.
    *
    * Contract: vectors must share one dimensionality (`zip_with` nulls a
    * ragged fold — caller error); NULL vectors are DROPPED before
    * pooling, and `n` counts only pooled rows, so one bad chunk never
    * nulls its whole group.
    */
  def meanPoolEmbeddings(df: DataFrame, groupCol: String, vecCol: String,
                         orderCol: String): DataFrame = {
    val g = df.filter(col(vecCol).isNotNull).groupBy(col(groupCol)).agg(
      sort_array(collect_list(struct(col(orderCol).as("o"),
        col(vecCol).cast("array<double>").as("e")))).as("vs"),
      count(lit(1)).as("n"))
    val zero = transform(element_at(col("vs"), 1).getField("e"), _ => lit(0.0))
    val pooled = transform(
      aggregate(col("vs"), zero, (acc, s) =>
        zip_with(acc, s.getField("e"), (a, x) => a + x)),
      x => x / col("n"))
    // normalize in a one-pass kernel: a transform-lambda would re-fold
    // the O(dim) norm per element (the int8Quantize O(dim²) lesson)
    g.select(col(groupCol), col("n"), pooled.as("pooled"))
      .withColumn("unit", graft.functions.VectorFunctions.l2Normalize(col("pooled")))
  }

  /** Deterministic epoch shuffle — reproducible training-data ordering:
    * every epoch gets a different but REPRODUCIBLE permutation (same
    * corpus, same epoch → same order, on any cluster, any partitioning —
    * the property `rand(seed)` loses the moment partitioning changes).
    *
    * The shuffle key is `md5("id:epoch")` (lowercase hex, ordered as a
    * binary-collated string) — full avalanche, so neighbouring ids land
    * anywhere, and every SQL engine produces the identical digest.
    * Weaker spellings caught by the permutation spec before they
    * shipped: a rolling polynomial hash of the short "id:epoch" string
    * never wraps its modulus (key stays MONOTONE in the id — zero
    * shuffling), and an affine `(id·P+c) mod 2⁴⁰` with an
    * overflow-safe P only wraps for ids above M/P (small corpora again
    * order by id). The global position is assigned window-free through
    * [[OrderedPosition.withPosition]] (range partition + per-partition
    * offsets) — no single-reducer `row_number` over the corpus.
    */
  def epochOrder(df: DataFrame, idCol: String, epoch: Int): DataFrame =
    epochOrders(df, idCol, Seq(epoch)).drop("epoch")

  /** All `epochs` in ONE pass: the epoch fans out as a column before
    * keying, and the position runs per-epoch through a single
    * epoch-keyed [[OrderedPosition]] (one scan, one range exchange, one
    * offset job — not one per epoch). NULL ids are dropped: a document
    * without an identity has no reproducible place in any order, and a
    * null key would sort NULLS FIRST on one engine and NULLS LAST on
    * the other, shifting every position.
    */
  def epochOrders(df: DataFrame, idCol: String, epochs: Seq[Int]): DataFrame = {
    require(epochs.nonEmpty, "epochs must be non-empty")
    val keyed = df.filter(col(idCol).isNotNull)
      .withColumn("epoch", explode(array(epochs.map(lit): _*)))
      .withColumn("shuffle_key",
        md5(concat(col(idCol).cast("string"), lit(":"),
          col("epoch").cast("string")).cast("binary")))
    OrderedPosition.withPosition(keyed, Seq("epoch"),
      Seq("shuffle_key", idCol), "position")
  }

  /** Global quantile-bucket assignment WITHOUT `ntile` — the curriculum/
    * difficulty-binning step. `ntile(n) OVER (ORDER BY v)` funnels the
    * entire table through ONE reducer; this computes the n−1 exact
    * interpolated quantile thresholds in one aggregate (a single row),
    * broadcasts them, and assigns `bucket = #{thresholds < value}` at
    * scan rate. Value-based semantics (ties share a bucket; bucket
    * populations are only approximately equal), which is what a
    * reproducible curriculum wants anyway — a re-shuffled corpus gets
    * identical buckets, unlike ntile's row-number splits.
    *
    * Thresholds are ROUNDED (6 dp) before the comparison — the
    * rounded-threshold convention, so both engines compare against the
    * same constants. Null values get null buckets.
    */
  def quantileBuckets(df: DataFrame, valueCol: String, nBuckets: Int,
                      idCols: Seq[String]): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val v = col(valueCol)
    val ps = array((1 until nBuckets).map(i => lit(i.toDouble / nBuckets)): _*)
    val ths = df.agg(
      transform(percentile(v, ps), t => round(t, 6)).as("__ths"))
    df.crossJoin(broadcast(ths))
      .select(idCols.map(col) :+ v :+
        when(v.isNull, lit(null).cast("long"))
          .otherwise(aggregate(col("__ths"), lit(0L),
            (acc, t) => acc + when(v > t, 1L).otherwise(0L))).as("bucket"): _*)
  }

  /** Per-group distribution audit: mean / std / skewness / kurtosis
    * derived from the POWER SUMS `(n, Σx, Σx², Σx³, Σx⁴)` — one
    * map-side-combined aggregate, never the engines' builtin moment
    * aggregates (their partial-merge recurrences differ engine to
    * engine). The population-moment formulas are written identically on
    * both sides; `m2^1.5` is spelled `sqrt(m2)·m2` (pow implementations
    * differ in ULPs, sqrt is IEEE-exact). Zero-variance groups yield
    * null skew/kurtosis via an explicit guard.
    *
    * The excess-kurtosis convention: kurt = m4/m2² − 3 (normal → 0).
    */
  def momentStats(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val sums = df.groupBy(col(groupCol)).agg(
      count(v).as("n"), sum(v).as("sx"), sum(v * v).as("sxx"),
      sum(v * v * v).as("sxxx"), sum(v * v * v * v).as("sxxxx"))
    val mu = col("sx") / col("n")
    val m2 = col("sxx") / col("n") - mu * mu
    val m3 = col("sxxx") / col("n") - lit(3) * mu * (col("sxx") / col("n")) +
      lit(2) * mu * mu * mu
    val m4 = col("sxxxx") / col("n") - lit(4) * mu * (col("sxxx") / col("n")) +
      lit(6) * mu * mu * (col("sxx") / col("n")) - lit(3) * mu * mu * mu * mu
    sums.select(col(groupCol), col("n"),
      round(mu, 6).as("mean"),
      // guard the sqrt too: catastrophic cancellation can leave m2 a
      // tiny NEGATIVE for constant groups — Spark sqrt(−ε) is NaN and
      // DuckDB raises; a non-positive m2 means the true std is 0
      when(m2 <= 0, lit(0.0)).otherwise(round(sqrt(m2), 6)).as("std"),
      when(m2 <= 0, lit(null).cast("double"))
        .otherwise(round(m3 / (sqrt(m2) * m2), 6)).as("skewness"),
      when(m2 <= 0, lit(null).cast("double"))
        .otherwise(round(m4 / (m2 * m2) - lit(3), 6)).as("kurtosis"))
  }
}
