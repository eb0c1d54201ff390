package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline surface: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. All shuffle-conscious:
  *
  *  - exact dedup is one hash-groupBy (map-side combine) — no full-text
  *    shuffle, only the 64-bit hash + id;
  *  - MinHash/LSH candidate generation shuffles only (band_id, band_hash,
  *    doc_id) triples, never documents, and pairs are emitted per LSH
  *    bucket so the quadratic blow-up is bounded by bucket size;
  *  - verification re-joins the shingle sets for candidate pairs only.
  */
object Dedup {

  // Shadows functions.round: every oracle-compared column rounds with
  // DuckDB-exact semantics (see graft.functions.Rounding) so half-boundary
  // values hash identically on both engines.
  private def round(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    graft.functions.Rounding.dround(c, scale)

  /** Word shingles (k-grams) of the lower-cased text as an array column;
    * documents shorter than k words get their whole token sequence as one
    * shingle.
    */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")
    val n = size(toks)
    when(n <= k, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), n - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  /** Distinct shingle 64-bit hashes (the MinHash universe for a doc). */
  def shingleHashes(text: Column, k: Int): Column =
    array_distinct(transform(shingles(text, k), s => xxhash64(s)))

  /** MinHash signature of length `numHashes`: hᵢ = min over shingles of
    * xxhash64(shingle, i). Deterministic, pure expressions.
    */
  def minHashSignature(text: Column, k: Int, numHashes: Int): Column = {
    val hashes = shingleHashes(text, k)
    array((0 until numHashes).map { i =>
      array_min(transform(hashes, h => xxhash64(h, lit(i))))
    }: _*)
  }

  /** LSH band keys: the signature split into `bands` bands of `rowsPerBand`,
    * each band hashed to one long. Emitted as array of structs
    * (band, band_hash); explode + groupBy(band, band_hash) gives candidate
    * buckets.
    */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(slice(signature, b * rowsPerBand + 1, rowsPerBand), lit(b)).as("band_hash"))
    }: _*)

  /** Exact dedup: keep the row with the smallest `idCol` per identical
    * `text` (compared via 128-bit-ish (xxhash64, length) key so the shuffle
    * carries hashes, not documents). Returns the de-duplicated rows.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keyed = df.withColumn("__k", xxhash64(col(textCol)))
      .withColumn("__len", length(col(textCol)))
    val w = Window.partitionBy(col("__k"), col("__len")).orderBy(col(idCol))
    keyed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__k", "__len", "__rn")
  }

  /** Incremental at-ingest exact dedup — the continuous-pipeline shape:
    * de-duplicate the NEW batch internally ([[exactDedup]], min-id
    * survivor), then drop every row whose content key already exists in
    * the SEEN corpus. Returns the surviving new rows.
    *
    * A lazy plan (building the frame runs no job): the anti join
    * carries 12-byte `(xxhash64, length)` keys, never text, and Spark
    * picks its strategy — a broadcast of the seen keys when they are
    * small, a co-partitioned shuffle otherwise. Null-text rows survive:
    * a null `length` never equi-matches a seen key. Same 64-bit+length
    * collision convention as [[exactDedup]]. The streaming twin
    * (state-store keys within a watermark horizon) is
    * [[graft.streaming.StreamingOps.dedupDocs]].
    */
  def incrementalDedup(newDocs: DataFrame, seen: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    def keyed(df: DataFrame) = df
      .withColumn("__k", xxhash64(col(textCol)))
      .withColumn("__len", length(col(textCol)))
    keyed(exactDedup(newDocs, textCol, idCol))
      .join(keyed(seen).select(col("__k"), col("__len")), Seq("__k", "__len"), "left_anti")
      .drop("__k", "__len")
  }

  /** Exact-dup groups: (keep_id, copies) per distinct text — the audit view
    * of [[exactDedup]].
    */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("__k"), length(col(textCol)).as("__len"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))
      .drop("__k", "__len")
      .select("keep_id", "copies")

  /** Restores executor parallelism for a KERNEL-bound stage fed by a
    * materialized (checkpointed/cached) frame.
    *
    * AQE sizes post-shuffle partitions by BYTES, which is right for
    * scans and joins but wrong for stages whose per-row cost dwarfs
    * their per-byte cost: [[minHashDupPairs]]'s signature stage
    * (shingle hashing + 64-way MinHash per distinct text) landed on ONE
    * AQE-coalesced partition at 10× grown data and ran the whole kernel
    * pass on one core — the entire measured "data-proportionality" of
    * q28 (scale ratio 5.75× before, 2.11× after). The explicit
    * numPartitions repartition below is exempt from AQE re-coalescing.
    *
    * Spreading is data-driven, not unconditional: the input must already
    * be materialized, so the count is one trivial job over cached
    * blocks, and a frame under `minRowsPerPartition` rows/partition has
    * too little kernel work to amortize the extra exchange (measured:
    * unconditional spreading cost ~+0.5 s at sf0.1 where one partition
    * holds only ~5k texts). At genuine cluster scale the input arrives
    * already multi-partition and this is a no-op.
    */
  private[operators] def spreadForKernelStage(
      materialized: DataFrame,
      minRowsPerPartition: Long = 16384): DataFrame = {
    val parallelism = materialized.sparkSession.sparkContext.defaultParallelism
    val parts = materialized.rdd.getNumPartitions
    if (parts < parallelism &&
        materialized.count() / math.max(parts, 1) >= minRowsPerPartition)
      materialized.repartition(parallelism)
    else materialized
  }

  /** Step 1 of [[minHashDupPairs]]: collapse exact duplicates into
    * (rep, members, text) — rep = min id, members = sorted ids, text =
    * the group's (identical) text. The aggregate exchange carries ONLY
    * (hash, len, id): texts are fetched AFTER aggregation by an id-keyed
    * join back to the corpus, so each distinct text crosses a shuffle
    * exactly once. A `first(text)` aggregate would instead ship a
    * mega-group's text once per map partition through the groupBy
    * exchange — at 100 TB a boilerplate doc copied 1M times rides the
    * shuffle ~#partitions times. Package-private so the spec can assert
    * the text-free exchange on the un-checkpointed plan.
    */
  private[operators] def exactGroups(df: DataFrame, idCol: String,
                                     textCol: String): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), col(textCol).as("__text"))
    base
      .groupBy(xxhash64(col("__text")).as("__k"), length(col("__text")).as("__len"))
      .agg(min(col("id")).as("rep"),
        sort_array(collect_list(col("id"))).as("members"))
      .select("rep", "members")
      .join(base.select(col("id").as("rep"), col("__text").as("text")), "rep")
      .select("rep", "members", "text")
  }

  /** MinHash+LSH near-duplicate candidate pairs with exact-Jaccard
    * verification: returns (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard ≥ `minJaccard`. `bands × rowsPerBand` must equal the signature
    * length.
    *
    * Execution shape (designed for the 100 TB fan-in):
    *  1. exact duplicates are collapsed FIRST (hash-groupBy on
    *    (xxhash64, length) — the [[exactDedup]] key): all shingle hashing,
    *    LSH banding, and candidate expansion run once per DISTINCT text.
    *    On dup-heavy corpora (the common case for web-scale training data)
    *    this removes the quadratic candidate blow-up entirely — identical
    *    docs would otherwise collide in every band;
    *  2. per distinct text, one scan computes the sorted shingle-hash set +
    *    signature (tight-loop kernels, [[graft.functions.HashKernels]]);
    *    cached via [[Reuse.pinned]] so candidate and verification
    *    stages don't recompute — NOT `Dataset.persist`, which registers in
    *    the session CacheManager and outlives the query (a corpus-sized
    *    block leak per call), and NOT a lineage-truncating checkpoint
    *    (corpus-proportional blocks must keep their recompute path);
    *    pinned blocks are reclaimed by the ContextCleaner once the caller
    *    drops the result;
    *  3. candidates come from `groupBy(band, band_hash)` + per-bucket pair
    *    expansion — the shuffle carries only (band_hash, id) pairs, never
    *    documents, and there is no self-join. A bucket larger than
    *    `maxBucket` ids is capped (sorted ids, first `maxBucket` kept) to
    *    bound a skewed bucket — with exact dups pre-collapsed this now only
    *    triggers on genuinely-near-duplicate mega-clusters;
    *  4. verification joins the shingle sets for surviving pairs only and
    *    computes exact Jaccard with a merge scan (no estimate prefilter);
    *  5. verified representative pairs expand back through the duplicate
    *    groups: within-group pairs emit jaccard 1.0, cross-group pairs
    *    inherit their representatives' jaccard (identical text ⇒ identical
    *    shingle set, so this is exact, not an approximation). Groups larger
    *    than `maxGroup` members switch from all-pairs (O(m²) rows — a
    *    boilerplate doc copied 1M times would emit 5×10¹¹ rows) to star
    *    edges (rep, member, 1.0): O(m) rows carrying the same
    *    connected-component information, which is what dedup consumes.
    *
    * `crossOnly` (for [[crossCorpusNearDups]]'s sign-tagged union, where
    * benchmark ids are negative and corpus ids non-negative): emit
    * EXACTLY the pairs of the full run whose endpoints span the sign
    * boundary — the caller would drop everything else, and the dominant
    * intra-corpus candidate mass never deserves mining. Sound because a
    * group containing any negative id has a negative rep (rep = min), so
    * a (non-negative, non-negative) rep pair can never expand to a
    * cross-sign doc pair: the kernel skips those candidates outright,
    * and the group expansions filter to sign-crossing doc pairs
    * (spec-pinned equal to full-mining-then-filter).
    */
  def minHashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, numHashes: Int = 64,
                      bands: Int = 16, rowsPerBand: Int = 4,
                      minJaccard: Double = 0.5,
                      maxBucket: Int = 8192,
                      maxGroup: Int = 1024,
                      crossOnly: Boolean = false): DataFrame = {
    require(bands * rowsPerBand == numHashes, "bands*rowsPerBand must equal numHashes")
    import graft.functions.HashKernels
    val groups = Reuse.pinned(exactGroups(df, idCol, textCol))
    // 2. signatures per distinct text — through the codegen'd native
    //    expressions (the whole scan stays in one codegen stage, and the
    //    MinHash signature is fused inside the band-key kernel instead of
    //    riding the checkpoint as an intermediate column)
    val sigs = spreadForKernelStage(groups)
      .select(col("rep").as("id"),
        call_function("shingle_hashes", col("text"), lit(k)).as("sh"))
      .transform(Reuse.pinned)
    // 3. LSH candidate pairs among representatives. Bucket rows carry
    //    only (id, setSize) — two 8-byte columns — through the bucket
    //    collect_list exchange; the kernel applies the exact size-ratio
    //    bound per bucket, and the ≤bands× duplicate pairs a multi-band
    //    collision emits are collapsed by the pair-keyed distinct, whose
    //    map-side partial combine keeps the exchange at one row per
    //    distinct pair (16 bytes). The previous spelling instead shipped
    //    every member's full band-key vector (bands longs, duplicated
    //    once per band) into the bucket aggregate so an in-kernel
    //    first-band check could dedup — ~bands²× more aggregate payload
    //    per document to save a cheap narrow exchange.
    val withMeta = sigs.select(col("id"), size(col("sh")).as("sz"),
      call_function("minhash_band_keys", col("sh"), lit(numHashes), lit(bands))
        .as("bk"))
    val buckets = withMeta
      .select(col("id"), col("sz"), posexplode(col("bk")))
      .toDF("id", "sz", "band", "band_hash")
    val cands = buckets
      .groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col("id")).as("ids"),
        collect_list(col("sz")).as("szs"))
      .filter(size(col("ids")) >= 2)
      .select(explode(HashKernels.bucketPairsRatioUdf(maxBucket, minJaccard,
        skipBothNonNegative = crossOnly)(
        col("ids"), col("szs"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()
    // 4. exact-Jaccard verification of representative pairs — through the
    //    codegen'd native expression (stays inside whole-stage codegen)
    val jaccard = call_function("sorted_jaccard", col("sh_a"), col("sh_b"))
    val repPairs = cands
      .join(sigs.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", round(jaccard, 6))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
    // 5. expand duplicate groups back to doc-level pairs; mega-groups
    //    (> maxGroup members) emit bounded star edges instead of all pairs
    val starEdges = transform(
      slice(col("members"), lit(2), size(col("members")) - 1),
      m => struct(element_at(col("members"), 1).as("_1"), m.as("_2")))
    val within = groups
      .filter(size(col("members")) >= 2)
      .select(explode(
        when(size(col("members")) <= lit(maxGroup),
          HashKernels.bucketPairsUdf(Int.MaxValue)(col("members")))
        .otherwise(starEdges)).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"), lit(1.0).as("jaccard"))
    //    cross-group expansion is |ma| × |mb| pairs — two near-dup mega
    //    groups would reintroduce the quadratic blow-up the star edges
    //    bound, so when EITHER side exceeds maxGroup only the (rep_a,
    //    rep_b) edge is emitted: with the within-group edges it carries
    //    the identical connected-component information
    val bothSmall = size(col("__ma")) <= lit(maxGroup) &&
      size(col("__mb")) <= lit(maxGroup)
    val cross = repPairs
      .join(groups.select(col("rep").as("id_a"), col("members").as("__ma")), "id_a")
      .join(groups.select(col("rep").as("id_b"), col("members").as("__mb")), "id_b")
      .select(col("jaccard"),
        explode(when(bothSmall, col("__ma"))
          .otherwise(array(col("id_a")))).as("a"),
        when(bothSmall, col("__mb")).otherwise(array(col("id_b"))).as("__mb"))
      .select(col("jaccard"), col("a"), explode(col("__mb")).as("b"))
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"), col("jaccard"))
    val all = within.unionByName(cross)
    // crossOnly: keep exactly the sign-crossing doc pairs the full run
    // would emit — ordered (min, max), a cross pair is always
    // (negative, non-negative)
    if (crossOnly) all.filter(col("id_a") < 0 && col("id_b") >= 0) else all
  }

  /** Connected components over an undirected duplicate-pair list — the
    * final step of fuzzy dedup: near-dup PAIRS (from [[minHashDupPairs]] /
    * [[embeddingDupPairs]]) become duplicate GROUPS, so one representative
    * per component survives. Iterative min-label propagation: every node
    * starts as its own component; each round takes the min label over
    * itself and its neighbours; fixpoint after graph-diameter rounds
    * Each round also POINTER-JUMPS (`comp ← comp(comp)`), which halves
    * every label-chain length — convergence in O(log diameter) rounds, so
    * even a pathological n-node chain graph resolves within `maxIter`
    * (plain propagation would need n rounds). Each round is ONE
    * neighbour-min join + aggregate over the self-edge-augmented edge
    * list (the (v, v) edges fold the node's own label into the min, so
    * no propagate-back left join is needed — every node appears in the
    * aggregate, carrying its old label on the self-edge row) and one
    * pointer-jump self-join; labels are checkpointed per round so
    * lineage stays flat.
    *
    * Returns (id, component) for every id appearing in `pairs`, component
    * = min id of the component.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25, loopPartitions: Int = 8,
                          smallGraphEdges: Long = 1000000L): DataFrame = {
    // Scale-adaptive routing (the ingestGate convention): the edge list is
    // counted ONCE (materializing it as checkpoint blocks both paths then
    // reuse), and a graph under `smallGraphEdges` undirected edges is
    // solved by driver union-find — a few hundred dup-pair edges do not
    // deserve 5 distributed label-propagation rounds of fixed scheduling
    // cost, on local[32] or on a 1000-executor cluster. Larger graphs take
    // the pinned-layout distributed loop below; `smallGraphEdges = 0`
    // forces it (the spec equivalence path).
    val sparkS = pairs.sparkSession
    // null endpoints carry no connectivity; dropped on BOTH routes (the
    // driver path would otherwise read a null id as 0L)
    val edges0 = pairs.select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .transform(Reuse.pinned)
    if (smallGraphEdges > 0 && edges0.count() <= smallGraphEdges) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val n = parent.getOrDefault(c, c); parent.put(c, r); c = n
        }
        r
      }
      edges0.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
      }
      val rows = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](parent.size())
      parent.keySet().forEach(id => rows += org.apache.spark.sql.Row(id.longValue(), find(id)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("comp", org.apache.spark.sql.types.LongType, nullable = false)))
      return sparkS.createDataFrame(
        sparkS.sparkContext.parallelize(rows.toSeq,
          math.max(1, rows.size / 500000 + 1)), schema)
    }
    connectedComponentsDistributed(edges0, maxIter, loopPartitions)
  }

  private def connectedComponentsDistributed(pairs: DataFrame,
                          maxIter: Int = 25, loopPartitions: Int = 8): DataFrame = {
    // AQE is scoped OFF for the label-propagation loop (and restored
    // after): AQE re-coalesces every round's shuffle output, which (a)
    // re-plans each round into several stage-jobs, and (b) changes the
    // reducer-side partitioning per round, defeating the whole point of
    // pinning `symAll`'s hash partitioning once for reuse by every
    // round's sort-merge label join. With static planning each round is
    // one job over a stable layout — the shape you'd run at any scale.
    // `loopPartitions` pins that layout's width: the dup-pair edge lists
    // this library produces are bucket-capped and orders of magnitude
    // smaller than the corpus, so the default is small; size it to the
    // edge-set cardinality (e.g. the session's shuffle partitions) when
    // feeding corpus-scale edge sets.
    val spark = pairs.sparkSession
    val aqePrev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val partPrev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", loopPartitions.toString)
    try connectedComponentsImpl(pairs, "src", "dst", maxIter)
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqePrev)
      spark.conf.set("spark.sql.shuffle.partitions", partPrev)
    }
  }

  private def connectedComponentsImpl(pairs: DataFrame, aCol: String, bCol: String,
                                      maxIter: Int): DataFrame = {
    val edges = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    val sym = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    // self-edges (v, v): the per-src min then spans neighbours AND self,
    // and the self row carries the node's previous label out of the
    // aggregate — one join + one agg replace the former join + agg +
    // propagate-back left join (one fewer shuffle per round at any scale).
    // Repartitioned ONCE on the per-round join key: the union would
    // otherwise double the partition count (and every round's task
    // count), and the cached hash partitioning is exactly what a
    // sort-merge label join reuses at scale without re-shuffling edges
    val symAll = sym.unionByName(
        sym.select(col("src")).distinct()
          .select(col("src"), col("src").as("dst")))
      .repartition(OrderedPosition.shufflePartitions(sym), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = symAll.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // min label over the neighbourhood ∪ self; the self-edge row also
      // exports the old label for the convergence test
      val propagated = symAll.join(labels, symAll("dst") === labels("id"))
        .groupBy(symAll("src").as("id"))
        .agg(min(col("comp")).as("comp1"),
          min(when(symAll("dst") === symAll("src"), col("comp"))).as("comp"))
      // pointer jump: follow the label's own label (comp is always a node
      // id of the same component, so this only ever shrinks)
      val parents = propagated.select(col("id").as("pid"), col("comp1").as("pcomp"))
      val jumped = propagated.join(parents, propagated("comp1") === parents("pid"), "left")
        .select(col("id"), col("comp"),
          least(col("comp1"), coalesce(col("pcomp"), col("comp1"))).as("comp2"))
        .localCheckpoint()
      converged = jumped.filter(col("comp2") < col("comp")).isEmpty
      labels = jumped.select(col("id"), col("comp2").as("comp"))
      i += 1
    }
    symAll.unpersist()
    labels
  }

  /** End-to-end fuzzy-dedup canonicalization: every doc id mapped to its
    * duplicate-component representative (min id); singletons map to
    * themselves. `keep = (rep === id)` selects the surviving corpus.
    */
  def canonicalize(df: DataFrame, idCol: String, pairs: DataFrame,
                   aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    // prefixed column names so a caller id column literally named "id"
    // survives the join + drop
    val comp = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("__cc_id"), col("comp").as("__cc_comp"))
    df.join(comp, df(idCol).cast("long") === comp("__cc_id"), "left")
      .withColumn("rep", coalesce(col("__cc_comp"), df(idCol).cast("long")))
      .drop("__cc_id", "__cc_comp")
  }

  /** 40-bit SimHash over word tokens: bit b is 1 when the majority vote of
    * token-hash bit b is positive. Token hashes use the engine-portable
    * rolling hash (mod 2^40), so the whole fingerprint is reproducible in
    * plain SQL — q27 is value-checked against DuckDB, not rows-only. JVM
    * kernel rather than HOFs: the per-bit aggregate tree would run
    * interpreted (CodegenFallback) over tokens × 40 bits.
    */
  def simHash(text: Column): Column = call_function("simhash40", text)

  /** Hamming distance between two 64-bit fingerprints. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Cross-corpus NEAR-dup decontamination (the RefinedWeb/fuzzy variant of
    * [[Curation.decontaminate]]'s exact n-gram overlap): corpus documents
    * whose MinHash-estimated Jaccard against ANY benchmark document clears
    * `minJaccard`. Returns one row per contaminated corpus doc:
    * (corpus_id, benchmark_id, jaccard) with the highest-Jaccard benchmark
    * match (ties to the smallest benchmark id).
    *
    * Composes [[minHashDupPairs]] over the tagged union — the corpus never
    * shuffles more than its LSH band keys — then keeps only cross-side
    * pairs. Benchmark ids are offset into negative space (`-1 - id`) so
    * the two id ranges cannot collide inside the shared pair mining, and
    * are restored on output.
    */
  def crossCorpusNearDups(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
    val b = benchmark.select((lit(-1L) - col(idCol).cast("long")).as("id"),
      col(textCol).as("t"))
    require(c.schema == b.schema, "tagged union schema mismatch")
    // crossOnly: the sign-tagged miner skips the intra-corpus candidate
    // mass (the dominant cost — corpus ≫ benchmark) in-kernel and emits
    // exactly the cross-side pairs this operator consumes
    val pairs = minHashDupPairs(c.unionByName(b), "id", "t",
      k = k, minJaccard = minJaccard, crossOnly = true)
    // pair ids are (min, max); benchmark ids are negative, so a cross pair
    // is exactly (id_a < 0 <= id_b)
    val cross = pairs.filter(col("id_a") < 0 && col("id_b") >= 0)
      .select(col("id_b").as("corpus_id"),
        (lit(-1L) - col("id_a")).as("benchmark_id"),
        col("jaccard"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("corpus_id"))
      .orderBy(col("jaccard").desc, col("benchmark_id").asc)
    cross.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
  }

  /** SimHash near-dup pairs by banded Hamming mining: the 40-bit signature
    * splits into `bands` equal slices, candidate pairs equi-join on any
    * exact band slice, and survivors filter on true Hamming distance.
    * By pigeonhole this is EXACT (full recall, not probabilistic) for
    * `maxHamming < bands`: a pair differing in ≤ bands−1 bits cannot
    * differ in every band. Returns (id_a, id_b, hamming), id_a < id_b.
    *
    * Scale shape: the self-join is an equi-join on (band, slice) — shuffle
    * partitioned by bucket, never all-pairs. Each pair emits from its FIRST
    * shared band only (earlier-band inequality predicates), so no
    * distinct-dedup pass over the candidate stream. Buckets cap at
    * `maxBucket` ascending ids (the [[minHashDupPairs]] convention) to
    * bound the worst-case quadratic bucket; the cap never binds below
    * maxBucket-row buckets and is an explicit recall trade above.
    */
  def simHashDupPairs(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, bands: Int = 4,
                      maxBucket: Int = 8192): DataFrame = {
    require(maxHamming < bands, s"pigeonhole exactness needs maxHamming < bands")
    require(40 % bands == 0, s"bands must divide 40")
    val width = 40 / bands
    val mask = (1L << width) - 1
    def slice(sig: Column, b: Column): Column =
      call_function("shiftright", sig, b * width).bitwiseAND(lit(mask))
    val sigs = docs.select(col(idCol).as("id"),
      simHash(col(textCol)).as("sig"))
    val banded = sigs
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("slice", slice(col("sig"), col("band")))
    val capped = banded.withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("slice")).orderBy(col("id"))))
      .filter(col("__rn") <= maxBucket).drop("__rn")
    val a = capped.select(col("band"), col("slice"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = capped.select(col("band"), col("slice"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    // first-shared-band emission: at this band the slices are equal (join
    // key); require inequality at every EARLIER band so each pair appears
    // exactly once without a distinct pass
    val firstBand = (0 until bands).map { bp =>
      col("band") <= bp ||
        slice(col("sig_a"), lit(bp)) =!= slice(col("sig_b"), lit(bp))
    }.reduce(_ && _)
    a.join(b, Seq("band", "slice"))
      .filter(col("id_a") < col("id_b") && firstBand)
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sig_a"), col("sig_b")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard similarity between two text columns. For
    * pairwise use precompute [[sortedShingleHashes]] per document ONCE and
    * compare with [[sortedSetJaccard]] — evaluating the shingle HOFs per
    * pair row multiplies the hashing cost by the pair count.
    */
  def ngramJaccard(a: Column, b: Column, k: Int): Column =
    sortedSetJaccard(sortedShingleHashes(a, k), sortedShingleHashes(b, k))

  /** Sorted distinct shingle hashes — precompute once per document.
    * Served by the codegen'd `shingle_hashes` expression: the HOF
    * spelling [[shingleHashes]] (transform + xxhash64 + array_distinct +
    * sort_array) runs interpreted and dominated q146/q28/q92's invariant
    * passes — the kernel is one JVM call per row inside whole-stage
    * codegen (measured 24× on the sf0.1 documents scan).
    *
    * The two spellings hash shingles DIFFERENTLY (the kernel is
    * FNV-1a+mix64, the HOF xxhash64), so raw values must never cross
    * spellings. Set size / pairwise jaccard are invariant under the hash
    * relabeling — MinHashExpressionsSpec pins exactly that equivalence
    * on edge-case texts. These consumers share the hash space of the
    * kernel-side miners ([[minHashDupPairs]], the streaming gate).
    */
  def sortedShingleHashes(text: Column, k: Int): Column =
    call_function("shingle_hashes", text, lit(k))

  /** Jaccard of two pre-sorted hash-set columns, through the codegen'd
    * `sorted_jaccard` expression (array_intersect/union HOFs run
    * interpreted).
    */
  def sortedSetJaccard(a: Column, b: Column): Column =
    call_function("sorted_jaccard", a, b)

  /** Embedding near-dup pairs: cosine ≥ `minCosine` among candidate pairs
    * sharing an LSH bucket (random hyperplanes). Verification is FUSED
    * into the bucket aggregate ([[graft.functions.VectorFunctions
    * .bucketPairsCosine]]): each vector crosses the bucket exchange once
    * (≈4·dim bytes) and every candidate pair's exact rounded cosine is
    * computed in-kernel — a candidate-join spelling would ship a vector
    * copy per PAIR, quadratic in bucket occupancy (measured the whole
    * operator cost at full buckets: 42.8 → ~4 s on 10× grown embeddings
    * at nBits=4). At scale, raise `nBits` to shrink buckets: occupancy
    * ≈ N/2^nBits, so nBits should grow with log₂(N) exactly as
    * [[semanticDedup]] grows its cluster count.
    *
    * `multiProbe`: each vector is also entered into its nBits
    * Hamming-distance-1 buckets for CANDIDATE generation (verification
    * vectors keep one bucket), recovering near-dups split by a single
    * hyperplane — the dominant recall loss at high nBits. Pairs reachable
    * through two shared probe buckets are deduplicated.
    */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, nBits: Int = 8,
                        minCosine: Double = 0.95,
                        maxBucket: Int = 4096,
                        multiProbe: Boolean = false): DataFrame = {
    import graft.functions.{HashKernels, VectorFunctions}
    // dtype dispatch (schema-robustness contract: list<float> and its
    // exact widening list<double> must produce identical pairs): float
    // columns keep the 4-byte wire format and widen in-kernel at unbox
    // time; anything else rides the double kernel as array<double>
    val isFloat = df.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    val pairUdf =
      if (isFloat) VectorFunctions.bucketPairsCosineUdf(maxBucket, minCosine, 6)
      else VectorFunctions.bucketPairsCosineDoublesUdf(maxBucket, minCosine, 6)
    val vExpr =
      if (isFloat) col(vecCol) else col(vecCol).cast("array<double>")
    // single downstream consumer since verification fused into the
    // bucket aggregate — no checkpoint needed. NULL vectors AND null /
    // non-castable ids are dropped up front: a null vector can never
    // match (the Column cosine is null for it), and EITHER null column
    // would misalign the fused kernel's two collect_lists — collect_list
    // skips null elements, so a null id loses its slot in `ids` while
    // its vector stays in `vs` (and vice versa), crashing the kernel or
    // pairing wrong ids (spec-pinned both ways). try_cast, not cast:
    // under ANSI (Spark 4 default) a malformed string id would otherwise
    // throw mid-job instead of dropping deterministically. The kernel's
    // same-length require is the loud backstop for any residual skew.
    val withBucket = df
      .filter(col(vecCol).isNotNull && col(idCol).try_cast("long").isNotNull)
      .select(
        col(idCol).try_cast("long").as("id"), vExpr.as("v"),
        VectorFunctions.lshBucket(col(vecCol), dim, nBits).as("bucket"))
    val assigned =
      if (!multiProbe) withBucket
      else withBucket.select(col("id"), col("v"),
        explode(array(col("bucket") +:
          (0 until nBits).map(i => col("bucket").bitwiseXOR(lit(1L << i))): _*))
          .as("bucket"))
    // exact-cosine verification FUSED into the bucket aggregate
    // (VectorFunctions.bucketPairsCosine): each vector crosses the
    // bucket exchange once (≈4·dim bytes), where the former
    // candidate-join spelling shipped a vector copy per candidate PAIR —
    // m·(m−1) copies for a bucket of m, quadratic in bucket occupancy
    // and the whole cost of the operator once buckets fill up (measured
    // 42.8 → ~4 s on 10× grown embeddings at nBits=4). The kernel's
    // rounded-cosine filter is the JVM twin of the old
    // round(cosine_sim, 6) ≥ minCosine Column spelling — bit-identical
    // by the pinned dround/cosine twin properties.
    val rawPairs = assigned
      .groupBy(col("bucket"))
      .agg(collect_list(col("id")).as("ids"),
        collect_list(col("v")).as("vs"))
      .filter(size(col("ids")) >= 2)
      .select(explode(pairUdf(col("ids"), col("vs"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"),
        col("p._3").as("cosine"))
    if (multiProbe) rawPairs.distinct() else rawPairs
  }

  /** SemDeDup (Abbas et al. 2023) semantic near-dedup: vectors are
    * partitioned by their nearest centroid (a k-means coarse quantizer —
    * [[Similarity.trainIvfCentroids]] output, or any fixed codebook), and
    * a row is DROPPED when any smaller-id member of its own cluster is
    * within cosine `tau` — the paper's keep-one-per-semantic-duplicate
    * rule with a deterministic (smallest-id) survivor. Returns every input
    * row: (id, cluster, n_dups_lower, max_cos_lower, kept); `max_cos_lower`
    * is null for the smallest id of each cluster.
    *
    * Scale shape: the pairwise cosine runs WITHIN clusters only, FUSED
    * into the cluster aggregate ([[graft.functions.VectorFunctions
    * .clusterSemanticStats]]) — each vector crosses the cluster exchange
    * ONCE (≈8·dim bytes), where the former self-join spelling shipped
    * both vectors once per PAIR: m·(m−1) copies for a cluster of m, the
    * exact quadratic-shipping defect round 11 killed in
    * [[embeddingDupPairs]] (42.8 → 1.0 s there). Per-cluster kernel work
    * is O(min(m, maxCluster)²); k is chosen so m ≈ N/k stays bounded
    * (SemDeDup runs k ∝ N — e.g. 50k clusters over 100M embeddings, and
    * the gate derives it via [[graft.ScaleContract.semanticClusters]]),
    * so a 100× corpus grows k, not m. `maxCluster` is the backstop for a
    * mis-parameterized call: the kernel scans only the smallest-id
    * `maxCluster` members; rows past the cap report kept = true with
    * null stats (deterministic, documented — raise k per contract
    * instead of leaning on the cap). The cluster groupBy rides an
    * explicit min(k, defaultParallelism)-way repartition on the cluster
    * key: same single exchange, but AQE cannot byte-coalesce the
    * kernel-bound aggregate stage onto one core (the q28 signature-stage
    * lesson; with few clusters the agg payload is small in BYTES while
    * the per-group kernel is O(m²) in WORK).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Double]],
                    tau: Double, maxCluster: Int = 8192): DataFrame = {
    import graft.functions.VectorFunctions
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf((v: Seq[Double]) =>
      if (v == null) None
      else Some(Similarity.nearestCentroid(v.toArray, bc.value)))
    val assigned = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("cluster", assignUdf(col("v")))
      .transform(Reuse.pinned)
    // null ids/vectors sit out of the kernel (they can never pair: a
    // null id never equi-joined in the old spelling, a null vector has
    // null cosine) and would misalign the two collect_lists — the same
    // alignment contract as embeddingDupPairs, same loud kernel require
    val kernelParts = math.min(
      math.max(centroids.length, 1), spark.sparkContext.defaultParallelism)
    val statsUdf = VectorFunctions.clusterSemanticStatsUdf(maxCluster, tau, 6)
    val stats = assigned
      .filter(col("id").isNotNull && col("v").isNotNull &&
        col("cluster").isNotNull)
      .repartition(kernelParts, col("cluster"))
      .groupBy(col("cluster"))
      .agg(collect_list(col("id")).as("ids"), collect_list(col("v")).as("vs"))
      .select(col("cluster"), explode(statsUdf(col("ids"), col("vs"))).as("st"))
      .select(col("cluster"), col("st._1").as("id"),
        col("st._2").as("n_dups_lower"), col("st._3").as("max_cos_lower"))
      // DUPLICATE input ids emit one kernel row each (same id, possibly
      // different vectors); the join spelling merged them in its
      // (cluster, id) verdict aggregate — merge the same way, or the
      // join-back would multiply rows. Partitioning is reused by the
      // join on the same keys: no extra exchange.
      .groupBy(col("cluster"), col("id"))
      .agg(sum(col("n_dups_lower")).as("n_dups_lower"),
        max(col("max_cos_lower")).as("max_cos_lower"))
    assigned.select(col("id"), col("cluster"))
      .join(stats, Seq("cluster", "id"), "left")
      .select(col("id"), col("cluster"),
        coalesce(col("n_dups_lower"), lit(0L)).as("n_dups_lower"),
        col("max_cos_lower"),
        coalesce(col("n_dups_lower") === 0, lit(true)).as("kept"))
  }

  /** Fuzzy-dedup retention policy: duplicate pairs → connected components
    * ([[connectedComponents]]) → ONE survivor per component, the
    * highest-`scoreCol` member (ties → smallest id; null scores rank
    * below every real score). Where [[canonicalize]] keeps the smallest
    * id, this keeps the BEST document — the standard retention rule when
    * quality scores exist. Singletons survive as their own component.
    * Returns (id, score, component, kept_id, kept) for every input row.
    *
    * Scale shape: one winner-aggregate over (component) — map-side
    * combined `max(struct(score, -id))`, no per-component window — and a
    * co-partitioned join back on component.
    */
  def keepBest(docs: DataFrame, idCol: String, scoreCol: String,
               pairs: DataFrame,
               aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val canon = canonicalize(
      docs.select(col(idCol).cast("long").as("id"),
        col(scoreCol).cast("double").as("score")),
      "id", pairs, aCol, bCol)
    val winners = canon.groupBy(col("rep"))
      .agg(max(struct(
        coalesce(col("score"), lit(Double.NegativeInfinity)).as("s"),
        (-col("id")).as("negid"))).as("w"))
      .select(col("rep"), (-col("w.negid")).as("kept_id"))
    canon.join(winners, Seq("rep"))
      .select(col("id"), col("score"), col("rep").as("component"),
        col("kept_id"), (col("id") === col("kept_id")).as("kept"))
  }

  /** Soft dedup (the data-constrained-scaling regime): instead of
    * discarding duplicates outright, each exact-dup group keeps its min-id
    * survivor with a CAPPED repeat weight `min(copies, cap)` — repeated
    * data keeps some value for the first few epochs-worth of copies, none
    * beyond the cap. Returns (keep_id, copies, train_weight, keep_frac)
    * with keep_frac = train_weight/copies (6 dp), the fraction of the
    * group's raw mass a count-proportional sampler should retain.
    *
    * Scale shape: exactly [[exactDupGroups]] — one hash-groupBy on
    * (xxhash64, length), map-side combined; the weights are per-group
    * arithmetic on the aggregate.
    */
  def softDedupWeights(df: DataFrame, textCol: String, idCol: String,
                       cap: Long): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    exactDupGroups(df, textCol, idCol)
      .select(col("keep_id"), col("copies"),
        least(col("copies"), lit(cap)).as("train_weight"),
        round(least(col("copies"), lit(cap)).cast("double") / col("copies"), 6)
          .as("keep_frac"))
  }
}
