package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Bpe, Dedup, Similarity, TrainingData}
import graft.sources.Tables

/** Training-data-pipeline queries over `documents` and `embeddings`:
  * dedup (exact / MinHash-LSH / SimHash), similarity search, text analysis.
  */
object QueriesDocs {

  // Shadows functions.round: every oracle-compared column rounds with
  // DuckDB-exact semantics (see graft.functions.Rounding) so half-boundary
  // values hash identically on both engines.
  private def round(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    graft.functions.Rounding.dround(c, scale)

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Exact dedup audit: keeper id + copy count per distinct text
    "q21_dedup_exact" -> ((s, d) =>
      Dedup.exactDupGroups(Tables.documents(s, d), "text", "doc_id")),

    // Token counting (whitespace tokenizer)
    "q22_token_stats" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        col("n_chars"))),

    // Quality signals: digit / punctuation character ratios
    "q23_char_ratios" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        round(TextFunctions.charRatio(col("text"), "[0-9]"), 6).as("digit_ratio"),
        round(TextFunctions.charRatio(col("text"), "[.,!?;:]"), 6).as("punct_ratio"))),

    // Rolling-hash document fingerprint (modular, engine-portable)
    "q24_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))),

    // Language-ID heuristic (oracle replicates the stopword vote + tie rule)
    "q25_langid" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(TextFunctions.langIdHeuristic(col("text"))
          .as("lang_pred"))
        .agg(count(lit(1)).as("cnt"))),

    // Brute-force cosine top-k similarity search
    "q26_knn_cosine" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(
        corpus = emb.filter(col("vec_id") >= 5), corpusId = "vec_id", corpusVec = "embedding",
        queries = emb.filter(col("vec_id") < 5), queryId = "vec_id", queryVec = "embedding",
        k = 3)
    }),

    // MMR-diversified retrieval: exact top-8 candidates, then greedy
    // maximal-marginal-relevance pick of 3 (λ = 0.7)
    "q125_mmr_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.mmrRerank(
        corpus = emb.filter(col("vec_id") >= 5),
        corpusId = "vec_id", corpusVec = "embedding",
        queries = emb.filter(col("vec_id") < 5),
        queryId = "vec_id", queryVec = "embedding",
        kCandidates = 8, m = 3, lambda = 0.7)
    }),

    // Sparse random projection (deterministic ±1 feature hashing):
    // 64-dim embeddings sketched to 8 dims, long form (vec_id, dim, value)
    "q127_hash_project" -> ((s, d) =>
      Tables.embeddings(s, d).select(col("vec_id"),
          posexplode(VectorFunctions.hashProject(col("embedding"), 8))
            .as(Seq("dim_idx", "value")))
        .select(col("vec_id"), col("dim_idx"),
          round(col("value"), 6).as("value"))),

    // 40-bit engine-portable SimHash fingerprints (oracle-checked)
    "q27_simhash" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), Dedup.simHash(col("text")).as("simhash"))),

    // MinHash+LSH near-dup pairs, exact-Jaccard verified (no oracle).
    // k=3 word shingles: the standard web-dedup parameterization — unigram
    // shingles degenerate to bag-of-words similarity, which on a small
    // shared vocabulary marks most of the corpus as near-duplicate.
    "q28_minhash_pairs" -> ((s, d) =>
      Dedup.minHashDupPairs(Tables.documents(s, d), "doc_id", "text",
        k = 3, numHashes = 64, bands = 16, rowsPerBand = 4, minJaccard = 0.5)),

    // Embedding near-dup pairs via hyperplane LSH buckets (no oracle).
    // nBits derived from the table size per the occupancy contract
    // (ScaleContract.lshBits: 4 at every sf scale — goldens unchanged —
    // growing ∝ log2 N on the grown gates so buckets stay ~125 deep
    // instead of letting the maxBucket cap silently bind). The count
    // comes from parquet FOOTER metadata (Tables.rowCount, memoized) —
    // no extra scan job per invocation (round-12 VERDICT item 6).
    "q38_embedding_dups" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Dedup.embeddingDupPairs(emb, "vec_id", "embedding",
        dim = 64,
        nBits = graft.ScaleContract.lshBits(Tables.rowCount(s, d, "embeddings")),
        minCosine = 0.25)
    }),

    // IVF/LSH-bucketed approximate top-k ANN — the 2^nBits scan-reduction
    // path (no oracle: bucket membership isn't SQL-expressible; results are
    // a deterministic subset of q26's exact top-k)
    "q50_ivf_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(
        corpus = emb.filter(col("vec_id") >= 5), corpusId = "vec_id", corpusVec = "embedding",
        queries = emb.filter(col("vec_id") < 5), queryId = "vec_id", queryVec = "embedding",
        dim = 64, k = 3, nBits = 2)
    }),

    // Recall@k of the multi-probe IVF path against the exact brute-force
    // top-k (golden-pinned: the LSH bucketing isn't SQL-expressible)
    "q142_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") >= 5)
      val queries = emb.filter(col("vec_id") < 5)
      val approx = Similarity.ivfTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", dim = 64, k = 3, nBits = 2,
        multiProbe = true)
      val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 3)
      Similarity.recallAtK(approx, exact)
    }),

    // Soft dedup: capped repeat weight per exact-dup group
    "q141_soft_dedup" -> ((s, d) =>
      Dedup.softDedupWeights(Tables.documents(s, d), "text", "doc_id",
        cap = 3L)),

    // Language confusion matrix: declared lang vs heuristic prediction
    "q140_lang_confusion" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"),
          TextFunctions.langIdHeuristic(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("cnt"))),

    // Deterministic content-hash train/val/test split (reproducible across
    // engines/runs — the oracle recomputes the same assignment)
    "q55_hash_split" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("split", graft.operators.TrainingData.hashSplit(col("text"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))),

    // Sequence packing: ~512-token context-window fill per source
    "q57_pack_sequences" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("n_tokens", graft.functions.TextFunctions.tokenCount(col("text")))
      graft.operators.TrainingData.packSequences(
          docs, Seq("source"), Seq("doc_id"), "n_tokens", capacity = 512)
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          max(col("pack_pos")).as("max_pos"))
    }),

    // Per-source document-length distribution: exact interpolated
    // quantiles of the token count. `percentile` buffers each group's
    // values (sources are few and bounded); the 100 TB path swaps in
    // approx_percentile, same call shape
    "q88_length_quantiles" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_tokens")), 6).as("mean_tokens"),
          round(percentile(col("n_tokens"), lit(0.5)), 6).as("p50"),
          round(percentile(col("n_tokens"), lit(0.9)), 6).as("p90"),
          round(percentile(col("n_tokens"), lit(0.99)), 6).as("p99"))),

    // Fixed-token-window chunking with overlap (window 20, stride 15):
    // one row per chunk, short final chunks kept, ≤20-token docs whole
    "q90_chunk_tokens" -> ((s, d) =>
      TrainingData.chunkByTokens(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "text", window = 20, stride = 15)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"), col("chunk"))),

    // Cross-corpus NEAR-dup decontamination (fuzzy variant of q73): the
    // benchmark is a perturbed copy of every 83rd corpus doc (the "eval
    // item leaked into the training set, lightly edited" scenario — a
    // suffix edit that exact n-gram overlap would dilute but MinHash
    // Jaccard still clears). Not SQL-expressible (MinHash banding) →
    // golden-pinned like q28
    "q92_cross_contam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.crossCorpusNearDups(
        corpus = docs,
        benchmark = Tables.plantedBenchmark(s, d)
          .select(col("benchmark_id").as("doc_id"), col("text")),
        idCol = "doc_id", textCol = "text", k = 3, minJaccard = 0.5)
    }),

    // SimHash near-dup pair mining: banded Hamming join (pigeonhole-exact
    // for maxHamming < bands), first-shared-band emission, capped buckets.
    // Subset like q40: the synthetic corpus's shared vocabulary makes MOST
    // doc pairs near-identical in simhash space (16k pairs at hamming≤3
    // over 500 docs) — the subset keeps the oracle result bounded
    "q91_simhash_pairs" -> ((s, d) =>
      Dedup.simHashDupPairs(
        Tables.documents(s, d).filter(col("doc_id") < 200),
        "doc_id", "text", maxHamming = 2, bands = 4)),

    // n-gram (word-unigram) Jaccard between documents of the same source
    // (small per-source self-join exercising shingle set ops; oracle-checked)
    "q40_ngram_jaccard" -> ((s, d) => {
      // shingle-hash each doc ONCE, then compare pre-sorted sets per pair
      // with the codegen'd sorted_jaccard
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("source"),
          Dedup.sortedShingleHashes(col("text"), 1).as("w"))
      val a = docs.select(col("source"), col("doc_id").as("id_a"), col("w").as("w_a"))
      val b = docs.select(col("source"), col("doc_id").as("id_b"), col("w").as("w_b"))
      a.join(b, Seq("source"))
        .filter(col("id_a") < col("id_b"))
        .select(col("source"), col("id_a"), col("id_b"),
          round(Dedup.sortedSetJaccard(col("w_a"), col("w_b")), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    }),

    // Token-balanced global shards: floor(global exclusive token prefix /
    // 2000) in doc_id order, via the window-free running sum (a global
    // ORDER BY window would serialize the corpus onto one task)
    "q82_token_shards" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      TrainingData.shardByTokens(docs, Seq("doc_id"), "n_tokens", targetTokens = 2000)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"))
    }),

    // Trained IVF: deterministic k-means coarse quantizer (fixed-point
    // centroid sums, id-seeded init) + nProbe-bucket search. Golden-pinned
    // (the iterative trainer isn't ANSI-SQL-expressible); SimilaritySpec
    // checks recall vs brute force and bit-determinism of the training.
    // Trains via the SAMPLED path (the 100 TB formulation: one bounded
    // TakeOrderedAndProject scan + driver-side Lloyd's) — sampleN covers
    // the whole test corpus, so the centroids (and the golden) are
    // bit-identical to full-corpus training by the sampleN>=N equivalence
    // proven in SimilaritySpec
    "q80_ivf_trained" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(
        col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val corpus = emb.filter(col("vec_id") >= 5)
      val cents = Similarity.trainIvfCentroids(corpus, "vec_id", "embedding",
        k = 8, iters = 3, sampleN = 4096)
      Similarity.ivfTopKTrained(
        corpus, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        cents, k = 3, nProbe = 2)
    }),

    // duplicate-pair connected components over synthetic CHAIN pairs
    // (id-35 — id for multiples of 7): five long chains whose component
    // is id % 35 — exercises transitive closure + pointer jumping; the
    // oracle verifies the closed form
    "q69_dedup_components" -> ((s, d) => {
      val pairs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("id"))
        .filter(col("id") % 7 === 0 && col("id") >= 35)
        .select((col("id") - 35).as("id_a"), col("id").as("id_b"))
      Dedup.connectedComponents(pairs, "id_a", "id_b")
    }),

    // Sketch statistics — the 100 TB formulations of distinct-count and
    // quantiles: HLL++ approx_count_distinct and t-digest-style
    // approx_percentile per source, next to their exact counterparts.
    // Sketch values are Spark-deterministic but not SQL-replicable →
    // golden-pinned; DocsSketchSpec bounds approx-vs-exact error
    "q108_sketch_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("text"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("exact_distinct"),
          approx_count_distinct(col("text")).as("approx_distinct"),
          round(percentile(col("n_tokens"), lit(0.5)), 6).as("exact_p50"),
          round(percentile_approx(col("n_tokens"), lit(0.5), lit(1000))
            .cast("double"), 6).as("approx_p50"))),

    // Incremental at-ingest exact dedup: the doc_id>=400 "new batch"
    // deduped within itself (min-id survivor) and against the seen
    // corpus (doc_id<400) by content key
    "q106_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedup(
          newDocs = docs.filter(col("doc_id") >= 400),
          seen = docs.filter(col("doc_id") < 400),
          idCol = "doc_id", textCol = "text")
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // Distributed BPE vocabulary induction: 20 merges learned from the
    // corpus word-frequency table. Iterative (one argmax per round) →
    // not SQL-expressible; golden-pinned, bit-deterministic by the
    // (count desc, pair asc) tie-break + integer count sums
    "q104_bpe_merges" -> ((s, d) => {
      import s.implicits._
      Bpe.train(Tables.documents(s, d), "text", numMerges = 20)
        .zipWithIndex
        .map { case ((a, b), r) => (r, a, b, a + b) }
        .toDF("rank", "left", "right", "merged")
    }),

    // BPE tokenizer application: merges trained on the doc_id<100 slice,
    // applied to the whole corpus (the train-once / encode-everything
    // deployment shape). Golden-pinned like q104
    "q105_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = Bpe.train(docs.filter(col("doc_id") < 100), "text",
        numMerges = 10)
      Bpe.encode(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_bpe"),
          concat_ws(" ", col("bpe_tokens")).as("bpe_text"))
    }),

    // Int8-scalar-quantized ANN: both sides quantized to integer codes
    // (the 4×-smaller 100 TB storage form), scored on the codes — the
    // scales cancel in the cosine, so the score is integer-derived and
    // bit-exact cross-engine. Same split as q26 for recall comparison
    "q109_quantized_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.quantizedTopK(
        corpus = emb.filter(col("vec_id") >= 5), corpusId = "vec_id", corpusVec = "embedding",
        queries = emb.filter(col("vec_id") < 5), queryId = "vec_id", queryVec = "embedding",
        k = 3)
    }),

    // Product-quantized ANN (PQ/ADC): 8 subspaces × 16 centroids trained
    // by the bit-deterministic k-means, corpus stored as 8 small ints per
    // vector (32× smaller than float32), queries scored by table lookups.
    // Iterative training → not SQL-expressible → golden-pinned; recall
    // and exact-reconstruction properties in SimilaritySpec. Sampled
    // training (one bounded scan + driver k-means per subspace) replaces
    // the m×iters distributed scans; sampleN covers the whole test
    // corpus, so the codebooks (and the golden) are bit-identical to
    // full training by the sampleN>=N equivalence
    "q111_pq_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") >= 5)
      val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 16, iters = 4, sampleN = 4096)
      Similarity.pqTopK(
        corpus = corpus, corpusId = "vec_id", corpusVec = "embedding",
        queries = emb.filter(col("vec_id") < 5), queryId = "vec_id", queryVec = "embedding",
        codebooks = books, k = 3)
    }),

    // Deterministic epoch shuffle: two epochs of reproducible
    // pseudo-random ordering (fingerprint of "id:epoch"), positions
    // assigned window-free — the training-data ordering primitive
    "q121_epoch_order" -> ((s, d) =>
      graft.operators.TrainingData
        .epochOrders(Tables.documents(s, d).select(col("doc_id")),
          "doc_id", epochs = Seq(0, 1))
        .select(col("epoch"), col("doc_id"), col("shuffle_key"), col("position"))),

    // Chunk→document embedding pooling: vectors grouped into 50 docs by
    // vec_id % 50 (n_vectors/50 chunks per doc — 10 at sf0.01, 40 at
    // sf0.1), element-wise mean + unit form, exploded to
    // (doc, dim, pooled, unit) scalar rows for the oracle compare
    "q118_mean_pool" -> ((s, d) => {
      val chunks = Tables.embeddings(s, d)
        .select((col("vec_id") % 50).as("doc_id"), col("vec_id"), col("embedding"))
      graft.operators.TrainingData
        .meanPoolEmbeddings(chunks, "doc_id", "embedding", "vec_id")
        .select(col("doc_id"), col("n"),
          posexplode(col("pooled")).as(Seq("dim", "p")), col("unit"))
        .select(col("doc_id"), col("n"), col("dim"),
          round(col("p"), 6).as("pooled"),
          round(element_at(col("unit"), col("dim") + 1), 6).as("unit"))
    }),

    // Hard-negative mining: per query, the top-5 most-similar corpus
    // vectors with a DIFFERENT label — the contrastive-training sampler
    "q114_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(
        corpus = emb, corpusId = "vec_id", corpusVec = "embedding", corpusLabel = "label",
        queries = emb.filter(col("vec_id") < 5), queryId = "vec_id", queryVec = "embedding",
        queryLabel = "label", k = 5)
    }),

    // SemDeDup semantic near-dedup: nearest-centroid clusters + the
    // keep-smallest-id-within-tau verdict. The codebook is the first j
    // standard basis vectors — j derived from the table size per the
    // k ∝ N contract (ScaleContract.semanticClusters: 8 at every sf
    // scale, growing with N on the grown gates so per-cluster occupancy
    // stays bounded) — so nearest-by-L2 reduces to argmax of the first j
    // components (ties → smaller index), a closed form the oracle
    // replicates with list_position(list_max) over the SAME
    // count-derived slice; the within-cluster pairwise cosine is exact
    // in both engines.
    "q94_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // footer-metadata count (memoized) — no per-invocation scan job
      val n = Tables.rowCount(s, d, "embeddings")
      val j = graft.ScaleContract.semanticClusters(n)
      val basis = Array.tabulate(j)(c =>
        Array.tabulate(64)(i => if (i == c) 1.0 else 0.0))
      Dedup.semanticDedup(emb, "vec_id", "embedding", basis, tau = 0.35,
          maxCluster = graft.ScaleContract.semanticMaxCluster(n, j))
        .withColumnRenamed("id", "vec_id")
    })
  )

  /** DuckDB hits-counter for one language's stopword list (kept in sync
    * with [[TextFunctions.LangStopwords]] by construction).
    */
  private def langHitsSql(lang: String): String = {
    val words = TextFunctions.LangStopwords(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(toks, x -> x IN ($words))) AS hits_$lang"
  }

  val oracleSql: Map[String, String] = Map(
    // the chain (id-35, id) over multiples of 7 partitions nodes into five
    // chains by residue; each chain's minimum is id % 35 — the closed form
    // Exact gaps-and-islands closed form, valid for ANY doc_id set (the
    // previous `comp = id % 35` spelling assumed a contiguous id space
    // and broke on the 10×-grown layout, whose ids jump 1M per copy —
    // caught by the round-11 dual-scale gate run). Every edge is
    // (d−35, d) for a qualifying document d, so a node has a downward
    // edge iff it IS a qualifying document; within a residue class mod
    // 35 (ordered by id) a new component therefore starts exactly at
    // the nodes that are NOT qualifying documents, and the component
    // label is the running-group minimum.
    "q69_dedup_components" -> """
      WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      docs7 AS (SELECT id FROM d WHERE id % 7 = 0 AND id >= 35),
      nodes AS (SELECT DISTINCT id FROM (
                  SELECT id - 35 AS id FROM docs7
                  UNION ALL SELECT id FROM docs7)),
      marked AS (SELECT id,
                   CASE WHEN id IN (SELECT id FROM docs7) THEN 0 ELSE 1 END AS st
                 FROM nodes),
      grp AS (SELECT id,
                sum(st) OVER (PARTITION BY id % 35 ORDER BY id) AS g
              FROM marked)
      SELECT id, min(id) OVER (PARTITION BY id % 35, g) AS comp FROM grp""",
    "q106_incremental_dedup" -> """
      WITH nw AS (SELECT * FROM documents WHERE doc_id >= 400),
      seen AS (SELECT DISTINCT text FROM documents WHERE doc_id < 400),
      uniq AS (SELECT min(doc_id) AS doc_id, text FROM nw GROUP BY text)
      SELECT d.doc_id, d.source, d.n_chars
      FROM uniq u JOIN documents d USING (doc_id)
      WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.text = u.text)""",
    // basis-vector codebook: nearest-by-L2 = argmax of the first j
    // components, ties to the smaller index (list_position returns the
    // FIRST occurrence of the max — nearestCentroid's strict-< keeps the
    // first minimum too; note the equivalence holds in exact arithmetic
    // and for distinct component values — an EXACT tie of two maximal
    // components could flip under the kernel's sequential-L2 rounding,
    // unobservable for continuous-valued embeddings). j is the SAME
    // count-derived contract value as the Spark query
    // (ScaleContract.semanticClusters: least(64, greatest(8,
    // ceil(N/250)))), computed in SQL from the table itself; norms are
    // hoisted per vector (nrm CTE) so the pairwise join does ONE dot
    // product per pair, not three — at the 100x grown gate the pair
    // count is ~300M and the un-hoisted spelling tripled the oracle's
    // dominant cost.
    "q94_semantic_dedup" -> """
      WITH jj AS (SELECT CAST(least(64, greatest(8, (count(*) + 249) // 250))
                    AS INT) AS j FROM embeddings),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      a AS (SELECT vec_id, v,
              CAST(list_position(v[1:(SELECT j FROM jj)],
                list_max(v[1:(SELECT j FROM jj)])) - 1 AS INT) AS cluster
            FROM e),
      nrm AS (SELECT vec_id, v, cluster,
                sqrt(list_dot_product(v, v)) AS nv FROM a),
      p AS (SELECT hi.vec_id AS vec_id,
                   round(list_dot_product(hi.v, lo.v) / (hi.nv * lo.nv), 6)
                     AS cos
            FROM nrm hi JOIN nrm lo ON hi.cluster = lo.cluster
                                   AND lo.vec_id < hi.vec_id),
      st AS (SELECT vec_id, max(cos) AS max_cos_lower,
                    count(CASE WHEN cos >= 0.35 THEN 1 END) AS n_dups_lower
             FROM p GROUP BY 1)
      SELECT a.vec_id, a.cluster,
             CAST(coalesce(st.n_dups_lower, 0) AS BIGINT) AS n_dups_lower,
             st.max_cos_lower,
             coalesce(st.n_dups_lower = 0, TRUE) AS kept
      FROM a LEFT JOIN st USING (vec_id)""",
    // Spark's array_max over (hits, lang) structs breaks hit-ties toward the
    // lexicographically LARGER language code; the CASE checks fr,es,en,de in
    // that order with >= to replicate it.
    "q25_langid" -> raw"""
      WITH t AS (SELECT CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                             ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
                 FROM documents),
      s AS (SELECT ${Seq("de", "en", "es", "fr").map(langHitsSql).mkString(", ")} FROM t)
      SELECT lang_pred, count(*) AS cnt FROM (
        SELECT CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
                    WHEN hits_fr >= hits_es AND hits_fr >= hits_en AND hits_fr >= hits_de THEN 'fr'
                    WHEN hits_es >= hits_en AND hits_es >= hits_de THEN 'es'
                    WHEN hits_en >= hits_de THEN 'en'
                    ELSE 'de' END AS lang_pred
        FROM s)
      GROUP BY 1""",
    "q21_dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS copies FROM documents GROUP BY text",
    "q141_soft_dedup" -> raw"""
      SELECT min(doc_id) AS keep_id, count(*) AS copies,
             least(count(*), 3) AS train_weight,
             round(CAST(least(count(*), 3) AS DOUBLE) / count(*), 6) AS keep_frac
      FROM documents GROUP BY text""",
    // q25's predictor with the declared lang carried through
    "q140_lang_confusion" -> raw"""
      WITH t AS (SELECT lang,
                        CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                             ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
                 FROM documents),
      s AS (SELECT lang, ${Seq("de", "en", "es", "fr").map(langHitsSql).mkString(", ")} FROM t)
      SELECT lang, lang_pred, count(*) AS cnt FROM (
        SELECT lang,
               CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
                    WHEN hits_fr >= hits_es AND hits_fr >= hits_en AND hits_fr >= hits_de THEN 'fr'
                    WHEN hits_es >= hits_en AND hits_es >= hits_de THEN 'es'
                    WHEN hits_en >= hits_de THEN 'en'
                    ELSE 'de' END AS lang_pred
        FROM s)
      GROUP BY 1, 2""",
    // 40-bit SimHash: token rolling hash (seed 7, *31, mod 2^40) -> per-bit
    // majority vote -> sum of 2^b for positive bits
    "q27_simhash" -> raw"""
      WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents),
      th AS (
        SELECT doc_id,
               list_reduce(
                 list_prepend(CAST(7 AS BIGINT), list_transform(
                   string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
                 (a, c) -> (a * 31 + c) % 1099511627776) AS h
        FROM toks),
      votes AS (
        SELECT doc_id, b,
               sum(CASE WHEN ((h >> CAST(b AS INT)) & 1) = 1 THEN 1 ELSE -1 END) AS v
        FROM th, unnest(range(40)) AS t(b)
        GROUP BY doc_id, b)
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id""",
    "q91_simhash_pairs" -> raw"""
      WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM d),
      th AS (
        SELECT doc_id,
               list_reduce(
                 list_prepend(CAST(7 AS BIGINT), list_transform(
                   string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
                 (a, c) -> (a * 31 + c) % 1099511627776) AS h
        FROM toks),
      votes AS (
        SELECT doc_id, b,
               sum(CASE WHEN ((h >> CAST(b AS INT)) & 1) = 1 THEN 1 ELSE -1 END) AS v
        FROM th, unnest(range(40)) AS t(b)
        GROUP BY doc_id, b),
      sh AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS sig
        FROM votes GROUP BY doc_id),
      cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM sh a, sh b, unnest(range(4)) AS t(b)
        WHERE a.doc_id < b.doc_id
          AND ((a.sig >> (CAST(t.b AS INT) * 10)) & 1023)
              = ((b.sig >> (CAST(t.b AS INT) * 10)) & 1023)
          AND (t.b <= 0 OR ((a.sig >> 0) & 1023) <> ((b.sig >> 0) & 1023))
          AND (t.b <= 1 OR ((a.sig >> 10) & 1023) <> ((b.sig >> 10) & 1023))
          AND (t.b <= 2 OR ((a.sig >> 20) & 1023) <> ((b.sig >> 20) & 1023)))
      SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 2""",
    "q55_hash_split" ->
      """WITH b AS (SELECT source, n_chars,
           list_reduce(
             list_prepend(CAST(7 AS BIGINT), list_transform(
               string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ''),
               c -> CAST(ascii(c) AS BIGINT))),
             (a, c) -> (a * 31 + c) % 1099511627776) % 100 AS bucket
           FROM documents)
         SELECT source,
                CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM b GROUP BY 1, 2""",
    "q57_pack_sequences" ->
      """WITH t AS (SELECT source, doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS n_tokens
           FROM documents),
         c AS (SELECT source, doc_id, n_tokens,
                      sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM t)
         SELECT source, CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS pack_id,
                count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                CAST(count(*) AS INT) AS max_pos
         FROM c GROUP BY 1, 2""",
    "q82_token_shards" ->
      """WITH t AS (SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
                      coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
               FROM t)
         SELECT CAST(floor(pfx / 2000) AS BIGINT) AS shard_id,
                count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         FROM c GROUP BY 1""",
    "q88_length_quantiles" ->
      """WITH t AS (SELECT source,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS n_tokens
           FROM documents)
         SELECT source, count(*) AS n_docs,
                round(avg(n_tokens), 6) AS mean_tokens,
                round(quantile_cont(n_tokens, 0.5), 6) AS p50,
                round(quantile_cont(n_tokens, 0.9), 6) AS p90,
                round(quantile_cont(n_tokens, 0.99), 6) AS p99
         FROM t GROUP BY source""",
    "q90_chunk_tokens" ->
      """WITH sp AS (SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                ELSE regexp_split_to_array(trim(text), '\s+') END AS t
           FROM documents WHERE text IS NOT NULL),
         n AS (SELECT doc_id, t, CAST(len(t) AS INT) AS n FROM sp WHERE len(t) > 0),
         c AS (SELECT doc_id, t, n,
                      CASE WHEN n <= 20 THEN 1 ELSE 1 + (n - 20 + 14) // 15 END AS nch
               FROM n),
         u AS (SELECT doc_id, t, n, CAST(tt.i AS INT) AS chunk_idx
               FROM c, unnest(range(nch)) AS tt(i))
         SELECT doc_id, chunk_idx,
                CAST(least(20, n - chunk_idx * 15) AS INT) AS n_tokens,
                array_to_string(t[chunk_idx * 15 + 1 : least(chunk_idx * 15 + 20, n)], ' ') AS chunk
         FROM u""",
    "q22_token_stats" ->
      """SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS n_tokens,
         n_chars
         FROM documents""",
    "q23_char_ratios" ->
      """SELECT doc_id,
         round(CASE WHEN length(text) = 0 THEN 0.0
           ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                / length(text) END, 6) AS digit_ratio,
         round(CASE WHEN length(text) = 0 THEN 0.0
           ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                / length(text) END, 6) AS punct_ratio
         FROM documents""",
    "q24_fingerprint" ->
      """SELECT doc_id,
         list_reduce(
           list_prepend(CAST(7 AS BIGINT), list_transform(
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ''),
             c -> CAST(ascii(c) AS BIGINT))),
           (a, c) -> (a * 31 + c) % 1099511627776) AS fp
         FROM documents""",
    "q26_knn_cosine" ->
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings WHERE vec_id < 5),
           c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings WHERE vec_id >= 5),
           s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        list_dot_product(q.e, c.e) /
                          (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS cos
                 FROM q CROSS JOIN c)
         SELECT query_id, neighbor_id, round(cos, 6) AS cosine FROM (
           SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rk
           FROM s)
         WHERE rk <= 3""",
    // The ±1 sign is regenerated from the same integer formula as
    // rademacherSign; the fold is the kernel's input-index-order sum
    "q127_hash_project" -> raw"""
      SELECT vec_id, CAST(j AS INT) AS dim_idx,
             round(list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(len(embedding)), i ->
                   CAST(embedding[i + 1] AS DOUBLE) *
                   (CASE WHEN ((i + 1) * 2654435761 + (j + 1) * 40503)
                              % 97 % 2 = 0
                         THEN CAST(1 AS DOUBLE)
                         ELSE CAST(-1 AS DOUBLE) END))),
               (a, b) -> a + b), 6) AS value
      FROM embeddings CROSS JOIN range(8) t(j)
      WHERE embedding IS NOT NULL""",
    // The 3 MMR rounds unrolled (recursive CTEs can't aggregate in the
    // recursive term): each round scores remaining candidates with the
    // q26 cosine arithmetic (bit-identical to the mmrSelect kernel) and
    // picks the (score DESC, doc_id) top-1. λ spelled CAST(0.7 AS DOUBLE)
    // so DuckDB can't route the literal through DECIMAL; `+ CAST(0 AS
    // DOUBLE)` normalizes −0.0 on both engines identically.
    "q125_mmr_rerank" -> {
      val lam = "CAST(0.7 AS DOUBLE)"
      val oml = "(CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))"
      raw"""
      WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id >= 5),
      s AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id, c.e AS e,
                   list_dot_product(q.e, c.e) /
                     (sqrt(list_dot_product(q.e, q.e)) *
                      sqrt(list_dot_product(c.e, c.e))) AS cos
            FROM q CROSS JOIN c),
      cand AS MATERIALIZED (
        SELECT query_id, doc_id, round(cos, 6) AS rel, e FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, doc_id) AS rk
          FROM s)
        WHERE rk <= 8),
      p1 AS MATERIALIZED (
        SELECT query_id, doc_id, rel, e, $lam * rel AS mmr FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY $lam * rel DESC, doc_id) AS rk
          FROM cand)
        WHERE rk = 1),
      r2 AS MATERIALIZED (
        SELECT cand.query_id, cand.doc_id, cand.rel, cand.e,
               list_dot_product(cand.e, p1.e) /
                 (sqrt(list_dot_product(cand.e, cand.e)) *
                  sqrt(list_dot_product(p1.e, p1.e))) AS s1
        FROM cand JOIN p1 USING (query_id)
        WHERE cand.doc_id <> p1.doc_id),
      p2 AS MATERIALIZED (
        SELECT query_id, doc_id, rel, e, s1,
               $lam * rel - $oml * s1 AS mmr FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY $lam * rel - $oml * s1 DESC,
                                                doc_id) AS rk
          FROM r2)
        WHERE rk = 1),
      r3 AS MATERIALIZED (
        SELECT r2.query_id, r2.doc_id, r2.rel,
               $lam * r2.rel - $oml * greatest(r2.s1,
                 list_dot_product(r2.e, p2.e) /
                   (sqrt(list_dot_product(r2.e, r2.e)) *
                    sqrt(list_dot_product(p2.e, p2.e)))) AS sc
        FROM r2 JOIN p2 USING (query_id)
        WHERE r2.doc_id <> p2.doc_id),
      p3 AS (SELECT query_id, doc_id, rel, sc AS mmr FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sc DESC, doc_id) AS rk
          FROM r3)
        WHERE rk = 1)
      SELECT query_id, CAST(1 AS INT) AS pick_rank, doc_id, rel,
             round(mmr, 7) + CAST(0 AS DOUBLE) AS mmr FROM p1
      UNION ALL
      SELECT query_id, CAST(2 AS INT), doc_id, rel,
             round(mmr, 7) + CAST(0 AS DOUBLE) FROM p2
      UNION ALL
      SELECT query_id, CAST(3 AS INT), doc_id, rel,
             round(mmr, 7) + CAST(0 AS DOUBLE) FROM p3"""
    },
    // scale = max|x|/127 and codes = floor(x/scale + 0.5) replicate
    // int8Quantize exactly (identical IEEE ops both engines); the scales
    // cancel in the cosine so the score is a ratio of exact integer sums
    "q109_quantized_ann" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           sc AS (SELECT vec_id, e,
                         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
                  FROM base),
           codes AS (SELECT vec_id,
                            list_transform(e, x ->
                              CASE WHEN scale = 0 THEN CAST(0 AS DOUBLE)
                                   ELSE floor(x / scale + 0.5) END) AS c
                     FROM sc),
           q AS (SELECT vec_id, c FROM codes WHERE vec_id < 5),
           cp AS (SELECT vec_id, c FROM codes WHERE vec_id >= 5),
           s AS (SELECT q.vec_id AS query_id, cp.vec_id AS neighbor_id,
                        list_dot_product(q.c, cp.c) /
                          (sqrt(list_dot_product(q.c, q.c)) * sqrt(list_dot_product(cp.c, cp.c))) AS cos
                 FROM q CROSS JOIN cp)
         SELECT query_id, neighbor_id, round(cos, 6) AS cosine FROM (
           SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rk
           FROM s)
         WHERE rk <= 3""",
    // md5("id:epoch") lowercase hex on both engines; position replicated
    // by row_number over (key, id) minus 1 (engine positions are 0-based)
    "q121_epoch_order" ->
      """WITH keyed AS (
             SELECT e.epoch, d.doc_id,
                    md5(CAST(d.doc_id AS VARCHAR) || ':'
                        || CAST(e.epoch AS VARCHAR)) AS shuffle_key
             FROM documents d CROSS JOIN (VALUES (0), (1)) AS e(epoch)
             WHERE d.doc_id IS NOT NULL)
         SELECT epoch, doc_id, shuffle_key,
                CAST(row_number() OVER (PARTITION BY epoch
                                        ORDER BY shuffle_key, doc_id) - 1
                     AS BIGINT) AS position
         FROM keyed""",
    // folds seeded from 0.0 in vec_id order (pool) and dim order (norm)
    // replicate the Scala zero-seeded aggregate folds bit-for-bit
    "q118_mean_pool" ->
      """WITH chunks AS (SELECT vec_id % 50 AS doc_id, vec_id,
                                CAST(embedding AS DOUBLE[]) AS e
                         FROM embeddings),
           ex AS (SELECT doc_id, vec_id, CAST(u.i AS INT) AS dim,
                         e[CAST(u.i AS INT) + 1] AS x
                  FROM chunks, unnest(range(len(e))) AS u(i)),
           m AS (SELECT doc_id, dim,
                        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                          list(x ORDER BY vec_id)), (a, b) -> a + b)
                          / count(*) AS mean,
                        count(*) AS n
                 FROM ex GROUP BY 1, 2),
           nr AS (SELECT doc_id,
                         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(list(mean ORDER BY dim), v -> v * v)),
                           (a, b) -> a + b)) AS nrm
                  FROM m GROUP BY doc_id)
         SELECT m.doc_id, CAST(m.n AS BIGINT) AS n, m.dim,
                round(m.mean, 6) AS pooled,
                CASE WHEN nr.nrm = 0 THEN NULL
                     ELSE round(m.mean / nr.nrm, 6) END AS unit
         FROM m JOIN nr ON m.doc_id = nr.doc_id""",
    "q114_hard_negatives" ->
      """WITH q AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings WHERE vec_id < 5),
           c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
           s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        list_dot_product(q.e, c.e) /
                          (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS cos
                 FROM q JOIN c ON c.label <> q.label)
         SELECT query_id, neighbor_id, round(cos, 6) AS cosine FROM (
           SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rk
           FROM s)
         WHERE rk <= 5""",
    "q40_ngram_jaccard" ->
      """WITH docs AS (
           SELECT doc_id, source,
                  list_distinct(string_split(
                    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents WHERE doc_id < 100)
         SELECT * FROM (
           SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
                  round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.w, b.w))), 6) AS jaccard
           FROM docs a JOIN docs b
             ON a.source = b.source AND a.doc_id < b.doc_id)
         WHERE jaccard >= 0.5"""
  )
}
