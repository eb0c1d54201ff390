package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup, GraphOps, Similarity}
import graft.sources.Tables

/** Corpus-curation queries (training-data pipeline surface): benchmark
  * decontamination, per-domain quota selection, vocabulary top-k, and
  * deterministic stratified sampling — all on the `documents` table, all
  * DuckDB-oracle-checked.
  */
object QueriesCuration {

  // Shadows functions.round: every oracle-compared column rounds with
  // DuckDB-exact semantics (see graft.functions.Rounding) so half-boundary
  // values hash identically on both engines.
  private def round(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    graft.functions.Rounding.dround(c, scale)

  type Q = (SparkSession, String) => DataFrame

  private val enStop = TextFunctions.LangStopwords("en")

  val queries: Map[String, Q] = Map(
    // Benchmark decontamination: word-trigram overlap of every corpus doc
    // against the synthetic "benchmark" subset (doc_id % 97 == 0)
    "q73_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.decontaminate(
        corpus = docs.filter(col("doc_id") % 97 =!= 0),
        benchmark = docs.filter(col("doc_id") % 97 === 0),
        idCol = "doc_id", textCol = "text", n = 3)
    }),

    // Domain-balanced quota: top-5 docs per source by quality score,
    // reduced through the topk_by_score partial-heap aggregate
    "q74_domain_quota" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(
        col("source"), col("doc_id"),
        TextFunctions.qualityScore(col("text"), enStop).as("score"))
      Curation.domainQuota(scored, "source", "doc_id", "score", k = 5)
    }),

    // Corpus vocabulary: 50 most frequent tokens (count desc, token asc)
    "q75_vocab_topk" -> ((s, d) =>
      Curation.vocabTopK(Tables.documents(s, d), "text", k = 50)),

    // Bounded-state heavy hitters (SpaceSaving aggregate), run in its
    // exact regime (capacity >> distinct tokens) so the oracle can check
    // it value-for-value; small-capacity bounds are property-pinned in
    // ApproxTopItemsSpec
    "q145_heavy_hitters" -> ((s, d) =>
      Curation.vocabTopKApprox(Tables.documents(s, d), "text", k = 25,
        capacity = 1 << 17)),

    // Deterministic per-source sampling on the content fingerprint
    "q76_stratified_sample" -> ((s, d) =>
      Curation.stratifiedSample(Tables.documents(s, d), "text", "source",
        rates = Map("src0" -> 0.05, "src7" -> 0.5, "src13" -> 0.8),
        defaultRate = 0.25)
        .select(col("doc_id"), col("source"), col("sample_bucket"))),

    // Exact-N deterministic sample: the 3 smallest-fingerprint docs per
    // source (reproducible exact-count pick; rank checked by the oracle)
    "q122_exact_sample" -> ((s, d) =>
      Curation.sampleExactN(Tables.documents(s, d), "source", "doc_id",
        "text", n = 3)),

    // Token-budget-capped selection: best docs by quality (desc, id asc)
    // until the cumulative token count first exceeds 10k — window-free
    // global running sum (OrderedPosition, not Window.orderBy)
    "q132_budget_select" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(col("doc_id"), col("text"),
        TextFunctions.qualityScore(col("text"), enStop).as("score"))
      Curation.budgetSelect(scored, "doc_id", "text", "score",
        budgetTokens = 10000L)
    }),

    // Blocklist gate: banned-term counts (words + one bigram phrase) and
    // the admitted verdict at a 6% banned-token-fraction threshold
    "q133_blocklist_gate" -> ((s, d) =>
      Curation.blocklistGate(Tables.documents(s, d), "doc_id", "text",
        blocklist = Seq("slow", "big", "dup", "batch batch"),
        maxFrac = 0.06)),

    // Largest-remainder apportionment: an exact 301-doc budget across six
    // weighted sources (one absent from the corpus -> n_docs 0, capped 0)
    "q134_apportion" -> ((s, d) =>
      Curation.apportion(Tables.documents(s, d), "source",
        weights = Map("src0" -> 5L, "src1" -> 3L, "src2" -> 3L,
          "src3" -> 2L, "src7" -> 1L, "srcX" -> 1L),
        totalN = 301L)),

    // Embedding centroid drift: cosine of each source's fixed-point mean
    // embedding against the corpus mean (scale cancels in the cosine)
    "q135_centroid_drift" -> ((s, d) =>
      Curation.centroidDrift(Tables.documents(s, d), Tables.embeddings(s, d),
        "source", "doc_id", "vec_id", "embedding")),

    // Greedy k-center coreset over the embeddings: min-id seed, then 4
    // max-min picks on exact fixed-point integer distances
    "q136_kcenter_coreset" -> ((s, d) =>
      Similarity.kCenterCoreset(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 5)),

    // Tokenizer fertility by declared language: subwords/word and
    // chars/subword from integer class totals
    "q137_fertility" -> ((s, d) =>
      Curation.tokenizerFertility(Tables.documents(s, d), "lang", "text")),

    // Per-source quantile normalization: Hazen percentile of the quality
    // score within each source — grouped ranks without a per-class window
    "q138_quantile_norm" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(col("text"), enStop).as("score"))
      Curation.quantileNormalize(scored, "source", "doc_id", "score")
    }),

    // Quality-signal correlation matrix: Pearson r between the four
    // quality-score components, from exact integer power sums
    "q139_signal_corr" -> ((s, d) => {
      val t = Tables.documents(s, d)
      val sig = t.select(
        round(least(length(col("text")).cast("double") / 500.0, lit(1.0)), 6)
          .as("len_score"),
        round(TextFunctions.charRatio(col("text"), "[^A-Za-z0-9\\s]"), 6)
          .as("punct_ratio"),
        round(TextFunctions.charRatio(col("text"), "[0-9]"), 6)
          .as("digit_ratio"),
        round(TextFunctions.stopwordRatio(col("text"), enStop), 6)
          .as("stop_ratio"))
      Curation.signalCorrelation(sig,
        Seq("len_score", "punct_ratio", "digit_ratio", "stop_ratio"))
    }),

    // Source-similarity map: exact vocabulary Jaccard per source pair
    "q143_vocab_overlap" -> ((s, d) =>
      Curation.vocabOverlap(Tables.documents(s, d), "source", "text")),

    // Per-document Shannon token entropy (token-sorted bounded fold)
    "q144_token_entropy" -> ((s, d) =>
      Curation.tokenEntropy(Tables.documents(s, d), "doc_id", "text")),

    // Materialized inverted index: per-token df/cf + the first 16
    // "doc:tf" postings by doc id, heap-capped (truncated flag checked)
    "q123_inverted_index" -> ((s, d) =>
      Curation.invertedIndex(Tables.documents(s, d), "doc_id", "text",
        maxPostings = 16)),

    // Host-graph PageRank: the crawl-quality prior. Link graph = first
    // URL host of each (link-salted) doc -> every other host it cites;
    // 5 fixed-point power iterations (enough to differentiate ranks on
    // this graph; GraphOpsSpec exercises deeper runs), bit-deterministic
    // integer ranks
    "q124_host_pagerank" -> ((s, d) => {
      val salted = Tables.documents(s, d)
        .select(col("doc_id"), linkSaltedText.as("text"))
      val hosts = salted.select(
        TextFunctions.urlHost(
          regexp_extract(col("text"), TextFunctions.UrlRe, 0)).as("src"),
        explode(TextFunctions.extractUrls(col("text"))).as("url"))
      val edges = hosts.select(col("src"),
        TextFunctions.urlHost(col("url")).as("dst"))
      GraphOps.pageRank(edges, "src", "dst", iterations = 5)
    }),

    // Per-source distribution drift: Jensen-Shannon divergence vs the
    // corpus over the top-20 vocabulary + OOV residual bucket
    "q130_source_divergence" -> ((s, d) =>
      Curation.sourceDivergence(Tables.documents(s, d), "source", "text",
        topK = 20)),

    // Zipf rank-frequency fit over the top-1000 tokens: slope/intercept/r2
    "q129_zipf_fit" -> ((s, d) =>
      Curation.zipfFit(Tables.documents(s, d), "text", topK = 1000)),

    // PMI collocations: top-50 within-±5-window token pairs by pointwise
    // mutual information, support floor 5
    "q128_pmi_collocations" -> ((s, d) =>
      Curation.pmiCollocations(Tables.documents(s, d), "text",
        window = 5, minCount = 5, k = 50)),

    // TF-IDF keywords: top-3 tf·ln(N/df) tokens per document
    "q126_tfidf_keywords" -> ((s, d) =>
      Curation.tfidfKeywords(Tables.documents(s, d), "doc_id", "text", k = 3)),

    // Repetition filters (Gopher/C4 rules): duplicate-token fraction and
    // most-frequent-bigram character fraction per document
    "q83_repetition" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.repetitionStats(col("text")).as("r"))
        .select(col("doc_id"),
          round(col("r._1"), 6).as("dup_token_frac"),
          col("r._2").as("top_bigram"),
          round(col("r._3"), 6).as("top_bigram_frac"))),

    // PII / link scan: per-doc email/URL/phone counts + has_pii verdict
    // (documents salted with synthetic contacts so counts are nonzero)
    "q81_pii_scan" -> ((s, d) => {
      val salted = piiSalted(s, d)
      val counts = TextFunctions.piiCounts(col("text"))
      salted.select(col("doc_id") +: counts: _*)
        .withColumn("has_pii",
          col("n_email") + col("n_url") + col("n_phone") > 0)
    }),

    // Gopher document-shape gate (Rae 2021 §A1.1) over documents given
    // line structure + bullet/ellipsis/symbol salts (corpus text is
    // single-line; the salts exercise every rule — see structuredText)
    "q85_gopher_gate" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), structuredText.as("text"))
      Curation.gopherGate(base, "text", minWords = 50).drop("text")
    }),

    // C4/RefinedWeb line-level dedup: boilerplate lines (injected on a
    // doc_id lattice, like real nav/footer text) repeat corpus-wide and
    // are dropped; prose lines survive; docs are reassembled in order
    "q86_line_dedup" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), boilerplated.as("text"))
      Curation.dedupLines(base, "doc_id", "text", maxOccurrences = 5)
    }),

    // Per-domain corpus statistics over URLs extracted from (salted)
    // text: normalized host, registrable domain, TLD, url/doc/query counts
    "q87_domain_stats" -> ((s, d) => {
      val salted = Tables.documents(s, d)
        .select(col("doc_id"), urlSaltedText.as("text"))
      val urls = salted.select(col("doc_id"),
        explode(TextFunctions.extractUrls(col("text"))).as("url"))
      urls
        .select(col("doc_id"), col("url"),
          TextFunctions.urlHost(col("url")).as("host"))
        .groupBy(col("host"))
        .agg(
          count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"),
          count(when(col("url").contains("?"), 1)).as("n_with_query"))
        .select(col("host"),
          TextFunctions.registrableDomain(col("host")).as("domain"),
          regexp_extract(col("host"), "\\.([^.]+)$", 1).as("tld"),
          col("n_urls"), col("n_docs"), col("n_with_query"))
    }),

    // Duplicated-span fraction: distinct 8-grams with corpus document
    // frequency >= 2 (exact-substring-dedup signal; doc-level exact dups
    // and injected boilerplate score high, unique prose scores 0)
    "q93_dup_spans" -> ((s, d) =>
      Curation.dupGramFraction(Tables.documents(s, d), "doc_id", "text",
        n = 8, minDocFreq = 2)),

    // The full curation chain as a STREAMING ingest gate (stateless:
    // quality + broadcast-set decontamination + hash sampling), run as a
    // bounded stream — the oracle replays the identical chain in SQL, so
    // this checks batch/stream parity of the whole pipeline
    "q79_ingest_gate" -> ((s, d) =>
      graft.streaming.StreamingOps.runIngestGateAvailableNow(s, d)),

    // Fuzzy-dedup retention: connected components over a closed-form
    // chain lattice (edges (i-1, i) unless i%5==0 → components are the
    // 5-runs floor(id/5)*5, which the oracle verifies), keeping the
    // highest-quality member of each component
    "q95_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id"),
        TextFunctions.qualityScore(col("text"), enStop).as("score"))
      val pairs = docs.select(col("doc_id").cast("long").as("id"))
        .filter(col("id") % 5 =!= 0)
        .select((col("id") - 1).as("id_a"), col("id").as("id_b"))
      Dedup.keepBest(scored, "doc_id", "score", pairs)
        .withColumnRenamed("id", "doc_id")
    }),

    // Canonical text normalization over whitespace/control-char-mangled
    // input (CRLF line breaks, doubled spaces, BEL+tab prefixes, blank-run
    // padding — injected on a doc_id lattice; see messyText)
    "q96_normalize_text" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"), messyText.as("text"))
        .select(col("doc_id"), length(col("text")).as("n_before"),
          TextFunctions.normalizeText(col("text")).as("text_norm"))
        .withColumn("n_after", length(col("text_norm")))),

    // DSIR-style importance weights: per-doc mean log-likelihood ratio of
    // the target LM (doc_id%97==0 subset) over the raw-corpus LM
    "q97_importance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.importanceWeights(
        corpus = docs.filter(col("doc_id") % 97 =!= 0),
        target = docs.filter(col("doc_id") % 97 === 0),
        idCol = "doc_id", textCol = "text", alpha = 0.5)
    }),

    // RefinedWeb paragraph-level dedup: same engine as q86 at "\n\n"
    // granularity, over paragraph-structured text with boilerplate
    // paragraphs injected on a doc_id lattice
    "q98_paragraph_dedup" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), paragraphed.as("text"))
      Curation.dedupLines(base, "doc_id", "text",
        maxOccurrences = 5, separator = "\n\n")
    }),

    // CCNet-style LM quality: per-doc cross-entropy under an add-0.5
    // smoothed bigram model trained on the doc_id%97==0 reference subset
    "q99_lm_quality" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.bigramCrossEntropy(
        corpus = docs.filter(col("doc_id") % 97 =!= 0),
        reference = docs.filter(col("doc_id") % 97 === 0),
        idCol = "doc_id", textCol = "text", alpha = 0.5)
    }),

    // Duplicated-span REMOVAL (q93's acting form): tokens covered by any
    // corpus-duplicated 8-gram are dropped, documents rebuilt from the
    // survivors (exact doc dups trim to empty; unique prose passes whole)
    "q101_trim_spans" -> ((s, d) =>
      Curation.trimDupGrams(Tables.documents(s, d), "doc_id", "text",
        n = 8, minDocFreq = 2)),

    // Domain-mixture reweighting: per-source sampling rates realizing
    // target mixture fractions of a 2000-token budget
    "q102_mixture_rates" -> ((s, d) =>
      Curation.mixtureRates(Tables.documents(s, d), "source", "text",
        targets = Map("src0" -> 0.3, "src7" -> 0.25, "src13" -> 0.05),
        budgetTokens = 2000L)),

    // Hashed-feature linear classifier inference (fastText shape) with a
    // closed-form weight vector the oracle replicates token-by-token
    "q103_classifier" -> ((s, d) => {
      val w = Array.tabulate(64)(j => ((j * 37) % 21 - 10) / 10.0)
      Curation.linearScore(Tables.documents(s, d), "doc_id", "text",
        dim = 64, weights = w, bias = 0.1)
    }),

    // The end-to-end corpus-preparation pipeline as ONE declarative plan,
    // fully value-checked: quality gate → exact dedup → token-balanced
    // global shards → per-shard stats. Every stage is an existing
    // operator; the oracle composes the same chain in SQL
    "q107_prepare_corpus" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .withColumn("quality",
          TextFunctions.qualityScore(col("text"), enStop))
      val admitted = scored.filter(col("quality") >= 0.6)
      val deduped = Dedup.exactDedup(admitted, "text", "doc_id")
        .select(col("doc_id"), col("quality"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
      // shard stats stay integer-exact: averaging the per-doc ROUNDED
      // quality would surface the documented cross-engine round-half
      // caveat (one sf0.1 doc rounds a 6-dp half differently) in every
      // shard containing such a doc
      graft.operators.TrainingData.shardByTokens(
          deduped, Seq("doc_id"), "n_tokens", targetTokens = 2000)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
    }),

    // BM25 keyword retrieval: two term-set queries against the corpus,
    // top-10 each — the retrieval primitive behind query-based
    // decontamination ("which documents answer this benchmark prompt?")
    "q110_bm25" -> ((s, d) =>
      Curation.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        queryTerms = probeTerms, k = 10)),

    // PRF query expansion: top-5 BM25 feedback docs per probe query,
    // integer-weighted top-5 non-query expansion terms
    "q131_query_expansion" -> ((s, d) =>
      Curation.queryExpansion(Tables.documents(s, d), "doc_id", "text",
        queryTerms = probeTerms, kDocs = 5, kTerms = 5)),

    // Corpus snapshot diff: old = ids <450, new = ids >=50 with content
    // edits on id%13 — classifies added/removed/changed/unchanged by
    // the portable content fingerprint (the incremental-refresh audit)
    "q116_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val oldSnap = docs.filter(col("doc_id") < 450)
      val newSnap = docs.filter(col("doc_id") >= 50)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      Curation.corpusDiff(oldSnap, newSnap, "doc_id", "text")
    }),

    // PII redaction — q81's acting form: typed placeholders substituted
    // in the fixed email→URL→phone order over the same salted corpus
    "q115_pii_redact" -> ((s, d) =>
      piiSalted(s, d).select(col("doc_id"),
        TextFunctions.redactPii(col("text")).as("redacted"))),

    // Retrieval-based decontamination, end-to-end in ONE plan: benchmark
    // probe term-sets retrieve their most-relevant docs (BM25, k=25),
    // hits at or above the rounded-score threshold are dropped by
    // anti-join (flagged set is k·queries rows → broadcast), per-source
    // before/after/dropped stats emitted — q73's n-gram decontamination
    // re-expressed through the retrieval surface. The 2.0 threshold is
    // verified non-vacuous: it splits the probe queries (only the
    // rare-term query-0 hits exceed it), dropping 25 docs at BOTH
    // sf0.01 and sf0.1 while query-1's ~1.4-score hits all survive
    "q120_retrieval_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val hits = Curation.bm25TopK(docs, "doc_id", "text",
        queryTerms = probeTerms, k = 25)
      val flagged = hits.filter(col("score") >= 2.0)
        .select(col("doc_id")).distinct().withColumn("__hit", lit(1))
      // r19: ONE corpus scan for the per-source stats — the broadcast-tiny
      // flagged set (≤ k·queries ids) marks dropped docs in the same
      // aggregate that counts n_before, instead of a second full scan
      // through an anti-join (n_after = n_before − n_dropped by
      // construction: doc ids are unique and flagged is distinct, so the
      // left join never duplicates and count(__hit) counts exactly the
      // docs the anti-join would have removed; a null doc_id matches
      // neither spelling)
      docs.select(col("source"), col("doc_id"))
        .join(broadcast(flagged), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_before"), count(col("__hit")).as("n_dropped"))
        .select(col("source"), col("n_before"),
          (col("n_before") - col("n_dropped")).as("n_after"),
          col("n_dropped"))
    }),

    // Hybrid retrieval: BM25 keyword lists fused with embedding-cosine
    // lists by reciprocal-rank fusion — ranks assigned on the 6-dp
    // rounded scores both engines already agree on, RRF = Σ 1/(60+rank).
    // Id contract: embeddings.vec_id IS the documents.doc_id of the same
    // entity (the fixture generates one embedding per document over the
    // same 0..N-1 ids), so both retrievers rank the SAME corpus and the
    // fusion key is well-defined
    "q113_hybrid_rrf" -> ((s, d) => {
      val bm = Curation.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        queryTerms = probeTerms, k = 10)
      val emb = Tables.embeddings(s, d)
      val knn = graft.operators.Similarity.bruteForceTopK(
        corpus = emb, corpusId = "vec_id", corpusVec = "embedding",
        queries = emb.filter(col("vec_id") < 2), queryId = "vec_id", queryVec = "embedding",
        k = 10)
      Curation.rrfFuse(bm, knn, k = 10)
    })
  )

  import org.apache.spark.sql.Column

  /** Corpus text given deterministic LINE structure — a newline after every
    * 8th token, bulleted lines on doc_id%3, line-ending ellipses on
    * doc_id%5, a symbol salt on doc_id%7. The synthetic corpus is
    * single-line, which would leave every Gopher line rule untested; the
    * identical transform is a CTE in the oracle (`structuredTextSql`).
    */
  private def structuredText: Column = {
    val nl = regexp_replace(col("text"), "((?:\\S+ ){7}\\S+) ", "$1\n")
    val el = when(col("doc_id") % 5 === 0,
      replace(nl, lit("\n"), lit("...\n"))).otherwise(nl)
    val bu = when(col("doc_id") % 3 === 0,
      concat(lit("- "), replace(el, lit("\n"), lit("\n- ")))).otherwise(el)
    when(col("doc_id") % 7 === 0, concat(bu, lit(" ###"))).otherwise(bu)
  }

  private val structuredTextSql = raw"""
      st0 AS (SELECT doc_id,
                regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1' || chr(10), 'g') AS t0
              FROM documents),
      st1 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
                THEN replace(t0, chr(10), '...' || chr(10)) ELSE t0 END AS t1 FROM st0),
      st2 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
                THEN '- ' || replace(t1, chr(10), chr(10) || '- ') ELSE t1 END AS t2 FROM st1),
      st AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
                THEN t2 || ' ###' ELSE t2 END AS text FROM st2)"""

  /** Line-structured text with boilerplate lines injected on a doc_id
    * lattice (the real-web shape: identical nav/footer lines across many
    * pages) — what [[graft.operators.Curation.dedupLines]] must remove.
    */
  private def boilerplated: Column = {
    val nl = regexp_replace(col("text"), "((?:\\S+ ){7}\\S+) ", "$1\n")
    val pre = when(col("doc_id") % 3 === 0,
      concat(lit("subscribe to our newsletter\n"), nl)).otherwise(nl)
    when(col("doc_id") % 4 === 0,
      concat(pre, lit("\nall rights reserved"))).otherwise(pre)
  }

  private val boilerplatedSql = raw"""
      bl0 AS (SELECT doc_id,
                regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1' || chr(10), 'g') AS t0
              FROM documents),
      bl1 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
                THEN 'subscribe to our newsletter' || chr(10) || t0 ELSE t0 END AS t1 FROM bl0),
      bl AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
                THEN t1 || chr(10) || 'all rights reserved' ELSE t1 END AS text FROM bl1)"""

  /** Whitespace/control-char-mangled text for the normalization path:
    * CRLF breaks every 8 tokens, doubled spaces on doc_id%2, a BEL+tab
    * prefix on doc_id%3, leading spaces + a 4-newline tail on doc_id%5.
    */
  private def messyText: Column = {
    val nl = regexp_replace(col("text"), "((?:\\S+ ){7}\\S+) ", "$1\r\n")
    val sp = when(col("doc_id") % 2 === 0,
      regexp_replace(nl, " ", "  ")).otherwise(nl)
    val ctl = when(col("doc_id") % 3 === 0,
      concat(lit("\u0007\t"), sp)).otherwise(sp)
    when(col("doc_id") % 5 === 0,
      concat(lit("  "), ctl, lit("\n\n\n\n"))).otherwise(ctl)
  }

  private val messyTextSql = raw"""
      m0 AS (SELECT doc_id,
               regexp_replace(text, '((?:\S+ ){7}\S+) ',
                 '\1' || chr(13) || chr(10), 'g') AS t0
             FROM documents),
      m1 AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
               THEN replace(t0, ' ', '  ') ELSE t0 END AS t1 FROM m0),
      m2 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
               THEN chr(7) || chr(9) || t1 ELSE t1 END AS t2 FROM m1),
      m AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
              THEN '  ' || t2 || repeat(chr(10), 4) ELSE t2 END AS text FROM m2)"""

  /** Paragraph-structured text (blank-line breaks every 6 tokens) with
    * boilerplate PARAGRAPHS injected on a doc_id lattice — the input shape
    * for the "\n\n"-separator dedup variant.
    */
  private def paragraphed: Column = {
    val pp = regexp_replace(col("text"), "((?:\\S+ ){5}\\S+) ", "$1\n\n")
    val pre = when(col("doc_id") % 3 === 0,
      concat(lit("cookie notice please accept\n\n"), pp)).otherwise(pp)
    when(col("doc_id") % 4 === 0,
      concat(pre, lit("\n\nfollow us on social media"))).otherwise(pre)
  }

  private val paragraphedSql = raw"""
      p0 AS (SELECT doc_id,
               regexp_replace(text, '((?:\S+ ){5}\S+) ',
                 '\1' || chr(10) || chr(10), 'g') AS t0
             FROM documents),
      p1 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
               THEN 'cookie notice please accept' || chr(10) || chr(10) || t0
               ELSE t0 END AS t1 FROM p0),
      pl AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
               THEN t1 || chr(10) || chr(10) || 'follow us on social media'
               ELSE t1 END AS text FROM p1)"""

  /** Text salted with one or two synthetic URLs per document (mixed case,
    * www prefixes, ports, query strings) for the domain-statistics path.
    */
  private def urlSaltedText: Column = concat(
    col("text"), lit(" see https://"),
    when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
    col("source"), (col("doc_id") % 5).cast("string"), lit(".Example.COM"),
    when(col("doc_id") % 4 === 0, lit(":8080")).otherwise(lit("")),
    lit("/p/"), col("doc_id").cast("string"),
    when(col("doc_id") % 2 === 0, lit("?utm_source=feed")).otherwise(lit("")),
    when(col("doc_id") % 6 === 0,
      lit(" and http://MIRROR.example.net/x")).otherwise(lit("")))

  /** Text salted with synthetic outlinks for the host-graph path: every
    * doc gets an "own" host (h{id%23}.example.org) and one citation
    * (h{(7·id+3)%29}.example.org — the mod-29 family makes h23..h28
    * dangling), docs with id%6 == 0 also cite a hub. Any URLs already in
    * the base text join the graph identically on both engines.
    */
  private def linkSaltedText: Column = concat(
    col("text"),
    lit(" from https://h"), (col("doc_id") % 23).cast("string"),
    lit(".example.org/p/"), col("doc_id").cast("string"),
    lit(" link https://h"), ((col("doc_id") * 7 + 3) % 29).cast("string"),
    lit(".example.org/x"),
    when(col("doc_id") % 6 === 0, lit(" hub https://hub.example.net/t"))
      .otherwise(lit("")))

  private val linkSaltedSql = raw"""
      ls AS (
        SELECT doc_id, text ||
               ' from https://h' || CAST(doc_id % 23 AS VARCHAR) ||
               '.example.org/p/' || CAST(doc_id AS VARCHAR) ||
               ' link https://h' || CAST((doc_id * 7 + 3) % 29 AS VARCHAR) ||
               '.example.org/x' ||
               CASE WHEN doc_id % 6 = 0 THEN ' hub https://hub.example.net/t'
                    ELSE '' END AS text
        FROM documents)"""

  /** The q124 oracle: the edge build mirrors the Scala chain, then the 10
    * fixed-point PageRank rounds are UNROLLED as generated CTE triples
    * (contributions, dangling scalar, next ranks) — recursive CTEs can't
    * aggregate in the recursive term, and generating the rounds from one
    * template keeps all ten bit-identical to [[GraphOps.pageRank]]'s loop
    * (same `//` truncating division, same 15/85/100 integer damping).
    */
  /** Generated oracle for q139: the same textbook Pearson formula per
    * pair over exact ×10⁶ integer power sums (DuckDB HUGEINT == Spark
    * decimal — both exact), cast to double at the same points. Signal
    * components come from `scoreCte`'s qs0, rounded at 6 dp exactly as
    * the Spark query rounds them.
    */
  // lazy: interpolates toksCte/scoreCte, which are declared further down
  // the file (forced at oracleSql init, after every fragment exists)
  private lazy val signalCorrOracle: String = {
    val sigs = Seq("len_score" -> "len_score", "punct_ratio" -> "punct",
      "digit_ratio" -> "digits", "stop_ratio" -> "stop")
    val short = Map("len_score" -> "ls", "punct_ratio" -> "pr",
      "digit_ratio" -> "dr", "stop_ratio" -> "sr")
    val sumCols = sigs.map(_._1).map { n =>
      val c = short(n)
      raw"""CAST(sum(x_$c) AS DOUBLE) AS s_$c,
                   CAST(sum(x_$c * x_$c) AS DOUBLE) AS ss_$c"""
    }.mkString(",\n                   ")
    val pairs = for {
      i <- sigs.indices; j <- (i + 1) until sigs.size
    } yield (sigs(i)._1, sigs(j)._1)
    val prodCols = pairs.map { case (a, b) =>
      raw"""CAST(sum(x_${short(a)} * x_${short(b)}) AS DOUBLE) AS sp_${short(a)}_${short(b)}"""
    }.mkString(",\n                   ")
    val blocks = pairs.map { case (a, b) =>
      val (ca, cb) = (short(a), short(b))
      raw"""SELECT '$a' AS sig_x, '$b' AS sig_y, n,
             CASE WHEN (nd * ss_$ca - s_$ca * s_$ca) <= 0
                    OR (nd * ss_$cb - s_$cb * s_$cb) <= 0 THEN NULL
                  ELSE round((nd * sp_${ca}_$cb - s_$ca * s_$cb)
                       / (sqrt(nd * ss_$ca - s_$ca * s_$ca)
                          * sqrt(nd * ss_$cb - s_$cb * s_$cb)), 6)
             END AS r
      FROM a"""
    }.mkString("\n      UNION ALL ")
    val xCols = sigs.map { case (n, src) =>
      raw"""CAST(round(round($src, 6) * 1000000) AS BIGINT) AS x_${short(n)}"""
    }.mkString(",\n             ")
    raw"""
      WITH $toksCte,
      $scoreCte,
      sig AS (
        SELECT $xCols
        FROM qs0),
      base AS (SELECT * FROM sig
               WHERE x_ls IS NOT NULL AND x_pr IS NOT NULL
                 AND x_dr IS NOT NULL AND x_sr IS NOT NULL),
      agg AS (SELECT count(*) AS n,
                   $sumCols,
                   $prodCols
              FROM base),
      a AS (SELECT agg.*, CAST(n AS DOUBLE) AS nd FROM agg)
      $blocks"""
  }

  /** Generated unrolled oracle for q136 (Gonzalez k-center, k=5): each
    * round is a MATERIALIZED CTE (plain CTEs re-inline exponentially —
    * the q124 lesson); distances are the same fixed-point integers the
    * Spark side computes, ties break (mind DESC, id).
    */
  private val kCenterOracle: String = {
    val k = 5
    def dist(a: String, b: String) = raw"""
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(len($a)),
            i -> ($a[CAST(i AS INT) + 1] - $b[CAST(i AS INT) + 1])
               * ($a[CAST(i AS INT) + 1] - $b[CAST(i AS INT) + 1]))),
          (acc, x) -> acc + x)"""
    val rounds = (2 to k).map { r =>
      val p = r - 1
      val src = if (r == 2) "sv0" else s"d$p"
      val mind = if (r == 2) dist("s.sv", "c.sv")
                 else raw"""least(s.mind, ${dist("s.sv", "c.sv")})"""
      raw"""
      d$r AS MATERIALIZED (
        SELECT s.id, s.sv, $mind AS mind
        FROM $src s, c$p c WHERE s.id <> c.id),
      c$r AS MATERIALIZED (
        SELECT id, sv, mind FROM d$r ORDER BY mind DESC, id LIMIT 1)"""
    }.mkString(",")
    val union = (2 to k)
      .map(r => s"UNION ALL SELECT $r, id, mind FROM c$r").mkString("\n      ")
    raw"""
      WITH sv0 AS MATERIALIZED (
        SELECT vec_id AS id,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS sv
        FROM embeddings
        WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
      c1 AS MATERIALIZED (SELECT id, sv FROM sv0 ORDER BY id LIMIT 1),$rounds
      SELECT 1 AS pick_rank, id AS vec_id, CAST(NULL AS BIGINT) AS dist FROM c1
      $union"""
  }

  private val pageRankOracle: String = {
    val S = "1000000000000"
    val hostOf = (c: String) => raw"""
          CASE WHEN regexp_extract($c, '^[Hh][Tt][Tt][Pp][Ss]?://([^/:?#]+)', 1) = ''
               THEN NULL
               ELSE regexp_replace(lower(
                 regexp_extract($c, '^[Hh][Tt][Tt][Pp][Ss]?://([^/:?#]+)', 1)),
                 '^www\.', '') END"""
    val iters = (1 to 5).map { k =>
      val p = k - 1
      raw"""
      c$k AS (SELECT e.dst AS node, CAST(sum(r.r // e.outdeg) AS BIGINT) AS m
              FROM ew e JOIN r$p r ON r.node = e.src GROUP BY e.dst),
      d$k AS (SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dang
              FROM r$p r WHERE r.node NOT IN (SELECT src FROM ew)),
      r$k AS MATERIALIZED (SELECT n.node,
                     ((15 * ($S // nn.n)) // 100) +
                     ((85 * (coalesce(c.m, 0) + (d.dang // nn.n))) // 100) AS r
              FROM nodes n
              LEFT JOIN c$k c ON c.node = n.node
              CROSS JOIN d$k d CROSS JOIN ncount nn)"""
    }.mkString(",")
    raw"""
      WITH $linkSaltedSql,
      fu AS (SELECT doc_id,
                    regexp_extract(text, 'https?://[^\s]+') AS first_url,
                    unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
             FROM ls),
      eh AS (SELECT ${hostOf("first_url")} AS src, ${hostOf("url")} AS dst
             FROM fu),
      edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM eh
                WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
      od AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
      ew AS MATERIALIZED (SELECT e.src, e.dst, o.outdeg
                          FROM edges e JOIN od o USING (src)),
      nodes AS MATERIALIZED (SELECT src AS node FROM edges
                             UNION SELECT dst FROM edges),
      ncount AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
      r0 AS MATERIALIZED (SELECT node, $S // nn.n AS r
                          FROM nodes CROSS JOIN ncount nn),$iters
      SELECT node, CAST(r AS BIGINT) AS "rank" FROM r5"""
  }

  /** Documents salted with synthetic contacts (q81/q115 input): an email
    * on doc_id%5, a URL on doc_id%7, a phone number on doc_id%11.
    */
  private def piiSalted(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" see https://example.org/d/"), col("doc_id")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" call 555-867-5309"))
          .otherwise(lit(""))).as("text"))

  private val piiSaltedSql = raw"""
      salted AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 5 = 0
                    THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                    ELSE '' END ||
               CASE WHEN doc_id % 7 = 0
                    THEN ' see https://example.org/d/' || CAST(doc_id AS VARCHAR)
                    ELSE '' END ||
               CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309' ELSE '' END
                 AS text
        FROM documents)"""

  private val urlSaltedSql = raw"""
      u0 AS (SELECT doc_id, text ||
               ' see https://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
               source || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM' ||
               CASE WHEN doc_id % 4 = 0 THEN ':8080' ELSE '' END ||
               '/p/' || CAST(doc_id AS VARCHAR) ||
               CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed' ELSE '' END ||
               CASE WHEN doc_id % 6 = 0 THEN ' and http://MIRROR.example.net/x' ELSE '' END
               AS text
             FROM documents)"""

  /** The benchmark probe term-sets shared by q110/q113/q120 — one
    * constant so the Scala queries and the oracle VALUES/IN lists can
    * never drift apart.
    */
  private val probeTerms: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("dup", "vector"),
    1L -> Seq("spark", "key", "fast"))

  private val probeValuesSql = probeTerms
    .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")

  private val probeInSql =
    probeTerms.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")

  /** Shared oracle fragment: the BM25 scoring chain over the probe
    * term-sets, ending in `scored(query_id, doc_id, score)` — one copy
    * for q110/q113/q120 (requires `toksCte` in scope). The order-exact
    * `list_reduce` fold replicates `Curation.bm25TopK`'s sorted struct
    * fold bit-for-bit.
    */
  private val bm25ScoredCte = raw"""      lens AS (SELECT doc_id, COALESCE(len(t), 0) AS len, t FROM toks),
      stats AS (SELECT count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS tot FROM lens),
      qt(query_id, term) AS (VALUES $probeValuesSql),
      tf AS (SELECT doc_id, len, term, count(*) AS tf
             FROM (SELECT doc_id, len, unnest(t) AS term FROM lens)
             WHERE term IN ($probeInSql)
             GROUP BY 1, 2, 3),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      tsc AS (SELECT qt.query_id, tf.doc_id, tf.term,
                     ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * (1.2 + 1.0))
                       / (tf + 1.2 * ((1.0 - 0.75)
                          + 0.75 * len / (CAST(tot AS DOUBLE) / n_docs))) AS ts
              FROM tf JOIN dfreq USING (term) JOIN qt USING (term), stats),
      scored AS (SELECT query_id, doc_id,
                        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                          list(ts ORDER BY term)), (a, x) -> a + x) AS score
                 FROM tsc GROUP BY 1, 2)"""

  /** Shared oracle fragment: normalized token list per document. */
  private val toksCte = raw"""
      toks AS (
        SELECT doc_id, source, text,
               CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+')
               END AS t
        FROM documents)"""

  /** Shared oracle fragment: the q24/q55 rolling-hash fingerprint. */
  private val fpExpr = raw"""
      list_reduce(
        list_prepend(CAST(7 AS BIGINT), list_transform(
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ''),
          c -> CAST(ascii(c) AS BIGINT))),
        (a, c) -> (a * 31 + c) % 1099511627776)"""

  /** Shared oracle fragment: the q74/q79 quality score per document
    * (requires `toksCte` in scope).
    */
  private val scoreCte = raw"""
      qs0 AS (
        SELECT doc_id,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
                         / length(text) END AS punct,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                         / length(text) END AS digits,
               CASE WHEN len(t) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(t,
                           x -> x IN (${enStop.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE)
                         / len(t) END AS stop
        FROM toks),
      qs AS (
        SELECT doc_id,
               round(0.25 * len_score + 0.25 * least(stop * 4.0, 1.0)
                     + 0.25 * (1.0 - least(punct * 5.0, 1.0))
                     + 0.25 * (1.0 - least(digits * 5.0, 1.0)), 6) AS score
        FROM qs0)"""

  val oracleSql: Map[String, String] = Map(
    "q101_trim_spans" -> raw"""
      WITH $toksCte,
      pg AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
                    t[CAST(u.i AS INT) + 1] || ' ' || t[CAST(u.i AS INT) + 2] || ' ' ||
                    t[CAST(u.i AS INT) + 3] || ' ' || t[CAST(u.i AS INT) + 4] || ' ' ||
                    t[CAST(u.i AS INT) + 5] || ' ' || t[CAST(u.i AS INT) + 6] || ' ' ||
                    t[CAST(u.i AS INT) + 7] || ' ' || t[CAST(u.i AS INT) + 8] AS gram
             FROM toks, unnest(range(len(t) - 7)) AS u(i)),
      dg AS (SELECT DISTINCT doc_id, gram FROM pg),
      f AS (SELECT gram FROM dg GROUP BY gram HAVING count(*) >= 2),
      dp AS (SELECT DISTINCT p.doc_id, p.pos + CAST(o.j AS INT) AS cp
             FROM pg p JOIN f USING (gram), unnest(range(8)) AS o(j)),
      tp AS (SELECT doc_id, CAST(u.i AS INT) AS pos, t[CAST(u.i AS INT) + 1] AS tok
             FROM toks, unnest(range(len(t))) AS u(i)),
      kt AS (SELECT tp.doc_id, tp.pos, tp.tok
             FROM tp LEFT JOIN dp ON tp.doc_id = dp.doc_id AND tp.pos = dp.cp
             WHERE dp.cp IS NULL),
      ag AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
             FROM kt GROUP BY 1),
      cv AS (SELECT doc_id, count(*) AS n_removed FROM dp GROUP BY 1)
      SELECT tk.doc_id, coalesce(ag.text, '') AS text,
             -- null-text docs: toksCte leaves t NULL, the Spark side
             -- coalesces to an empty token array -> align on 0
             CAST(coalesce(len(tk.t), 0) AS INT) AS n_tokens,
             CAST(coalesce(cv.n_removed, 0) AS INT) AS n_removed
      FROM toks tk LEFT JOIN ag USING (doc_id) LEFT JOIN cv USING (doc_id)""",
    "q102_mixture_rates" -> raw"""
      WITH $toksCte,
      ag AS (SELECT source, count(*) AS n_docs, sum(len(t)) AS n_tokens
             FROM toks GROUP BY 1),
      tf AS (SELECT *, CASE source WHEN 'src0' THEN 0.3 WHEN 'src7' THEN 0.25
                                   WHEN 'src13' THEN 0.05 ELSE 0.0 END AS target_frac
             FROM ag)
      SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens, target_frac,
             round(CASE WHEN n_tokens = 0 THEN 0.0
                        ELSE least(1.0, 2000.0 * target_frac / CAST(n_tokens AS DOUBLE))
                   END, 6) AS rate
      FROM tf""",
    "q103_classifier" -> raw"""
      WITH $toksCte,
      sc AS (SELECT doc_id, len(t) AS n,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(t, tok ->
                   (CAST(((list_reduce(list_prepend(CAST(7 AS BIGINT),
                       list_transform(string_split(tok, ''),
                         c -> CAST(ascii(c) AS BIGINT))),
                       (a, c) -> (a * 31 + c) % 1099511627776) % 64) * 37) % 21
                     AS DOUBLE) - 10) / 10.0)),
                 (a, x) -> a + x) AS s
             FROM toks)
      SELECT doc_id,
             round(CASE WHEN n = 0 THEN NULL
                        ELSE 1.0 / (1.0 + exp(-(0.1 + s / n))) END, 6) AS score,
             -- label from the ROUNDED score, matching linearScore (the
             -- semanticDedup convention: the verdict agrees with the
             -- reported 6-decimal value at the threshold boundary)
             coalesce(round(CASE WHEN n = 0 THEN NULL
                            ELSE 1.0 / (1.0 + exp(-(0.1 + s / n))) END, 6) >= 0.5,
                      FALSE) AS label
      FROM sc""",
    "q107_prepare_corpus" -> raw"""
      WITH $toksCte,
      $scoreCte,
      adm AS (SELECT t.doc_id, t.text, qs.score AS quality,
                     CAST(len(t.t) AS INT) AS n_tokens
              FROM toks t JOIN qs USING (doc_id)
              WHERE qs.score >= 0.6),
      ded AS (SELECT min(doc_id) AS doc_id FROM adm GROUP BY text),
      dd AS (SELECT a.doc_id, a.quality, a.n_tokens
             FROM adm a JOIN ded USING (doc_id)),
      c AS (SELECT doc_id, quality, n_tokens,
                   coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
            FROM dd)
      SELECT CAST(floor(pfx / 2000) AS BIGINT) AS shard_id, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY 1""",
    // BM25 constants are written as the SAME arithmetic the Scala side
    // evaluates ((1.2 + 1.0), (1.0 - 0.75)) so both engines produce the
    // identical IEEE doubles before any multiply
    "q110_bm25" -> raw"""
      WITH $toksCte,
      $bm25ScoredCte
      SELECT CAST(query_id AS BIGINT) AS query_id,
             CAST(doc_id AS BIGINT) AS doc_id, round(score, 6) AS score
      FROM (SELECT query_id, doc_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id) AS rk
            FROM scored)
      WHERE rk <= 10""",
    // feedback = the q110 chain's top-5; expansion weights are integer
    // occurrence counts (no float arithmetic anywhere in the ranking);
    // qt comes from bm25ScoredCte's VALUES list
    "q131_query_expansion" -> raw"""
      WITH $toksCte,
      $bm25ScoredCte,
      fb AS (SELECT query_id, doc_id
             FROM (SELECT query_id, doc_id, score,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY score DESC, doc_id)
                            AS rk
                   FROM scored)
             WHERE rk <= 5),
      tk2 AS (SELECT doc_id, unnest(t) AS term FROM toks),
      wt AS (SELECT f.query_id, tk2.term, count(*) AS weight
             FROM tk2 JOIN fb f USING (doc_id)
             GROUP BY 1, 2),
      ex AS (SELECT w.query_id, w.term, w.weight
             FROM wt w LEFT JOIN qt q
               ON q.query_id = w.query_id AND q.term = w.term
             WHERE q.term IS NULL),
      r AS (SELECT query_id, term, weight,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY weight DESC, term) AS INT)
                     AS exp_rank
            FROM ex)
      SELECT CAST(query_id AS BIGINT) AS query_id, exp_rank, term, weight
      FROM r WHERE exp_rank <= 5""",
    // the q110 pipeline at k=25 + rounded-threshold flagging + anti-join
    "q120_retrieval_decontam" -> raw"""
      WITH $toksCte,
      $bm25ScoredCte,
      top AS (SELECT doc_id, round(score, 6) AS score
              FROM (SELECT query_id, doc_id, score,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY score DESC, doc_id) AS rk
                    FROM scored)
              WHERE rk <= 25),
      flagged AS (SELECT DISTINCT doc_id FROM top WHERE score >= 2.0),
      clean AS (SELECT d.source FROM documents d
                LEFT JOIN flagged f USING (doc_id)
                WHERE f.doc_id IS NULL),
      before AS (SELECT source, count(*) AS n_before FROM documents GROUP BY 1),
      aft AS (SELECT source, count(*) AS n_after FROM clean GROUP BY 1)
      SELECT b.source, b.n_before,
             COALESCE(a.n_after, CAST(0 AS BIGINT)) AS n_after,
             b.n_before - COALESCE(a.n_after, CAST(0 AS BIGINT)) AS n_dropped
      FROM before b LEFT JOIN aft a USING (source)""",
    // presence via explicit markers (a null-text doc exists but has a
    // null fingerprint); content equality is null-safe on both engines
    "q116_corpus_diff" -> raw"""
      WITH o AS (SELECT doc_id, $fpExpr AS fp, TRUE AS in_old
                 FROM documents WHERE doc_id < 450),
      nsrc AS (SELECT doc_id,
                      text || CASE WHEN doc_id % 13 = 0 THEN ' v2' ELSE '' END AS text
               FROM documents WHERE doc_id >= 50),
      n AS (SELECT doc_id, $fpExpr AS fp, TRUE AS in_new FROM nsrc)
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             o.fp AS old_fp, n.fp AS new_fp,
             CASE WHEN o.in_old IS NULL THEN 'added'
                  WHEN n.in_new IS NULL THEN 'removed'
                  WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""",
    // same regexes as q81 (RE2/Java-portable by construction), same
    // fixed email→URL→phone order as TextFunctions.redactPii
    "q115_pii_redact" -> raw"""
      WITH $piiSaltedSql
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 'https?://[^\s]+', '<URL>', 'g'),
               '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS redacted
      FROM salted""",
    // ranks are assigned on each list's 6-dp ROUNDED scores (the values
    // the engines already hash-agree on); the two RRF addends sum
    // commutatively, so the fused order is engine-identical
    "q113_hybrid_rrf" -> raw"""
      WITH $toksCte,
      $bm25ScoredCte,
      bm_top AS (SELECT query_id, doc_id, round(score, 6) AS score
                 FROM (SELECT query_id, doc_id, score,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY score DESC, doc_id) AS rk
                       FROM scored)
                 WHERE rk <= 10),
      q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id < 2),
      cp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      kn_scored AS (SELECT q.vec_id AS query_id, cp.vec_id AS doc_id,
                           list_dot_product(q.e, cp.e) /
                             (sqrt(list_dot_product(q.e, q.e))
                              * sqrt(list_dot_product(cp.e, cp.e))) AS cos
                    FROM q CROSS JOIN cp),
      kn_top AS (SELECT query_id, doc_id, round(cos, 6) AS score
                 FROM (SELECT query_id, doc_id, cos,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY cos DESC, doc_id) AS rk
                       FROM kn_scored)
                 WHERE rk <= 10),
      ranked AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM bm_top
        UNION ALL
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM kn_top),
      fused AS (SELECT query_id, doc_id,
                       sum(1.0 / (60.0 + CAST(rank AS DOUBLE))) AS rrf
                FROM ranked GROUP BY 1, 2)
      SELECT CAST(query_id AS BIGINT) AS query_id,
             CAST(doc_id AS BIGINT) AS doc_id, round(rrf, 6) AS rrf
      FROM (SELECT query_id, doc_id, rrf,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY rrf DESC, doc_id) AS rk
            FROM fused)
      WHERE rk <= 10""",
    "q95_keep_best" -> raw"""
      WITH $toksCte,
      $scoreCte,
      cp AS (SELECT doc_id, doc_id - doc_id % 5 AS component FROM documents),
      j AS (SELECT cp.doc_id AS doc_id, qs.score, cp.component
            FROM cp JOIN qs USING (doc_id)),
      w AS (SELECT component, doc_id AS kept_id FROM (
              SELECT component, doc_id,
                     row_number() OVER (PARTITION BY component
                                        ORDER BY score DESC, doc_id) AS rk
              FROM j) WHERE rk = 1)
      SELECT CAST(j.doc_id AS BIGINT) AS doc_id, j.score,
             CAST(j.component AS BIGINT) AS component,
             CAST(w.kept_id AS BIGINT) AS kept_id,
             j.doc_id = w.kept_id AS kept
      FROM j JOIN w USING (component)""",
    "q96_normalize_text" -> raw"""
      WITH $messyTextSql,
      n0 AS (SELECT doc_id, text,
               regexp_replace(text, '\r\n?', chr(10), 'g') AS s0 FROM m),
      n1 AS (SELECT doc_id, text,
               regexp_replace(s0, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS s1 FROM n0),
      n2 AS (SELECT doc_id, text, regexp_replace(s1, '\t', ' ', 'g') AS s2 FROM n1),
      n3 AS (SELECT doc_id, text, regexp_replace(s2, ' {2,}', ' ', 'g') AS s3 FROM n2),
      n4 AS (SELECT doc_id, text, regexp_replace(s3, ' *\n *', chr(10), 'g') AS s4 FROM n3),
      n5 AS (SELECT doc_id, text,
               regexp_replace(s4, '\n{3,}', chr(10) || chr(10), 'g') AS s5 FROM n4)
      SELECT doc_id, CAST(length(text) AS INT) AS n_before,
             regexp_replace(s5, '^[\n ]+|[\n ]+$$', '', 'g') AS text_norm,
             CAST(length(regexp_replace(s5, '^[\n ]+|[\n ]+$$', '', 'g')) AS INT) AS n_after
      FROM n5""",
    "q97_importance" -> raw"""
      WITH $toksCte,
      tt AS (SELECT unnest(t) AS tok FROM toks WHERE doc_id % 97 = 0),
      rt AS (SELECT doc_id, unnest(t) AS tok FROM toks WHERE doc_id % 97 <> 0),
      tc AS (SELECT tok, count(*) AS ct FROM tt GROUP BY 1),
      rc AS (SELECT tok, count(*) AS cr FROM rt GROUP BY 1),
      vv AS (SELECT coalesce(tc.tok, rc.tok) AS tok,
                    coalesce(ct, 0) AS ct, coalesce(cr, 0) AS cr
             FROM tc FULL OUTER JOIN rc ON tc.tok = rc.tok),
      tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM vv),
      w AS (SELECT tok,
                   ln((ct + 0.5) / (nt + 0.5 * v)) -
                   ln((cr + 0.5) / (nr + 0.5 * v)) AS w
            FROM vv, tot),
      ds AS (SELECT r.doc_id, count(*) AS n_tokens,
                    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                            list(w.w ORDER BY tok)), (a, b) -> a + b)
                          / count(*), 6) AS logratio
             FROM rt r JOIN w USING (tok) GROUP BY 1)
      SELECT d.doc_id, CAST(coalesce(ds.n_tokens, 0) AS BIGINT) AS n_tokens,
             ds.logratio
      FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
      LEFT JOIN ds USING (doc_id)""",
    "q98_paragraph_dedup" -> raw"""
      WITH $paragraphedSql,
      sp AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ls FROM pl),
      l AS (SELECT doc_id, CAST(t.i AS INT) AS pos, ls[CAST(t.i AS INT) + 1] AS line
            FROM sp, unnest(range(len(ls))) AS t(i)),
      c AS (SELECT line, count(*) AS cnt FROM l GROUP BY 1),
      k AS (SELECT l.doc_id, l.pos, l.line, c.cnt FROM l JOIN c USING (line))
      SELECT doc_id,
             string_agg(line, chr(10) || chr(10) ORDER BY pos)
               FILTER (WHERE cnt <= 5) AS text,
             count(*) FILTER (WHERE cnt <= 5) AS n_kept,
             count(*) FILTER (WHERE cnt > 5) AS n_removed
      FROM k GROUP BY doc_id
      HAVING count(*) FILTER (WHERE cnt <= 5) > 0""",
    "q99_lm_quality" -> raw"""
      WITH $toksCte,
      ref AS (SELECT t FROM toks WHERE doc_id % 97 = 0),
      cor AS (SELECT doc_id, t FROM toks WHERE doc_id % 97 <> 0),
      rbg AS (SELECT t[CAST(u.i AS INT) + 1] || ' ' || t[CAST(u.i AS INT) + 2] AS bg
              FROM ref, unnest(range(len(t) - 1)) AS u(i)),
      rbc AS (SELECT bg, count(*) AS cb FROM rbg GROUP BY 1),
      run AS (SELECT unnest(t) AS tok FROM ref),
      ruc AS (SELECT tok, count(*) AS cu FROM run GROUP BY 1),
      vv AS (SELECT count(*) AS v FROM ruc),
      cbg AS (SELECT doc_id, t[CAST(u.i AS INT) + 1] AS prefix,
                     t[CAST(u.i AS INT) + 1] || ' ' || t[CAST(u.i AS INT) + 2] AS bg
              FROM cor, unnest(range(len(t) - 1)) AS u(i)),
      lp AS (SELECT c.doc_id, c.bg,
                    ln((coalesce(rbc.cb, 0) + 0.5) /
                       (coalesce(ruc.cu, 0) + 0.5 * vv.v)) AS lp
             FROM cbg c
             LEFT JOIN rbc USING (bg)
             LEFT JOIN ruc ON c.prefix = ruc.tok, vv),
      agg AS (SELECT doc_id, count(*) AS n_bigrams,
                     round(-(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                               list(lp ORDER BY bg)), (a, b) -> a + b)
                             / count(*)), 6) AS cross_entropy
              FROM lp GROUP BY 1)
      SELECT d.doc_id, CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             a.cross_entropy
      FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
      LEFT JOIN agg a USING (doc_id)""",
    "q85_gopher_gate" -> raw"""
      WITH $structuredTextSql,
      tk AS (
        SELECT doc_id, text,
               CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS t,
               string_split(text, chr(10)) AS ln
        FROM st),
      g AS (
        SELECT doc_id,
               CAST(len(t) AS INT) AS n_words,
               round(CASE WHEN len(t) = 0 THEN 0.0
                 ELSE CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE)
                      / len(t) END, 6) AS mean_word_len,
               round(CASE WHEN len(t) = 0 THEN 0.0
                 ELSE CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
                      / len(t) END, 6) AS symbol_ratio,
               round(CAST(len(regexp_extract_all(text, '(?m)^[ \t]*[-*•]')) AS DOUBLE)
                     / len(ln), 6) AS bullet_frac,
               round(CAST(len(regexp_extract_all(text, '(?m)\.\.\.$$')) AS DOUBLE)
                     / len(ln), 6) AS ellipsis_frac,
               round(CASE WHEN len(t) = 0 THEN 0.0
                 ELSE CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                      / len(t) END, 6) AS alpha_frac
        FROM tk)
      SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
             ellipsis_frac, alpha_frac,
             coalesce(n_words >= 50 AND n_words <= 100000
               AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
               AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
               AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8, FALSE) AS admitted
      FROM g""",
    "q86_line_dedup" -> raw"""
      WITH $boilerplatedSql,
      sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM bl),
      l AS (SELECT doc_id, CAST(t.i AS INT) AS pos, ls[CAST(t.i AS INT) + 1] AS line
            FROM sp, unnest(range(len(ls))) AS t(i)),
      c AS (SELECT line, count(*) AS cnt FROM l GROUP BY 1),
      k AS (SELECT l.doc_id, l.pos, l.line, c.cnt FROM l JOIN c USING (line))
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE cnt <= 5) AS text,
             count(*) FILTER (WHERE cnt <= 5) AS n_kept,
             count(*) FILTER (WHERE cnt > 5) AS n_removed
      FROM k GROUP BY doc_id
      HAVING count(*) FILTER (WHERE cnt <= 5) > 0""",
    "q87_domain_stats" -> raw"""
      WITH $urlSaltedSql,
      uu AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
             FROM u0),
      h0 AS (SELECT doc_id, url,
                    regexp_extract(url, '^[Hh][Tt][Tt][Pp][Ss]?://([^/:?#]+)', 1) AS rawh
             FROM uu),
      h AS (SELECT doc_id, url,
                   CASE WHEN rawh = '' THEN NULL
                        ELSE regexp_replace(lower(rawh), '^www\.', '') END AS host
            FROM h0),
      g AS (SELECT host, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs,
                   count(*) FILTER (WHERE url LIKE '%?%') AS n_with_query
            FROM h GROUP BY host)
      SELECT host,
             CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$$', 1) = '' THEN host
                  ELSE regexp_extract(host, '([^.]+\.[^.]+)$$', 1) END AS domain,
             regexp_extract(host, '\.([^.]+)$$', 1) AS tld,
             n_urls, n_docs, n_with_query
      FROM g""",
    "q93_dup_spans" -> raw"""
      WITH $toksCte,
      g AS (
        SELECT doc_id,
               CASE WHEN len(t) < 8 THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(list_transform(range(len(t) - 7),
                           i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] || ' ' ||
                                t[i + 4] || ' ' || t[i + 5] || ' ' || t[i + 6] || ' ' ||
                                t[i + 7] || ' ' || t[i + 8]))
               END AS grams
        FROM toks),
      eg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
      f AS (SELECT gram, count(*) AS df FROM eg GROUP BY 1),
      j AS (SELECT e.doc_id, f.df FROM eg e JOIN f USING (gram)),
      agg AS (SELECT doc_id, count(*) AS n_grams,
                     count(CASE WHEN df >= 2 THEN 1 END) AS n_dup
              FROM j GROUP BY 1)
      SELECT g.doc_id,
             CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
             CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup,
             round(CASE WHEN coalesce(a.n_grams, 0) = 0 THEN 0.0
                        ELSE CAST(a.n_dup AS DOUBLE) / a.n_grams END, 6) AS dup_frac
      FROM g LEFT JOIN agg a USING (doc_id)""",
    "q73_decontaminate" -> raw"""
      WITH $toksCte,
      g AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(list_transform(range(len(t) - 2),
                           i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]))
               END AS grams
        FROM toks),
      bench AS (
        SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
      corpus AS (SELECT doc_id, grams FROM g WHERE doc_id % 97 <> 0),
      eg AS (SELECT doc_id, unnest(grams) AS gram FROM corpus),
      hits AS (
        SELECT e.doc_id, count(*) AS n_grams, count(b.gram) AS n_hit
        FROM eg e LEFT JOIN bench b USING (gram)
        GROUP BY 1)
      SELECT c.doc_id,
             CAST(coalesce(h.n_grams, 0) AS BIGINT) AS n_grams,
             CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
             round(CASE WHEN coalesce(h.n_grams, 0) = 0 THEN 0.0
                        ELSE CAST(h.n_hit AS DOUBLE) / h.n_grams END, 6)
               AS contamination
      FROM corpus c LEFT JOIN hits h USING (doc_id)""",
    "q74_domain_quota" -> raw"""
      WITH $toksCte,
      $scoreCte,
      sc AS (SELECT t.doc_id, t.source, qs.score
             FROM qs JOIN toks t USING (doc_id))
      SELECT source, doc_id, score FROM (
        SELECT source, doc_id, score,
               row_number() OVER (PARTITION BY source
                                  ORDER BY score DESC, doc_id) AS rk
        FROM sc)
      WHERE rk <= 5""",
    "q75_vocab_topk" -> raw"""
      WITH $toksCte,
      c AS (SELECT tok AS token, count(*) AS cnt
            FROM (SELECT unnest(t) AS tok FROM toks)
            GROUP BY 1)
      SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 50""",
    // exact regime: capacity >> distinct tokens → counts exact, lb = cnt
    "q145_heavy_hitters" -> raw"""
      WITH $toksCte,
      c AS (SELECT tok AS token, count(*) AS cnt
            FROM (SELECT unnest(t) AS tok FROM toks)
            GROUP BY 1)
      SELECT token, cnt, cnt AS lb FROM c ORDER BY cnt DESC, token LIMIT 25""",
    "q76_stratified_sample" -> raw"""
      WITH b AS (
        SELECT doc_id, source, $fpExpr % 10000 AS bucket
        FROM documents)
      SELECT doc_id, source, CAST(bucket AS BIGINT) AS sample_bucket
      FROM b
      WHERE bucket < CASE source WHEN 'src0' THEN 500
                                 WHEN 'src7' THEN 5000
                                 WHEN 'src13' THEN 8000
                                 ELSE 2500 END""",
    "q122_exact_sample" -> raw"""
      WITH f AS (SELECT source, doc_id, $fpExpr AS fp FROM documents),
      r AS (SELECT source, doc_id, fp,
                   CAST(row_number() OVER (PARTITION BY source
                                           ORDER BY fp, doc_id) AS INT)
                     AS sample_rank
            FROM f WHERE fp IS NOT NULL)
      SELECT source, doc_id, fp, sample_rank FROM r WHERE sample_rank <= 3""",
    // Unique (score desc, doc_id) ordering key → the RANGE default frame
    // equals ROWS; CAST the window sum to BIGINT (DuckDB sums to HUGEINT)
    "q132_budget_select" -> raw"""
      WITH $toksCte,
      $scoreCte,
      lens AS (SELECT doc_id, COALESCE(len(t), 0) AS n_tokens FROM toks),
      ordered AS (
        SELECT qs.doc_id, score, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY score DESC, qs.doc_id)
                 AS BIGINT) AS cum_tokens
        FROM qs JOIN lens ON qs.doc_id = lens.doc_id
        WHERE score IS NOT NULL AND qs.doc_id IS NOT NULL)
      SELECT doc_id, score, n_tokens, cum_tokens
      FROM ordered WHERE cum_tokens <= 10000""",
    // Sliding bigram match: "x x x" hits "x x" twice, same on both sides;
    // null text propagates null lists -> null diagnostics, admitted false
    "q133_blocklist_gate" -> raw"""
      WITH $toksCte,
      hits AS (
        SELECT doc_id, t,
               list_filter(t, x -> x IN ('slow', 'big', 'dup')) AS wh,
               list_filter(
                 list_transform(range(len(t) - 1),
                   i -> t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2]),
                 x -> x IN ('batch batch')) AS ph
        FROM toks)
      SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
             CAST(len(wh) + len(ph) AS INT) AS n_banned,
             CAST(len(list_distinct(wh || ph)) AS INT) AS n_banned_distinct,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE round(CAST(len(wh) + len(ph) AS DOUBLE) / len(t), 6)
             END AS banned_frac,
             coalesce(CASE WHEN len(t) = 0 THEN 0.0
                           ELSE round(CAST(len(wh) + len(ph) AS DOUBLE) / len(t), 6)
                      END <= 0.06, FALSE) AS admitted
      FROM hits""",
    // Re-derives the Hamilton apportionment in SQL from the same literals
    // (BIGINT //, %, remainder-rank seats) — integer math agrees exactly
    "q134_apportion" -> raw"""
      WITH w(source, weight) AS (VALUES
        ('src0', CAST(5 AS BIGINT)), ('src1', CAST(3 AS BIGINT)),
        ('src2', CAST(3 AS BIGINT)), ('src3', CAST(2 AS BIGINT)),
        ('src7', CAST(1 AS BIGINT)), ('srcX', CAST(1 AS BIGINT))),
      tot AS (SELECT CAST(sum(weight) AS BIGINT) AS den FROM w),
      b AS (SELECT source, weight,
                   (301 * weight) // den AS base,
                   (301 * weight) % den AS rem
            FROM w, tot),
      e AS (SELECT CAST(301 - sum(base) AS BIGINT) AS extra FROM b),
      r AS (SELECT b.*, e.extra,
                   row_number() OVER (ORDER BY rem DESC, source) AS rk
            FROM b, e),
      a AS (SELECT source, weight, base, rem,
                   base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS alloc
            FROM r),
      avail AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
      SELECT a.source, a.weight, coalesce(n_docs, 0) AS n_docs,
             a.base, a.rem, a.alloc,
             least(a.alloc, coalesce(n_docs, 0)) AS alloc_capped
      FROM a LEFT JOIN avail USING (source)""",
    // Fixed-point (2^20) per-dim integer sums -> exact in any order; the
    // cosine folds run in dim order on both engines; products go through
    // DOUBLE before multiplying (the raw long product would overflow)
    "q135_centroid_drift" -> raw"""
      WITH j AS (SELECT d.source, e.embedding
                 FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      x AS (SELECT source, CAST(u.i AS INT) AS dim,
                   CAST(floor(CAST(embedding[CAST(u.i AS INT) + 1] AS DOUBLE)
                              * 1048576) AS BIGINT) AS sv
            FROM j, unnest(range(len(embedding))) AS u(i)),
      g AS (SELECT source, dim, CAST(sum(sv) AS BIGINT) AS s,
                   count(*) AS n
            FROM x GROUP BY 1, 2),
      c AS (SELECT dim, CAST(sum(s) AS BIGINT) AS cs FROM g GROUP BY 1),
      p AS (SELECT source, dim, n,
                   CAST(s AS DOUBLE) * CAST(cs AS DOUBLE) AS prod,
                   CAST(s AS DOUBLE) * CAST(s AS DOUBLE) AS s2,
                   CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE) AS c2
            FROM g JOIN c USING (dim)),
      f AS (SELECT source, CAST(max(n) AS BIGINT) AS n_vecs,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(prod ORDER BY dim)), (a, x) -> a + x) AS dot,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(s2 ORDER BY dim)), (a, x) -> a + x) AS ns,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(c2 ORDER BY dim)), (a, x) -> a + x) AS nc
            FROM p GROUP BY 1)
      SELECT source, n_vecs,
             CASE WHEN ns = 0 OR nc = 0 THEN NULL
                  ELSE round(dot / (sqrt(ns) * sqrt(nc)), 6) END AS cos_centroid
      FROM f""",
    // Integer totals divided ONCE per class (never averaged per-doc
    // rounded ratios); zero denominators -> null on both sides
    "q137_fertility" -> raw"""
      WITH p AS (
        SELECT lang,
               CASE WHEN text IS NULL THEN NULL
                    WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w,
               CASE WHEN text IS NULL THEN NULL
                    ELSE len(regexp_extract_all(text,
                           '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) END AS s,
               length(text) AS c
        FROM documents),
      a AS (SELECT lang, count(*) AS n_docs,
                   CAST(coalesce(sum(w), 0) AS BIGINT) AS n_words,
                   CAST(coalesce(sum(s), 0) AS BIGINT) AS n_subwords,
                   CAST(coalesce(sum(c), 0) AS BIGINT) AS n_chars
            FROM p GROUP BY 1)
      SELECT lang, n_docs, n_words, n_subwords, n_chars,
             CASE WHEN n_words = 0 THEN NULL
                  ELSE round(CAST(n_subwords AS DOUBLE) / n_words, 6)
             END AS fertility,
             CASE WHEN n_subwords = 0 THEN NULL
                  ELSE round(CAST(n_chars AS DOUBLE) / n_subwords, 6)
             END AS chars_per_subword
      FROM a""",
    // Hazen (rank+0.5)/n: no zero denominator, no n=1 special case;
    // null-score rows dropped on both sides (null sort order differs)
    "q138_quantile_norm" -> raw"""
      WITH $toksCte,
      $scoreCte,
      src AS (SELECT doc_id, source FROM documents),
      r AS (SELECT qs.doc_id, src.source, qs.score,
                   CAST(row_number() OVER (PARTITION BY src.source
                                           ORDER BY qs.score, qs.doc_id) - 1
                     AS BIGINT) AS "rank"
            FROM qs JOIN src USING (doc_id)
            WHERE qs.score IS NOT NULL AND qs.doc_id IS NOT NULL),
      c AS (SELECT source, count(*) AS n FROM r GROUP BY 1)
      SELECT r.doc_id, r.source, r.score, r."rank", c.n,
             round((r."rank" + 0.5) / c.n, 6) AS quantile
      FROM r JOIN c USING (source)""",
    "q143_vocab_overlap" -> raw"""
      WITH $toksCte,
      p AS (SELECT DISTINCT source AS cls, tok AS token
            FROM (SELECT source, unnest(t) AS tok FROM toks)),
      s AS (SELECT cls, count(*) AS n FROM p GROUP BY 1),
      c AS (SELECT a.cls AS class_a, b.cls AS class_b, count(*) AS n_common
            FROM p a JOIN p b ON a.token = b.token AND a.cls < b.cls
            GROUP BY 1, 2)
      SELECT class_a, class_b, sa.n AS n_a, sb.n AS n_b, n_common,
             round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6)
               AS jaccard
      FROM c
      JOIN s sa ON sa.cls = class_a
      JOIN s sb ON sb.cls = class_b""",
    // -0.0 from negating a zero fold (single-token docs) is normalized
    // by + 0.0 on both sides
    "q144_token_entropy" -> raw"""
      WITH $toksCte,
      tc AS (SELECT doc_id, tok AS token, count(*) AS c
             FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
             GROUP BY 1, 2),
      agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                     count(*) AS n_distinct
              FROM tc GROUP BY 1),
      e AS (SELECT tc.doc_id, tc.token,
                   (CAST(c AS DOUBLE) / n_tokens)
                     * ln(CAST(c AS DOUBLE) / n_tokens) AS term
            FROM tc JOIN agg USING (doc_id)),
      f AS (SELECT doc_id,
                   round(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(term ORDER BY token)), (a, x) -> a + x), 6) + 0.0
                     AS entropy
            FROM e GROUP BY doc_id)
      SELECT a.doc_id, a.n_tokens, a.n_distinct, f.entropy
      FROM agg a JOIN f USING (doc_id)""",
    "q123_inverted_index" -> raw"""
      WITH $toksCte,
      tf AS (SELECT doc_id, term, count(*) AS tf
             FROM (SELECT doc_id, unnest(t) AS term FROM toks)
             GROUP BY 1, 2),
      agg AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
              FROM tf GROUP BY 1),
      sel AS (SELECT term, doc_id, tf,
                     row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk
              FROM tf),
      post AS (SELECT term,
                      string_agg(CAST(doc_id AS VARCHAR) || ':' ||
                                 CAST(tf AS VARCHAR), ' ' ORDER BY doc_id)
                        AS postings
               FROM sel WHERE rk <= 16 GROUP BY term)
      SELECT a.term, a.df, a.cf, p.postings, a.df > 16 AS truncated
      FROM agg a JOIN post p USING (term)""",
    "q124_host_pagerank" -> pageRankOracle,
    "q136_kcenter_coreset" -> kCenterOracle,
    "q139_signal_corr" -> signalCorrOracle,
    // Mirrors sourceDivergence bucket-for-bucket: token-sorted fold, OOV
    // appended last, same association (in_vocab + (0.5·X + 0.5·Y))
    "q130_source_divergence" -> raw"""
      WITH $toksCte,
      tk AS (SELECT source AS cls, unnest(t) AS token FROM toks),
      counts AS (SELECT cls, token, count(*) AS cnt FROM tk GROUP BY 1, 2),
      corpus AS (SELECT token, count(*) AS qcnt FROM tk GROUP BY 1),
      vocab AS (SELECT token, qcnt FROM corpus
                ORDER BY qcnt DESC, token LIMIT 20),
      tots AS (SELECT cls, count(*) AS tot_s FROM tk GROUP BY 1),
      totc AS (SELECT count(*) AS tot_c FROM tk),
      grid AS (SELECT ts.cls, ts.tot_s, v.token, v.qcnt,
                      coalesce(c.cnt, 0) AS cnt, tc.tot_c
               FROM tots ts CROSS JOIN vocab v
               LEFT JOIN counts c ON c.cls = ts.cls AND c.token = v.token
               CROSS JOIN totc tc),
      wc AS (SELECT cls, tot_s, tot_c, token, cnt, qcnt,
                    CAST(cnt AS DOUBLE) / tot_s AS p,
                    CAST(qcnt AS DOUBLE) / tot_c AS q
             FROM grid),
      cc AS (SELECT cls, tot_s, tot_c, token, cnt, qcnt,
                    0.5 * (CASE WHEN p = 0 THEN 0
                                ELSE p * ln(p / ((p + q) / 2)) END) +
                    0.5 * (CASE WHEN q = 0 THEN 0
                                ELSE q * ln(q / ((p + q) / 2)) END) AS c
             FROM wc),
      f AS (SELECT cls, tot_s, tot_c,
                   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(
                       list(struct_pack(token := token, c := c)
                            ORDER BY token),
                       e -> e.c)), (x, y) -> x + y) AS in_vocab,
                   CAST(sum(cnt) AS BIGINT) AS cov_s,
                   CAST(sum(qcnt) AS BIGINT) AS cov_c
            FROM cc GROUP BY 1, 2, 3),
      oo AS (SELECT cls, tot_s, in_vocab,
                    CAST(tot_s - cov_s AS DOUBLE) / tot_s AS p0,
                    CAST(tot_c - cov_c AS DOUBLE) / tot_c AS q0
             FROM f)
      SELECT cls AS source, tot_s AS tot_tokens,
             round(in_vocab +
               (0.5 * (CASE WHEN p0 = 0 THEN 0
                            ELSE p0 * ln(p0 / ((p0 + q0) / 2)) END) +
                0.5 * (CASE WHEN q0 = 0 THEN 0
                            ELSE q0 * ln(q0 / ((p0 + q0) / 2)) END)), 6)
               AS jsd
      FROM oo""",
    // The folds replay zipfFit's x-ordered left folds; slope/intercept/r2
    // spelled with the identical arithmetic order and zero-variance guards
    "q129_zipf_fit" -> raw"""
      WITH $toksCte,
      c AS (SELECT tok AS token, count(*) AS cnt
            FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
      top AS (SELECT token, cnt,
                     CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT)
                       AS r
              FROM (SELECT token, cnt FROM c
                    ORDER BY cnt DESC, token LIMIT 1000)),
      xy AS (SELECT list(struct_pack(x := ln(CAST(r AS DOUBLE)),
                                     y := ln(CAST(cnt AS DOUBLE)))
                         ORDER BY r) AS a
             FROM top),
      -- coalesce: DuckDB's list() over ZERO rows is NULL where Spark's
      -- collect_list is an empty array — align the empty-corpus fit
      s AS (SELECT CAST(coalesce(len(a), 0) AS DOUBLE) AS n,
                   coalesce(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(a, e -> e.x)), (p, q) -> p + q), 0.0) AS sx,
                   coalesce(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(a, e -> e.y)), (p, q) -> p + q), 0.0) AS sy,
                   coalesce(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(a, e -> e.x * e.y)), (p, q) -> p + q), 0.0) AS sxy,
                   coalesce(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(a, e -> e.x * e.x)), (p, q) -> p + q), 0.0) AS sxx,
                   coalesce(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(a, e -> e.y * e.y)), (p, q) -> p + q), 0.0) AS syy
            FROM xy)
      SELECT CAST(n AS BIGINT) AS n_terms,
             round(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                        ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6)
               AS slope,
             round(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                        ELSE (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                              * sx) / n END, 6) AS intercept,
             round(CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                        THEN NULL
                        ELSE ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
                             ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6)
               AS r2
      FROM s""",
    "q128_pmi_collocations" -> raw"""
      WITH $toksCte,
      pr AS (SELECT unnest(flatten(list_transform(
               range(CASE WHEN len(t) > 1 THEN len(t) - 1 ELSE 0 END), i ->
               list_filter(list_transform(range(least(5, len(t) - 1 - i)), kk ->
                 CASE WHEN t[i + 1] = t[i + kk + 2] THEN NULL
                      WHEN t[i + 1] < t[i + kk + 2]
                        THEN t[i + 1] || ' ' || t[i + kk + 2]
                      ELSE t[i + kk + 2] || ' ' || t[i + 1] END),
                 p -> p IS NOT NULL)))) AS pair
             FROM toks),
      cab AS (SELECT pair, count(*) AS c_ab FROM pr GROUP BY 1),
      ct AS (SELECT term, count(*) AS c
             FROM (SELECT unnest(t) AS term FROM toks) GROUP BY 1),
      st AS (SELECT CAST(sum(coalesce(len(t), 0)) AS BIGINT) AS n_tok
             FROM toks),
      sp AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_pairs FROM cab),
      j AS (SELECT cab.pair, cab.c_ab, ca.c AS c_a, cb.c AS c_b,
                   round(ln((CAST(cab.c_ab AS DOUBLE) * st.n_tok * st.n_tok) /
                            (CAST(ca.c AS DOUBLE) * cb.c * sp.n_pairs)), 6)
                     AS pmi
            FROM cab
            JOIN ct ca ON ca.term = string_split(cab.pair, ' ')[1]
            JOIN ct cb ON cb.term = string_split(cab.pair, ' ')[2]
            CROSS JOIN st CROSS JOIN sp
            WHERE cab.c_ab >= 5)
      SELECT pair, c_ab, c_a, c_b, pmi FROM j
      ORDER BY pmi DESC, pair LIMIT 50""",
    "q126_tfidf_keywords" -> raw"""
      WITH $toksCte,
      tf AS (SELECT doc_id, term, count(*) AS tf
             FROM (SELECT doc_id, unnest(t) AS term FROM toks)
             GROUP BY 1, 2),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      nn AS (SELECT count(*) AS n FROM documents),
      sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                    tf.tf * ln(CAST(nn.n AS DOUBLE) / dfq.df) AS score
             FROM tf JOIN dfq USING (term) CROSS JOIN nn),
      r AS (SELECT doc_id, term, tf, df, score,
                   CAST(row_number() OVER (PARTITION BY doc_id
                                           ORDER BY score DESC, term) AS INT)
                     AS kw_rank
            FROM sc)
      SELECT doc_id, kw_rank, term, tf, df, round(score, 6) AS score
      FROM r WHERE kw_rank <= 3""",
    "q83_repetition" -> raw"""
      WITH $toksCte,
      base AS (
        SELECT doc_id, t, length(text) AS n_raw,
               CASE WHEN len(t) = 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
               END AS dup_frac
        FROM toks),
      bg AS (
        SELECT doc_id, t[i + 1] || ' ' || t[i + 2] AS gram
        FROM toks, unnest(range(len(t) - 1)) AS u(i)),
      cnt AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
      top AS (
        SELECT doc_id, gram, c,
               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rk
        FROM cnt)
      SELECT b.doc_id, round(b.dup_frac, 6) AS dup_token_frac,
             t2.gram AS top_bigram,
             CASE WHEN b.t IS NULL THEN NULL
                  ELSE round(coalesce(CAST(t2.c AS DOUBLE) * length(t2.gram) / b.n_raw,
                             0.0), 6)
             END AS top_bigram_frac
      FROM base b LEFT JOIN (SELECT doc_id, gram, c FROM top WHERE rk = 1) t2
        USING (doc_id)""",
    "q81_pii_scan" -> raw"""
      WITH salted AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 5 = 0
                    THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                    ELSE '' END ||
               CASE WHEN doc_id % 7 = 0
                    THEN ' see https://example.org/d/' || CAST(doc_id AS VARCHAR)
                    ELSE '' END ||
               CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309' ELSE '' END
                 AS text
        FROM documents),
      c AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
               CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INT) AS n_url,
               CAST(len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS INT) AS n_phone
        FROM salted)
      SELECT doc_id, n_email, n_url, n_phone,
             (n_email + n_url + n_phone > 0) AS has_pii
      FROM c""",
    "q79_ingest_gate" -> raw"""
      WITH $toksCte,
      g AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(list_transform(range(len(t) - 2),
                           i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]))
               END AS grams
        FROM toks),
      bench AS (
        SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
      eg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
      hits AS (
        SELECT e.doc_id, count(*) AS n_grams, count(b.gram) AS n_hit
        FROM eg e LEFT JOIN bench b USING (gram)
        GROUP BY 1),
      contam AS (
        SELECT gg.doc_id,
               round(CASE WHEN coalesce(h.n_grams, 0) = 0 THEN 0.0
                          ELSE CAST(h.n_hit AS DOUBLE) / h.n_grams END, 6)
                 AS contamination
        FROM g gg LEFT JOIN hits h USING (doc_id)),
      $scoreCte,
      sc AS (SELECT doc_id, score AS quality FROM qs),
      fp AS (SELECT doc_id, $fpExpr % 10000 AS bucket FROM documents)
      SELECT d.doc_id, d.source, sc.quality,
             -- unscorable (null text) stays NULL, matching ingestGate;
             -- the n_grams=0 branch would otherwise map it to 0.0
             CASE WHEN d.text IS NULL THEN NULL
                  ELSE c.contamination END AS contamination,
             CAST(f.bucket AS BIGINT) AS sample_bucket,
             -- unscorable means rejected, not NULL (ingestGate coalesces)
             coalesce(sc.quality >= 0.6 AND c.contamination <= 0.05 AND
              f.bucket < CASE d.source WHEN 'src3' THEN 10000
                                       WHEN 'src11' THEN 0
                                       ELSE 5000 END, FALSE) AS admitted
      FROM documents d
      JOIN sc USING (doc_id) JOIN contam c USING (doc_id) JOIN fp f USING (doc_id)"""
  )
}
