package graft.operators

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"),
    (3L, "completely unrelated text about catalyst optimizer rules and joins"),
    (4L, "the quick brown fox jumps over the lazy dog again and again"),
    (5L, "the quick brown fox jumps over the lazy dog again and again")
  ).toDF("doc_id", "text")

  test("exactDedup keeps min-id row per identical text") {
    val kept = Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(1L, 2L, 3L)
  }

  test("exactDupGroups reports keep_id and copy counts") {
    val groups = Dedup.exactDupGroups(docs, "text", "doc_id")
      .as[(Long, Long)].collect().sortBy(_._1)
    groups shouldBe Array((1L, 3L), (2L, 1L), (3L, 1L))
  }

  test("minHashDupPairs finds exact and near duplicates with exact jaccard") {
    val pairs = Dedup.minHashDupPairs(docs, "doc_id", "text",
        k = 3, numHashes = 64, bands = 16, rowsPerBand = 4, minJaccard = 0.5)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    byPair((1L, 4L)) shouldBe 1.0
    byPair((1L, 5L)) shouldBe 1.0
    byPair((4L, 5L)) shouldBe 1.0
    byPair((1L, 2L)) should be > 0.85
    // no pair involving doc 3
    pairs.foreach { p => p._1 should not be 3L; p._2 should not be 3L }
    // ordered pairs only
    pairs.foreach(p => p._1 should be < p._2)
  }

  test("exactGroups: no text column rides the aggregate exchange") {
    // At 100 TB a mega-dup group's text must not ship once per map
    // partition through the groupBy shuffle: the aggregate exchange
    // carries only (hash, len, id); texts join back keyed by id.
    val out = Dedup.exactGroups(docs.repartition(5), "doc_id", "text")
    out.count()
    // AQE nests materialized exchanges inside query-stage leaves, so walk
    // through AdaptiveSparkPlanExec/ShuffleQueryStageExec boundaries
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def allExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] =
      p.collect { case e: ShuffleExchangeExec => Seq(e)
                  case a: AdaptiveSparkPlanExec => allExchanges(a.executedPlan)
                  case s: ShuffleQueryStageExec => allExchanges(s.plan) }.flatten
    val exchanges = allExchanges(out.queryExecution.executedPlan)
    exchanges should not be empty
    // the aggregate exchange: grouping keys are the extracted
    // _groupingexpression attrs (xxhash64/length); with first(text) it
    // would also carry a StringType first-buffer — assert it doesn't
    val agg = exchanges.filter(_.output.exists(a =>
      a.name.startsWith("_groupingexpression") || a.name == "__k"))
    agg should not be empty
    agg.foreach { e =>
      e.output.filter(_.dataType ==
        org.apache.spark.sql.types.StringType) shouldBe empty
    }
    // and the result is still one row per distinct text, text attached
    out.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSet shouldBe
      Set((1L, List(1L, 4L, 5L)), (2L, List(2L)), (3L, List(3L)))
  }

  test("minHashDupPairs: identical texts always pair (exact-dup collapse bypasses LSH caps)") {
    val clones = (1L to 20L).map(i => (i, "identical text body for every clone row here"))
      .toDF("doc_id", "text")
    val out = Dedup.minHashDupPairs(clones, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, rowsPerBand = 4,
      minJaccard = 0.5, maxBucket = 5)
    out.count() shouldBe 190 // all 20*19/2 pairs, jaccard 1.0, despite maxBucket=5
  }

  test("minHashDupPairs maxBucket caps the pair blow-up across distinct near-dup texts") {
    // 20 DISTINCT texts sharing a long common prefix -> same LSH buckets
    val nearDups = (1L to 20L).map(i =>
        (i, s"the same long shared prefix of words repeated across rows marker$i"))
      .toDF("doc_id", "text")
    val capped = Dedup.minHashDupPairs(nearDups, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, rowsPerBand = 4,
      minJaccard = 0.5, maxBucket = 5)
    val uncapped = Dedup.minHashDupPairs(nearDups, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, rowsPerBand = 4,
      minJaccard = 0.5, maxBucket = 1024)
    capped.count() should be < uncapped.count()
    capped.count() should be >= 10L // at least the pairs among the first 5 ids
  }

  test("a 100k-copy exact-dup group emits bounded star edges, not all pairs") {
    // 100_001 identical docs: all-pairs would be ~5e9 rows; star edges are
    // 100_000 (rep -> member) rows carrying the same connectivity
    val mega = spark.range(0L, 100001L, 1, 8)
      .selectExpr("id as doc_id",
        "'the same boilerplate footer text appearing on every single page' as text")
    val pairs = Dedup.minHashDupPairs(mega, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, rowsPerBand = 4, minJaccard = 0.5)
    val agg = pairs.agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.min("id_a"),
      org.apache.spark.sql.functions.max("id_a"),
      org.apache.spark.sql.functions.countDistinct("id_b"),
      org.apache.spark.sql.functions.min("jaccard")).collect()(0)
    agg.getLong(0) shouldBe 100000L      // m - 1 star edges
    agg.getLong(1) shouldBe 0L           // every edge anchored at the rep
    agg.getLong(2) shouldBe 0L
    agg.getLong(3) shouldBe 100000L      // every non-rep member connected
    agg.getDouble(4) shouldBe 1.0
  }

  test("cross-group expansion of two mega dup-groups emits one bounded rep edge") {
    // two 50k-copy groups of near-identical texts: full cross expansion
    // would be 2.5e9 pairs; the bounded form is the single rep-rep edge
    // plus each group's star edges
    val base = "the same boilerplate footer text appearing on every single page"
    val mega = spark.range(0L, 100000L, 1, 8)
      .selectExpr("id as doc_id",
        s"case when id % 2 = 0 then '$base' else '$base now' end as text")
    val pairs = Dedup.minHashDupPairs(mega, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, rowsPerBand = 4, minJaccard = 0.5)
    pairs.count() shouldBe (2L * 49999L + 1L)
    val cross = pairs.filter("jaccard < 1.0")
      .as[(Long, Long, Double)].collect()
    cross.length shouldBe 1
    cross.head._1 shouldBe 0L // the two group representatives
    cross.head._2 shouldBe 1L
  }

  test("small groups still emit all pairs under the default maxGroup") {
    val pairs = Dedup.minHashDupPairs(docs, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, rowsPerBand = 4, minJaccard = 0.5)
      .filter("jaccard = 1.0")
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).sorted
    pairs shouldBe Array((1L, 4L), (1L, 5L), (4L, 5L)) // full clique for {1,4,5}
  }

  test("multi-probe embeddingDupPairs is a superset of single-probe, no duplicate pairs") {
    val vecs = (0L until 40L).map(i =>
      (i, Array(math.sin(i * 0.7), math.cos(i * 1.3),
        math.sin(i * 2.1 + 1.0), math.cos(i * 0.9 + 2.0))))
      .toDF("id", "v")
    def pairs(multi: Boolean) =
      Dedup.embeddingDupPairs(vecs, "id", "v", dim = 4, nBits = 4,
          minCosine = 0.9, multiProbe = multi)
        .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSeq
    val single = pairs(false)
    val multi = pairs(true)
    multi.distinct.length shouldBe multi.length // probe overlap deduplicated
    single.toSet.subsetOf(multi.toSet) shouldBe true
    multi.length should be >= single.length
  }

  test("connectedComponents propagates labels across chains and keeps components apart") {
    // chain 1-2-3-4 (no direct 1-4 edge: transitivity required), pair 7-8,
    // star 10-(11,12)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (7L, 8L),
      (10L, 11L), (10L, 12L)).toDF("id_a", "id_b")
    // both routes must agree exactly: driver union-find (default for
    // small edge sets) and the distributed label-propagation loop
    // (smallGraphEdges = 0 forces it — the 100 TB path)
    for (threshold <- Seq(1000000L, 0L)) {
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b",
          smallGraphEdges = threshold)
        .as[(Long, Long)].collect().toMap
      comp(1L) shouldBe 1L
      comp(2L) shouldBe 1L
      comp(3L) shouldBe 1L
      comp(4L) shouldBe 1L // needed 3 propagation rounds
      comp(7L) shouldBe 7L
      comp(8L) shouldBe 7L
      comp(11L) shouldBe 10L
      comp(12L) shouldBe 10L
      comp.size shouldBe 9
    }
  }

  test("connectedComponents: both routes agree on a randomized 3k-edge graph") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(3000)((rnd.nextInt(800).toLong, rnd.nextInt(800).toLong))
      .toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, "id_a", "id_b",
        smallGraphEdges = 0L)
      .as[(Long, Long)].collect().toMap
    fast shouldBe dist
  }

  test("canonicalize maps every doc to its representative, singletons to themselves") {
    val pairs = Seq((1L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.canonicalize(docs, "doc_id", pairs)
      .selectExpr("cast(doc_id as long)", "rep")
      .as[(Long, Long)].collect().toMap
    out(1L) shouldBe 1L
    out(4L) shouldBe 1L
    out(5L) shouldBe 1L
    out(2L) shouldBe 2L // singleton
    out(3L) shouldBe 3L
  }

  test("simHashDupPairs equals the brute-force Hamming filter (pigeonhole exact)") {
    val docs = Seq.tabulate(60) { i =>
      // clusters of 3 near-identical docs (shared prefix, tiny suffix edit)
      (i.toLong, s"shared prose body number ${i / 3} with common words " +
        ("x" * (i % 3)))
    }.toDF("doc_id", "text")
    val mined = Dedup.simHashDupPairs(docs, "doc_id", "text",
        maxHamming = 3, bands = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().sorted
    // brute force over all pairs
    val sigs = docs.select(org.apache.spark.sql.functions.col("doc_id"),
        Dedup.simHash(org.apache.spark.sql.functions.col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b, h)).toArray.sorted
    mined shouldBe brute
    mined.nonEmpty shouldBe true // the clusters really collide
  }

  test("simHashDupPairs emits each pair exactly once (first shared band)") {
    // identical texts share EVERY band; must still appear once
    val docs = Seq((1L, "same text here"), (2L, "same text here"))
      .toDF("doc_id", "text")
    val out = Dedup.simHashDupPairs(docs, "doc_id", "text").collect()
    out.length shouldBe 1
  }

  test("crossCorpusNearDups: best benchmark match per contaminated corpus doc") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),   // near bench 1
      (11L, "totally unrelated content words here now"),
      (12L, "alpha beta gamma delta epsilon zeta"))   // exact dup of 10
      .toDF("doc_id", "text")
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "other benchmark item entirely"))
      .toDF("doc_id", "text")
    val out = Dedup.crossCorpusNearDups(corpus, bench, "doc_id", "text",
        k = 3, minJaccard = 0.5)
      .select("corpus_id", "benchmark_id", "jaccard")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    out.map(_._1).toSeq shouldBe Seq(10L, 12L) // 11 is clean
    out.foreach { case (_, b, j) => b shouldBe 1L; j shouldBe 1.0 }
  }

  test("embeddingDupPairs finds cosine-near pairs via shared LSH bucket") {
    val vecs = Seq(
      (1L, Array(1.0, 2.0, 3.0, 4.0)),
      (2L, Array(1.001, 2.001, 3.001, 4.001)),
      (3L, Array(-4.0, 3.0, -2.0, 1.0))
    ).toDF("id", "v")
    val out = Dedup.embeddingDupPairs(vecs, "id", "v", dim = 4, nBits = 6,
        minCosine = 0.999)
      .as[(Long, Long, Double)].collect()
    out.map(p => (p._1, p._2)) should contain((1L, 2L))
    out.foreach(_._3 should be >= 0.999)
  }

  test("embeddingDupPairs: null vectors match nothing and never misalign the kernel") {
    // two null-vector rows used to form a null-bucket group whose ids
    // list kept both rows while collect_list dropped their vectors —
    // kernel crash (or wrong-id pairs in a mixed group). Nulls are
    // filtered up front now: same pairs as without the null rows.
    val vecs = Seq(
      (1L, Array(1.0, 2.0, 3.0, 4.0)),
      (2L, Array(1.001, 2.001, 3.001, 4.001)),
      (3L, null: Array[Double]),
      (4L, null: Array[Double])
    ).toDF("id", "v")
    val out = Dedup.embeddingDupPairs(vecs, "id", "v", dim = 4, nBits = 6,
        minCosine = 0.999)
      .as[(Long, Long, Double)].collect()
    out.map(p => (p._1, p._2)).toSet shouldBe Set((1L, 2L))
  }

  test("embeddingDupPairs: null / non-castable ids are dropped, never misaligned") {
    // the mirror image of the null-vector case: collect_list(id) skips a
    // null id while collect_list(v) keeps its vector, so a null (or a
    // non-numeric id that cast('long') nulls out) in the SAME bucket as
    // real near-dups would shift every id after it — pairing wrong ids
    // silently. Such rows are filtered up front; the kernel's
    // same-length require is the loud backstop.
    val vecs = Seq(
      ("1", Array(1.0, 2.0, 3.0, 4.0)),
      ("2", Array(1.001, 2.001, 3.001, 4.001)),
      (null: String, Array(1.0005, 2.0005, 3.0005, 4.0005)),
      ("not-a-number", Array(1.0008, 2.0008, 3.0008, 4.0008))
    ).toDF("id", "v")
    val out = Dedup.embeddingDupPairs(vecs, "id", "v", dim = 4, nBits = 6,
        minCosine = 0.999)
      .as[(Long, Long, Double)].collect()
    out.map(p => (p._1, p._2)).toSet shouldBe Set((1L, 2L))
    // and the backstop itself fires on a hand-built misaligned call
    val e = intercept[IllegalArgumentException] {
      graft.functions.VectorFunctions.bucketPairsCosineDoubles(
        Seq(1L, 2L, 3L), Seq(Seq(1.0), Seq(2.0)), maxBucket = 10,
        minCosine = 0.0, scale = 6)
    }
    e.getMessage should include("misaligned")
  }

  test("fused-cosine embeddingDupPairs equals the candidate-join spelling bit for bit") {
    import org.apache.spark.sql.functions.{col, size => ssize,
      sort_array, collect_list, explode}
    val rnd = new scala.util.Random(11)
    // random float vectors with planted near-dup pairs and a zero vector
    val vecs = ((0 until 300).map { i =>
      val base = Array.fill(8)(rnd.nextGaussian().toFloat)
      (i.toLong, if (i % 3 == 0) base.map(x => x + 0.01f * (i % 5)) else base)
    } :+ ((999L, Array.fill(8)(0.0f)))).toDF("id", "v")
    for (multiProbe <- Seq(false, true)) {
      val fused = Dedup.embeddingDupPairs(vecs, "id", "v",
        dim = 8, nBits = 3, minCosine = 0.5, multiProbe = multiProbe)
      // the pre-round-11 spelling: candidate pairs then a two-sided
      // vector join + Column-path rounded cosine
      val withBucket = vecs.select(col("id"), col("v"),
        graft.functions.VectorFunctions.lshBucket(col("v"), 8, 3).as("bucket"))
      val assigned =
        if (!multiProbe) withBucket
        else withBucket.select(col("id"),
          explode(org.apache.spark.sql.functions.array(col("bucket") +:
            (0 until 3).map(i => col("bucket")
              .bitwiseXOR(org.apache.spark.sql.functions.lit(1L << i))): _*))
            .as("bucket"))
      val rawCands = assigned
        .groupBy(col("bucket"))
        .agg(sort_array(collect_list(col("id"))).as("ids"))
        .filter(ssize(col("ids")) >= 2)
        .select(explode(graft.functions.HashKernels.bucketPairsUdf(4096)(
          col("ids"))).as("p"))
        .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      val cands = if (multiProbe) rawCands.distinct() else rawCands
      val joined = cands
        .join(withBucket.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
        .join(withBucket.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
        .withColumn("cosine", graft.functions.Rounding.dround(
          graft.functions.VectorFunctions.cosineBest(col("v_a"), col("v_b")), 6))
        .filter(col("cosine") >= 0.5)
        .select("id_a", "id_b", "cosine")
      withClue(s"multiProbe=$multiProbe: ") {
        fused.collect().map(_.toString).sorted.toSeq shouldBe
          joined.collect().map(_.toString).sorted.toSeq
      }
      fused.count() should be > 0L
      // zero vector never matches (NaN in-kernel ≡ null in-Column)
      fused.filter(col("id_a") === 999L || col("id_b") === 999L).count() shouldBe 0L
    }
  }

  test("crossOnly mining equals full-mining-then-filter, including mixed exact-dup groups") {
    // randomized corpus/benchmark with: cross near-dups, intra-corpus
    // near-dups (the mass crossOnly must skip), texts IDENTICAL across
    // the two sides (mixed exact-dup groups — the case where a
    // negative-rep group expands to cross pairs), and a mega exact-dup
    // group past maxGroup to exercise the star-edge path
    for (seed <- Seq(7, 19)) {
      val rnd = new scala.util.Random(seed)
      val bench = (0L until 30L).map(i =>
        (i, s"benchmark question number $i about topic ${rnd.nextInt(10)}"))
        .toDF("doc_id", "text")
      val corpus = ((0L until 200L).map { i =>
        val t = rnd.nextInt(10) match {
          case 0 => s"benchmark question number ${rnd.nextInt(30)} about topic ${rnd.nextInt(10)}"
          case 1 => s"corpus near dup family ${i % 20} with shared words here marker$i"
          case 2 => "the repeated boilerplate footer appearing everywhere" // mega group
          case _ => s"unique corpus document $i ${rnd.nextInt(1000)}"
        }
        (1000L + i, t)
      }).toDF("doc_id", "text")
      import org.apache.spark.sql.functions.lit
      val c = corpus.select($"doc_id".as("id"), $"text".as("t"))
      val b = bench.select((lit(-1L) - $"doc_id").as("id"), $"text".as("t"))
      val union = c.unionByName(b)
      def fp(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      val maxG = 5 // small cap so the boilerplate group rides star edges
      val full = Dedup.minHashDupPairs(union, "id", "t", maxGroup = maxG)
        .filter($"id_a" < 0 && $"id_b" >= 0)
      val crossOnly = Dedup.minHashDupPairs(union, "id", "t",
        maxGroup = maxG, crossOnly = true)
      withClue(s"seed=$seed: ") { fp(crossOnly) shouldBe fp(full) }
      fp(full) should not be empty
      // and the public operator's output is unchanged by the rewrite
      val viaOp = Dedup.crossCorpusNearDups(corpus, bench, "doc_id", "text")
      viaOp.count() should be > 0L
    }
  }

  test("spreadForKernelStage spreads only under-parallel frames with real kernel work") {
    val parallelism = spark.sparkContext.defaultParallelism
    // one partition, enough rows/partition: spread to full parallelism
    val one = spark.range(0, 40000, 1, 1).toDF("id").localCheckpoint(false)
    val spread = Dedup.spreadForKernelStage(one, minRowsPerPartition = 16384)
    spread.rdd.getNumPartitions shouldBe parallelism
    spread.count() shouldBe 40000
    // one partition, too few rows: the exchange would cost more than the
    // kernel time it buys — left alone (reference-identical, no new plan)
    val small = spark.range(0, 100, 1, 1).toDF("id").localCheckpoint(false)
    (Dedup.spreadForKernelStage(small, minRowsPerPartition = 16384) eq small) shouldBe true
    // already at/above parallelism: no-op regardless of size
    val par = spark.range(0, 40000, 1, parallelism).toDF("id").localCheckpoint(false)
    (Dedup.spreadForKernelStage(par, minRowsPerPartition = 16384) eq par) shouldBe true
  }

  test("incrementalDedup drops seen content and intra-batch copies") {
    val rnd = new scala.util.Random(31)
    val seenRows = Seq((1L, "known text alpha"), (2L, "known text beta")) ++
      (0 until 300).map(i => (100L + i, s"seen document number $i"))
    val batchRows = Seq(
      (10L, "known text alpha"),  // seen -> dropped
      (11L, "fresh text one"),    // survives
      (12L, "fresh text two"),    // survives (min id of its pair)
      (13L, "fresh text two")) ++ // intra-batch copy -> dropped
      (0 until 400).map { i =>
        val t = if (i % 10 == 0) s"seen document number ${rnd.nextInt(300)}"
          else if (i % 7 == 0) s"fresh copy group ${i / 70}"
          else s"fresh document $i"
        (1000L + i, t)
      } :+ ((2000L, null: String)) // null text matches nothing -> survives
    val seen = seenRows.toDF("doc_id", "text")
    val batch = batchRows.toDF("doc_id", "text")

    val (built, jobs) = jobsStartedBy(Dedup.incrementalDedup(batch, seen, "doc_id", "text"))
    jobs shouldBe empty // a lazy plan: building it runs nothing
    val out = built.select("doc_id").as[Long].collect().sorted

    // the min id of every batch text the seen corpus lacks, plus the
    // null-text row
    val seenTexts = seenRows.map(_._2).toSet
    val expected = batchRows.filter(_._2 != null).groupBy(_._2).collect {
      case (t, rows) if !seenTexts(t) => rows.map(_._1).min
    }.toSeq :+ 2000L
    out shouldBe expected.sorted.toArray
    out should contain allOf (11L, 12L, 2000L)
    out should contain noneOf (10L, 13L)
  }

  test("semanticDedup drops later near-dups within a cluster, keeps cluster minima") {
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    val vecs = Seq(
      (1L, Array(1.0, 0.1, 0.0, 0.0)),   // cluster 0, first -> kept
      (2L, Array(0.99, 0.12, 0.0, 0.0)), // cluster 0, ~dup of 1 -> dropped
      (3L, Array(0.1, 1.0, 0.0, 0.0)),   // cluster 1, first -> kept
      (4L, Array(-1.0, 0.1, 0.0, 0.0)),  // cluster 1 (far from e0), unlike 3 -> kept
      (5L, Array(1.0, 0.1, 0.0, 0.0))    // cluster 0, exact dup of 1 -> dropped
    ).toDF("id", "v")
    val out = Dedup.semanticDedup(vecs, "id", "v", cents, tau = 0.95)
      .select("id", "cluster", "n_dups_lower", "max_cos_lower", "kept")
      .as[(Long, Int, Long, Option[Double], Boolean)].collect()
      .sortBy(_._1)
    out.map(r => r._1 -> r._2).toMap shouldBe
      Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 0)
    out.map(r => r._1 -> r._5).toMap shouldBe
      Map(1L -> true, 2L -> false, 3L -> true, 4L -> true, 5L -> false)
    // cluster minima have no lower-id member
    out.find(_._1 == 1L).get._4 shouldBe None
    out.find(_._1 == 3L).get._4 shouldBe None
    out.find(_._1 == 5L).get._4.get shouldBe 1.0 // exact dup of id 1
  }

  test("fused semanticDedup equals the within-cluster join spelling bit for bit") {
    import org.apache.spark.sql.functions.{col, round => sround, max => smax,
      count => scount, when => swhen, coalesce => scoalesce, lit => slit,
      udf => sudf}
    // the pre-round-12 spelling: cluster self-join + (cluster, id)
    // verdict aggregate — both vectors shipped once per PAIR
    def joinSpelling(df: org.apache.spark.sql.DataFrame,
                     cents: Array[Array[Double]], tau: Double) = {
      val bc = spark.sparkContext.broadcast(cents)
      val assign = sudf((v: Seq[Double]) =>
        if (v == null) None
        else Some(graft.operators.Similarity.nearestCentroid(v.toArray, bc.value)))
      val assigned = df.select(col("id").cast("long").as("id"),
          col("v").cast("array<double>").as("v"))
        .withColumn("cluster", assign(col("v")))
      val lower = assigned.select(col("cluster"),
        col("id").as("id_lo"), col("v").as("v_lo"))
      val pairs = assigned.join(lower, Seq("cluster"))
        .filter(col("id_lo") < col("id"))
        .withColumn("cos", graft.functions.Rounding.dround(
          graft.functions.VectorFunctions.cosineBest(col("v"), col("v_lo")), 6))
      val stats = pairs.groupBy(col("cluster"), col("id"))
        .agg(smax(col("cos")).as("max_cos_lower"),
          scount(swhen(col("cos") >= tau, 1)).as("n_dups_lower"))
      assigned.select(col("id"), col("cluster"))
        .join(stats, Seq("cluster", "id"), "left")
        .select(col("id"), col("cluster"),
          scoalesce(col("n_dups_lower"), slit(0L)).as("n_dups_lower"),
          col("max_cos_lower"),
          scoalesce(col("n_dups_lower") === 0, slit(true)).as("kept"))
    }
    val rnd = new scala.util.Random(23)
    val cents = Array.tabulate(6)(c =>
      Array.tabulate(8)(i => if (i == c) 1.0 else 0.0))
    // random vectors with planted near-dups, a null vector, a zero
    // vector (NaN cosine must match nothing), and DUPLICATE ids with
    // different vectors (the merged-verdict edge)
    val rows = (0 until 200).map { i =>
      val base = Array.fill(8)(rnd.nextGaussian())
      (i.toLong % 180, if (i % 4 == 0) base.map(_ * 1.0001) else base)
    } ++ Seq((997L, null: Array[Double]), (998L, Array.fill(8)(0.0)))
    val df = rows.toDF("id", "v")
    for (tau <- Seq(0.35, 0.95)) {
      val fused = Dedup.semanticDedup(df, "id", "v", cents, tau)
        .collect().map(_.toString).sorted.toSeq
      val viaJoin = joinSpelling(df, cents, tau)
        .collect().map(_.toString).sorted.toSeq
      withClue(s"tau=$tau: ") { fused shouldBe viaJoin }
      fused should not be empty
    }
  }

  test("semanticDedup maxCluster caps the kernel scan deterministically") {
    // one cluster of 10; cap 4 → only the 4 smallest ids are scanned,
    // later ids report kept=true with null stats (documented backstop)
    val vecs = (0L until 10L).map(i => (i, Array(1.0, 0.001 * i, 0.0, 0.0)))
      .toDF("id", "v")
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0))
    val out = Dedup.semanticDedup(vecs, "id", "v", cents, tau = 0.9,
        maxCluster = 4)
      .select("id", "n_dups_lower", "kept")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    out.take(4).map(_._2).toSeq shouldBe Seq(0L, 1L, 2L, 3L)
    out.drop(4).foreach { r => r._2 shouldBe 0L; r._3 shouldBe true }
  }

  test("keepBest keeps the highest-score member per component, ties to min id") {
    val docs = Seq(
      (1L, Some(0.5)), (2L, Some(0.9)), (3L, Some(0.9)), (4L, None),
      (10L, Some(0.1))
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.keepBest(docs, "doc_id", "score", pairs)
      .select("id", "component", "kept_id", "kept")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    // component {1,2,3,4}: best score 0.9 held by 2 and 3 -> min id 2 wins
    out.filter(_._2 == 1L).map(_._3).distinct.toSeq shouldBe Seq(2L)
    out.map(r => r._1 -> r._4).toMap shouldBe
      Map(1L -> false, 2L -> true, 3L -> false, 4L -> false, 10L -> true)
    // singleton survives as its own component
    out.find(_._1 == 10L).get._2 shouldBe 10L
  }

  test("softDedupWeights caps the repeat weight per exact-dup group") {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "x"), (5L, "y"))
      .toDF("doc_id", "text")
    val out = Dedup.softDedupWeights(docs, "text", "doc_id", cap = 3L)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    out shouldBe Array((1L, 4L, 3L, 0.75), (5L, 1L, 1L, 1.0))
  }
}
