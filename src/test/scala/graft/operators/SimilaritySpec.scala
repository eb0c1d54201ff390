package graft.operators

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, Array(1.0, 0.0, 0.0, 0.0)),
    (2L, Array(0.9, 0.1, 0.0, 0.0)),
    (3L, Array(0.0, 1.0, 0.0, 0.0)),
    (4L, Array(0.0, 0.0, 1.0, 0.0)),
    (5L, Array(1.0, 0.05, 0.0, 0.0))
  ).toDF("id", "v")

  test("bruteForceTopK returns exact cosine top-k in rank order") {
    val q = Seq((100L, Array(1.0, 0.0, 0.0, 0.0))).toDF("qid", "qv")
    val out = Similarity.bruteForceTopK(corpus, "id", "v", q, "qid", "qv", k = 3)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    out.length shouldBe 3
    out(0)._2 shouldBe 1L
    out(0)._3 shouldBe 1.0
    out.map(_._2).toSet shouldBe Set(1L, 5L, 2L) // the three closest
  }

  test("mmrRerank picks max-rel first, then trades relevance for diversity") {
    // a and b are identical directions; at λ = 0.3 the diversity penalty
    // pushes the duplicate below the weaker-but-orthogonal-ish c
    val mc = Seq(
      (10L, Array(1.0, 0.0)), (11L, Array(1.0, 0.0)), (12L, Array(0.6, 0.8))
    ).toDF("id", "v")
    val q = Seq((0L, Array(1.0, 0.0))).toDF("qid", "qv")
    val out = Similarity.mmrRerank(mc, "id", "v", q, "qid", "qv",
      kCandidates = 8, m = 3, lambda = 0.3)
      .as[(Long, Int, Long, Double, Double)].collect().sortBy(_._2)
    out.map(_._3).toSeq shouldBe Seq(10L, 12L, 11L)
    out(0)._4 shouldBe 1.0 // rank-1 rel is the max
    out(0)._5 shouldBe 0.3 +- 1e-9 // λ·rel, no penalty on the first pick
    // duplicate's final score pays the full similarity penalty: 0.3·1 − 0.7·1
    out(2)._5 shouldBe -0.4 +- 1e-9
  }

  test("mmrRerank returns min(m, candidates) rows and is reshard-stable") {
    val q = Seq((0L, Array(1.0, 0.0, 0.0, 0.0))).toDF("qid", "qv")
    val base = Similarity.mmrRerank(corpus, "id", "v", q, "qid", "qv",
      kCandidates = 2, m = 5, lambda = 0.7)
      .as[(Long, Int, Long, Double, Double)].collect().toSet
    base.size shouldBe 2 // only 2 candidates survive the top-k
    val reshard = Similarity.mmrRerank(corpus.repartition(7), "id", "v",
      q, "qid", "qv", kCandidates = 2, m = 5, lambda = 0.7)
      .as[(Long, Int, Long, Double, Double)].collect().toSet
    reshard shouldBe base
  }

  test("mmrRerank plans every join as broadcast — the corpus side never shuffles") {
    // the k·Q candidate join-back is explicitly broadcast in mmrRerank;
    // this pins the plan so an AQE size misestimate can never degrade the
    // corpus-sized emb side into a SortMergeJoin/ShuffledHashJoin exchange
    val corpus = (0 until 500)
      .map(i => (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j))))
      .toDF("id", "v")
    val q = Seq((0L, Array.tabulate(8)(j => math.cos(j.toDouble))))
      .toDF("qid", "qv")
    val out = Similarity.mmrRerank(corpus, "id", "v", q, "qid", "qv",
      kCandidates = 10, m = 3, lambda = 0.7)
    val plan = out.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "ShuffledHashJoin"
    out.count() shouldBe 3L
  }

  test("bruteForceTopK handles multiple queries independently") {
    val q = Seq(
      (100L, Array(1.0, 0.0, 0.0, 0.0)),
      (200L, Array(0.0, 0.0, 1.0, 0.0))
    ).toDF("qid", "qv")
    val out = Similarity.bruteForceTopK(corpus, "id", "v", q, "qid", "qv", k = 1)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    out.map(r => (r._1, r._2)) shouldBe Array((100L, 1L), (200L, 4L))
  }

  test("top-k runs as partial+final aggregation, not a per-query window") {
    val q = Seq((100L, Array(1.0, 0.0, 0.0, 0.0))).toDF("qid", "qv")
    val out = Similarity.bruteForceTopK(corpus, "id", "v", q, "qid", "qv", k = 3)
    val plan = out.queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should include("ObjectHashAggregate")
    plan should include("partial_topk_by_score")
  }

  test("quantizedTopK agrees with exact top-k on well-separated vectors") {
    val q = Seq((100L, Array(1.0, 0.0, 0.0, 0.0))).toDF("qid", "qv")
    val exact = Similarity.bruteForceTopK(corpus, "id", "v", q, "qid", "qv", k = 3)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    val quant = Similarity.quantizedTopK(corpus, "id", "v", q, "qid", "qv", k = 3)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    // same neighbor set and rank order; scores within quantization error
    quant.map(_._2).toSeq shouldBe exact.map(_._2).toSeq
    quant.zip(exact).foreach { case (qr, er) =>
      qr._3 shouldBe er._3 +- 0.02
    }
  }

  test("quantized cosine is scale-invariant (scales cancel)") {
    // 3x-scaled copy of a vector must score cosine 1.0 against the original
    val c = Seq((1L, Array(0.3, -0.6, 0.9))).toDF("id", "v")
    val q = Seq((100L, Array(0.1, -0.2, 0.3))).toDF("qid", "qv")
    val out = Similarity.quantizedTopK(c, "id", "v", q, "qid", "qv", k = 1)
      .as[(Long, Long, Double)].head()
    out._3 shouldBe 1.0
  }

  test("hardNegatives excludes same-label rows and null labels") {
    val c = Seq(
      (1L, Array(1.0, 0.0), Some(0)),  // same label as query — excluded
      (2L, Array(0.9, 0.1), Some(1)),  // different label — the hard negative
      (3L, Array(0.0, 1.0), Some(1)),  // different label, far
      (4L, Array(1.0, 0.0), None)      // null label — excluded (SQL <>)
    ).toDF("id", "v", "label")
    val q = Seq((100L, Array(1.0, 0.0), 0)).toDF("qid", "qv", "qlabel")
    val out = Similarity.hardNegatives(c, "id", "v", "label",
        q, "qid", "qv", "qlabel", k = 10)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    out.map(_._2).toSeq shouldBe Seq(2L, 3L) // ids 1 and 4 never scored
  }

  test("pqTopK is exact when every vector is its own sub-centroid") {
    // 4 corpus vectors, ksub=4, m=2: k-means with k = #points converges to
    // the points themselves, so ADC distance == exact squared L2
    val c = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0)),
      (2L, Array(0.0, 1.0, 0.0, 0.0)),
      (3L, Array(0.0, 0.0, 1.0, 0.0)),
      (4L, Array(0.0, 0.0, 0.0, 1.0))
    ).toDF("id", "v")
    val books = Similarity.pqTrain(c, "id", "v", dim = 4, m = 2, ksub = 4, iters = 3)
    val q = Seq((100L, Array(0.9, 0.1, 0.0, 0.0))).toDF("qid", "qv")
    val out = Similarity.pqTopK(c, "id", "v", q, "qid", "qv", books, k = 4)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    out.head._2 shouldBe 1L // nearest by L2
    // exact: -||q - e1||² = -(0.1² + 0.1²) = -0.02
    out.head._3 shouldBe -0.02 +- 1e-9
    out.map(_._2).toSeq shouldBe Seq(1L, 2L, 3L, 4L) // full exact ranking
  }

  test("pqEncode is deterministic and bounds codes by ksub") {
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j).abs)))
    val df = vecs.toDF("id", "v")
    val books = Similarity.pqTrain(df, "id", "v", dim = 8, m = 4, ksub = 4, iters = 3)
    val e1 = Similarity.pqEncode(df, "id", "v", books)
      .as[(Long, Seq[Int])].collect().sortBy(_._1)
    val e2 = Similarity.pqEncode(df, "id", "v", books)
      .as[(Long, Seq[Int])].collect().sortBy(_._1)
    e1 shouldBe e2
    e1.foreach { case (_, codes) =>
      codes.length shouldBe 4
      all(codes) should (be >= 0 and be < 4)
    }
  }

  test("pqTopK recovers cluster structure (recall on separated clusters)") {
    // two tight clusters far apart; queries near cluster A must rank all
    // of A above any of B
    val a = (0 until 10).map(i => (i.toLong, Array(10.0 + i * 0.01, 10.0, 0.0, 0.0)))
    val b = (10 until 20).map(i => (i.toLong, Array(-10.0, -10.0 - (i - 10) * 0.01, 0.0, 0.0)))
    val c = (a ++ b).toDF("id", "v")
    val books = Similarity.pqTrain(c, "id", "v", dim = 4, m = 2, ksub = 8, iters = 4)
    val q = Seq((100L, Array(10.05, 10.0, 0.0, 0.0))).toDF("qid", "qv")
    val out = Similarity.pqTopK(c, "id", "v", q, "qid", "qv", books, k = 10)
      .as[(Long, Long, Double)].collect()
    all(out.map(_._2)) should be < 10L
  }

  test("aggregate top-k matches the window formulation across partitions") {
    // 600 candidates over 8 partitions: partial heaps must merge correctly,
    // including exact-score ties broken by ascending id
    val big = spark.range(0, 600, 1, 8)
      .selectExpr("id", "array(cast(1.0 - (id % 100) / 100.0 as double), cast((id % 7) / 10.0 as double)) as v")
    val q = Seq((1L, Array(1.0, 0.0))).toDF("qid", "qv")
    val agg = Similarity.bruteForceTopK(big, "id", "v", q, "qid", "qv", k = 25)
      .as[(Long, Long, Double)].collect().toSeq
    // reference result via the window fallback on a registry-free session
    val scored = big.selectExpr("id as neighbor_id", "v as cv")
      .crossJoin(q.selectExpr("qid as query_id", "qv"))
      .selectExpr("query_id", "neighbor_id",
        "aggregate(zip_with(qv, cv, (x, y) -> x * y), cast(0.0 as double), (a, b) -> a + b) " +
          "/ (sqrt(aggregate(qv, cast(0.0 as double), (a, b) -> a + b * b)) * " +
          "sqrt(aggregate(cv, cast(0.0 as double), (a, b) -> a + b * b)))  as cosine")
    val win = scored
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
          .orderBy($"cosine".desc, $"neighbor_id".asc)))
      .filter($"rk" <= 25)
      .selectExpr("query_id", "neighbor_id", "round(cosine, 6) as cosine")
      .as[(Long, Long, Double)].collect().toSeq
    agg.sortBy(x => (-x._3, x._2)) shouldBe win.sortBy(x => (-x._3, x._2))
  }

  test("multi-probe ivfTopK is a superset and recovers cross-hyperplane neighbours") {
    import org.apache.spark.sql.functions.{col => f}
    // 60 corpus vectors in pairs (v, v + small noise): some pairs straddle
    // exactly one hyperplane; single-probe misses those neighbours
    val big = spark.range(0, 60)
      .selectExpr("id",
        """array(cast(sin(id * 0.7) as double), cast(cos(id * 1.3) as double),
                 cast(sin(id * 2.1 + 1.0) as double), cast(cos(id * 0.9 + 2.0) as double)) as v""")
    val queries = big.limit(8).selectExpr("id + 1000 as qid", "v as qv")
    def ids(multi: Boolean) =
      // k >= corpus size: no top-k truncation, so probing strictly adds
      Similarity.ivfTopK(big, "id", "v", queries, "qid", "qv",
          dim = 4, k = 60, nBits = 3, multiProbe = multi)
        .select(f("query_id"), f("neighbor_id"))
        .as[(Long, Long)].collect().toSet
    val single = ids(false)
    val multi = ids(true)
    single.subsetOf(multi) shouldBe true
    multi.size should be > single.size // fixture straddles >= 1 hyperplane
  }

  test("trainIvfCentroids recovers separated clusters, bit-deterministically") {
    // two tight clusters around (0,0,..) and (10,10,..)
    val pts = ((0 until 20).map(i => (i.toLong, Array(0.0 + i * 0.01, 0.0, 1.0, 0.0))) ++
      (20 until 40).map(i => (i.toLong, Array(10.0 + i * 0.01, 10.0, 1.0, 0.0))))
      .toDF("id", "v")
    val c1 = Similarity.trainIvfCentroids(pts, "id", "v", k = 2, iters = 4)
    val c2 = Similarity.trainIvfCentroids(pts, "id", "v", k = 2, iters = 4)
    c1.map(_.toSeq) shouldBe c2.map(_.toSeq) // fixed-point sums: identical bits
    // one centroid per cluster, at the cluster means
    val xs = c1.map(_(0)).sorted
    xs(0) shouldBe 0.095 +- 1e-6
    xs(1) shouldBe 10.295 +- 1e-6
    // every point assigns to its own cluster's centroid
    pts.as[(Long, Seq[Double])].collect().foreach { case (id, v) =>
      val c = Similarity.nearestCentroid(v.toArray, c1)
      val expected = if (id < 20) c1.map(_(0)).zipWithIndex.minBy(_._1)._2
                     else c1.map(_(0)).zipWithIndex.maxBy(_._1)._2
      c shouldBe expected
    }
  }

  test("trainIvfCentroids keeps empty clusters at their seed centroid") {
    val pts = Seq((1L, Array(0.0, 0.0)), (2L, Array(0.0, 0.1)),
      (3L, Array(0.0, 0.2))).toDF("id", "v")
    // k = 3 seeds but all points collapse to one cluster quickly; no NaNs
    val c = Similarity.trainIvfCentroids(pts, "id", "v", k = 3, iters = 3)
    c.length shouldBe 3
    c.flatten.foreach(x => x.isNaN shouldBe false)
  }

  test("ivfTopKTrained matches brute force on well-separated clusters") {
    val pts = ((0 until 20).map(i => (i.toLong, Array(1.0, 0.01 * i, 0.0, 0.0))) ++
      (20 until 40).map(i => (i.toLong, Array(0.0, 0.01 * i, 1.0, 0.0))))
      .toDF("id", "v")
    val cents = Similarity.trainIvfCentroids(pts, "id", "v", k = 2, iters = 4)
    val qs = Seq((100L, Array(1.0, 0.05, 0.0, 0.0)),
      (101L, Array(0.0, 0.05, 1.0, 0.0))).toDF("qid", "qv")
    val ivf = Similarity.ivfTopKTrained(pts, "id", "v", qs, "qid", "qv",
        cents, k = 3, nProbe = 1)
      .as[(Long, Long, Double)].collect().toSet
    val exact = Similarity.bruteForceTopK(pts, "id", "v", qs, "qid", "qv", k = 3)
      .as[(Long, Long, Double)].collect().toSet
    ivf shouldBe exact // each query's true neighbours live in its probed bucket
  }

  test("ivfTopK finds the self-match (same vector shares its bucket)") {
    val q = Seq((100L, Array(0.9, 0.1, 0.0, 0.0))).toDF("qid", "qv")
    val out = Similarity.ivfTopK(corpus, "id", "v", q, "qid", "qv",
        dim = 4, k = 5, nBits = 2)
      .as[(Long, Long, Double)].collect()
    out.map(_._2) should contain(2L)
    // results are a subset of the exact ones' ids (bucket pruning only removes)
    val exact = Similarity.bruteForceTopK(corpus, "id", "v", q, "qid", "qv", k = 5)
      .as[(Long, Long, Double)].collect().map(_._2).toSet
    out.map(_._2).toSet.subsetOf(exact) shouldBe true
  }

  test("recallAtK: exact vs itself is 1.0; missing neighbors counted") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 99L))  // q2 missed both
      .toDF("query_id", "neighbor_id")
    Similarity.recallAtK(exact, exact)
      .as[(Long, Long, Long, Double)].collect().foreach(_._4 shouldBe 1.0)
    val out = Similarity.recallAtK(approx, exact)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    out shouldBe Array((1L, 2L, 2L, 1.0), (2L, 0L, 2L, 0.0))
  }

  test("kCenterCoreset matches a sequential Gonzalez reference") {
    val pts = Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.25, 4L -> 0.6)
    val vecs = pts.toSeq.map { case (id, x) => (id, Array(x)) }
      .toDF("vec_id", "embedding")
    def s(x: Double) = math.floor(x * 1048576).toLong
    def d2(a: Double, b: Double) = { val d = s(a) - s(b); d * d }
    // seed 1 (min id); then greedy max-min with min-id tie-break
    var centers = Vector(1L)
    var expected = Vector((1, 1L, Option.empty[Long]))
    for (r <- 2 to 4) {
      val (id, dist) = (pts.keySet -- centers).toSeq
        .map(i => i -> centers.map(c => d2(pts(i), pts(c))).min)
        .minBy { case (i, d) => (-d, i) }
      centers :+= id
      expected :+= ((r, id, Some(dist)))
    }
    val out = Similarity.kCenterCoreset(vecs, "vec_id", "embedding", k = 4)
      .as[(Int, Long, Option[Long])].collect().sortBy(_._1).toVector
    out shouldBe expected
    // sanity on the reference itself: farthest-first really picks 2 next
    expected.map(_._2) shouldBe Vector(1L, 2L, 4L, 3L)
  }

  test("kCenterCoreset stops early when the pool is exhausted; nulls dropped") {
    val vecs = Seq(
      (1L, Array(0.0)), (2L, Array(0.0)),           // duplicate points
      (3L, null.asInstanceOf[Array[Double]]))       // dropped
      .toDF("vec_id", "embedding")
    val out = Similarity.kCenterCoreset(vecs, "vec_id", "embedding", k = 5)
      .as[(Int, Long, Option[Long])].collect().sortBy(_._1)
    out shouldBe Array((1, 1L, None), (2, 2L, Some(0L)))
  }

  test("kCenterCoreset returns an empty frame on empty or all-null input") {
    val empty = Seq.empty[(Long, Array[Double])].toDF("vec_id", "embedding")
    Similarity.kCenterCoreset(empty, "vec_id", "embedding", k = 3)
      .collect() shouldBe empty.collect()
    val allNull = Seq((1L, null.asInstanceOf[Array[Double]]))
      .toDF("vec_id", "embedding")
    val out = Similarity.kCenterCoreset(allNull, "vec_id", "embedding", k = 3)
    out.columns.toSeq shouldBe Seq("pick_rank", "vec_id", "dist")
    out.count() shouldBe 0L
  }

  test("sampled trainIvfCentroids with sampleN >= corpus equals the full path bit-for-bit") {
    // sample covers everything and seeds by the same smallest-id rule, and
    // the driver loop uses the same HALF_UP fixed-point sums — so the
    // local path must reproduce the distributed path's exact bits
    val pts = ((0 until 20).map(i => (i.toLong, Array(0.0 + i * 0.01, 0.0, 1.0, 0.0))) ++
      (20 until 40).map(i => (i.toLong, Array(10.0 + i * 0.01, 10.0, 1.0, 0.0))))
      .toDF("id", "v")
    val full = Similarity.trainIvfCentroids(pts, "id", "v", k = 2, iters = 4)
    val samp = Similarity.trainIvfCentroids(pts, "id", "v", k = 2, iters = 4,
      sampleN = 1000)
    samp.map(_.toSeq) shouldBe full.map(_.toSeq)
  }

  test("sampled pqTrain with sampleN >= corpus equals the full path bit-for-bit") {
    // backs the q111/q80 gate queries' use of the sampled path with a
    // corpus-covering sampleN: same smallest-id seeding per subspace and
    // the same HALF_UP fixed-point integer sums, so the driver loop must
    // reproduce the distributed path's exact bits
    val pts = (0 until 40)
      .map(i => (i.toLong, Array.tabulate(4)(j => math.cos(i * 4 + j) * 3)))
      .toDF("id", "v")
    val full = Similarity.pqTrain(pts, "id", "v", dim = 4, m = 2, ksub = 4,
      iters = 3)
    val samp = Similarity.pqTrain(pts, "id", "v", dim = 4, m = 2, ksub = 4,
      iters = 3, sampleN = 1000)
    samp.map(_.map(_.toSeq).toSeq) shouldBe full.map(_.map(_.toSeq).toSeq)
  }

  test("sampled training is bit-deterministic and reshard-stable") {
    val pts = (0 until 200)
      .map(i => (i.toLong, Array.tabulate(4)(j => math.sin(i * 4 + j))))
      .toDF("id", "v")
    val a = Similarity.trainIvfCentroids(pts, "id", "v", k = 4, iters = 3,
      sampleN = 64)
    val b = Similarity.trainIvfCentroids(pts.repartition(13), "id", "v",
      k = 4, iters = 3, sampleN = 64)
    a.map(_.toSeq) shouldBe b.map(_.toSeq)
    val booksA = Similarity.pqTrain(pts, "id", "v", dim = 4, m = 2, ksub = 4,
      iters = 3, sampleN = 64)
    val booksB = Similarity.pqTrain(pts.repartition(7), "id", "v", dim = 4,
      m = 2, ksub = 4, iters = 3, sampleN = 64)
    booksA.map(_.map(_.toSeq).toSeq) shouldBe booksB.map(_.map(_.toSeq).toSeq)
  }

  test("train-once memo never crosses datasets: same schema, different data") {
    // Two corpora with identical schema and plan SHAPE but different
    // vectors: the memo key must separate them (a canonicalized-plan
    // string alone would not — LocalRelation stringifies without data,
    // HadoopFsRelation without paths) so the second train call must
    // return ITS OWN centroids, not the first corpus's cached ones.
    val c1 = (0 until 12).map(i => (i.toLong, Array(100.0 + i, 0.0)))
      .toDF("id", "v")
    val c2 = (0 until 12).map(i => (i.toLong, Array(-100.0 - i, 0.0)))
      .toDF("id", "v")
    Similarity.datasetKey(c1) should not be Similarity.datasetKey(c2)
    val k1 = Similarity.trainIvfCentroids(c1, "id", "v", k = 2, iters = 2)
    val k2 = Similarity.trainIvfCentroids(c2, "id", "v", k = 2, iters = 2)
    all(k1.map(_.head)) should be > 0.0
    all(k2.map(_.head)) should be < 0.0
    // and a genuine repeat (same path-backed dataset re-read) still hits:
    // same parquet dir read through two fresh plans → same key
    val dir = java.nio.file.Files.createTempDirectory("graft_memo").toString
    c1.write.mode("overwrite").parquet(dir)
    val r1 = spark.read.parquet(dir)
    val r2 = spark.read.parquet(dir)
    Similarity.datasetKey(r1) shouldBe Similarity.datasetKey(r2)
    // ... but the same dir OVERWRITTEN with new data must MISS: the key
    // folds in the file listing (count, max mod time, total bytes), so a
    // stale-memo hit on replaced data is impossible
    Thread.sleep(10) // ensure a distinct mod time at fs granularity
    c2.write.mode("overwrite").parquet(dir)
    val r3 = spark.read.parquet(dir)
    Similarity.datasetKey(r3) should not be Similarity.datasetKey(r1)
  }

  test("sampled pqTrain keeps search recall within bound of full training") {
    val a = (0 until 20).map(i => (i.toLong, Array(10.0 + i * 0.01, 10.0, 0.0, 0.0)))
    val b = (20 until 40).map(i => (i.toLong, Array(-10.0, -10.0 - (i - 20) * 0.01, 0.0, 0.0)))
    val c = (a ++ b).toDF("id", "v")
    val q = Seq((100L, Array(10.05, 10.0, 0.0, 0.0)),
      (101L, Array(-10.0, -10.05, 0.0, 0.0))).toDF("qid", "qv")
    val booksFull = Similarity.pqTrain(c, "id", "v", dim = 4, m = 2, ksub = 8, iters = 4)
    val booksSamp = Similarity.pqTrain(c, "id", "v", dim = 4, m = 2, ksub = 8,
      iters = 4, sampleN = 24)
    val full = Similarity.pqTopK(c, "id", "v", q, "qid", "qv", booksFull, k = 10)
    val samp = Similarity.pqTopK(c, "id", "v", q, "qid", "qv", booksSamp, k = 10)
    val rec = Similarity.recallAtK(samp, full)
      .select("query_id", "recall").as[(Long, Double)].collect().toMap
    rec.keySet shouldBe Set(100L, 101L)
    all(rec.values) should be >= 0.8
  }
}
