package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.SparkSpec

class DecimateSpec extends SparkSpec {
  import spark.implicits._

  test("strideSample keeps positions 0, k, 2k per series") {
    val df = (0 until 10).map(i => ("a", i)).toDF("k", "x")
    val out = Decimate.strideSample(df, Seq("k"), "x", 3)
      .select("x").as[Int].collect().sorted
    out shouldBe Array(0, 3, 6, 9)
  }

  test("strideSample global path (no keys) gives exact global positions without a global window") {
    val df = (0 until 1003).map(i => (i, s"v$i")).toDF("x", "v").repartition(7)
    val out = Decimate.strideSample(df, Nil, "x", 100)
      .select("x").as[Int].collect().sorted
    out shouldBe (0 until 1003 by 100).toArray
  }

  test("coarsen: fixed-count bucket means, trailing partial bucket trimmed") {
    val df = (0 until 7).map(i =>
        ("a", java.sql.Timestamp.valueOf(f"2024-01-01 00:00:0$i"), i.toDouble))
      .toDF("k", "ts", "v")
    val out = Decimate.coarsen(df, Seq("k"), "ts", Seq("v"), window = 3)
      .select("v").as[Double].collect().sorted
    out shouldBe Array(1.0, 4.0) // means of (0,1,2), (3,4,5); row 6 trimmed
  }

  test("lttbKernel: endpoints kept, exact output size, y-values from input") {
    val n = 1000
    val xs = Array.tabulate(n)(_.toDouble)
    val ys = Array.tabulate(n)(i => math.sin(i / 25.0) * 100 + (i % 7))
    val out = Decimate.lttbKernel(xs, ys, 50)
    out.length shouldBe 50
    out.head shouldBe ((xs.head, ys.head))
    out.last shouldBe ((xs.last, ys.last))
    val ySet = ys.toSet
    out.foreach { case (_, y) => ySet should contain(y) }
    // x positions are nondecreasing (bucket-middle snap preserves order)
    out.map(_._1).toSeq shouldBe out.map(_._1).toSeq.sorted
  }

  test("lttbKernel matches an independent straightforward implementation") {
    // slow, obviously-correct re-implementation of the reference algorithm:
    // numpy array_split bin sizing, prev-selected/next-centroid triangle,
    // first-tie-wins argmax, bucket-middle x
    def slowLttb(xs: Array[Double], ys: Array[Double], threshold: Int): Array[(Double, Double)] = {
      val n = xs.length
      if (threshold < 3 || n <= threshold) return xs.zip(ys)
      val nBins = threshold - 2
      val sizes = {
        val base = (n - 2) / nBins; val rem = (n - 2) % nBins
        (0 until nBins).map(i => base + (if (i < rem) 1 else 0))
      }
      val starts = sizes.scanLeft(1)(_ + _)
      val out = scala.collection.mutable.ArrayBuffer[(Double, Double)]((xs(0), ys(0)))
      var prev = (xs(0), ys(0))
      for (b <- 0 until nBins) {
        val s = starts(b); val e = starts(b) + sizes(b)
        val (cx, cy) =
          if (b < nBins - 1) {
            val ns = starts(b + 1); val ne = starts(b + 1) + sizes(b + 1)
            ((ns until ne).map(xs).sum / (ne - ns), (ns until ne).map(ys).sum / (ne - ns))
          } else (xs(n - 1), ys(n - 1))
        val best = (s until e).maxBy { j =>
          val area = 0.5 * math.abs((prev._1 - cx) * (ys(j) - prev._2) -
            (prev._1 - xs(j)) * (cy - prev._2))
          (area, -j) // maxBy with -j => first index wins ties
        }
        val middle = s + sizes(b) / 2
        val pt = (xs(middle), ys(best))
        out += pt
        prev = pt
      }
      out += ((xs(n - 1), ys(n - 1)))
      out.toArray
    }
    val rng = new scala.util.Random(31)
    for (trial <- 0 until 20) {
      val n = 50 + rng.nextInt(500)
      val xs = Array.tabulate(n)(_.toDouble)
      val ys = Array.fill(n)(rng.nextInt(50).toDouble) // duplicates force ties
      val t = 3 + rng.nextInt(40)
      withClue(s"trial=$trial n=$n t=$t: ") {
        Decimate.lttbKernel(xs, ys, t).toSeq shouldBe slowLttb(xs, ys, t).toSeq
      }
    }
  }

  test("lttbKernel: short series returned unchanged") {
    val xs = Array(1.0, 2.0, 3.0)
    val ys = Array(9.0, 8.0, 7.0)
    Decimate.lttbKernel(xs, ys, 50).toSeq shouldBe xs.zip(ys).toSeq
  }

  test("downsample caps per-series size then decimates; deterministic with duplicate x") {
    val df = (0 until 5000).map { i =>
      (if (i % 2 == 0) "a" else "b", (i / 10).toDouble, (i % 97).toDouble)
    }.toDF("k", "x", "y")
    def run() = Decimate.downsample(df, "k", "x", "y", threshold = 100)
      .orderBy("k", "x", "y").as[(String, Double, Double)].collect()
    val r1 = run()
    val r2 = run()
    r1 shouldBe r2
    r1.count(_._1 == "a") shouldBe 100
    r1.count(_._1 == "b") shouldBe 100
  }

  /** The stride-then-LTTB composition `downsample` ran on every input
    * before it sized series first: position pass, broadcast per-series
    * counts, stride filter, LTTB.
    */
  private def strideThenLttb(df: DataFrame, threshold: Int): DataFrame = {
    val cap = threshold.toLong * 10
    val counts = df.groupBy(col("k")).agg(count(lit(1)).as("__n"))
    val strided = OrderedPosition
      .withPosition(df, Seq("k"), Seq("x", "y"), "__pos")
      .join(broadcast(counts), "k")
      .withColumn("__stride", ceil(col("__n") / cap).cast("long"))
      .filter(col("__pos") % col("__stride") === 0)
      .drop("__n", "__stride", "__pos")
    Decimate.lttb(strided, "k", "x", "y", threshold)
  }

  private def sortedRows(df: DataFrame): Seq[(String, Double, Double)] =
    df.as[(String, Double, Double)].collect().toSeq.sortBy(r => (r._1, r._2, r._3))

  // threshold 20, cap 200: "small" is under the threshold, "mid" between
  // the threshold and the cap, "big" over the cap, and a null-key series.
  // Duplicate x values force the (x, y) tie order. "big" has 23 null x / y
  // rows, which count toward its stride: 1010 rows give ceil(1010 / 200) = 6,
  // its 987 plottable rows alone would give 5.
  private val tierThreshold = 20
  private val tierFrame: DataFrame = {
    val rnd = new scala.util.Random(7)
    def series(k: String, n: Int) = (0 until n).map { i =>
      val x: java.lang.Double = if (i % 97 == 13) null else (i / 3).toDouble
      val y: java.lang.Double = if (i % 89 == 5) null else rnd.nextInt(40).toDouble
      Row(k, x, y)
    }
    val rows = series("small", 15) ++ series("mid", 150) ++ series("big", 1010) ++
      series(null, 60)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 6),
      StructType(Seq(StructField("k", StringType), StructField("x", DoubleType),
        StructField("y", DoubleType))))
  }

  test("downsample: every path returns the stride-then-LTTB rows exactly") {
    def sized(df: DataFrame, threshold: Int) =
      Decimate.downsample(df, "k", "x", "y", threshold)
    // strides broadcast-joined instead of inlined as a map literal
    def joined(df: DataFrame, threshold: Int) =
      Decimate.downsampleBounded(df, "k", "x", "y", threshold, 10,
        maxSeries = 100, maxStrideLiteral = 0)
    val underCap = tierFrame.filter(col("k") =!= "big" || col("k").isNull)
    val cases = Seq(
      "stride" -> (sized _, tierFrame, tierThreshold),
      "stride, joined strides" -> (joined _, tierFrame, tierThreshold),
      "stride, every series under the cap" -> (sized _, underCap, tierThreshold),
      "identity" -> (sized _, tierFrame.filter(col("k") === "small" || col("k").isNull),
        tierThreshold),
      "stride, threshold < 3" -> (sized _, tierFrame, 2),
      "stride, threshold < 3, joined strides" -> (joined _, tierFrame, 2))
    for ((path, (run, df, threshold)) <- cases) withClue(s"$path: ") {
      val got = sortedRows(run(df, threshold))
      got shouldBe sortedRows(strideThenLttb(df, threshold))
      got.map(_._1) should not contain (null: String)
    }
    // the stride path really decimates: "mid" to the threshold, "big" too
    val all = sortedRows(Decimate.downsample(tierFrame, "k", "x", "y", tierThreshold))
    all.count(_._1 == "mid") shouldBe tierThreshold
    all.count(_._1 == "big") shouldBe tierThreshold
    all.count(_._1 == "small") shouldBe 13 // 15 rows, 2 with a null x or y
  }

  test("downsample identity path plans no Exchange") {
    val small = tierFrame.filter(col("k") === "small" || col("k").isNull)
    val plan = Decimate.downsample(small, "k", "x", "y", tierThreshold)
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  test("downsample rejects a non-positive threshold or cap factor") {
    an[IllegalArgumentException] should be thrownBy
      Decimate.downsample(tierFrame, "k", "x", "y", threshold = 0)
    an[IllegalArgumentException] should be thrownBy
      Decimate.downsample(tierFrame, "k", "x", "y", threshold = 10, maxPointsFactor = 0)
  }

  test("downsample rejects more series than the driver sizes collect allows") {
    // three non-null series ("small", "mid", "big"); the null key is not one
    def bounded(maxSeries: Int) =
      Decimate.downsampleBounded(tierFrame, "k", "x", "y", tierThreshold, 10,
        maxSeries, Decimate.MaxStrideLiteral)
    val e = the[IllegalArgumentException] thrownBy bounded(2)
    e.getMessage should include("more than 2 series")
    bounded(3).count() shouldBe 13 + 2 * tierThreshold
  }
}
