package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GapFillSpec extends SparkSpec {
  import spark.implicits._

  test("interpolateLinear fills interior nulls, leaves leading/trailing") {
    val df = Seq(
      ("a", 0.0, None: Option[Double]),
      ("a", 1.0, Some(10.0)),
      ("a", 2.0, None),
      ("a", 3.0, None),
      ("a", 4.0, Some(40.0)),
      ("a", 5.0, None)
    ).toDF("k", "t", "v")
    val out = GapFill.interpolateLinear(df, Seq("k"), "t", "v", "f")
      .orderBy("t").select("f").as[Option[Double]].collect()
    out shouldBe Array(None, Some(10.0), Some(20.0), Some(30.0), Some(40.0), None)
  }

  test("interpolateLinear treats NaN as missing, not an anchor") {
    val df = Seq(
      ("a", 0.0, Some(0.0)),
      ("a", 1.0, Some(Double.NaN)), // would otherwise poison 0..2
      ("a", 2.0, None: Option[Double]),
      ("a", 3.0, Some(30.0))
    ).toDF("k", "t", "v")
    val out = GapFill.interpolateLinear(df, Seq("k"), "t", "v", "f")
      .orderBy("t").select("f").as[Option[Double]].collect()
    out shouldBe Array(Some(0.0), Some(10.0), Some(20.0), Some(30.0))
  }

  test("interpolateLinear maxGap leaves cells bridging long gaps null") {
    val df = Seq(
      ("a", 0.0, Some(0.0)),
      ("a", 1.0, None: Option[Double]),   // gap 0..2 = 2 <= 5: filled
      ("a", 2.0, Some(20.0)),
      ("a", 5.0, None),                   // gap 2..10 = 8 > 5: masked
      ("a", 8.0, None),
      ("a", 10.0, Some(100.0))
    ).toDF("k", "t", "v")
    val out = GapFill.interpolateLinear(df, Seq("k"), "t", "v", "f",
        maxGap = Some(5.0))
      .orderBy("t").select("f").as[Option[Double]].collect()
    out shouldBe Array(Some(0.0), Some(10.0), Some(20.0), None, None, Some(100.0))
  }

  test("interpolateLinear respects uneven time spacing") {
    val df = Seq(("a", 0.0, Some(0.0)), ("a", 10.0, None: Option[Double]),
        ("a", 40.0, Some(40.0)))
      .toDF("k", "t", "v")
    val out = GapFill.interpolateLinear(df, Seq("k"), "t", "v", "f")
      .orderBy("t").select("f").as[Option[Double]].collect()
    out(1) shouldBe Some(10.0)
  }

  test("timeGrid emits one row per step and joins observations") {
    val df = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      ("a", java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), 4.0)
    ).toDF("k", "ts", "v")
    val out = GapFill.timeGrid(df, Seq("k"), "ts", stepSeconds = 60)
      .orderBy("ts").select("v").as[Option[Double]].collect()
    out shouldBe Array(Some(1.0), None, None, Some(4.0))
  }

  test("interpolateOntoStepGrid matches the union+window composition bit-for-bit") {
    import org.apache.spark.sql.functions._
    val step = 10L
    // randomized-but-seeded obs: ~60 series covering the edge zoo —
    // anchors exactly ON grid points (incl. first/last), two anchors
    // inside one step, NaN and null values, all-NaN series, single-row
    // series, series entirely inside one step
    val rnd = new scala.util.Random(41)
    val rows = (0 until 60).flatMap { u =>
      val n = u % 7 match { case 0 => 1; case 1 => 2; case x => 3 + rnd.nextInt(18) }
      // distinct t per series; mix exact multiples of step with offsets
      val ts = rnd.shuffle((0 until 40).toList).take(n)
        .map(i => i * 7 + (if (rnd.nextBoolean()) 0 else rnd.nextInt(5)))
        .distinct.sorted
      ts.map { t =>
        val v: java.lang.Double = u % 11 match {
          case 3 => Double.NaN                      // all-NaN series
          case 4 if t % 3 == 0 => null              // null holes
          case 5 if t % 2 == 0 => Double.NaN        // NaN holes
          case _ => t * 1.7 + u
        }
        (u.toLong, t.toDouble, v)
      }
    }
    val obs = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2, r._3)), 7),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType))))
    // the classic composition (exactly the pre-r20 q41 spelling)
    val grid = obs.groupBy(col("k"))
      .agg(min(col("t")).as("lo"), max(col("t")).as("hi"))
      .select(col("k"), explode(sequence(
        floor(col("lo") / step).cast("long"),
        floor(col("hi") / step).cast("long"))).as("gi"))
      .select(col("k"), (col("gi") * step).cast("double").as("t"),
        lit(null).cast("double").as("v"), lit(1).as("is_grid"))
    val classic = GapFill.interpolateLinear(
        obs.withColumn("is_grid", lit(0)).unionByName(grid),
        Seq("k"), "t", "v", "o", tieBreak = Seq("is_grid"))
      .filter(col("is_grid") === 1).select("k", "t", "o")
    val fused = GapFill.interpolateOntoStepGrid(
      obs, Seq("k"), "t", "v", step, "o").select("k", "t", "o")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) -1L
        else java.lang.Double.doubleToLongBits(r.getDouble(2))))
        .sortBy(x => (x._1, x._2)).toSeq
    canon(fused) shouldBe canon(classic)
    // sanity: the zoo produced real rows and real nulls
    fused.count() should be > 100L
    fused.filter(col("o").isNull).count() should be > 0L
    fused.filter(col("o").isNotNull).count() should be > 0L
  }
}
