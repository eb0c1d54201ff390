package graft.plans

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TemporalJoins

class AsOfJoinNativeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("native as-of join matches the composed union-sentinel version on random data") {
    val rng = new scala.util.Random(23)
    val left = (0 until 2000).map { i =>
      (s"u${rng.nextInt(20)}",
        new Timestamp(1700000000000L + rng.nextInt(1000000) * 1000L), i)
    }.toDF("k", "lt", "lid")
    val right = (0 until 1000).map { i =>
      (s"u${rng.nextInt(25)}",
        new Timestamp(1700000000000L + rng.nextInt(1000000) * 1000L),
        rng.nextDouble(), i)
    }.toDF("k", "rt", "v", "rid")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "lid", "asof_v").as[(String, Int, Option[Double])]
        .collect().sortBy(r => (r._1, r._2))

    // dedupe right rows at identical (k, rt): both implementations break the
    // tie differently only when two right rows share an exact timestamp
    val rightDedup = right.groupBy("k", "rt")
      .agg(max(struct(col("rid"), col("v"))).as("s"))
      .select(col("k"), col("rt"), col("s.v").as("v"), col("s.rid").as("rid"))

    val native = AsOfJoinNative.asOfJoin(left, "lt", rightDedup, "rt",
      keys = Seq("k"), rightValueCols = Seq("v"))
    val composed = TemporalJoins.asOfJoinBackwardComposed(left, "lt", rightDedup, "rt",
      keys = Seq("k"), rightValueCols = Seq("v"))
    canon(native) shouldBe canon(composed)
  }

  test("tolerance and exact-time matches behave like the composed version") {
    val left = Seq(("a", ts("2024-01-01 00:00:10.500"), 1),
        ("a", ts("2024-01-01 00:01:00"), 2)).toDF("k", "lt", "lid")
    val right = Seq(("a", ts("2024-01-01 00:00:10.000"), 7.0, 1)).toDF("k", "rt", "v", "rid")
    def run(tol: Option[Long]) =
      AsOfJoinNative.asOfJoin(left, "lt", right, "rt", Seq("k"), Seq("v"), tol)
        .orderBy("lid").select("asof_v").as[Option[Double]].collect().toSeq
    run(None) shouldBe Seq(Some(7.0), Some(7.0))
    run(Some(0L)) shouldBe Seq(None, None)      // 0.5 s and 50 s gaps > 0 s
    run(Some(1L)) shouldBe Seq(Some(7.0), None) // sub-second exactness
  }

  test("self-join (shared lineage) resolves without expression-id conflicts") {
    val ev = Seq(("a", ts("2024-01-01 00:00:01"), 1.0),
        ("a", ts("2024-01-01 00:00:05"), 2.0)).toDF("k", "t", "v")
    val out = AsOfJoinNative.asOfJoin(
        ev.withColumnRenamed("t", "lt"), "lt",
        ev.withColumnRenamed("t", "rt"), "rt", Seq("k"), Seq("v"))
      .orderBy("lt").select("asof_v").as[Double].collect()
    out shouldBe Array(1.0, 2.0)
  }

  private def randomSides(seedL: Int, seedR: Int) = {
    val rngL = new scala.util.Random(seedL)
    val left = (0 until 2000).map { i =>
      (s"u${rngL.nextInt(20)}",
        new Timestamp(1700000000000L + rngL.nextInt(1000000) * 1000L), i)
    }.toDF("k", "lt", "lid")
    val rngR = new scala.util.Random(seedR)
    val right = (0 until 1000).map { i =>
      (s"u${rngR.nextInt(25)}",
        new Timestamp(1700000000000L + rngR.nextInt(1000000) * 1000L),
        rngR.nextDouble(), i)
    }.toDF("k", "rt", "v", "rid")
    // dedupe exact (k, rt) collisions (see the backward test above)
    val rightDedup = right.groupBy("k", "rt")
      .agg(max(struct(col("rid"), col("v"))).as("s"))
      .select(col("k"), col("rt"), col("s.v").as("v"), col("s.rid").as("rid"))
    (left, rightDedup)
  }

  test("native FORWARD mode matches the composed version on random data, with tolerance") {
    val (left, right) = randomSides(31, 37)
    for (tol <- Seq(None, Some(120L))) {
      val native = AsOfJoinNative.asOfJoin(left, "lt", right, "rt",
        Seq("k"), Seq("v"), tol, AsOfJoinNative.Forward)
      val composed = TemporalJoins.asOfJoinForwardComposed(left, "lt", right, "rt",
        Seq("k"), Seq("v"), tol)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "lid", "asof_v").as[(String, Int, Option[Double])]
          .collect().sortBy(r => (r._1, r._2)).toSeq
      canon(native) shouldBe canon(composed)
    }
  }

  test("native NEAREST mode matches the composed version on random data, with tolerance") {
    val (left, right) = randomSides(41, 43)
    for (tol <- Seq(None, Some(300L))) {
      val native = AsOfJoinNative.asOfJoin(left, "lt", right, "rt",
        Seq("k"), Seq("v"), tol, AsOfJoinNative.Nearest)
      val composed = TemporalJoins.asOfJoinNearestComposed(left, "lt", right, "rt",
        Seq("k"), Seq("v"), tol)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "lid", "asof_v", "asof_direction")
          .as[(String, Int, Option[Double], Option[String])]
          .collect().sortBy(r => (r._1, r._2)).toSeq
      canon(native) shouldBe canon(composed)
    }
  }

  test("duplicate right timestamps: max-values tie-break matches composed, all modes") {
    val left = Seq(("a", ts("2024-01-01 00:00:10"), 1),
        ("a", ts("2024-01-01 00:00:04"), 2)).toDF("k", "lt", "lid")
    val right = Seq(
      ("a", ts("2024-01-01 00:00:05"), 1.0, 1),
      ("a", ts("2024-01-01 00:00:05"), 3.0, 2), // same rt: max v must win
      ("a", ts("2024-01-01 00:00:05"), 2.0, 3)).toDF("k", "rt", "v", "rid")
    val nb = AsOfJoinNative.asOfJoin(left, "lt", right, "rt", Seq("k"), Seq("v"),
        None, AsOfJoinNative.Backward)
      .orderBy("lid").select("asof_v").as[Option[Double]].collect().toSeq
    val nf = AsOfJoinNative.asOfJoin(left, "lt", right, "rt", Seq("k"), Seq("v"),
        None, AsOfJoinNative.Forward)
      .orderBy("lid").select("asof_v").as[Option[Double]].collect().toSeq
    val cb = TemporalJoins.asOfJoinBackwardComposed(left, "lt", right, "rt",
        Seq("k"), Seq("v")).orderBy("lid").select("asof_v")
      .as[Option[Double]].collect().toSeq
    val cf = TemporalJoins.asOfJoinForwardComposed(left, "lt", right, "rt",
        Seq("k"), Seq("v")).orderBy("lid").select("asof_v")
      .as[Option[Double]].collect().toSeq
    nb shouldBe cb
    nf shouldBe cf
    nb shouldBe Seq(Some(3.0), None)
    nf shouldBe Seq(None, Some(3.0))
  }

  test("null left times match nothing in every native mode") {
    // pandas/polars as-of semantics; the composed forward/nearest window
    // spelling instead leaks a value through the desc-ordered carry — the
    // native path (the default route) fixes that artifact
    val left = Seq(("a", Option(ts("2024-01-01 00:00:10")), 1),
        ("a", Option.empty[Timestamp], 2)).toDF("k", "lt", "lid")
    val right = Seq(("a", ts("2024-01-01 00:00:05"), 7.0)).toDF("k", "rt", "v")
    for (mode <- Seq[AsOfJoinNative.AsOfMode](AsOfJoinNative.Backward,
        AsOfJoinNative.Forward, AsOfJoinNative.Nearest)) {
      val out = AsOfJoinNative.asOfJoin(left, "lt", right, "rt",
          Seq("k"), Seq("v"), None, mode)
        .orderBy("lid").select("asof_v").as[Option[Double]].collect()
      out(1) shouldBe None
    }
  }

  test("TemporalJoins as-of functions route through the native exec by default") {
    val left = Seq(("a", ts("2024-01-01 00:00:01"), 1)).toDF("k", "lt", "lid")
    val right = Seq(("a", ts("2024-01-01 00:00:00"), 5.0)).toDF("k", "rt", "v")
    val routed = Seq(
      TemporalJoins.asOfJoinBackward(left, "lt", right, "rt", Seq("k"), Seq("v")),
      TemporalJoins.asOfJoinForward(left, "lt", right, "rt", Seq("k"), Seq("v")),
      TemporalJoins.asOfJoinNearest(left, "lt", right, "rt", Seq("k"), Seq("v")))
    routed.foreach { df =>
      df.queryExecution.executedPlan.toString should include("AsOfJoin")
    }
    // column contract identical to the composed spelling
    routed(0).columns.toSeq shouldBe Seq("k", "lt", "lid", "asof_v")
    routed(2).columns.toSeq shouldBe Seq("k", "lt", "lid", "asof_v", "asof_direction")
    // the time-column types alone pick the route: any other type takes
    // the composed spelling
    val composed = TemporalJoins.asOfJoinBackward(
      left.withColumn("lt", col("lt").cast("long")), "lt",
      right.withColumn("rt", col("rt").cast("long")), "rt", Seq("k"), Seq("v"))
    composed.queryExecution.executedPlan.toString should not include "AsOfJoin"
    composed.select("asof_v").as[Option[Double]].collect() shouldBe Array(Some(5.0))
  }

  test("plan contains the custom exec and a single shuffle per side") {
    val left = Seq(("a", ts("2024-01-01 00:00:01"), 1)).toDF("k", "lt", "lid")
    val right = Seq(("a", ts("2024-01-01 00:00:00"), 5.0)).toDF("k", "rt", "v")
    val df = AsOfJoinNative.asOfJoin(left, "lt", right, "rt", Seq("k"), Seq("v"))
    val plan = df.queryExecution.executedPlan.toString
    plan should include("AsOfJoin")
    // one ENSURE_REQUIREMENTS exchange per side, nothing else
    plan.sliding("Exchange".length).count(_ == "Exchange") shouldBe 2
    df.collect().length shouldBe 1
  }
}
