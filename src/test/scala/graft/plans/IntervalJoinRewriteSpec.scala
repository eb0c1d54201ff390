package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The automatic range-join rewrite (SURVEY §4.1): a plain theta join
  * `facts.join(intervals, t >= lo && t <= hi)` over two sides that are
  * both above the broadcast threshold must plan as a bucketed EQUI-join
  * (shuffle-capable), not a BroadcastNestedLoopJoin — with bit-identical
  * results — while small-side, equi-keyed and hinted joins are left
  * alone.
  */
class IntervalJoinRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
    val prev = kvs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // The rule buckets at a fixed day, so the fixtures' time axis is
  // stretched to match: every offset below is a count of `Stretch`-second
  // units, and an hour-scale pattern becomes a day-scale one with the
  // same (point, interval) matches.
  private val Stretch = 24L
  private def at(offset: Long): Long = 1700000000L + Stretch * offset

  // ~66 days of facts every 24 minutes and 300 randomized intervals (up
  // to 8 days wide, some inverted, some null-bounded) — LocalRelations
  // big enough to exceed a lowered broadcast threshold
  private lazy val facts: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until 4000).map { i =>
      (i.toLong, at(i * 60L + rnd.nextInt(30)))
    }.toDF("fact_id", "secs")
      .select($"fact_id", timestamp_seconds($"secs").as("t"))
  }
  private lazy val intervals: DataFrame = {
    val rnd = new scala.util.Random(13)
    (0 until 300).map { i =>
      val lo = rnd.nextInt(3 * 86400).toLong
      val span = rnd.nextInt(8 * 3600)
      val (s, e) = i % 23 match {
        case 21 => (at(lo + span + 60), at(lo)) // inverted: must match nothing
        case 22 => (at(lo), -1L)                // null end: must match nothing
        case _ => (at(lo), at(lo + span))
      }
      (i.toLong, s, e)
    }.toDF("iv_id", "s_secs", "e_secs")
      .select($"iv_id", timestamp_seconds($"s_secs").as("lo"),
        timestamp_seconds(when($"e_secs" < 0, lit(null)).otherwise($"e_secs")).as("hi"))
  }

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Spark's own plan for the same join: any join hint makes the rule
    * decline, so this is the theta oracle.
    */
  private def theta(l: DataFrame, r: DataFrame, cond: Column,
                    jt: String = "inner"): DataFrame =
    l.join(r.hint("broadcast"), cond, jt)

  /** The interval-preserved dedup paths only collapse explode duplicates
    * when an interval covers 2+ buckets, so the fixtures must hold some.
    */
  private def assertMultiBucket(ivs: DataFrame): Unit = {
    val b = IntervalJoinRewrite.BucketSeconds
    val wide = ivs.filter(
      floor(unix_seconds($"hi") / b) > floor(unix_seconds($"lo") / b)).count()
    assert(wide > 0, "no interval covers 2 or more buckets")
  }

  test("large x large theta range join is rewritten to a bucketed equi-join") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      assertMultiBucket(intervals)
      val cond = $"t" >= $"lo" && $"t" <= $"hi"
      val joined = facts.join(intervals, cond)
      val plan = planOf(joined)
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"still a nested-loop join:\n$plan")
      assert(plan.contains("Generate explode"), s"no bucket explode in:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"no shuffle join in:\n$plan")

      // bit-identical to the un-rewritten join
      val expected = rows(theta(facts, intervals, cond))
      rows(joined) shouldBe expected
      expected should not be empty
    }
  }

  test("strict bounds and flipped operand order are also rewritten, identically") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      val cond = $"lo" < $"t" && $"hi" > $"t"
      val joined = facts.join(intervals, cond)
      assert(planOf(joined).contains("Generate explode"))
      rows(joined) shouldBe rows(theta(facts, intervals, cond))
    }
  }

  // duplicated rows on both sides: the interval-preserved rewrites dedup
  // on a synthetic rowid, and genuine input duplicates must keep their
  // multiplicity (a distinct-on-columns would silently collapse them)
  // full self-unions: Spark pushes semi/anti joins through Union, so a
  // small duplicated slice would (correctly) keep its BNLJ — every branch
  // must clear the lowered broadcast threshold for the blanket plan assert
  private lazy val dupFacts: DataFrame = facts.unionAll(facts)
  private lazy val dupIntervals: DataFrame = intervals.unionAll(intervals)

  test("outer/semi/anti range joins are rewritten and match the theta spelling") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      assertMultiBucket(dupIntervals)
      val cond = $"t" >= $"lo" && $"t" <= $"hi"
      // (left, right, joinType): both preserved-side orientations per type
      val cases = Seq(
        (dupFacts, dupIntervals, "left_outer"),
        (dupFacts, dupIntervals, "left_semi"),
        (dupFacts, dupIntervals, "left_anti"),
        (dupIntervals, dupFacts, "left_outer"),
        (dupIntervals, dupFacts, "left_semi"),
        (dupIntervals, dupFacts, "left_anti"),
        (dupFacts, dupIntervals, "right_outer"),
        (dupIntervals, dupFacts, "right_outer"),
        (dupFacts, dupIntervals, "full_outer"),
        (dupIntervals, dupFacts, "full_outer"))
      for ((l, r, jt) <- cases) {
        val joined = l.join(r, cond, jt)
        val plan = planOf(joined)
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$jt still a nested-loop join:\n$plan")
        assert(plan.contains("Generate explode"), s"$jt: no bucket explode in:\n$plan")
        val expected = rows(theta(l, r, cond, jt))
        val got = rows(joined)
        withClue(s"$jt results diverge from the theta spelling: ") {
          got shouldBe expected
        }
        expected should not be empty
      }
    }
  }

  test("randomized differential: every join type matches theta across seeds") {
    // threshold -1 marks every side "big", so tiny random frames exercise
    // the rewrite across seeds cheaply; each dataset mixes null bounds,
    // inverted bounds, null points, and duplicate rows
    // offsets are 10-minute units stretched ×144 onto day buckets: points
    // over ~60 days, intervals up to ~5 days wide
    def day(offset: Long): Long = 1700000000L + 144L * offset
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val types = Seq("inner", "left_outer", "right_outer", "full_outer",
        "left_semi", "left_anti")
      for (seed <- Seq(101, 202, 303)) {
        val rnd = new scala.util.Random(seed)
        val fs = (0 until 40).map { i =>
          val s = if (rnd.nextInt(10) == 0) -1L
            else day(rnd.nextInt(36000))
          (i.toLong % 35 /* dups */, s)
        }.toDF("fact_id", "secs")
          .select($"fact_id",
            timestamp_seconds(when($"secs" < 0, lit(null)).otherwise($"secs")).as("t"))
        val ivs = (0 until 15).map { i =>
          val lo = rnd.nextInt(36000).toLong
          val span = rnd.nextInt(3000)
          rnd.nextInt(8) match {
            case 0 => (i.toLong % 12, day(lo + span + 1), day(lo)) // inverted
            case 1 => (i.toLong % 12, day(lo), -1L)                // null hi
            case 2 => (i.toLong % 12, -1L, day(lo))                // null lo
            case _ => (i.toLong % 12, day(lo), day(lo + span))
          }
        }.toDF("iv_id", "s_secs", "e_secs")
          .select($"iv_id",
            timestamp_seconds(when($"s_secs" < 0, lit(null)).otherwise($"s_secs")).as("lo"),
            timestamp_seconds(when($"e_secs" < 0, lit(null)).otherwise($"e_secs")).as("hi"))
        withClue(s"seed=$seed: ") { assertMultiBucket(ivs) }
        val cond = $"t" >= $"lo" && $"t" <= $"hi"
        for (jt <- types; flip <- Seq(false, true)) {
          val (l, r) = if (flip) (ivs, fs) else (fs, ivs)
          val got = rows(l.join(r, cond, jt))
          val expected = rows(theta(l, r, cond, jt))
          withClue(s"seed=$seed jt=$jt flip=$flip: ") { got shouldBe expected }
        }
      }
    }
  }

  test("map columns on the preserved interval side ride the rewrite (first-reconstructed)") {
    // the interval-preserved semi/anti/outer rewrites re-collapse on the
    // rowid(s) ALONE and rebuild outputs via first(), so map-typed
    // columns — not groupable, but legal first() results — no longer
    // force the BNLJ fallback
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val ivsWithMap = intervals.withColumn("m", map(lit("k"), $"iv_id"))
      for (jt <- Seq("left_semi", "left_anti", "left_outer", "full_outer")) {
        val joined = ivsWithMap.join(facts, $"t" >= $"lo" && $"t" <= $"hi", jt)
        assert(planOf(joined).contains("Generate explode"),
          s"$jt with a map column must still be rewritten")
        val expected = rows(
          theta(ivsWithMap, facts, $"t" >= $"lo" && $"t" <= $"hi", jt).drop("m"))
        // compare sans the (unorderable-as-string-unstable) map itself on
        // the full row; the map column round-trips value-checked below
        rows(joined.drop("m")) shouldBe expected
        // full_outer's unmatched-fact rows null-extend the map — every
        // non-null map must round-trip intact
        val maps = joined.select("m").collect().filter(!_.isNullAt(0))
        maps should not be empty
        maps.foreach(_.getMap[String, Long](0).keySet shouldBe Set("k"))
      }
    }
  }

  test("the dedup aggregates group on the rowid(s) alone, not the output schema") {
    // narrow keys: the re-collapse aggregate hashes 1–2 longs per row
    // (outputs are first()-reconstructed), never the full wide schema
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for ((jt, nKeys) <- Seq("left_semi" -> 1, "left_anti" -> 1,
        "left_outer" -> 2, "full_outer" -> 2)) {
        val joined = intervals.join(facts, $"t" >= $"lo" && $"t" <= $"hi", jt)
        val aggs = joined.queryExecution.optimizedPlan.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }
        withClue(s"$jt: expected exactly one dedup aggregate") {
          aggs.length shouldBe 1
        }
        withClue(s"$jt grouping ${aggs.head.groupingExpressions}: ") {
          aggs.head.groupingExpressions.length shouldBe nKeys
        }
        aggs.head.groupingExpressions.foreach(
          _.references.map(_.name).foreach(_ should startWith("__graft_rowid")))
      }
    }
  }

  test("a row producing exactly cap buckets passes; cap+1 fails") {
    // threshold -1 marks a one-row interval side "big", so the cap-wide
    // explode stays one row's worth of buckets
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val b = IntervalJoinRewrite.BucketSeconds
      val cap = IntervalJoinRewrite.MaxBucketsPerRow
      def iv(spanBuckets: Long): DataFrame = {
        val lo = (1700000000L / b) * b // bucket-aligned
        Seq((0L, lo, lo + spanBuckets * b - 1))
          .toDF("iv_id", "s_secs", "e_secs")
          .select($"iv_id", timestamp_seconds($"s_secs").as("lo"),
            timestamp_seconds($"e_secs").as("hi"))
      }
      val ok = facts.join(iv(cap), $"t" >= $"lo" && $"t" <= $"hi")
      assert(planOf(ok).contains("Generate explode"))
      ok.count() shouldBe 4000 // cap buckets = the documented cap: must not raise
      val over = facts.join(iv(cap + 1), $"t" >= $"lo" && $"t" <= $"hi")
      intercept[Exception] { over.collect() }
    }
  }

  test("a small interval side keeps the broadcast nested-loop plan") {
    // default 10 MB threshold: both LocalRelations are comfortably small
    val joined = facts.join(intervals, $"t" >= $"lo" && $"t" <= $"hi")
    val plan = planOf(joined)
    assert(plan.contains("BroadcastNestedLoopJoin"), s"expected BNLJ:\n$plan")
    assert(!plan.contains("Generate explode"))
  }

  test("an equi-keyed join with range residuals is left to Spark's planner") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      val f = facts.withColumn("k", $"fact_id" % 7)
      val iv = intervals.withColumn("k", $"iv_id" % 7)
      val joined = f.join(iv,
        f("k") === iv("k") && $"t" >= $"lo" && $"t" <= $"hi")
      val plan = planOf(joined)
      assert(!plan.contains("Generate explode"),
        s"equi-keyed join must not grow a bucket explode:\n$plan")
    }
  }

  test("a user column named __bucket does not strand the default rewrite") {
    // eligibility reads the join condition, never column names: a side
    // that merely carries a like-named column still gets its BNLJ rescue
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      val f = facts.withColumn("__bucket", $"fact_id" % 11)
      val cond = $"t" >= $"lo" && $"t" <= $"hi"
      val joined = f.join(intervals, cond)
      val plan = planOf(joined)
      assert(plan.contains("Generate explode"), s"rescue stranded:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"))
      rows(joined) shouldBe rows(theta(f, intervals, cond))
    }
  }

  test("does not re-bucket bucketizedIntervalJoin's own output") {
    // the explicit operator's post-join range filter can be pushed into
    // its bucket equi-join in the same optimizer batch; the bucket
    // equality it carries must stop a second (squared-explode) layer
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      val manual = graft.operators.TemporalJoins.bucketizedIntervalJoin(
        facts, "t", intervals, "lo", "hi",
        bucketSeconds = IntervalJoinRewrite.BucketSeconds)
      val plan = planOf(manual)
      withClue(s"expected exactly one explode in:\n$plan") {
        "Generate explode".r.findAllIn(plan).size shouldBe 1
      }
    }
  }

  test("a join hint keeps Spark's plan for a large x large theta join") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      val cond = $"t" >= $"lo" && $"t" <= $"hi"
      val rewritten = facts.join(intervals, cond)
      assert(planOf(rewritten).contains("Generate explode"))
      val hinted = facts.join(intervals.hint("broadcast"), cond)
      val plan = planOf(hinted)
      assert(!plan.contains("Generate explode"), s"hinted join rewritten:\n$plan")
      assert(plan.contains("BroadcastNestedLoopJoin"), s"hint not honoured:\n$plan")
      val expected = rows(rewritten)
      rows(hinted) shouldBe expected
      expected should not be empty
    }
  }

  test("a sentinel-bounded interval fails fast naming the knobs, not OOM") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      // one open-ended interval: hi = 9999-12-31 → ~2.9M day buckets
      val withSentinel = intervals.unionByName(
        Seq((999L, 1700000000L, 253402214400L))
          .toDF("iv_id", "s_secs", "e_secs")
          .select($"iv_id", timestamp_seconds($"s_secs").as("lo"),
            timestamp_seconds($"e_secs").as("hi")))
      val joined = facts.join(withSentinel, $"t" >= $"lo" && $"t" <= $"hi")
      assert(planOf(joined).contains("Generate explode"))
      val e = intercept[Exception] { joined.collect() }
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString("\n")
      // the message names both escape routes
      withClue(s"unhelpful error: $msg") {
        msg should include("join hint")
        msg should include("bucketizedIntervalJoin")
      }
    }
  }

  test("bucketizedIntervalJoin agrees with the automatic rewrite on the same inputs") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      val auto = facts.join(intervals, $"t" >= $"lo" && $"t" <= $"hi")
        .select($"fact_id", $"iv_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val manual = graft.operators.TemporalJoins.bucketizedIntervalJoin(
          facts, "t", intervals, "lo", "hi", bucketSeconds = 3600L)
        .select($"fact_id", $"iv_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      auto shouldBe manual
    }
  }
}
