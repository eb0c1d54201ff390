package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class OrderedPositionSpec extends SparkSpec {
  import spark.implicits._

  test("positions match a window-computed row_number per series") {
    // a null key forms a series of its own (the `<=>` offset join); at a
    // third of the rows it spans several range partitions, so its offsets
    // must carry across partition boundaries like any other series'
    val df = (0 until 5000).map { i =>
      (i % 3 match { case 0 => None; case 1 => Some("a"); case _ => Some("b") },
        (i * 7919) % 5000, i)
    }.toDF("k", "ord", "tie").repartition(13)
    val nullParts = df
      .repartitionByRange(OrderedPosition.shufflePartitions(df),
        col("k"), col("ord"), col("tie"))
      .filter(col("k").isNull).select(spark_partition_id()).distinct().count()
    nullParts should be > 1L
    val (positioned, total) =
      OrderedPosition.withPositionCounted(df, Seq("k"), Seq("ord", "tie"), "pos")
    total shouldBe 5000L
    positioned.columns.toSeq shouldBe Seq("k", "ord", "tie", "pos")
    val got = positioned.as[(Option[String], Int, Int, Long)].collect()
      .sortBy(r => (r._1, r._4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("ord"), col("tie"))
    val expected = df.withColumn("pos", row_number().over(w) - 1L)
      .as[(Option[String], Int, Int, Long)].collect()
      .sortBy(r => (r._1, r._4))
    got.count(_._1.isEmpty) shouldBe 1667
    got shouldBe expected
  }

  test("positions stay an exact order-consistent permutation at 600k rows (regression: optimizer-dropped sort)") {
    // the failure mode this guards: Catalyst removing the in-partition sort
    // (invisible dependency of the position assignment) only showed up
    // beyond toy sizes, when shuffle-fetch order stopped being in-order
    val df = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.1")
      .withColumn("__ord", col("l_orderkey") * 10 + col("l_linenumber"))
    val got = OrderedPosition.withPosition(df, Nil, Seq("__ord"), "pos")
      .select(col("__ord").cast("long"), col("pos"))
      .as[(Long, Long)].collect()
    got.length shouldBe 600000
    // exact permutation of 0..n-1
    got.map(_._2).sorted.toSeq shouldBe (0L until 600000L)
    // order-consistent: sorting by position must yield nondecreasing keys
    val keysByPos = got.sortBy(_._2).map(_._1)
    keysByPos.toSeq shouldBe keysByPos.toSeq.sorted
    // and identical across a second evaluation (job-to-job determinism
    // of counts; tied keys may permute positions but stay order-consistent)
    val again = OrderedPosition.withPosition(df, Nil, Seq("__ord"), "pos")
      .select(col("pos")).as[Long].collect()
    again.sorted.toSeq shouldBe (0L until 600000L)
  }

  test("global positions (no keys) are a permutation of 0..n-1 in order") {
    val df = (0 until 1000).map(i => ((i * 31) % 1000, i)).toDF("ord", "tie")
      .repartition(7)
    val got = OrderedPosition.withPosition(df, Nil, Seq("ord"), "pos")
      .select("ord", "pos").as[(Int, Long)].collect().sortBy(_._2)
    got.map(_._2).toSeq shouldBe (0L until 1000L)
    got.map(_._1).toSeq shouldBe got.map(_._1).toSeq.sorted
  }

  test("withRunningSum matches the window cumsum across many partitions") {
    val data = (0 until 5000).map(i => ((i * 37) % 5000, (i % 13).toLong))
    val df = data.toDF("ord", "v").repartition(11)
    val got = OrderedPosition.withRunningSum(df, Nil, Seq("ord"), "v", "pfx")
      .select("ord", "pfx").as[(Int, Long)].collect().sortBy(_._1)
    val expected = data.sortBy(_._1).map(_._2).scanLeft(0L)(_ + _).init
    got.map(_._2).toSeq shouldBe expected
  }

  test("withRunningSum executed plan: no window, single shared shuffle, broadcast offset join") {
    // The engine's flagship 100 TB pattern (q57/q82): a prefix sum with NO
    // Window.orderBy (which serializes the corpus onto one task). The
    // returned plan must show (a) zero WindowExec nodes, (b) zero shuffle
    // exchanges — the ONE range shuffle lives inside the shared RDD
    // lineage, before the per-partition scan — and (c) the offset table
    // joined back by broadcast, never a shuffled join. Positions run the
    // same body, so they must show the same plan.
    val df = (0 until 20000).map(i => ((i % 7).toString, (i * 37) % 20000, (i % 13).toLong))
      .toDF("k", "ord", "v").repartition(11)
    val outs = Seq(
      OrderedPosition.withRunningSum(df, Seq("k"), Seq("ord"), "v", "pfx"),
      OrderedPosition.withPosition(df, Seq("k"), Seq("ord"), "pfx"))
    outs.foreach { out =>
      out.columns.toSeq shouldBe Seq("k", "ord", "v", "pfx")
      out.count() // materialize so AQE's final plan is the asserted one
      val plan = out.queryExecution.executedPlan.toString
      plan should not include "WindowExec"
      plan should not include "ShuffleExchange"
      plan should include("BroadcastHashJoin")
    }
  }

  test("withRunningSum resets per series, across partition boundaries") {
    // 3 series x 600 rows: each partition slice of a series must continue
    // its own series' prefix, not the partition's
    val df = (0 until 1800).map(i => (s"s${i % 3}", i / 3, 2L))
      .toDF("series", "ord", "v").repartition(13)
    val got = OrderedPosition.withRunningSum(df, Seq("series"), Seq("ord"), "v", "pfx")
      .select("series", "ord", "pfx").as[(String, Int, Long)].collect()
    got.length shouldBe 1800
    got.foreach { case (_, ord, pfx) => pfx shouldBe ord * 2L }
  }

  test("withRunningSum stays exact at 600k rows (regression: optimizer-dropped sort)") {
    // the same multi-mapper shuffle-fetch-order trap the position pass
    // guards against: only visible beyond toy sizes
    val df = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.1")
      .withColumn("__ord", col("l_orderkey") * 10 + col("l_linenumber"))
      .withColumn("__w", col("l_linenumber").cast("long"))
    val got = OrderedPosition.withRunningSum(df, Nil, Seq("__ord"), "__w", "pfx")
      .select(col("__ord").cast("long"), col("__w"), col("pfx"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    got.length shouldBe 600000
    var acc = 0L
    got.foreach { case (_, w, pfx) =>
      pfx shouldBe acc
      acc += w
    }
  }

  test("withRunningSum handles negative values and null values (as 0)") {
    val df = Seq((1, Some(5L)), (2, Some(-3L)), (3, None), (4, Some(2L)))
      .toDF("ord", "v").repartition(3)
    val got = OrderedPosition.withRunningSum(df, Nil, Seq("ord"), "v", "pfx")
      .select("ord", "pfx").as[(Int, Long)].collect().sortBy(_._1)
    got.map(_._2).toSeq shouldBe Seq(0L, 5L, 2L, 2L)
  }

  test("shardByTokens balances token mass, not row count") {
    val docs = (0 until 100).map(i => (i.toLong, if (i < 10) 1000 else 10))
      .toDF("doc_id", "n_tokens")
    val shards = TrainingData.shardByTokens(docs, Seq("doc_id"), "n_tokens", 1000L)
      .groupBy("shard_id").sum("n_tokens")
      .as[(Long, Long)].collect().sortBy(_._1)
    // ten 1000-token docs -> one shard each; the 90 short docs fill the rest
    shards.take(10).foreach(_._2 shouldBe 1000L)
    shards.map(_._2).sum shouldBe (10 * 1000L + 90 * 10L)
  }
}
