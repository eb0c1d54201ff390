package graft

import org.apache.spark.sql.functions._

import graft.Pipeline.GrossRange
import graft.sources.ConfigRegistry.{SiteConfig, VariableResolver}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val resolver = new VariableResolver(Map(
    "time" -> Seq("ts"),
    "temperature" -> Seq("sea_water_temperature", "temp"),
    "pressure" -> Seq("press"),
    "temp|qc" -> Seq("temp")))

  private def mkSite(algo: String) = SiteConfig(
    refDes = "T-SITE", stage = 1, instrument = "CTD-FIXED", storeFile = "t",
    nearestNeighbors = Nil, dataParameters = Seq("time", "temperature", "pressure", "ghost"),
    depths = Nil, depthMinMax = None, decimationAlgo = algo)

  private val df = (0 until 1000).map { i =>
    (java.sql.Timestamp.valueOf(f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"),
      10.0 + (i % 50), 100.0 + i)
  }.toDF("ts", "temp", "press")

  test("lttb path: melt resolves physical names, skips unresolvable, decimates per series") {
    val pd = Pipeline.plotData(df, mkSite("lttb"), resolver, "time",
      (lit("2024-01-01 00:00:00").cast("timestamp"),
        lit("2024-01-01 23:59:59").cast("timestamp")),
      Map("temperature" -> GrossRange(9.0, 61.0, 15.0, 55.0)), threshold = 50)
    val byParam = pd.data.groupBy("parameter").count().as[(String, Long)].collect().toMap
    byParam.keySet shouldBe Set("temperature", "pressure") // "ghost" skipped
    byParam.values.foreach(_ shouldBe 50L)
    // one artifact per resolved parameter, in configuration order
    pd.artifacts shouldBe Seq("T-SITE__temperature", "T-SITE__pressure")
    pd.manifest.as[String].collect().toSeq shouldBe pd.artifacts
    // flags only on the configured parameter; pressure all pass
    pd.data.filter(col("parameter") === "pressure")
      .select("flag").distinct().as[Int].collect() shouldBe Array(1)
  }

  test("lttb path keeps a parameter name containing '|' whole") {
    val site = mkSite("lttb").copy(dataParameters = Seq("time", "temp|qc", "pressure"))
    val pd = Pipeline.plotData(df, site, resolver, "time",
      (lit("2024-01-01 00:00:00").cast("timestamp"),
        lit("2024-01-01 23:59:59").cast("timestamp")),
      Map.empty, threshold = 50)
    val byKey = pd.data.groupBy("ref_des", "parameter").count()
      .as[(String, String, Long)].collect().sortBy(_._2)
    byKey shouldBe Array(("T-SITE", "pressure", 50L), ("T-SITE", "temp|qc", 50L))
    pd.artifacts shouldBe Seq("T-SITE__temp|qc", "T-SITE__pressure")
  }

  test("no resolvable parameter yields an EMPTY PlotData with the full schema") {
    val site = mkSite("lttb").copy(dataParameters = Seq("time", "ghost"))
    val pd = Pipeline.plotData(df, site, resolver, "time",
      (lit("2024-01-01 00:00:00").cast("timestamp"),
        lit("2024-01-01 23:59:59").cast("timestamp")),
      Map.empty, threshold = 50)
    pd.data.count() shouldBe 0
    pd.data.columns.toSeq shouldBe Seq("ref_des", "parameter", "t", "value", "flag")
    pd.artifacts shouldBe empty
    pd.manifest.count() shouldBe 0
    pd.manifest.columns.toSeq shouldBe Seq("artifact")
  }

  test("lttb path tolerates null measurements (dropped like coarsen's avg)") {
    val withNulls = df.withColumn("temp",
      when(col("press") % 7 === 0, lit(null)).otherwise(col("temp")))
    val pd = Pipeline.plotData(withNulls, mkSite("lttb"), resolver, "time",
      (lit("2024-01-01 00:00:00").cast("timestamp"),
        lit("2024-01-01 23:59:59").cast("timestamp")),
      Map.empty, threshold = 50)
    // must not crash on the non-nullable deserializer; both series decimate
    val byParam = pd.data.groupBy("parameter").count().as[(String, Long)].collect().toMap
    byParam("temperature") shouldBe 50L
    byParam("pressure") shouldBe 50L
  }

  test("coarsen path: bucket means with flags applied after decimation") {
    val pd = Pipeline.plotData(df, mkSite("coarsen"), resolver, "time",
      (lit("2024-01-01 00:00:00").cast("timestamp"),
        lit("2024-01-01 23:59:59").cast("timestamp")),
      Map("temperature" -> GrossRange(0.0, 100.0, 30.0, 40.0)), threshold = 10)
    val rows = pd.data.filter(col("parameter") === "temperature")
      .select("value", "flag").as[(Double, Int)].collect()
    rows.length shouldBe 10 // 1000 rows / window 100
    // temp means are ~34.5 -> suspect under the (30, 40) suspect span
    rows.foreach { case (v, f) =>
      f shouldBe (if (v <= 30.0 || v >= 40.0) 3 else 1)
    }
  }

  test("writePlotData lays out partitioned parquet plus the JSON index") {
    val pd = Pipeline.plotData(df, mkSite("coarsen"), resolver, "time",
      (lit("2024-01-01 00:00:00").cast("timestamp"),
        lit("2024-01-01 23:59:59").cast("timestamp")),
      Map.empty, threshold = 10)
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    Pipeline.writePlotData(pd, out)
    val dirs = new java.io.File(s"$out/data/ref_des=T-SITE").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    dirs shouldBe Array("parameter=pressure", "parameter=temperature")
    val index = spark.read.json(s"$out/index").select("artifact")
      .as[String].collect().sorted
    index shouldBe Array("T-SITE__pressure", "T-SITE__temperature")
    val back = spark.read.parquet(s"$out/data")
    back.count() shouldBe pd.data.count()
    // partition pruning reads only one directory
    back.filter(col("parameter") === "pressure").count() shouldBe
      pd.data.filter(col("parameter") === "pressure").count()
  }

  test("writePlotData writes one parquet file per artifact however the input is partitioned") {
    // threshold above every series length: the identity decimation, whose
    // output keeps the input's partitioning
    val pd = Pipeline.plotData(df.repartition(12), mkSite("lttb"), resolver, "time",
      (lit("2024-01-01 00:00:00").cast("timestamp"),
        lit("2024-01-01 23:59:59").cast("timestamp")),
      Map.empty, threshold = 5000)
    pd.data.rdd.getNumPartitions should be > 1
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    Pipeline.writePlotData(pd, out)
    val dirs = new java.io.File(s"$out/data/ref_des=T-SITE").listFiles()
      .filter(_.isDirectory).sortBy(_.getName)
    dirs.map(_.getName) shouldBe Array("parameter=pressure", "parameter=temperature")
    dirs.foreach { d =>
      withClue(s"${d.getName}: ") {
        d.listFiles().count(_.getName.endsWith(".parquet")) shouldBe 1
      }
    }
    spark.read.parquet(s"$out/data").count() shouldBe 2000L
  }

  test("a resolved parameter with no rows in the window is indexed but writes no data") {
    // pressure has no plottable value anywhere; temperature has rows
    val noPressure = df.withColumn("press", lit(null).cast("double"))
    val pd = Pipeline.plotData(noPressure, mkSite("lttb"), resolver, "time",
      (lit("2024-01-01 00:00:00").cast("timestamp"),
        lit("2024-01-01 23:59:59").cast("timestamp")),
      Map.empty, threshold = 50)
    pd.data.filter(col("parameter") === "pressure").count() shouldBe 0
    pd.artifacts shouldBe Seq("T-SITE__temperature", "T-SITE__pressure")
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    Pipeline.writePlotData(pd, out)
    spark.read.json(s"$out/index").select("artifact").as[String].collect().sorted shouldBe
      Array("T-SITE__pressure", "T-SITE__temperature")
    new java.io.File(s"$out/data/ref_des=T-SITE").listFiles().filter(_.isDirectory)
      .map(_.getName) shouldBe Array("parameter=temperature")
    // an empty window: every resolved parameter is listed, no data is
    val empty = Pipeline.plotData(df, mkSite("lttb"), resolver, "time",
      (lit("2023-01-01 00:00:00").cast("timestamp"),
        lit("2023-01-02 00:00:00").cast("timestamp")),
      Map.empty, threshold = 50)
    empty.data.count() shouldBe 0
    empty.manifest.as[String].collect().toSeq shouldBe
      Seq("T-SITE__temperature", "T-SITE__pressure")
    Pipeline.writePlotData(empty, out)
    new java.io.File(s"$out/data/ref_des=T-SITE").exists() shouldBe false
    spark.read.json(s"$out/index").select("artifact").as[String].collect().sorted shouldBe
      Array("T-SITE__pressure", "T-SITE__temperature")
  }

  test("artifact names with quotes, backslashes and '|' round-trip through the index") {
    val odd = "t\"e\\m|p"
    val oddResolver = new VariableResolver(Map("time" -> Seq("ts"), odd -> Seq("temp"),
      "pressure" -> Seq("press")))
    val site = mkSite("coarsen").copy(refDes = "R\"D\\1", dataParameters = Seq("time", odd, "pressure"))
    val pd = Pipeline.plotData(df, site, oddResolver, "time",
      (lit("2024-01-01 00:00:00").cast("timestamp"),
        lit("2024-01-01 23:59:59").cast("timestamp")),
      Map.empty, threshold = 10)
    pd.artifacts shouldBe Seq(s"R\"D\\1__$odd", "R\"D\\1__pressure")
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    Pipeline.writePlotData(pd, out)
    spark.read.json(s"$out/index").select("artifact").as[String].collect().sorted shouldBe
      pd.artifacts.sorted.toArray
  }

  test("writePlotData starts only the data write's jobs, and replaces the index") {
    val pd = Pipeline.plotData(df, mkSite("lttb"), resolver, "time",
      (lit("2024-01-01 00:00:00").cast("timestamp"),
        lit("2024-01-01 23:59:59").cast("timestamp")),
      Map.empty, threshold = 50)
    pd.data.persist()
    try {
      pd.data.count()
      val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out, "index"))
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "index", "part-old.json"),
        "{\"artifact\":\"T-SITE__retired\"}".getBytes("UTF-8"))
      val (_, sinkJobs) = jobsStartedBy(Pipeline.writePlotData(pd, out))
      val (_, dataJobs) = jobsStartedBy(
        pd.data.repartition(col("ref_des"), col("parameter")).write.mode("overwrite")
          .partitionBy("ref_des", "parameter").parquet(s"$out/data_only"))
      dataJobs should not be empty
      sinkJobs.size shouldBe dataJobs.size
      new java.io.File(s"$out/index").list().filterNot(_.startsWith(".")).sorted shouldBe
        Array("_SUCCESS", "part-00000.json")
      spark.read.json(s"$out/index").select("artifact").as[String].collect().sorted shouldBe
        Array("T-SITE__pressure", "T-SITE__temperature")
    } finally pd.data.unpersist()
  }

  test("staleArtifacts against a plot-data manifest plans no exchange and runs one job") {
    val pd = Pipeline.plotData(df, mkSite("lttb"), resolver, "time",
      (lit("2024-01-01 00:00:00").cast("timestamp"),
        lit("2024-01-01 23:59:59").cast("timestamp")),
      Map.empty, threshold = 50)
    val prevDir = java.nio.file.Files.createTempDirectory("graft_prev")
    java.nio.file.Files.write(prevDir.resolve("part-0.json"),
      Seq("T-SITE__pressure", "T-SITE__retired", null)
        .map(a => if (a == null) "{}" else s"""{"artifact":"$a"}""").mkString("\n")
        .getBytes("UTF-8"))
    val previous = spark.read.schema("artifact STRING").json(prevDir.toString)
    val stale = Pipeline.staleArtifacts(previous, pd.manifest)
    stale.queryExecution.executedPlan.toString should not include "Exchange"
    val (rows, jobs) = jobsStartedBy(stale.as[String].collect())
    jobs should have size 1
    // the left-anti join's rows, the null name included
    rows.toSet shouldBe Set("T-SITE__retired", null)
    rows.toSet shouldBe Pipeline.staleArtifacts(previous, pd.manifest.repartition(2))
      .as[String].collect().toSet
    // an empty manifest keeps every prior name
    Pipeline.staleArtifacts(previous, pd.copy(artifacts = Nil).manifest).count() shouldBe 3
  }

  test("over a Zarr store, an lttb threshold at or above the scan's row count skips the sizes job") {
    val zdf = spark.read.format("zarr").load(graft.sources.zarr.ZarrFixture.write())
    val zResolver = new VariableResolver(Map(
      "time" -> Seq("time"), "value" -> Seq("value"), "temperature" -> Seq("temp")))
    val site = mkSite("lttb").copy(dataParameters = Seq("time", "value", "temperature"))
    // rows 600..949 are in the window; the pruned scan keeps chunks 5..9, 450 rows
    val window = (lit("1970-01-01 10:00:00").cast("timestamp"),
      lit("1970-01-01 23:00:00").cast("timestamp"))
    def build(threshold: Int) =
      jobsStartedBy(Pipeline.plotData(zdf, site, zResolver, "time", window, Map.empty, threshold))
    val (bounded, noJobs) = build(450)
    noJobs shouldBe empty
    val (sized, sizesJobs) = build(449)
    sizesJobs should not be empty
    // both take the identity path (no series is over 350 rows): same rows
    def rows(pd: Pipeline.PlotData) = pd.data.collect().map(_.toString).sorted.toSeq
    rows(bounded) shouldBe rows(sized)
    rows(bounded) should have size (350 * 2 - (600 until 950).count(_ % 97 == 3))
  }

  test("a parameter listed twice is one series, so the Zarr row bound still holds") {
    val zdf = spark.read.format("zarr").load(graft.sources.zarr.ZarrFixture.write())
    val zResolver = new VariableResolver(Map("time" -> Seq("time"), "value" -> Seq("value")))
    // 350 rows in the window, 450 in the pruned scan: a threshold of 500
    // is over the bound but under twice the window's rows
    val window = (lit("1970-01-01 10:00:00").cast("timestamp"),
      lit("1970-01-01 23:00:00").cast("timestamp"))
    def build(params: Seq[String]) = Pipeline.plotData(zdf,
      mkSite("lttb").copy(dataParameters = params), zResolver, "time", window, Map.empty, 500)
    val twice = build(Seq("time", "value", "value"))
    twice.artifacts shouldBe Seq("T-SITE__value")
    val perSeries = twice.data.groupBy("parameter").count().as[(String, Long)].collect()
    perSeries.map(_._1) shouldBe Array("value")
    perSeries.head._2 should be <= 500L
    def rows(pd: Pipeline.PlotData) = pd.data.collect().map(_.toString).sorted.toSeq
    rows(twice) shouldBe rows(build(Seq("time", "value")))
  }

  test("staleArtifacts is the K3 set difference") {
    val prev = Seq("a", "b", "c").toDF("artifact")
    val cur = Seq("b", "c", "d").toDF("artifact")
    Pipeline.staleArtifacts(prev, cur).as[String].collect() shouldBe Array("a")
  }

  test("time slice is pushed into the melt branches") {
    val pd = Pipeline.plotData(df, mkSite("lttb"), resolver, "time",
      (lit("2024-01-01 00:00:00").cast("timestamp"),
        lit("2024-01-01 00:09:00").cast("timestamp")),
      Map.empty, threshold = 1000)
    pd.data.filter(col("parameter") === "temperature").count() shouldBe 10
  }
}
