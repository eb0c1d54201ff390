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
    pd.manifest.as[String].collect().sorted shouldBe
      Array("T-SITE__pressure", "T-SITE__temperature")
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
    pd.manifest.as[String].collect().sorted shouldBe
      Array("T-SITE__pressure", "T-SITE__temp|qc")
  }

  test("no resolvable parameter yields an EMPTY PlotData with the full schema") {
    val site = mkSite("lttb").copy(dataParameters = Seq("time", "ghost"))
    val pd = Pipeline.plotData(df, site, resolver, "time",
      (lit("2024-01-01 00:00:00").cast("timestamp"),
        lit("2024-01-01 23:59:59").cast("timestamp")),
      Map.empty, threshold = 50)
    pd.data.count() shouldBe 0
    pd.data.columns.toSeq shouldBe Seq("ref_des", "parameter", "t", "value", "flag")
    pd.manifest.count() shouldBe 0
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
