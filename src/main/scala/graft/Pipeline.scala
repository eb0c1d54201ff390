package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Qartod
import graft.operators.{Decimate, Reconcile}
import graft.sources.ConfigRegistry.{SiteConfig, VariableResolver}

/** The reference's main query path (SURVEY §3.1 steps 5-6,
  * qaqc/plots.py:113-216) as one composable plan builder: scan → canonical
  * name resolution → projection pruning → time slice → long-form melt →
  * per-parameter QARTOD flags → decimation → plot-data table + artifact
  * manifest, plus the K3 stale reconciliation against a prior manifest.
  *
  * Everything before decimation is a single narrow scan stage (no
  * shuffles); decimation introduces at most one per-series shuffle (none
  * when LTTB finds every series under the threshold). The melt is
  * an `inline(array(struct…))` unpivot — ONE pass over the source emitting
  * a (parameter, value) row per resolved column, with the parquet read
  * pruned to exactly the resolved physical columns (a union-of-projections
  * melt would re-scan the span once per parameter).
  */
object Pipeline {

  final case class GrossRange(failLo: Double, failHi: Double,
                              susLo: Double, susHi: Double)

  final case class PlotData(data: DataFrame, manifest: DataFrame)

  /** Build the per-(site, span) plot-data table: one long-form row per
    * (parameter, time) with value and gross-range flag, decimated per the
    * site's algorithm. `timeParam` is the canonical time name; parameters
    * that fail to resolve against the physical schema are skipped (the
    * reference logs-and-continues, qaqc/plots.py:222-227).
    */
  def plotData(df: DataFrame, site: SiteConfig, resolver: VariableResolver,
               timeParam: String, window: (Column, Column),
               ranges: Map[String, GrossRange], threshold: Int): PlotData = {
    val cols = df.columns.toSeq
    val timeCol = resolver.resolve(timeParam, cols)
      .getOrElse(sys.error(s"unresolvable time parameter: $timeParam"))
    val params = site.dataParameters.filterNot(_ == timeParam)
      .flatMap(p => resolver.resolve(p, cols).map(p -> _))
    // no resolvable parameter → an EMPTY PlotData with the full schema,
    // honoring the documented logs-and-continues contract (an
    // empty.reduce below would crash the whole site instead)
    if (params.isEmpty) {
      val spark = df.sparkSession
      val emptyData = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("ref_des",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("parameter",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("t",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("flag",
            org.apache.spark.sql.types.IntegerType))))
      return PlotData(emptyData,
        emptyData.select(concat_ws("__", col("ref_des"), col("parameter")).as("artifact")))
    }
    val sliced = df.filter(col(timeCol) >= window._1 && col(timeCol) <= window._2)
    // melt to long form in ONE scan: inline explodes each row into N
    // (parameter, value) rows. A union of per-parameter projections reads
    // the source once per parameter — N full passes over the time span at
    // any scale (and N serialized passes when the scan is a single split);
    // the inline melt reads exactly the resolved physical columns once.
    val long = sliced.select(
      lit(site.refDes).as("ref_des"),
      col(timeCol).cast("timestamp").as("t"),
      inline(array(params.map { case (canonical, physical) =>
        struct(lit(canonical).as("parameter"),
          col(physical).cast("double").as("value"))
      }: _*)))
      .select(col("ref_des"), col("parameter"), col("t"), col("value"))
    val decimated = site.decimationAlgo match {
      case "lttb" =>
        // ref_des is one literal for the whole call, so parameter alone
        // keys the series and ref_des is re-attached after decimation
        Decimate.downsample(
            long.select(col("parameter"), unix_micros(col("t")).cast("double").as("x"),
              col("value")),
            "parameter", "x", "value", threshold)
          .select(
            lit(site.refDes).as("ref_des"),
            col("parameter"),
            timestamp_micros(col("x").cast("long")).as("t"),
            col("value"))
      case _ =>
        // coarsen window = series length / threshold, like the reference
        // (qaqc/plots.py:193-201); the total comes out of the position
        // pass's offset table, so the input is scanned once, not twice
        Decimate.coarsenBy(long, Seq("ref_des", "parameter"), "t",
          Seq("value"),
          n => math.max(1, (n / math.max(1, params.size) / threshold).toInt),
          tieBreak = Seq("value"))
    }
    // QARTOD overlay on the decimated series (flags keyed by canonical name)
    val flagExpr = ranges.foldLeft(lit(Qartod.Pass).cast("int")) {
      case (acc, (p, r)) =>
        when(col("parameter") === p,
          Qartod.grossRangeFlag(col("value"), r.failLo, r.failHi, r.susLo, r.susHi))
          .otherwise(acc)
    }
    val flagged = decimated.withColumn("flag", flagExpr)
    val manifest = flagged.select(col("ref_des"), col("parameter")).distinct()
      .select(concat_ws("__", col("ref_des"), col("parameter")).as("artifact"))
    PlotData(flagged, manifest)
  }

  /** K3 wrapper: artifacts present in the prior manifest but not
    * regenerated this run.
    */
  def staleArtifacts(previous: DataFrame, current: DataFrame): DataFrame =
    Reconcile.staleOutputs(previous, current, "artifact")

  /** K2/K5 sink: plot data laid out `<out>/data/ref_des=<site>/parameter=
    * <p>/…` (the object-store organize step — partition values become the
    * key prefix, qaqc/plots.py:438-464) plus the JSON artifact index
    * (qaqc/index.py:20-50) at `<out>/index`.
    *
    * The data is hash-partitioned by (ref_des, parameter) first, so each
    * artifact is written by one task as one parquet file, however its rows
    * were partitioned upstream (a decimation that returns its input keeps
    * the source scan's partition per chunk).
    */
  def writePlotData(pd: PlotData, outDir: String): Unit = {
    pd.data.repartition(col("ref_des"), col("parameter")).write.mode("overwrite")
      .partitionBy("ref_des", "parameter")
      .parquet(s"$outDir/data")
    pd.manifest.coalesce(1).write.mode("overwrite").json(s"$outDir/index")
  }
}
