package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Qartod
import graft.operators.Decimate
import graft.sources.ConfigRegistry.{SiteConfig, VariableResolver}
import graft.sources.zarr.ZarrDataSource

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
  *
  * The manifest is deterministic and known on the driver: one artifact
  * `"<refDes>__<canonical>"` per resolved parameter, whether or not the
  * window holds rows for it (the reference records its plots the same
  * way, and builds its index from what it wrote, qaqc/index.py:20-50).
  * So the index is written from the driver, no Spark job computes the
  * manifest, and the reconcile against it is one filter job. When the
  * source is a Zarr scan, the rows of its surviving chunks bound every
  * series, and an LTTB site whose bound is at or under the threshold
  * skips `Decimate.downsample`'s sizes job.
  */
object Pipeline {

  final case class GrossRange(failLo: Double, failHi: Double,
                              susLo: Double, susHi: Double)

  /** Plot data and its artifact names, one per resolved parameter in
    * configuration order.
    */
  final case class PlotData(data: DataFrame, artifacts: Seq[String]) {
    /** The artifact names as a one-column (`artifact`) local relation. */
    lazy val manifest: DataFrame = data.sparkSession.createDataFrame(
      artifacts.map(Row(_)).asJava, StructType.fromDDL("artifact STRING"))
  }

  private val PlotDataSchema =
    StructType.fromDDL("ref_des STRING, parameter STRING, t TIMESTAMP, value DOUBLE, flag INT")

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
    // a parameter listed twice is one series and one artifact
    val params = site.dataParameters.filterNot(_ == timeParam).distinct
      .flatMap(p => resolver.resolve(p, cols).map(p -> _))
    // no resolvable parameter → an EMPTY PlotData with the full schema,
    // honoring the documented logs-and-continues contract (an
    // empty.reduce below would crash the whole site instead)
    if (params.isEmpty) {
      val spark = df.sparkSession
      return PlotData(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], PlotDataSchema), Nil)
    }
    val artifacts = params.map { case (canonical, _) => s"${site.refDes}__$canonical" }
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
            "parameter", "x", "value", threshold,
            // the melt emits one row per parameter per sliced row, so
            // no series is longer than the sliced frame
            maxSeriesRows = rowBound(sliced))
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
    PlotData(decimated.withColumn("flag", flagExpr), artifacts)
  }

  /** An upper bound on the rows of `df` known without a job: the rows
    * of a Zarr scan's surviving chunks, when only filters and
    * projections (neither adds rows) sit above that scan in the
    * optimized plan. None for any other plan, whose optimization is
    * skipped: only a plan over one Zarr store can have a bound.
    */
  private def rowBound(df: DataFrame): Option[Long] = {
    def leafRows(p: LogicalPlan): Option[Long] = p match {
      case Filter(_, child) => leafRows(child)
      case Project(_, child) => leafRows(child)
      case scan: DataSourceV2ScanRelation => ZarrDataSource.rowUpperBound(scan.scan)
      case _ => None
    }
    df.queryExecution.analyzed.collectLeaves() match {
      case Seq(r: DataSourceV2Relation) if ZarrDataSource.isZarr(r.table) =>
        leafRows(df.queryExecution.optimizedPlan)
      case _ => None
    }
  }

  /** K3 wrapper: artifacts present in the prior manifest but not
    * regenerated this run — the reference's set difference of name
    * lists (qaqc/plots.py:500). A manifest is one name per artifact, so
    * the current one is collected to the driver and applied as an
    * IN-list filter on the prior one: the left-anti join's rows (a null
    * name matches nothing, so it stays stale) with no exchange.
    */
  def staleArtifacts(previous: DataFrame, current: DataFrame): DataFrame = {
    val names = current.select("artifact").collect().flatMap(r => Option(r.getString(0)))
    previous.filter(col("artifact").isNull || !col("artifact").isInCollection(names))
  }

  /** K2/K5 sink: plot data laid out `<out>/data/ref_des=<site>/parameter=
    * <p>/…` (the object-store organize step — partition values become the
    * key prefix, qaqc/plots.py:438-464) plus the JSON-lines artifact index
    * (qaqc/index.py:20-50) at `<out>/index`.
    *
    * The data is hash-partitioned by (ref_des, parameter) first, so each
    * artifact is written by one task as one parquet file, however its rows
    * were partitioned upstream (a decimation that returns its input keeps
    * the source scan's partition per chunk). The index is written by the
    * driver through the Hadoop FileSystem — one `part-00000.json` plus
    * `_SUCCESS`, replacing the directory — so it starts no Spark job.
    */
  def writePlotData(pd: PlotData, outDir: String): Unit = {
    pd.data.repartition(col("ref_des"), col("parameter")).write.mode("overwrite")
      .partitionBy("ref_des", "parameter")
      .parquet(s"$outDir/data")
    val index = new Path(s"$outDir/index")
    val fs = index.getFileSystem(pd.data.sparkSession.sessionState.newHadoopConf())
    fs.delete(index, true)
    val mapper = new ObjectMapper()
    val out = fs.create(new Path(index, "part-00000.json"))
    try pd.artifacts.foreach { a =>
      out.write(mapper.writeValueAsBytes(java.util.Map.of("artifact", a)))
      out.write('\n')
    } finally out.close()
    fs.create(new Path(index, "_SUCCESS")).close()
  }
}
