package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Pipeline, ProfileGrid, ProfileScatter}
import graft.sources.ConfigRegistry
import graft.tools.QaqcCli

/** QAQC launches composed only from the engine's public functions: plan
  * the fleet with `QaqcCli.buildPlan` over the generated registry, then
  * per valid launch read the site's Zarr store, build and materialize the
  * plot data, write it with its index, reconcile against the previous
  * manifest and, for profilers, run the profile scatter and grid.
  */
final class Fleet(spark: SparkSession, in: Gen.FleetData, outRoot: String, tr: Tracer) {
  import Fleet.Output

  private val sites = ConfigRegistry.loadSites(in.sitesCsv)
  private val resolver = ConfigRegistry.loadVariableMap(in.variablesCsv)
  private val hi = in.timeRef
  private val dataCols = Seq("ref_des", "parameter", "t", "value", "flag")
  /** The Zarr-vs-twin comparison hashes `value` rounded to 1e-9: the
    * coarsen path's bucket means add doubles in partition order, and the
    * two sources split the same rows differently (one partition per Zarr
    * chunk, one parquet file), which may change the last bits of a mean.
    */
  private val twinCols = Seq(col("ref_des"), col("parameter"), col("t"),
    round(col("value"), 9), col("flag"))

  /** The fleet's launch plan, one CLI plan per span; valid launches are
    * interleaved by site so any prefix of the plan mixes instrument kinds.
    */
  def plan(op: String): Seq[QaqcCli.Launch] = tr.span("qaqccli.plan", op) {
    val order = in.stores.keys.toSeq.sorted.zipWithIndex.toMap
    in.shape.spans.flatMap { span =>
      val args = QaqcCli.CliArgs(stage1 = true, span = span.toString, time = hi.toString,
        threshold = in.shape.threshold)
      QaqcCli.buildPlan(args, sites).fold(e => sys.error(e), identity)
    }.sortBy(l => (order(l.site), l.span.toInt))
  }

  private def window(span: Int): (Timestamp, Timestamp) =
    (Gen.micros2ts(in.stores.values.map(_.times.last).min - span * Gen.DayMicros), hi)

  /** Run one valid launch as operation `op`; the caller times it. With
    * `twin` the launch reads the store's parquet twin instead of the Zarr
    * store and writes under a directory of its own.
    */
  def launch(l: QaqcCli.Launch, op: String, twin: Boolean = false): Output = {
    val site = sites(l.site)
    val span = l.span.toInt
    val store = in.stores(l.site)
    val exp = in.expected(l.site, span)
    val out = if (twin) s"$outRoot/twin/${l.name}" else s"$outRoot/${l.name}"
    val (lo, hi) = window(span)
    val df = tr.span("zarr.open", op) {
      if (twin) spark.read.parquet(store.twin) else spark.read.format("zarr").load(store.path)
    }
    val pd = tr.span("pipeline.plan", op) {
      Pipeline.plotData(df, site, resolver, "time", (lit(lo), lit(hi)), Gen.Ranges,
        l.parameters("threshold").toInt)
    }
    // one evaluation feeds the sink, the index and the reconcile
    val rowsOut = tr.span("pipeline.exec", op) {
      pd.data.persist(StorageLevel.MEMORY_AND_DISK)
      pd.data.count()
    }
    tr.span("sink.write", op)(Pipeline.writePlotData(pd, out))
    val stale = tr.span("reconcile", op) {
      val previous = spark.read.schema("artifact STRING").json(exp.previousManifest)
      Pipeline.staleArtifacts(previous, pd.manifest).collect().map(_.getString(0)).toSet
    }
    val profileManifests = store.profiles.toSeq.flatMap { idx =>
      val profiles = spark.read.parquet(idx)
      val temp = resolver.resolve("temperature", df.columns.toSeq).get
      val press = resolver.resolve("pressure", df.columns.toSeq).get
      val sc = tr.span("profile_scatter", op) {
        val r = ProfileScatter.run(df, "time", temp, press, profiles, hi, span, site.refDes,
          l.parameters("spanString"), descentSampled = false, annoNonEmpty = false,
          climNonEmpty = false, flagNonEmpty = false)
        r.data.write.mode("overwrite").parquet(s"$out/profile_scatter")
        r
      }
      val gr = tr.span("profile_grid", op) {
        val r = ProfileGrid.run(df, "time", temp, press, profiles, hi, span,
          profileDepth = 200.0, depthStep = 1.0, site.refDes, l.parameters("spanString"))
        r.data.write.mode("overwrite").parquet(s"$out/profile_grid")
        r
      }
      sc.manifest ++ gr.manifest
    }
    Output(l.site, span, out, pd.data, pd.manifest, rowsOut, stale, profileManifests)
  }

  private var twins = Map.empty[QaqcCli.Launch, Seq[Any]]

  /** Untimed, before the timed region: run every launch over its parquet
    * twin, `threads` at a time, check it, and keep the digests its Zarr
    * runs must reproduce. This pass also warms every code path the
    * launches use. Returns the failed checks.
    */
  def warmTwins(launches: Seq[QaqcCli.Launch], threads: Int): Seq[String] = {
    val results = Par.map(launches, threads) { l =>
      spark.sparkContext.setJobGroup("check", "output checks")
      l -> check(launch(l, "check", twin = true))
    }
    twins = results.map { case (l, (_, digests)) => l -> digests }.toMap
    results.flatMap { case (_, (failed, _)) => failed.map("twin " + _) }
  }

  /** Untimed output checks for one Zarr launch, right after it ran:
    * those of [[check]], plus its digests equal to the same launch's over
    * the parquet twin.
    */
  def checkAgainstTwin(l: QaqcCli.Launch, o: Output): Seq[String] = {
    val (failed, digests) = check(o)
    failed ++ (if (twins.get(l).contains(digests)) Nil else Seq(s"${l.name}:twin_digest"))
  }

  /** Output checks for one launch: the sink read-back equals the
    * in-memory digest and the index holds the manifest; the materialized
    * row count matches; the stale set equals the planted one. Returns the
    * failed checks and the digests a twin comparison uses (plot data,
    * manifest, profile outputs and manifests). The launch's cached plot
    * data is released afterwards.
    */
  private def check(o: Output): (Seq[String], Seq[Any]) = try {
    val exp = in.expected(o.site, o.span)
    val Seq(mem, memRounded) = Checks.digests(o.data, Seq(dataCols.map(col), twinCols))
    val manifest = o.manifest.collect().map(_.getString(0)).toSet
    // an empty plot-data table writes no data files
    val sink = if (mem.rows == 0 && !hasParquet(s"${o.dir}/data")) Digest(0, 0)
               else Checks.digest(spark.read.parquet(s"${o.dir}/data"), dataCols)
    val index = spark.read.json(s"${o.dir}/index").collect().map(_.getString(0)).toSet
    val profileSink = Seq("profile_scatter", "profile_grid")
      .filter(_ => in.stores(o.site).profiles.isDefined)
      .map(p => Checks.digest(spark.read.parquet(s"${o.dir}/$p")))
    val failed = Seq(
      "sink_readback" -> (sink == mem && index == manifest),
      "rows_out" -> (o.rowsOut == mem.rows),
      "reconcile_stale" -> (o.stale == exp.stale)
    ).collect { case (name, false) => s"${o.site}--${o.span}:$name" }
    (failed, Seq(memRounded, manifest) ++ profileSink :+ o.profileManifests)
  } finally o.data.unpersist(blocking = true)

  private def hasParquet(dir: String): Boolean = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.anyMatch(_.getFileName.toString.endsWith(".parquet")) finally s.close()
  }
}

object Fleet {
  /** What a launch produced that its checks look at. */
  final case class Output(site: String, span: Int, dir: String, data: DataFrame,
                          manifest: DataFrame, rowsOut: Long, stale: Set[String],
                          profileManifests: Seq[String])
}
