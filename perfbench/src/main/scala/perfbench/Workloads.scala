package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import perfbench.Gen.{Adcp, Cam, Ctd, FleetShape, Profiler, Spkir}
import perfbench.Main.{Bound, Op, OpRec}

/** The three workloads: their input shapes, generation and binding. */
object Workloads {

  /** Many sites × spans {1, 7}: small stores, per-launch fixed costs. */
  val FleetShort: FleetShape = FleetShape(
    kinds = Seq(Ctd, Profiler, Cam, Ctd),
    storeDays = 10, stepSeconds = 60, chunkRows = 720, spans = Seq(1, 7),
    threshold = 5000000)

  /** A few sites × the 365-day span: each series exceeds its decimation
    * threshold many times over; the SPKIRA site is a SKIP at this span.
    */
  val FleetYear: FleetShape = FleetShape(
    kinds = Seq(Ctd, Adcp, Spkir, Ctd),
    storeDays = 400, stepSeconds = 600, chunkRows = 2880, spans = Seq(365),
    threshold = 5000)

  /** Base corpus size before the 10x growth. */
  val CorpusDocs = 300
  val CorpusVecs = 120

  val names: Seq[String] = Seq("fleet_short", "fleet_year", "corpus_10x")

  def generate(workload: String, dir: String, seed: Long): Gen.Inputs = workload match {
    case "fleet_short" => Gen.fleet(dir, FleetShort, seed)
    case "fleet_year" => Gen.fleet(dir, FleetYear, seed)
    case "corpus_10x" => Gen.corpus(dir, CorpusDocs, CorpusVecs, copies = 10, seed)
  }

  def bind(spark: SparkSession, in: Gen.Inputs, out: String, tr: Tracer): Bound = in match {
    case f: Gen.FleetData => new FleetBound(spark, f, out, tr)
    case c: Gen.CorpusData => new CorpusBound(spark, c, s"$out/checks")
  }

  def describe(in: Gen.Inputs): Map[String, Any] = in match {
    case f: Gen.FleetData =>
      val st = f.stores.values.toSeq
      Map("stores" -> st.size, "store_bytes" -> st.map(_.bytes).sum,
        "store_rows" -> st.map(_.rows.toLong).sum, "store_chunks" -> st.map(_.chunks).sum,
        "store_days" -> f.shape.storeDays, "step_s" -> f.shape.stepSeconds,
        "spans" -> f.shape.spans, "threshold" -> f.shape.threshold,
        "launches" -> f.launches.size, "skipped" -> f.skipped,
        "rows_in_windows" -> f.launches.map(_.rowsInWindow).sum)
    case c: Gen.CorpusData =>
      Map("documents_rows" -> c.documents, "embeddings_rows" -> c.embeddings,
        "layout_bytes" -> c.bytes, "jobs" -> Corpus.Jobs)
  }

  private def dirStats(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
          .toArray.map(_.asInstanceOf[Path])
        (files.length.toLong, files.map(Files.size(_)).sum)
      } finally s.close()
    }

  final class FleetBound(spark: SparkSession, in: Gen.FleetData, out: String, tr: Tracer)
      extends Bound {
    private val fleet = new Fleet(spark, in, out, tr)
    private val plan = fleet.plan("plan")
    private val valid = plan.filter(_.valid)
    private val produced = mutable.HashMap.empty[String, (Long, Int)]

    val ops: Seq[Op] = valid.map { l =>
      Op(l.name, "launch", id => {
        val o = fleet.launch(l, id)
        produced(l.name) = (o.rowsOut, o.stale.size)
        () => fleet.checkAgainstTwin(l, o)
      })
    }

    def warmUp(): () => Seq[String] = {
      val st = in.stores(valid.head.site)
      val n = spark.read.format("zarr").load(st.path).count()
      () => if (n == st.rows) Nil else Seq(s"warm-up read $n rows of ${st.rows}")
    }

    /** Every store reads back through the Zarr source equal to its twin;
      * every launch runs and is checked once over its twin (see
      * [[Fleet.warmTwins]]).
      */
    def warmPass(): Seq[String] = {
      val mismatches = Gen.storeMismatches(spark, in)
      mismatches.map(s => s"zarr store $s differs from its parquet twin") ++
        fleet.warmTwins(valid, spark.sparkContext.defaultParallelism)
    }

    override def beforePass(op: String): Unit =
      require(fleet.plan(op).map(_.name) == plan.map(_.name), "the fleet plan changed")

    def layerValues(recs: Seq[OpRec], tr: Tracer, ev: Events): Map[String, Double] = {
      val exp = valid.map(l => in.expected(l.site, l.span.toInt))
      val needed = exp.map(_.chunksNeeded).sum.toDouble
      val read = recs.map(r => ev.of(r.id).stages.filter(_.scan).map(_.tasks).sum).sum
      val sink = valid.map(l => {
        val (f1, b1) = dirStats(Paths.get(out, l.name, "data"))
        val (f2, b2) = dirStats(Paths.get(out, l.name, "index"))
        (f1 + f2, b1 + b2)
      })
      Map(
        "qaqccli.launches" -> valid.size.toDouble,
        "qaqccli.skipped" -> (plan.size - valid.size).toDouble,
        "qaqccli.plan_s" -> tr.spans.filter(_.name == "qaqccli.plan").lastOption
          .map(_.seconds).getOrElse(0.0),
        "zarr.chunks_needed" -> needed,
        "zarr.chunk_useful_frac" -> (if (read == 0) 0.0 else needed / read),
        "decimate.rows_in" -> exp.map(_.meltedRows).sum.toDouble,
        "decimate.rows_out" -> valid.map(l => produced(l.name)._1).sum.toDouble,
        "sink.files" -> sink.map(_._1).sum.toDouble,
        "sink.bytes" -> sink.map(_._2).sum.toDouble,
        "reconcile.stale" -> valid.map(l => produced(l.name)._2).sum.toDouble)
    }

    /** The plan's RUN and SKIP counts equal the generator's. */
    def finalChecks(): Seq[String] =
      (if (valid.size == in.launches.size) Nil
       else Seq(s"qaqccli.launches ${valid.size} != generated ${in.launches.size}")) ++
        (if (plan.size - valid.size == in.skipped) Nil
         else Seq(s"qaqccli.skipped ${plan.size - valid.size} != generated ${in.skipped}"))

    def correctnessNotes: Map[String, Any] = Map(
      "launches" -> valid.size, "skipped" -> (plan.size - valid.size),
      "generated_launches" -> in.launches.size, "generated_skipped" -> in.skipped,
      "planted_stale" -> in.launches.map(_.stale.size).sum)
  }

  final class CorpusBound(spark: SparkSession, in: Gen.CorpusData, checkDir: String)
      extends Bound {
    private val corpus = new Corpus(spark, in)
    private val digests = mutable.LinkedHashMap.empty[String, Digest]

    def warmUp(): () => Seq[String] = {
      val n = graft.sources.Tables.documents(spark, in.dir).count()
      () => if (n == in.documents) Nil else Seq(s"warm-up read $n documents of ${in.documents}")
    }

    /** Writes the checked outputs; jobs with their own oracle must then
      * reproduce their written output's digest in every timed run.
      */
    def warmPass(): Seq[String] = {
      digests ++= corpus.writeChecks(checkDir)
      Nil
    }

    val ops: Seq[Op] = Corpus.Jobs.map { q =>
      Op(q, "job", _ => {
        val d = corpus.run(q)
        // every execution must match the checked output (or, for a job
        // checked through its invariants, its first execution)
        () => digests.get(q) match {
          case Some(ref) if ref != d => Seq(s"$q: digest $d differs from the checked $ref")
          case _ => digests(q) = d; Nil
        }
      })
    }

    def layerValues(recs: Seq[OpRec], tr: Tracer, ev: Events): Map[String, Double] = {
      val ids = recs.map(r => r.id -> r.name).toMap
      tr.spans.filter(s => s.name == "job" && ids.contains(s.op))
        .groupBy(s => ids(s.op)).map { case (q, ss) => s"corpus.${q}_s" -> ss.map(_.seconds).sum }
    }

    def finalChecks(): Seq[String] = Nil

    def correctnessNotes: Map[String, Any] = Map(
      "oracle_layout" -> in.dir, "oracle_outputs" -> checkDir,
      "oracle_names" -> corpus.checkNames,
      "digests" -> digests.map { case (q, d) => q -> Seq(d.rows, d.xor) })
  }
}
