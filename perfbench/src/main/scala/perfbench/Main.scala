package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's JVM side: generate a workload's inputs from the seed,
  * set up the Spark session (several times, for a median set-up time),
  * then run the workload's operations in a closed loop from one client
  * thread for the requested seconds, check every output untimed, and
  * write the result and a full report as JSON.
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` alternates
  * untraced and traced passes over the whole operation list and reports
  * per-layer metrics, self times and the tracing overhead.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --result <file>
  */
object Main {

  /** An operation of a workload: a name, and a body that runs the timed
    * part under an operation id and returns the untimed output check
    * (which yields the names of failed checks).
    */
  final case class Op(name: String, root: String, body: String => (() => Seq[String]))

  final case class OpRec(id: String, name: String, seconds: Double, failures: Seq[String],
                         traced: Boolean)

  /** A workload bound to one session. */
  trait Bound {
    def ops: Seq[Op]
    /** The set-up's warm-up: one small job through the workload's input
      * path; returns its output check.
      */
    def warmUp(): () => Seq[String]
    /** Runs before each pass over `ops`, outside any operation. */
    def beforePass(op: String): Unit = ()
    /** Per-layer values of one traced pass that only the workload knows. */
    def layerValues(recs: Seq[OpRec], tr: Tracer, ev: Events): Map[String, Double]
    /** Untimed, once before the timed region: checks that need one run of
      * every operation (which also warms every code path they use).
      * Returns failed checks.
      */
    def warmPass(): Seq[String]
    /** Untimed checks that run once, after the timed region. */
    def finalChecks(): Seq[String]
    def correctnessNotes: Map[String, Any]
  }

  private val SetupRepeats = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    require(Workloads.names.contains(workload),
      s"unknown workload $workload (known: ${Workloads.names.mkString(", ")})")
    deleteTree(work)
    Files.createDirectories(work)
    val loadStart = loadAvg()
    val nproc = Runtime.getRuntime.availableProcessors()

    // inputs are generated before any timing, without Spark
    val genStart = System.nanoTime()
    val inputs = Workloads.generate(workload, work.resolve("inputs").toString, seed)
    val genSeconds = (System.nanoTime() - genStart) / 1e9
    log(f"inputs generated in $genSeconds%.1f s")

    // set-up: session creation plus a warm-up job, repeated
    var spark: SparkSession = null
    var bound: Bound = null
    val tracer = new Tracer(false)
    val setups = (0 until SetupRepeats).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work, nproc)
      bound = Workloads.bind(spark, inputs, work.resolve(s"out-$i").toString, tracer)
      spark.sparkContext.setJobGroup("warmup", "warm-up")
      val check = bound.warmUp()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobGroup("check", "output checks")
      val failed = check()
      require(failed.isEmpty, s"warm-up output check failed: ${failed.mkString(", ")}")
      dt
    }
    log(s"set-up times ${setups.map(t => f"$t%.2f").mkString(", ")} s")
    val sc = spark.sparkContext
    sc.setJobGroup("check", "output checks")
    val warmStart = System.nanoTime()
    val warmFailures = bound.warmPass()
    val warmSeconds = (System.nanoTime() - warmStart) / 1e9
    log(f"untimed warm/check pass $warmSeconds%.1f s")
    val ops = bound.ops

    def runOp(op: Op, i: Int, traced: Boolean): OpRec = {
      val id = s"op-$i"
      sc.setJobGroup(id, op.name)
      tracer.enabled = traced
      val t0 = System.nanoTime()
      val result = Try(tracer.span(op.root, id)(op.body(id)))
      val dt = (System.nanoTime() - t0) / 1e9
      tracer.enabled = false
      sc.setJobGroup("check", "output checks")
      val failures = result match {
        case Success(check) => Try(check()) match {
          case Success(f) => f
          case Failure(e) => Seq(s"${op.name}: check raised ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        case Failure(e) => Seq(s"${op.name}: raised ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
      OpRec(id, op.name, dt, failures, traced)
    }

    val recs = ArrayBuffer.empty[OpRec]
    val events = new Events
    val layerPasses = ArrayBuffer.empty[Map[String, Double]]
    val passWalls = ArrayBuffer.empty[(Double, Double)] // (untraced, traced)
    var heapMb = 0.0
    if (!trace) {
      // closed loop over whole passes of the operation list until the
      // timed region is full: every run sees the same mix of operations
      var elapsed = 0.0
      var i = 0
      while (elapsed < seconds) {
        bound.beforePass(s"pass-$i")
        ops.foreach { op =>
          val r = runOp(op, i, traced = false)
          recs += r
          elapsed += r.seconds
          i += 1
        }
      }
      heapMb = heapAfterGc()
    } else {
      // each operation runs twice per pass, once untraced and once traced,
      // the order alternating so warm-up favours neither side
      var elapsed = 0.0
      var i = 0
      do {
        bound.beforePass(s"pass-$i")
        tracer.enabled = true
        bound.beforePass(s"pass-$i")
        tracer.enabled = false
        val pairs = ops.zipWithIndex.map { case (op, k) =>
          def traced() = {
            sc.addSparkListener(events)
            try runOp(op, i + (if (k % 2 == 0) 1 else 0), traced = true)
            finally {
              // deliver the operation's events before detaching the listener
              PerfbenchBridge.drainListenerBus(sc)
              sc.removeSparkListener(events)
            }
          }
          def untraced() = runOp(op, i + (if (k % 2 == 0) 0 else 1), traced = false)
          val pair = if (k % 2 == 0) { val u = untraced(); (u, traced()) }
                     else { val t = traced(); (untraced(), t) }
          i += 2
          pair
        }
        val (untraced, traced) = (pairs.map(_._1), pairs.map(_._2))
        recs ++= untraced ++= traced
        val walls = (untraced.map(_.seconds).sum, traced.map(_.seconds).sum)
        passWalls += walls
        elapsed += walls._1 + walls._2
        layerPasses += Layers.values(traced, tracer, events) ++
          bound.layerValues(traced, tracer, events) ++
          Map("trace.overhead_s" -> (walls._2 - walls._1),
            "reuse.cached_mb_after" -> cachedMbAfterGc(spark))
      } while (elapsed < seconds)
      heapMb = heapAfterGc()
    }

    log(f"timed region done: ${recs.size} operations, ${recs.map(_.seconds).sum}%.1f s")
    spark.sparkContext.setJobGroup("check", "output checks")
    val finalFailures = warmFailures ++ bound.finalChecks()
    finalFailures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val timed = recs.filter(r => !trace || !r.traced)
    val failedOps = recs.count(_.failures.nonEmpty)
    val endToEnd = Stats.endToEnd(timed.toSeq, median(setups), heapMb)
    val perLayer = Layers.units.map { case (n, unit) =>
      n -> Map("value" -> median(layerPasses.map(_.getOrElse(n, 0.0)).toSeq), "unit" -> unit)
    }.toMap
    val result = Map(
      "correct" -> (failedOps == 0 && finalFailures.isEmpty),
      "attempted" -> recs.size,
      "failed" -> failedOps,
      "final_check_failures" -> finalFailures,
      "metrics" -> (if (trace) perLayer else endToEnd.metrics))
    val report = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "result" -> result,
      "end_to_end" -> endToEnd.metrics,
      "tail" -> Map("percentile" -> endToEnd.tailPercentile, "samples" -> endToEnd.samples),
      "setup_s_each" -> setups,
      "per_layer_passes" -> layerPasses,
      "pass_walls_untraced_traced_s" -> passWalls.map { case (u, t) => Seq(u, t) },
      "layers" -> (if (trace) Layers.selfTimes(tracer, events, recs.filter(_.traced).map(_.id).toSet)
                   else Map.empty),
      "ops" -> recs.map(r => Map("id" -> r.id, "name" -> r.name, "s" -> r.seconds,
        "traced" -> r.traced, "failures" -> r.failures)),
      "correctness" -> bound.correctnessNotes,
      "disclosure" -> Map(
        "nproc" -> nproc,
        "host_load_start" -> loadStart,
        "host_load_end" -> loadAvg(),
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(a => a.startsWith("-X") || a.startsWith("-D")),
        "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
          !k.contains("dir") && !k.contains("host") && !k.contains("port") && !k.contains(".id")
        },
        "input_generation_s" -> genSeconds,
        "warm_check_pass_s" -> warmSeconds,
        "inputs" -> Workloads.describe(inputs)))
    if (trace) {
      val spansOut = work.resolve("spans.jsonl")
      Files.write(spansOut, Layers.spanLines(tracer, events,
        recs.filter(_.traced).map(_.id).toSet).asJava)
    }
    Files.writeString(Paths.get(a("result")), Json(report))
    spark.stop()
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def session(work: Path, nproc: Int): SparkSession = {
    val s = GraftSession.builder(s"local[$nproc]", nproc)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Driver heap still in use after full collections: the least of three,
    * the context cleaner releasing what each collection let it see.
    */
  private def heapAfterGc(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Storage held by persisted RDDs once the driver has collected garbage
    * and the context cleaner has had a moment to release dropped blocks.
    */
  private def cachedMbAfterGc(spark: SparkSession): Double = {
    System.gc()
    Thread.sleep(300)
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
  }

  private def loadAvg(): Seq[Double] =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")
      .take(3).map(_.toDouble).toSeq).getOrElse(Nil)

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }
}
