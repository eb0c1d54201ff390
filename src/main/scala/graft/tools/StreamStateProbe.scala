package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Streaming STATE-size probe: runs every gate streaming query at two
  * scales and reports each one's peak state-store footprint
  * (`StateOperatorProgress`: rows, bytes, watermark-evicted rows) from a
  * [[StreamingQueryListener]] — the measured counterpart of the "state is
  * watermark/key-bounded, never row-bounded" scale claims in PLANS.md.
  *
  * Reading the two-scale output (documents/events/embeddings grown 10×
  * with per-copy id offsets and a ≤10 s time shift):
  *  - `graft_stream_hourly` (windowed agg): state = open (hour, type)
  *    windows. The grown layout keeps the event-time SPAN, so state must
  *    stay FLAT at 10× rows — growth here would mean state scales with
  *    input rows, the one shape that cannot survive an unbounded stream.
  *  - `graft_stream_dedup` / `graft_stream_gate` / `graft_stream_decontam`
  *    (keyed state): state = distinct keys inside the watermark horizon —
  *    ~10× at 10× corpus BY CONSTRUCTION of the bounded replay (every row
  *    arrives in one burst, so the horizon spans the whole table; a
  *    production deployment's bound is rate × horizon, not corpus size).
  *    The check is state ≈ the analytic key count, not flatness.
  *  - `graft_stream_ij` (stream-stream interval join): state = rows inside
  *    the ±window join range of the unconsumed watermark frontier.
  *  - `graft_q100_sessions` (flatMapGroupsWithState; the q100 query's
  *    override of the `graft_stream_sessions` default): state = open
  *    sessions ≈ distinct users (10× per-copy user offsets ⇒ ~10×).
  *
  * Usage: runMain graft.tools.StreamStateProbe [smallDir] [bigDir]
  */
object StreamStateProbe {

  /** gate query name → the writeStream queryName its run helper uses */
  val Streams: Seq[(String, String)] = Seq(
    "q46_stream_hourly" -> "graft_stream_hourly",
    "q68_stream_dedup" -> "graft_stream_dedup",
    "q79_ingest_gate" -> "graft_stream_gate",
    "q84_stream_interval_join" -> "graft_stream_ij",
    "q100_stream_sessionize" -> "graft_q100_sessions",
    "q146_stream_decontam" -> "graft_stream_decontam")

  def main(args: Array[String]): Unit = {
    val smallDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val bigDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // peak-across-batches per queryName: (stateRows, stateBytes, evicted)
    val peak = mutable.Map[String, (Long, Long, Long)]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ops = p.stateOperators
        // record zero-op progress too: a STATELESS stream (broadcast-gate
        // decontamination) legitimately reports 0 state, which is a
        // different fact than "no progress observed" (-1)
        if (p.name != null) peak.synchronized {
          val rows = ops.map(_.numRowsTotal).sum
          val bytes = ops.map(_.memoryUsedBytes).sum
          val evicted = ops.map(_.numRowsDroppedByWatermark).sum
          val cur = peak.getOrElse(p.name, (0L, 0L, 0L))
          peak(p.name) = (math.max(cur._1, rows), math.max(cur._2, bytes),
            math.max(cur._3, evicted))
        }
      }
    })

    def runScale(dir: String): Map[String, (Long, Long, Long, Long)] = {
      Streams.map { case (gateName, streamName) =>
        peak.synchronized { peak.remove(streamName) }
        val outRows = graft.SparkEntry.queries(gateName)(spark, dir).count()
        // the listener bus is async; progress events trail the
        // awaitTermination return. Waiting only for the FIRST event
        // would under-report keyed state (it grows batch-over-batch, so
        // the peak is the LAST batch's event): wait until one arrives,
        // then drain a fixed grace period for the rest. The same drain
        // keeps a late event from one scale out of the next scale's
        // window (peaks are removed per query before each run).
        var waited = 0
        while (waited < 5000 &&
            peak.synchronized { !peak.contains(streamName) }) {
          Thread.sleep(200); waited += 200
        }
        Thread.sleep(1500)
        val (r, b, ev) = peak.synchronized {
          peak.getOrElse(streamName, (-1L, -1L, -1L))
        }
        gateName -> ((r, b, ev, outRows))
      }.toMap
    }

    val small = runScale(smallDir)
    val big = runScale(bigDir)
    def fmt(m: Map[String, (Long, Long, Long, Long)]): String =
      Streams.map { case (g, _) =>
        val (r, b, ev, o) = m(g)
        s""""$g":{"state_rows":$r,"state_bytes":$b,"evicted":$ev,"out_rows":$o}"""
      }.mkString("{", ",", "}")
    println(s"""{"small":${fmt(small)},"big":${fmt(big)}}""")

    // the interval join's SIZING contract (round-15 VERDICT item 6): the
    // single-batch gate replay buffers the whole burst (919 MB at the
    // 100× layout); the time-ordered sequenced replay is the deployment
    // shape — state bounded by rate × (horizon + window), watermark
    // eviction mid-stream (removed > 0), zero late drops, same result.
    // Run at the gate horizon and a NARROWED one: state must shrink
    // with the horizon, the formula's direct measurement.
    for ((horizon, tag) <- Seq(("1 hour", "gate"), ("5 minutes", "narrow"))) {
      val (df, s) = graft.streaming.StreamingOps.runStreamIntervalJoinSequenced(
        spark, bigDir, batches = 8, horizon = horizon,
        queryName = s"graft_stream_ij_seq_$tag")
      val out = df.count()
      require(s.removed > 0,
        s"sequenced interval join ($tag): no watermark eviction observed")
      require(s.droppedLate == 0,
        s"sequenced interval join ($tag): ${s.droppedLate} late rows dropped")
      println(s"""{"interval_join_sized":{"horizon":"$horizon",""" +
        s""""peak_state_rows":${s.peakRows},"peak_state_bytes":${s.peakBytes},""" +
        s""""removed":${s.removed},"dropped_late":${s.droppedLate},""" +
        s""""data_batches":${s.dataBatches},"out_rows":$out}}""")
    }

    // the HORIZON term's demonstration (round-16 VERDICT item 4): the
    // 8-slice runs above floor at one micro-batch's rows (each slice
    // spans ~hours of event time, so the watermark — which advances
    // only between micro-batches — can never hold a frontier narrower
    // than a slice). Restrict the replay to the table's first 48 h and
    // cut 96 slices (~30 min of event time each): batch spans are now
    // ≪ horizon, rate × (horizon + window) dominates, and the peak must
    // MOVE with the horizon — wide (4 h) vs gate (1 h) should differ
    // ~(4.5 / 1.5)× with the 30-minute window.
    for ((horizon, tag) <- Seq(("4 hours", "fine_wide"), ("1 hour", "fine_gate"))) {
      val (df, s) = graft.streaming.StreamingOps.runStreamIntervalJoinSequenced(
        spark, bigDir, batches = 96, horizon = horizon,
        queryName = s"graft_stream_ij_seq_$tag", limitHours = Some(48.0))
      val out = df.count()
      require(s.removed > 0,
        s"fine-sliced interval join ($tag): no watermark eviction observed")
      require(s.droppedLate == 0,
        s"fine-sliced interval join ($tag): ${s.droppedLate} late rows dropped")
      println(s"""{"interval_join_fine":{"horizon":"$horizon","batches":96,""" +
        s""""limit_hours":48,"peak_state_rows":${s.peakRows},""" +
        s""""peak_state_bytes":${s.peakBytes},"removed":${s.removed},""" +
        s""""dropped_late":${s.droppedLate},"data_batches":${s.dataBatches},""" +
        s""""out_rows":$out}}""")
    }
    spark.stop()
  }
}
