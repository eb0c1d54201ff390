package graft.tools


/** Diagnostic: where does a streaming replay's wall time go? Runs the
  * named streaming gate queries once and prints each micro-batch's
  * durationMs breakdown (triggerExecution, queryPlanning, getBatch,
  * addBatch, walCommit, stateOperators commit) from the progress events —
  * the evidence behind "the remaining cost IS the streaming machinery".
  * Usage: runMain graft.tools.StreamCostProbe <dir>
  */
object StreamCostProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        def g(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(-1L)
        val st = p.stateOperators.map(s =>
          s"rows=${s.numRowsTotal},commitMs=${s.allUpdatesTimeMs + s.allRemovalsTimeMs + s.commitTimeMs}").mkString(";")
        println(s"SPROG name=${p.name} batch=${p.batchId} rows=${p.numInputRows} " +
          s"trigger=${g("triggerExecution")} planning=${g("queryPlanning")} " +
          s"getBatch=${g("getBatch")} addBatch=${g("addBatch")} wal=${g("walCommit")} " +
          s"state[$st]")
      }
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    Seq("q84_stream_interval_join", "q46_stream_hourly", "q100_stream_sessionize")
      .foreach { q =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, dir)
          .selectExpr("count(1)").collect()
        println(f"SPROBE $q total=${(System.nanoTime() - t0) / 1e9}%.2f s")
        Thread.sleep(500)
      }
    spark.stop()
  }
}
