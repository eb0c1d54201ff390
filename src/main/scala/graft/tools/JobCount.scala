package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

import java.util.concurrent.atomic.AtomicLong

/** Throwaway diagnostic: run named queries once and report the number of
  * Spark jobs / stages / tasks each schedules — the deterministic view of
  * the driver-bench fixed floor (wall time on a noisy box is not).
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.toSeq
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    // warm the session so the first query doesn't count parquet-footer jobs
    spark.range(10).count()
    names.foreach { n =>
      jobs.set(0); stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .selectExpr("count(1)", "bit_xor(hash(*))").collect()
      Thread.sleep(300) // let the async listener bus drain
      val dt = (System.nanoTime() - t0) / 1e9
      // cached-block hygiene: after a GC cycle no persisted/checkpointed
      // RDD from the query may survive (the round-7 leak signature was
      // MEMORY_AND_DISK blocks accumulating across queries)
      System.gc()
      Thread.sleep(500) // let the ContextCleaner drain
      val survivors = spark.sparkContext.getPersistentRDDs.size
      println(f"QJOBS $n jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} wall=$dt%.2f cachedRDDs=$survivors")
    }
    spark.stop()
  }
}
