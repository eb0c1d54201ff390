package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

/** Diagnostic (the r20 decomposition instrument): run named queries once
  * and print one `JTRACE` line per query with its totals — wall time,
  * jobs, stages, tasks and the persisted RDDs that survive a GC (the
  * round-7 leak signature was MEMORY_AND_DISK blocks accumulating across
  * queries) — then, per Spark JOB, its wall duration and the stages it
  * ran (name, task count, ms, and the summed task deserialization and
  * run times). This is how "16 jobs" turns into "which subtree costs
  * what" without the UI.
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.toSeq
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class JobRec(start: Long, var end: Long = -1L,
                            var stages: List[String] = Nil)
    val jobsRec = new TrieMap[Int, JobRec]()
    // a job lists its stages when it starts; a stage completes later,
    // possibly after other jobs have started, so credit it by id
    val jobOfStage = new TrieMap[Int, Int]()
    val stages = new AtomicLong; val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobsRec.put(j.jobId, JobRec(j.time))
        j.stageInfos.foreach(si => jobOfStage.put(si.stageId, j.jobId))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobsRec.get(j.jobId).foreach(_.end = j.time)
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val info = s.stageInfo
        val ms = (for {a <- info.completionTime; b <- info.submissionTime}
          yield a - b).getOrElse(-1L)
        // deserialization is not part of executorRunTime: a per-task
        // fixed cost (a large task payload) shows only in deser_ms
        val tm = info.taskMetrics
        val line = f"${info.name.takeWhile(_ != '\n').take(90)}%s tasks=${info.numTasks} ms=$ms" +
          s" deser_ms=${tm.executorDeserializeTime} run_ms=${tm.executorRunTime}"
        jobOfStage.get(info.stageId).flatMap(jobsRec.get).foreach { rec =>
          rec.stages = rec.stages :+ line
        }
      }
    })
    spark.range(10).count() // warm, then drop the warm job from output
    names.foreach { n =>
      jobsRec.clear()
      jobOfStage.clear()
      stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .selectExpr("count(1)", "bit_xor(hash(*))").collect()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400) // listener bus drain
      // after a GC cycle no persisted/checkpointed RDD from the query
      // may survive
      System.gc(); Thread.sleep(500) // let the ContextCleaner drain
      val survivors = spark.sparkContext.getPersistentRDDs.size
      println(f"JTRACE $n wall=$dt%.2f jobs=${jobsRec.size} stages=${stages.get} " +
        s"tasks=${tasks.get} cachedRDDs=$survivors")
      jobsRec.toSeq.sortBy(_._1).foreach { case (id, rec) =>
        val ms = if (rec.end > 0) rec.end - rec.start else -1L
        println(f"  job=$id ms=$ms")
        rec.stages.foreach(s => println(s"    $s"))
      }
    }
    spark.stop()
  }
}
