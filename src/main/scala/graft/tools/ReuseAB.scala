package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Throwaway intra-JVM A/B: materialize-and-consume the bm25-style
  * compact frame via Dataset.localCheckpoint vs Reuse.pinned,
  * alternating in ONE JVM — kills the inter-JVM/host variance that
  * drowns a 10% effect. Each trial: build frame, pin/checkpoint, run
  * the two consumers bm25 runs (an agg + an explode+agg), unpersist.
  */
object ReuseAB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val terms = Seq("the", "data", "ocean", "model", "sensor")
    def compactFrame(): DataFrame =
      graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id").cast("long").as("doc_id"),
          graft.functions.TextFunctions.tokens(lower(col("text"))).as("ws"))
        .select(col("doc_id"), coalesce(size(col("ws")), lit(0)).as("len"),
          filter(col("ws"), t => t.isInCollection(terms)).as("hits"))
    def consume(c: DataFrame): Long = {
      val a = c.agg(count(lit(1)), sum(col("len"))).collect()(0).getLong(0)
      val b = c.select(col("doc_id"), explode(col("hits")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)))
        .agg(count(lit(1))).collect()(0).getLong(0)
      a + b
    }
    def trial(mode: String): Double = {
      val t0 = System.nanoTime()
      val c = if (mode == "ckpt") compactFrame().localCheckpoint(false)
              else graft.operators.Reuse.pinned(compactFrame())
      val r = consume(c)
      val dt = (System.nanoTime() - t0) / 1e9
      System.gc(); Thread.sleep(200) // let ContextCleaner drop blocks
      println(f"REUSEAB mode=$mode sec=$dt%.3f check=$r")
      dt
    }
    trial("ckpt"); trial("pin") // warm both paths (JIT)
    val times = scala.collection.mutable.Map("ckpt" -> List.empty[Double],
      "pin" -> List.empty[Double])
    for (_ <- 1 to 5; m <- Seq("ckpt", "pin"))
      times(m) = times(m) :+ trial(m)
    times.foreach { case (m, ts) =>
      println(f"REUSEAB_SUMMARY mode=$m min=${ts.min}%.3f " +
        f"median=${ts.sorted.apply(ts.size / 2)}%.3f")
    }
    spark.stop()
  }
}
