package graft.tools

import org.apache.spark.sql.functions._

/** Throwaway 100×-scale probe for [[graft.operators.Similarity.kCenterCoreset]]:
  * 2M synthetic vectors × 64 dims, k = 8 — the PLANS.md probe shape,
  * re-run after the checkpoint-every-4-rounds + lazy-materialize rework.
  */
object ProbeCoreset {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val vecs = spark.range(2000000)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => sin(col("id") * 37 + d * 11)).as("embedding"))
      .localCheckpoint() // probe the loop, not the generator
    val t0 = System.nanoTime()
    val out = graft.operators.Similarity
      .kCenterCoreset(vecs, "vec_id", "embedding", k = 8)
      .collect()
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"PROBE kCenterCoreset 2M x 64 k=8 -> $dt%.1f s, picks=${out.length}")
    spark.stop()
  }
}
