package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.GapFill

/** Throwaway intra-JVM A/B for the q41 rewrite: the classic
  * union+window grid interpolation vs interpolateOntoStepGrid,
  * alternating in ONE JVM over the given layouts — the same
  * variance-killing protocol as ReuseAB. Prints per-trial seconds and
  * a bit_xor(hash(*)) checksum so result identity is visible in the
  * receipt itself.
  */
object Q41AB {
  private val HourUs = 3600000000L

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def obs(dir: String): DataFrame = graft.sources.Tables.events(spark, dir)
      .groupBy(col("user_id"), unix_micros(col("ts")).cast("double").as("t"))
      .agg(avg(col("value")).as("v"))

    def classic(dir: String): DataFrame = {
      val o = obs(dir).withColumn("is_grid", lit(0))
      val grid = o.groupBy(col("user_id"))
        .agg(min(col("t")).as("lo"), max(col("t")).as("hi"))
        .select(col("user_id"), explode(sequence(
          floor(col("lo") / HourUs).cast("long"),
          floor(col("hi") / HourUs).cast("long"))).as("hidx"))
        .select(col("user_id"), (col("hidx") * HourUs).cast("double").as("t"),
          lit(null).cast("double").as("v"), lit(1).as("is_grid"))
      GapFill.interpolateLinear(o.unionByName(grid), Seq("user_id"), "t", "v",
          "v_interp", tieBreak = Seq("is_grid"))
        .filter(col("is_grid") === 1)
        .select(col("user_id"), col("t"),
          graft.functions.Rounding.dround(col("v_interp"), 6).as("v_interp"))
    }

    def fused(dir: String): DataFrame =
      GapFill.interpolateOntoStepGrid(obs(dir), Seq("user_id"), "t", "v",
          HourUs, "v_interp")
        .select(col("user_id"), col("t"),
          graft.functions.Rounding.dround(col("v_interp"), 6).as("v_interp"))

    def trial(label: String, df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val r = df.selectExpr("count(1)", "bit_xor(hash(*))").collect()(0)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"Q41AB mode=$label sec=$dt%.3f rows=${r.getLong(0)} hash=${r.get(1)}")
      System.gc()
    }
    dirs.foreach { dir =>
      println(s"Q41AB dir=$dir")
      trial("classic", classic(dir)); trial("fused", fused(dir)) // warm
      for (_ <- 1 to 3) { trial("classic", classic(dir)); trial("fused", fused(dir)) }
    }
    spark.stop()
  }
}
