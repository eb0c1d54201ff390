package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}


/** Dump `explain("formatted")` for named gate queries to files — the
  * optimization-round evidence trail (`plans/r19/<q>_{before,after}.txt`).
  *
  * Usage: runMain graft.tools.PlanDump <qCsv|all> <outDir> <suffix>
  * writes `<outDir>/<q>_<suffix>.txt` per query, normalized (see
  * [[normalize]]) so a dump depends on neither the JVM nor the queries
  * dumped before it: `diff -r` two commits' dumps to see changed plans.
  */
object PlanDump {
  private val Id = "(#|plan_id=|RDD\\[)(\\d+)".r

  /** Per-JVM tokens and their masks: random-suffixed temp directories (the
    * gate's Zarr stores), lambda class names, identity hashes (`[D@3514d1a4`). */
  private val JvmTokens = Seq("/tmp/[A-Za-z_0-9]*[0-9]{6,}".r -> "/tmp/T",
    "Lambda\\$[0-9]+/0x[0-9a-f]+".r -> "Lambda", "@[0-9a-f]+\\b".r -> "@H")

  /** `plan` with its [[JvmTokens]] masked and its expression ids (`#123`),
    * exchange plan ids (`plan_id=45`) and RDD ids (`RDD[739]`) renumbered
    * from 0 in order of first appearance, each kind on its own counter.
    * Spark allocates all three JVM-wide, so raw ids depend on what ran
    * earlier in the JVM; normalized, a dump depends only on its own plan.
    */
  def normalize(plan: String): String = {
    val masked = JvmTokens.foldLeft(plan) { case (p, (t, mask)) => t.replaceAllIn(p, mask) }
    val renamed = scala.collection.mutable.HashMap.empty[String, String]
    val next = scala.collection.mutable.HashMap.empty[String, Int].withDefaultValue(0)
    Id.replaceAllIn(masked, m => renamed.getOrElseUpdate(m.matched, {
      val kind = m.group(1)
      next(kind) += 1
      s"$kind${next(kind) - 1}"
    }))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <qCsv|all> <outDir> <suffix>")
    val qNames = ProbeQueries.resolve(args(0))
    val outDir = Paths.get(args(1))
    val suffix = args(2)
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    qNames.foreach { n =>
      val out = outDir.resolve(s"${n}_$suffix.txt")
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val plan = normalize(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        Files.write(out, plan.getBytes(StandardCharsets.UTF_8))
        // one-line summary to stdout: exchange count + join strategies,
        // the two plan-shape facts the optimization guide keys on
        val ex = "Exchange".r.findAllIn(plan).size
        val joins = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
            "BroadcastNestedLoopJoin", "CartesianProduct")
          .map(j => j -> s"$j".r.findAllIn(plan).size).filter(_._2 > 0)
          .map { case (j, c) => s"$j=$c" }.mkString(",")
        println(s"PLAN $n exchanges=$ex joins=[$joins]")
      } catch { case e: Throwable =>
        println(s"PLAN $n ERROR ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
    spark.stop()
  }
}
