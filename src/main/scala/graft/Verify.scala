package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The dump loop, separated from `main`'s session setup so the spec can
    * drive it with an injected query map. Writes each query's result to
    * `outDir/<name>` parquet, records every crash in `outDir/_failed.json`
    * (query → error), and dumps `oracles` as `outDir/oracle_sql.json`.
    * Returns the failure manifest. Crashed queries must fail LOUDLY: a
    * stderr line can be dropped by the driver's truncated log capture
    * (round 7 lost 31 queries that way), so the manifest is the signal
    * `scripts/check.py` turns into hard FAILs.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Map[String, (SparkSession, String) => DataFrame],
          oracles: Map[String, String],
          only: Option[Set[String]] = None): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg
      }
    }
    val json = oracles
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: ${failed.keys.mkString(",")}")
    failed.toMap
  }

  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query names — run (and emit
    // oracle SQL for) just those, for fast single-query iteration. The
    // driver always calls with two args = the full surface.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      // Default INT96 timestamps: the driver's gate hashes the on-disk
      // timestamp dtype, and the rounds-1-4 green runs were INT96/ns.
      // The 9999-12-31 open-validity sentinel (which overflows int64
      // nanos on pyarrow readers) is clamped narrowly in the one query
      // that emits it (q61) instead of changing every query's dtype.
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir, SparkEntry.queries, SparkEntry.oracleSql, only)
    spark.stop()
  }
}
