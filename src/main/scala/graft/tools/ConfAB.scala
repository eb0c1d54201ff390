package graft.tools


import graft.Bench

/** Throwaway A/B/A: time named queries in ONE JVM with a runtime conf
  * flipped between passes — isolates a config's effect from host noise.
  * Usage: runMain graft.tools.ConfAB <qCsv> <dir> <key=value[,key=value]>
  */
object ConfAB {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ConfAB <qCsv> <dir> <key=value,...>")
    val qNames = ProbeQueries.resolve(args(0))
    val dir = args(1)
    val kvs = args(2).split(",").map { s =>
      val Array(k, v) = s.split("=", 2); (k, v)
    }.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sel = ProbeQueries.select(qNames)
    def pass(label: String): Unit = {
      val (times, errs) = Bench.measure(spark, dir, sel)
      val body = times.toSeq.sortBy(_._1)
        .map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",")
      println(s"""CONFAB {"pass":"$label",$body,"errors":${errs.size}}""")
    }
    pass("default1")
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    pass("flipped")
    kvs.foreach { case (k, _) => spark.conf.unset(k) }
    pass("default2")
    spark.stop()
  }
}
