package graft.tools


import graft.Bench

/** Times named gate queries on EXISTING layouts with [[Bench.measure]]'s
  * min-of-2, without rebuilding anything — the standalone before/after
  * instrument the performance protocol calls for (machine-state band is
  * wide; suite-embedded deltas are not trustworthy).
  *
  * Usage: runMain graft.tools.QueryTimeProbe <qCsv> <dir> [dir2 ...]
  */
object QueryTimeProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryTimeProbe <qCsv> <dir> [dir2 ...]")
    val qNames = ProbeQueries.resolve(args(0)) // `all` → full gate surface
    val dirs = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sel = ProbeQueries.select(qNames)
    dirs.foreach { d =>
      val (times, errs) = Bench.measure(spark, d, sel)
      val parity = ProbeQueries.parityLine(qNames, times.keys, errs.keys)
      val body = times.toSeq.sortBy(_._1)
        .map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",")
      println(s"""QTIME {"dir":"$d",$parity,$body,"errors":${errs.size}}""")
    }
    spark.stop()
  }
}
