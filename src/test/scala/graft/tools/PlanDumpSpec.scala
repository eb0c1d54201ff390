package graft.tools

import org.apache.spark.sql.execution.FormattedMode

import graft.SparkSpec

class PlanDumpSpec extends SparkSpec {

  test("normalize renumbers ids by first appearance, one counter per kind") {
    PlanDump.normalize(
      "Project [a#17, b#9]\n+- Filter (a#17 > 1)\n   +- Exchange [plan_id=4969]\n" +
        "BroadcastExchange [plan_id=12], c#100L\n" +
        "Arguments: [a#17], MapPartitionsRDD[739] at mapPartitionsWithIndex, MapPartitionsRDD[12]") shouldBe
      "Project [a#0, b#1]\n+- Filter (a#0 > 1)\n   +- Exchange [plan_id=0]\n" +
        "BroadcastExchange [plan_id=1], c#2L\n" +
        "Arguments: [a#0], MapPartitionsRDD[0] at mapPartitionsWithIndex, MapPartitionsRDD[1]"
    PlanDump.normalize("no ids (1) here") shouldBe "no ids (1) here"
    // per-JVM tokens are masked: temp-store paths, lambda class names and
    // identity hashes
    PlanDump.normalize(
      "Relation [zarr:/tmp/graft_zarr_gate8812736450123/ctd] t#5\n" +
        "MapGroups graft.operators.Decimate$$$Lambda$7170/0x00007f3c2d4b1a38@1b2c3d4e, x#7\n" +
        "Project [array_contains([D@3514d1a4, v#5)]") shouldBe
      "Relation [zarr:/tmp/T/ctd] t#0\n" +
        "MapGroups graft.operators.Decimate$$$Lambda@H, x#1\n" +
        "Project [array_contains([D@H, v#0)]"
  }

  test("a query's normalized dump does not depend on the ids planned before it") {
    def dump() = spark.range(10).selectExpr("id % 3 AS k", "id AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.countDistinct("v"))
      .queryExecution.explainString(FormattedMode)
    val first = dump()
    // allocate expression ids between the two dumps
    spark.range(1).selectExpr((0 until 20).map(i => s"id + $i AS c$i"): _*).queryExecution.analyzed
    val second = dump()
    first should not be second
    PlanDump.normalize(first) shouldBe PlanDump.normalize(second)
  }
}
