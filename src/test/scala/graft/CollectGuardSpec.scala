package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the driver-side `.collect()` inventory of `src/main` as CI.
  *
  * Every collect in the engine must be BOUNDED — by an enforced limit, a
  * count gate that routes large inputs to a distributed path, or a
  * payload that is structurally broadcast-size (per-group stats, config
  * snapshots, k×d aggregates). An unguarded collect is the one
  * anti-pattern that turns a working sf0.1 operator into a driver OOM at
  * corpus scale, so a NEW collect site fails this spec until it is
  * consciously added to the allowlist below WITH its bound.
  *
  * The allowlist is per-file counts + the documented bound for each
  * site, re-audited whenever the count changes. `tools/` mains and
  * `Bench`/`Verify` are driver programs by design (they print/measure
  * query results); operator files are the surface that matters.
  *
  * Counting contract (deliberate, not oversights):
  *  - Only LINE comments (`//`) are stripped before matching. A collect
  *    spelled inside a `/* */` block comment would COUNT — a false
  *    positive in the safe direction (the suite fails until someone
  *    looks), never a silent miss.
  *  - `df.head()` / `first()` / `take(n)` / `limit(n).collect()` callers
  *    are not separately inventoried: head/first/take are bounded by
  *    construction (they fetch ≤ n rows), and limit+collect sites count
  *    via their `.collect()` anyway.
  *  - Matching is textual per line; a collect split across lines would
  *    evade it, but scalafmt-style code keeps the call on one line and
  *    the per-file counts would still drift on any real edit nearby.
  */
class CollectGuardSpec extends AnyFunSuite with Matchers {

  /** file (repo-relative, forward slashes) → (collect-site count, bound). */
  private val allowlist: Map[String, (Int, String)] = Map(
    "graft/Bench.scala" -> (3,
      "bench driver main; collects headline-query outputs (small by construction)"),
    "graft/FixedScatter.scala" -> (2,
      "per-(site, panel) render stats over an already-aggregated broadcast-size slice"),
    "graft/Pipeline.scala" -> (1,
      "staleArtifacts: the current manifest's names, one per artifact (driver-sized)"),
    "graft/ProfileGrid.scala" -> (3,
      "per-profile grid stats / axis bounds over per-profile aggregates"),
    "graft/ProfileScatter.scala" -> (2,
      "per-profile scatter stats over per-profile aggregates"),
    "graft/functions/Qartod.scala" -> (1,
      "distinct (depth_lo, depth_hi) climatology brackets: config-table-size by contract"),
    "graft/operators/Bpe.scala" -> (2,
      "size-gated driver/distributed routing: collects only under the gate's ceiling"),
    "graft/operators/Curation.scala" -> (3,
      "benchmarkGramSet: overflow-proof limit(max+1)+require; ingestMixture bench grams: count-gated broadcast; " +
        "importanceWeights vocab map: count-gated (maxBroadcastVocab) with a keyed-join fallback"),
    "graft/operators/Decimate.scala" -> (1,
      "downsample per-series sizes: one row per series, " +
        "overflow-proof limit(OrderedPosition.MaxOffsetRows + 1)+require"),
    "graft/operators/Dedup.scala" -> (1,
      "connectedComponents driver union-find: count-gated, large graphs route to pointer-jumping"),
    "graft/operators/GraphOps.scala" -> (1,
      "pageRank driver path: count-gated, large graphs route to the distributed loop"),
    "graft/operators/OrderedPosition.scala" -> (1,
      "per-(partition, series) offset table: require(<= MaxOffsetRows) fail-fast"),
    "graft/operators/Similarity.scala" -> (5,
      "k×d centroid/codebook aggregates and capped 4096-row training samples"),
    "graft/sources/Providers.scala" -> (1,
      "operational-status snapshot: one JSON row per read by contract"),
    "graft/sources/zarr/ZarrGateStore.scala" -> (2,
      "gate fixture builds (v2 + v3 twin): both enforce " +
        "limit(SliceRows=4000) before the collect"),
    "graft/streaming/StreamingOps.scala" -> (1,
      "nearDupGate reference index: enforced overflow-proof limit(max+1)+require"),
    "graft/tools/JobTrace.scala" -> (1, "probe main (not operator surface)"),
    "graft/tools/RecallProbe.scala" -> (1,
      "probe main: one-row mean-recall aggregate per method"),
    "graft/tools/StreamCostProbe.scala" -> (1, "probe main (not operator surface)"))

  /** Every `src/main` Scala file as (repo-relative path, lines). */
  private def mainSources(): Seq[(String, Seq[String])] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"expected to run from the repo root, cwd=${
      new java.io.File(".").getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root).map { f =>
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try rel -> src.getLines().toVector finally src.close()
    }
  }

  test("every driver-side collect in src/main is on the documented allowlist") {
    // count non-comment collect sites (.collect() / collectAsList /
    // toLocalIterator — every spelling that materializes to the driver)
    val pattern = "\\.collect\\(\\)|collectAsList|toLocalIterator".r
    val found: Map[String, Int] = mainSources().flatMap { case (rel, lines) =>
      val hits = lines.count { line =>
        val code = line.indexOf("//") match {
          case -1 => line
          case i => line.substring(0, i)
        }
        pattern.findFirstIn(code).isDefined
      }
      if (hits > 0) Some(rel -> hits) else None
    }.toMap

    val unknown = found.keySet -- allowlist.keySet
    withClue("NEW collect site(s) outside the allowlist — bound them " +
      "(limit+require, count gate, or structurally small payload), then " +
      s"document the bound here: ${unknown.toSeq.sorted.map(f => s"$f (${found(f)})")}\n") {
      unknown shouldBe empty
    }
    val drifted = allowlist.collect {
      case (f, (n, why)) if found.getOrElse(f, 0) != n =>
        s"$f: expected $n collect sites ($why), found ${found.getOrElse(f, 0)}"
    }
    withClue("collect-site count drift — re-audit the file's bounds and " +
      "update the allowlist in the same commit:\n") {
      drifted shouldBe empty
    }
  }

  test("src/main serves every native kernel one way: no function-registry probes") {
    // GraftExtensions is required, so a helper never asks whether a
    // native function or planner strategy is registered — a probe here
    // means a second (fallback) serving path is creeping back in
    val pattern = "functionExists\\(|NativeFunctions|strategies\\.contains\\(".r
    val hits = mainSources().flatMap { case (rel, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined => s"$rel:${i + 1}"
      }
    }
    hits shouldBe empty
  }
}
