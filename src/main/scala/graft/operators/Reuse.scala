package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.storage.StorageLevel

/** Lineage-PRESERVING single-evaluation pinning for corpus-proportional
  * intermediates (r20, from the r19 verdict's failure-domain audit).
  *
  * `localCheckpoint` stores blocks on executor-local storage,
  * non-replicated, and TRUNCATES LINEAGE at materialization: at the
  * 100 TB design point an executor loss after materialization kills the
  * whole job — there is no recompute path. That trade is fine for frames
  * that are provably SMALL (vocabOverlay's O(vocab) distinct table,
  * centroidDrift's classes×dims grid) or for iterative loops where flat
  * lineage is the point (BPE / pageRank / k-means rounds). It is the
  * wrong trade for CORPUS-PROPORTIONAL reuse points like bm25's per-doc
  * compact projection.
  *
  * [[pinned]] is `localCheckpoint` minus the truncation: the physical
  * plan's `InternalRow` RDD, rows copied (the buffer-reuse rule every
  * cached InternalRow RDD must follow), persisted at the SAME storage
  * level `localCheckpoint` uses (MEMORY_AND_DISK), wrapped back into a
  * DataFrame over the same schema. Consumers read the stored blocks
  * exactly as with a checkpoint (one evaluation of the source subtree),
  * but a lost block recomputes from the RDD's retained dependency chain
  * instead of failing the job.
  *
  * Deliberately NOT `Dataset.persist`: that registers the plan in the
  * session `CacheManager`, which holds a strong reference until an
  * explicit `unpersist` — for an operator that RETURNS a lazy plan there
  * is no sound place to unpersist, so every call would leak a
  * corpus-sized cache entry for the session's lifetime (the
  * [[Dedup.minHashDupPairs]] doc records the same reasoning). The RDD
  * persisted here is reclaimed by the ContextCleaner as soon as the
  * caller drops the returned frame — the `localCheckpoint` lifecycle.
  *
  * Determinism caveat (shared with every persist/recompute path in
  * Spark): a recomputed partition must reproduce its rows, so pin only
  * deterministic subtrees — every current caller is a pure projection/
  * aggregate of parquet input. Callers reached through
  * [[Dedup.spreadForKernelStage]] pin a ROUND-ROBIN repartition, whose
  * row-to-partition assignment is reproducible only because Spark sorts
  * each map partition before distributing it: they depend on
  * `spark.sql.execution.sortBeforeRepartition` staying `true` (the
  * default) for a bit-identical recompute.
  */
object Reuse {

  /** One-evaluation reuse of `df` with lineage (recompute-on-loss) kept.
    * Lazy: the first consuming action materializes the blocks, exactly
    * like `localCheckpoint(eager = false)`.
    *
    * The per-row `copy()` is LOAD-BEARING, exactly as in
    * `Dataset.checkpoint`: the codegen stage reuses one UnsafeRow buffer,
    * and a serialized storage level does NOT make the copy skippable —
    * the default RDD serializer caches object references, so re-seeing
    * the same (mutated) row instance writes a back-reference instead of
    * the new bytes (measured: bm25's compact frame collapsed 20 → 8
    * distinct rows under a no-copy MEMORY_AND_DISK_SER spelling).
    */
  def pinned(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    GraftBridge.internalCreateDataFrame(spark, rdd, df.schema)
  }
}
