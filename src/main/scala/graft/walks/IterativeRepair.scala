package graft.walks

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{CacheOps, CrawlParams, DeltaRow, WalkRow}
import graft.walks.WalkAlgebra.RepSt

/** The engine's walk repair: the distributed driver of WalkAlgebra's repair
  * state machine (WalkAlgebra.startRepair / stepRepair, the reference's
  * ToUpdate, walks.go:191-259, and Graft, walks.go:84-92).
  *
  * Every walk visiting a delta node is scanned in place: each decision that
  * needs no adjacency (the resample / alpha-gate / invalid-next draws read
  * only the broadcast delta map) commits inline, and a walk whose event
  * grafts a segment stops with that segment live. The live segments then
  * finish by the wave rule generation follows too
  * (IterativeWalker.hopThenDrain): while more than
  * IterativeWalker.TailThreshold are live (a mass-refresh wave) they
  * advance one hop per iteration through a join against the distributed
  * adjacency, so no graft neighborhood reaches the driver; the rest finish
  * through SubgraphWalks.Resolver.drain, follow lists resolved on the
  * driver and broadcast, misses fetched and retried.
  *
  * Every draw is counter-based, so the result is byte-identical to
  * WalkAlgebra.repairWalk on the full adjacency — asserted per walk by
  * IterativeRepairSpec and per crawl by CrawlEquivalenceSpec.
  */
object IterativeRepair {

  /** Repair every walk visiting a delta node of this wave against the
    * resolver's edges table (src, dst), the graph after the wave's deltas.
    * Returns (changed walks with their old paths, their count, release):
    * the walks stay lazy over the drain's attempt caches, so call the
    * release only once every consumer has materialized; every other cache
    * is released inside.
    */
  def repairAll(
      spark: SparkSession,
      walks: Dataset[WalkRow],
      resolver: SubgraphWalks.Resolver,
      deltas: Map[Long, DeltaRow],
      round: Long,
      wave: Int,
      params: CrawlParams
  ): (Dataset[(WalkRow, Array[Long])], Long, () => Unit) = {
    import spark.implicits._
    val bDeltas = spark.sparkContext.broadcast(deltas)
    // Only a walk visiting a delta node can change. Prefilter via the
    // broadcast delta map — O(|path|) hash probes per walk. (An
    // arrays_overlap against a literal delta-node array rebuilds its hash
    // set PER ROW: O(|walks|·|deltas|), measured 50-130s per wave at a
    // 25k-author batch.) The scan is checkpointed in one job, which also
    // counts the live segments in an accumulator. A retried task may
    // inflate that count, but it only picks the branch, and both branches
    // give the same walks.
    val liveAcc = spark.sparkContext.longAccumulator
    val (scanned, scannedRelease) = CacheOps.checkpointReleasable(
      walks
        .filter(w => { val m = bDeltas.value; w.path.exists(m.contains) })
        .map { w =>
          val s = WalkAlgebra.startRepair(w.walkId, w.path, bDeltas.value, round, wave, params)
          if (s.segActive) liveAcc.add(1L)
          s
        }
    )
    val step = (s: RepSt, follows: Array[Long]) => WalkAlgebra.stepRepair(s, follows, bDeltas.value, round, wave, params)
    // a wave that never hops is seeded with every delta's graft pools
    // (Added ∪ Kept) + one hop: most segments are short (expected length
    // 1/(1-α)), so most walks repair on the first attempt
    val pools = deltas.valuesIterator.flatMap(d => d.add.iterator ++ d.keep.iterator).toSeq
    val repaired =
      IterativeWalker.hopThenDrain(spark, resolver, scanned, liveAcc.value, (_: RepSt).segActive, step, resolver.resolve(pools)) {
        (adj, s0: RepSt) =>
          val s = WalkAlgebra.finishRepair(adj, s0, bDeltas.value, round, wave, params)
          if (s.changed) Seq((WalkRow(s.walkId, s.origPath(0), s.path), s.origPath)) else Nil
      }
    scannedRelease()
    repaired
  }
}
