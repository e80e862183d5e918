package graft.walks

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CacheOps, CrawlParams, DeltaRow, EdgeRow, WalkRow}
import graft.walks.WalkAlgebra.RepSt

/** The engine's walk repair: the distributed driver of WalkAlgebra's repair
  * state machine (WalkAlgebra.startRepair / stepRepair, the reference's
  * ToUpdate, walks.go:191-259, and Graft, walks.go:84-92).
  *
  * Every walk visiting a delta node is scanned in place: each decision that
  * needs no adjacency (the resample / alpha-gate / invalid-next draws read
  * only the broadcast delta map) commits inline, and a walk whose event
  * grafts a segment stops with that segment live. What follows depends on
  * how many segments are live:
  *
  *  - more than [[TailThreshold]] (a mass-refresh wave): the live segments
  *    advance ONE hop per iteration through a single equi-join
  *    (state.cur == adj.src) against the distributed adjacency — only live
  *    segments shuffle, and no graft neighborhood reaches the driver —
  *    until at most TailThreshold remain (the bulk-synchronous hop pattern
  *    of Distributed Edge Partitioning for Trillion-edge Graphs, VLDB'19);
  *  - then, or straight away for a small wave, the remaining segments
  *    finish through SubgraphWalks.Resolver.drain: follow lists resolved
  *    on the driver and broadcast, misses fetched and retried.
  *
  * Every draw is counter-based, so the result is byte-identical to
  * WalkAlgebra.repairWalk on the full adjacency — asserted per walk by
  * IterativeRepairSpec and per crawl by CrawlEquivalenceSpec.
  */
object IterativeRepair {

  /** Live segments above which a repair wave advances them by hop joins
    * before the resolver drain finishes the rest. Measured on a 4-core
    * host at `local[4]` (4 GB driver heap): one wave in which every walk
    * grafts at one hub (IterativeRepairSpec's shape) onto a random
    * degree-10 graph. Each cell is the wall ms of repairAll plus the
    * collect of the changed ids. It compares the drain alone with hop
    * joins down to a quarter of the live count, followed by the drain:
    *
    * {{{
    * live   200k edges: drain / hops   2M edges: drain / hops
    * 1k     8,301 (cold) / 12,269      8,645-13,602 / 17,083-19,274
    * 2k     2,597 / 12,441             -
    * 8k     2,132 / 8,011              16,469-17,509 / 16,471-16,937
    * 32k    1,814 / 6,706              10,500-12,536 / 25,155-26,665
    * }}}
    *
    * The drain won or tied at every count up to 32k. On both graphs its
    * cost is set by the neighborhood it resolves (nearly the whole graph
    * here). A hop costs one round of Spark jobs, so hopping to the end
    * took 24-39 s on the small graph. The threshold is therefore the
    * largest count measured. Above it, the hop loop also keeps a
    * mass-refresh wave's graft neighborhoods off the driver: BASELINE.md
    * records a 25k-author wave at 1M pages repaired in 14.6 s that way,
    * against 30 s by the drain alone.
    */
  private[walks] val TailThreshold = 32000L

  /** Repair every walk visiting a delta node of this wave against `edges`
    * (src, dst), the graph after the wave's deltas, whose follow lists
    * `resolver` serves. Returns (changed walks with their old paths, their
    * count, release): the walks stay lazy over the drain's attempt caches,
    * so call the release only once every consumer has materialized; every
    * other cache is released inside.
    */
  def repairAll(
      spark: SparkSession,
      walks: Dataset[WalkRow],
      edges: DataFrame,
      resolver: SubgraphWalks.Resolver,
      deltas: Map[Long, DeltaRow],
      round: Long,
      wave: Int,
      params: CrawlParams
  ): (Dataset[(WalkRow, Array[Long])], Long, () => Unit) = {
    import spark.implicits._
    val bDeltas = spark.sparkContext.broadcast(deltas)
    val (p, r, wv) = (params, round, wave)
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
          val s = WalkAlgebra.startRepair(w.walkId, w.path, bDeltas.value, r, wv, p)
          if (s.segActive) liveAcc.add(1L)
          s
        }
    )
    var live: Long = liveAcc.value

    // the drain's input and its release
    val (toDrain, toDrainRelease) =
      if (live <= TailThreshold) {
        // seed with every delta's graft pools (Added ∪ Kept) + one hop:
        // most segments are short (expected length 1/(1-α)), so most walks
        // repair on the first attempt
        resolver.resolve(deltas.valuesIterator.flatMap(d => d.add.iterator ++ d.keep.iterator).toSeq)
        (scanned, scannedRelease)
      } else {
        // cached WITH hash(src) partitioning so the per-hop equi-join
        // reuses it instead of re-exchanging the full adjacency every hop
        val adjDF = IterativeWalker
          .adjacencyTable(spark, edges.as[EdgeRow].map(e => (e.src, e.dst)))
          .toDF("src", "follows")
          .repartition(col("src"))
          .persist()
        val hopReleases = mutable.ArrayBuffer(scannedRelease, () => { adjDF.unpersist(); () })
        // settled walks accumulate as lazy filters over each hop's kept
        // state, read once by the drain (IterativeWalker.drainHops does
        // the same)
        val settled = mutable.ArrayBuffer.empty[Dataset[RepSt]]
        var state: Dataset[RepSt] = scanned
        var iter = 0
        while (live > TailThreshold) {
          settled += state.filter(!_.segActive)
          val active = state.filter(_.segActive)
          val stepped = active
            .joinWith(adjDF, active("cur") === adjDF("src"), "left_outer")
            .map { case (s, adjRow) =>
              WalkAlgebra.stepRepair(
                s,
                if (adjRow == null) Array.emptyLongArray else adjRow.getAs[scala.collection.Seq[Long]]("follows").toArray,
                bDeltas.value,
                r,
                wv,
                p
              )
            }
          val (next, release) = IterativeWalker.keepHop(stepped, iter)
          hopReleases += release
          live = next.filter(_.segActive).count()
          state = next
          iter += 1
        }
        // one slice per hop, checkpointed in one job: the drain then plans
        // a flat input of O(cores) partitions, not the hops' lineage over
        // O(hops × cores) partitions
        val (tail, tailRelease) = CacheOps.checkpointReleasable(
          (settled :+ state).reduce(_ union _).coalesce(spark.sparkContext.defaultParallelism)
        )
        hopReleases.foreach(_())
        resolver.resolve(tail.filter(_.segActive).map(_.cur).distinct().collect().toIndexedSeq)
        (tail, tailRelease)
      }

    val (changed, n, release) = resolver.drain(toDrain) { (adj, s0: RepSt) =>
      val s = WalkAlgebra.finishRepair(adj, s0, bDeltas.value, r, wv, p)
      if (s.changed) Seq((WalkRow(s.walkId, s.origPath(0), s.path), s.origPath)) else Nil
    }
    // the drain materialized its attempt caches: nothing reads its input
    // any more
    toDrainRelease()
    (changed, n, release)
  }
}
