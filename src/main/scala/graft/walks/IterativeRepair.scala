package graft.walks

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CrawlParams, DeltaRow, WalkRow}

/** Fully distributed walk repair — the big-delta scale path.
  *
  * The resolver-based repair (SubgraphWalks.repairAll) materializes the
  * graft segments' neighborhoods on the driver; for a small incremental
  * wave that is a handful of broadcast semi-joins, but a wave touching tens
  * of thousands of authors drags a large share of the graph through the
  * driver. This module keeps EVERYTHING distributed, the same way
  * IterativeWalker distributes generation: walks scan their paths and
  * commit every repair decision that needs no adjacency inline (the
  * resample / alpha-gate / invalid-next draws depend only on the broadcast
  * delta map), and walks whose event grafts a segment advance that segment
  * ONE hop per iteration with a single equi-join (state.cur == adj.src).
  * Expected iterations ≈ the α-geometric segment length; only live
  * segments shuffle. Once at most [[TailThreshold]] segments are live, the
  * rest finish through SubgraphWalks.Resolver.drain — the same miss-retry
  * drain the small-wave repair runs.
  *
  * Every draw is counter-based and keyed identically to
  * WalkAlgebra.repairWalk / generateSegment (the public repResamples /
  * repAlphaPasses / segStartIndex / segContinues / segNextIndex helpers),
  * so results are byte-identical to the sequential spec — asserted by
  * CrawlEquivalenceSpec's forced-iterative-repair run.
  *
  * Reference semantics: walks.go:191-259 (ToUpdate) + walks.go:84-92
  * (Graft), batch-distributed.
  */
object IterativeRepair {

  /** Below this many live segments the bulk-synchronous join loop hands the
    * geometric tail to resolver point-lookups — the long tail of an
    * α-geometric length distribution would otherwise cost one join PER HOP
    * for a vanishing walk count.
    */
  private val TailThreshold = 2000L

  /** One walk's repair state. `segActive=false` ⇒ done (scan exhausted);
    * otherwise the walk awaits one adjacency lookup for `cur`.
    */
  case class RepSt(
      walkId: Long,
      start: Long,
      origPath: Array[Long], // path at wave start (callers pair it with the new path)
      path: Array[Long], // committed path (pre-event while a graft is pending)
      pos: Int, // next scan position (valid when !segActive)
      changed: Boolean,
      segActive: Boolean,
      prefix: Array[Long], // truncated prefix awaiting the pending graft
      seg: Array[Long], // segment built so far (head = segment start)
      cur: Long, // current segment node (adjacency needed)
      posKey: Long, // RNG namespace of the pending segment (= eventPos + 1)
      segStep: Long // next segment step index
  )

  /** Scan `path` from `pos`, applying delta events: every branch that needs
    * no adjacency (truncate-only commits) is applied inline; the scan stops
    * with `segActive=true` when a graft segment must be generated. Mirrors
    * WalkAlgebra.repairWalk branch-for-branch.
    */
  private def scanFrom(
      st0: RepSt,
      deltas: scala.collection.Map[Long, DeltaRow],
      round: Long,
      wave: Int,
      params: CrawlParams
  ): RepSt = {
    var path = st0.path
    var pos = st0.pos
    var changed = st0.changed
    while (pos < path.length && pos < 1023) {
      deltas.get(path(pos)) match {
        case Some(d) =>
          val posL = pos.toLong
          val resample = WalkAlgebra.repResamples(params, st0.walkId, round, wave, posL, d)
          val invalid = pos + 1 < path.length && d.remove.contains(path(pos + 1))
          // pool == null ⇒ no event; pool empty ⇒ truncate-only commit
          // (graft of an empty segment); pool non-empty ⇒ distributed graft
          val pool: Array[Long] =
            if (resample) {
              if (WalkAlgebra.repAlphaPasses(params, st0.walkId, round, wave, posL)) d.add
              else Array.emptyLongArray
            } else if (invalid) d.keep
            else null
          if (pool != null && pool.nonEmpty) {
            val segStart = pool(WalkAlgebra.segStartIndex(params, st0.walkId, round, wave, posL + 1, pool.length))
            return RepSt(
              st0.walkId,
              st0.start,
              st0.origPath,
              path,
              pos,
              changed,
              segActive = true,
              prefix = path.take(pos + 1),
              seg = Array(segStart),
              cur = segStart,
              posKey = posL + 1,
              segStep = 0L
            )
          } else if (pool != null) {
            val np = path.take(pos + 1)
            if (!java.util.Arrays.equals(np, path)) { path = np; changed = true }
          }
        case None => ()
      }
      pos += 1
    }
    st0.copy(path = path, pos = pos, changed = changed, segActive = false, prefix = Array.emptyLongArray, seg = Array.emptyLongArray)
  }

  /** Advance a pending segment by one hop given `cur`'s follow list, then
    * resume scanning if the segment finished (which may immediately open
    * the next segment). Draw order matches WalkAlgebra.generateSegment.
    */
  private def stepSegment(
      st: RepSt,
      follows: Array[Long],
      deltas: scala.collection.Map[Long, DeltaRow],
      round: Long,
      wave: Int,
      params: CrawlParams
  ): RepSt = {
    def finish(): RepSt = {
      val np = WalkAlgebra.graft(st.prefix, st.seg)
      val changed = st.changed || !java.util.Arrays.equals(np, st.path)
      scanFrom(
        st.copy(path = np, pos = st.posKey.toInt, changed = changed, segActive = false, prefix = Array.emptyLongArray, seg = Array.emptyLongArray),
        deltas,
        round,
        wave,
        params
      )
    }
    if (st.segStep >= WalkAlgebra.segMaxSteps(params)) finish()
    else if (!WalkAlgebra.segContinues(params, st.walkId, round, wave, st.posKey, st.segStep)) finish()
    else if (follows.isEmpty) finish()
    else {
      val next = follows(WalkAlgebra.segNextIndex(params, st.walkId, round, wave, st.posKey, st.segStep, follows.length))
      if (st.seg.contains(next)) finish()
      else st.copy(seg = st.seg :+ next, cur = next, segStep = st.segStep + 1)
    }
  }

  /** Repair every walk visiting a delta node, fully distributed. Same
    * contract as SubgraphWalks.repairAll: (changed walks with their old
    * paths, count, release); here the result is persisted and every
    * intermediate already released, so the release only drops the result.
    */
  def repairAll(
      spark: SparkSession,
      walks: Dataset[WalkRow],
      adjacency: Dataset[(Long, Array[Long])],
      resolver: SubgraphWalks.Resolver,
      deltas: Map[Long, DeltaRow],
      round: Long,
      wave: Int,
      params: CrawlParams
  ): (Dataset[(WalkRow, Array[Long])], Long, () => Unit) = {
    import spark.implicits._
    val bDeltas = spark.sparkContext.broadcast(deltas)
    val (p, r, wv) = (params, round, wave)
    // prefilter via the broadcast delta map — O(|path|) hash probes per
    // walk (see SubgraphWalks.repairAll for why not arrays_overlap)
    var state: Dataset[RepSt] = walks
      .filter(w => { val m = bDeltas.value; w.path.exists(m.contains) })
      .map { w =>
        scanFrom(
          RepSt(w.walkId, w.start, w.path, w.path, 0, changed = false, segActive = false, Array.emptyLongArray, Array.emptyLongArray, -1L, 0L, 0L),
          bDeltas.value,
          r,
          wv,
          p
        )
      }
      .persist()
    var stateRelease: () => Unit = { val s = state; () => { s.unpersist(); () } }
    val doneParts = mutable.ArrayBuffer.empty[Dataset[RepSt]]
    // release handles for every local checkpoint in the drain —
    // Dataset.unpersist cannot release those (core.CacheOps scaladoc)
    val releases = mutable.ArrayBuffer.empty[() => Unit]
    def checkpointTracked(ds: Dataset[RepSt]): Dataset[RepSt] = {
      val (cp, rel) = graft.core.CacheOps.checkpointReleasable(ds)
      releases += rel
      cp
    }
    // cached WITH hash(src) partitioning so the per-hop equi-join reuses it
    // instead of re-exchanging the full adjacency every hop
    val adjDF = adjacency.toDF("src", "follows").repartition(col("src")).persist()
    var live = state.filter(_.segActive).count()
    var iter = 0
    while (live > TailThreshold) {
      doneParts += checkpointTracked(state.filter(!_.segActive))
      val active = state.filter(_.segActive)
      val stepped = active
        .joinWith(adjDF, active("cur") === adjDF("src"), "left_outer")
        .map { case (s, adjRow) =>
          val follows: Array[Long] =
            if (adjRow == null) Array.emptyLongArray
            else adjRow.getAs[scala.collection.Seq[Long]]("follows").toArray
          stepSegment(s, follows, bDeltas.value, r, wv, p)
        }
      val (next, nextRelease) = IterativeWalker.keepHop(stepped, iter)
      live = next.filter(_.segActive).count()
      stateRelease()
      state = next
      stateRelease = nextRelease
      iter += 1
    }
    doneParts += checkpointTracked(state.filter(!_.segActive))

    // geometric-tail drain: the few remaining segments finish against
    // resolver point-lookups (driver memory O(tail × segment length)),
    // through the same miss-retry drain as SubgraphWalks
    if (live > 0) {
      val tail = checkpointTracked(state.filter(_.segActive))
      stateRelease()
      resolver.resolve(tail.map(_.cur).distinct().collect().toIndexedSeq)
      val (tailDone, _, tailRelease) = resolver.drain(tail) { (adj, s0: RepSt) =>
        var s = s0
        while (s.segActive) s = stepSegment(s, adj(s.cur), bDeltas.value, r, wv, p)
        Seq(s)
      }
      doneParts += tailDone
      releases += tailRelease
    } else {
      stateRelease()
    }

    val changed = doneParts
      .reduce(_ union _)
      // one slice per drain iteration — coalesce so downstream jobs over
      // the changed walks schedule O(cores) tasks, not O(hops × cores)
      .coalesce(spark.sparkContext.defaultParallelism)
      .filter(_.changed)
      .map(st => (WalkRow(st.walkId, st.start, st.path), st.origPath))
      .persist()
    val n = changed.count()
    // `changed` is a MEMORY_AND_DISK CacheManager cache and just
    // materialized — every drain slice and checkpoint can be released NOW
    // instead of at the JVM GC's leisure
    adjDF.unpersist()
    releases.foreach(_())
    (changed, n, () => { changed.unpersist(); () })
  }
}
