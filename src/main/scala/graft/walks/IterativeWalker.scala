package graft.walks

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CacheOps, CrawlParams, WalkRow}

/** Join-based distributed walk generation and the one wave rule of the
  * engine's walk generation and repair (SURVEY.md §7.4 item 3).
  *
  * The resolver drain (SubgraphWalks.Resolver.drain) collects the follow
  * lists a wave visits to the driver — fine while a wave's neighborhood
  * fits in memory, impossible for a mass wave at 10^10-frontier scale. The
  * hop loop, [[drainHops]], instead keeps adjacency as a distributed table
  * and advances ALL in-flight walks one hop per iteration with a single
  * equi-join (walk.cur == adj.src), shuffling only live walks (the
  * bulk-synchronous hop pattern of Distributed Edge Partitioning for
  * Trillion-edge Graphs, VLDB'19). Expected iterations ≈ geometric tail of
  * α (≈ 7 live hops on average, tail drains by ~α^k); lineage is cut with
  * localCheckpoint every few steps. The array walker, the exploded-edge
  * walker and the repair segments differ only in state row, hop join and
  * hop table; all run the one hop loop.
  *
  * A wave of the crawl — promotion-wave generation ([[generateAll]]) or
  * repair (IterativeRepair.repairAll) — follows one rule,
  * [[hopThenDrain]]: while more than [[TailThreshold]] walks are live, hop
  * by joins; the resolver drain finishes the rest. The query operators
  * that walk a whole graph ([[generateReleasable]],
  * [[generateExplodedReleasable]]) hop to the end.
  *
  * Because every draw is counter-based (WalkAlgebra.genContinues /
  * genNextIndex keyed by walkId/round/wave/step) and the array walker's hop
  * is generateWalk's own step (WalkAlgebra.genStep), this produces EXACTLY
  * the same walks as WalkAlgebra.generateWalk — asserted by
  * IterativeWalkerSpec.
  */
object IterativeWalker {

  /** Edge count up to which the hop join broadcasts the graph side (guide
    * §3.1) — fixture graphs and small crawl rounds qualify; a
    * production-scale graph never does. It counts EDGES, not adjacency
    * rows: a handful of array rows can carry 10^8 edges.
    */
  private val BroadcastMaxEdges = 65536L

  /** Every CheckpointEvery-th hop state is a local checkpoint (plan depth
    * stays bounded); the others are plain persists.
    */
  private val CheckpointEvery = 8

  /** Hops between two live-count probes (see [[drainHops]]). */
  private val LiveCheckEvery = 4

  /** Live walks above which a wave of generation or repair advances them
    * by hop joins before the resolver drain finishes the rest. Measured
    * on a 4-core host at `local[4]` (4 GB driver heap), on random
    * degree-10 graphs; each cell is wall ms.
    *
    * Repair: one wave in which every walk grafts at one hub
    * (IterativeRepairSpec's shape); repairAll plus the collect of the
    * changed ids, the drain alone against hop joins down to a quarter of
    * the live count followed by the drain:
    *
    * {{{
    * live   200k edges: drain / hops   2M edges: drain / hops
    * 1k     8,301 (cold) / 12,269      8,645-13,602 / 17,083-19,274
    * 2k     2,597 / 12,441             -
    * 8k     2,132 / 8,011              16,469-17,509 / 16,471-16,937
    * 32k    1,814 / 6,706              10,500-12,536 / 25,155-26,665
    * }}}
    *
    * Generation: one promotion wave of 10 walks per start node on the
    * 200k-edge graph; generateAll plus a count of the walks, 2 reps: the
    * drain alone, hop joins down to 32k followed by the drain, and hop
    * joins to the end. Below 32k the middle run never hops, so it is one
    * more drain run, counted in the drain's range:
    *
    * {{{
    * live   drain         hops to 32k + drain   hops to the end
    * 8k     2,362-2,875   -                     170,926-185,348
    * 32k    2,567-3,142   -                     198,127-198,435
    * 128k   1,906-2,232   24,882-25,337         236,717-240,035
    * }}}
    *
    * The drain won or tied at every count measured, for both kinds of
    * wave. Its cost is set by the neighborhood it resolves (nearly the
    * whole graph here), while a hop costs one round of Spark jobs. So
    * generation's crossover lies above 128k live walks on this graph, and
    * the one threshold stays at the largest count where both kinds were
    * measured. Above it, the hop loop also keeps a mass wave's
    * neighborhoods off the driver: BASELINE.md records a 25k-author wave
    * at 1M pages repaired in 14.6 s that way, against 30 s by the drain
    * alone.
    */
  private[graft] val TailThreshold = 32000L

  /** A generation walk in flight: `path` ends at `cur`, and `alive` says
    * whether it takes its step `step` (so a walk that reached
    * maxWalkSteps is not alive).
    */
  case class St(
      walkId: Long,
      start: Long,
      path: Array[Long],
      cur: Long,
      step: Long,
      alive: Boolean
  )

  /** Adjacency table from an edges Dataset: (src, follows sorted asc) —
    * sorted order is part of the walk spec.
    */
  def adjacencyTable(spark: SparkSession, edges: Dataset[(Long, Long)]): Dataset[(Long, Array[Long])] = {
    import spark.implicits._
    edges.groupByKey(_._1).mapGroups((src, it) => (src, it.map(_._2).toArray.sorted))
  }

  /** The `walksPerNode` walks of start node `node` before their first
    * step; walkIds are nodeId*walksPerNode+i as everywhere else.
    */
  private def startWalks(p: CrawlParams)(node: Long): Iterator[St] =
    (0 until p.walksPerNode).iterator.map { i =>
      St(node * p.walksPerNode + i, node, Array(node), node, 0L, alive = p.maxWalkSteps > 0)
    }

  /** Initial in-flight segments: `walksPerNode` per start node. The
    * flatMap multiplies each input row by walksPerNode IN PLACE — a
    * single-source call (the distributed personalized rank's shape) would
    * otherwise emit ALL numWalks segments from one input row into ONE
    * partition and push the whole hop-1 map through one task, so the
    * fan-out is immediately repartitioned by walkId (tiny length-1 rows;
    * one cheap exchange). Residual hop-1 JOIN-key skew (every segment
    * carries cur = source) is AQE's skew-split domain; the partition spread
    * here is pinned by PersonalizedSpec's task-level assertion.
    */
  private[graft] def initialSegments(
      spark: SparkSession,
      starts: Dataset[Long],
      params: CrawlParams
  ): Dataset[St] = {
    import spark.implicits._
    starts
      .flatMap(startWalks(params))
      .repartition(spark.sparkContext.defaultParallelism, col("walkId"))
  }

  /** One generation step of `s`, `follows` being its node's follow list. */
  private def genHop(p: CrawlParams, round: Long, wave: Int)(s: St, follows: Array[Long]): St =
    WalkAlgebra.genStep(p, s.walkId, round, wave, s.step, s.path, follows) match {
      case Some(path) => St(s.walkId, s.start, path, path.last, s.step + 1, alive = s.step + 1 < p.maxWalkSteps)
      case None       => s.copy(step = s.step + 1, alive = false)
    }

  /** One hop's state, kept: a local checkpoint every [[CheckpointEvery]]
    * hops, a plain persist otherwise. Returns the kept state and its
    * release handle.
    */
  private def keepHop[S](stepped: Dataset[S], iter: Int): (Dataset[S], () => Unit) =
    if (iter % CheckpointEvery == CheckpointEvery - 1) CacheOps.checkpointReleasable(stepped)
    else { val n = stepped.persist(); (n, () => { n.unpersist(); () }) }

  /** The hop loop every walker shares: `hop` advances the rows for which
    * `alive` holds one hop against the hop side (`hopTable`, broadcast when
    * it carries at most [[BroadcastMaxEdges]] edges) while more than
    * `stopAt` of them are live; `live` is the live count of `init`. The
    * live count is probed every [[LiveCheckEvery]] hops, so the loop may
    * overshoot `stopAt`; counter-based draws make that harmless. `edges`
    * is evaluated once, before the first hop. `init` stays the caller's to
    * release; it is read twice by the first hop, so it should be cached or
    * cheap. Returns `out` of every row, settled or not, materialized in ONE
    * checkpoint, plus its release handle; every intermediate cache and
    * `hopTable` are released inside.
    */
  private def drainHops[S, O](
      spark: SparkSession,
      init: Dataset[S],
      live: Long,
      stopAt: Long,
      hopTable: DataFrame,
      edges: => Long
  )(alive: S => Boolean, hop: (Dataset[S], DataFrame) => Dataset[S], out: Dataset[S] => Dataset[O]): (Dataset[O], () => Unit) = {
    // size-aware join strategy (guide §3.1: broadcast the side that fits):
    // a broadcast graph side lets the walk side flow with NO exchange, and
    // the broadcast build is shared across the hops of one probe action
    // (exchange reuse). Walks are identical either way (join strategy, not
    // join semantics)
    val hopSide = if (edges <= BroadcastMaxEdges) broadcast(hopTable) else hopTable
    var state = init
    var n = live
    val doneParts = mutable.ArrayBuffer.empty[Dataset[S]]
    // release handles for every cache the drain takes — all deferred to the
    // final union (Dataset.unpersist cannot release local checkpoints,
    // CacheOps scaladoc), then released deterministically before returning
    val releases = mutable.ArrayBuffer.empty[() => Unit]
    var iter = 0
    while (n > stopAt) {
      // settled walks accumulate as LAZY filters over each hop's persisted
      // state — zero extra jobs per hop (the r5 shape eagerly checkpointed
      // each slice: one full job dispatch per hop just to copy settled rows
      // out; at fixture scale job latency dominated the drain). The cost is
      // that superseded state caches stay alive until the final union
      // materializes — bounded by Σ|state_k| ≈ total visits, the same order
      // as the drain's output, and MEMORY_AND_DISK spills past that.
      doneParts += state.filter((s: S) => !alive(s))
      val (next, nextRelease) = keepHop(hop(state.filter(alive), hopSide), iter)
      releases += nextRelease
      state = next
      iter += 1
      // the live count is only the exit probe — every probe is a full
      // job dispatch, so probing every hop made the drain's cost the JOB
      // COUNT at fixture scale (r6 profiling: 73 sub-0.25 s jobs on the
      // 12-hop single-source rank). Probe every LiveCheckEvery hops instead:
      // un-probed hops chain lazily and the next probe materializes them in
      // one submission. Walks are identical either way (counter-based draws;
      // extra hops past global death are empty-join no-ops).
      if (iter % LiveCheckEvery == 0) n = next.filter(alive).count()
    }
    // every surviving slice is checkpointed or cache-materialized by the
    // last probe, so the hop table can be released here
    hopTable.unpersist()
    doneParts += state
    val (o, oRelease) = CacheOps.checkpointReleasable(
      out(
        doneParts
          .reduce(_ union _)
          // the union carries one slice per hop (tens of slices × shuffle
          // partitions each) — coalesce so every downstream job over the
          // rows schedules O(cores) tasks, not O(hops × cores)
          .coalesce(spark.sparkContext.defaultParallelism)
      )
    )
    // every per-hop slice and superseded state cache is released NOW, not
    // at JVM GC's leisure
    releases.foreach(_())
    (o, oRelease)
  }

  /** [[drainHops]] over `adjacency`'s (src, follows) rows: each hop joins
    * the live rows' `cur` column with the hop table and applies `step` to
    * a row and its node's follow list (empty at a node without a row).
    */
  private def arrayDrainHops[S <: Product: TypeTag, O](
      spark: SparkSession,
      init: Dataset[S],
      live: Long,
      stopAt: Long,
      adjacency: Dataset[(Long, Array[Long])]
  )(alive: S => Boolean, step: (S, Array[Long]) => S, out: Dataset[S] => Dataset[O]): (Dataset[O], () => Unit) = {
    import spark.implicits._
    // the adjacency aggregation (edges → groupByKey → sort) is hop-invariant:
    // materialize it ONCE for the whole drain instead of re-running the
    // full-graph shuffle on every hop. The explicit repartition by the join
    // key makes the CACHED partitioning hash(src), which every per-hop
    // equi-join reuses — without it each hop re-exchanges the full
    // adjacency (cached rows, but a full shuffle per hop: the dominant
    // per-hop cost at 10^10 edges)
    val adjDF = adjacency.toDF("src", "follows").repartition(col("src")).persist()
    // the gate's edge count materializes the cache in the same single job
    // a row count would
    drainHops(spark, init, live, stopAt, adjDF, adjDF.agg(coalesce(sum(size(col("follows"))), lit(0L))).as[Long].collect().head)(
      alive,
      (liveDS, adjSide) =>
        liveDS
          .joinWith(adjSide, liveDS("cur") === adjSide("src"), "left_outer")
          .map { case (s, adjRow) =>
            step(s, if (adjRow == null) Array.emptyLongArray else adjRow.getAs[scala.collection.Seq[Long]]("follows").toArray)
          },
      out
    )
  }

  /** The wave rule of the crawl's walk generation and repair: while more
    * than [[TailThreshold]] of the state rows `rows` are live (`live` of
    * them, known to the caller), they hop by joins against the resolver's
    * edges table, each hop applying `step` to a live row (`alive`) and the
    * follow list of its `cur` node; then the resolver is seeded with the
    * live rows' nodes — or, for a wave that never hopped, by `seed` — and
    * `Resolver.drain` runs `finish` on every row. Returns the drain's
    * outputs, their count and their release; `rows` stays the caller's to
    * release once the drain has returned.
    */
  private[walks] def hopThenDrain[S <: Product: TypeTag, O: TypeTag](
      spark: SparkSession,
      resolver: SubgraphWalks.Resolver,
      rows: Dataset[S],
      live: Long,
      alive: S => Boolean,
      step: (S, Array[Long]) => S,
      seed: => Unit
  )(finish: (WalkAlgebra.Adjacency, S) => Seq[O]): (Dataset[O], Long, () => Unit) = {
    import spark.implicits._
    val (toDrain, release) =
      if (live <= TailThreshold) { seed; (rows, () => ()) }
      else {
        // the hop rows land in one checkpoint: the drain then plans a flat
        // input of O(cores) partitions, not the hops' lineage over
        // O(hops × cores) partitions (a lazy union of the hop plans made
        // the drain re-plan that lineage every attempt)
        val adjacency = adjacencyTable(spark, resolver.edges().select("src", "dst").as[(Long, Long)])
        val (tail, tailRelease) = arrayDrainHops(spark, rows, live, TailThreshold, adjacency)(alive, step, identity)
        resolver.resolve(tail.filter(alive).select("cur").distinct().as[Long].collect().toIndexedSeq)
        (tail, tailRelease)
      }
    val drained = resolver.drain(toDrain)(finish)
    // the drain materialized its attempt caches: nothing reads its input
    // any more
    release()
    drained
  }

  /** The crawl's promotion-wave generation: `walksPerNode` walks per start
    * node against the resolver's edges table, by [[hopThenDrain]] — the
    * walk count is known on the driver, so picking the branch costs no
    * job. A wave that never hops seeds the resolver with the start nodes
    * (+ one speculative hop). Returns the walks, lazy over the drain's
    * attempt caches, and the release of those caches.
    */
  def generateAll(
      spark: SparkSession,
      startIds: Seq[Long],
      resolver: SubgraphWalks.Resolver,
      round: Long,
      wave: Int,
      params: CrawlParams
  ): (Dataset[WalkRow], () => Unit) = {
    import spark.implicits._
    val rows = spark.createDataset(startIds).flatMap(startWalks(params))
    val live = startIds.size.toLong * params.walksPerNode
    val (walks, _, release) =
      hopThenDrain(spark, resolver, rows, live, (_: St).alive, genHop(params, round, wave), resolver.resolve(startIds)) {
        (adj, s: St) =>
          val path = if (s.alive) WalkAlgebra.finishWalk(adj, s.path, s.walkId, s.step, round, wave, params) else s.path
          Seq(WalkRow(s.walkId, s.start, path))
      }
    (walks, release)
  }

  /** Generate `walksPerNode` walks per start node, hopping every walk to
    * its end. `starts` carries (nodeId); walkIds are nodeId*walksPerNode+i
    * as everywhere else. Returns the walks materialized in ONE cache plus
    * its release handle — every intermediate drain cache was already
    * released inside. Long-lived callers release the output
    * deterministically once it is folded into their own state.
    */
  def generateReleasable(
      spark: SparkSession,
      starts: Dataset[Long],
      adjacency: Dataset[(Long, Array[Long])],
      round: Long,
      wave: Int,
      params: CrawlParams
  ): (Dataset[WalkRow], () => Unit) = {
    import spark.implicits._
    val init = initialSegments(spark, starts, params).persist()
    val walks = arrayDrainHops(spark, init, init.filter(_.alive).count(), 0L, adjacency)(
      _.alive,
      genHop(params, round, wave),
      _.map(s => WalkRow(s.walkId, s.start, s.path))
    )
    init.unpersist()
    walks
  }

  /** Exploded-edge walk state: carries the CURRENT node's out-degree (so a
    * hop needs no degree lookup) and the RNG-drawn next-edge index the hop's
    * single join resolves. `nextIdx = -1` marks rows with no pending lookup.
    */
  case class StE(
      walkId: Long,
      start: Long,
      path: Array[Long],
      cur: Long,
      curDeg: Int,
      step: Long,
      alive: Boolean,
      nextIdx: Int
  )

  /** Mega-hub-safe walk generation over EXPLODED edges — byte-identical
    * output to [[generateReleasable]] (IterativeWalkerSpec asserts it),
    * different join shape for a different scale regime.
    *
    * [[generateReleasable]] joins each live walk against a (src, follows ARRAY) row:
    * the right shape when degrees are modest, but at a 10^8-degree mega-hub
    * every walk standing on the hub receives a COPY of the hub's whole
    * follow array through one shuffle key — O(walks_on_hub × degree)
    * replicated bytes on one reducer, the exact q43 single-source scenario.
    *
    * Here adjacency is (src, idx, dst, dstDeg) — one row per edge, idx =
    * dst's rank in src's sorted follow list — and the walk state carries
    * curDeg, so each hop is:
    *
    *   1. map: draw continue/stop and nextIdx = genNextIndex(curDeg)
    *      locally (no lookup — curDeg rode in on the previous hop);
    *   2. ONE inner-ish equi-join on the COMPOSITE key (cur, nextIdx):
    *      every live walk matches exactly one edge row, which also carries
    *      the destination's degree for the next hop.
    *
    * A mega-hub's walks therefore spread over min(walks, degree) distinct
    * (hub, idx) shuffle keys instead of one, and no follow array is ever
    * materialized or replicated. The cost is the exploded table (|E| skinny
    * rows — bucketable/cacheable hash(src, idx), reused every hop) and the
    * one-time dstDeg self-join at build. The crawl engine keeps the array
    * walker (avg web degree ~50 makes arrays cheaper); the distributed
    * personalized rank uses THIS path, where the source is a hub by
    * definition.
    */
  def generateExplodedReleasable(
      spark: SparkSession,
      starts: Dataset[Long],
      adjacency: Dataset[(Long, Array[Long])],
      round: Long,
      wave: Int,
      params: CrawlParams
  ): (Dataset[WalkRow], () => Unit) = {
    import spark.implicits._
    val p = params
    // the adjacency aggregation feeds THREE build-time derivations (the
    // posexplode side, the dstDeg side of the edgesIdx join, startDegs) —
    // cache it for the build so the full-graph groupByKey runs once, and
    // release it before the drain (edgesIdx is the only table the hops use)
    val adjDF = adjacency.toDF("src", "follows").persist()
    val degrees = adjDF.select(col("src"), size(col("follows")).cast("int").as("deg"))
    // (src, idx, dst, dstDeg): posexplode of the SAME sorted array the array
    // walker walks over, so idx ranks agree even with duplicate edges; dstDeg is
    // resolved once at build (left_outer: a sink node has no degrees row)
    val edgesIdx = adjDF
      .select(col("src"), posexplode(col("follows")).as(Seq("idx", "dst")))
      .join(degrees.select(col("src").as("dst"), col("deg").as("dstDeg")), Seq("dst"), "left_outer")
      .select(
        col("src"),
        col("idx").cast("int").as("idx"),
        col("dst"),
        coalesce(col("dstDeg"), lit(0)).as("dstDeg")
      )
      // hash(src, idx) IS the per-hop join key: the cached partitioning is
      // reused by every hop's equi-join (same discipline as the array
      // walker's hash(src) adjacency cache)
      .repartition(col("src"), col("idx"))
      .persist()

    val startDegs = starts
      .toDF("node")
      .join(degrees.select(col("src").as("node"), col("deg")), Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("deg"), lit(0)).as("deg"))
      .as[(Long, Int)]
    val init = startDegs
      .flatMap { case (node, deg) =>
        (0 until p.walksPerNode).iterator.map { i =>
          StE(node * p.walksPerNode + i, node, Array(node), node, deg, 0L, alive = p.maxWalkSteps > 0, nextIdx = -1)
        }
      }
      // same single-source fan-out spread as initialSegments
      .repartition(spark.sparkContext.defaultParallelism, col("walkId"))
      .persist()
    // the initial live count materializes adjDF: materialize edgesIdx from
    // that cache before dropping it; the exploded table is one row per
    // edge, so its row count is the gate's edge count
    val live = init.filter(_.alive).count()
    def edges: Long = { val n = edgesIdx.count(); adjDF.unpersist(); n }
    val hop = (liveDS: Dataset[StE], edgeSide: DataFrame) => {
      // decide locally: stop draw and next-edge index need only curDeg
      val decided = liveDS.map { s =>
        if (!WalkAlgebra.genContinues(p, s.walkId, round, wave, s.step) || s.curDeg == 0)
          s.copy(step = s.step + 1, alive = false, nextIdx = -1)
        else s.copy(nextIdx = WalkAlgebra.genNextIndex(p, s.walkId, round, wave, s.step, s.curDeg))
      }
      // rows settled by the decide map carry nextIdx = -1 and match nothing
      // (idx >= 0), passing through the left join untouched; every live row
      // matches EXACTLY ONE edge (nextIdx < curDeg by construction)
      decided
        .joinWith(
          edgeSide,
          decided("cur") === edgeSide("src") && decided("nextIdx") === edgeSide("idx"),
          "left_outer"
        )
        .map { case (s, e) =>
          if (!s.alive) s
          else {
            val dst = e.getAs[Long]("dst")
            if (s.path.contains(dst)) s.copy(step = s.step + 1, alive = false, nextIdx = -1)
            else StE(s.walkId, s.start, s.path :+ dst, dst, e.getAs[Int]("dstDeg"), s.step + 1, alive = s.step + 1 < p.maxWalkSteps, nextIdx = -1)
          }
        }
    }
    val walks = drainHops(spark, init, live, 0L, edgesIdx, edges)(_.alive, hop, _.map(s => WalkRow(s.walkId, s.start, s.path)))
    init.unpersist()
    walks
  }
}
