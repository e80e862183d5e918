package graft.walks

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CacheOps, CrawlParams, WalkRow}

/** Join-based distributed walk generation — the scale path beyond broadcast
  * adjacency (SURVEY.md §7.4 item 3).
  *
  * The broadcast generator collects the crawled-subgraph adjacency to every
  * executor — fine while the fetched graph fits in memory, impossible at
  * 10^10-frontier scale. This walker instead keeps adjacency as a
  * distributed table and advances ALL in-flight walks one hop per
  * iteration with a single equi-join (walk.cur == adj.src), shuffling only
  * live walks. Expected iterations ≈ geometric tail of α (≈ 7 live hops on
  * average, tail drains by ~α^k); lineage is cut with localCheckpoint every
  * few steps. The array walker and the exploded-edge walker differ only in
  * state row, hop join and hop table; both run the one hop loop,
  * [[drainHops]].
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

  /** What the shared hop drain reads of a walker's state row. */
  sealed trait Hop {
    def walkId: Long
    def start: Long
    def path: Array[Long]
    def alive: Boolean
  }

  case class St(
      walkId: Long,
      start: Long,
      path: Array[Long],
      cur: Long,
      step: Long,
      alive: Boolean
  ) extends Hop

  /** Adjacency table from an edges Dataset: (src, follows sorted asc) —
    * sorted order is part of the walk spec.
    */
  def adjacencyTable(spark: SparkSession, edges: Dataset[(Long, Long)]): Dataset[(Long, Array[Long])] = {
    import spark.implicits._
    edges.groupByKey(_._1).mapGroups((src, it) => (src, it.map(_._2).toArray.sorted))
  }

  /** Initial in-flight segments: `walksPerNode` per start node, walkIds
    * nodeId*walksPerNode+i as everywhere else. The flatMap multiplies each
    * input row by walksPerNode IN PLACE — a single-source call (the
    * distributed personalized rank's shape) would otherwise emit ALL
    * numWalks segments from one input row into ONE partition and push the
    * whole hop-1 map through one task, so the fan-out is immediately
    * repartitioned by walkId (tiny length-1 rows; one cheap exchange).
    * Residual hop-1 JOIN-key skew (every segment carries cur = source) is
    * AQE's skew-split domain; the partition spread here is pinned by
    * PersonalizedSpec's task-level assertion.
    */
  private[graft] def initialSegments(
      spark: SparkSession,
      starts: Dataset[Long],
      params: CrawlParams
  ): Dataset[St] = {
    import spark.implicits._
    val p = params
    starts
      .flatMap { node =>
        (0 until p.walksPerNode).iterator.map { i =>
          St(node * p.walksPerNode + i, node, Array(node), node, 0L, alive = true)
        }
      }
      .repartition(spark.sparkContext.defaultParallelism, col("walkId"))
  }

  /** One hop's state, kept: a local checkpoint every [[CheckpointEvery]]
    * hops, a plain persist otherwise. Returns the kept state and its
    * release handle.
    */
  private[walks] def keepHop[S](stepped: Dataset[S], iter: Int): (Dataset[S], () => Unit) =
    if (iter % CheckpointEvery == CheckpointEvery - 1) CacheOps.checkpointReleasable(stepped)
    else { val n = stepped.persist(); (n, () => { n.unpersist(); () }) }

  /** The hop drain both walkers share: `hop` advances the live rows one
    * hop against the hop side (`hopTable`, broadcast when it carries at
    * most [[BroadcastMaxEdges]] edges) until no walk is alive or
    * `maxSteps` hops ran. `edges` is evaluated once, after the initial
    * state is materialized. Returns the finished walks, materialized in ONE
    * checkpoint, plus its release handle; every intermediate cache and
    * `hopTable` are released inside.
    */
  private def drainHops[S <: Hop](
      spark: SparkSession,
      init: Dataset[S],
      hopTable: DataFrame,
      edges: => Long,
      maxSteps: Int
  )(hop: (Dataset[S], DataFrame) => Dataset[S]): (Dataset[WalkRow], () => Unit) = {
    import spark.implicits._
    var state = init.persist()
    var stateRelease: () => Unit = { val s = state; () => { s.unpersist(); () } }
    var live = state.filter(_.alive).count()
    // size-aware join strategy (guide §3.1: broadcast the side that fits):
    // a broadcast graph side lets the walk side flow with NO exchange, and
    // the broadcast build is shared across the hops of one probe action
    // (exchange reuse). Walks are identical either way (join strategy, not
    // join semantics)
    val hopSide = if (edges <= BroadcastMaxEdges) broadcast(hopTable) else hopTable
    val doneParts = mutable.ArrayBuffer.empty[Dataset[S]]
    // release handles for every cache the drain takes — all deferred to the
    // final union (Dataset.unpersist cannot release local checkpoints,
    // CacheOps scaladoc), then released deterministically before returning
    val releases = mutable.ArrayBuffer.empty[() => Unit]
    var iter = 0
    while (live > 0 && iter < maxSteps) {
      // settled walks accumulate as LAZY filters over each hop's persisted
      // state — zero extra jobs per hop (the r5 shape eagerly checkpointed
      // each slice: one full job dispatch per hop just to copy settled rows
      // out; at fixture scale job latency dominated the drain). The cost is
      // that superseded state caches stay alive until the final union
      // materializes — bounded by Σ|state_k| ≈ total visits, the same order
      // as the drain's output, and MEMORY_AND_DISK spills past that.
      doneParts += state.filter(!_.alive)
      releases += stateRelease
      val (next, nextRelease) = keepHop(hop(state.filter(_.alive), hopSide), iter)
      state = next
      stateRelease = nextRelease
      iter += 1
      // the live count is only the early-exit probe — every probe is a full
      // job dispatch, so probing every hop made the drain's cost the JOB
      // COUNT at fixture scale (r6 profiling: 73 sub-0.25 s jobs on the
      // 12-hop single-source rank). Probe every LiveCheckEvery hops instead:
      // un-probed hops chain lazily and the next probe materializes them in
      // one submission. Walks are identical either way (counter-based draws;
      // extra hops past global death are empty-join no-ops).
      if (iter % LiveCheckEvery == 0 || iter >= maxSteps)
        live = next.filter(_.alive).count()
    }
    // every surviving slice is checkpointed or cache-materialized by the
    // last probe, so the hop table can be released here
    hopTable.unpersist()
    doneParts += state
    val (out, outRelease) = CacheOps.checkpointReleasable(
      doneParts
        .reduce(_ union _)
        // the union carries one slice per drain iteration (tens of slices ×
        // shuffle partitions each) — coalesce so every downstream job over
        // the generated walks schedules O(cores) tasks, not O(hops × cores)
        .coalesce(spark.sparkContext.defaultParallelism)
        .map(s => WalkRow(s.walkId, s.start, s.path))
    )
    // every per-hop slice and superseded state cache is released NOW, not
    // at JVM GC's leisure
    releases.foreach(_())
    stateRelease()
    (out, outRelease)
  }

  /** Generate `walksPerNode` walks per start node. `starts` carries
    * (nodeId); walkIds are nodeId*walksPerNode+i as everywhere else.
    * Returns the walks materialized in ONE cache plus its release handle —
    * every intermediate drain cache was already released inside.
    * Long-lived callers (the round loop) release the output
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
    val p = params
    // the adjacency aggregation (edges → groupByKey → sort) is hop-invariant:
    // materialize it ONCE for the whole drain instead of re-running the
    // full-graph shuffle on every hop (IterativeRepair does the same). The
    // explicit repartition by the join key makes the CACHED partitioning
    // hash(src), which every per-hop equi-join reuses — without it each hop
    // re-exchanges the full adjacency (cached rows, but a full shuffle per
    // hop: the dominant per-hop cost at 10^10 edges)
    val adjDF = adjacency.toDF("src", "follows").repartition(col("src")).persist()
    // the gate's edge count materializes the cache in the same single job
    // a row count would
    val edges = adjDF.agg(coalesce(sum(size(col("follows"))), lit(0L))).as[Long]
    drainHops(spark, initialSegments(spark, starts, p), adjDF, edges.collect().head, params.maxWalkSteps) { (liveDS, adjSide) =>
      liveDS
        .joinWith(adjSide, liveDS("cur") === adjSide("src"), "left_outer")
        .map { case (s, adjRow) =>
          def follows = if (adjRow == null) Array.emptyLongArray else adjRow.getAs[scala.collection.Seq[Long]]("follows").toArray
          WalkAlgebra.genStep(p, s.walkId, round, wave, s.step, s.path, follows) match {
            case Some(path) => St(s.walkId, s.start, path, path.last, s.step + 1, alive = true)
            case None       => s.copy(step = s.step + 1, alive = false)
          }
        }
    }
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
  ) extends Hop

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
          StE(node * p.walksPerNode + i, node, Array(node), node, deg, 0L, alive = true, nextIdx = -1)
        }
      }
      // same single-source fan-out spread as initialSegments
      .repartition(spark.sparkContext.defaultParallelism, col("walkId"))
    // the initial live count has materialized adjDF: materialize edgesIdx
    // from that cache before dropping it; the exploded table is one row
    // per edge, so its row count is the gate's edge count
    def edges: Long = { val n = edgesIdx.count(); adjDF.unpersist(); n }
    drainHops(spark, init, edgesIdx, edges, params.maxWalkSteps) { (liveDS, edgeSide) =>
      // decide locally: stop draw and next-edge index need only curDeg
      val decided = liveDS.map { s =>
        if (!WalkAlgebra.genContinues(p, s.walkId, round, wave, s.step)) {
          s.copy(step = s.step + 1, alive = false, nextIdx = -1)
        } else if (s.curDeg == 0) {
          s.copy(step = s.step + 1, alive = false, nextIdx = -1)
        } else {
          s.copy(nextIdx = WalkAlgebra.genNextIndex(p, s.walkId, round, wave, s.step, s.curDeg))
        }
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
            else StE(s.walkId, s.start, s.path :+ dst, dst, e.getAs[Int]("dstDeg"), s.step + 1, alive = true, nextIdx = -1)
          }
        }
    }
  }
}
