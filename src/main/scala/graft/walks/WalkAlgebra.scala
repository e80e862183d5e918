package graft.walks

import graft.core.{CrawlParams, DeltaRow, Rng}

/** Pure, order-independent walk algorithms — the single implementation used
  * by BOTH the sequential executable spec and the distributed Spark engine.
  * Byte-equivalence between the two (the north-rule's crawl-order +
  * seen-set criterion, SURVEY.md §7.4) reduces to: same inputs + same pure
  * functions ⇒ same outputs, regardless of partitioning.
  *
  * Reference semantics reproduced exactly (see file:line cites):
  *  - walk generation: /root/reference/pkg/walks/walks.go:136-174
  *    (start node always included; continue w.p. α; uniform next hop among
  *    follows; stop on dangling node; stop on cycle WITHOUT appending).
  *  - walk repair: /root/reference/pkg/walks/walks.go:191-259
  *    (resample w.p. a/(a+k) → prune at the delta node, α-gated graft of a
  *    segment started from a random Added node; else if the next step is a
  *    Removed node → prune and graft a segment from the Kept nodes,
  *    ungated; graft trims at the first global repetition, walks.go:84-92).
  *
  * The reference's unseeded global RNG is replaced by counter-based draws
  * (see [[graft.core.Rng]]); each draw is keyed by
  * (walkId, round | wave | step, purpose), so no draw depends on evaluation
  * order. Walk-visit positions and in-round waves keep repair draws unique.
  */
object WalkAlgebra extends Serializable {

  // Purpose codes for RNG draws (never reuse across contexts).
  private val GenContinue = 1L
  private val GenNext = 2L
  private val RepResample = 3L
  private val RepAlpha = 4L
  private val SegStart = 5L
  private val SegContinue = 6L
  private val SegNext = 7L

  /** Packs (round, wave, step) into one RNG key field.
    * step < 2^20 (maxWalkSteps ≤ ~1M), wave < 16.
    */
  @inline private def stepKey(round: Long, wave: Int, step: Long): Long =
    (round << 24) | (wave.toLong << 20) | step

  /** Generation step draws. [[genStep]] makes them for the pure and the
    * array walkers; the exploded walker (IterativeWalker) splits the same
    * decision between its local decide map and its edge lookup.
    */
  @inline def genContinues(params: CrawlParams, walkId: Long, round: Long, wave: Int, step: Long): Boolean =
    Rng.u01(params.seed, walkId, stepKey(round, wave, step), GenContinue) <= params.alpha

  @inline def genNextIndex(params: CrawlParams, walkId: Long, round: Long, wave: Int, step: Long, n: Int): Int =
    Rng.uniformIndex(params.seed, walkId, stepKey(round, wave, step), GenNext, n)

  /** Repair-decision draws (reference ToUpdate, walks.go:199-244), made by
    * [[scanRepair]] alone.
    */
  @inline private def repResamples(params: CrawlParams, walkId: Long, round: Long, wave: Int, pos: Long, d: DeltaRow): Boolean = {
    val a = d.add.length.toDouble
    val kc = d.keep.length.toDouble
    val resampleP = if (d.add.isEmpty) 0.0 else a / (a + kc)
    Rng.u01(params.seed, walkId, stepKey(round, wave, pos), RepResample) < resampleP
  }

  @inline private def repAlphaPasses(params: CrawlParams, walkId: Long, round: Long, wave: Int, pos: Long): Boolean =
    Rng.u01(params.seed, walkId, stepKey(round, wave, pos), RepAlpha) < params.alpha

  /** Graft-segment draws. `posKey` namespaces a segment within
    * (walk, round, wave); the start draw ([[scanRepair]]) uses slot 0 of the
    * segment's key block, step draws ([[stepRepair]]) use slots step+1.
    */
  @inline private def segMaxSteps(params: CrawlParams): Long = math.min(params.maxWalkSteps.toLong, 1023L)

  @inline private def segStartIndex(params: CrawlParams, walkId: Long, round: Long, wave: Int, posKey: Long, n: Int): Int =
    Rng.uniformIndex(params.seed, walkId, stepKey(round, wave, posKey << 10), SegStart, n)

  @inline private def segContinues(params: CrawlParams, walkId: Long, round: Long, wave: Int, posKey: Long, step: Long): Boolean =
    Rng.u01(params.seed, walkId, stepKey(round, wave, (posKey << 10) | (step + 1)), SegContinue) <= params.alpha

  @inline private def segNextIndex(params: CrawlParams, walkId: Long, round: Long, wave: Int, posKey: Long, step: Long, n: Int): Int =
    Rng.uniformIndex(params.seed, walkId, stepKey(round, wave, (posKey << 10) | (step + 1)), SegNext, n)

  /** Adjacency access. Follow lists MUST be sorted ascending by node id —
    * next-hop selection picks by index, so ordering is part of the spec.
    */
  type Adjacency = Long => Array[Long]

  /** One generation step of walk `walkId` standing at the last node of
    * `path`, whose follow list is `follows`: the extended path, or None
    * when the walk stops — on the stop draw, at a dangling node, or on a
    * cycle (without appending). `follows` is read only after the continue
    * draw, so a stopping walk never looks up its node.
    */
  def genStep(
      params: CrawlParams,
      walkId: Long,
      round: Long,
      wave: Int,
      step: Long,
      path: Array[Long],
      follows: => Array[Long]
  ): Option[Array[Long]] =
    if (!genContinues(params, walkId, round, wave, step)) None
    else {
      val fl = follows
      if (fl.isEmpty) None
      else {
        val next = fl(genNextIndex(params, walkId, round, wave, step, fl.length))
        if (path.contains(next)) None else Some(path :+ next)
      }
    }

  /** Generate one walk from `start` (always included). Reference:
    * walks.go:140-174 with per-step seeded draws instead of a global RNG.
    */
  def generateWalk(
      adj: Adjacency,
      start: Long,
      walkId: Long,
      round: Long,
      wave: Int,
      params: CrawlParams
  ): Array[Long] = finishWalk(adj, Array(start), walkId, 0L, round, wave, params)

  /** Run walk `walkId`, standing at the last node of `path` before its
    * step `step0`, to its end against `adj`.
    */
  def finishWalk(
      adj: Adjacency,
      path0: Array[Long],
      walkId: Long,
      step0: Long,
      round: Long,
      wave: Int,
      params: CrawlParams
  ): Array[Long] = {
    var path = path0
    var step = step0
    var walking = true
    while (walking && step < params.maxWalkSteps) {
      genStep(params, walkId, round, wave, step, path, adj(path.last)) match {
        case Some(extended) => path = extended
        case None           => walking = false
      }
      step += 1
    }
    path
  }

  /** First index where two walks differ, -1 if equal. Reference Divergence
    * (walks.go:95-108) — used there to minimize store writes (O1); columnar
    * overwrite makes that unnecessary, kept as the test helper the reference
    * also uses.
    */
  def divergence(w1: Array[Long], w2: Array[Long]): Int = {
    val min = math.min(w1.length, w2.length)
    var i = 0
    while (i < min) {
      if (w1(i) != w2(i)) return i
      i += 1
    }
    if (w1.length == w2.length) -1 else min
  }

  /** First index holding a value already seen earlier, or -1.
    * Reference findCycle, walks.go:279-290.
    */
  def findCycle(path: Array[Long]): Int = {
    val seen = scala.collection.mutable.HashSet.empty[Long]
    var i = 0
    while (i < path.length) {
      if (!seen.add(path(i))) return i
      i += 1
    }
    -1
  }

  /** Append `segment` to `prefix`, truncating at the first global
    * repetition. Reference Walk.Graft, walks.go:84-92.
    */
  def graft(prefix: Array[Long], segment: Array[Long]): Array[Long] = {
    val combined = prefix ++ segment
    val cut = findCycle(combined)
    if (cut == -1) combined else combined.take(cut)
  }

  /** One walk's repair state. `path` is the committed path; a non-empty
    * `seg` is a graft segment in progress, drawn in the RNG namespace
    * `posKey` and waiting for the follow list of its last node `cur`.
    * The segment replaces `path` after position `posKey - 1`. `origPath`
    * is the path at wave start; its head is the walk's start, which repair
    * never changes.
    */
  case class RepSt(
      walkId: Long,
      origPath: Array[Long],
      path: Array[Long],
      changed: Boolean,
      seg: Array[Long],
      cur: Long,
      posKey: Long
  ) {
    def segActive: Boolean = seg.nonEmpty
  }

  /** Scan `st.path` from position `from`, applying the reference's ToUpdate
    * step (walks.go:199-244) at each delta node: resample w.p. a/(a+k) →
    * prune there, then an α-gated graft of a segment from the Added nodes;
    * else, if the next step is a Removed node → prune and graft a segment
    * from the Kept nodes. A prune with an empty pool commits inline; a
    * graft stops the scan with an active segment, whose remaining steps
    * need adjacency ([[stepRepair]]).
    */
  def scanRepair(
      st: RepSt,
      from: Int,
      deltas: scala.collection.Map[Long, DeltaRow],
      round: Long,
      wave: Int,
      params: CrawlParams
  ): RepSt = {
    var path = st.path
    var changed = st.changed
    var pos = from
    while (pos < path.length && pos < 1023) {
      deltas.get(path(pos)) match {
        case Some(d) =>
          val posL = pos.toLong
          // null ⇒ no event; empty ⇒ prune only; non-empty ⇒ graft
          val pool: Array[Long] =
            if (repResamples(params, st.walkId, round, wave, posL, d)) {
              if (repAlphaPasses(params, st.walkId, round, wave, posL)) d.add else Array.emptyLongArray
            } else if (pos + 1 < path.length && d.remove.contains(path(pos + 1))) d.keep
            else null
          if (pool != null && pool.nonEmpty) {
            val segStart = pool(segStartIndex(params, st.walkId, round, wave, posL + 1, pool.length))
            return RepSt(st.walkId, st.origPath, path, changed, Array(segStart), segStart, posL + 1)
          } else if (pool != null && pos + 1 < path.length) {
            path = path.take(pos + 1) // the prune drops a tail
            changed = true
          }
        case None => ()
      }
      pos += 1
    }
    RepSt(st.walkId, st.origPath, path, changed, Array.emptyLongArray, -1L, 0L)
  }

  /** The repair state of walk `walkId` on `path` once its scan first stops. */
  def startRepair(
      walkId: Long,
      path: Array[Long],
      deltas: scala.collection.Map[Long, DeltaRow],
      round: Long,
      wave: Int,
      params: CrawlParams
  ): RepSt =
    scanRepair(RepSt(walkId, path, path, changed = false, Array.emptyLongArray, -1L, 0L), 0, deltas, round, wave, params)

  /** Advance `st`'s active segment one step, `follows` being the follow
    * list of `st.cur` (read only after the continue draw). A finished
    * segment is grafted onto the pruned path, trimmed at its first global
    * repetition (walks.go:84-92), and the scan resumes after the event —
    * which may open the next segment.
    */
  def stepRepair(
      st: RepSt,
      follows: => Array[Long],
      deltas: scala.collection.Map[Long, DeltaRow],
      round: Long,
      wave: Int,
      params: CrawlParams
  ): RepSt = {
    val step = st.seg.length - 1L
    if (step < segMaxSteps(params) && segContinues(params, st.walkId, round, wave, st.posKey, step)) {
      val fl = follows
      if (fl.nonEmpty) {
        val next = fl(segNextIndex(params, st.walkId, round, wave, st.posKey, step, fl.length))
        if (!st.seg.contains(next)) return st.copy(seg = st.seg :+ next, cur = next)
      }
    }
    val np = graft(st.path.take(st.posKey.toInt), st.seg)
    val changed = st.changed || !java.util.Arrays.equals(np, st.path)
    scanRepair(st.copy(path = np, changed = changed), st.posKey.toInt, deltas, round, wave, params)
  }

  /** Run `st`'s segments to the end of its scan against `adj`. */
  def finishRepair(
      adj: Adjacency,
      st: RepSt,
      deltas: scala.collection.Map[Long, DeltaRow],
      round: Long,
      wave: Int,
      params: CrawlParams
  ): RepSt = {
    var s = st
    while (s.segActive) s = stepRepair(s, adj(s.cur), deltas, round, wave, params)
    s
  }

  /** Repair one walk against a wave of deltas (node → delta): the
    * sequential driver of the repair state machine ([[startRepair]],
    * [[stepRepair]]). After a graft the scan continues on the NEW path, so
    * delta nodes in a grafted tail are also repaired — the deterministic
    * batch analog of the reference processing events one at a time (each
    * later event sees already-repaired walks). Returns Some(newPath) iff
    * the path changed.
    *
    * `adj` must be the adjacency AFTER this wave's deltas are applied
    * (the reference updates the graph before repairing walks,
    * /root/reference/pkg/pipe/engine/engine.go:346-369).
    */
  def repairWalk(
      adj: Adjacency,
      deltas: scala.collection.Map[Long, DeltaRow],
      walkId: Long,
      path0: Array[Long],
      round: Long,
      wave: Int,
      params: CrawlParams
  ): Option[Array[Long]] = {
    val st = finishRepair(adj, startRepair(walkId, path0, deltas, round, wave, params), deltas, round, wave, params)
    if (st.changed) Some(st.path) else None
  }

  /** 3-way set partition old vs new → (remove, keep, add), each sorted
    * ascending. Reference NewDelta / slicex.Partition
    * (/root/reference/pkg/graph/graph.go:84-92).
    */
  def newDelta(node: Long, oldList: Array[Long], newList: Array[Long]): DeltaRow = {
    val oldSet = oldList.toSet
    val newSet = newList.toSet
    DeltaRow(
      node,
      remove = oldSet.diff(newSet).toArray.sorted,
      keep = oldSet.intersect(newSet).toArray.sorted,
      add = newSet.diff(oldSet).toArray.sorted
    )
  }
}
