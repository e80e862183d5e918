package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CrawlParams, DeltaRow}
import graft.walks.WalkAlgebra

/** Ports the reference's deterministic walk tests
  * (/root/reference/pkg/walks/walks_test.go) onto our seeded algebra.
  */
class WalkAlgebraSpec extends AnyFunSuite {

  private def adjOf(m: Map[Long, Seq[Long]]): WalkAlgebra.Adjacency =
    n => m.getOrElse(n, Seq.empty).toArray.sorted

  test("cyclic stop: alpha=1 on a 3-cycle always yields [0,1,2]") {
    val p = CrawlParams(alpha = 1.0, walksPerNode = 10)
    val adj = adjOf(Map(0L -> Seq(1L), 1L -> Seq(2L), 2L -> Seq(0L)))
    (0 until 10).foreach { i =>
      val w = WalkAlgebra.generateWalk(adj, 0L, i.toLong, 0L, 0, p)
      assert(w.toSeq === Seq(0L, 1L, 2L), s"walk $i")
    }
  }

  test("average length ~= 1/(1-alpha) over 100k walks on a big cycle") {
    val p = CrawlParams(alpha = 0.85)
    val n = 1000L
    val adj: WalkAlgebra.Adjacency = v => Array((v + 1) % n)
    var sum = 0L
    val walks = 100000
    var i = 0
    while (i < walks) {
      sum += WalkAlgebra.generateWalk(adj, 0L, i.toLong, 0L, 0, p).length
      i += 1
    }
    val avg = sum.toDouble / walks
    assert(math.abs(avg - 1.0 / (1.0 - 0.85)) < 0.1, s"avg=$avg")
  }

  test("divergence table (walks_test.go:118-136)") {
    assert(WalkAlgebra.divergence(Array(0L), Array(0L, 1)) === 1)
    assert(WalkAlgebra.divergence(Array(0L, 1, 69), Array(0L, 1)) === 2)
    assert(WalkAlgebra.divergence(Array(0L, 1, 69), Array(0L, 1, 420)) === 2)
    assert(WalkAlgebra.divergence(Array(7L, 8, 9), Array(7L, 8, 9)) === -1)
    assert(WalkAlgebra.divergence(Array.empty[Long], Array.empty[Long]) === -1)
  }

  test("findCycle table (walks_test.go:139-154)") {
    assert(WalkAlgebra.findCycle(Array(0L, 1, 2, 3, 4, 5)) === -1)
    assert(WalkAlgebra.findCycle(Array(0L, 1, 2, 3, 1, 5)) === 4)
    assert(WalkAlgebra.findCycle(Array(0L, 1, 2, 3, 1, 0)) === 4)
    assert(WalkAlgebra.findCycle(Array(0L, 1, 3, 3, 4, 5)) === 3)
    assert(WalkAlgebra.findCycle(Array.empty[Long]) === -1)
  }

  test("graft trims at first global repetition (walks.go:84-92)") {
    assert(WalkAlgebra.graft(Array(0L), Array(3L, 2, 0)).toSeq === Seq(0L, 3, 2))
    assert(WalkAlgebra.graft(Array(0L, 1), Array(2L, 3)).toSeq === Seq(0L, 1, 2, 3))
    assert(WalkAlgebra.graft(Array(0L, 1), Array.empty).toSeq === Seq(0L, 1))
  }

  test("repair, invalid-step branch: deterministic at alpha=1 (TestUpdateRemove)") {
    // graph after the delta: 0→{3}, 1→{2}, 2→{0}, 3→{2}
    val adj = adjOf(Map(0L -> Seq(3L), 1L -> Seq(2L), 2L -> Seq(0L), 3L -> Seq(2L)))
    val p = CrawlParams(alpha = 1.0)
    val delta = Map(0L -> DeltaRow(0L, remove = Array(1L), keep = Array(3L), add = Array.empty))
    // invalid walk [0,1,2] → pruned at 0, grafted from Keep={3} → [0,3,2]
    val repaired = WalkAlgebra.repairWalk(adj, delta, 7L, Array(0L, 1L, 2L), 1L, 0, p)
    assert(repaired.isDefined)
    assert(repaired.get.toSeq === Seq(0L, 3L, 2L))
    // valid walk [0,3,2] with Add=∅ → resampleP=0 → unchanged
    assert(WalkAlgebra.repairWalk(adj, delta, 8L, Array(0L, 3L, 2L), 1L, 0, p).isEmpty)
  }

  test("repair, resample branch: Add-only delta always resamples (a/(a+0)=1)") {
    val adj = adjOf(Map(0L -> Seq(1L, 2L), 1L -> Seq.empty, 2L -> Seq.empty))
    val p = CrawlParams(alpha = 1.0)
    val delta = Map(0L -> DeltaRow(0L, remove = Array.empty, keep = Array.empty, add = Array(1L, 2L)))
    // walk [0]: resampleP = 1 → prune to [0], alpha-draw < 1 always → graft
    // a segment starting at 1 or 2 (both dangling) → [0, x]
    val repaired = WalkAlgebra.repairWalk(adj, delta, 9L, Array(0L), 1L, 0, p)
    assert(repaired.isDefined)
    val np = repaired.get
    assert(np.length === 2 && np(0) === 0L && (np(1) === 1L || np(1) === 2L))
  }

  test("walks never repeat a node (cycle stop) on a dense graph") {
    val nodes = 20L
    val adj: WalkAlgebra.Adjacency = v => (0L until nodes).filterNot(_ == v).toArray
    val p = CrawlParams(alpha = 0.99)
    (0 until 500).foreach { i =>
      val w = WalkAlgebra.generateWalk(adj, i % nodes, 1000L + i, 0L, 0, p)
      assert(w.distinct.length === w.length)
    }
  }

  test("delta partition + involution (graph_test.go / graph.go:84-118)") {
    val d = WalkAlgebra.newDelta(0L, Array(1L, 2L, 3L), Array(2L, 3L, 4L, 5L))
    assert(d.remove.toSeq === Seq(1L))
    assert(d.keep.toSeq === Seq(2L, 3L))
    assert(d.add.toSeq === Seq(4L, 5L))
    val inv = d.inverse
    assert(inv.remove.toSeq === Seq(4L, 5L) && inv.add.toSeq === Seq(1L))
    // applying delta then inverse restores the old set
    assert((d.newList.toSet -- inv.remove ++ inv.add) === d.oldList.toSet)
  }

  test("determinism: same keys → same walk, different walkIds → different draws") {
    val adj = adjOf(Map(0L -> Seq(1L, 2L, 3L), 1L -> Seq(2L), 2L -> Seq(3L), 3L -> Seq.empty))
    val p = CrawlParams()
    val a = WalkAlgebra.generateWalk(adj, 0L, 5L, 2L, 0, p)
    val b = WalkAlgebra.generateWalk(adj, 0L, 5L, 2L, 0, p)
    assert(a.toSeq === b.toSeq)
    val many = (0 until 200).map(i => WalkAlgebra.generateWalk(adj, 0L, i.toLong, 2L, 0, p).toSeq).toSet
    assert(many.size > 1)
  }
}
