package graft.walks

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CrawlParams, Rng, WalkRow}

/** The engine's walk repair on a wave big enough for its hop loop: more
  * than [[IterativeWalker.TailThreshold]] walks graft a segment at one hub,
  * so the segments advance by hop joins (past the first checkpointed hop)
  * before the resolver drain finishes the tail. The result must equal
  * WalkAlgebra.repairWalk against the full adjacency, walk by walk, and
  * the release must leave no cache behind.
  */
class IterativeRepairSpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, appName = "iterative-repair-spec")

  test("a wave above the tail threshold repairs through the hop loop, walk by walk as the spec") {
    import spark.implicits._
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val p = CrawlParams(alpha = 0.9)
    val (round, wave) = (3L, 1)
    // hub 0 dropped its old target 1 and now follows 64 of 2000 targets,
    // each pointing at three random targets or back at the hub
    val hub = 0L
    val targets = 10L until 2010L
    val spokes = 10000L until (10000L + IterativeWalker.TailThreshold / 2)
    val targetEdges = targets.flatMap { t =>
      (0 until 3).map(j => (t, if (Rng.uniformIndex(5L, t, 0, j, 50) == 0) hub else targets(Rng.uniformIndex(5L, t, 1, j, targets.size))))
    }.distinct.filter(e => e._1 != e._2)
    val delta = WalkAlgebra.newDelta(hub, Array(1L), targets.take(64).toArray)
    val edges = spokes.map(s => (s, hub)) ++ delta.newList.map(t => (hub, t)) ++ targetEdges
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toArray.sorted }
    val fullAdj: WalkAlgebra.Adjacency = v => adj.getOrElse(v, Array.empty)
    val deltas = Map(hub -> delta)
    // ten walks per spoke, through the hub; half of them still step on to
    // the removed target
    val walks = spokes.flatMap { s =>
      (0 until 10).map(i => WalkRow(s * 10 + i, s, if (i % 2 == 0) Array(s, hub, 1L) else Array(s, hub)))
    }

    // the fixture keeps more than TailThreshold segments live past the
    // eighth hop, so the hop loop runs a checkpointed hop
    var states = walks.map(w => WalkAlgebra.startRepair(w.walkId, w.path, deltas, round, wave, p))
    assert(states.count(_.segActive) > IterativeWalker.TailThreshold)
    var hops = 0
    while (states.count(_.segActive) > IterativeWalker.TailThreshold) {
      states = states.map(s => if (s.segActive) WalkAlgebra.stepRepair(s, fullAdj(s.cur), deltas, round, wave, p) else s)
      hops += 1
    }
    assert(hops >= 8, s"the hop loop would run only $hops hops")

    val edgesDF = spark.createDataset(edges).toDF("src", "dst")
    val resolver = new SubgraphWalks.Resolver(spark, () => edgesDF)
    val (changed, n, release) =
      IterativeRepair.repairAll(spark, spark.createDataset(walks), resolver, deltas, round, wave, p)
    val got = changed.collect().map { case (w, old) => w.walkId -> ((w.start, w.path.toSeq, old.toSeq)) }.toMap
    release()

    val expected = walks.flatMap { w =>
      WalkAlgebra.repairWalk(fullAdj, deltas, w.walkId, w.path, round, wave, p).map(np => w.walkId -> ((w.start, np.toSeq, w.path.toSeq)))
    }.toMap
    assert(n === got.size.toLong)
    assert(got.size === expected.size)
    assert(got === expected)
    assert(got.values.exists(_._2.size > 10), "no segment went past ten hops")
    val left = spark.sparkContext.getPersistentRDDs
    assert(left.isEmpty, s"repair left ${left.size} caches: ${left.values.take(8).mkString("; ")}")
  }
}
