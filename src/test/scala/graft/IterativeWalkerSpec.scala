package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.core.{CrawlParams, Rng}
import graft.walks.{IterativeWalker, SubgraphWalks, WalkAlgebra}

/** The join-based scale-path walker must produce EXACTLY the same walks as
  * the broadcast/pure generator — same counter-based draws, different
  * physical plan (one shuffle join per hop instead of a broadcast map).
  */
class IterativeWalkerSpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, appName = "iterative-walker-spec")

  test("iterative generation == pure generation, walk by walk") {
    import spark.implicits._
    val p = CrawlParams(alpha = 0.85, walksPerNode = 50)
    // deterministic random-ish graph: 40 nodes, out-degree 0..4
    val n = 40L
    val edges = (0L until n).flatMap { src =>
      val d = Rng.uniformIndex(7L, src, 0, 0, 5)
      (0 until d).map(j => (src, Math.floorMod(Rng.hash(7L, src, 1, j), n))).filter(e => e._2 != e._1)
    }.distinct
    val adjMap = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toArray.sorted }
    val adjF: WalkAlgebra.Adjacency = v => adjMap.getOrElse(v, Array.empty)

    val expected = (0L until n).flatMap { node =>
      (0 until p.walksPerNode).map { i =>
        val wid = node * p.walksPerNode + i
        wid -> WalkAlgebra.generateWalk(adjF, node, wid, 3L, 15, p).toSeq
      }
    }.toMap

    val adjDS = IterativeWalker.adjacencyTable(spark, spark.createDataset(edges))
    val starts = spark.createDataset((0L until n).toSeq)
    val (walks, release) = IterativeWalker.generateReleasable(spark, starts, adjDS, 3L, 15, p)
    val got = walks.collect().map(w => w.walkId -> w.path.toSeq).toMap
    release()

    assert(got.size === expected.size)
    assert(got === expected)

    // the exploded-edge walker (composite (cur, nextIdx) hop key — the
    // mega-hub path q43 rides) must be byte-identical too
    val (explodedWalks, explodedRelease) = IterativeWalker.generateExplodedReleasable(spark, starts, adjDS, 3L, 15, p)
    val gotExploded = explodedWalks.collect().map(w => w.walkId -> w.path.toSeq).toMap
    explodedRelease()
    assert(gotExploded === expected)
  }

  test("exploded walker on a mega-hub source: identical walks, hop-1 keys spread over the hub's degree") {
    import spark.implicits._
    val p = CrawlParams(alpha = 0.85, walksPerNode = 2000)
    // one hub (node 0) pointing at 64 spokes, each spoke pointing back at
    // the next spoke — the single-source personalized-rank shape
    val edges: Seq[(Long, Long)] =
      (1L to 64L).map(d => (0L, d)) ++ (1L until 64L).map(i => (i, i + 1))
    val adjMap = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toArray.sorted }
    val adjF: WalkAlgebra.Adjacency = v => adjMap.getOrElse(v, Array.empty)
    val expected = (0 until p.walksPerNode).map { i =>
      i.toLong -> WalkAlgebra.generateWalk(adjF, 0L, i.toLong, 0L, 7, p).toSeq
    }.toMap

    val adjDS = IterativeWalker.adjacencyTable(spark, spark.createDataset(edges))
    val (walks, release) = IterativeWalker.generateExplodedReleasable(spark, spark.createDataset(Seq(0L)), adjDS, 0L, 7, p)
    val got = walks.collect().map(w => w.walkId -> w.path.toSeq).toMap
    release()
    assert(got === expected)

    // the walks' first hops must genuinely use many distinct (hub, idx)
    // join keys — the skew-spread claim, checked on the data itself
    val firstHopIdx = expected.values.filter(_.length > 1).map(_.apply(1)).toSet
    assert(firstHopIdx.size > 16, s"2000 draws over 64 spokes must hit many spokes: ${firstHopIdx.size}")
  }

  test("hop-join broadcast gate counts edges: two source nodes carrying 70k edges are not broadcast") {
    import spark.implicits._
    val p = CrawlParams(alpha = 0.85, walksPerNode = 50)
    // 2 adjacency rows, 70,000 edges: far under a 65,536-ROW gate, far over
    // a 65,536-EDGE one
    val edges: Seq[(Long, Long)] = (1L to 40000L).map(d => (0L, d)) ++ (Seq(0L) ++ (40001L until 70000L)).map(d => (1L, d))
    val adjMap = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toArray.sorted }
    val adjF: WalkAlgebra.Adjacency = v => adjMap.getOrElse(v, Array.empty)
    val expected = Seq(0L, 1L).flatMap { node =>
      (0 until p.walksPerNode).map { i =>
        val wid = node * p.walksPerNode + i
        wid -> WalkAlgebra.generateWalk(adjF, node, wid, 3L, 15, p).toSeq
      }
    }.toMap

    // every executed plan of the walker run, cached sub-plans included
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // with automatic broadcasts off, only the walker's forced hint can
    // broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    try {
      val adjDS = IterativeWalker.adjacencyTable(spark, spark.createDataset(edges))
      val (walks, release) = IterativeWalker.generateReleasable(spark, spark.createDataset(Seq(0L, 1L)), adjDS, 3L, 15, p)
      val got = walks.collect().map(w => w.walkId -> w.path.toSeq).toMap
      release()
      assert(got === expected)
      // listener events arrive in order: once a marker query's plan is in,
      // every plan of the walker run is too
      spark.range(1).toDF("walker_gate_marker").collect()
      eventually(timeout(Span(30, Seconds))) {
        assert(plans.stream().anyMatch(_.contains("walker_gate_marker")))
      }
      plans.forEach(plan => assert(!plan.contains("Broadcast"), s"the hop join must not broadcast 70k edges:\n$plan"))
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
  }

  test("a generation wave above the tail threshold hops by joins, then drains, walk by walk as generateWalk") {
    import spark.implicits._
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    // 40 starts × 1,000 walks = 40,000 live walks on a random graph of
    // 2,000 nodes with out-degree 0..9
    val p = CrawlParams(alpha = 0.85, walksPerNode = 1000)
    val n = 2000L
    val edges = (0L until n).flatMap { src =>
      (0 until Rng.uniformIndex(11L, src, 0, 0, 10)).map(j => (src, Math.floorMod(Rng.hash(11L, src, 1, j), n)))
    }.distinct.filter(e => e._1 != e._2)
    val starts = (0L until n by 50).toSeq
    assert(starts.size.toLong * p.walksPerNode > IterativeWalker.TailThreshold)
    val adjMap = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toArray.sorted }
    val adjF: WalkAlgebra.Adjacency = v => adjMap.getOrElse(v, Array.empty)
    val expected = starts.flatMap { node =>
      (0 until p.walksPerNode).map { i =>
        val wid = node * p.walksPerNode + i
        wid -> WalkAlgebra.generateWalk(adjF, node, wid, 3L, 15, p).toSeq
      }
    }.toMap

    // a hop is the one left outer join of a wave: the resolver's fetches
    // are inner joins
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val edgesDF = spark.createDataset(edges).toDF("src", "dst")
      val resolver = new SubgraphWalks.Resolver(spark, () => edgesDF)
      val (walks, release) = IterativeWalker.generateAll(spark, starts, resolver, 3L, 15, p)
      val got = walks.collect().map(w => w.walkId -> w.path.toSeq).toMap
      release()
      assert(got === expected)
      spark.range(1).toDF("generation_wave_marker").collect()
      eventually(timeout(Span(30, Seconds))) {
        assert(plans.stream().anyMatch(_.contains("generation_wave_marker")))
      }
      assert(plans.stream().anyMatch(_.contains("LeftOuter")), "no hop join ran")
      val left = spark.sparkContext.getPersistentRDDs
      assert(left.isEmpty, s"the wave left ${left.size} caches: ${left.values.mkString("; ")}")
    } finally spark.listenerManager.unregister(listener)
  }
}
