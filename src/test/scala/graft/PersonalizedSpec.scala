package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.CrawlParams
import graft.walks.{Personalized, WalkAlgebra}

/** Personalized-rank tests against the reference's exact expected vectors
  * (FIXTURES.md §3, /root/reference/tests/random/utils.go). Tolerance 0.01
  * as in tests/random/pagerank_test.go. Source is always node 0.
  */
class PersonalizedSpec extends AnyFunSuite {

  val p: CrawlParams = CrawlParams(alpha = 0.85, walksPerNode = 1000)
  val L = 1000000 // reference targetLength (tests/random/pagerank_test.go:129)

  def adjOf(edges: Map[Long, Seq[Long]]): WalkAlgebra.Adjacency =
    v => edges.getOrElse(v, Seq.empty).toArray.sorted

  /** Generate the stored-walk pool for all nodes (what the walk store would
    * hold), then run the splice estimator.
    */
  def estimate(n: Int, edges: Map[Long, Seq[Long]]): Array[Double] = {
    val adj = adjOf(edges)
    val pool = Seq.newBuilder[Array[Long]]
    (0L until n.toLong).foreach { node =>
      (0 until p.walksPerNode).foreach { i =>
        pool += WalkAlgebra.generateWalk(adj, node, node * p.walksPerNode + i, 0L, 15, p)
      }
    }
    val freqs = Personalized.personalizedFrequencies(adj, pool.result(), 0L, L, p)
    Array.tabulate(n)(i => freqs.getOrElse(i.toLong, 0.0))
  }

  def l1(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => math.abs(x - y) }.sum

  def check(name: String, n: Int, edges: Map[Long, Seq[Long]], expected: Array[Double]): Unit = {
    val got = estimate(n, edges)
    val d = l1(got, expected)
    assert(d <= 0.01, s"$name: L1=$d got=${got.mkString(",")}")
  }

  test("dangling source: distribution concentrated at source") {
    val freqs = Personalized.personalizedFrequencies(adjOf(Map.empty), Seq.empty, 0L, L, p)
    assert(freqs === Map(0L -> 1.0))
  }

  test("Cyclic(50): personalized_i = alpha^i (1-alpha) / (1-alpha^n)") {
    // the reference tests personalized rank on Cyclic(50), not a short
    // cycle: short cycles amplify the graft/cycle-trim bias (a known
    // artifact, tests/random/pagerank_test.go:59-65,137)
    val n = 50
    val edges = (0L until n.toLong).map(i => i -> Seq((i + 1) % n)).toMap
    val a = 0.85
    val expected = Array.tabulate(n)(i => math.pow(a, i) * (1 - a) / (1 - math.pow(a, n)))
    check("cyclic50", n, edges, expected)
  }

  test("Acyclic1 personalized") {
    check(
      "acyclic1",
      5,
      Map(0L -> Seq(1L, 2L), 2L -> Seq(3L), 3L -> Seq(1L)),
      Array(0.39709, 0.29070, 0.16876, 0.14345, 0.0)
    )
  }

  test("Acyclic2 personalized") {
    check(
      "acyclic2",
      6,
      Map(0L -> Seq(1L, 2L), 4L -> Seq(3L, 5L)),
      Array(0.54054, 0.22973, 0.22973, 0, 0, 0)
    )
  }

  test("Acyclic5 personalized") {
    check(
      "acyclic5",
      4,
      Map(0L -> Seq(3L), 1L -> Seq(0L), 3L -> Seq(2L)),
      Array(0.38873, 0, 0.28085, 0.33042)
    )
  }

  test("Acyclic7 personalized") {
    check(
      "acyclic7",
      5,
      Map(0L -> Seq(1L, 2L, 3L), 4L -> Seq(0L, 1L, 2L, 3L)),
      Array(0.54054, 0.15315, 0.15315, 0.15315, 0)
    )
  }

  test("fully distributed personalized rank (many short reset walks) matches closed form") {
    val spark = graft.core.Sessions.local(4, appName = "personalized-spec")
    import spark.implicits._

    // Cyclic(50): rank_i = alpha^i (1-alpha) / (1-alpha^n)
    val n = 50
    val cyc = (0L until n.toLong).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val got = Personalized
      .personalizedDistributed(spark, cyc, 0L, 50000, p)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(2))
      .toMap
    val a = 0.85
    val expected = Array.tabulate(n)(i => math.pow(a, i) * (1 - a) / (1 - math.pow(a, n)))
    val d = l1(Array.tabulate(n)(i => got.getOrElse(i.toLong, 0.0)), expected)
    assert(d <= 0.02, s"distributed cyclic50 L1=$d")

    // Acyclic2 + determinism: two runs must produce identical visit counts
    val edges2 = Seq((0L, 1L), (0L, 2L), (4L, 3L), (4L, 5L)).toDF("src", "dst")
    def visits(): Seq[(Long, Long)] =
      Personalized
        .personalizedDistributed(spark, edges2, 0L, 30000, p)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSeq
    val r1 = visits()
    assert(r1 === visits(), "distributed personalized rank must be deterministic in (seed, source, numWalks)")
    // a star source of degree 8,192 takes the mega-hub (exploded-edge)
    // walker through the degree gate: the PLAN changes, not the answer —
    // the visit counts equal the array walker's on the same graph
    val star = (1L to 8192L).map(d => (0L, d)) ++ (1L until 8192L).map(d => (d, d + 1))
    val rStar = Personalized
      .personalizedDistributed(spark, star.toDF("src", "dst"), 0L, 20000, p)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq
    val (arrayWalks, arrayRelease) = graft.walks.IterativeWalker.generateReleasable(
      spark,
      Seq(0L).toDS(),
      graft.walks.IterativeWalker.adjacencyTable(spark, star.toDS()),
      0L,
      graft.spec.SequentialSpec.GenWave,
      p.copy(walksPerNode = 20000)
    )
    val rArray = arrayWalks.collect().toSeq.flatMap(_.path).groupBy(identity).map { case (n, vs) => (n, vs.size.toLong) }
    arrayRelease()
    assert(rStar.toMap === rArray, "exploded-walker path must be byte-identical through the gate")
    val tot = r1.map(_._2).sum.toDouble
    val gotA = Array.tabulate(6)(i => r1.toMap.getOrElse(i.toLong, 0L) / tot)
    assert(l1(gotA, Array(0.54054, 0.22973, 0.22973, 0, 0, 0)) <= 0.02, s"acyclic2 got=${gotA.mkString(",")}")
  }

  test("single-source fan-out spreads over O(cores) partitions (VERDICT r4 #1: no hop-1 funnel)") {
    val spark = graft.core.Sessions.local(4, appName = "personalized-spec")
    import spark.implicits._
    // the distributed personalized rank's exact shape: ONE start node, many
    // walks — without the walkId repartition the flatMap emits all segments
    // from one input row into ONE partition and hop 1 runs on one task
    val numWalks = 10000
    val segs = graft.walks.IterativeWalker
      .initialSegments(spark, Seq(0L).toDS(), p.copy(walksPerNode = numWalks))
    val sizes = segs.rdd
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size)))
      .collect()
      .filter(_._2 > 0)
    val cores = spark.sparkContext.defaultParallelism
    assert(sizes.length >= math.min(cores, 4), s"initial segments landed on ${sizes.length} partitions: ${sizes.mkString(",")}")
    val maxPart = sizes.map(_._2).max
    // hash-partitioned by walkId: no partition may hold more than ~3x the
    // even share (and certainly not all numWalks rows)
    assert(maxPart <= 3 * numWalks / sizes.length, s"skewed initial partitions: ${sizes.mkString(",")}")
  }

  test("distributed path: sampled pool via walksVisitingAny matches closed form") {
    val spark = graft.core.Sessions.local(4, appName = "personalized-spec")
    import spark.implicits._
    val edges = Map(0L -> Seq(1L, 2L), 3L -> Seq(1L, 2L)) // Acyclic3
    val adj = adjOf(edges)
    val rows = (0L until 4L).flatMap { node =>
      (0 until p.walksPerNode).map { i =>
        val wid = node * p.walksPerNode + i
        graft.core.WalkRow(wid, node, WalkAlgebra.generateWalk(adj, node, wid, 0L, 15, p))
      }
    }
    val walksDS = spark.createDataset(rows)
    val freqs = Personalized.personalized(spark, walksDS, edges.map { case (k, v) => k -> v.toArray },
      0L, L, p)
    val got = Array.tabulate(4)(i => freqs.getOrElse(i.toLong, 0.0))
    val expected = Array(0.54054, 0.22973, 0.22973, 0.0)
    val d = l1(got, expected)
    assert(d <= 0.015, s"distributed personalized L1=$d got=${got.mkString(",")}")

    // the edges-table form (on-demand resolver, no driver adjacency map)
    // must produce the IDENTICAL frequency map — same draws, same lists
    val edgesDF = edges.toSeq
      .flatMap { case (s, ds) => ds.map(dd => (s, dd)) }
      .toDF("src", "dst")
    val freqs2 = Personalized.personalizedOverEdges(spark, walksDS, edgesDF, 0L, L, p)
    assert(freqs2 === freqs, "resolver-backed personalized rank diverged from the map form")
  }
}
