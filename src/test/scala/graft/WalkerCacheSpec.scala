package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CrawlParams, Rng, WalkRow}
import graft.fixtures.PagesGen
import graft.round.{CrawlEngine, ParquetTableIO, RoundDriver}
import graft.walks.{IterativeWalker, SubgraphWalks, WalkAlgebra}

/** Pins deterministic cache release (round-5 profiling finding): every
  * iterative drain takes one `localCheckpoint(true)` per hop, and
  * `Dataset.unpersist` cannot release those — before `core.CacheOps` the
  * orphaned slices lingered until the JVM's ContextCleaner, piling storage
  * pressure across a 48-query bench JVM or a many-round crawl (the round-4
  * bench's sporadic >60 s walker reps). After a drain, exactly ONE cache
  * (the output) may remain; after a crawl run, only the live state-table
  * checkpoints, none spread over more than 2 × defaultParallelism
  * partitions (repeated unions would otherwise grow them every round).
  */
class WalkerCacheSpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, appName = "walker-cache-spec")

  private def clearAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  private def cachedCount: Int = spark.sparkContext.getPersistentRDDs.size

  test("iterative walkers release every intermediate cache") {
    import spark.implicits._
    clearAll()
    val p = CrawlParams(alpha = 0.85, walksPerNode = 50)
    val n = 40L
    val edges = (0L until n).flatMap { src =>
      val d = Rng.uniformIndex(7L, src, 0, 0, 5)
      (0 until d).map(j => (src, Math.floorMod(Rng.hash(7L, src, 1, j), n))).filter(e => e._2 != e._1)
    }.distinct
    val adjDS = IterativeWalker.adjacencyTable(spark, spark.createDataset(edges))
    val starts = spark.createDataset((0L until n).toSeq)

    val (w1, rel1) = IterativeWalker.generateReleasable(spark, starts, adjDS, 3L, 15, p)
    assert(w1.count() > 0)
    assert(cachedCount == 1, s"generate must leave only its output cache: ${spark.sparkContext.getPersistentRDDs}")
    rel1()
    assert(cachedCount == 0, "the output handle must release the last cache")

    val (w2, rel2) = IterativeWalker.generateExplodedReleasable(spark, starts, adjDS, 3L, 15, p)
    assert(w2.count() > 0)
    assert(cachedCount == 1, s"generateExploded must leave only its output cache: ${spark.sparkContext.getPersistentRDDs}")
    rel2()
    assert(cachedCount == 0)
  }

  // the default configuration runs the resolver paths (miss-retry drain);
  // the forced one runs the iterative walker AND iterative repair on every
  // round — the drains whose per-hop checkpoints used to leak
  Seq("default" -> None, "forced-iterative" -> Some(0L)).foreach { case (name, forced) =>
    test(s"a $name crawl run leaves only the live state caches") {
      import spark.implicits._
      clearAll()
      val cfg = PagesGen.Tiny
      val params = CrawlParams(
        seed = 42L,
        alpha = 0.85,
        walksPerNode = 10,
        batch = 20,
        hostBudget = 5,
        promotion = 0.1,
        demotion = 0.05,
        activation = 0.01,
        promotionWait = 0L
      )
      val v1 = (0L until cfg.pages.toLong).map(pid => PagesGen.pageOf(cfg, pid, 1))
      val v2 = (0L until cfg.pages.toLong).filter(PagesGen.isRepublished).map(pid => PagesGen.pageOf(cfg, pid, 2))
      val pagesDF = spark.createDataset(v1 ++ v2).toDF
      val dir = Files.createTempDirectory("walker-cache-crawl").toString
      val io = new ParquetTableIO(spark, dir)
      val extracted = CrawlEngine.extractPages(spark, pagesDF).persist()
      val driver = forced match {
        case Some(gate) => new RoundDriver(spark, io, params, broadcastMaxEdges = gate, iterativeRepairMinEntries = gate)
        case None => new RoundDriver(spark, io, params)
      }
      driver.init(PagesGen.seedUrls(cfg, 3))
      driver.run(extracted, 4)
      extracted.unpersist()
      val left = spark.sparkContext.getPersistentRDDs
      // live state = 7 table checkpoints (nodes, edges, walks, fetched,
      // enqueued, leaks, visits); allow slack of 2 for in-flight cleaner work
      assert(left.size <= 9, s"crawl leaked ${left.size} caches: ${left.values.map(_.toString).take(12).mkString("; ")}")
      val maxParts = 2 * spark.sparkContext.defaultParallelism
      val wide = left.values.filter(_.getNumPartitions > maxParts)
      assert(wide.isEmpty, s"state caches over $maxParts partitions: ${wide.map(r => s"$r: ${r.getNumPartitions}").mkString("; ")}")
      clearAll()
    }
  }

  test("resolver drain counts its outputs in the misses job and releases every attempt cache") {
    import spark.implicits._
    clearAll()
    // a chain 0 → 1 → … → 59 and an EMPTY resolver: every walk misses on
    // its first attempt, and the long ones miss again past the first
    // speculative expansion
    val n = 60L
    val edges = (0L until n - 1).map(i => (i, i + 1))
    val edgesDF = spark.createDataset(edges).toDF("src", "dst")
    val p = CrawlParams(alpha = 0.95, walksPerNode = 5)
    val fullAdj: WalkAlgebra.Adjacency = v => if (v < n - 1) Array(v + 1) else Array.empty
    val starts = (0L until n by 3).toSeq
    val resolver = new SubgraphWalks.Resolver(spark, () => edgesDF)
    val calls = spark.sparkContext.longAccumulator("drain-body-calls")
    val (walks, count, release) = resolver.drain(spark.createDataset(starts)) { (adj, node: Long) =>
      calls.add(1)
      (0 until p.walksPerNode).map { i =>
        val wid = node * p.walksPerNode + i
        WalkRow(wid, node, WalkAlgebra.generateWalk(adj, node, wid, 2L, 15, p))
      }
    }
    val got = walks.collect().map(w => w.walkId -> w.path.toSeq).toMap
    assert(calls.value >= starts.size + 1L, s"expected a retry attempt, body ran ${calls.value} times")
    assert(count === walks.count())
    assert(count === starts.size.toLong * p.walksPerNode)
    val expected = starts.flatMap { node =>
      (0 until p.walksPerNode).map { i =>
        val wid = node * p.walksPerNode + i
        wid -> WalkAlgebra.generateWalk(fullAdj, node, wid, 2L, 15, p).toSeq
      }
    }.toMap
    assert(got === expected)
    assert(got.values.exists(_.size > 4), "the chain walks never went past the first expansion")
    release()
    assert(cachedCount == 0, s"release must drop every attempt cache: ${spark.sparkContext.getPersistentRDDs}")
  }
}
