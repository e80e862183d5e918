package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CrawlParams, Rng, WalkRow}
import graft.fixtures.PagesGen
import graft.round.{CrawlEngine, ParquetTableIO, RoundDriver, TableIO}
import graft.walks.{IterativeWalker, SubgraphWalks, WalkAlgebra}

/** Pins deterministic cache release (round-5 profiling finding): every
  * iterative drain takes one `localCheckpoint(true)` per hop, and
  * `Dataset.unpersist` cannot release those — before `core.CacheOps` the
  * orphaned slices lingered until the JVM's ContextCleaner, piling storage
  * pressure across a 48-query bench JVM or a many-round crawl (the round-4
  * bench's sporadic >60 s walker reps). After a drain, exactly ONE cache
  * (the output) may remain; after a crawl run, none — `RoundDriver.run`
  * releases its state checkpoints and seen set when it returns, and
  * before that no state checkpoint is spread over more than 2 ×
  * defaultParallelism partitions (repeated unions would otherwise grow
  * them every round). The crawl runs also pin the round's log writes: no
  * `delta` write plans a shuffle, and the `lineage` rows count the walks.
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

  // the default configuration runs the resolver drain on every wave;
  // hop-wave gives each node enough walks that a promotion wave holds more
  // than IterativeWalker.TailThreshold walks and hops by joins first — the
  // drain whose per-hop checkpoints used to leak; forced-sharded keeps the
  // seen set as the checkpointed shard table
  Seq(
    ("default", 10, (s: SparkSession, io: TableIO, p: CrawlParams) => new RoundDriver(s, io, p)),
    ("hop-wave", 1200, (s: SparkSession, io: TableIO, p: CrawlParams) => new RoundDriver(s, io, p)),
    ("forced-sharded", 10, (s: SparkSession, io: TableIO, p: CrawlParams) => new RoundDriver(s, io, p, maxDriverBloomUrls = 0L))
  ).foreach { case (name, walksPerNode, newDriver) =>
    test(s"a $name crawl run leaves no cache behind") {
      import spark.implicits._
      clearAll()
      val cfg = PagesGen.Tiny
      val params = CrawlParams(
        seed = 42L,
        alpha = 0.85,
        walksPerNode = walksPerNode,
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
      val extracted = CrawlEngine.extractPages(spark, pagesDF).persist()
      extracted.count()
      val extractedIds = spark.sparkContext.getPersistentRDDs.keySet
      // the live state caches, seen as the exit compaction writes its first
      // table (round 4; the init round writes round 0)
      val maxParts = 2 * spark.sparkContext.defaultParallelism
      var live = 0
      var wide = Seq.empty[String]
      // every round's `delta` write reads only what the round materialized:
      // its executed plan holds no shuffle (AQE wraps the plan, so collect
      // through the helper)
      val shuffled = mutable.ArrayBuffer.empty[String]
      val plans = new AdaptiveSparkPlanHelper {}
      val io = new ParquetTableIO(spark, dir) {
        override def write(round: Long, table: String, df: DataFrame): Unit = {
          if (table == "delta") {
            val exchanges = plans.collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s.outputPartitioning }
            if (exchanges.nonEmpty) shuffled += s"round $round: ${exchanges.mkString(", ")}"
          }
          if (round == 4L && table == "nodes") {
            val rdds = spark.sparkContext.getPersistentRDDs.filter(r => !extractedIds(r._1)).values.toSeq
            live = rdds.size
            wide = rdds.filter(_.getNumPartitions > maxParts).map(r => s"$r: ${r.getNumPartitions}")
          }
          super.write(round, table, df)
        }
      }
      val driver = newDriver(spark, io, params)
      driver.init(PagesGen.seedUrls(cfg, 3))
      val res = driver.run(extracted, 4)
      extracted.unpersist()
      if (name == "hop-wave")
        assert(
          res.traces.exists(_.promoted * walksPerNode > IterativeWalker.TailThreshold),
          s"no promotion wave crossed TailThreshold: ${res.traces.map(_.promoted)}"
        )
      assert(shuffled.isEmpty, s"delta writes with a shuffle: ${shuffled.mkString("\n")}")
      // the last round's lineage rows count its walks, partition by partition
      val lineage = io.read(4L, "lineage").select("count").as[Long].collect()
      assert(lineage.nonEmpty && lineage.sum === io.read(4L, "walks").count())
      assert(live > 0, "the exit compaction saw no live state caches")
      assert(wide.isEmpty, s"state caches over $maxParts partitions: ${wide.mkString("; ")}")
      val left = spark.sparkContext.getPersistentRDDs
      assert(left.isEmpty, s"crawl leaked ${left.size} caches: ${left.values.map(_.toString).take(12).mkString("; ")}")
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
