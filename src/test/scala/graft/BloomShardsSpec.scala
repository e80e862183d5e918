package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.core.CrawlParams
import graft.fixtures.PagesGen
import graft.frontier.BloomShards
import graft.round.{CrawlEngine, ParquetTableIO, RoundDriver}

/** The distributed sharded bloom seen-set (VERDICT r2 "what's wrong #2"):
  * bits live as a table on the executors, zero driver bloom bytes; the
  * probe is a superset of the true seen set (no false negatives), so the
  * crawl is byte-identical whichever seen-filter path runs.
  */
class BloomShardsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, appName = "bloom-shards")

  test("probe has no false negatives; misses on absent shards are definite negatives") {
    import spark.implicits._
    val numShards = 8
    val seen = (0 until 5000).map(i => s"https://h${i % 11}.example/s$i")
    val unseen = (0 until 5000).map(i => s"https://h${i % 11}.example/u$i")
    val shards = BloomShards.build(spark, seen.toDF("url"), numShards, capacityPerShard = 2000).localCheckpoint(true)
    val probed = BloomShards
      .probe(spark, (seen ++ unseen).toDF("url"), shards, numShards)
      .collect()
      .map(r => r.getString(0) -> r.getBoolean(1))
      .toMap
    assert(seen.forall(probed(_)), "every seen url must probe positive (no false negatives)")
    val fpr = unseen.count(probed(_)).toDouble / unseen.size
    assert(fpr < 0.05, s"false-positive rate $fpr should be near the 1% target")

    // empty seen set: no shards at all → everything definitely new
    val empty = BloomShards.build(spark, Seq.empty[String].toDF("url"), numShards, 2000).localCheckpoint(true)
    val probedEmpty = BloomShards.probe(spark, unseen.take(100).toDF("url"), empty, numShards).collect()
    assert(probedEmpty.forall(!_.getBoolean(1)))
  }

  test("merge adds new urls without losing old ones, creating absent shards on demand") {
    import spark.implicits._
    val numShards = 8
    val first = (0 until 1000).map(i => s"https://a.example/p$i")
    val second = (0 until 1000).map(i => s"https://b.example/q$i")
    val s0 = BloomShards.build(spark, first.toDF("url"), numShards, 2000).localCheckpoint(true)
    val s1 = BloomShards.merge(spark, s0, second.toDF("url"), numShards, 2000).localCheckpoint(true)
    val probed = BloomShards
      .probe(spark, (first ++ second).toDF("url"), s1, numShards)
      .collect()
    assert(probed.forall(_.getBoolean(1)), "all inserted urls must probe positive after merge")
  }

  test("a crawl on the forced-sharded bloom path is identical to the driver-bloom path") {
    import spark.implicits._
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
    val seeds = PagesGen.seedUrls(cfg, 3)
    val pageRows = (0L until cfg.pages.toLong).map(pid => PagesGen.pageOf(cfg, pid, 1)) ++
      (0L until cfg.pages.toLong).filter(PagesGen.isRepublished).map(pid => PagesGen.pageOf(cfg, pid, 2))
    val extracted = CrawlEngine.extractPages(spark, spark.createDataset(pageRows).toDF).persist()

    def run(dir: String, maxDriverBloomUrls: Long): graft.round.TableIO = {
      val io = new ParquetTableIO(spark, dir)
      val driver = new RoundDriver(spark, io, params, maxDriverBloomUrls = maxDriverBloomUrls)
      driver.init(seeds)
      driver.run(extracted, 3)
      io
    }
    val ioDriver = run(Files.createTempDirectory("bloom-driver").toString, maxDriverBloomUrls = 50000000L)
    val ioSharded = run(Files.createTempDirectory("bloom-sharded").toString, maxDriverBloomUrls = 0L)
    // gate-crossing path: starts on the driver bloom, crosses to the
    // sharded table mid-crawl (2·fetched > 20 after the first rounds)
    val ioCrossing = run(Files.createTempDirectory("bloom-crossing").toString, maxDriverBloomUrls = 20L)

    def state(io: graft.round.TableIO) = {
      val last = io.lastCompleteRound()
      val nodes = io.read(last, "nodes").collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(3)))).toMap
      val walks = io.read(last, "walks").collect().map(r => r.getLong(0) -> r.getSeq[Long](2).toSeq).toMap
      val seen = io.read(last, "fetched").collect().map(_.getString(0)).sorted.toSeq
      (last, nodes, walks, seen)
    }
    assert(state(ioDriver) === state(ioSharded))
    assert(state(ioDriver) === state(ioCrossing))
    extracted.unpersist()
    ()
  }
}
