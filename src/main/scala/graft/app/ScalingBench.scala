package graft.app

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CrawlParams, NodeStatus, Sessions}
import graft.fixtures.PagesGen
import graft.round.{CrawlEngine, ParquetTableIO, RoundDriver}
import graft.walks.{IterativeWalker, SubgraphWalks}

/** Two-parallelism scaling evidence for the north rule (BASELINE.md §3):
  * the same crawl job on the same input at local[N] and local[4N]; reports
  * URLs-scheduled/sec at both and efficiency = (throughput_4N /
  * throughput_N) / 4, pass line ≥ 0.8.
  *
  * The metric targets the FRONTIER SCHEDULER at scale ("URLs scheduled/sec
  * on a 10^10-URL frontier"), so instead of waiting for a crawl to grow
  * organically (whose early rounds are driver-latency-bound), the bench
  * deterministically PRE-BUILDS a large mid-crawl state — a frontier of
  * every discovered URL, a fetched set, a link graph over the fetched
  * subset, and a walk store for the active nodes — then times full-batch
  * rounds of the ordinary engine over it. State construction is a pure
  * function of the seed, so both parallelism levels run byte-identical
  * rounds (asserted), and the extraction pass is reported separately.
  *
  * Usage: ScalingBench [pages] [hosts] [timedRounds] [batch] [coresA] [coresB] [prefetched] [walksPerNode]
  */
object ScalingBench {

  case class RunResult(
      cores: Int,
      urlsScheduled: Long,
      roundsTimed: Int,
      wallSec: Double,
      prepSec: Double,
      urlsPerSec: Double
  )

  /** Deterministic mid-crawl state: the first `prefetched` page-ids are
    * fetched+active (with edges from their v1 outlinks and walks), every
    * URL they link to is a discovered inactive node, everything is
    * enqueued. Ids = row_number over sorted urls (same rule as the engine).
    */
  def prebuild(
      spark: SparkSession,
      cfg: PagesGen.Config,
      extracted: DataFrame,
      io: ParquetTableIO,
      prefetched: Int,
      params: CrawlParams
  ): Unit = {
    import spark.implicits._
    val fetchedUrls = spark
      .range(0, prefetched.toLong)
      .map(pid => PagesGen.urlOf(cfg, pid))
      .toDF("url")
      .persist()

    // v1 outlinks of the fetched subset form the link graph
    val v1 = extracted.filter($"ver" === 1 && !$"rejected").join(fetchedUrls, Seq("url"))
    val linkPairs = v1
      .select($"url".as("src_url"), explode($"outlinks").as("dst_url"))
      .persist()

    val allUrls = fetchedUrls
      .select($"url")
      .union(linkPairs.select($"dst_url".as("url")))
      .distinct()
    // deterministic dense ids without a single-partition global window:
    // range-partitioned sort + zipWithIndex (parallel, order-stable)
    val idMap = allUrls
      .orderBy($"url")
      .select($"url")
      .rdd
      .map(_.getString(0))
      .zipWithIndex()
      .toDF("url", "id")
      .persist()
    idMap.count()

    val nodes = idMap
      .join(fetchedUrls.withColumn("f", lit(1)), Seq("url"), "left")
      .select(
        $"id",
        $"url",
        expr("url_host(url)").as("host"),
        when($"f".isNotNull, NodeStatus.Active).otherwise(NodeStatus.Inactive).as("status"),
        lit(0L).as("addedRound"),
        when($"f".isNotNull, 0L).otherwise(-1L).as("promotedRound"),
        lit(-1L).as("demotedRound")
      )

    val edges = linkPairs
      .join(idMap.withColumnRenamed("url", "src_url").withColumnRenamed("id", "src"), Seq("src_url"))
      .join(idMap.withColumnRenamed("url", "dst_url").withColumnRenamed("id", "dst"), Seq("dst_url"))
      .select($"src", $"dst")
      .filter($"src" =!= $"dst")
      .distinct()
      .persist()

    // walks for active nodes over the pre-built graph, by the engine's
    // generation entry
    val activeIds = nodes.filter($"status" === NodeStatus.Active).select($"id").as[Long].collect().sorted.toSeq
    val resolver = new SubgraphWalks.Resolver(spark, () => edges.toDF)
    val (walks, walksRelease) = IterativeWalker.generateAll(spark, activeIds, resolver, 0L, 15, params)

    io.write(0L, "nodes", nodes)
    io.write(0L, "edges", edges.toDF)
    io.write(0L, "walks", walks.toDF)
    io.write(0L, "fetched", fetchedUrls)
    io.write(0L, "enqueued", idMap.select($"url"))
    io.write(0L, "visits", io.read(0L, "walks").select(explode($"path").as("node")).groupBy("node").count())
    io.commitRound(0L)
    walksRelease(); fetchedUrls.unpersist(); linkPairs.unpersist(); idMap.unpersist(); edges.unpersist()
  }

  def runOnce(
      cores: Int,
      cfg: PagesGen.Config,
      params: CrawlParams,
      prefetched: Int,
      timedRounds: Int
  ): (RunResult, Vector[String]) = {
    val spark: SparkSession = Sessions.local(cores, appName = s"graft-scaling-$cores")
    try {
      graft.extract.Extract.register(spark)
      val stateDir = Files.createTempDirectory(s"scaling-$cores").toString
      val t0 = System.nanoTime()
      val pages = PagesGen.generate(spark, cfg, partitions = cores * 4)
      val extracted = CrawlEngine.extractPages(spark, pages.toDF).persist()
      extracted.count()
      val io = new ParquetTableIO(spark, stateDir)
      prebuild(spark, cfg, extracted, io, prefetched, params)
      val driver = new RoundDriver(spark, io, params)
      driver.run(extracted, 1) // warm-up round, untimed
      val prepSec = (System.nanoTime() - t0) / 1e9

      val t1 = System.nanoTime()
      val result = driver.run(extracted, 1 + timedRounds)
      val wallSec = (System.nanoTime() - t1) / 1e9
      val scheduled = result.traces.map(_.metrics.scheduled).sum
      result.traces.foreach { t =>
        System.err.println(
          s"[scaling cores=$cores] round=${t.round} scheduled=${t.metrics.scheduled} " +
            s"totalWalks=${t.metrics.totalWalks} promoted=${t.metrics.promoted} wallMs=${t.metrics.wallMillis}"
        )
      }
      // fingerprint of the schedule (first+last urls per round) proves both
      // legs ran the identical crawl
      val fp = result.traces.map(t => s"${t.round}:${t.fetchOrder.head}..${t.fetchOrder.last}:${t.fetchOrder.size}")
      (RunResult(cores, scheduled, result.traces.size, wallSec, prepSec, scheduled / wallSec), fp)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** One leg per JVM: a leg run in a process that already executed the
    * other leg inherits its tenured heap garbage and JIT state — measured
    * 3× distortion. tools/run_scaling.sh launches the two legs as separate
    * JVMs and combines the JSON lines into the efficiency verdict.
    *
    * Args: <cores> [pages] [hosts] [timedRounds] [batch] [prefetched] [walksPerNode]
    */
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val pages = if (args.length > 1) args(1).toInt else 1000000
    val hosts = if (args.length > 2) args(2).toInt else 2000
    val timedRounds = if (args.length > 3) args(3).toInt else 3
    val batch = if (args.length > 4) args(4).toInt else 25000
    val prefetched = if (args.length > 5) args(5).toInt else 100000
    val walksPerNode = if (args.length > 6) args(6).toInt else 10

    val cfg = PagesGen.Config(pages, hosts)
    val params = CrawlParams(
      batch = batch,
      hostBudget = math.max(batch * 3 / hosts, 10),
      walksPerNode = walksPerNode,
      promotion = 0.0, // promote every discovered node → full batches forever
      demotion = 0.0
    )

    val (a, fp) = runOnce(cores, cfg, params, prefetched, timedRounds)
    println(
      s"""{"leg":{"cores":${a.cores},"urlsScheduled":${a.urlsScheduled},"rounds":${a.roundsTimed},""" +
        s""""wallSec":${a.wallSec},"prepSec":${a.prepSec},"urlsPerSec":${a.urlsPerSec},""" +
        s""""fingerprint":"${fp.mkString("|")}","pages":$pages,"batch":$batch,"prefetched":$prefetched}}"""
    )
  }
}
