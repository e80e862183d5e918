package graft.app

import org.apache.spark.sql.SparkSession

import graft.core.{CrawlParams, Sessions}
import graft.fixtures.PagesGen
import graft.round.{CrawlEngine, ParquetTableIO, RoundDriver}

/** spark-submit entry point for the crawl-and-rank engine (the analog of
  * the reference's `cmd/crawl` / `cmd/sync` binaries).
  *
  * Usage:
  *   CrawlMain <scale> <stateDir> <maxRounds> [cores] [batch] [hostBudget] [walksPerNode]
  *     scale     tiny | small | bench — deterministic synthetic corpus (seed 42)
  *     stateDir  checkpoint root; re-running resumes from the last committed round
  *
  * Prints one JSON line per round (the fetch/dedupe metrics stream required
  * by the north rule) and a final summary with URLs-scheduled/sec.
  */
object CrawlMain {

  /** Legacy (pre-marker) extracted-store adoption check: the store must
    * hold exactly the requested corpus — a distinct-url count pins the
    * SIZE and an order-independent url-set checksum against the generator
    * (PagesGen.urlOf is a pure function of cfg, including seed and host
    * count via the host assignment) pins the CONTENT. One-time O(pages)
    * cost at adoption. The checksum sums as decimal(38,0): 10^10 urls of
    * Long hashes would overflow a Long sum under ANSI mode.
    */
  private[graft] def legacyStoreMatches(
      spark: SparkSession,
      stored: org.apache.spark.sql.DataFrame,
      cfg: PagesGen.Config
  ): Boolean = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    val storedUrls = stored.select("url").distinct()
    if (storedUrls.count() != cfg.pages.toLong) return false
    def chk(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.select(sum(xxhash64(col("url")).cast("decimal(38,0)"))).collect().head.getDecimal(0)
    val expected = spark.range(0, cfg.pages.toLong).map(pid => PagesGen.urlOf(cfg, pid)).toDF("url")
    chk(storedUrls).compareTo(chk(expected)) == 0
  }

  /** `rank` subcommand: personalized PageRank for a source node over a
    * crawl checkpoint (reference `pagerank.Personalized`). Prints the top-k
    * visited nodes as one JSON line. Mode `splice` (default) mirrors the
    * reference's pool-splice walk; mode `dist` runs the fully distributed
    * many-short-reset-walks estimator (no driver-held neighborhood or
    * pool — the mega-hub / 10^10-graph path).
    */
  private def rankMain(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: CrawlMain rank <stateDir> <sourceId> [targetLength] [topK] [cores] [splice|dist]")
      sys.exit(2)
    }
    val stateDir = args(1)
    val source = args(2).toLong
    val targetLength = if (args.length > 3) args(3).toInt else 100000
    val topK = if (args.length > 4) args(4).toInt else 20
    val cores = if (args.length > 5) args(5).toInt else 8
    val mode = if (args.length > 6) args(6) else "splice"
    if (mode != "splice" && mode != "dist") {
      System.err.println(s"unknown rank mode '$mode' (expected splice|dist)")
      sys.exit(2)
    }
    val spark = Sessions.local(cores, appName = "graft-rank")
    val io = new ParquetTableIO(spark, stateDir)
    val last = io.lastCompleteRound()
    require(last >= 0, s"no completed rounds under $stateDir")
    import spark.implicits._
    val edges = io.read(last, "edges")
    val params = CrawlParams()
    val top: Seq[(Long, Double)] = mode match {
      case "dist" =>
        // one segment per expected reset of the splice walk's targetLength
        val numWalks = math.max((targetLength * (1 - params.alpha)).toInt, 1000)
        graft.walks.Personalized
          .personalizedDistributed(spark, edges, source, numWalks, params)
          .orderBy(org.apache.spark.sql.functions.desc("rank"), org.apache.spark.sql.functions.col("node"))
          .limit(topK)
          .collect()
          .map(r => (r.getLong(0), r.getDouble(2)))
          .toSeq
      case _ =>
        val walks = io.read(last, "walks").as[graft.core.WalkRow]
        val freq =
          graft.walks.Personalized.personalizedOverEdges(spark, walks, edges, source, targetLength, params)
        freq.toSeq.sortBy { case (n, f) => (-f, n) }.take(topK)
    }
    val items = top.map { case (n, f) => s"""{"node":$n,"rank":$f}""" }.mkString(",")
    println(s"""{"event":"personalized","source":$source,"round":$last,"mode":"$mode","top":[$items]}""")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 1 && args(0) == "rank") { rankMain(args); return }
    if (args.length < 3) {
      System.err.println("usage: CrawlMain <tiny|small|bench> <stateDir> <maxRounds> [cores] [batch] [hostBudget] [walksPerNode] | CrawlMain rank <stateDir> <sourceId> [targetLength] [topK] [cores] [splice|dist]")
      sys.exit(2)
    }
    val cfg = args(0) match {
      case "tiny" => PagesGen.Tiny
      case "small" => PagesGen.Small
      case "bench" => PagesGen.Bench
      case other => System.err.println(s"unknown scale '$other'"); sys.exit(2); null
    }
    val stateDir = args(1)
    val maxRounds = args(2).toInt
    val cores = if (args.length > 3) args(3).toInt else 8
    val batch = if (args.length > 4) args(4).toInt else 100
    val hostBudget = if (args.length > 5) args(5).toInt else 10
    val walksPerNode = if (args.length > 6) args(6).toInt else 100

    val spark: SparkSession = Sessions.local(cores, appName = s"graft-crawl-${args(0)}")
    val params = CrawlParams(batch = batch, hostBudget = hostBudget, walksPerNode = walksPerNode)

    val pages = PagesGen.generate(spark, cfg, partitions = cores * 4)

    // GRAFT_BUCKETED_IO=1 stores the big state tables clustered by their
    // join keys (BucketedTableIO — the Iceberg bucket-transform stand-in).
    val bucketed = sys.env.get("GRAFT_BUCKETED_IO").contains("1")
    val io: ParquetTableIO =
      if (bucketed) new graft.round.BucketedTableIO(spark, stateDir)
      else new ParquetTableIO(spark, stateDir)
    // Bucketed mode lands the one-time extraction in the url-bucketed,
    // url-sorted fetch store (round 0) so every round's batch fetch prunes
    // to the batch's buckets/row-groups — O(batch) fetch IO — instead of
    // scanning a cached O(corpus) table. Plain mode keeps the in-memory
    // cache (fine at fixture scale).
    val extracted =
      if (bucketed) {
        import spark.implicits._
        val cfgDF = Seq((args(0), cfg.pages, cfg.hosts)).toDF("scale", "pages", "hosts")
        if (io.lastCompleteRound() < 0 || !io.exists(0L, "extracted")) {
          io.write(0L, "extracted", CrawlEngine.extractPages(spark, pages.toDF))
          io.write(0L, "extracted_cfg", cfgDF)
        } else if (io.exists(0L, "extracted_cfg")) {
          // a resumed crawl must not silently fetch from an extraction of a
          // DIFFERENT corpus (e.g. `tiny` state dir resumed with `small`)
          val stored = io.read(0L, "extracted_cfg").collect().head
          require(
            stored == cfgDF.collect().head,
            s"extracted store at $stateDir was built from corpus $stored; resume requested with scale=${args(0)} " +
              s"(pages=${cfg.pages}, hosts=${cfg.hosts}) — use a fresh state dir"
          )
        } else {
          // legacy state dir (pre-marker): sanity-check the stored
          // extraction against the requested corpus BEFORE adopting —
          // stamping the marker blind would bypass the mismatch guard on
          // exactly the dirs it cannot check (size AND content pinned; see
          // legacyStoreMatches)
          require(
            legacyStoreMatches(spark, io.read(0L, "extracted"), cfg),
            s"extracted store at $stateDir does not match the scale=${args(0)} corpus " +
              s"(pages=${cfg.pages}, hosts=${cfg.hosts}) by url count or url-set checksum — " +
              "refusing to adopt a legacy store from a different corpus; use a fresh state dir"
          )
          io.write(0L, "extracted_cfg", cfgDF) // verified: adopt
        }
        io.read(0L, "extracted")
      } else CrawlEngine.extractPages(spark, pages.toDF).persist()
    // GRAFT_MAX_DRIVER_BLOOM_URLS=0 forces the distributed sharded
    // seen-bloom (the 10^10-url path) from round 1.
    val maxDriverBloom =
      sys.env.get("GRAFT_MAX_DRIVER_BLOOM_URLS").map(_.toLong).getOrElse(graft.frontier.SeenSet.DefaultMaxDriverUrls)
    val driver = new RoundDriver(spark, io, params, maxDriverBloomUrls = maxDriverBloom)
    val resumedFrom = io.lastCompleteRound()
    if (resumedFrom < 0) {
      driver.init(PagesGen.seedUrls(cfg, 3))
      println(s"""{"event":"init","seeds":3,"scale":"${args(0)}","pages":${cfg.pages}}""")
    } else {
      println(s"""{"event":"resume","fromRound":$resumedFrom}""")
    }

    val t0 = System.nanoTime()
    val result = driver.run(extracted, maxRounds)
    val wallSec = (System.nanoTime() - t0) / 1e9

    result.traces.foreach { t =>
      val m = t.metrics
      println(
        s"""{"event":"round","round":${t.round},"scheduled":${m.scheduled},"fetched":${m.fetched},""" +
          s""""newNodes":${m.newNodes},"newEdges":${m.newEdges},"removedEdges":${m.removedEdges},""" +
          s""""walksChanged":${m.walksChanged},"totalWalks":${m.totalWalks},"promoted":${m.promoted},""" +
          s""""demoted":${m.demoted},"seen":${m.seenSize},"pending":${m.pendingSize},""" +
          s""""scanRan":${m.scanRan},"wallMillis":${m.wallMillis},""" +
          s""""driverResolvedNodes":${m.driverResolvedNodes},"driverDeltaEntries":${m.driverDeltaEntries}}"""
      )
    }
    val scheduled = result.traces.map(_.metrics.scheduled).sum
    val rate = if (wallSec > 0) scheduled / wallSec else 0.0
    println(
      s"""{"event":"summary","rounds":${result.traces.size},"urlsScheduled":$scheduled,""" +
        s""""wallSec":$wallSec,"urlsPerSec":$rate,"cores":$cores}"""
    )
    spark.stop()
  }
}
