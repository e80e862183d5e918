package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.core.{CrawlParams, Page}
import graft.fixtures.PagesGen
import graft.round.{CrawlEngine, ParquetTableIO, RoundDriver}
import graft.spec.SequentialSpec
import graft.walks.IterativeWalker

/** THE north-rule equivalence gate (SURVEY.md §7.4 item 1): the distributed
  * Spark engine must reproduce the sequential executable spec BYTE-FOR-BYTE
  * on per-round crawl order and the final URL-seen set, and exactly on node
  * statuses, adjacency, and walk state — on the same seed list and
  * politeness budget. Also proves checkpoint resumability: a run stopped
  * after round 3 and resumed matches an uninterrupted run.
  */
class CrawlEquivalenceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, appName = "crawl-equivalence")

  val cfg = PagesGen.Tiny
  val params: CrawlParams = CrawlParams(
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
  val seeds: Seq[String] = PagesGen.seedUrls(cfg, 3)
  val rounds = 6

  // pages, generated once driver-side (pure function of seed)
  lazy val pageRows: Seq[Page] = {
    val v1 = (0L until cfg.pages.toLong).map(pid => PagesGen.pageOf(cfg, pid, 1))
    val v2 = (0L until cfg.pages.toLong).filter(PagesGen.isRepublished).map(pid => PagesGen.pageOf(cfg, pid, 2))
    v1 ++ v2
  }

  lazy val specResult: SequentialSpec.Result = {
    val pv = pageRows.map(p => SequentialSpec.PageV(p.url, p.warc_ts.getTime / 1000, p.html, p.text))
    SequentialSpec.run(pv, seeds, params, rounds)
  }

  def runEngine(
      maxRounds: Int,
      dir: String,
      compactOnExit: Boolean = true,
      robots: Seq[(String, String)] = Nil,
      runParams: graft.core.CrawlParams = params,
      maxDriverBloomUrls: Long = 50000000L,
      bucketedIO: Boolean = false
  ): CrawlEngine.Result = {
    import spark.implicits._
    val pagesDF = spark.createDataset(pageRows).toDF
    val io: ParquetTableIO =
      if (bucketedIO) new graft.round.BucketedTableIO(spark, dir, buckets = 8) else new ParquetTableIO(spark, dir)
    // bucketed mode routes extraction through the url-bucketed fetch store
    // (CrawlMain's production shape); plain mode keeps the in-memory cache
    val extracted =
      if (bucketedIO) {
        if (!io.exists(0L, "extracted")) io.write(0L, "extracted", CrawlEngine.extractPages(spark, pagesDF))
        io.read(0L, "extracted")
      } else CrawlEngine.extractPages(spark, pagesDF).persist()
    val robotsDF = if (robots.isEmpty) None else Some(spark.createDataset(robots).toDF("host", "prefix"))
    val driver =
      new RoundDriver(
        spark,
        io,
        runParams,
        compactOnExit = compactOnExit,
        robots = robotsDF,
        maxDriverBloomUrls = maxDriverBloomUrls
      )
    if (io.lastCompleteRound() < 0) driver.init(seeds)
    val res = driver.run(extracted, maxRounds)
    if (!bucketedIO) extracted.unpersist()
    res
  }

  def engineState(dir: String): (Map[Long, (String, String, Long, Long, Long)], Map[Long, Seq[Long]], Map[Long, Seq[Long]], Seq[String]) = {
    val io = new ParquetTableIO(spark, dir)
    val last = io.lastCompleteRound()
    val nodes = io
      .read(last, "nodes")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    val adjacency = io
      .read(last, "edges")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2).toSeq.sorted)
      .toMap
    val walks = io
      .read(last, "walks")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2).toSeq)
      .toMap
    val seen = io.read(last, "fetched").collect().map(_.getString(0)).toSeq.sorted
    (nodes, adjacency, walks, seen)
  }

  def engineLeaks(dir: String): Map[Long, (Long, String, Vector[String])] = {
    val io = new ParquetTableIO(spark, dir)
    val last = io.lastCompleteRound()
    io.read(last, "leaks")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3), r.getSeq[String](4).toVector)))
      .toMap
  }

  /** The visits table at the last compaction, as node → count, after
    * asserting it has one row per node and no zero row.
    */
  def engineVisits(dir: String): Map[Long, Long] = {
    val io = new ParquetTableIO(spark, dir)
    val rows = io.read(io.lastCompleteRound(), "visits").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length === rows.length, "visits has a node twice")
    assert(rows.forall(_._2 > 0), "visits has a zero row")
    rows.toMap
  }

  /** `explode(walks.path)` counted per node: what `visits` must equal. */
  def visitsOf(walks: Map[Long, Seq[Long]]): Map[Long, Long] =
    walks.values.flatten.groupBy(identity).map { case (n, vs) => n -> vs.size.toLong }

  test("engine matches spec byte-for-byte: crawl order, seen set, statuses, walks") {
    val dir = Files.createTempDirectory("crawl-eq").toString
    val engine = runEngine(rounds, dir)

    // the crawl did something nontrivial
    assert(specResult.traces.nonEmpty)
    assert(specResult.traces.exists(_.promoted.nonEmpty), "expected at least one promotion")
    assert(specResult.seen.size > seeds.size, "expected the crawl to expand beyond the seeds")

    // (a) per-round fetch order — byte-for-byte
    assert(engine.traces.length === specResult.traces.length)
    engine.traces.zip(specResult.traces).foreach { case (e, s) =>
      assert(e.round === s.round)
      assert(e.fetchOrder === s.fetchOrder, s"fetch order differs in round ${s.round}")
      assert(e.walksChanged === s.walksChanged, s"walksChanged differs in round ${s.round}")
      assert(e.promoted === s.promoted.size.toLong, s"promotions differ in round ${s.round}")
      assert(e.demoted === s.demoted.size.toLong, s"demotions differ in round ${s.round}")
      assert(e.scanRan === s.scanRan, s"scan trigger differs in round ${s.round}")
    }

    // (b) URL-seen set — byte-for-byte
    val (nodes, adjacency, walks, seen) = engineState(dir)
    assert(seen === specResult.seen)

    // (c) node table exactly
    val specNodes = specResult.nodes.map { case (id, st) =>
      id -> ((st.url, st.status, st.addedRound, st.promotedRound, st.demotedRound))
    }
    assert(nodes === specNodes)

    // (d) adjacency exactly
    val specAdj = specResult.adjacency.collect { case (k, v) if v.nonEmpty => k -> v.toSeq }
    assert(adjacency === specAdj)

    // (e) walk state exactly (ids and paths)
    val specWalks = specResult.walks.map { case (k, v) => k -> v.toSeq }
    assert(walks.size === specWalks.size)
    assert(walks === specWalks)

    // (f) leak-records table exactly (confirmed + suspected tiers)
    assert(engineLeaks(dir) === specResult.leakRecords)
  }

  test("robots gate: disallow rules change the crawl and engine still matches spec") {
    val rules = PagesGen.robotsRules(cfg)
    val pv = pageRows.map(p => SequentialSpec.PageV(p.url, p.warc_ts.getTime / 1000, p.html, p.text))
    val specRobots = SequentialSpec.run(pv, seeds, params, rounds, robots = rules)
    // the rules actually bite: the gated crawl differs from the ungated one
    assert(specRobots.seen !== specResult.seen, "robots rules did not change the crawl — fixture too weak")
    // no fetched url violates a disallow rule
    def path(u: String): String = u.replaceFirst("^https?://[^/]*", "")
    specRobots.seen.foreach { u =>
      val h = graft.extract.Extract.hostOf(u)
      assert(!rules.exists { case (rh, rp) => rh == h && path(u).startsWith(rp) }, s"fetched disallowed url $u")
    }
    val dir = Files.createTempDirectory("crawl-robots").toString
    val engine = runEngine(rounds, dir, robots = rules)
    assert(engine.traces.map(_.fetchOrder) === specRobots.traces.map(_.fetchOrder))
    val (nodes, _, walks, seen) = engineState(dir)
    assert(seen === specRobots.seen)
    assert(nodes === specRobots.nodes.map { case (id, st) =>
      id -> ((st.url, st.status, st.addedRound, st.promotedRound, st.demotedRound))
    })
    assert(walks === specRobots.walks.map { case (k, v) => k -> v.toSeq })
  }

  test("walk_params resume guard: resuming with different params fails fast") {
    val dir = Files.createTempDirectory("crawl-params").toString
    runEngine(2, dir)
    val err = intercept[IllegalArgumentException] {
      runEngine(4, dir, runParams = params.copy(alpha = 0.5))
    }
    assert(err.getMessage.contains("walk_params mismatch"))
  }

  test("ALL scale paths at once yield the identical crawl (the 10^10 deployment configuration)") {
    // Every scale path forced SIMULTANEOUSLY: join-per-hop walk generation
    // (enough walks per node that a promotion wave holds more than
    // TailThreshold walks), sharded distributed seen-bloom
    // (maxDriverBloomUrls=0), and bucketed state + extracted fetch store
    // (BucketedTableIO, which also exercises the InSet fetch pruning) —
    // final state must still be byte-identical to the sequential spec.
    val dir = Files.createTempDirectory("crawl-allpaths").toString
    val hopParams = params.copy(walksPerNode = 1200)
    val engine = runEngine(4, dir, runParams = hopParams, maxDriverBloomUrls = 0L, bucketedIO = true)
    assert(
      engine.traces.exists(_.promoted * hopParams.walksPerNode > IterativeWalker.TailThreshold),
      s"no promotion wave crossed TailThreshold: ${engine.traces.map(_.promoted)}"
    )
    val (nodes, adjacency, walks, seen) = engineState(dir)
    val pv = pageRows.map(p => SequentialSpec.PageV(p.url, p.warc_ts.getTime / 1000, p.html, p.text))
    val spec4 = SequentialSpec.run(pv, seeds, hopParams, 4)
    assert(seen === spec4.seen)
    assert(nodes === spec4.nodes.map { case (id, st) =>
      id -> ((st.url, st.status, st.addedRound, st.promotedRound, st.demotedRound))
    })
    assert(adjacency === spec4.adjacency.collect { case (k, v) if v.nonEmpty => k -> v.toSeq })
    assert(walks === spec4.walks.map { case (k, v) => k -> v.toSeq })
  }

  test("resumability: stop after round 3, resume, final state identical") {
    val dirA = Files.createTempDirectory("crawl-full").toString
    val dirB = Files.createTempDirectory("crawl-resumed").toString
    runEngine(rounds, dirA)
    runEngine(3, dirB) // partial run…
    runEngine(rounds, dirB) // …resumed from the round-3 checkpoint
    assert(engineState(dirA) === engineState(dirB))
  }

  test("crash-resume: delta-log replay (no exit compaction) reproduces the identical crawl") {
    // compactOnExit=false simulates a crash between compactions: the resume
    // must rebuild state purely from the per-round delta logs
    val dirA = Files.createTempDirectory("crawl-ref2").toString
    val dirB = Files.createTempDirectory("crawl-crash").toString
    runEngine(rounds, dirA)
    runEngine(3, dirB, compactOnExit = false) // "crash" after round 3 deltas
    runEngine(rounds, dirB) // resume via replay
    val (nA, aA, wA, sA) = engineState(dirA)
    val (nB, aB, wB, sB) = engineState(dirB)
    assert(sA === sB, "seen set differs")
    assert(nA === nB, "node table differs")
    assert(aA === aB, "adjacency differs")
    assert(wA === wB, "walk store differs")
    // the replayed `visit` rows rebuild the exact visit index
    val (vA, vB) = (engineVisits(dirA), engineVisits(dirB))
    assert(vB === visitsOf(wB), "replayed visits differ from the walk store")
    assert(vB === vA, "replayed visits differ from the uncrashed run's")
  }

  test("replay refuses a committed round with legacy per-table delta logs, naming its dir") {
    import spark.implicits._
    val dir = Files.createTempDirectory("crawl-legacy").toString
    val io = new ParquetTableIO(spark, dir)
    new RoundDriver(spark, io, params).init(seeds)
    // a round written by the per-table delta layout: no `delta` table
    io.write(1L, "fetched_add", seeds.take(1).toDF("url"))
    io.commitRound(1L)
    val err = intercept[IllegalStateException](runEngine(2, dir))
    assert(err.getMessage.contains(s"$dir/r=1"), err.getMessage)
  }

  test("walk↔visit-index consistency + leak/demotion invariants (e2e_test.go analogs)") {
    val dir = Files.createTempDirectory("crawl-inv").toString
    runEngine(rounds, dir)
    val (nodes, _, walks, _) = engineState(dir)
    // every walk's start equals path head; no walk starts at a non-active node
    val activeIds = nodes.collect { case (id, (_, "active", _, _, _)) => id }.toSet
    walks.foreach { case (wid, path) =>
      assert(path.nonEmpty)
      assert(path.distinct.size === path.size, s"walk $wid repeats a node")
      assert(activeIds.contains(path.head), s"walk $wid starts at non-active node ${path.head}")
    }
    // each active node has exactly walksPerNode walks starting at it
    val byStart = walks.keys.groupBy(_ / params.walksPerNode)
    activeIds.foreach { id =>
      assert(byStart.getOrElse(id, Nil).size === params.walksPerNode, s"node $id walk count")
    }
    // the visit index is exactly the walks' node occurrences
    assert(engineVisits(dir) === visitsOf(walks))
  }
}
