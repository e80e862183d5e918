package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.core.CrawlParams
import graft.fixtures.PagesGen
import graft.round.{BucketedTableIO, CrawlEngine, ParquetTableIO, RoundDriver}
import graft.spec.SequentialSpec

/** `crawl_grow`: the crawl loop in its production shape — bucketed state
  * tables and the url-bucketed extracted store — over a corpus generated
  * from the seed.
  *
  * Every page is published once (PagesGen version 1): a batch holding a
  * re-published page runs a second version wave, about 60% more round
  * time, and whether a batch holds one depends on the seed, which would
  * make round cost a lottery. Set-up extracts the corpus
  * into the store (three times, median reported) and initialises the
  * crawl from one seed URL per host, so every batch is full from the first
  * round. The timed part is one
  * `RoundDriver.run` over [[timedRounds]] rounds, including its state load
  * and the compaction at exit. Traced runs also resume: a new driver on a
  * new TableIO reloads the checkpoint and runs one more round. Every
  * round's fetch order and the final URL-seen set are compared byte for
  * byte with `SequentialSpec.run` on the same corpus and parameters.
  */
object CrawlGrow {
  val Pages = 4000
  val Hosts = 50
  val Params: CrawlParams = CrawlParams(batch = 50, hostBudget = 10, walksPerNode = 20)

  /** Rounds for a run of `seconds`: about ten seconds a round, at least
    * two.
    */
  def timedRounds(seconds: Int): Int = math.max(2, seconds / 10)

  private val Prepares = 3

  def run(ctx: Ctx): Outcome = {
    import ctx.{spark, tracer}
    import spark.implicits._
    val cfg = PagesGen.Config(Pages, Hosts, ctx.seed)
    val seeds = PagesGen.seedUrls(cfg, Hosts)
    val traced = tracer.enabled
    val stats = new IoStats
    def newIo(dir: String): ParquetTableIO =
      if (traced) new TimingTableIO(spark, dir, tracer, stats) else new BucketedTableIO(spark, dir)

    // set-up: generate + extract into the bucketed fetch store, repeated
    val prepared = (1 to Prepares).map { i =>
      ctx.time {
        val io = newIo(s"${ctx.work}/crawl-$i")
        val pages = spark
          .range(0, Pages.toLong, 1, ctx.cores * 4)
          .map(pid => PagesGen.pageOf(cfg, pid, 1))
          .toDF()
        tracer.span("CrawlEngine.extractPages") {
          io.write(0L, "extracted", CrawlEngine.extractPages(spark, pages))
        }
        io
      }
    }
    val io = prepared.last._1
    val prepareS = Stats.median(prepared.map(_._2 / 1e9))
    val extracted = io.read(0L, "extracted")
    val driver = new RoundDriver(spark, io, Params)
    val (_, initNs) = ctx.time(tracer.span("RoundDriver.init")(driver.init(seeds)))
    val setupS = ctx.sessionSeconds + prepareS + initNs / 1e9

    val lastRound = timedRounds(ctx.seconds)
    stats.resetCounts() // io.* covers the crawl loop: run and resume
    val runStart = tracer.now
    val (res, runNs) = ctx.timed(tracer.span("RoundDriver.run")(driver.run(extracted, lastRound)))
    val runEnd = tracer.now
    ctx.sampleHeap()
    res.traces.foreach { t =>
      val m = t.metrics
      println(s"[crawl_grow] round ${m.round}: scheduled=${m.scheduled} wallMillis=${m.wallMillis} " +
        s"walksChanged=${m.walksChanged} promoted=${m.promoted} scanRan=${m.scanRan}")
    }
    println(s"[crawl_grow] RoundDriver.run ${runNs / 1e6} ms")
    val seenAtLast = sortedSeen(io, lastRound)

    // traced only: resume from the checkpoint and run one more round
    val resumed = if (!traced) None else Some(ctx.time {
      val again = new RoundDriver(spark, newIo(io.root), Params)
      tracer.span("RoundDriver.run")(again.run(extracted, lastRound + 1))
    })
    val checkedRounds = if (traced) lastRound + 1 else lastRound
    val seenAtResume = resumed.map(_ => sortedSeen(io, lastRound + 1))

    // reference: the sequential spec on the same corpus, outside all timing
    val pageVs = (0L until Pages.toLong).map(pageV(cfg, _))
    val (spec, specNs) = ctx.time(tracer.span("SequentialSpec.run") {
      SequentialSpec.run(pageVs, seeds, Params, checkedRounds)
    })

    val engineRounds = res.traces ++ resumed.toSeq.flatMap(_._1.traces)
    val failures = Vector.newBuilder[String]
    (1 to checkedRounds).foreach { r =>
      val got = engineRounds.find(_.round == r).map(_.fetchOrder)
      val want = spec.traces.find(_.round == r).map(_.fetchOrder).getOrElse(Vector.empty)
      if (got.isEmpty) failures += s"round $r: the engine did not run it"
      else if (!sameBytes(got.get, want)) failures += s"round $r: fetch order differs from the spec"
    }
    val specSeenAtLast = spec.traces.filter(_.round <= lastRound).flatMap(_.fetchOrder).distinct.sorted
    if (!sameBytes(seenAtLast, specSeenAtLast)) failures += s"round $lastRound: URL-seen set differs from the spec"
    seenAtResume.foreach { seen =>
      if (!sameBytes(seen, spec.seen)) failures += s"round ${lastRound + 1}: URL-seen set differs from the spec"
    }
    val failed = failures.result()

    val full = res.traces.filter(_.metrics.scheduled == Params.batch)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "urls_per_s" -> res.traces.map(_.metrics.scheduled).sum / (runNs / 1e9),
      "step_ms_p50" -> (if (full.nonEmpty) Stats.median(full.map(_.metrics.wallMillis.toDouble)) else Double.NaN),
      "heap_after_gc_mb" -> ctx.heapPeakMb
    )

    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        // round spans from the store's commit times and RoundMetrics; the
        // compactions from their snapshot writes
        res.traces.foreach { t =>
          val start = stats.metricsWriteStart(t.round) - t.metrics.wallMillis * 1000000L
          tracer.record("round", start, stats.firstCommit(t.round))
        }
        stats.compactStart.foreach { case (r, s) => tracer.record("compact", s, stats.compactEnd.getOrElse(r, s)) }
        val covered = (tracer.named("round") ++ tracer.named("compact"))
          .filter(s => s.startNs >= runStart && s.endNs <= runEnd)
          .map(_.ms)
          .sum
        Map(
          "round.wall_ms" -> Stats.median(res.traces.map(_.metrics.wallMillis.toDouble)),
          "round.jobs" -> ctx.sparkDelta("jobs").toDouble / math.max(res.traces.size, 1),
          "round.driver_resolved_nodes" -> res.traces.map(_.metrics.driverResolvedNodes).sum.toDouble,
          "round.driver_delta_entries" -> res.traces.map(_.metrics.driverDeltaEntries).sum.toDouble,
          "round.resume_ms" -> resumed.map(_._2 / 1e6).getOrElse(0.0),
          "round.span_coverage" -> covered / (runNs / 1e6),
          "io.write_calls" -> stats.writeCalls.toDouble,
          "io.read_calls" -> stats.readCalls.toDouble,
          "io.bytes_written" -> stats.bytesWritten.toDouble,
          "io.delta_write_ms" -> stats.deltaWriteNs / 1e6,
          "io.snapshot_write_ms" -> stats.snapshotWriteNs / 1e6,
          "io.state_bytes" -> tracer.charge(io.asInstanceOf[TimingTableIO].stateBytes().toDouble),
          "extract.ms" -> Stats.median(tracer.named("CrawlEngine.extractPages").map(_.ms)),
          "spec.run_ms" -> specNs / 1e6
        )
      }
    // each round is one operation; a seen-set mismatch fails the round it closes
    Outcome(checkedRounds, failed.map(_.takeWhile(_ != ':')).distinct.size, endToEnd, layers, failed)
  }

  private def sortedSeen(io: ParquetTableIO, round: Long): Vector[String] =
    io.read(round, "fetched").collect().map(_.getString(0)).toVector.sorted

  private def sameBytes(a: Seq[String], b: Seq[String]): Boolean =
    java.util.Arrays.equals(a.mkString("\n").getBytes(UTF_8), b.mkString("\n").getBytes(UTF_8))

  private def pageV(cfg: PagesGen.Config, pid: Long): SequentialSpec.PageV = {
    val p = PagesGen.pageOf(cfg, pid, 1)
    SequentialSpec.PageV(p.url, p.warc_ts.getTime / 1000, p.html, p.text)
  }
}
