package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.core.Rng
import graft.frontier.Politeness

/** `frontier_scan`: the frontier scheduler alone on a synthetic frontier
  * generated from the seed — 30% of URLs on one mega-host, the rest over
  * [[Hosts]] hosts, about 30% with visit mass and 10% already fetched.
  *
  * Each timed step is one `Politeness.schedule` batch with the driver-resident
  * bloom, collected, then the seen-set upkeep: the batch goes into the
  * bloom and is marked fetched. Each batch is then checked, outside the
  * timed step, against `Politeness.schedule` with no bloom (the exact
  * anti-join path) on the same seen set.
  */
object FrontierScan {
  val FrontierUrls = 200000
  val Hosts = 2000
  val Batch = 5000
  val HostBudget: Int = math.max(Batch * 3 / Hosts, 10)

  /** Timed batches for a run of `seconds`: about five seconds per batch
    * with its check, at least four.
    */
  def timedBatches(seconds: Int): Int = math.max(4, seconds / 5)

  private val Prepares = 3

  private final case class Frontier(
      nodes: DataFrame,
      visits: DataFrame,
      enqueued: DataFrame,
      fetched: DataFrame,
      totalVisits: Long,
      bloom: BloomFilter
  )

  private def generate(ctx: Ctx, capacity: Long): Frontier = {
    import ctx.spark.implicits._
    val seed = ctx.seed
    val parts = ctx.cores * 4
    val nodes = ctx.spark
      .range(0, FrontierUrls.toLong, 1, parts)
      .map { i =>
        val h =
          if (Math.floorMod(Rng.hash(seed, i, 0, 0), 10L) < 3) 0L
          else 1L + Math.floorMod(Rng.hash(seed, i, 1, 0), Hosts.toLong)
        (s"https://h$h.example/p$i", i, s"h$h.example", "inactive")
      }
      .toDF("url", "id", "host", "status")
      .persist()
    val visits = ctx.spark
      .range(0, FrontierUrls.toLong, 1, parts)
      .filter(i => Math.floorMod(Rng.hash(seed, i, 2, 0), 10L) < 3)
      .map(i => (i, 1L + Math.floorMod(Rng.hash(seed, i, 3, 0), 100L)))
      .toDF("node", "count")
      .persist()
    val enqueued = nodes.select($"url").persist()
    val fetched = nodes
      .filter(udf((i: Long) => Math.floorMod(Rng.hash(seed, i, 4, 0), 10L) == 0).apply($"id"))
      .select($"url")
      .localCheckpoint(true)
    nodes.count(); visits.count(); enqueued.count()
    val totalVisits = visits.agg(sum($"count")).first().getLong(0)
    val bloom = fetched.select(xxhash64($"url").as("h")).stat.bloomFilter("h", capacity, 0.01)
    Frontier(nodes, visits, enqueued, fetched, totalVisits, bloom)
  }

  private def release(f: Frontier): Unit = {
    f.nodes.unpersist(); f.visits.unpersist(); f.enqueued.unpersist()
  }

  def run(ctx: Ctx): Outcome = {
    import ctx.{spark, tracer}
    import spark.implicits._
    val batches = timedBatches(ctx.seconds)
    // sized to the whole seen set of the run, like the engine's bloom
    val capacity = math.max((FrontierUrls / 10 + (batches + 1).toLong * Batch) * 2, 100000L)

    val prepared = (1 to Prepares).map(_ => ctx.time(generate(ctx, capacity)))
    prepared.init.foreach { case (f, _) => release(f) }
    val f = prepared.last._1
    val prepareS = Stats.median(prepared.map(_._2 / 1e9))
    var fetched = f.fetched

    def schedule(seen: DataFrame, bloom: Option[BloomFilter]): DataFrame =
      tracer.span("Politeness.schedule") {
        Politeness.schedule(f.nodes, f.visits, f.totalVisits, f.enqueued, seen, Batch, HostBudget, bloom).select($"url")
      }

    /** One step: schedule + collect, then seen-set upkeep. */
    def step(): (Array[Row], Long, Long) = {
      val t0 = System.nanoTime()
      val b = schedule(fetched, Some(f.bloom)).localCheckpoint(true)
      val rows = tracer.span("collect")(b.collect())
      val t1 = System.nanoTime()
      tracer.span("upkeep") {
        rows.foreach(r => f.bloom.putLong(Rng.sparkXxhash64String(r.getString(0))))
        fetched = fetched.union(b).localCheckpoint(true)
      }
      (rows, t1 - t0, System.nanoTime() - t1)
    }

    val (_, warmNs) = ctx.time(step())
    ctx.sampleHeap()
    val setupS = ctx.sessionSeconds + prepareS + warmNs / 1e9

    counterReset(ctx)
    val failures = Vector.newBuilder[String]
    val stepMs = Vector.newBuilder[Double]
    var scheduleNs, upkeepNs, scheduled = 0L
    (1 to batches).foreach { i =>
      val before = fetched
      val ((rows, sNs, uNs), ns) = ctx.timed(tracer.span("batch")(step()))
      scheduleNs += sNs; upkeepNs += uNs; scheduled += rows.length
      stepMs += ns / 1e6
      ctx.sampleHeap()
      val want = schedule(before, None).collect().map(_.getString(0))
      if (!rows.map(_.getString(0)).sameElements(want))
        failures += s"batch $i: differs from the exact (no-bloom) schedule"
      if (rows.length != Batch) failures += s"batch $i: ${rows.length} urls, expected a full batch of $Batch"
    }
    val taskSkew = ctx.counters.map(_.taskSkew()).getOrElse(0.0)
    val failed = failures.result()

    val endToEnd = Map(
      "setup_s" -> setupS,
      "urls_per_s" -> scheduled / (ctx.timedNs / 1e9),
      "step_ms_p50" -> Stats.median(stepMs.result()),
      "heap_after_gc_mb" -> ctx.heapPeakMb
    )
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else
        Map(
          "frontier.schedule_ms" -> scheduleNs / 1e6 / batches,
          "frontier.upkeep_ms" -> upkeepNs / 1e6 / batches,
          "frontier.bloom_fp_rate" -> bloomFpRate(ctx, f, fetched),
          "frontier.task_skew" -> taskSkew
        )
    Outcome(batches, failed.map(_.takeWhile(_ != ':')).distinct.size, endToEnd, layers, failed)
  }

  private def counterReset(ctx: Ctx): Unit = ctx.counters.foreach { c => c.drain(); c.resetTaskDurations() }

  /** Of the frontier URLs the bloom flags as seen, the share never fetched. */
  private def bloomFpRate(ctx: Ctx, f: Frontier, fetched: DataFrame): Double = {
    import ctx.spark.implicits._
    val bf = ctx.spark.sparkContext.broadcast(f.bloom)
    val flagged = f.enqueued.filter(udf((h: Long) => bf.value.mightContainLong(h)).apply(xxhash64($"url")))
    val nFlagged = flagged.count()
    val unseen = flagged.join(fetched, Seq("url"), "left_anti").count()
    if (nFlagged == 0) 0.0 else unseen.toDouble / nFlagged
  }
}
