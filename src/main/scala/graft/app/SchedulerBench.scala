package graft.app

import org.apache.spark.sql.functions._

import graft.core.{Rng, Sessions}

/** Frontier-scheduler throughput at scale — the north-star metric's subject
  * ("URLs scheduled/sec on a 10^10-URL frontier"): drives the EXACT
  * scheduling operator the engine uses (graft.frontier.Politeness.schedule:
  * seen-set anti-join → rank join → salted politeness window → batch cut)
  * over a deterministic synthetic frontier, marking each batch fetched so
  * every iteration schedules fresh URLs.
  *
  * One leg per JVM (see tools/run_scaling.sh rationale).
  * Args: <cores> [frontierSize] [batch] [iters] [hosts]
  */
object SchedulerBench {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val n = if (args.length > 1) args(1).toInt else 10000000
    val batch = if (args.length > 2) args(2).toInt else 100000
    val iters = if (args.length > 3) args(3).toInt else 5
    val hosts = if (args.length > 4) args(4).toInt else 5000

    val spark = Sessions.local(cores, appName = s"scheduler-bench-$cores")
    // AQE's post-shuffle coalescing targets ~64MB partitions, which caps a
    // 10M-row shuffle at ~10 tasks regardless of cores — fine for a real
    // cluster's task overhead, wrong for a parallelism-scaling measurement.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    import spark.implicits._

    val t0 = System.nanoTime()
    // deterministic frontier: mega-host h0 owns ~30% of URLs (skew), the
    // rest spread over `hosts`; ~30% of nodes carry visit mass
    val nodes = spark
      .range(0, n.toLong, 1, cores * 4)
      .map { i =>
        val h = if (i % 10 < 3) 0L else 1L + Math.floorMod(Rng.hash(9L, i, 0, 0), (hosts - 1).toLong)
        (s"https://h$h.example/p$i", i, s"h$h.example", "inactive")
      }
      .toDF("url", "id", "host", "status")
      .persist()
    val visits = spark
      .range(0, n.toLong, 1, cores * 4)
      .filter(i => i % 10 < 3)
      .map(i => (i, 1L + Math.floorMod(Rng.hash(10L, i, 0, 0), 100L)))
      .toDF("node", "count")
      .persist()
    val enqueued = nodes.select($"url").persist()
    var fetched = nodes.filter($"id" % 10 === 4).select($"url").localCheckpoint(true)
    nodes.count(); visits.count(); enqueued.count()
    val totalVisits = visits.agg(sum($"count")).first().getLong(0)
    val hostBudget = math.max(batch * 3 / hosts, 10)
    val prepSec = (System.nanoTime() - t0) / 1e9

    // the engine's seen set (graft.frontier.SeenSet) over the initial
    // seen set, then grown per batch inside the timed loop — the full
    // bloom-prefiltered scheduling path the engine runs.
    // GRAFT_SCHED_SHARDED=1 sets its gate to 0, the distributed sharded
    // table (the 10^10-url shape: zero driver bloom bytes); fingerprints
    // must match the driver-bloom legs.
    val sharded = sys.env.get("GRAFT_SCHED_SHARDED").contains("1")
    val maxDriverUrls = if (sharded) 0L else graft.frontier.SeenSet.DefaultMaxDriverUrls
    var seenCount = fetched.count()
    var seen = graft.frontier.SeenSet.build(spark, fetched, seenCount, maxDriverUrls)
    def scheduleOnce(fetchedNow: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      graft.frontier.Politeness
        .schedule(
          nodes,
          visits,
          totalVisits,
          enqueued,
          fetchedNow,
          batch,
          hostBudget,
          seen.bloom,
          seenShards = seen.shards
        )
        .select($"url")
        .localCheckpoint(true)
    def noteSeen(rows: Array[org.apache.spark.sql.Row]): Unit = {
      seenCount += rows.length
      seen = seen.add(rows.map(_.getString(0)).toSeq, fetched, seenCount)
    }

    // warm-up iteration (excluded)
    val warm = scheduleOnce(fetched)
    fetched = fetched.union(warm).localCheckpoint(true)
    noteSeen(warm.collect())

    val batches = Vector.newBuilder[org.apache.spark.sql.DataFrame]
    val t1 = System.nanoTime()
    var i = 0
    var scheduled = 0L
    while (i < iters) {
      val b = scheduleOnce(fetched)
      val rows = b.collect()
      scheduled += rows.length
      batches += b
      fetched = fetched.union(b).localCheckpoint(true)
      noteSeen(rows) // incremental seen-set upkeep
      i += 1
    }
    val wallSec = (System.nanoTime() - t1) / 1e9
    // determinism fingerprint computed OUTSIDE the timed window
    val fps = batches.result().zipWithIndex.map { case (b, j) =>
      s"$j:${b.orderBy($"url").first().getString(0)}:${b.count()}"
    }
    println(
      s"""{"leg":{"cores":$cores,"frontier":$n,"batch":$batch,"iters":$iters,"seenMode":"${if (sharded) "sharded" else "driver"}",""" +
        s""""urlsScheduled":$scheduled,"wallSec":$wallSec,"prepSec":$prepSec,""" +
        s""""urlsPerSec":${scheduled / wallSec},"fingerprint":"${fps.mkString("|")}"}}"""
    )
    spark.stop()
  }
}
