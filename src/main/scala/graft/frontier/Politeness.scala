package graft.frontier

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-safe politeness window (SURVEY.md §4 item 2).
  *
  * The per-host budget cut is a `row_number() over (partition by host)` —
  * and the synthetic corpus deliberately gives one mega-host ~30% of all
  * URLs, so a single window partition would process ~30% of the frontier on
  * one task. This two-phase form salts the heavy pass:
  *
  *   stage 1: rank within (host, salt = pmod(xxhash64(url), S)) and keep
  *            the top k per salted bucket — a mega-host spreads over S
  *            tasks; every survivor of the exact per-host top-k is
  *            necessarily in its bucket's top-k, so no candidate is lost;
  *   stage 2: exact row_number over host on the ≤ S·k survivors.
  *
  * Result is IDENTICAL to the single-window form (asserted by
  * PolitenessSpec and by the engine's byte-equivalence suite).
  */
object Politeness {

  /** THE frontier scheduling query (north-star metric: URLs scheduled/sec):
    * pending = enqueued ∖ fetched (bloom-prefiltered J9 anti-join), robots
    * gate, rank = visits/total, skew-salted per-host budget window (W3),
    * global rank-ordered batch cut. Used verbatim by the round driver and
    * by SchedulerBench.
    *
    * `seenBloom` / `seenShards`: the two forms of the URL-seen bloom,
    * `SeenSet.bloom` and `SeenSet.shards` (see [[SeenSet]]). Bloom-negative
    * urls are DEFINITELY unseen and skip the exact anti-join; only the
    * positives take it, so the result is identical on every path (or with
    * neither).
    *
    * `robots`: (host, prefix) disallow rules; a pending url whose path
    * starts with a disallowed prefix for its host is never scheduled.
    *
    * Expects `nodes` with (url, id, host, status) and `visits` with
    * (node, count).
    */
  def schedule(
      nodes: DataFrame,
      visits: DataFrame,
      totalVisits: Long,
      enqueued: DataFrame,
      fetched: DataFrame,
      batch: Int,
      hostBudget: Int,
      seenBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None,
      robots: Option[DataFrame] = None,
      seenShards: Option[(org.apache.spark.sql.Dataset[BloomShard], Int)] = None
  ): DataFrame = {
    val pending = (seenShards, seenBloom) match {
      case (Some((shards, numShards)), _) =>
        // distributed sharded probe: one shuffle of enqueued by url-hash
        // shard, filter bits never leave the executors
        val probed = BloomShards.probe(enqueued.sparkSession, enqueued, shards, numShards)
        val definitelyNew = probed.filter(!col("might")).select("url")
        val maybeSeen = probed.filter(col("might")).select("url").join(fetched, Seq("url"), "left_anti")
        definitelyNew.union(maybeSeen)
      case (None, Some(bf)) =>
        // The filter holds xxhash64(url) longs (put via
        // Rng.sparkXxhash64String); hashing stays codegen'd on the column
        // side and only the final bit-probe crosses into a long→boolean
        // UDF over a broadcast of the filter. (A native
        // BloomFilterMightContain literal was measured worse: the
        // multi-MB filter bytes travel inside every stage's task binary
        // instead of one torrent broadcast.)
        val bBloom = enqueued.sparkSession.sparkContext.broadcast(bf)
        val probe = udf((h: Long) => bBloom.value.mightContainLong(h))
        val mightContain = probe(xxhash64(col("url")))
        val definitelyNew = enqueued.filter(!mightContain)
        val maybeSeen = enqueued.filter(mightContain).join(fetched, Seq("url"), "left_anti")
        definitelyNew.union(maybeSeen)
      case (None, None) => enqueued.join(fetched, Seq("url"), "left_anti")
    }
    val withHost = pending.join(nodes, Seq("url"))
    val gated = robots match {
      case Some(rules) =>
        // no forced broadcast: rule tables small enough broadcast anyway
        // (Catalyst/AQE sizing), and a web-scale rules table (per-host
        // disallow lists for 10^8 hosts) must shuffle-join on host instead
        // of being forced through the driver
        val r = rules.select(col("host").as("rhost"), col("prefix").as("rprefix"))
        withHost
          .withColumn("__path", pathOf(col("url")))
          .join(r, withHost("host") === col("rhost") && col("__path").startsWith(col("rprefix")), "left_anti")
          .drop("__path")
      case None => withHost
    }
    val ranked = gated
      .join(visits, col("id") === col("node"), "left")
      .withColumn(
        "rank",
        if (totalVisits == 0L) lit(0.0)
        else coalesce(col("count"), lit(0L)).cast("double") / lit(totalVisits.toDouble)
      )
      .select(col("url"), col("id"), col("host"), col("rank"), col("status"))
    hostCappedTopK(ranked, col("host"), Seq(col("rank").desc, col("url").asc), col("url"), hostBudget)
      .orderBy(col("rank").desc, col("url").asc)
      .limit(batch)
      .select(col("url"), col("id"), col("status"))
  }

  /** The regex both the engine and the sequential spec use to derive a
    * url's path for the robots prefix gate: strip an optional
    * scheme-shaped prefix (any RFC-3986 scheme, not just http(s)) and the
    * authority up to the first '/'. Shared so the two can never diverge
    * on non-http(s) or scheme-less urls (ADVICE r2).
    */
  val PathPrefixRegex = "^([a-zA-Z][a-zA-Z0-9+.-]*://)?[^/]*"

  /** Column form of the path derivation. */
  def pathOf(url: Column): Column = regexp_replace(url, PathPrefixRegex, "")

  /** Rows whose exact per-host rank (by `order`) is ≤ k. `unique` must be a
    * deterministic tiebreaker column making the order total (the url).
    */
  def hostCappedTopK(
      df: DataFrame,
      host: Column,
      order: Seq[Column],
      unique: Column,
      k: Int,
      salts: Int = 16
  ): DataFrame = {
    val salted = df.withColumn("__salt", pmod(xxhash64(unique), lit(salts)))
    val w1 = Window.partitionBy(host, col("__salt")).orderBy(order: _*)
    val survivors = salted
      .withColumn("__srn", row_number().over(w1))
      .filter(col("__srn") <= k)
      .drop("__salt", "__srn")
    val w2 = Window.partitionBy(host).orderBy(order: _*)
    survivors
      .withColumn("__hrn", row_number().over(w2))
      .filter(col("__hrn") <= k)
      .drop("__hrn")
  }
}
