package graft.frontier

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.core.{CacheOps, Rng}

/** The crawl's URL-seen set — the reference's firehose LRU `seen` cache
  * (`pkg/pipe/firehose/firehose.go:20,61-64`) as a bloom
  * filter of xxhash64(url) longs that prefilters the scheduling anti-join
  * (`Politeness.schedule` takes [[bloom]] and [[shards]]). Bloom positives
  * always re-check exactly, so whichever representation runs, the crawl is
  * byte-identical.
  *
  * One value with fixed fields holds ONE of two representations, the
  * capacity it was built for and the release handle of its storage:
  *  - the driver filter ([[bloom]]): probed through one broadcast, about
  *    1.2 MB per 10^6 urls at [[Fpp]];
  *  - the sharded table ([[shards]], `BloomShards`): the bits live on the
  *    executors and the driver holds none — the only form that fits a
  *    10^10-url seen set (~12 GB of bits).
  *
  * The gate `2·|seen| ≤ maxDriverUrls` picks the driver filter; 0 forces
  * the table from the first build. The gate stays a bound on DRIVER
  * MEMORY, not a speed crossover: the driver filter was faster at every
  * size measured. `SchedulerBench` on `local[4]` (4-core host; frontier of
  * n urls, a tenth already seen, batch n/20, 5 timed batches, 2,000 hosts;
  * median of 3 legs each, one JVM per leg), urls scheduled per second,
  * driver vs sharded: n = 10^5: 3,579 vs 1,958 (1.83×); n = 10^6: 13,692
  * vs 7,387 (1.85×); identical batch fingerprints in every leg.
  *
  * [[add]] follows one rule. If the seen count has passed the build
  * capacity (fpp would drift toward 1 and the prefilter would quietly
  * stop filtering), or has crossed the gate, it rebuilds from `fetched`
  * at twice the seen count (at least [[MinCapacity]]), the gate picking
  * the representation. Otherwise the batch goes into the driver filter in
  * place, or is merged into the shards it touches.
  */
final class SeenSet private (
    /** the driver-resident filter (below the gate) or the shard table */
    bits: Either[BloomFilter, Dataset[BloomShard]],
    /** urls the current representation was built for */
    val capacity: Long,
    maxDriverUrls: Long,
    /** drops the shard table's checkpoint (a no-op for the driver filter) */
    val release: () => Unit
) {
  def bloom: Option[BloomFilter] = bits.left.toOption

  /** The shard table and its shard count. */
  def shards: Option[(Dataset[BloomShard], Int)] = bits.toOption.map((_, SeenSet.NumShards))

  /** The seen set after `batchUrls` were fetched. `fetched` is the whole
    * seen table including the batch, `seenCount` its size. A replaced
    * shard table is released once its successor is materialized.
    */
  def add(batchUrls: Seq[String], fetched: DataFrame, seenCount: Long): SeenSet =
    if (seenCount > capacity || SeenSet.onDriver(seenCount, maxDriverUrls) != bits.isLeft) {
      val next = SeenSet.build(fetched.sparkSession, fetched, seenCount, maxDriverUrls)
      release()
      next
    } else
      bits match {
        case Left(bf) =>
          batchUrls.foreach(u => bf.putLong(Rng.sparkXxhash64String(u)))
          this
        case Right(table) =>
          val spark = fetched.sparkSession
          import spark.implicits._
          val (merged, rel) = CacheOps.checkpointReleasable(
            BloomShards.merge(spark, table, batchUrls.toDF("url"), SeenSet.NumShards, SeenSet.perShard(capacity))
          )
          release()
          new SeenSet(Right(merged), capacity, maxDriverUrls, rel)
      }
}

object SeenSet {

  /** Target false-positive rate of every seen filter, driver or shard. */
  val Fpp = 0.01

  /** Fewest urls a seen set is built for. */
  val MinCapacity = 100000L

  /** Default gate: about 60 MB of driver filter (5×10^7 urls). */
  val DefaultMaxDriverUrls = 50000000L

  private val NumShards = BloomShards.DefaultShards

  private def onDriver(seenCount: Long, maxDriverUrls: Long): Boolean =
    maxDriverUrls > 0 && seenCount * 2 <= maxDriverUrls

  private def perShard(capacity: Long): Long = (capacity + NumShards - 1) / NumShards

  /** The seen set over `fetched` (a `url` table of `seenCount` rows), built
    * in one distributed pass for twice the seen count; the shard table
    * splits that capacity evenly over its shards.
    */
  def build(spark: SparkSession, fetched: DataFrame, seenCount: Long, maxDriverUrls: Long): SeenSet = {
    val cap = math.max(seenCount * 2, MinCapacity)
    if (onDriver(seenCount, maxDriverUrls)) {
      val bf =
        if (seenCount == 0) BloomFilter.create(cap, Fpp)
        else fetched.select(xxhash64(col("url")).as("h")).stat.bloomFilter("h", cap, Fpp)
      new SeenSet(Left(bf), cap, maxDriverUrls, () => ())
    } else {
      val (table, rel) = CacheOps.checkpointReleasable(BloomShards.build(spark, fetched, NumShards, perShard(cap)))
      new SeenSet(Right(table), cap, maxDriverUrls, rel)
    }
  }
}
