package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.{BloomShards, SeenSet}

/** Every transition of the URL-seen set, over more urls than the
  * [[SeenSet.MinCapacity]] floor so that capacity rebuilds actually run:
  * driver build → driver add → driver growth rebuild → gate crossing →
  * shard merge → shard-overflow rebuild. After each step: the
  * representation, the capacity (twice the seen count after a rebuild,
  * unchanged otherwise), no false negative over every url added so far,
  * and no shard table left cached but the current one.
  */
class SeenSetSpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, appName = "seen-set-spec")

  private def url(i: Long): String = s"https://h${i % 97}.example/p$i"

  /** The table of urls [from, to), the same strings as [[url]]. */
  private def urls(from: Long, to: Long): DataFrame =
    spark
      .range(from, to, 1, 8)
      .select(concat(lit("https://h"), (col("id") % 97).cast("string"), lit(".example/p"), col("id").cast("string")).as("url"))

  private def rddId(ds: Dataset[_]): Int = ds.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id

  private def cachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Urls in `urls` (a `url` table) the seen set probes NEGATIVE on. */
  private def negatives(seen: SeenSet, urls: DataFrame): Long = {
    import spark.implicits._
    (seen.bloom, seen.shards) match {
      case (Some(bf), _) =>
        urls.select(xxhash64($"url")).as[Long].collect().count(h => !bf.mightContainLong(h)).toLong
      case (_, Some((table, n))) => BloomShards.probe(spark, urls, table, n).filter(!$"might").count()
      case _ => fail("a seen set holds a filter or a shard table")
    }
  }

  test("build, add, growth rebuild, gate crossing, shard merge and shard-overflow rebuild") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    // the gate crosses once 2·|seen| > 300,000, i.e. past 150,000 urls
    val maxDriverUrls = 300000L
    var seen = SeenSet.build(spark, urls(0, 50000), 50000, maxDriverUrls)
    var n = 50000L

    /** Add urls [n, to) and check the step's outcome. */
    def step(to: Long, driver: Boolean, rebuilt: Boolean): Unit = {
      val before = seen
      val beforeCap = seen.capacity
      val beforeTable = seen.shards.map(s => rddId(s._1))
      seen = seen.add((n until to).map(url), urls(0, to), to)
      n = to
      assert(seen.bloom.isDefined === driver, s"at $n urls: driver filter expected = $driver")
      assert(seen.shards.isDefined === !driver, s"at $n urls: shard table expected = ${!driver}")
      if (rebuilt) assert(seen.capacity === 2 * n, s"a rebuild at $n urls must double the seen count")
      else {
        assert(seen.capacity === beforeCap, s"no rebuild at $n urls, so the capacity stays")
        if (driver) assert(seen eq before, "a driver add puts the batch into the same filter")
      }
      assert(negatives(seen, urls(0, n)) === 0L, s"an added url probes negative at $n urls")
      beforeTable.foreach(id => assert(!cachedIds(id), s"the replaced shard table $id is still cached at $n urls"))
      assert(cachedIds === seen.shards.map(s => rddId(s._1)).toSet, s"only the current shard table may stay cached at $n urls")
    }

    assert(seen.bloom.isDefined && seen.shards.isEmpty, "50,000 urls are under the gate")
    assert(seen.capacity === 100000L)
    assert(negatives(seen, urls(0, n)) === 0L)
    step(90000, driver = true, rebuilt = false) // fits the build capacity
    step(100001, driver = true, rebuilt = true) // outgrew it: 200,002
    step(160000, driver = false, rebuilt = true) // crossed the gate: 320,000 over 64 shards
    step(200000, driver = false, rebuilt = false) // merged into the touched shards
    step(330000, driver = false, rebuilt = true) // outgrew the shards: 660,000
    // the rebuilt capacity keeps the filter selective
    val falsePositives = 10000L - negatives(seen, urls(330000, 340000))
    assert(falsePositives < 500L, s"$falsePositives of 10,000 unseen urls probe positive")
    seen.release()
    assert(cachedIds.isEmpty, "release drops the shard table")
  }
}
