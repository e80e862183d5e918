package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r6 drain-then-release discipline GLOBALLY: after running every
  * declared SparkEntry query back to back (the bench JVM's life), no
  * persistent RDD may remain. Round 5 pinned this for the walkers
  * (WalkerCacheSpec) and the dedup queries (TextDedupSpec's persist
  * sweep); round 6 added checkpoints to a dozen more operators
  * (k-means/q72, q74/q76/q78/q82, the LSH signature/candidate caches,
  * q64's oriented edges), each with a release path — one forgotten
  * release here is storage pressure across an 82-query bench session.
  */
class QueryCacheSweepSpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, appName = "query-cache-sweep-spec")

  test("no cached RDDs survive the full query registry (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists(), s"$dir not present")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      fn(spark, dir).count()
      val leftover = spark.sparkContext.getPersistentRDDs
      assert(
        leftover.isEmpty,
        s"$name left ${leftover.size} cached RDDs: " +
          leftover.values.map(_.toString).take(6).mkString("; ")
      )
    }
  }
}
