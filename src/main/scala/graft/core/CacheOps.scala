package graft.core

import org.apache.spark.sql.Dataset

/** Deterministic release for local checkpoints.
  *
  * `Dataset.localCheckpoint(true)` caches the materialized partitions on an
  * RDD the CacheManager never tracks, so `Dataset.unpersist()` is a no-op on
  * it and the blocks linger until the JVM's ContextCleaner happens to notice
  * the RDD is unreachable. The iterative drains (walk generation, repair)
  * take one such checkpoint per hop; across a many-hop drain — or 48 bench
  * queries sharing one JVM — the orphaned slices pile into real storage
  * pressure (the round-4 bench's sporadic >60 s walker reps are consistent
  * with exactly this: eviction + GC churn under a full storage pool).
  *
  * [[checkpointReleasable]] returns the checkpointed Dataset together with a
  * handle that unpersists its underlying RDD NOW. Releasing is safe once
  * every consumer that must survive is itself materialized to a
  * MEMORY_AND_DISK cache (a local checkpoint has no recompute lineage — this
  * is the standard localCheckpoint caveat, not a new one).
  */
object CacheOps {

  def checkpointReleasable[T](ds: Dataset[T]): (Dataset[T], () => Unit) = {
    val cp = ds.localCheckpoint(true)
    val release: () => Unit = cp.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => () => { l.rdd.unpersist(blocking = false); () }
      case _                                            => () => ()
    }
    (cp, release)
  }

  /** Bytes the blocks of a [[checkpointReleasable]] checkpoint hold, in
    * memory and on disk; None for a Dataset that is not such a checkpoint.
    */
  def checkpointBytes(ds: Dataset[_]): Option[Long] = ds.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      ds.sparkSession.sparkContext.getRDDStorageInfo.find(_.id == l.rdd.id).map(i => i.memSize + i.diskSize)
    case _ => None
  }

  /** Rows above which [[drain]] refuses to collect and falls back to a
    * distributed result (the q34/q49 gate).
    */
  val DrainMaxRows: Long = 2000000L

  /** Drain-then-release (the q34 discipline as a helper): materialize a
    * query's FINAL result once, release every cache the query took while
    * computing it, and return the rows re-created as a local relation with
    * the identical schema — so the query leaves ZERO caches behind and the
    * caller's action on the returned frame is a LocalTableScan.
    *
    * Queries whose intermediates are worth computing once (a token explode
    * consumed by three aggregations, a k-means assignment self-joined for
    * pairing) checkpoint them via [[checkpointReleasable]] and end with
    * `drain(out, releases…)`: the upstream caches are ALWAYS safe to
    * release here because `out` is first checkpointed itself (a local
    * checkpoint has no lineage into them). Above [[DrainMaxRows]] the
    * collect is refused: upstream caches still release, and the result
    * checkpoint is returned as a distributed frame (its cache falls to the
    * ContextCleaner once the caller drops it — the rare huge-output path).
    * Row order: the input's order survives the collect; the gated fallback
    * returns checkpoint partition order (callers ordering for humans
    * re-sort downstream; every driver check sorts before comparing).
    */
  def drain(out: Dataset[_], releases: (() => Unit)*): org.apache.spark.sql.DataFrame = {
    val spark = out.sparkSession
    val (cp, relCp) = checkpointReleasable(out.toDF())
    val n = cp.count()
    releases.foreach(_())
    if (n <= DrainMaxRows) {
      val rows = cp.collect()
      relCp()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), cp.schema)
    } else cp
  }

  /** [[drain]] without the size gate, for results that are BOUNDED SMALL by
    * construction (an explicit top-k limit, a per-group report over O(1)
    * groups): one direct collect, then release — no checkpoint round-trip.
    */
  def drainSmall(out: Dataset[_], releases: (() => Unit)*): org.apache.spark.sql.DataFrame = {
    val spark = out.sparkSession
    val df = out.toDF()
    val rows = df.collect()
    releases.foreach(_())
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }
}
