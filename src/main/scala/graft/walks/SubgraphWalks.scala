package graft.walks

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{functions, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

/** Walk repair / generation against a DISTRIBUTED adjacency (the edges
  * table), with on-demand sub-adjacency resolution.
  *
  * The round loop must never hold the crawled graph on the driver (at a
  * 10^10-URL frontier the crawled subgraph is billions of edges). But walk
  * repair (WalkAlgebra's repair state machine) and generation need random
  * access to the follow lists of whichever nodes a walk happens to visit —
  * an unpredictable, *tiny* subset: O(walks × segment length) per wave,
  * independent of graph size.
  *
  * So adjacency is resolved lazily: attempts run with a bounded broadcast
  * map of the follow lists resolved so far; a walk that reaches an
  * unresolved node aborts (recording the miss), the missed nodes' rows are
  * fetched from the distributed edges table with one broadcast semi-join
  * (plus one speculative hop of expansion), and ONLY the aborted walks
  * retry. Every RNG draw is counter-based (graft.core.Rng), so a retried
  * walk re-makes exactly the same draws — results are byte-identical to a
  * full-adjacency run, which CrawlEquivalenceSpec asserts against the
  * sequential spec.
  *
  * That miss-retry loop exists once, as [[Resolver.drain]]. Every wave of
  * walk generation or repair ends in it (IterativeWalker.hopThenDrain: a
  * wave with more than IterativeWalker.TailThreshold live walks first hops
  * by joins, with no driver map at all). Driver memory is O(nodes visited
  * this wave), bounded by the resolver's expansion caps; per attempt the
  * map is broadcast once.
  *
  * Reference semantics: the Go engine repairs walks one event at a time
  * against its in-memory graph (/root/reference/pkg/pipe/engine/engine.go:
  * 372-425); this module is its batch analog with the graph kept columnar.
  */
object SubgraphWalks {

  /** Control-flow signal: a walk reached a node whose follow list is not in
    * the broadcast map yet. Cheap (no stack trace).
    */
  private final class Unresolved(val node: Long) extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** One item's outcome in one attempt of [[Resolver.drain]]: its outputs,
    * or (on a miss) the item itself to retry and the node it missed. Not
    * private: Spark's generated (de)serializers call its accessors, and
    * they cannot compile against a private class.
    */
  case class Attempt[I, O](out: Seq[O], retry: Option[I], miss: Long)

  /** Driver-side cache of resolved follow lists, backed by the distributed
    * edges table (`edges` is a thunk so the cache survives in-round edge
    * replacements — entries for replaced authors are overwritten in place
    * via [[Resolver.update]], everything else stays valid because the round
    * loop only ever rewrites touched authors' lists). An explicit empty
    * array means "known dangling". Scope a Resolver to ONE round: its
    * memory is O(nodes touched that round), never O(crawled graph).
    */
  final class Resolver(spark: SparkSession, val edges: () => DataFrame) {
    private val known = mutable.Map.empty[Long, Array[Long]]

    def snapshot: Map[Long, Array[Long]] = known.toMap
    def size: Int = known.size

    /** Overwrite a follow list whose new value is already known on the
      * driver (the wave's delta authors) — no refetch.
      */
    def update(node: Long, list: Array[Long]): Unit = known(node) = list

    /** Resolved lists for `ids`, fetching what is missing. */
    def lists(ids: Seq[Long]): Map[Long, Array[Long]] = {
      resolve(ids, expandHops = 0)
      ids.iterator.map(i => i -> known(i)).toMap
    }

    /** One follow list, fetched on demand (driver-side sequential use —
      * e.g. the personalized-rank splice loop).
      */
    def list(n: Long): Array[Long] = {
      if (!known.contains(n)) resolve(Seq(n), expandHops = 1)
      known(n)
    }

    /** Caps on speculative BFS expansion per resolve call — at web scale an
      * uncapped multi-hop expansion from a mega-hub would fetch the world.
      * `maxExpandFetch` bounds the id fan-out; `maxExpandRows` bounds the
      * (src, dst) rows actually collected in a speculative hop — one hop
      * over up to 10^6 high-degree hubs could otherwise still drag an
      * unbounded edge set to the driver. Hop 0 (the ids the caller's walks
      * genuinely reached) is mandatory and caller-bounded; only the
      * speculative hops are abandoned, and the miss-retry loop covers
      * whatever they would have prefetched.
      */
    val maxExpandFetch = 1000000
    val maxExpandRows = 5000000

    /** Fetch follow lists for `ids` (one broadcast semi-join against the
      * edges table per hop), expanding up to `expandHops` speculative hops
      * into their targets so short segments resolve in one attempt.
      */
    def resolve(ids: Iterable[Long], expandHops: Int = 1): Unit = {
      import spark.implicits._
      var need: Array[Long] = ids.toArray.distinct.filterNot(known.contains)
      var hop = 0
      var overBudget = false
      while (need.nonEmpty && hop <= expandHops && !overBudget && (hop == 0 || need.length <= maxExpandFetch)) {
        val idsDF = broadcast(spark.createDataset(need.toSeq).toDF("nid"))
        val joined = edges()
          .join(idsDF, col("src") === col("nid"))
          .select(col("src"), col("dst"))
          .as[(Long, Long)]
        // speculative hops probe with a row limit; over budget ⇒ store
        // NOTHING from this hop (a partial follow list would be wrong) and
        // stop expanding
        val rows: Array[(Long, Long)] =
          if (hop == 0) joined.collect()
          else {
            val limited = joined.limit(maxExpandRows + 1).collect()
            if (limited.length > maxExpandRows) { overBudget = true; Array.empty }
            else limited
          }
        if (!overBudget) {
          val bySrc = rows.groupBy(_._1)
          val next = mutable.ArrayBuffer.empty[Long]
          need.foreach { id =>
            val fl = bySrc.get(id).map(_.map(_._2).sorted).getOrElse(Array.empty[Long])
            known(id) = fl
            next ++= fl
          }
          need = next.distinct.filterNot(known.contains).toArray
        }
        hop += 1
      }
    }

    /** The miss-retry drain of every resolver-backed walk path. `body` runs
      * on each item against the follow lists resolved so far; an item whose
      * body reaches an unresolved node is set aside with that node. The
      * distinct misses are fetched — with exponential hop expansion, so a
      * long segment resolves in O(log len) retries instead of one per hop —
      * and ONLY the missed items retry, until none miss. Counter-based draws
      * make a retried item repeat exactly its earlier draws. Each attempt's
      * one job groups its outcomes by miss, which yields both the distinct
      * misses and that attempt's output count. Returns the outputs as lazy
      * slices over the per-attempt MEMORY_AND_DISK caches, their total
      * count, and the release of those caches: call it once every consumer
      * of the outputs has materialized. Those caches are materialized when
      * drain returns, so the caches `items` was read from may be released
      * then. Items: the state rows of a wave, whose walks are finished
      * here (IterativeWalker.hopThenDrain).
      */
    def drain[I: TypeTag, O: TypeTag](items: Dataset[I])(body: (WalkAlgebra.Adjacency, I) => Seq[O]): (Dataset[O], Long, () => Unit) = {
      import spark.implicits._
      val (itemEnc, outEnc) = (ExpressionEncoder[I](), ExpressionEncoder[O]())
      var todo = items
      val parts = mutable.ArrayBuffer.empty[Dataset[O]]
      val caches = mutable.ArrayBuffer.empty[Dataset[_]]
      var drained = false
      var attempt = 0
      var produced = 0L
      while (!drained) {
        val bAdj = spark.sparkContext.broadcast(snapshot)
        val out = todo.mapPartitions { it =>
          val adj: WalkAlgebra.Adjacency = n => bAdj.value.getOrElse(n, throw new Unresolved(n))
          it.map { item =>
            try Attempt[I, O](body(adj, item), None, -1L)
            catch { case u: Unresolved => Attempt[I, O](Nil, Some(item), u.node) }
          }
        }.persist()
        caches += out
        // (miss, outputs) per distinct miss; miss = -1 groups the successes
        val byMiss = out.groupBy(col("miss")).agg(sum(functions.size(col("out")))).as[(Long, Long)].collect()
        produced += byMiss.iterator.map(_._2).sum
        val misses = byMiss.collect { case (m, _) if m >= 0L => m }
        parts += out.flatMap(_.out)(outEnc)
        if (misses.isEmpty) drained = true
        else {
          attempt += 1
          resolve(misses.toIndexedSeq, expandHops = math.min(1 << attempt, 16))
          todo = out.flatMap(_.retry)(itemEnc)
        }
      }
      (parts.reduce(_ union _), produced, () => caches.foreach(_.unpersist()))
    }
  }
}
