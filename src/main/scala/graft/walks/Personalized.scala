package graft.walks

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{CrawlParams, Rng, WalkRow}

/** Personalized PageRank (reference U6,
  * /root/reference/pkg/pagerank/pagerank.go:106-310): simulate one long
  * random walk starting at and resetting to the source, splicing in stored
  * walks (each used at most once, to avoid sampling bias — Bahmani et al.,
  * "Fast Incremental and Personalized PageRank").
  *
  * The splice loop is sequential by nature and runs on the driver — the
  * ONLY sanctioned driver-side collect in the engine (SURVEY.md §7.4 item
  * 6): its inputs are the source's 2-hop neighborhood and a bounded sample
  * of stored walks, both obtained as distributed Dataset ops (J6/J7 visit
  * probes, W2 seeded sampling) before collection.
  */
object Personalized {

  /** Source out-degree from which [[personalizedDistributed]] runs the
    * exploded-edge walker instead of the array walker.
    */
  private val ExplodedMinDegree = 8192

  /** Deterministic analog of WalksVisitingAny
    * (/root/reference/pkg/regraph/walks.go:155-208): up to `limit` walks
    * visiting any of `nodes`, split evenly (limit/len(nodes) per node,
    * seeded-hash-ranked instead of SRandMember), deduplicated by walk id.
    */
  def walksVisitingAny(
      walks: Dataset[WalkRow],
      nodes: Seq[Long],
      limit: Int,
      seed: Long
  ): Dataset[WalkRow] = {
    val spark = walks.sparkSession
    import spark.implicits._
    if (nodes.isEmpty || limit == 0) return spark.emptyDataset[WalkRow]
    val perNode = if (limit < 0) Int.MaxValue else limit / nodes.length
    if (perNode == 0) return spark.emptyDataset[WalkRow]
    val visits = walks
      .select(col("walkId"), col("start"), col("path"), explode(col("path")).as("node"))
      .filter(col("node").isin(nodes: _*))
    val w = Window.partitionBy("node").orderBy(xxhash64(col("walkId"), lit(seed)), col("walkId"))
    visits
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perNode)
      .dropDuplicates("walkId")
      .select(col("walkId"), col("start"), col("path"))
      .as[WalkRow]
  }

  /** The walk pool: node → indices of unused pool walks that visit it
    * (reference walkPool, pagerank.go:183-236). Last path element excluded
    * from the index (a walk grafts nothing from its last node).
    */
  private final class Pool(walksIn: Seq[Array[Long]]) {
    private val walks: Array[Array[Long]] = walksIn.toArray
    private val index = scala.collection.mutable.HashMap.empty[Long, List[Int]]
    walks.zipWithIndex.foreach { case (p, i) =>
      var j = 0
      while (j < p.length - 1) { index(p(j)) = i :: index.getOrElse(p(j), Nil); j += 1 }
    }
    index.keys.toArray.foreach(k => index(k) = index(k).reverse)

    /** Path continuing after `node` from an unused pool walk, if any. */
    def next(node: Long): Option[Array[Long]] = {
      var lst = index.getOrElse(node, Nil)
      while (lst.nonEmpty) {
        val i = lst.head
        lst = lst.tail
        val p = walks(i)
        if (p != null) {
          val cut = p.indexOf(node)
          if (cut >= 0) {
            walks(i) = null // single use
            index(node) = lst
            return Some(p.slice(cut + 1, p.length))
          }
        }
      }
      index.remove(node)
      None
    }
  }

  /** Driver-side splice loop (reference personalizedWalk,
    * pagerank.go:241-293) with counter-based draws: draw t is
    * u01(seed, source, t, purpose) — fully deterministic.
    */
  def personalizedFrequencies(
      adj: WalkAlgebra.Adjacency,
      poolWalks: Seq[Array[Long]],
      source: Long,
      targetLength: Int,
      params: CrawlParams
  ): Map[Long, Double] = {
    val follows = adj(source)
    if (follows.isEmpty) return Map(source -> 1.0)

    val pool = new Pool(poolWalks)
    val union = scala.collection.mutable.ArrayBuffer.empty[Long]
    var ongoing = scala.collection.mutable.ArrayBuffer[Long](source)
    var cur = source
    var t = 0L

    def reset(): Unit = {
      union ++= ongoing
      ongoing = scala.collection.mutable.ArrayBuffer[Long](source)
      cur = source
    }

    while (union.length < targetLength) {
      t += 1
      if (Rng.u01(params.seed, source, t, 21L) > params.alpha) {
        reset()
      } else {
        pool.next(cur) match {
          case Some(rest) =>
            // graft with global cycle trim, then reset (reference grafts
            // the precomputed tail and resets, pagerank.go:263-267)
            val grafted = WalkAlgebra.graft(ongoing.toArray, rest)
            ongoing = scala.collection.mutable.ArrayBuffer(grafted: _*)
            reset()
          case None =>
            val fs = adj(cur)
            if (fs.isEmpty) reset()
            else {
              val nxt = fs(Rng.uniformIndex(params.seed, source, t, 22L, fs.length))
              if (ongoing.contains(nxt)) reset()
              else { ongoing += nxt; cur = nxt }
            }
        }
      }
    }
    val total = union.length.toDouble
    union.groupBy(identity).map { case (n, xs) => n -> xs.length / total }
  }

  /** Full distributed entry: sample the walk pool from the walks table
    * (J7), collect the crawled adjacency, splice on the driver.
    */
  def personalized(
      spark: SparkSession,
      walks: Dataset[WalkRow],
      adjacency: Map[Long, Array[Long]],
      source: Long,
      targetLength: Int,
      params: CrawlParams
  ): Map[Long, Double] = {
    val adjF: WalkAlgebra.Adjacency = n => adjacency.getOrElse(n, Array.empty)
    val follows = adjF(source)
    if (follows.isEmpty) return Map(source -> 1.0)
    val targetWalks = (targetLength * (1 - params.alpha)).toInt
    val poolWalks = walksVisitingAny(walks, follows.toSeq :+ source, targetWalks, params.seed)
      .collect()
      .sortBy(_.walkId)
      .map(_.path)
      .toSeq
    personalizedFrequencies(adjF, poolWalks, source, targetLength, params)
  }

  /** Fully distributed personalized rank — the many-short-reset-walks
    * Monte Carlo form (SURVEY.md §2.8 U6's documented alternative to the
    * reference's sequential splice, pagerank.go:241-293). The reference's
    * long reset walk is a concatenation of iid segments (start at source,
    * continue w.p. α, stop on dangling/revisit); this generates `numWalks`
    * such segments INDEPENDENTLY with the join-per-hop IterativeWalker
    * (counter-based RNG ⇒ deterministic in (seed, source, numWalks)) and
    * aggregates visit frequencies distributively. Returns (node, visits,
    * rank) with rank = visits / totalVisits — the same estimator family as
    * [[personalizedFrequencies]] (different RNG stream, so statistically
    * equal, not byte-equal; PersonalizedSpec pins both against closed-form
    * ranks). Unlike the splice path it holds NO driver state: no collected
    * neighborhood, no walk pool — the right shape when the source's
    * neighborhood or pool exceeds driver bounds (a mega-hub on a 10^10
    * graph).
    */
  def personalizedDistributed(
      spark: SparkSession,
      edges: org.apache.spark.sql.DataFrame,
      source: Long,
      numWalks: Int,
      params: CrawlParams
  ): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val adjDS = IterativeWalker.adjacencyTable(
      spark,
      edges.select(col("src").cast("long"), col("dst").cast("long")).as[(Long, Long)]
    )
    val p = params.copy(walksPerNode = numWalks)
    // Size-aware walker choice (the engine's broadcast/bloom gate
    // discipline): below the gate the array walker (fewer per-hop stages —
    // wins at fixture degrees where job latency dominates, and
    // initialSegments already spreads the fan-out); at a genuine mega-hub
    // source the EXPLODED-edge walker, whose composite (cur, nextIdx) hop
    // key spreads the walks over min(numWalks, degree) shuffle keys and
    // never replicates a follow array. Both produce byte-identical walks
    // (IterativeWalkerSpec), so the gate changes PLANS, not answers —
    // PersonalizedSpec pins the equality through this entry point.
    // gate probe on the EDGES table (column filter → parquet pushdown, no
    // shuffle) — probing adjDS would re-run the full-graph groupByKey
    // aggregation a second time just to read one node's degree (the drain
    // builds and caches its own copy)
    val srcDeg = edges.filter(col("src") === source).count()
    val wave = graft.spec.SequentialSpec.GenWave
    val (segs, relSegs) =
      if (srcDeg >= ExplodedMinDegree)
        IterativeWalker.generateExplodedReleasable(spark, Seq(source).toDS(), adjDS, 0L, wave, p)
      else IterativeWalker.generateReleasable(spark, Seq(source).toDS(), adjDS, 0L, wave, p)
    val counts = segs
      .select(explode(col("path")).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("visits"))
    // scalar total via a broadcast single-row cross join — an unpartitioned
    // window here would drag every distinct visited node through ONE
    // partition, the opposite of this function's purpose
    val total = counts.agg(sum(col("visits")).as("__total"))
    val out = counts
      .crossJoin(broadcast(total))
      .select(col("node"), col("visits"), (col("visits").cast("double") / col("__total")).as("rank"))
    // drain-then-release (the q34 discipline): the result is O(distinct
    // visited nodes) ≤ O(numWalks × E[len]) — far smaller than the segment
    // table; materialize it, free the walker's output checkpoint, and leave
    // ZERO caches on the small path (a bench JVM calls this 3× per rep —
    // leaking one segment checkpoint per call is the storage-pressure
    // pattern CacheOps exists to prevent)
    val (outCp, relOut) = graft.core.CacheOps.checkpointReleasable(out)
    val n = outCp.count()
    if (n <= 2000000L) {
      val rows = outCp.as[(Long, Long, Double)].collect().sortBy(_._1)
      relOut()
      relSegs()
      spark.createDataset(rows.toIndexedSeq).toDF("node", "visits", "rank")
    } else {
      relSegs()
      outCp.orderBy("node")
    }
  }

  /** Distributed-adjacency entry: like [[personalized]] but against the
    * edges TABLE — follow lists resolve on demand through a
    * SubgraphWalks.Resolver (seeded with the source neighborhood + the pool
    * walks' nodes), so the driver never holds the crawled graph. Identical
    * output to the map form: the splice loop sees the same lists.
    */
  def personalizedOverEdges(
      spark: SparkSession,
      walks: Dataset[WalkRow],
      edges: org.apache.spark.sql.DataFrame,
      source: Long,
      targetLength: Int,
      params: CrawlParams
  ): Map[Long, Double] = {
    val resolver = new SubgraphWalks.Resolver(spark, () => edges)
    resolver.resolve(Seq(source), expandHops = 2)
    val adjF: WalkAlgebra.Adjacency = resolver.list
    val follows = adjF(source)
    if (follows.isEmpty) return Map(source -> 1.0)
    val targetWalks = (targetLength * (1 - params.alpha)).toInt
    val poolWalks = walksVisitingAny(walks, follows.toSeq :+ source, targetWalks, params.seed)
      .collect()
      .sortBy(_.walkId)
      .map(_.path)
      .toSeq
    // pre-resolve every node the pool can graft through (bounded by the
    // sampled pool, not the graph)
    resolver.resolve(poolWalks.iterator.flatten.toSeq)
    personalizedFrequencies(adjF, poolWalks, source, targetLength, params)
  }
}
