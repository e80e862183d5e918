package graft.round

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

import graft.core._
import graft.extract.Extract
import graft.frontier.SeenSet
import graft.walks.{IterativeRepair, IterativeWalker, SubgraphWalks, WalkAlgebra}

/** The distributed crawl-and-rank engine: a deterministic round loop over
  * columnar state tables, mirroring graft.spec.SequentialSpec 1:1 (that
  * file documents the round contract; equivalence is asserted byte-for-byte
  * by CrawlEquivalenceSpec).
  *
  * Scale design:
  *
  *  - State lives IN MEMORY across rounds (persisted / locally-checkpointed
  *    Datasets); disk sees ONE `delta` table per round — every change
  *    (changed+added+removed walks, edge replacements, node
  *    additions/updates, fetched/enqueued/leak appends, visit-count deltas)
  *    tagged with its `kind` on one superset schema, written in one
  *    `io.write`, like the reference sink's one pipelined transaction per
  *    batch — plus a full compaction every `CompactEvery` rounds and at run
  *    exit — the incremental-snapshot pattern an Iceberg MERGE commit
  *    gives. Every committed round is resumable: loadState() replays the
  *    delta logs on top of the latest compaction (crash path covered by
  *    test via compactOnExit=false).
  *  - The `delta` write is one Spark job with no exchange: every part
  *    reads what the round already materialized. `walk` rows are the
  *    re-checkpointed walks filtered by the ids the round repaired or
  *    generated (O(changes) ids held on the driver, shipped as a broadcast
  *    set), `walk_removed` rows the ids it removed for leaks and
  *    demotions, and `visit` rows each application's per-node delta sum —
  *    the same persisted sum that updated the visits, so a node may have
  *    two `visit` rows in a round and replay sums them per node.
  *  - A round's independent Spark actions overlap: the tables the round
  *    changed are re-checkpointed (and, on resume, all are loaded)
  *    concurrently — an unchanged table keeps its checkpoint — the
  *    end-of-round scalar job runs beside the delta write, and each wave
  *    resolves its links in one collect.
  *  - NO driver-held graph. The edges table is the only adjacency truth;
  *    per-wave deltas are computed with distributed joins. Walk repair
  *    (graft.walks.IterativeRepair) scans every walk visiting a delta node;
  *    its graft segments and a promotion's new walks then follow one wave
  *    rule (graft.walks.IterativeWalker.hopThenDrain): a wave with more
  *    than TailThreshold live walks advances them by hop joins against the
  *    edges table, and the rest finish on the (tiny) sub-adjacency they
  *    actually visit, resolved on demand from the edges table
  *    (graft.walks.SubgraphWalks).
  *    Per-round driver-side data is O(batch + changes) — the fetch batch
  *    (like the reference's, /root/reference/pkg/pipe/fetcher/fetcher.go:
  *    74-107), the per-wave delta map, and the visited sub-adjacency —
  *    never O(crawled graph).
  *  - Visit counts (the rank numerator) are maintained INCREMENTALLY and
  *    exactly from the walk deltas — the reference keeps totalVisits and a
  *    visit index incrementally for the same reason
  *    (/root/reference/pkg/regraph/walks.go:236,263,306-317; optimization
  *    O2 in SURVEY.md §4). No per-round explode of the full walk store.
  *  - totalWalks is pure arithmetic: every active node owns exactly
  *    walksPerNode walks, so repairs don't change the count and
  *    promote/demote/leak shift it by ±walksPerNode each.
  *  - totalVisits (the rank denominator) is a driver scalar, like the
  *    reference's counter (reference pkg/regraph/walks.go:20-21):
  *    ONE job at the end of each round, over the new checkpoints, yields
  *    it together with the `lineage` rows and, after promotions, the
  *    enqueued count; on resume loadState's one scalar job yields it.
  *  - Walk repair emits ONLY changed walks (a scan of the cached store
  *    prefiltered through the broadcast delta map), merged back with a
  *    broadcast-set filter + union; the store is re-materialized once per
  *    round via an eager localCheckpoint — no per-round parquet rewrite of
  *    the full store.
  *  - A bloom filter over the seen set (graft.frontier.SeenSet: a driver
  *    filter while small, the distributed BloomShards table past the
  *    maxDriverBloomUrls gate) pre-filters the scheduling anti-join (exact
  *    fallback on positives — results are identical); each round's batch
  *    is added to it, it is rebuilt from the fetched table on resume, and
  *    run() releases it with the state checkpoints when it returns.
  */
object CrawlEngine {

  /** One-time heavy scan of the pages table: html → outlinks + leak flags,
    * versions numbered per url in (warc_ts, md5(html)) order — the md5
    * tiebreaker keeps version numbering deterministic even if two versions
    * of a url share a timestamp. At 100 TB this is the only pass that
    * touches the `html` binary column (column pruning keeps every later
    * round on the light columns), so it runs ONCE up front and lands
    * columnar.
    */
  def extractPages(spark: SparkSession, pages: DataFrame): DataFrame = {
    Extract.register(spark)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("url")
      .orderBy(col("warc_ts"), md5(col("html")))
    pages
      .withColumn("outlinks", expr("extract_outlinks(html, url)"))
      .withColumn("rejected", expr(s"size(outlinks) > ${Extract.MaxOutlinks} OR length(html) > ${Extract.MaxContentBytes}"))
      .withColumn("secret_proofs", expr("transform(find_secrets(text), s -> md5(cast(s as binary)))"))
      .withColumn("suspect_proofs", expr("transform(find_suspects(text), s -> md5(cast(s as binary)))"))
      .withColumn("has_secret", size(col("secret_proofs")) > 0)
      .withColumn("ver", row_number().over(w))
      // vkey = the version-ordering key as one lexicographically sortable
      // string (zero-padded epoch micros + md5 tiebreaker). Streaming
      // incremental extraction persists the per-url max so out-of-order
      // arrivals are DETECTED instead of silently corrupting the
      // deterministic version numbering (ADVICE r2).
      .withColumn(
        "vkey",
        concat(lpad(unix_micros(col("warc_ts")).cast("string"), 20, "0"), lit(":"), md5(col("html")))
      )
      .select("url", "ver", "outlinks", "rejected", "has_secret", "secret_proofs", "suspect_proofs", "vkey")
  }

  case class Trace(
      round: Long,
      fetchOrder: Vector[String],
      walksChanged: Long,
      promoted: Long,
      demoted: Long,
      scanRan: Boolean,
      metrics: RoundMetrics
  )

  case class Result(traces: Vector[Trace], finalRound: Long)
}

object RoundDriver {

  /** Batches above this size skip the fetch InSet prefilter — a
    * multi-hundred-thousand-literal predicate costs more in planning than
    * the scan pruning saves (the broadcast join alone stays correct).
    * Production batches (the reference fetches 100-1000 urls per interval)
    * sit far below this.
    */
  val MaxFetchPrefilterUrls = 100000

  /** Bytes per output file the delta log and the compaction size their
    * partitions for.
    */
  private val TargetFileBytes: BigInt = BigInt(128L << 20)

  /** Above this many outlink rows a wave assigns new ids with a
    * distributed sort instead of one driver collect.
    */
  private val MaxDriverLinkRows = 2000000L

  /** Full-snapshot cadence; rounds in between write delta logs only. */
  private val CompactEvery = 8

  /** ⌈bytes / TargetFileBytes⌉, at least 1. */
  private def partitionsFor(bytes: BigInt): Int =
    ((bytes + TargetFileBytes - 1) / TargetFileBytes).max(BigInt(1)).min(BigInt(Int.MaxValue)).toInt

  /** The plan's size estimate of `df`, or — when `rows` is given — that many
    * rows at Spark's per-row estimate of its schema: for a part cut from an
    * O(state) table, whose plan estimate is that table's, by a count the
    * driver already holds.
    */
  private def estimatedBytes(df: DataFrame, rows: Option[Long] = None): BigInt =
    rows.fold(df.queryExecution.optimizedPlan.stats.sizeInBytes) { n =>
      org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
        .getSizePerRow(df.queryExecution.analyzed.output) * n
    }

  /** Columns of the per-round `delta` table after its `kind` tag: the
    * union of every part's columns, with one shared long key `id` (node
    * id, edge src, walkId, leak id or visit node). A part carries typed
    * nulls in the columns it lacks.
    */
  private val DeltaColumns: Seq[(String, DataType)] = Seq(
    "id" -> LongType,
    "url" -> StringType,
    "host" -> StringType,
    "status" -> StringType,
    "addedRound" -> LongType,
    "promotedRound" -> LongType,
    "demotedRound" -> LongType,
    "dst" -> LongType,
    "start" -> LongType,
    "path" -> ArrayType(LongType, containsNull = false),
    "detectedRound" -> LongType,
    "proofs" -> ArrayType(StringType, containsNull = true),
    "d" -> LongType
  )

  /** `df` tagged with `kind` and projected onto the delta schema, its `key`
    * column becoming `id`.
    */
  private def deltaPart(kind: Column, df: DataFrame, key: String = "id"): DataFrame = {
    val have = df.columns.toSet
    df.select(kind.as("kind") +: DeltaColumns.map {
      case ("id", t)                  => if (have(key)) col(key).as("id") else lit(null).cast(t).as("id")
      case (name, _) if have(name)    => col(name)
      case (name, t)                  => lit(null).cast(t).as(name)
    }: _*)
  }

  /** Runs `job` on a new thread — which inherits the caller's Spark local
    * properties — and returns the wait for its result, rethrowing its
    * failure: one round's independent Spark actions are too small to keep
    * the executors busy one at a time.
    */
  private def overlap[T](job: => T): () => T = {
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val f = pool.submit(new java.util.concurrent.Callable[T] { def call(): T = job })
      () =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    } finally pool.shutdown()
  }

  /** Eagerly checkpoint `tables` concurrently, returning each checkpoint
    * with its release handle, in order.
    */
  private def checkpointAll(tables: Seq[DataFrame]): Seq[(DataFrame, () => Unit)] =
    tables.map(df => overlap(CacheOps.checkpointReleasable(df))).map(_())
}

class RoundDriver(
    spark: SparkSession,
    io: TableIO,
    params: CrawlParams,
    /** Write a full snapshot when run() exits (downstream readers expect
      * full tables at the last round; disable to exercise the crash-resume
      * replay path).
      */
    compactOnExit: Boolean = true,
    /** robots.txt disallow rules (host, path-prefix); urls matching a rule
      * for their host are never scheduled (north_rule robots gate).
      */
    robots: Option[DataFrame] = None,
    /** The seen-set gate (graft.frontier.SeenSet): the driver-resident
      * bloom serves while 2·|seen| fits under it, the distributed sharded
      * table beyond. 0 forces the sharded table from round 1 (the
      * equivalence test uses this). Results are identical on both paths.
      */
    maxDriverBloomUrls: Long = SeenSet.DefaultMaxDriverUrls
) {
  import spark.implicits._
  import CrawlEngine._
  import RoundDriver._

  private val GenWave = graft.spec.SequentialSpec.GenWave

  /** GRAFT_PHASE_TIMING=1 prints each phase's wall time and Spark job
    * count (its jobs run under a job group named for the phase, restored
    * after); the phases of a round cover its `wallMillis`.
    */
  private val phaseTiming = sys.env.get("GRAFT_PHASE_TIMING").contains("1")
  private def phase[T](round: Long, name: String)(body: => T): T = {
    if (!phaseTiming) body
    else {
      val sc = spark.sparkContext
      val (outer, group) = (Option(sc.getLocalProperty("spark.jobGroup.id")), s"graft-phase-r$round-$name")
      sc.setJobGroup(group, s"round $round $name")
      val t = System.nanoTime()
      val r =
        try body
        finally outer.fold(sc.clearJobGroup())(sc.setJobGroup(_, null))
      val jobs = sc.statusTracker.getJobIdsForGroup(group).length
      System.err.println(s"[phase r=$round] $name ${(System.nanoTime() - t) / 1000000} ms $jobs jobs")
      r
    }
  }

  /** Mutable in-memory engine state (Datasets persisted across rounds).
    * Driver-side scalars only — no graph-sized driver structures.
    */
  private case class State(
      var nodes: DataFrame,
      var edges: DataFrame, // (src, dst) — the only adjacency truth
      var walks: Dataset[WalkRow],
      var fetched: DataFrame, // (url)
      var enqueued: DataFrame, // (url)
      var visits: DataFrame, // (node, count) — exact incremental
      var leaks: DataFrame, // (id, url, detectedRound, status, proofs)
      var nextId: Long,
      var totalWalks: Long,
      var fetchedCount: Long,
      var enqueuedCount: Long,
      var totalVisits: Long, // Σ visits.count at the last checkpoint
      var seen: SeenSet // bloom over `fetched`
  ) {

    /** Release handle of each table's CURRENT local checkpoint, by key —
      * Dataset.unpersist cannot release local checkpoints (CacheOps
      * scaladoc); without these the superseded per-round checkpoints of
      * every state table linger until the JVM's ContextCleaner notices,
      * growing storage pressure linearly in rounds run.
      */
    val cpRelease: mutable.Map[String, () => Unit] = mutable.Map.empty
  }

  /** Partitions of every state checkpoint: at most 2 × defaultParallelism
    * (repeated unions would otherwise grow them round after round).
    */
  private def stateParts: Int = spark.sparkContext.defaultParallelism * 2

  /** The row count, max and sum of each of `tables` (one long column each)
    * in ONE job over their tagged union: one (counts, maxes, sums) triple
    * per union partition, indexed by table. A union partition reads one
    * partition of each table it holds, so a table's entries in it are that
    * partition's own.
    */
  private def partitionScalars(tables: Seq[DataFrame]): Array[(Seq[Long], Seq[Long], Seq[Long])] = {
    val k = tables.size
    tables.zipWithIndex
      .map { case (df, t) => df.toDF("v").select(lit(t).as("t"), $"v".cast(LongType).as("v")) }
      .reduce(_ union _)
      .as[(Int, Long)]
      .mapPartitions { it =>
        val (n, mx, s) = (new Array[Long](k), Array.fill(k)(-1L), new Array[Long](k))
        it.foreach { case (t, v) => n(t) += 1; mx(t) = math.max(mx(t), v); s(t) += v }
        Iterator((n.toSeq, mx.toSeq, s.toSeq))
      }
      .collect()
  }

  private def paramsDF: DataFrame =
    Seq(
      (
        params.seed,
        params.alpha,
        params.walksPerNode,
        params.batch,
        params.hostBudget,
        params.promotion,
        params.demotion,
        params.activation,
        params.promotionWait,
        params.maxWalkSteps
      )
    ).toDF(
      "seed",
      "alpha",
      "walksPerNode",
      "batch",
      "hostBudget",
      "promotion",
      "demotion",
      "activation",
      "promotionWait",
      "maxWalkSteps"
    )

  /** Initialize round-0 state from the seed list (reference InitGraph,
    * /root/reference/pkg/pipe/pipe.go:50-71: add + promote + enqueue).
    */
  def init(seeds: Seq[String]): Unit = {
    val nodes = seeds.zipWithIndex.map { case (u, i) =>
      NodeRow(i.toLong, u, Extract.hostOf(u), NodeStatus.Active, 0L, 0L, -1L)
    }
    // a seed has no follow list yet: each walk is its start alone
    val walks = nodes.flatMap(n => (0 until params.walksPerNode).map(i => WalkRow(n.id * params.walksPerNode + i, n.id, Array(n.id))))
    val walksDF = spark.createDataset(walks).toDF
    io.write(0L, "walk_params", paramsDF)
    io.write(0L, "nodes", spark.createDataset(nodes).toDF)
    io.write(0L, "edges", spark.emptyDataset[EdgeRow].toDF)
    io.write(0L, "walks", walksDF)
    io.write(0L, "fetched", Seq.empty[String].toDF("url"))
    io.write(0L, "enqueued", seeds.toDF("url"))
    io.write(0L, "visits", walksDF.select(explode($"path").as("node")).groupBy("node").count())
    io.write(0L, "leaks", spark.emptyDataset[LeakRecord].toDF)
    io.commitRound(0L)
  }

  /** Fail resume when the checkpoint was written with different walk
    * parameters — a silent mismatch would corrupt determinism (reference
    * analog: walks store header check,
    * /root/reference/pkg/regraph/walks.go:36-81).
    */
  private def checkWalkParams(): Unit = {
    if (!io.exists(0L, "walk_params")) return
    val stored = io.read(0L, "walk_params").collect().head
    val cur = paramsDF.collect().head
    require(
      stored == cur,
      s"walk_params mismatch: checkpoint was written with $stored, resume requested with $cur"
    )
  }

  /** Load state at `target`: latest full snapshot ≤ target + delta replay
    * (the crash-resume path; a run that exited cleanly compacted at target,
    * so replay is a no-op there). A committed round in the replay range
    * without a `delta` table — a legacy per-table delta layout — is refused
    * rather than skipped: skipping it would silently resume from stale
    * state.
    */
  private def loadState(target: Long): State = {
    checkWalkParams()
    val base = (target to 0L by -1L).find(r => io.exists(r, "walks")).getOrElse(0L)
    var nodes = io.read(base, "nodes")
    var edges = io.read(base, "edges")
    var walks = io.read(base, "walks")
    var fetched = io.read(base, "fetched")
    var enqueued = io.read(base, "enqueued")
    var leaks = if (io.exists(base, "leaks")) io.read(base, "leaks") else spark.emptyDataset[LeakRecord].toDF
    var visits = io.read(base, "visits")
    ((base + 1) to target).foreach { r =>
      if (!io.exists(r, "delta"))
        throw new IllegalStateException(
          s"round dir ${io.roundDir(r)} is committed but has no `delta` table (a legacy per-table " +
            "delta log?); refusing to replay past it"
        )
      val delta = io.read(r, "delta")
      def kind(ks: String*): DataFrame = delta.filter($"kind".isin(ks: _*))
      nodes = nodes.union(kind("node").select("id", "url", "host", "status", "addedRound", "promotedRound", "demotedRound"))
      val u = kind("node_update")
        .select($"id".as("uid"), $"status".as("ustatus"), $"promotedRound".as("upr"), $"demotedRound".as("udr"))
      nodes = nodes
        .join(u, nodes("id") === $"uid", "left")
        .select(
          $"id",
          $"url",
          $"host",
          coalesce($"ustatus", $"status").as("status"),
          $"addedRound",
          coalesce($"upr", $"promotedRound").as("promotedRound"),
          coalesce($"udr", $"demotedRound").as("demotedRound")
        )
      edges = edges
        .join(kind("edge_src").select($"id".as("rsrc")), edges("src") === $"rsrc", "left_anti")
        .union(kind("edge").select($"id".as("src"), $"dst"))
      // a `walk` row is the walk's final version this round, so its id
      // supersedes the stored row just as a `walk_removed` id does
      walks = walks
        .join(kind("walk", "walk_removed").select($"id".as("rwid")), walks("walkId") === $"rwid", "left_anti")
        .union(kind("walk").select($"id".as("walkId"), $"start", $"path"))
      fetched = fetched.union(kind("fetched").select($"url"))
      enqueued = enqueued.union(kind("enqueued").select($"url")).dropDuplicates("url")
      leaks = leaks.union(kind("leak").select("id", "url", "detectedRound", "status", "proofs"))
      // a round's `visit` rows may name a node twice (one row per
      // application); the sum per node is the round's net delta
      visits = applyVisitDeltas(visits, sumVisitDeltas(kind("visit").select($"id".as("node"), $"d")))
    }
    val Seq((nodesC, nodesR), (edgesC, edgesR), (walksDF, walksR), (fetchedC, fetchedR), (enqueuedC, enqueuedR), (leaksC, leaksR), (visitsC, visitsR)) =
      checkpointAll(Seq(nodes, edges, walks, fetched, enqueued, leaks, visits).map(_.coalesce(stateParts)))
    val walksC = walksDF.as[WalkRow]
    // nextId, the three counts and Σ visits in ONE job
    val perPartition = partitionScalars(
      Seq(nodesC.select($"id"), walksDF.select(lit(0L)), fetchedC.select(lit(0L)), enqueuedC.select(lit(0L)), visitsC.select($"count"))
    )
    def total(t: Int): Long = perPartition.map(_._1(t)).sum
    val nextId = perPartition.map(_._2.head).foldLeft(-1L)(math.max) + 1
    val st = State(
      nodesC,
      edgesC,
      walksC,
      fetchedC,
      enqueuedC,
      visitsC,
      leaksC,
      nextId,
      totalWalks = total(1),
      fetchedCount = total(2),
      enqueuedCount = total(3),
      totalVisits = perPartition.map(_._3(4)).sum,
      seen = SeenSet.build(spark, fetchedC, total(2), maxDriverBloomUrls)
    )
    st.cpRelease ++= Seq(
      "nodes" -> nodesR,
      "edges" -> edgesR,
      "walks" -> walksR,
      "fetched" -> fetchedR,
      "enqueued" -> enqueuedR,
      "leaks" -> leaksR,
      "visits" -> visitsR
    )
    st
  }

  /** Run rounds [lastComplete+1 .. maxRounds]. Every round is committed
    * to `io`, so the in-memory state (its checkpoints and the seen set) is
    * released when this returns; the next run reloads it.
    */
  def run(extracted: DataFrame, maxRounds: Int): Result = {
    val traces = Vector.newBuilder[Trace]
    var round = io.lastCompleteRound() + 1
    require(round >= 1, "call init() first")
    if (round > maxRounds) return Result(Vector.empty, round - 1)
    val st = loadState(round - 1)
    try {
      var done = false
      while (!done && round <= maxRounds) {
        runRound(st, round, extracted) match {
          case Some(t) =>
            traces += t
            if (round % CompactEvery == 0) compact(st, round)
            round += 1
          case None => done = true
        }
      }
      val lastDone = round - 1
      if (compactOnExit && lastDone >= 1 && !io.exists(lastDone, "walks")) compact(st, lastDone)
      Result(traces.result(), lastDone)
    } finally {
      st.cpRelease.values.foreach(_())
      st.seen.release()
    }
  }

  /** Full snapshot of the in-memory state at `round` (the Iceberg
    * rewrite-compaction analog). Each table is first coalesced to
    * ⌈checkpoint bytes / 128 MiB⌉ partitions: a bucketed write opens up to
    * one file per bucket in EVERY input partition, so a small table spread
    * over many partitions would otherwise land as partitions × buckets
    * files.
    */
  private def compact(st: State, round: Long): Unit = phase(round, "compact") {
    def sized(df: DataFrame): DataFrame =
      CacheOps.checkpointBytes(df).fold(df)(b => df.coalesce(partitionsFor(BigInt(b))))
    io.write(round, "nodes", sized(st.nodes).select("id", "url", "host", "status", "addedRound", "promotedRound", "demotedRound"))
    io.write(round, "edges", sized(st.edges))
    io.write(round, "walks", sized(st.walks.toDF))
    io.write(round, "fetched", sized(st.fetched))
    io.write(round, "enqueued", sized(st.enqueued))
    io.write(round, "leaks", sized(st.leaks))
    io.write(round, "visits", sized(st.visits))
    io.commitRound(round) // idempotent
  }

  /** A (node, d) delta table summed per node, zero sums dropped. */
  private def sumVisitDeltas(deltas: DataFrame): DataFrame =
    deltas.groupBy("node").agg(sum($"d").as("d")).filter($"d" =!= 0)

  /** Apply per-node summed (node, d) deltas ([[sumVisitDeltas]]) to the
    * exact visit counts.
    */
  private def applyVisitDeltas(visits: DataFrame, summed: DataFrame): DataFrame =
    visits
      .join(summed, Seq("node"), "full_outer")
      .select($"node", (coalesce($"count", lit(0L)) + coalesce($"d", lit(0L))).as("count"))
      .filter($"count" > 0)

  /** A wave's link resolution in ONE collect: each (author, link) row comes
    * back with the link's id when `nodes` knows it and its url when not.
    * The driver assigns `base`.. to the sorted unknown urls of ACTIVE
    * authors and builds every author's sorted new follow list, self-links
    * dropped; an unknown link of an inactive author resolves only when an
    * active author adds it in the same wave. Returns (new nodes, their
    * count, new follow lists by author).
    */
  private[round] def resolveLinksOnDriver(
      waveLinks: DataFrame,
      nodes: DataFrame,
      base: Long,
      round: Long
  ): (DataFrame, Long, Map[Long, Array[Long]]) = {
    val rows = waveLinks
      .filter($"link".isNotNull)
      .join(nodes.select($"url".as("link"), $"id".as("lid")), Seq("link"), "left")
      .select($"author", $"status" === NodeStatus.Active, $"lid", when($"lid".isNull, $"link"))
      .collect()
    val unknown = rows.collect { case r if r.isNullAt(2) && r.getBoolean(1) => r.getString(3) }.distinct.sorted
    val newIds = unknown.iterator.zipWithIndex.map { case (u, i) => u -> (base + i) }.toMap
    val adj = rows.groupBy(_.getLong(0)).map { case (author, rs) =>
      author -> rs
        .flatMap(r => if (r.isNullAt(2)) newIds.get(r.getString(3)) else Some(r.getLong(2)))
        .filter(_ != author)
        .distinct
        .sorted
    }
    val newNodes = spark.createDataset(unknown.toSeq.zipWithIndex.map { case (u, i) =>
      NodeRow(base + i, u, Extract.hostOf(u), NodeStatus.Inactive, round, -1L, -1L)
    })
    (newNodes.toDF.persist(), unknown.length.toLong, adj)
  }

  /** [[resolveLinksOnDriver]] for waves too big to collect: the unknown
    * urls are ranked by a distributed sort + zipWithIndex (the sorted rank
    * is invariant to partitioning) and only the per-author follow lists
    * reach the driver.
    */
  private[round] def resolveLinksDistributed(
      waveLinks: DataFrame,
      nodes: DataFrame,
      base: Long,
      round: Long
  ): (DataFrame, Long, Map[Long, Array[Long]]) = {
    val unknown = waveLinks
      .join(nodes.select($"url".as("link"), $"id".as("lid")), Seq("link"), "left")
      .filter($"status" === NodeStatus.Active && $"lid".isNull && $"link".isNotNull)
      .select($"link")
      .distinct()
      .as[String]
    val newNodes = spark
      .createDataset(unknown.rdd.sortBy(identity).zipWithIndex().map { case (u, i) =>
        NodeRow(base + i, u, Extract.hostOf(u), NodeStatus.Inactive, round, -1L, -1L)
      })
      .toDF
      .persist()
    val adj = waveLinks
      .join(nodes.union(newNodes).select($"url".as("link"), $"id".as("lid")), Seq("link"), "left")
      .filter($"lid".isNotNull && $"lid" =!= $"author")
      .groupBy($"author")
      .agg(sort_array(collect_set($"lid")).as("newList"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .toMap
    (newNodes, newNodes.count(), adj)
  }

  /** One crawl round over in-memory state. None ⇒ frontier exhausted. */
  private def runRound(st: State, round: Long, extracted: DataFrame): Option[Trace] = {
    val t0 = System.currentTimeMillis()

    // ---- 1./2. pending + politeness-capped priority cut (J9 anti-join,
    // bloom-prefiltered, robots-gated, W3 salted window). Rank = exact
    // incremental visits / totalVisits (a driver scalar, see the end of the
    // round).
    val batchRows = phase(round, "schedule") {
      graft.frontier.Politeness
        .schedule(
          st.nodes,
          st.visits,
          st.totalVisits,
          st.enqueued,
          st.fetched,
          params.batch,
          params.hostBudget,
          seenBloom = st.seen.bloom,
          robots = robots,
          seenShards = st.seen.shards
        )
        .collect()
    }
    if (batchRows.isEmpty) return None

    val batchUrls: Vector[String] = batchRows.map(_.getString(0)).toVector
    val statusById: mutable.Map[Long, String] =
      mutable.Map(batchRows.map(r => r.getLong(1) -> r.getString(2)): _*)

    // ---- 3. fetch versions of the batch (broadcast join + an InSet
    // prefilter on url that is semantically a no-op — the join restricts to
    // the same set — but REACHES THE SCAN: against the bucketed extracted
    // store (url-bucketed, url-sorted) Spark prunes to the buckets holding
    // batch urls and parquet skips row groups outside their url ranges, so
    // per-round fetch IO is O(batch), not O(corpus) — the columnar analog
    // of the reference's point-lookup fetcher
    // (/root/reference/pkg/pipe/fetcher/fetcher.go:70-143). Outlinks STAY
    // DISTRIBUTED — only per-url version/leak summary rows (O(batch)) reach
    // the driver, like the reference's fetch batch.
    val batchDF = broadcast(
      spark.createDataset(batchRows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getString(2)))).toDF("url", "id", "status")
    )
    val prefiltered =
      if (batchUrls.size <= RoundDriver.MaxFetchPrefilterUrls)
        extracted.filter($"url".isInCollection(batchUrls))
      else extracted
    val batchExtracted = prefiltered
      .join(batchDF, Seq("url"))
      .select($"url", $"id", $"status", $"ver", $"outlinks", $"rejected", $"has_secret", $"secret_proofs", $"suspect_proofs")
      .persist()
    // one row per fetched version: (url, id, ver, rejected, has_secret,
    // has suspects, outlink count, proofs — secret ++ suspect, null when
    // either is)
    val fetchedRows = phase(round, "fetch") {
      batchExtracted
        .select(
          $"url",
          $"id",
          $"ver",
          $"rejected",
          $"has_secret",
          size($"suspect_proofs") > 0,
          coalesce(size($"outlinks"), lit(0)),
          concat($"secret_proofs", $"suspect_proofs")
        )
        .collect()
    }
    val verInfo =
      fetchedRows.map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5), r.getInt(6)))

    // per-round delta logs (all O(changes))
    val nodesAddedParts = mutable.ArrayBuffer.empty[DataFrame]
    var newNodesCount = 0L
    // (id, status, promotedRound?, demotedRound?) with its row count when
    // cut from the nodes table
    val nodeUpdateParts = mutable.ArrayBuffer.empty[(DataFrame, Option[Long])]
    val touchedAuthors = mutable.LinkedHashSet.empty[Long] // authors whose adjacency changed
    val roundAdj = mutable.Map.empty[Long, Array[Long]] // FINAL adjacency of touched authors (O(changes))
    val visitDeltaParts = mutable.ArrayBuffer.empty[DataFrame] // (node, d)
    // each application's per-node summed visit deltas, persisted: it updates
    // `visits` and is the round's `visit` log rows (the visits table itself
    // is only written at compactions — a full per-round rewrite would be
    // O(crawled graph) IO, the same scale bug as the round-3 fetch scan)
    val visitSums = mutable.ArrayBuffer.empty[DataFrame]
    // the walk log is net of the round: a `walk` row per id the round
    // repaired or generated, cut from the re-checkpointed store (its final
    // version), and a `walk_removed` row per id it removed (leaks and
    // demotions — a removed walk's start is leaked or demoted, so nothing
    // later in the round re-adds it). Both id sets are O(changes) and held
    // on the driver.
    val touchedWalkIds = mutable.Set.empty[Long]
    val removedWalkIds = mutable.ArrayBuffer.empty[Long]
    // the walks of `nodes`: walkIds = node * walksPerNode + i, as everywhere
    // else
    def walkIdsOf(nodes: Seq[Long]): Seq[Long] =
      nodes.flatMap(n => (0 until params.walksPerNode).map(n * params.walksPerNode + _))
    var enqueuedAdd: Option[DataFrame] = None
    // state tables this round changed; only they are re-checkpointed
    val dirty = mutable.Set("fetched")
    val tmpCaches = mutable.ArrayBuffer.empty[Dataset[_]]
    // release handles for checkpoint-backed round-temporaries (walker
    // outputs) — unpersist can't release those, see core.CacheOps
    val tmpReleases = mutable.ArrayBuffer.empty[() => Unit]
    tmpCaches += batchExtracted
    // `c` ∈ `ids` through one broadcast set, released with the round's
    // temporaries: no exchange — so no extra job in each plan that reads
    // it — and no literal list in the plan, at any size the driver holds
    def isIn(ids: Iterable[Long], c: Column): Column = {
      val b = spark.sparkContext.broadcast(ids.toSet)
      tmpReleases += (() => b.destroy())
      udf((id: Long) => b.value.contains(id)).apply(c)
    }

    // per-round on-demand adjacency cache over the distributed edges table
    // (reused across waves; delta authors are overwritten in place) —
    // driver memory O(nodes touched this round)
    val resolver = new SubgraphWalks.Resolver(spark, () => st.edges)

    // ---- 4. waves of page versions (wave w = (w+1)-th version per url)
    var walksChanged = 0L
    var newEdgesCount = 0L
    var removedEdgesCount = 0L
    var deltaEntries = 0L
    val maxWaves = verInfo.map(_._3).foldLeft(0)(math.max)
    require(
      maxWaves <= 14,
      s"$maxWaves page versions for one url exceed the 14-wave RNG key budget (wave 15 is reserved for generation)"
    )
    var wave = 0
    while (wave < maxWaves) {
      // authors owning a wave-th version, oversize-gated (O(batch), driver)
      val waveAuthors: Seq[Long] =
        verInfo.collect { case (_, id, v, rejected, _, _, _) if v == wave + 1 && !rejected => id }
      if (waveAuthors.nonEmpty) {
        // distributed link resolution: explode the wave's outlinks, resolve
        // url→id against the distributed nodes table
        val waveLinks = batchExtracted
          .filter($"ver" === wave + 1 && !$"rejected")
          .select($"id".as("author"), $"status", explode_outer($"outlinks").as("link"))
          .persist()
        tmpCaches += waveLinks

        // deterministic id assignment for unknown urls of ACTIVE authors
        // (sorted-url order, prevMax+1.. — SURVEY.md §1.3; unknowns of
        // inactive authors are dropped, engine.go:399-414), and each
        // author's new follow list (reference computeDelta,
        // engine.go:372-425). The link rows are bounded by the wave's
        // outlinks (O(batch × degree)); below the gate one collect resolves
        // them all, above it the ids come from a distributed sort — both
        // give the identical sorted-rank assignment.
        val waveLinkRows = verInfo.collect { case (_, _, v, rejected, _, _, n) if v == wave + 1 && !rejected => n.toLong }.sum
        val (newNodesDF, nNew, newAdjMap) = phase(round, s"links-w$wave") {
          if (waveLinkRows <= MaxDriverLinkRows) resolveLinksOnDriver(waveLinks, st.nodes, st.nextId, round)
          else resolveLinksDistributed(waveLinks, st.nodes, st.nextId, round)
        }
        tmpCaches += newNodesDF
        if (nNew > 0) {
          st.nextId += nNew
          newNodesCount += nNew
          nodesAddedParts += newNodesDF
          st.nodes = st.nodes.union(newNodesDF)
          dirty += "nodes"
        }

        // per-author deltas: old follows via the resolver (one broadcast
        // semi-join against the distributed edges table, cached across
        // waves), new follows from the link resolution above
        val oldLists = phase(round, s"old-lists-w$wave")(resolver.lists(waveAuthors))
        val deltas: Map[Long, DeltaRow] = waveAuthors.iterator.flatMap { author =>
          val d = WalkAlgebra.newDelta(
            author,
            oldLists(author),
            newAdjMap.getOrElse(author, Array.empty[Long])
          )
          if (d.remove.nonEmpty || d.add.nonEmpty) Some(author -> d) else None
        }.toMap

        if (deltas.nonEmpty) {
          deltas.foreach { case (a, d) =>
            val newSorted = (d.keep ++ d.add).sorted
            roundAdj(a) = newSorted
            resolver.update(a, newSorted) // cache stays exact post-update
            touchedAuthors += a
            removedEdgesCount += d.remove.length
            newEdgesCount += d.add.length
            deltaEntries += d.remove.length + d.keep.length + d.add.length
          }
          val touchedDF = broadcast(spark.createDataset(deltas.keySet.toSeq).toDF("aid"))
          val newEdgeRows = deltas.valuesIterator.flatMap(d => d.newList.map(dst => EdgeRow(d.node, dst))).toSeq
          st.edges = st.edges
            .join(touchedDF, st.edges("src") === col("aid"), "left_anti")
            .union(spark.createDataset(newEdgeRows).toDF)
          dirty += "edges"

          // distributed walk repair against the wave's deltas, over the
          // updated edges table (the reference updates the graph before
          // repairing, engine.go:346-369)
          val (changed, nChanged, releaseChanged) = phase(round, s"repair-w$wave") {
            IterativeRepair.repairAll(spark, st.walks, resolver, deltas, round, wave, params)
          }
          tmpReleases += releaseChanged
          walksChanged += nChanged
          if (nChanged > 0) {
            val changedIds = changed.map(_._1.walkId).collect()
            st.walks = st.walks.filter(!isIn(changedIds, $"walkId")).union(changed.map(_._1))
            dirty += "walks"
            touchedWalkIds ++= changedIds
            visitDeltaParts += changed
              .flatMap { case (nw, old) => old.map(n => (n, -1L)) ++ nw.path.map(n => (n, 1L)) }
              .toDF("node", "d")
          }
        }
      }
      wave += 1
    }

    // ---- 5. leak scan over the batch (reference setLeak, arbiter.go:137-174
    // + leak records, /root/reference/pkg/leaks/leaks.go:146-151: confirmed
    // = validated secret, suspected = pattern match failing the checksum)
    // one pass; LinkedHashSet keeps first-seen order (== the old
    // distinct-preserving order) with O(1) membership
    val leakedSet = mutable.LinkedHashSet.empty[Long]
    val suspectedSet = mutable.LinkedHashSet.empty[Long]
    verInfo.foreach { v =>
      if (v._5) leakedSet += v._2
      else if (v._6) suspectedSet += v._2
    }
    val leakedIds: Seq[Long] = leakedSet.toSeq
    val suspectedIds: Seq[Long] = suspectedSet.filterNot(leakedSet.contains).toSeq
    val leakedActive = leakedIds.filter(id => statusById.getOrElse(id, "") == NodeStatus.Active)
    val leakRecordParts = mutable.ArrayBuffer.empty[DataFrame]
    // removes the walks starting at `starts` from the store. EAGER
    // checkpoint, not a lazy persist: the removed walks' visit deltas may
    // be consumed after the rematerialize step releases the walks
    // checkpoint they are read from — a lazy cache would recompute from a
    // released local checkpoint (no lineage) and crash
    def removeWalksOf(starts: Seq[Long]): Unit = {
      val removing = isIn(starts, $"start")
      val (removed, relRemoved) = CacheOps.checkpointReleasable(st.walks.filter(removing))
      tmpReleases += relRemoved
      visitDeltaParts += removed.flatMap(w => w.path.map(n => (n, -1L))).toDF("node", "d")
      removedWalkIds ++= walkIdsOf(starts)
      st.walks = st.walks.filter(!removing)
      st.totalWalks -= params.walksPerNode.toLong * starts.size
      dirty += "walks"
    }
    // sums the pending visit deltas ONCE — persisted, as the visits update
    // and the `visit` log rows both read the sum — and applies them
    def applyPendingVisitDeltas(): Unit = if (visitDeltaParts.nonEmpty) {
      val summed = sumVisitDeltas(visitDeltaParts.reduce(_ union _)).persist()
      tmpCaches += summed
      visitSums += summed
      visitDeltaParts.clear()
      st.visits = applyVisitDeltas(st.visits, summed)
      dirty += "visits"
    }

    phase(round, "leak-scan") {
      // the new leak records, O(batch), built on the driver: a flagged page
      // is recorded unless it already is — a confirmed one unless it
      // already is as confirmed — with the sorted distinct proofs of all
      // its versions; only the recorded statuses of the flagged ids come
      // from `leaks`, in one filtered collect
      if (leakedIds.nonEmpty || suspectedIds.nonEmpty) {
        val recIds = leakedIds.map((_, LeakStatus.Confirmed)) ++ suspectedIds.map((_, LeakStatus.Suspected))
        val recorded: Map[Long, Seq[String]] = st.leaks
          .filter($"id".isInCollection(recIds.map(_._1)))
          .select($"id", $"status")
          .as[(Long, String)]
          .collect()
          .groupBy(_._1)
          .map { case (id, rs) => id -> rs.map(_._2).toSeq }
        val urlOf = batchRows.map(r => r.getLong(1) -> r.getString(0)).toMap
        val proofsOf = fetchedRows.groupBy(_.getLong(1)).map { case (id, rs) =>
          id -> rs.filterNot(_.isNullAt(7)).flatMap(_.getSeq[String](7)).filter(_ != null).distinct.sorted
        }
        val newRecs = recIds.collect {
          case (id, status)
              if (!recorded.contains(id) || status == LeakStatus.Confirmed) &&
                !recorded.getOrElse(id, Nil).contains(LeakStatus.Confirmed) =>
            LeakRecord(id, urlOf(id), round, status, proofsOf.getOrElse(id, Array.empty[String]))
        }
        if (newRecs.nonEmpty) {
          val recs = spark.createDataset(newRecs).toDF
          leakRecordParts += recs
          st.leaks = st.leaks.union(recs)
          dirty += "leaks"
        }
      }
      if (leakedIds.nonEmpty) {
        leakedIds.foreach(id => statusById(id) = NodeStatus.Leaked)
        nodeUpdateParts += spark
          .createDataset(leakedIds)
          .toDF("id")
          .withColumn("status", lit(NodeStatus.Leaked))
          .withColumn("promotedRound", lit(null).cast("long"))
          .withColumn("demotedRound", lit(null).cast("long")) -> None
        val leakedDF = broadcast(spark.createDataset(leakedIds).toDF("lid"))
        st.nodes = st.nodes
          .join(leakedDF, st.nodes("id") === col("lid"), "left")
          .withColumn("status", when(col("lid").isNotNull, NodeStatus.Leaked).otherwise($"status"))
          .drop("lid")
        dirty += "nodes"
        if (leakedActive.nonEmpty) removeWalksOf(leakedActive)
      }
    }

    // ---- 6. arbiter scan (reference arbiter.scan, arbiter.go:177-260).
    val totalWalks = st.totalWalks // exact arithmetic, post-leak
    val ratio = if (totalWalks == 0) 0.0 else walksChanged.toDouble / totalWalks
    var promotedCount = 0L
    var demotedCount = 0L
    val scanRan = ratio >= params.activation && totalWalks > 0

    if (scanRan) {
      // the scan needs post-repair ranks → apply wave+leak visit deltas
      // now; the sum job also materializes the updated visits
      val tv = phase(round, "arbiter-visits") {
        applyPendingVisitDeltas()
        st.visits = st.visits.persist()
        tmpCaches += st.visits
        st.visits.agg(sum($"count")).as[Option[Long]].first().getOrElse(0L)
      }
      if (tv > 0) {
        val baseRank = params.walksPerNode.toDouble / tv
        val promotionT = baseRank * params.promotion
        val demotionT = baseRank * params.demotion
        // one pass classifies every node (one job, not three)
        val rankedNodes = st.nodes
          .join(st.visits, $"id" === $"node", "left")
          .withColumn("nrank", coalesce($"count", lit(0L)).cast("double") / lit(tv.toDouble))
          .withColumn(
            "transition",
            when($"status" === NodeStatus.Active && $"nrank" < demotionT, "demote")
              .when(
                $"status" === NodeStatus.Inactive && $"nrank" >= promotionT &&
                  lit(round) - $"addedRound" >= params.promotionWait,
                "promote"
              )
              .otherwise("keep")
          )
          .persist()
        tmpCaches += rankedNodes
        val transitions = phase(round, "arbiter-classify") {
          rankedNodes.groupBy("transition").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        }
        demotedCount = transitions.getOrElse("demote", 0L)
        promotedCount = transitions.getOrElse("promote", 0L)
        val demotedDF = rankedNodes.filter($"transition" === "demote").select($"id")
        val promotedDF = rankedNodes.filter($"transition" === "promote").select($"id", $"url")

        if (demotedCount > 0) phase(round, "demote") {
          removeWalksOf(demotedDF.as[Long].collect().toSeq)
          nodeUpdateParts += demotedDF
            .withColumn("status", lit(NodeStatus.Inactive))
            .withColumn("promotedRound", lit(null).cast("long"))
            .withColumn("demotedRound", lit(round)) -> Some(demotedCount)
        }
        if (promotedCount > 0) phase(round, "promote") {
          val promotedIds = promotedDF.select($"id").as[Long].collect().sorted.toSeq
          val (newWalks, newWalksRelease) = IterativeWalker.generateAll(spark, promotedIds, resolver, round, GenWave, params)
          tmpReleases += newWalksRelease
          st.walks = st.walks.union(newWalks)
          st.totalWalks += params.walksPerNode.toLong * promotedCount
          touchedWalkIds ++= walkIdsOf(promotedIds)
          visitDeltaParts += newWalks.flatMap(w => w.path.map(n => (n, 1L))).toDF("node", "d")
          st.enqueued = st.enqueued.union(promotedDF.select($"url")).dropDuplicates("url")
          enqueuedAdd = Some(promotedDF.select($"url"))
          nodeUpdateParts += promotedDF
            .select($"id")
            .withColumn("status", lit(NodeStatus.Active))
            .withColumn("promotedRound", lit(round))
            .withColumn("demotedRound", lit(null).cast("long")) -> Some(promotedCount)
          dirty ++= Seq("walks", "enqueued")
        }

        // status transitions on the nodes table
        if (demotedCount + promotedCount > 0) {
          st.nodes = st.nodes
            .join(demotedDF.withColumnRenamed("id", "did"), $"id" === $"did", "left")
            .join(promotedDF.select($"id".as("pid")), $"id" === $"pid", "left")
            .withColumn(
              "status",
              when($"did".isNotNull, NodeStatus.Inactive)
                .when($"pid".isNotNull, NodeStatus.Active)
                .otherwise($"status")
            )
            .withColumn("demotedRound", when($"did".isNotNull, lit(round)).otherwise($"demotedRound"))
            .withColumn("promotedRound", when($"pid".isNotNull, lit(round)).otherwise($"promotedRound"))
            .drop("did", "pid")
          dirty += "nodes"
        }
      }
    }
    // the round's remaining visit deltas: wave+leak ones when the scan did
    // not run, else promote/demote ones
    applyPendingVisitDeltas()

    // ---- re-materialize the tables this round changed (one pass; no
    // parquet rewrite of the full store) and cut lineage: they are
    // checkpointed concurrently, each coalesced to stateParts partitions,
    // and only then — every new table is computed from the old ones — are
    // their previous checkpoints released. A table the round left unchanged
    // keeps its checkpoint and its release handle. Small tables too: status
    // updates add two joins per round, and Catalyst replanning of deep
    // chains costs more than materializing.
    phase(round, "rematerialize") {
      val tables = Seq[(String, DataFrame, DataFrame => Unit)](
        ("walks", st.walks.toDF, cp => st.walks = cp.as[WalkRow]),
        ("visits", st.visits, st.visits = _),
        ("nodes", st.nodes, st.nodes = _),
        ("edges", st.edges, st.edges = _),
        ("fetched", st.fetched.union(batchUrls.toDF("url")), st.fetched = _),
        ("enqueued", st.enqueued, st.enqueued = _),
        ("leaks", st.leaks, st.leaks = _)
      ).filter(t => dirty(t._1))
      val cps = checkpointAll(tables.map(_._2.coalesce(stateParts)))
      tables.zip(cps).foreach { case ((key, _, set), (cp, rel)) =>
        st.cpRelease.get(key).foreach(_())
        st.cpRelease(key) = rel
        set(cp)
      }
    }
    st.fetchedCount += batchUrls.size
    phase(round, "seen-add") {
      st.seen = st.seen.add(batchUrls, st.fetched, st.fetchedCount)
    }

    // ---- the round's scalars in ONE job over the new checkpoints,
    // overlapping the delta write: the walks per partition (the lineage
    // rows; empty partitions absent), Σ visits (the next round's
    // totalVisits) and, after promotions, the enqueued count
    val scalarTables =
      Seq(st.walks.select(spark_partition_id()), st.visits.select($"count")) ++ enqueuedAdd.map(_ => st.enqueued.select(lit(0L)))
    val scalars = overlap(phase(round, "scalars")(partitionScalars(scalarTables)))

    // ---- per-round delta checkpoint (O(changes), not O(state)): ONE
    // table, every part tagged with its kind, in ⌈estimated bytes /
    // 128 MiB⌉ files. Every part reads what the round already materialized
    // — local relations, the round's caches and checkpoints, the new walks
    // checkpoint filtered by the touched ids — so the write is one job with
    // no exchange. A part cut from an O(state) table is sized by its row
    // count.
    phase(round, "delta-write") {
      val parts = mutable.ArrayBuffer.empty[(DataFrame, BigInt)]
      def add(kind: String, df: DataFrame, key: String = "id", rows: Option[Long] = None): Unit =
        parts += deltaPart(lit(kind), df, key) -> estimatedBytes(df, rows)
      nodesAddedParts.foreach(add("node", _))
      nodeUpdateParts.foreach { case (df, rows) => add("node_update", df, rows = rows) }
      if (touchedAuthors.nonEmpty) {
        add("edge_src", touchedAuthors.toSeq.toDF("src"), key = "src")
        // FINAL adjacency of touched authors (net of all waves this round)
        val finalEdges = touchedAuthors.toSeq.flatMap(a => roundAdj.getOrElse(a, Array.empty[Long]).map(dst => EdgeRow(a, dst)))
        if (finalEdges.nonEmpty) add("edge", spark.createDataset(finalEdges).toDF, key = "src")
      }
      if (touchedWalkIds.nonEmpty)
        add(
          "walk",
          st.walks.filter(isIn(touchedWalkIds, $"walkId")).toDF,
          key = "walkId",
          rows = Some(walksChanged + params.walksPerNode.toLong * promotedCount)
        )
      if (removedWalkIds.nonEmpty) add("walk_removed", removedWalkIds.toSeq.toDF("walkId"), key = "walkId")
      leakRecordParts.foreach(add("leak", _))
      add("fetched", batchUrls.toDF("url"))
      enqueuedAdd.foreach(add("enqueued", _, rows = Some(promotedCount)))
      visitSums.foreach(add("visit", _, key = "node"))
      io.write(round, "delta", parts.map(_._1).reduce(_ union _).coalesce(partitionsFor(parts.map(_._2).sum)))
    }
    val perPartition = scalars()
    val lineage = perPartition.collect { case (n, mx, _) if n.head > 0 => (mx.head.toInt, n.head, round) }.sortBy(_._1)
    st.totalVisits = perPartition.map(_._3(1)).sum
    if (enqueuedAdd.nonEmpty) st.enqueuedCount = perPartition.map(_._1(2)).sum

    val wallMillis = System.currentTimeMillis() - t0
    val m = RoundMetrics(
      round = round,
      scheduled = batchUrls.size.toLong,
      fetched = verInfo.map(_._1).distinct.length.toLong,
      newNodes = newNodesCount,
      newEdges = newEdgesCount,
      removedEdges = removedEdgesCount,
      walksChanged = walksChanged,
      totalWalks = totalWalks,
      promoted = promotedCount,
      demoted = demotedCount,
      seenSize = st.fetchedCount,
      // pure arithmetic: fetched ⊆ enqueued (batches are cut from pending)
      pendingSize = st.enqueuedCount - st.fetchedCount,
      scanRan = scanRan,
      wallMillis = wallMillis,
      driverResolvedNodes = resolver.size.toLong,
      driverDeltaEntries = deltaEntries
    )
    io.write(round, "metrics", spark.createDataset(Seq(m)).toDF)
    // per-partition lineage of the walk state (north_rule observability)
    io.write(round, "lineage", lineage.toSeq.toDF("partition", "count", "round"))
    io.commitRound(round)

    tmpCaches.foreach(_.unpersist())
    tmpReleases.foreach(_())
    Some(Trace(round, batchUrls, walksChanged, promotedCount, demotedCount, scanRan, m))
  }
}
