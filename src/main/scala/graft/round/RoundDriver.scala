package graft.round

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

import graft.core._
import graft.extract.Extract
import graft.frontier.SeenSet
import graft.walks.{SubgraphWalks, WalkAlgebra}

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
  *    batch — plus a full compaction every `compactEvery` rounds and at run
  *    exit — the incremental-snapshot pattern an Iceberg MERGE commit
  *    gives. Every committed round is resumable: loadState() replays the
  *    delta logs on top of the latest compaction (crash path covered by
  *    test via compactOnExit=false).
  *  - A round's independent Spark actions overlap: the state tables are
  *    re-checkpointed (and, on resume, loaded) concurrently, and each wave
  *    resolves its links in one collect.
  *  - NO driver-held graph. The edges table is the only adjacency truth;
  *    per-wave deltas are computed with distributed joins, and walk
  *    repair/generation resolve the (tiny) sub-adjacency they actually
  *    visit on demand from the edges table (graft.walks.SubgraphWalks).
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
  *  - Walk repair emits ONLY changed walks (a narrow arrays_overlap scan of
  *    the cached store), merged back with a broadcast anti-join + union;
  *    the store is re-materialized once per round via an eager
  *    localCheckpoint — no per-round parquet rewrite of the full store.
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

  /** ⌈bytes / TargetFileBytes⌉, at least 1. */
  private def partitionsFor(bytes: BigInt): Int =
    ((bytes + TargetFileBytes - 1) / TargetFileBytes).max(BigInt(1)).min(BigInt(Int.MaxValue)).toInt

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

  /** Eagerly checkpoint `tables` concurrently — they are independent Spark
    * jobs, and one round's are too small to keep the executors busy one at
    * a time — returning each checkpoint with its release handle, in order.
    */
  private def checkpointAll(tables: Seq[DataFrame]): Seq[(DataFrame, () => Unit)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
    try {
      tables
        .map { df =>
          pool.submit(new java.util.concurrent.Callable[(DataFrame, () => Unit)] {
            def call(): (DataFrame, () => Unit) = CacheOps.checkpointReleasable(df)
          })
        }
        .map { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
    } finally pool.shutdown()
  }
}

class RoundDriver(
    spark: SparkSession,
    io: TableIO,
    params: CrawlParams,
    /** Above this many total edges the promoted-node walk generation
      * switches from the resolver-broadcast path to the join-based
      * IterativeWalker (the 10^10-frontier path); results are identical
      * either way.
      */
    broadcastMaxEdges: Long = 10000000L,
    /** Full-snapshot cadence; rounds in between write delta logs only. */
    compactEvery: Int = 8,
    /** Write a full snapshot when run() exits (downstream readers expect
      * full tables at the last round; disable to exercise the crash-resume
      * replay path).
      */
    compactOnExit: Boolean = true,
    /** Above this many delta-list entries in one wave, walk repair switches
      * from the driver-resolver path (SubgraphWalks — cheapest for small
      * incremental waves) to the fully distributed join-per-hop
      * IterativeRepair (mandatory for mass-refresh waves, whose graft
      * neighborhoods would otherwise drag much of the graph through the
      * driver); results are identical either way.
      */
    iterativeRepairMinEntries: Long = 20000L,
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

  private val phaseTiming = sys.env.get("GRAFT_PHASE_TIMING").contains("1")
  private def phase[T](round: Long, name: String)(body: => T): T = {
    if (!phaseTiming) body
    else {
      val t = System.nanoTime()
      val r = body
      System.err.println(s"[phase r=$round] $name ${(System.nanoTime() - t) / 1000000} ms")
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
      var totalEdges: Long,
      var fetchedCount: Long,
      var enqueuedCount: Long,
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
    val emptyAdj: WalkAlgebra.Adjacency = _ => Array.empty
    val p = params
    val walks = nodes.flatMap { n =>
      (0 until p.walksPerNode).map { i =>
        val wid = n.id * p.walksPerNode + i
        WalkRow(wid, n.id, WalkAlgebra.generateWalk(emptyAdj, n.id, wid, 0L, GenWave, p))
      }
    }
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
      visits = applyVisitDeltas(visits, kind("visit").select($"id".as("node"), $"d"))
    }
    val Seq((nodesC, nodesR), (edgesC, edgesR), (walksDF, walksR), (fetchedC, fetchedR), (enqueuedC, enqueuedR), (leaksC, leaksR), (visitsC, visitsR)) =
      checkpointAll(Seq(nodes, edges, walks, fetched, enqueued, leaks, visits))
    val walksC = walksDF.as[WalkRow]
    // nextId and the four counts in ONE job: per partition, a row count and
    // max value per tagged table, folded on the driver
    val perPartition = Seq(nodesC.select($"id"), walksDF.select(lit(0L)), edgesC.select(lit(0L)), fetchedC.select(lit(0L)), enqueuedC.select(lit(0L)))
      .zipWithIndex
      .map { case (df, t) => df.toDF("v").select(lit(t).as("t"), $"v") }
      .reduce(_ union _)
      .as[(Int, Long)]
      .mapPartitions { it =>
        val (n, mx) = (new Array[Long](5), Array.fill(5)(-1L))
        it.foreach { case (t, v) => n(t) += 1; mx(t) = math.max(mx(t), v) }
        Iterator((n.toSeq, mx.toSeq))
      }
      .collect()
    val counts = perPartition.map(_._1).foldLeft(Seq.fill(5)(0L))((a, b) => a.zip(b).map { case (x, y) => x + y })
    val nextId = perPartition.map(_._2.head).foldLeft(-1L)(math.max) + 1
    val Seq(_, totalWalks, totalEdges, fetchedCount, enqueuedCount) = counts
    val st = State(
      nodesC,
      edgesC,
      walksC,
      fetchedC,
      enqueuedC,
      visitsC,
      leaksC,
      nextId,
      totalWalks,
      totalEdges,
      fetchedCount,
      enqueuedCount,
      SeenSet.build(spark, fetchedC, fetchedCount, maxDriverBloomUrls)
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
            if (round % compactEvery == 0) compact(st, round)
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

  /** Apply a (node, d) delta table to the exact visit counts. */
  private def applyVisitDeltas(visits: DataFrame, deltas: DataFrame): DataFrame = {
    val d = deltas.groupBy("node").agg(sum($"d").as("dsum"))
    visits
      .join(d, Seq("node"), "full_outer")
      .select($"node", (coalesce($"count", lit(0L)) + coalesce($"dsum", lit(0L))).as("count"))
      .filter($"count" > 0)
  }

  /** A wave's link resolution in ONE collect: each (author, link) row comes
    * back with the link's id when `nodes` knows it and its url when not.
    * The driver assigns `base`.. to the sorted unknown urls of ACTIVE
    * authors and builds every author's sorted new follow list, self-links
    * dropped; an unknown link of an inactive author resolves only when an
    * active author adds it in the same wave. Returns (new nodes, their
    * count, new follow lists by author).
    */
  private def resolveLinksOnDriver(
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
  private def resolveLinksDistributed(
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
    // incremental visits / totalVisits.
    val totalVisits0 = st.visits.agg(sum($"count")).as[Option[Long]].first().getOrElse(0L)
    val batchRows = phase(round, "schedule") {
      graft.frontier.Politeness
        .schedule(
          st.nodes,
          st.visits,
          totalVisits0,
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
    val batchIds: Map[String, Long] = batchRows.map(r => r.getString(0) -> r.getLong(1)).toMap
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
    val verInfo = phase(round, "fetch") {
      batchExtracted
        .select($"url", $"id", $"ver", $"rejected", $"has_secret", size($"suspect_proofs") > 0, coalesce(size($"outlinks"), lit(0)))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5), r.getInt(6)))
    }

    // per-round delta logs (all O(changes))
    val nodesAddedParts = mutable.ArrayBuffer.empty[DataFrame]
    var newNodesCount = 0L
    val nodeUpdateParts = mutable.ArrayBuffer.empty[DataFrame] // (id, status, promotedRound?, demotedRound?)
    val touchedAuthors = mutable.LinkedHashSet.empty[Long] // authors whose adjacency changed
    val roundAdj = mutable.Map.empty[Long, Array[Long]] // FINAL adjacency of touched authors (O(changes))
    val visitDeltaParts = mutable.ArrayBuffer.empty[DataFrame] // (node, d)
    // every visit delta applied this round, kept for the O(changes) delta
    // log (the visits table itself is only written at compactions — a full
    // per-round rewrite would be O(crawled graph) IO, the same scale bug
    // as the round-3 fetch scan)
    val roundVisitDeltas = mutable.ArrayBuffer.empty[DataFrame]
    // replay logs are NET-of-round: ids touched (replaced/removed/created)
    // plus the FINAL version of each touched id — a walk repaired twice in
    // one round, or repaired then demoted, must not resurrect stale rows.
    // Net is computed over an event log of the (small) changed sets, never
    // a pass over the full store: (seq, isAdd, walk).
    var walkEventSeq = 0
    val walkEventParts = mutable.ArrayBuffer.empty[DataFrame] // (seq, isAdd, walkId, start, path)
    var enqueuedAdd: Option[DataFrame] = None
    val tmpCaches = mutable.ArrayBuffer.empty[Dataset[_]]
    // release handles for checkpoint-backed round-temporaries (walker
    // outputs) — unpersist can't release those, see core.CacheOps
    val tmpReleases = mutable.ArrayBuffer.empty[() => Unit]
    tmpCaches += batchExtracted

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
        }

        // per-author deltas: old follows via the resolver (one broadcast
        // semi-join against the distributed edges table, cached across
        // waves), new follows from the link resolution above
        val oldLists = resolver.lists(waveAuthors)
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
            st.totalEdges += d.add.length - d.remove.length
          }
          val touchedDF = broadcast(spark.createDataset(deltas.keySet.toSeq).toDF("aid"))
          val newEdgeRows = deltas.valuesIterator.flatMap(d => d.newList.map(dst => EdgeRow(d.node, dst))).toSeq
          st.edges = st.edges
            .join(touchedDF, st.edges("src") === col("aid"), "left_anti")
            .union(spark.createDataset(newEdgeRows).toDF)

          // distributed walk repair against the wave's deltas (the reference
          // updates the graph before repairing, engine.go:346-369): small
          // waves resolve adjacency on demand from the updated edges table;
          // big waves run the fully distributed join-per-hop repair
          val waveEntries = deltas.valuesIterator.map(d => (d.remove.length + d.keep.length + d.add.length).toLong).sum
          val (changed, nChanged, releaseChanged) = phase(round, s"repair-w$wave") {
            if (waveEntries > iterativeRepairMinEntries) {
              val adjDS = graft.walks.IterativeWalker.adjacencyTable(
                spark,
                st.edges.as[EdgeRow].map(e => (e.src, e.dst))
              )
              graft.walks.IterativeRepair.repairAll(spark, st.walks, adjDS, resolver, deltas, round, wave, params)
            } else SubgraphWalks.repairAll(spark, st.walks, resolver, deltas, round, wave, params)
          }
          tmpReleases += releaseChanged
          walksChanged += nChanged
          if (nChanged > 0) {
            val changedIds = changed.map(_._1.walkId).toDF("rwid").persist()
            tmpCaches += changedIds
            st.walks = st.walks
              .join(broadcast(changedIds), st.walks("walkId") === $"rwid", "left_anti")
              .as[WalkRow]
              .union(changed.map(_._1))
            walkEventSeq += 1
            walkEventParts += changed
              .map(_._1)
              .toDF
              .select(lit(walkEventSeq).as("seq"), lit(true).as("isAdd"), $"walkId", $"start", $"path")
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
    if (leakedIds.nonEmpty || suspectedIds.nonEmpty) {
      val recIds = leakedIds.map((_, LeakStatus.Confirmed)) ++ suspectedIds.map((_, LeakStatus.Suspected))
      val recDF = spark.createDataset(recIds).toDF("rid", "rstatus")
      val proofs = batchExtracted
        .select(
          $"id".as("rid"),
          explode(concat($"secret_proofs", $"suspect_proofs")).as("proof")
        )
        .groupBy($"rid")
        .agg(sort_array(collect_set($"proof")).as("proofs"))
      val newRecs = recDF
        .join(st.leaks.select($"id".as("rid"), lit(1).as("already")), Seq("rid"), "left")
        .filter($"already".isNull || $"rstatus" === LeakStatus.Confirmed)
        .join(st.leaks.filter($"status" === LeakStatus.Confirmed).select($"id".as("rid"), lit(1).as("conf")), Seq("rid"), "left")
        .filter($"conf".isNull)
        .join(st.nodes.select($"id".as("rid"), $"url"), Seq("rid"))
        .join(proofs, Seq("rid"), "left")
        .select(
          $"rid".as("id"),
          $"url",
          lit(round).as("detectedRound"),
          $"rstatus".as("status"),
          coalesce($"proofs", typedLit(Array.empty[String])).as("proofs")
        )
        .persist()
      tmpCaches += newRecs
      if (newRecs.count() > 0) {
        leakRecordParts += newRecs
        st.leaks = st.leaks.union(newRecs)
      }
    }
    if (leakedIds.nonEmpty) {
      leakedIds.foreach(id => statusById(id) = NodeStatus.Leaked)
      nodeUpdateParts += spark
        .createDataset(leakedIds)
        .toDF("id")
        .withColumn("status", lit(NodeStatus.Leaked))
        .withColumn("promotedRound", lit(null).cast("long"))
        .withColumn("demotedRound", lit(null).cast("long"))
      val leakedDF = broadcast(spark.createDataset(leakedIds).toDF("lid"))
      st.nodes = st.nodes
        .join(leakedDF, st.nodes("id") === col("lid"), "left")
        .withColumn("status", when(col("lid").isNotNull, NodeStatus.Leaked).otherwise($"status"))
        .drop("lid")
      if (leakedActive.nonEmpty) {
        val laDF = broadcast(spark.createDataset(leakedActive).toDF("lid"))
        // EAGER checkpoint, not a lazy persist: `removed` is consumed (visit
        // deltas, walk-event log) only after the rematerialize step below
        // releases the walks checkpoint it reads from — a lazy cache would
        // recompute from a released local checkpoint (no lineage) and crash
        val (removed, relRemoved) = graft.core.CacheOps.checkpointReleasable(
          st.walks.join(laDF, st.walks("start") === col("lid"), "left_semi").as[WalkRow]
        )
        tmpReleases += relRemoved
        visitDeltaParts += removed.flatMap(w => w.path.map(n => (n, -1L))).toDF("node", "d")
        walkEventSeq += 1
        walkEventParts += removed.toDF
          .select(lit(walkEventSeq).as("seq"), lit(false).as("isAdd"), $"walkId", $"start", $"path")
        st.walks = st.walks.join(laDF, st.walks("start") === col("lid"), "left_anti").as[WalkRow]
        st.totalWalks -= params.walksPerNode.toLong * leakedActive.size
      }
    }

    // ---- 6. arbiter scan (reference arbiter.scan, arbiter.go:177-260).
    val totalWalks = st.totalWalks // exact arithmetic, post-leak
    val ratio = if (totalWalks == 0) 0.0 else walksChanged.toDouble / totalWalks
    var promotedCount = 0L
    var demotedCount = 0L
    val scanRan = ratio >= params.activation && totalWalks > 0

    // the scan needs post-repair ranks → apply wave+leak visit deltas now
    if (visitDeltaParts.nonEmpty) {
      val v = applyVisitDeltas(st.visits, visitDeltaParts.reduce(_ union _)).persist()
      tmpCaches += v
      st.visits = v
      roundVisitDeltas ++= visitDeltaParts
      visitDeltaParts.clear()
    }

    if (scanRan) {
      val tv = st.visits.agg(sum($"count")).as[Option[Long]].first().getOrElse(0L)
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

        if (demotedCount > 0) {
          // eager checkpoint for the same reason as the leak path above
          val (removed, relRemoved) = graft.core.CacheOps.checkpointReleasable(
            st.walks.join(demotedDF, st.walks("start") === demotedDF("id"), "left_semi").as[WalkRow]
          )
          tmpReleases += relRemoved
          visitDeltaParts += removed.flatMap(w => w.path.map(n => (n, -1L))).toDF("node", "d")
          walkEventSeq += 1
          walkEventParts += removed.toDF
            .select(lit(walkEventSeq).as("seq"), lit(false).as("isAdd"), $"walkId", $"start", $"path")
          st.walks = st.walks.join(demotedDF, st.walks("start") === demotedDF("id"), "left_anti").as[WalkRow]
          st.totalWalks -= params.walksPerNode.toLong * demotedCount
          nodeUpdateParts += demotedDF
            .withColumn("status", lit(NodeStatus.Inactive))
            .withColumn("promotedRound", lit(null).cast("long"))
            .withColumn("demotedRound", lit(round))
        }
        if (promotedCount > 0) {
          val p = params
          val r = round
          val gw = GenWave
          val (newWalks, newWalksRelease) =
            if (st.totalEdges > broadcastMaxEdges) {
              // scale path: one shuffle join per hop, no driver sub-adjacency.
              // The walker returns its output already materialized in one
              // cache with a release handle — re-persisting it here would
              // just double the copy
              val adjDS = graft.walks.IterativeWalker.adjacencyTable(
                spark,
                st.edges.as[EdgeRow].map(e => (e.src, e.dst))
              )
              graft.walks.IterativeWalker
                .generateReleasable(spark, promotedDF.select($"id").as[Long], adjDS, r, gw, p)
            } else {
              // bounded path: resolve only the neighborhood the walks visit
              val promotedIds = promotedDF.select($"id").as[Long].collect().sorted.toSeq
              SubgraphWalks.generateAll(spark, promotedIds, resolver, r, gw, p)
            }
          tmpReleases += newWalksRelease
          st.walks = st.walks.union(newWalks)
          st.totalWalks += params.walksPerNode.toLong * promotedCount
          walkEventSeq += 1
          walkEventParts += newWalks.toDF
            .select(lit(walkEventSeq).as("seq"), lit(true).as("isAdd"), $"walkId", $"start", $"path")
          visitDeltaParts += newWalks.flatMap(w => w.path.map(n => (n, 1L))).toDF("node", "d")
          st.enqueued = st.enqueued.union(promotedDF.select($"url")).dropDuplicates("url")
          enqueuedAdd = Some(promotedDF.select($"url"))
          nodeUpdateParts += promotedDF
            .select($"id")
            .withColumn("status", lit(NodeStatus.Active))
            .withColumn("promotedRound", lit(round))
            .withColumn("demotedRound", lit(null).cast("long"))
        }

        // status transitions on the nodes table
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
      }
    }

    // promote/demote visit deltas
    if (visitDeltaParts.nonEmpty) {
      st.visits = applyVisitDeltas(st.visits, visitDeltaParts.reduce(_ union _))
      roundVisitDeltas ++= visitDeltaParts
      visitDeltaParts.clear()
    }

    // ---- re-materialize in-memory state (one pass; no parquet rewrite of
    // the full store) and cut lineage: the seven state tables are
    // checkpointed concurrently, each coalesced to at most 2 ×
    // defaultParallelism partitions (repeated unions would otherwise grow
    // their partition counts round after round), and only then — every new
    // table is computed from the old ones — are the previous checkpoints
    // released. Small tables too: status updates add two joins per round,
    // and Catalyst replanning of deep chains costs more than materializing.
    val targetParts = spark.sparkContext.defaultParallelism * 2
    val oldWalks = st.walks
    phase(round, "rematerialize") {
      val keys = Seq("walks", "visits", "nodes", "edges", "fetched", "enqueued", "leaks")
      val cps = checkpointAll(
        Seq(st.walks.toDF, st.visits, st.nodes, st.edges, st.fetched.union(batchUrls.toDF("url")), st.enqueued, st.leaks)
          .map(_.coalesce(targetParts))
      )
      keys.zip(cps).foreach { case (key, (_, rel)) =>
        st.cpRelease.get(key).foreach(_())
        st.cpRelease(key) = rel
      }
      val Seq(walks, visits, nodes, edges, fetched, enqueued, leaks) = cps.map(_._1)
      st.walks = walks.as[WalkRow]
      st.visits = visits
      st.nodes = nodes
      st.edges = edges
      st.fetched = fetched
      st.enqueued = enqueued
      st.leaks = leaks
    }
    oldWalks.unpersist()
    st.fetchedCount += batchUrls.size
    st.seen = st.seen.add(batchUrls, st.fetched, st.fetchedCount)
    if (promotedCount > 0) st.enqueuedCount = st.enqueued.count()

    // ---- per-round delta checkpoint (O(changes), not O(state)): ONE
    // table, every part tagged with its kind, in ⌈estimated bytes /
    // 128 MiB⌉ files
    phase(round, "delta-write") {
      val parts = mutable.ArrayBuffer.empty[DataFrame]
      parts ++= nodesAddedParts.map(deltaPart(lit("node"), _))
      parts ++= nodeUpdateParts.map(deltaPart(lit("node_update"), _))
      if (touchedAuthors.nonEmpty) {
        parts += deltaPart(lit("edge_src"), touchedAuthors.toSeq.toDF("src"), key = "src")
        // FINAL adjacency of touched authors (net of all waves this round)
        val finalEdges = touchedAuthors.toSeq.flatMap(a => roundAdj.getOrElse(a, Array.empty[Long]).map(dst => EdgeRow(a, dst)))
        if (finalEdges.nonEmpty) parts += deltaPart(lit("edge"), spark.createDataset(finalEdges).toDF, key = "src")
      }
      if (walkEventParts.nonEmpty) {
        // each touched walk's last event: its final version, or its removal
        val w = org.apache.spark.sql.expressions.Window.partitionBy($"walkId").orderBy($"seq".desc)
        val last = walkEventParts.reduce(_ union _).withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        parts += deltaPart(
          when($"isAdd", lit("walk")).otherwise(lit("walk_removed")),
          last.select($"isAdd", $"walkId", when($"isAdd", $"start").as("start"), when($"isAdd", $"path").as("path")),
          key = "walkId"
        )
      }
      parts ++= leakRecordParts.map(deltaPart(lit("leak"), _))
      parts += deltaPart(lit("fetched"), batchUrls.toDF("url"))
      parts ++= enqueuedAdd.map(deltaPart(lit("enqueued"), _))
      // visit-count deltas, net per node, zeros dropped — the full visits
      // table lands only at compactions, like every other state table
      if (roundVisitDeltas.nonEmpty)
        parts += deltaPart(
          lit("visit"),
          roundVisitDeltas.reduce(_ union _).groupBy("node").agg(sum($"d").as("d")).filter($"d" =!= 0),
          key = "node"
        )
      val delta = parts.reduce(_ union _)
      io.write(round, "delta", delta.coalesce(partitionsFor(delta.queryExecution.optimizedPlan.stats.sizeInBytes)))
    }

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
    io.write(
      round,
      "lineage",
      st.walks.groupBy(spark_partition_id().as("partition")).count().withColumn("round", lit(round))
    )
    io.commitRound(round)

    tmpCaches.foreach(_.unpersist())
    tmpReleases.foreach(_())
    Some(Trace(round, batchUrls, walksChanged, promotedCount, demotedCount, scanRan, m))
  }
}
