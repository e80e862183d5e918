package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.queries.TextQueries

/** Incremental near-dup detection ON INGEST — the streaming face of the
  * q33/q34 LSH dedup pipeline (SURVEY.md §2.11). A 100 TB crawl cannot
  * afford to re-run a corpus-wide dedup after every batch of fetched pages;
  * the production shape detects each new document's near-dups against the
  * already-crawled corpus AS IT ARRIVES, touching only the posting lists
  * the new batch's band buckets hit.
  *
  * Per micro-batch of (doc_id, text):
  *
  *  1. band-bucket the new docs (the same 8-minhash / 2-band signature as
  *     the batch pipeline — TextQueries.bandBuckets, so streaming and batch
  *     agree by construction),
  *  2. intra-batch candidates: the batch pipeline's capped bucket
  *     self-join over the new docs alone,
  *  3. cross candidates: one equi-join of the batch's buckets against the
  *     PERSISTED postings store (band, b, doc_id) of all prior docs,
  *  4. verify exact shingle-Jaccard on the candidate docs only
  *     (TextQueries.jaccardVerify — O(candidates), not O(corpus)),
  *  5. append the batch's postings and docs to the stores.
  *
  * Mega-bucket guard (the q33/q41/q42 cap, adapted to the incremental
  * setting): postings are capped AT APPEND TIME — a (band, b) bucket stops
  * accepting postings once it holds `probeCap` docs (lowest doc_ids win,
  * deterministic), so every new doc probes at most `probeCap` prior
  * candidates per bucket BY CONSTRUCTION, with no per-probe sort of the
  * store. A boilerplate-template bucket therefore costs each arriving doc
  * O(probeCap), never O(bucket). Intra-batch buckets use the batch
  * pipeline's drop-above-cap rule. When no bucket ever exceeds the cap the
  * union of per-batch emissions is EXACTLY the batch pipeline's verified
  * pair set — q49 pins that equality against the q33 DuckDB oracle, and
  * StreamDedupSpec pins it against a real multi-micro-batch stream plus the
  * capped mega-bucket behavior.
  *
  * Scale notes — the per-batch cost model, stated plainly: the
  * cross-probe and the append-cap fill each SCAN the postings store once
  * per micro-batch (a batch of fresh md5 bucket keys hits every file
  * bucket, so no pruning applies — unlike q48's few-key probes). With a
  * small batch Spark broadcasts the batch side, so the scan is the whole
  * cost: O(|postings| / IO-parallelism) per batch, amortized by batching
  * (bigger micro-batches = fewer scans per doc — the T4 backpressure knob
  * is also the dedup cost knob). With a large batch the join shuffles, and
  * compacting the postings as a BucketedParquet table bucketed by `b` (the
  * TrigramIndex layout) spares the store side its shuffle; the per-epoch
  * uncompacted tail stays O(EpochStore.CompactEvery × batch) either way. Probing
  * cheaper than a store scan needs a point-lookup index (a key-value
  * store), which is outside a pure-Spark pipeline. Doc texts are fetched for verification
  * by an O(candidates) id join against the docs store (at production scale
  * a doc_id-bucketed store per TableIO N17 makes that read O(candidates)
  * IO as well).
  *
  * Reference analog: the single-process engine deduplicates events by
  * exact id in its firehose LRU (pkg/pipe/firehose/firehose.go:27,61-64);
  * near-dup-on-ingest is the web-corpus capability that replaces it here.
  */
object StreamDedup {

  val docSchema: StructType = StructType(
    Seq(StructField("doc_id", LongType), StructField("text", StringType))
  )

  /** Max distinct band-bucket keys a batch pushes into the store scan as
    * InSet(b) (2 per doc, so ~4k docs fit); bigger batches skip the
    * pushdown and take the shuffled-join path.
    */
  private[graft] val ProbeKeyCap = 8192

  /** Streaming source over a directory of (doc_id, text) parquet files
    * (new files = newly crawled/extracted documents).
    */
  def docsStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** One micro-batch of the incremental dedup — a pure function of the new
    * docs and the prior state, so the batch-mode replay (q49) and the
    * foreachBatch runner share it verbatim.
    *
    * Returns (verified pairs, postings to append, release). Pairs carry the
    * q33 output shape (doc_a, doc_b, jaccard_r, is_dup); postings are the
    * new docs' band buckets minus any that an already-full bucket rejects.
    * The batch's signature pass and candidate set are checkpointed (they
    * are each consumed by several downstream joins — without the
    * checkpoint the 8-minhash aggregation would run 4× per batch); call
    * `release` once pairs and postings are materialized.
    */
  def dedupBatch(
      spark: SparkSession,
      newDocs: DataFrame,
      priorPostings: Option[DataFrame],
      priorDocs: Option[DataFrame],
      probeCap: Int = TextQueries.LshMaxBucket
  ): (DataFrame, DataFrame, () => Unit) = {
    val (newBuckets, relBuckets) = // (doc_id, b, band)
      graft.core.CacheOps.checkpointReleasable(TextQueries.bandBuckets(newDocs))
    // prune the store to the batch's band-bucket keys BEFORE anything reads
    // it: the keys are O(2 × batch) driver literals and reach the scan as
    // InSet(b) — on the postings store's BucketedParquet compaction that
    // prunes file buckets and skips row groups, so a small batch reads a
    // bounded fraction of an arbitrarily large store (StreamDedupSpec
    // asserts records-read). Semantics unchanged: rows outside the key set
    // cannot join on (band, b) anyway, so this is a pure restriction — and
    // both prior consumers (the cross-probe and the append-cap fill) share
    // it.
    // Above the key cap (a huge batch) the filter is skipped: there the
    // batch side stops broadcasting and the shuffled join carries the cost
    // model the scaladoc describes.
    val prior = priorPostings match {
      case None => newBuckets.limit(0)
      case Some(p) =>
        val batchKeys =
          newBuckets.select("b").distinct().limit(ProbeKeyCap + 1).collect().map(_.getString(0))
        if (batchKeys.length <= ProbeKeyCap) p.filter(col("b").isin(batchKeys.toSeq: _*)) else p
    }

    // intra-batch: the batch pipeline's capped bucket self-join — the SAME
    // implementation (TextQueries.candidatePairsFromBuckets), applied to
    // this batch's checkpointed buckets; the q49 == q33 equality depends on
    // the two paths sharing it
    val intra = TextQueries.candidatePairsFromBuckets(newBuckets, probeCap)

    // cross: new buckets probe the store. The store is append-capped, so
    // each (new doc, bucket) meets at most probeCap prior candidates.
    val cross = newBuckets
      .select(col("band"), col("b"), col("doc_id").as("new_id"))
      .join(prior.select(col("band"), col("b"), col("doc_id").as("old_id")), Seq("band", "b"))
      .filter(col("new_id") =!= col("old_id"))
      .select(
        least(col("new_id"), col("old_id")).as("doc_a"),
        greatest(col("new_id"), col("old_id")).as("doc_b")
      )

    val (cand, relCand) =
      graft.core.CacheOps.checkpointReleasable(intra.unionByName(cross).distinct())

    // verify on candidate docs only: O(candidates) shingling
    val candIds = cand
      .select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    val corpus = priorDocs match {
      case Some(p) => newDocs.select("doc_id", "text").unionByName(p.select("doc_id", "text"))
      case None    => newDocs.select("doc_id", "text")
    }
    // candidate-doc shingles feed three verify subtrees (sizes + both
    // intersect sides): checkpoint once — O(candidates) rows (the same
    // measured-first fix as verifiedPairsReleasable)
    val (shCand, relSh) = graft.core.CacheOps.checkpointReleasable(
      TextQueries.shingles(corpus.join(candIds, Seq("doc_id")))
    )
    val pairs = TextQueries
      .jaccardVerifyFromShingles(shCand, cand)
      .select(
        col("doc_a"),
        col("doc_b"),
        round(col("jaccard"), 4).as("jaccard_r"),
        (col("jaccard") >= 0.5).as("is_dup")
      )

    // append-time cap: a bucket already holding k postings accepts only
    // probeCap − k more (lowest new doc_ids win — deterministic, and the
    // per-bucket sort is over the O(batch) side only). The count-per-bucket
    // aggregation touches only postings in the batch's buckets, which the
    // cap itself bounds at O(probeCap × batch buckets).
    val batchBucketKeys = newBuckets.select("band", "b").distinct()
    val fill = prior
      .join(batchBucketKeys, Seq("band", "b"))
      .groupBy("band", "b")
      .agg(count(lit(1)).as("__k"))
    val wAppend = Window.partitionBy("band", "b").orderBy("doc_id")
    val newPostings = newBuckets
      .join(fill, Seq("band", "b"), "left")
      .withColumn("__rn", row_number().over(wAppend))
      .filter(col("__rn") + coalesce(col("__k"), lit(0L)) <= probeCap)
      .select("doc_id", "b", "band")

    (pairs, newPostings, () => { relBuckets(); relCand(); relSh() })
  }

  /** The incremental dedup as a streaming pipeline: per-epoch increments of
    * docs, postings, and emitted pairs land in marker-disciplined stores
    * under `stateRoot` (idempotent overwrite per epoch — a micro-batch
    * retried after a crash between write and checkpoint commit overwrites
    * itself; `excludeBatch` keeps its own partial output out of the prior
    * state it recomputes from, the crawlPerBatch discipline).
    */
  def run(
      spark: SparkSession,
      stream: DataFrame,
      stateRoot: String,
      checkpointDir: String,
      probeCap: Int = TextQueries.LshMaxBucket
  ): StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docsStore = new EpochStore(spark, s"$stateRoot/docs")
        // postings compact into BucketedParquet tables bucketed by `b` (r5
        // verdict #2): each batch's cross-probe then prunes the compacted
        // bulk to its own band-bucket keys instead of scanning the store
        val postingsStore = new EpochStore(spark, s"$stateRoot/postings", bucketCol = Some("b"))
        val pairsStore = new EpochStore(spark, s"$stateRoot/pairs")
        docsStore.writeIncrement(batchId, batch.select("doc_id", "text"))
        val newDocs = spark.read.schema(docSchema).parquet(s"$stateRoot/docs/batch=$batchId")
        val priorPostings = postingsStore.readAll(excludeBatch = Some(batchId)).map(_.drop("batch"))
        val priorDocs = docsStore.readAll(excludeBatch = Some(batchId)).map(_.drop("batch"))
        val (pairs, newPostings, release) =
          dedupBatch(spark, newDocs, priorPostings, priorDocs, probeCap)
        pairsStore.writeIncrement(batchId, pairs)
        postingsStore.writeIncrement(batchId, newPostings)
        release()
        docsStore.maybeCompact(batchId - 1, EpochStore.CompactEvery)
        postingsStore.maybeCompact(batchId - 1, EpochStore.CompactEvery)
        pairsStore.maybeCompact(batchId - 1, EpochStore.CompactEvery)
        ()
      }
      .start()
  }

  /** All pairs emitted so far (across every epoch), q33-shaped. */
  def emittedPairs(spark: SparkSession, stateRoot: String): Option[DataFrame] =
    new EpochStore(spark, s"$stateRoot/pairs").readAll().map(_.drop("batch"))
}
