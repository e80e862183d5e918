package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.core.CrawlParams
import graft.round.{CrawlEngine, ParquetTableIO, RoundDriver}

/** Structured-Streaming face of the engine (SURVEY.md §2.9).
  *
  * The reference's firehose is a long-lived relay subscription feeding
  * bounded channels (/root/reference/pkg/pipe/firehose/firehose.go:41-73);
  * here the page-arrival stream is a file/table stream, and each reference
  * behavior maps to a streaming primitive:
  *
  *  - T1 live tail offset      → watermark on warc_ts
  *  - T2 resume on reconnect   → checkpointed source offsets (free)
  *  - T3 bounded-memory dedup  → dropDuplicatesWithinWatermark (the LRU
  *                               seen-cache replacement)
  *  - T4 backpressure          → micro-batch sizing (maxFilesPerTrigger)
  *  - T5 graceful drain        → processAllAvailable + stop
  *  - T6 daily tumbling stats  → window(warc_ts, "1 day") aggregation
  *
  * Crawl mode wraps the SAME batch round body in foreachBatch — the round
  * loop is identical code; only the arrival of pages differs.
  */
object StreamIngest {

  val pageSchema: StructType = StructType(
    Seq(
      StructField("url", StringType),
      StructField("warc_ts", TimestampType),
      StructField("html", BinaryType),
      StructField("text", StringType),
      StructField("lang", StringType)
    )
  )

  /** Streaming source over a directory of page parquet files (the firehose
    * S1: new files = newly arrived pages).
    */
  def pagesStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger) // T4 backpressure
      .parquet(dir)

  /** T3: bounded-state URL dedup under a watermark (replaces the
    * reference's 100k-entry LRU, firehose.go:27,61-64).
    */
  def dedupedStream(pages: DataFrame): DataFrame =
    pages
      .withWatermark("warc_ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("url"))

  /** T6: daily tumbling stats (recorder analog,
    * /root/reference/pkg/stats/stats.go:60-81): per-day per-lang page and
    * distinct-url (HLL) counts.
    */
  def dailyStats(pages: DataFrame): DataFrame =
    pages
      .withWatermark("warc_ts", "1 day")
      .groupBy(window(col("warc_ts"), "1 day"), col("lang"))
      .agg(count(lit(1)).as("n_pages"), approx_count_distinct(col("url")).as("approx_urls"))

  /** Extracted-table directory derived from the accumulation dir. */
  def extractedDir(accumDir: String): String = s"$accumDir-extracted"

  /** Incremental extraction: run the heavy html pass over ONLY the newly
    * arrived pages, numbering their versions on top of the per-url max
    * version already extracted. Equal to re-extracting the full corpus
    * provided versions of a url arrive in non-decreasing (warc_ts,
    * md5(html)) order across micro-batches — the file-stream + watermark
    * contract this pipeline runs under. That contract is now ENFORCED
    * (ADVICE r2): the per-url max (warc_ts, md5) key persists in the
    * extracted table (`vkey`), and a batch delivering a version BELOW a
    * url's prior max fails fast — silently assigning it a higher ver would
    * corrupt the deterministic version/wave numbering the RNG keys depend
    * on, in a way no later round could repair (recovery = re-run with a
    * fresh state dir).
    */
  def extractIncrement(spark: SparkSession, newPages: DataFrame, prior: Option[DataFrame]): DataFrame = {
    val base = CrawlEngine.extractPages(spark, newPages)
    prior match {
      case None => base
      case Some(p) =>
        val offsets = p.groupBy("url").agg(max("ver").as("__prev"), max("vkey").as("__maxkey"))
        // eager materialization: the heavy html extraction pass runs ONCE
        // here; both the guard collect below and the caller's write read
        // the materialized O(batch) increment instead of re-extracting
        // (ADVICE r3 — the guard used to evaluate extractPages twice per
        // micro-batch)
        val joined = base.join(offsets, Seq("url"), "left").localCheckpoint(true)
        val outOfOrder = joined
          .filter(col("__maxkey").isNotNull && col("vkey") < col("__maxkey"))
          .select("url", "vkey", "__maxkey")
          .limit(3)
          .collect()
        require(
          outOfOrder.isEmpty,
          s"out-of-order page version(s) for ${outOfOrder.map(_.getString(0)).mkString(", ")}: " +
            "a (warc_ts, md5) key below the url's prior max would silently corrupt deterministic " +
            "version numbering; re-extract from scratch with a fresh state dir"
        )
        joined
          .withColumn("ver", col("ver") + coalesce(col("__prev"), lit(0)))
          .drop("__prev", "__maxkey")
    }
  }

  /** Crawl mode as a stream: every micro-batch of arriving pages lands in a
    * PER-EPOCH directory (`accumDir/batch=<id>`, mode overwrite — a
    * micro-batch retried after a crash between write and checkpoint commit
    * overwrites itself instead of appending duplicates), is extracted
    * INCREMENTALLY (only the new pages go through the html pass — the
    * engine's "extraction runs ONCE" contract), then the ordinary batch
    * round driver advances `roundsPerBatch` rounds against the accumulated
    * extracted table. Source offsets + the engine's own round snapshots
    * make the whole pipeline resumable (T2/T5).
    */
  def crawlPerBatch(
      spark: SparkSession,
      stream: DataFrame,
      accumDir: String,
      stateDir: String,
      seeds: Seq[String],
      params: CrawlParams,
      roundsPerBatch: Int,
      checkpointDir: String
  ): StreamingQuery = {
    val store = new EpochStore(spark, extractedDir(accumDir))
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$accumDir/batch=$batchId") // idempotent per epoch
        val io = new ParquetTableIO(spark, stateDir)
        val driver = new RoundDriver(spark, io, params)
        if (io.lastCompleteRound() < 0) driver.init(seeds)
        val newPages = spark.read.schema(pageSchema).parquet(s"$accumDir/batch=$batchId")
        // a retried epoch must not count its own partial output
        val prior = store.readAll(excludeBatch = Some(batchId)).map(_.drop("batch"))
        store.writeIncrement(batchId, extractIncrement(spark, newPages, prior))
        // NOTHING O(corpus) is cached: the round driver scans the
        // compacted extracted parquet (its own per-round batch join
        // persists only the O(batch) slice it extracts from it)
        val extracted = store.readAll().get.drop("batch")
        val target = io.lastCompleteRound() + roundsPerBatch
        driver.run(extracted, target.toInt)
        store.maybeCompact(batchId - 1, EpochStore.CompactEvery)
        ()
      }
      .start()
  }
}
