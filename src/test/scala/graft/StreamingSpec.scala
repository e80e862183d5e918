package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.core.CrawlParams
import graft.fixtures.PagesGen
import graft.round.ParquetTableIO
import graft.streaming.{EpochStore, StreamIngest}

/** Streaming semantics T1-T6 (SURVEY.md §2.9) against the deterministic
  * corpus: watermarked dedup, daily tumbling stats, and crawl rounds driven
  * per micro-batch with offset + snapshot resumability.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, appName = "streaming-spec")

  val cfg = PagesGen.Tiny

  private def writeCorpusChunks(dir: String): Unit = {
    import spark.implicits._
    // chunk 1: first versions; chunk 2: re-published second versions
    val v1 = (0L until cfg.pages.toLong).map(pid => PagesGen.pageOf(cfg, pid, 1))
    val v2 = (0L until cfg.pages.toLong).filter(PagesGen.isRepublished).map(pid => PagesGen.pageOf(cfg, pid, 2))
    spark.createDataset(v1).toDF.coalesce(1).write.mode("append").parquet(dir)
    spark.createDataset(v2).toDF.coalesce(1).write.mode("append").parquet(dir)
  }

  test("watermarked dedup keeps one row per url (bounded-state LRU analog)") {
    val dir = Files.createTempDirectory("stream-pages").toString
    writeCorpusChunks(dir)
    val q = StreamIngest
      .dedupedStream(StreamIngest.pagesStream(spark, dir))
      .writeStream
      .format("memory")
      .queryName("deduped")
      .outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("select count(*) as n, count(distinct url) as u from deduped").first()
    assert(got.getLong(0) === got.getLong(1)) // no url twice
    assert(got.getLong(0) === cfg.pages.toLong)
  }

  test("daily tumbling stats stream matches batch aggregation") {
    val dir = Files.createTempDirectory("stream-stats").toString
    writeCorpusChunks(dir)
    val q = StreamIngest
      .dailyStats(StreamIngest.pagesStream(spark, dir))
      .writeStream
      .format("memory")
      .queryName("daily")
      .outputMode("complete")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("select lang, sum(n_pages) as n from daily group by lang order by lang").collect()
    import spark.implicits._
    val batch = spark
      .createDataset((0L until cfg.pages.toLong).map(p => PagesGen.pageOf(cfg, p, 1)) ++
        (0L until cfg.pages.toLong).filter(PagesGen.isRepublished).map(p => PagesGen.pageOf(cfg, p, 2)))
      .groupBy("lang")
      .count()
      .orderBy("lang")
      .collect()
    assert(streamed.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      batch.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("foreachBatch crawl: rounds advance as pages arrive, state resumes across batches") {
    val pagesDir = Files.createTempDirectory("stream-crawl-pages").toString
    val accumDir = Files.createTempDirectory("stream-crawl-accum").toString
    val stateDir = Files.createTempDirectory("stream-crawl-state").toString
    val ckptDir = Files.createTempDirectory("stream-crawl-ckpt").toString
    import spark.implicits._
    val params = CrawlParams(walksPerNode = 10, batch = 20, hostBudget = 5)
    val seeds = PagesGen.seedUrls(cfg, 3)

    // chunk 1 arrives
    val v1 = (0L until cfg.pages.toLong).map(pid => PagesGen.pageOf(cfg, pid, 1))
    spark.createDataset(v1).toDF.coalesce(1).write.mode("append").parquet(pagesDir)

    val q = StreamIngest.crawlPerBatch(
      spark,
      StreamIngest.pagesStream(spark, pagesDir, maxFilesPerTrigger = 10),
      accumDir,
      stateDir,
      seeds,
      params,
      roundsPerBatch = 2,
      checkpointDir = ckptDir
    )
    q.processAllAvailable()
    val io = new ParquetTableIO(spark, stateDir)
    val afterChunk1 = io.lastCompleteRound()
    assert(afterChunk1 >= 2, s"expected ≥2 rounds after first batch, got $afterChunk1")
    val seen1 = io.read(afterChunk1, "fetched").count()
    // incremental extraction: the first epoch extracted exactly the arriving pages
    val exDir = StreamIngest.extractedDir(accumDir)
    assert(spark.read.parquet(s"$exDir/batch=0").count() === cfg.pages.toLong)

    // chunk 2 arrives (re-published versions) → more rounds on the union
    val v2 = (0L until cfg.pages.toLong).filter(PagesGen.isRepublished).map(pid => PagesGen.pageOf(cfg, pid, 2))
    spark.createDataset(v2).toDF.coalesce(1).write.mode("append").parquet(pagesDir)
    q.processAllAvailable()
    q.stop()

    val afterChunk2 = io.lastCompleteRound()
    assert(afterChunk2 > afterChunk1, "crawl did not advance on the second micro-batch")
    val seen2 = io.read(afterChunk2, "fetched").count()
    assert(seen2 > seen1, "seen set did not grow")
    // second epoch extracted ONLY the newly arrived re-published versions,
    // with version numbers continuing above the first epoch's (ver = 2)
    val nRepub = (0L until cfg.pages.toLong).count(PagesGen.isRepublished).toLong
    val b1 = spark.read.parquet(s"${StreamIngest.extractedDir(accumDir)}/batch=1")
    assert(b1.count() === nRepub)
    assert(b1.filter(org.apache.spark.sql.functions.col("ver") === 2).count() === nRepub)
    // crawl invariants hold on streamed state
    val walks = io.read(afterChunk2, "walks").collect()
    walks.foreach { r =>
      val path = r.getSeq[Long](2)
      assert(path.nonEmpty && path.distinct.size === path.size)
    }
    // nothing O(corpus) is cached per micro-batch: StreamIngest no longer
    // persists the accumulated extracted table at all (VERDICT r2 #4); the
    // only cached blocks left are the engine's own O(state) checkpoints
    val cachedHuge = spark.sparkContext.getRDDStorageInfo
      .filter(i => i.isCached && i.memSize > 64L * 1024 * 1024)
    assert(cachedHuge.isEmpty, s"unexpected large cached RDDs: ${cachedHuge.mkString(", ")}")
  }

  test("extracted store: per-epoch increments compact with crash-safe markers, retry exclusion holds") {
    import spark.implicits._
    val root = Files.createTempDirectory("exstore").toString
    val store = new EpochStore(spark, root)
    (0L until 5L).foreach { id =>
      store.writeIncrement(id, Seq((s"u$id", id)).toDF("url", "v"))
    }
    assert(store.lastCompaction() === -1L)
    assert(store.batchIds() === Seq(0L, 1L, 2L, 3L, 4L))

    // a retried epoch excludes its own rows
    val without4 = store.readAll(excludeBatch = Some(4L)).get.collect().map(_.getString(0)).toSet
    assert(without4 === Set("u0", "u1", "u2", "u3"))

    // compact epochs <= 3 (strictly before the "current" 4)
    store.maybeCompact(3L, minBatches = 2)
    assert(store.lastCompaction() === 3L)
    assert(store.batchIds() === Seq(4L), "covered batch dirs are deleted after the marker lands")
    val all = store.readAll().get.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(all === (0L until 5L).map(id => (s"u$id", id)).toSet, "no row lost through compaction")
    // the batch column survives compaction so retry exclusion still works
    val excl = store.readAll(excludeBatch = Some(4L)).get.collect().map(_.getString(0)).toSet
    assert(excl === Set("u0", "u1", "u2", "u3"))

    // below the threshold nothing happens
    store.maybeCompact(4L, minBatches = 5)
    assert(store.lastCompaction() === 3L)

    // a second compaction folds the previous one in and cleans it up
    (5L until 7L).foreach(id => store.writeIncrement(id, Seq((s"u$id", id)).toDF("url", "v")))
    store.maybeCompact(6L, minBatches = 2)
    assert(store.lastCompaction() === 6L)
    assert(store.batchIds().isEmpty)
    val all2 = store.readAll().get.collect().map(_.getString(0)).toSet
    assert(all2 === (0L until 7L).map(i => s"u$i").toSet)

    // crash debris GC (ADVICE r3): a markerless compact dir (crashed before
    // its marker), a stale compact dir + marker below the current one, and
    // a covered-but-undeleted batch dir are all swept on the next
    // maybeCompact — and readers were never affected
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration
    )
    Seq((s"u98", 98L)).toDF("url", "v").write.parquet(s"$root/compact_upto=98") // markerless orphan
    Seq((s"u99", 99L)).toDF("url", "v").write.parquet(s"$root/compact_upto=2") // stale, below marker
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_compact_2"), true).close() // stale marker
    Seq((s"u1", 1L)).toDF("url", "v").write.parquet(s"$root/batch=1") // covered, undeleted
    val visible = store.readAll().get.collect().map(_.getString(0)).toSet
    assert(visible === (0L until 7L).map(i => s"u$i").toSet, "debris must be invisible to readers")
    store.maybeCompact(6L, minBatches = 100) // below threshold: GC only
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/compact_upto=98")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/compact_upto=2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_compact_2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/batch=1")))
    assert(store.lastCompaction() === 6L)
    assert(store.readAll().get.collect().map(_.getString(0)).toSet === (0L until 7L).map(i => s"u$i").toSet)
  }

  test("out-of-order page version fails fast instead of corrupting version numbering (ADVICE r2)") {
    val pagesDir = Files.createTempDirectory("stream-ooo-pages").toString
    val accumDir = Files.createTempDirectory("stream-ooo-accum").toString
    val stateDir = Files.createTempDirectory("stream-ooo-state").toString
    val ckptDir = Files.createTempDirectory("stream-ooo-ckpt").toString
    import spark.implicits._
    val params = CrawlParams(walksPerNode = 10, batch = 20, hostBudget = 5)
    val seeds = PagesGen.seedUrls(cfg, 3)

    // chunk 1: the LATER versions arrive first
    val repub = (0L until cfg.pages.toLong).filter(PagesGen.isRepublished)
    spark.createDataset(repub.map(pid => PagesGen.pageOf(cfg, pid, 2))).toDF
      .coalesce(1).write.mode("append").parquet(pagesDir)
    val q = StreamIngest.crawlPerBatch(
      spark,
      StreamIngest.pagesStream(spark, pagesDir, maxFilesPerTrigger = 10),
      accumDir,
      stateDir,
      seeds,
      params,
      roundsPerBatch = 1,
      checkpointDir = ckptDir
    )
    q.processAllAvailable()
    // chunk 2: the earlier (warc_ts, md5) versions of the same urls
    spark.createDataset(repub.map(pid => PagesGen.pageOf(cfg, pid, 1))).toDF
      .coalesce(1).write.mode("append").parquet(pagesDir)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(10000)
    }
    q.stop()
    assert(err.getMessage.contains("out-of-order") || Option(err.getCause).exists(_.getMessage.contains("out-of-order")))
  }
}
