package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.core.CrawlParams
import graft.fixtures.PagesGen
import graft.round.{BucketedTableIO, CrawlEngine, ParquetTableIO, RoundDriver}

/** Bucketed state tables (SURVEY.md §4 items 1/3): a cold read of the
  * bucketed frontier/walk tables reports its hash partitioning to Catalyst,
  * so the engine's key joins plan WITHOUT a shuffle on the bucketed side.
  */
class BucketedIOSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, appName = "bucketed-io")

  private def exchanges(df: DataFrame): Int = {
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }.size
  }

  test("cold-read bucketed tables: seen anti-join, link join, start aggregation plan shuffle-free") {
    import spark.implicits._
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dir = Files.createTempDirectory("bucketed-io").toString
      val io = new BucketedTableIO(spark, dir, buckets = 8)
      val urls = (0 until 1000).map(i => s"https://h${i % 7}.example/p$i")
      io.write(0L, "enqueued", urls.toDF("url"))
      io.write(0L, "fetched", urls.filter(_.hashCode % 3 == 0).toDF("url"))
      io.write(
        0L,
        "nodes",
        urls.zipWithIndex.map { case (u, i) => (i.toLong, u, s"h${i % 7}.example", "inactive") }.toDF("id", "url", "host", "status")
      )
      io.write(
        0L,
        "walks",
        (0L until 2000L).map(w => (w, w % 200, Array(w % 200, (w * 7) % 200))).toDF("walkId", "start", "path")
      )
      io.commitRound(0L)

      // cold reads through a fresh TableIO instance
      val io2 = new BucketedTableIO(spark, dir, buckets = 8)

      // J9 seen anti-join: both sides bucketed by url → zero exchanges
      val pending = io2.read(0L, "enqueued").join(io2.read(0L, "fetched"), Seq("url"), "left_anti")
      assert(pending.count() > 0)
      assert(exchanges(pending) === 0, "seen anti-join should reuse bucket partitioning on both sides")

      // link-resolution join: only the (unbucketed) probe side shuffles
      val links = (0 until 100).map(i => s"https://h${i % 7}.example/p${i * 3}").toDF("url")
      val resolved = links.join(io2.read(0L, "nodes").select($"url", $"id"), Seq("url"))
      assert(resolved.count() > 0)
      assert(exchanges(resolved) === 1, "nodes side of the link join should not re-shuffle")

      // walk-store aggregation by start (visit/ownership scans) → zero exchanges
      val agg = io2.read(0L, "walks").groupBy("start").count()
      assert(agg.count() > 0)
      assert(exchanges(agg) === 0, "walks groupBy(start) should reuse bucket partitioning")

      // unbucketed control: the same anti-join through plain parquet DOES shuffle
      val pio = new ParquetTableIO(spark, dir + "-plain")
      pio.write(0L, "enqueued", urls.toDF("url"))
      pio.write(0L, "fetched", urls.filter(_.hashCode % 3 == 0).toDF("url"))
      val plain = pio.read(0L, "enqueued").join(pio.read(0L, "fetched"), Seq("url"), "left_anti")
      assert(plain.count() === pending.count())
      assert(exchanges(plain) > 0, "control: plain parquet anti-join shuffles")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
  }

  test("bucket metadata survives the JVM: dropped catalog re-registers from the on-disk spec") {
    import spark.implicits._
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dir = Files.createTempDirectory("bucketed-resume").toString
      val io = new BucketedTableIO(spark, dir, buckets = 8)
      val urls = (0 until 1000).map(i => s"https://h${i % 7}.example/p$i")
      io.write(0L, "enqueued", urls.toDF("url"))
      io.write(0L, "fetched", urls.filter(_.hashCode % 3 == 0).toDF("url"))
      io.commitRound(0L)

      // simulate a fresh JVM: the in-memory catalog forgets every table
      // (external tables, so the bucketed files stay on disk)
      spark.catalog.listTables().collect().foreach(t => spark.sql(s"DROP TABLE ${t.name}"))

      val io2 = new BucketedTableIO(spark, dir, buckets = 8)
      val pending = io2.read(0L, "enqueued").join(io2.read(0L, "fetched"), Seq("url"), "left_anti")
      val expected = urls.toSet -- urls.filter(_.hashCode % 3 == 0).toSet
      assert(pending.collect().map(_.getString(0)).toSet === expected)
      assert(
        exchanges(pending) === 0,
        "re-registered bucketed tables must plan the seen anti-join shuffle-free in a fresh catalog"
      )
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
  }

  test("a bucket spec declaring a different bucket column is refused at registration") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bucketed-mismatch").toString
    val io = new BucketedTableIO(spark, dir, buckets = 8)
    io.write(0L, "fetched", (0 until 100).map(i => s"https://h${i % 7}.example/p$i").toDF("url"))
    io.commitRound(0L)
    val table = s"$dir/r=0/fetched"
    val props = graft.core.BucketedParquet.readSpec(spark, table).get
    assert(props.getProperty("bucketCol") === "url")
    props.setProperty("bucketCol", "host")
    val specFile = new org.apache.hadoop.fs.Path(s"$table/${graft.core.BucketedParquet.SpecFile}")
    val out = specFile.getFileSystem(spark.sparkContext.hadoopConfiguration).create(specFile, true)
    try props.store(out, null) finally out.close()
    spark.catalog.listTables().collect().foreach(t => spark.sql(s"DROP TABLE ${t.name}"))

    val err = intercept[IllegalArgumentException](new BucketedTableIO(spark, dir, buckets = 8).read(0L, "fetched"))
    assert(err.getMessage.contains("refusing to register a mismatched table"), err.getMessage)
  }

  test("fetch pruning: InSet(url) on the bucketed extracted store reads O(batch) buckets, not the corpus") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bucketed-fetch").toString
    val buckets = 32
    val io = new BucketedTableIO(spark, dir, buckets = buckets)
    // extracted-shaped table: 5000 urls × 1-2 versions
    val rows = (0 until 5000).flatMap { i =>
      val u = s"https://h${i % 17}.example/p$i"
      (1 to (1 + i % 2)).map(v => (u, v, Seq(s"https://h0.example/p${(i * 3) % 5000}"), false, false))
    }
    io.write(0L, "extracted", rows.toDF("url", "ver", "outlinks", "rejected", "has_secret"))
    io.commitRound(0L)

    val ext = io.read(0L, "extracted")
    // a 12-url batch (above the 10-value InSet conversion threshold — the
    // realistic shape) prefiltered exactly as RoundDriver's fetch does
    val batch = (0 until 12).map(i => s"https://h${(i * 421) % 17}.example/p${i * 421}")
    // task-level input metrics: records actually read off disk (the scan's
    // numFiles metric is computed BEFORE bucket pruning, so it can't see it)
    @volatile var recordsRead = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        recordsRead += t.taskMetrics.inputMetrics.recordsRead
    }
    spark.sparkContext.addSparkListener(listener)
    // listener events are async: wait until the counter stops moving (no
    // new task-end events for 200ms, up to 8s) instead of a fixed sleep —
    // fixed waits under- or over-count on a loaded host
    def settle(): Unit = {
      var last = -1L
      var spins = 0
      while (recordsRead != last && spins < 40) { last = recordsRead; Thread.sleep(200); spins += 1 }
    }
    def recordsReadBy(f: => Unit): Long = {
      settle() // drain stragglers from the previous measurement
      recordsRead = 0L
      f
      settle()
      recordsRead
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // under DEFAULT bucketing configs: even when the planner picks a
      // non-bucketed read, file pruning by bucket id still applies — the
      // fetch reads at most one bucket per batch url instead of the corpus
      val fetch = ext.filter($"url".isInCollection(batch))
      assert(fetch.count() === batch.map(u => rows.count(_._1 == u)).sum.toLong)
      val prunedRecs = recordsReadBy(ext.filter($"url".isInCollection(batch)).collect())
      val fullRecs = recordsReadBy(ext.filter($"ver" >= 1).collect()) // non-bucket-key predicate: no pruning
      assert(fullRecs >= rows.size, s"control scan read $fullRecs records; expected the full ${rows.size}")
      assert(
        prunedRecs <= (fullRecs * 1.5 * batch.size / buckets).toLong,
        s"fetch read $prunedRecs of $fullRecs records; expected ≤ ~${batch.size}/$buckets of the corpus"
      )

      // with the auto-disable heuristic off, the plan itself reports the
      // pruned bucket count
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val fetch2 = ext.filter($"url".isInCollection(batch))
      fetch2.count()
      val plan = fetch2.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(sel.nonEmpty, s"expected bucket pruning in the fetch plan, got:\n$plan")
      val (selected, total) = (sel.get.group(1).toInt, sel.get.group(2).toInt)
      assert(total === buckets)
      assert(selected <= batch.size, s"fetch should read at most one bucket per batch url ($selected of $total)")
      assert(selected < total, "fetch must not scan every bucket")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("a crawl through BucketedTableIO is identical to ParquetTableIO") {
    import spark.implicits._
    val cfg = PagesGen.Tiny
    val params = CrawlParams(
      seed = 42L,
      alpha = 0.85,
      walksPerNode = 10,
      batch = 20,
      hostBudget = 5,
      promotion = 0.1,
      demotion = 0.05,
      activation = 0.01,
      promotionWait = 0L
    )
    val seeds = PagesGen.seedUrls(cfg, 3)
    val pageRows = (0L until cfg.pages.toLong).map(pid => PagesGen.pageOf(cfg, pid, 1)) ++
      (0L until cfg.pages.toLong).filter(PagesGen.isRepublished).map(pid => PagesGen.pageOf(cfg, pid, 2))
    val extracted = CrawlEngine.extractPages(spark, spark.createDataset(pageRows).toDF).persist()

    def run(io: graft.round.TableIO): Unit = {
      val driver = new RoundDriver(spark, io, params)
      if (io.lastCompleteRound() < 0) driver.init(seeds)
      driver.run(extracted, 3)
      ()
    }
    val dirA = Files.createTempDirectory("bucketed-crawl").toString
    val dirB = Files.createTempDirectory("plain-crawl").toString
    val ioA = new BucketedTableIO(spark, dirA, buckets = 8)
    val ioB = new ParquetTableIO(spark, dirB)
    run(ioA)
    run(ioB)

    def state(io: graft.round.TableIO, last: Long) = {
      val nodes = io.read(last, "nodes").collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(3)))).toMap
      val walks = io.read(last, "walks").collect().map(r => r.getLong(0) -> r.getSeq[Long](2).toSeq).toMap
      val seen = io.read(last, "fetched").collect().map(_.getString(0)).sorted.toSeq
      (nodes, walks, seen)
    }
    assert(ioA.lastCompleteRound() === ioB.lastCompleteRound())
    assert(state(ioA, ioA.lastCompleteRound()) === state(ioB, ioB.lastCompleteRound()))
    extracted.unpersist()
    ()
  }
}
