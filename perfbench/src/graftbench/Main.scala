package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** What a workload reports: operations attempted and failed (an operation
  * fails when it throws or its output check fails), the end-to-end metrics
  * and whatever per-layer metrics it measured.
  */
final case class Outcome(
    attempted: Int,
    failed: Int,
    endToEnd: Map[String, Double],
    layers: Map[String, Double],
    failures: Seq[String]
)

/** Shared run context. `timed` (or `begin`/`end`) brackets the measured
  * part of a workload and accumulates its wall time, JVM GC time and, in
  * traced runs, the Spark listener counters, all read outside the bracket.
  */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Int,
    val cores: Int,
    val work: String,
    val tracer: Tracer,
    val counters: Option[SparkCounters],
    val sessionSeconds: Double
) {
  var timedNs = 0L
  var gcMs = 0L
  val sparkDelta: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  private var peakHeapMb = 0.0

  private var window: Option[(Option[Map[String, Long]], Long, Long)] = None

  /** Opens a measured window; [[end]] closes it and returns its ns. */
  def begin(): Unit = {
    require(window.isEmpty, "measured window already open")
    window = Some((counters.map(_.snapshot()), Heap.gcMillis(), System.nanoTime()))
  }

  def end(): Long = {
    val (before, gc0, t0) = window.getOrElse(sys.error("no measured window open"))
    val ns = System.nanoTime() - t0
    window = None
    gcMs += Heap.gcMillis() - gc0
    timedNs += ns
    for (b <- before; a <- counters.map(_.snapshot())) a.foreach { case (k, v) => sparkDelta(k) += v - b(k) }
    ns
  }

  def timed[T](body: => T): (T, Long) = {
    begin()
    val r = body
    (r, end())
  }

  def time[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  /** Heap after a full GC; the peak over all samples is reported. */
  def sampleHeap(): Unit = peakHeapMb = math.max(peakHeapMb, Heap.afterGcMb())
  def heapPeakMb: Double = peakHeapMb

  /** The per-layer `spark.*` metrics over the timed brackets. */
  def sparkLayer: Map[String, Double] = {
    val wallMs = timedNs / 1e6
    Map(
      "spark.jobs" -> sparkDelta("jobs").toDouble,
      "spark.stages" -> sparkDelta("stages").toDouble,
      "spark.tasks" -> sparkDelta("tasks").toDouble,
      "spark.task_ms" -> sparkDelta("task_ms").toDouble,
      "spark.busy_share" -> (if (wallMs > 0) sparkDelta("task_ms") / (cores * wallMs) else 0.0),
      "spark.plan_ms" -> sparkDelta("plan_ns") / 1e6,
      "spark.plan_nodes_max" -> counters.map(_.planNodesMax.get.toDouble).getOrElse(0.0),
      "spark.shuffle_write_bytes" -> sparkDelta("shuffle_write_bytes").toDouble,
      "spark.shuffle_read_bytes" -> sparkDelta("shuffle_read_bytes").toDouble,
      "spark.spill_bytes" -> sparkDelta("spill_bytes").toDouble,
      "spark.gc_ms" -> gcMs.toDouble
    )
  }
}

/** Benchmark entry point: one workload per JVM.
  *
  * Args: --workload <crawl_grow|frontier_scan> --seed <n> --seconds <n>
  * --trace <0|1> --work <scratch dir> --out <result json> [--trace-out <jsonl>]
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val work = args("work")
    require(seconds >= 1, "--seconds must be at least 1")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Sessions.local(cores, appName = s"perfbench-$workload")
    // first trivial job: codegen and scheduler warm-up belong to set-up
    spark.range(0, 1000, 1, cores).selectExpr("sum(id)").collect()
    val sessionSeconds = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tracer = new Tracer(traced, s"$workload-seed$seed-${ProcessHandle.current().pid()}")
    val counters = if (traced) Some(new SparkCounters(spark, tracer)) else None
    val ctx = new Ctx(spark, seed, seconds, cores, work, tracer, counters, sessionSeconds)

    val outcome = workload match {
      case "crawl_grow"    => CrawlGrow.run(ctx)
      case "frontier_scan" => FrontierScan.run(ctx)
      case other           => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    val layers =
      if (!traced) Map.empty[String, Double]
      else ctx.sparkLayer ++ outcome.layers + ("trace.overhead_share" -> tracer.selfNs.toDouble / math.max(ctx.timedNs, 1L))
    val host = Map(
      "nproc" -> cores,
      "cores_used" -> cores,
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version")
    )
    val result = Json.obj(
      "workload" -> workload,
      "seed" -> seed,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "failures" -> outcome.failures.take(20),
      "end_to_end" -> outcome.endToEnd,
      "per_layer" -> layers,
      "host" -> host
    )
    args.get("trace-out").filter(_ => traced).foreach(p => tracer.writeJsonl(Paths.get(p), layers ++ outcome.endToEnd))
    Files.writeString(Paths.get(args("out")), result)
    spark.stop()
  }
}
