package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.round.BucketedTableIO

/** One timed call: name, start/end (ns since the tracer's origin) and the
  * id of the enclosing span (-1 at top level). The run id is the tracer's.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` just runs its body, so an
  * untraced run pays nothing. `selfNs` accumulates the time the
  * instrumentation spends on its own bookkeeping (the tracing overhead).
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  @volatile var selfNs = 0L

  def now: Long = System.nanoTime() - origin

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, now, -1L, parent)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = now)
      }
    }

  /** Adds a span whose bounds were derived after the fact. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans += Span(spans.size, name, startNs, endNs, stack.headOption.getOrElse(-1))

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def charge[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally selfNs += System.nanoTime() - t0
  }

  def writeJsonl(path: java.nio.file.Path, metrics: Map[String, Double]): Unit = {
    val lines = spans.map { s =>
      Json.obj(
        "run" -> runId,
        "span" -> s.name,
        "id" -> s.id,
        "parent" -> s.parent,
        "start_ms" -> s.startNs / 1e6,
        "end_ms" -> s.endNs / 1e6
      )
    } :+ Json.obj("run" -> runId, "metrics" -> metrics)
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Spark-side counters, fed by a SparkListener and a QueryExecutionListener
  * that the benchmark registers itself. Read through [[snapshot]] after
  * draining the listener bus.
  */
final class SparkCounters(spark: SparkSession, tracer: Tracer) {
  val jobs, stages, tasks, taskMs, shuffleWrite, shuffleRead, spill = new AtomicLong
  val planNs, planNodesMax = new AtomicLong
  private val taskDurations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = tracer.charge(jobs.incrementAndGet())
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = tracer.charge(stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tracer.charge {
      tasks.incrementAndGet()
      val d = e.taskInfo.duration
      taskMs.addAndGet(d)
      taskDurations.synchronized(taskDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += d)
      val m = e.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = tracer.charge(note(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = tracer.charge(note(qe))
  }

  /** Analysis + optimisation + planning time, and the optimised plan size. */
  private def note(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    planNs.addAndGet(phases.map(p => p.durationMs * 1000000L).sum)
    val nodes = qe.optimizedPlan.collect { case p => p }.size.toLong
    planNodesMax.accumulateAndGet(nodes, math.max)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  def drain(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  def snapshot(): Map[String, Long] = {
    drain()
    Map(
      "jobs" -> jobs.get,
      "stages" -> stages.get,
      "tasks" -> tasks.get,
      "task_ms" -> taskMs.get,
      "shuffle_write_bytes" -> shuffleWrite.get,
      "shuffle_read_bytes" -> shuffleRead.get,
      "spill_bytes" -> spill.get,
      "plan_ns" -> planNs.get
    )
  }

  def resetTaskDurations(): Unit = taskDurations.synchronized(taskDurations.clear())

  /** Worst stage since the last reset by longest task over median task
    * (stages of at least two tasks).
    */
  def taskSkew(): Double = {
    drain()
    val perStage = taskDurations.synchronized(taskDurations.values.map(_.toVector).toVector)
    perStage
      .filter(_.size >= 2)
      .map(ds => ds.max.toDouble / math.max(Stats.median(ds.map(_.toDouble)), 1.0))
      .foldLeft(0.0)(math.max)
  }
}

object Heap {

  /** Heap occupancy right after a full collection, in MB. The first
    * collection lets Spark's cleaner drop blocks of datasets that are no
    * longer referenced; the second reclaims what the cleaner released.
    */
  def afterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** IO counters of the timing TableIO, split by snapshot and delta tables. */
final class IoStats {
  var writeCalls, readCalls, bytesWritten = 0L
  var deltaWriteNs, snapshotWriteNs = 0L

  /** Per round: start of its `metrics` write, its first commit, the start
    * of the compaction that follows it and that compaction's commit.
    */
  val metricsWriteStart, firstCommit, compactStart, compactEnd = mutable.Map.empty[Long, Long]

  def resetCounts(): Unit = {
    writeCalls = 0; readCalls = 0; bytesWritten = 0; deltaWriteNs = 0; snapshotWriteNs = 0
  }
}

object TimingTableIO {

  /** Full state tables: written at init and by compaction, never per round. */
  val SnapshotTables = Set("nodes", "edges", "walks", "fetched", "enqueued", "leaks", "visits")
}

/** The bucketed state store with every call timed and counted. Handed to
  * RoundDriver in traced runs, so IO is measured without touching the
  * engine.
  */
final class TimingTableIO(spark: SparkSession, root: String, tracer: Tracer, val stats: IoStats)
    extends BucketedTableIO(spark, root) {
  import TimingTableIO.SnapshotTables

  override def write(round: Long, name: String, df: DataFrame): Unit = {
    val snapshot = SnapshotTables(name)
    val t0 = tracer.now
    if (name == "metrics") stats.metricsWriteStart(round) = t0
    if (snapshot && round > 0 && stats.firstCommit.contains(round) && !stats.compactStart.contains(round))
      stats.compactStart(round) = t0
    tracer.span(s"io.write.$name")(super.write(round, name, df))
    val ns = tracer.now - t0
    if (snapshot) stats.snapshotWriteNs += ns else stats.deltaWriteNs += ns
    stats.writeCalls += 1
    tracer.charge {
      stats.bytesWritten += fs.getContentSummary(new org.apache.hadoop.fs.Path(s"${roundDir(round)}/$name")).getLength
    }
  }

  override def read(round: Long, name: String): DataFrame = {
    stats.readCalls += 1
    tracer.span(s"io.read.$name")(super.read(round, name))
  }

  override def commitRound(round: Long): Unit = {
    tracer.span("io.commit")(super.commitRound(round))
    val t = tracer.now
    if (!stats.firstCommit.contains(round)) stats.firstCommit(round) = t
    else if (stats.compactStart.contains(round)) stats.compactEnd(round) = t
  }

  /** Bytes of all state under the root. */
  def stateBytes(): Long = fs.getContentSummary(new org.apache.hadoop.fs.Path(root)).getLength
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String      => str(s)
    case d: Double      => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int         => n.toString
    case n: Long        => n.toString
    case m: Map[_, _]   => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Seq[_]     => xs.map(value).mkString("[", ",", "]")
    case other          => str(other.toString)
  }

  def obj(kvs: (String, Any)*): String = value(kvs.toMap)
}
