package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Profiling/diagnostics companion to the (frozen) [[Bench]] harness — guide
  * §1 "measure first" tooling for the optimization rounds. Never run by the
  * driver; its numbers are cited in OPTIMIZATION_r*.md only.
  *
  * Modes (first CLI arg):
  *   - `profile q34,q43` — run each named query once with a job listener and
  *     print per-job wall times + descriptions (where does the time go: how
  *     many driver actions, which one is slow);
  *   - `explain q34 out.txt` — write the query's `.explain("formatted")`
  *     plan to a file (the plans/r06 artifacts);
  *   - `time q34,q43 [reps]` — plain repeated timing of just those queries
  *     (same action as Bench: `.count()`), median over reps, one line each.
  *
  * Env contract matches Bench: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object BenchExtra {

  private final class JobTimer extends SparkListener {
    case class J(id: Int, start: Long, var end: Long = -1L, desc: String)
    val jobs = scala.collection.mutable.ArrayBuffer.empty[J]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val d = Option(e.properties).map(_.getProperty("spark.job.description")).flatMap(Option(_)).getOrElse("")
      jobs += J(e.jobId, System.nanoTime(), desc = d)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = System.nanoTime())
    }
    def drain(): Seq[(Int, Double, String)] = synchronized {
      val out = jobs.toSeq.map(j => (j.id, if (j.end > 0) (j.end - j.start) / 1e9 else -1.0, j.desc))
      jobs.clear()
      out
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val mode = args.headOption.getOrElse("profile")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/region.parquet").count() // same warm-up as Bench

    def select(spec: String): Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
      val pfx = spec.split(",").map(_.trim).filter(_.nonEmpty)
      SparkEntry.queries.toSeq.filter { case (n, _) => pfx.exists(n.startsWith) }.sortBy(_._1)
    }

    mode match {
      case "profile" =>
        val qs = select(args.lift(1).getOrElse(""))
        val timer = new JobTimer
        spark.sparkContext.addSparkListener(timer)
        qs.foreach { case (name, fn) =>
          timer.drain()
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val total = (System.nanoTime() - t0) / 1e9
          Thread.sleep(200) // let listener events drain
          val jobs = timer.drain()
          println(f"== $name: total $total%.3f s, ${jobs.size} jobs")
          jobs.foreach { case (id, dur, desc) =>
            println(f"   job $id%4d  $dur%8.3f s  $desc")
          }
        }
      case "explain" =>
        val name = args(1)
        val out = args(2)
        val (_, fn) = select(name).headOption.getOrElse(sys.error(s"no query matches $name"))
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(out),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        )
        println(s"wrote $out (${plan.length} chars)")
      case "time" =>
        val qs = select(args.lift(1).getOrElse(""))
        val reps = args.lift(2).map(_.toInt).getOrElse(3)
        val times = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
        (1 to reps).foreach { _ =>
          qs.foreach { case (name, fn) =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            times(name) = times(name) :+ (System.nanoTime() - t0) / 1e9
          }
        }
        qs.foreach { case (name, _) =>
          val xs = times(name)
          println(f"$name%-28s median ${median(xs)}%7.3f s  spread ${xs.max - xs.min}%7.3f s  reps ${xs.mkString("[", ", ", "]")}")
        }
      case other => sys.error(s"unknown mode $other (profile | explain | time)")
    }
    spark.stop()
  }
}
