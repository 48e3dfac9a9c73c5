package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Observations of one iteration, read after its timed part. */
final case class Outcome(observe: () => Map[String, Any])

/** One closed-loop client: `iteration` runs the whole workload once,
  * opening a [[Tracer]] span around every public-function call it times. */
trait Workload {
  /** Untimed iterations in one set-up. */
  def warmups: Int
  /** Set-ups per run, each in a fresh session; `setup_s` is their median. */
  def setups: Int
  def iteration(spark: SparkSession, tr: Tracer, it: Int): Outcome
}

/** Benchmark harness, launched by `perfbench/run.py`:
  *
  * {{{
  * perfbench.Main <workload> <inputDir> <workDir> <seconds> <traced 0|1>
  *   <cpus> <out.json>
  * }}}
  *
  * Set-up is session creation plus the workload's untimed warm-up
  * iterations on the same input. It is made [[Workload.setups]] times,
  * each in a fresh session of the same JVM (the first is the JVM's cold
  * start); the last session stays for the timed loop. It runs at least
  * one iteration, and starts another only while the previous one's cycle
  * (calls, checks, clean-up) would still end within `seconds`, so the
  * iteration count does not flip with a small change in speed near the
  * deadline. Each iteration ends with the cache cleared and an explicit
  * GC, after which the heap in use is recorded. Everything measured is
  * written to `out.json` for run.py to reduce. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, seconds, traced, cpus, out) = args
    val work: Workload = workload match {
      case "methyl_cohort" => new MethylCohort(inputDir)
      case "registry_small" => new RegistrySmall(inputDir)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    var spark: SparkSession = null
    val setups = (1 to work.setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus.toInt, workDir)
      val warm = new Tracer(spark.sparkContext, traced = false)
      for (k <- 1 to work.warmups) {
        work.iteration(spark, warm, -k)
        release(spark)
      }
      (System.nanoTime() - t0) / 1e9
    }

    val tracer = new Tracer(spark.sparkContext, traced == "1")
    val iterations = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted, failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileMs0 = compileMillis()
    val gc0 = gcMillis()
    val deadline = System.nanoTime() + (seconds.toDouble * 1e9).toLong
    var it = 0
    var cycleNs = 0L
    while (it == 0 || System.nanoTime() + cycleNs <= deadline) {
      val spans0 = tracer.spans.size
      // the iteration is timed twice: its wall on the monotonic clock,
      // and its bounds on the epoch clock the spans and Spark's job
      // events share; the observation step for the output checks comes
      // after and is not timed
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (wallS, ms1, obs, err) = once(work, spark, tracer, it, t0)
      val callSpans = tracer.spans.drop(spans0)
      release(spark)
      attempted += math.max(1, callSpans.size)
      err.foreach { e =>
        failed += 1
        errors += s"iteration $it: $e"
      }
      iterations += Map("iter" -> it, "wall_s" -> wallS, "start_ms" -> ms0,
        "end_ms" -> ms1, "heap_mb" -> heapMbAfterGc(), "observed" -> obs)
      cycleNs = System.nanoTime() - t0
      it += 1
    }
    val gcTotal = gcMillis() - gc0
    val codegen = Map(
      "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount -
        compiles0),
      "compile_s" -> (compileMillis() - compileMs0) / 1e3)

    val trace = tracer.listener.map { l =>
      l.drain()
      Map(
        "jobs" -> l.jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
          Map("id" -> j.id, "tag" -> j.tag, "start_ms" -> j.start,
            "end_ms" -> j.end)),
        "tags" -> l.accs.asScala.toSeq.sortBy(_._1).map { case (t, a) =>
          t -> Map("tasks" -> a.tasks, "empty_tasks" -> a.emptyTasks,
            "cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
            "shuffle_mb" -> a.shuffleWrite / 1048576.0,
            "storage_mb" -> a.storageHwm / 1048576.0)
        }.toMap)
    }
    tracer.detach()
    val result = Map(
      "workload" -> workload, "setups_s" -> setups,
      "iterations" -> iterations.toSeq,
      "spans" -> tracer.spans.toSeq.map(spanJson),
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "gc_s" -> gcTotal / 1e3, "codegen" -> codegen,
      "trace" -> trace.orNull)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      Json.write(result).getBytes("UTF-8"))
    spark.stop()
  }

  /** One iteration and its checks: the iteration's wall since `t0` (s),
    * its end on the epoch clock, the observations and any failure. The
    * outcome, which may hold collected rows, does not outlive this call,
    * so the heap measured after the iteration does not count them. */
  private def once(work: Workload, spark: SparkSession, tr: Tracer, it: Int,
      t0: Long): (Double, Long, Map[String, Any], Option[Throwable]) = {
    val called = attempt(work.iteration(spark, tr, it))
    val wallS = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    called.flatMap(o => attempt(o.observe())) match {
      case Right(m) => (wallS, ms1, m, None)
      case Left(e) => (wallS, ms1, Map.empty[String, Any], Some(e))
    }
  }

  /** A failed call or check counts as a failed operation, whatever it
    * throws, and the run goes on. */
  private def attempt[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case e: Throwable => Left(e) }

  private def spanJson(s: Span): Map[String, Any] = Map("name" -> s.name,
    "iter" -> s.iter, "parent" -> s.parent, "start_ms" -> s.startMs,
    "end_ms" -> s.endMs, "wall_s" -> s.wallS)

  /** The session every graft entry point builds: `local[cpus]`, one
    * shuffle partition per core, the UI off, plus `graft.Q.sessionConfigs`.
    * Scratch space stays under the work directory. */
  def session(cpus: Int, workDir: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    graft.Q.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drop every cached and checkpointed block between iterations. */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(
      _.unpersist(blocking = true))
  }

  /** Heap in use after a full GC. A second GC after a pause collects what
    * Spark's ContextCleaner released in response to the first. */
  private def heapMbAfterGc(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Janino compile time so far: the histogram keeps a sample, so the
    * total is its count times its mean (ms). */
  private def compileMillis(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }
}

/** Input generation for `registry_small`, in a JVM of its own so that the
  * measuring JVM starts equally cold whether or not the input was cached:
  *
  * {{{
  * perfbench.Perturb <baseDir> <outDir> <seed> <workDir> <cpus>
  * }}}
  *
  * writes `graft.SeedPerturb.generate(baseDir, seed)` into `outDir`. */
object Perturb {
  def main(args: Array[String]): Unit = {
    val Array(baseDir, outDir, seed, workDir, cpus) = args
    val spark = Main.session(cpus.toInt, workDir)
    graft.SeedPerturb.generate(spark, baseDir, outDir, seed.toInt)
    spark.stop()
  }
}
