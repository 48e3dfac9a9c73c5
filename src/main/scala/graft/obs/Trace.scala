package graft.obs

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** One completed stage attempt of a traced job. `callsite` is the first
  * line of the stage name (`count at Foo.scala:12`), which maps the
  * stage back to the operator that issued it. */
final case class StageRow(id: Int, wallMs: Long, taskMs: Long, gcMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, inputBytes: Long,
    records: Long, tasks: Int, callsite: String)

/** What the jobs run under one tag did. `jobMs` is the union of their
  * [start, end] intervals (concurrent jobs count once); the task metrics
  * sum every task of the tag's stages; `storageHwmBytes` is the largest
  * storage memory in use seen at one of those tasks' ends.
  * `jobsByExecution` counts the jobs per `spark.sql.execution.id`, the
  * jobs of RDD-API actions (no SQL execution) under [[Trace.RddJobs]]. */
final case class TagStats(jobIds: Set[Int], jobMs: Long, cpuNs: Long,
    gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, storageHwmBytes: Long, stages: Vector[StageRow],
    jobsByExecution: Map[Long, Int]) {
  def jobs: Int = jobIds.size
}

/** Attributes Spark's job, stage and task events to the job tag they
  * ran under: `run(tag)(body)` tags every job `body` starts, and
  * `drain(tag)` returns the tag's totals once its events have arrived.
  * Attribution is by tag, never by time window, so another tag's
  * straggling events cannot leak into a tag's numbers. */
final class Trace private (sc: SparkContext) extends SparkListener {
  private final class Acc {
    val jobIds = mutable.Set.empty[Int]
    var open = 0
    val spans = mutable.ArrayBuffer.empty[(Long, Long)]
    var cpuNs, gcMs, shuffleRead, shuffleWrite, spill, storageHwm = 0L
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val byExecution = mutable.Map.empty[Long, Int].withDefaultValue(0)
    def stats = TagStats(jobIds.toSet, Trace.unionMs(spans.toSeq), cpuNs,
      gcMs, shuffleRead, shuffleWrite, spill, storageHwm, stages.toVector,
      byExecution.toMap)
  }

  // guarded by `this`: the listener bus delivers on one thread, callers
  // read from another
  private val tags = mutable.Map.empty[String, Acc]
  private val openJobs = mutable.Map.empty[Int, (Seq[Acc], Long)]
  private val stageTags = mutable.Map.empty[Int, Seq[Acc]]
  private var lastJobSeen = -1

  def run[T](tag: String)(body: => T): T = {
    synchronized(tags.getOrElseUpdate(tag, new Acc))
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  /** The tag's totals once every job started under it has ended, waiting
    * at most `maxWaitMs` and then returning what has arrived.
    *
    * The bus is asynchronous, so "no open job" alone could hold before a
    * job's start event has even been delivered. Spark posts a job's
    * start, task and end events before the action that ran it returns,
    * numbers jobs in submission order, and the bus keeps posting order;
    * so once any job numbered at or above a marker job submitted here
    * (zero partitions: its events are posted at submission, no task
    * runs) has been seen, everything `run` already did has arrived. */
  def drain(tag: String, maxWaitMs: Long = 5000L): TagStats = {
    val marker = sc.emptyRDD[Unit].countAsync().jobIds.head
    val deadline = System.currentTimeMillis() + maxWaitMs
    synchronized {
      def settled = lastJobSeen >= marker && tags.get(tag).forall(_.open == 0)
      var left = maxWaitMs
      while (!settled && left > 0) {
        wait(left)
        left = deadline - System.currentTimeMillis()
      }
      tags.getOrElse(tag, new Acc).stats
    }
  }

  def detach(): Unit = sc.removeSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastJobSeen = math.max(lastJobSeen, e.jobId)
    notifyAll()
    def prop(k: String) = Option(e.properties).flatMap(p =>
      Option(p.getProperty(k)))
    val accs = prop("spark.job.tags")
      .fold(Seq.empty[Acc])(_.split(",").toSeq.flatMap(tags.get))
    if (accs.nonEmpty) {
      openJobs(e.jobId) = (accs, e.time)
      val exec = prop(SQLExecution.EXECUTION_ID_KEY)
        .fold(Trace.RddJobs)(_.toLong)
      accs.foreach { a =>
        a.jobIds += e.jobId; a.open += 1; a.byExecution(exec) += 1
      }
      // a stage shared with an earlier job stays with that job's tags
      e.stageIds.foreach(s => if (!stageTags.contains(s)) stageTags(s) = accs)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (accs, start) =>
      accs.foreach { a => a.open -= 1; a.spans += ((start, e.time)) }
      notifyAll()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    synchronized(stageTags.get(e.stageId)).foreach { accs =>
      // storage memory in use across block managers (local mode: one
      // entry); asked outside the lock, it is a block-manager round trip
      val used = sc.getExecutorMemoryStatus.valuesIterator
        .map { case (max, free) => max - free }.sum
      val m = e.taskMetrics
      synchronized {
        accs.foreach { a =>
          a.storageHwm = math.max(a.storageHwm, used)
          if (m != null) {
            a.cpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      stageTags.get(si.stageId).foreach { accs =>
        val m = si.taskMetrics
        val wall = (for (c <- si.completionTime; s <- si.submissionTime)
          yield c - s).getOrElse(0L)
        val row = StageRow(si.stageId, wall, m.executorRunTime,
          m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, si.numTasks,
          si.name.linesIterator.nextOption().getOrElse(""))
        accs.foreach(_.stages += row)
      }
    }
}

object Trace {
  /** The [[TagStats.jobsByExecution]] key of jobs outside any SQL
    * execution (RDD-API actions such as `Ranks`' eager scans). */
  val RddJobs: Long = -1L

  /** A trace of `spark`'s jobs from now on. */
  def attach(spark: SparkSession): Trace = {
    val t = new Trace(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Length of the union of [start, end] intervals. */
  private def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }
}
