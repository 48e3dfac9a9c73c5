package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed public-function call. `startMs`/`endMs` share the clock of
  * Spark's job events (epoch ms) so job intervals can be subtracted from
  * the span; `wallS` comes from the monotonic clock. */
final case class Span(name: String, iter: Int, parent: String,
    startMs: Long, endMs: Long, wallS: Double)

/** Spans are always recorded (two clock reads per call), in memory, and
  * written out when the run ends. With `traced`, each span's Spark jobs
  * also carry a job tag naming the span, and [[TagListener]] attributes
  * job intervals and task metrics by that tag, never by time window. */
final class Tracer(sc: SparkContext, traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener: Option[TagListener] =
    if (traced) Some(new TagListener) else None
  listener.foreach(sc.addSparkListener)

  def tagOf(iter: Int, name: String): String = s"pb.$iter.$name"

  def span[T](name: String, iter: Int, parent: String = "iteration")(
      body: => T): T = {
    val tag = tagOf(iter, name)
    if (traced) sc.addJobTag(tag)
    listener.foreach(_.enter(tag))
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      if (traced) sc.removeJobTag(tag)
      listener.foreach(_.enter(null))
      spans += Span(name, iter, parent, ms0, ms1, (t1 - t0) / 1e9)
    }
  }

  def detach(): Unit = listener.foreach(sc.removeSparkListener)
}

/** Per-tag job intervals and task metrics, plus the storage-memory
  * high-water mark while each tag's jobs hold cached blocks. */
final class TagListener extends SparkListener {
  final class Acc {
    @volatile var tasks = 0L
    @volatile var emptyTasks = 0L
    @volatile var cpuNs = 0L
    @volatile var gcMs = 0L
    @volatile var shuffleWrite = 0L
    @volatile var storageHwm = 0L
  }
  final case class Job(id: Int, tag: String, start: Long,
      var end: Long = -1L)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val accs = new ConcurrentHashMap[String, Acc]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  private var storageNow = 0L
  private var activeTag: String = null
  private var storageBase = 0L
  @volatile var lastEventMs = System.currentTimeMillis()

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.job.tags")))
      .flatMap(_.split(",").find(_.startsWith("pb."))).orNull

  private def acc(tag: String): Acc = accs.computeIfAbsent(tag, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventMs = System.currentTimeMillis()
    val tag = tagOf(e.properties)
    if (tag != null) {
      jobs.put(e.jobId, Job(e.jobId, tag, e.time))
      e.stageIds.foreach(s => stageTag.putIfAbsent(s, tag))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    val tag = stageTag.get(e.stageId)
    val m = e.taskMetrics
    if (tag != null && m != null) {
      val a = acc(tag)
      a.synchronized {
        a.tasks += 1
        val read = m.inputMetrics.recordsRead +
          m.shuffleReadMetrics.recordsRead
        if (read == 0) a.emptyTasks += 1
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (!info.blockId.isRDD) return
    synchronized {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val before = blocks.getOrDefault(key, 0L)
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      if (now == 0L) blocks.remove(key) else blocks.put(key, now)
      storageNow += now - before
      if (activeTag != null) {
        val a = acc(activeTag)
        a.storageHwm = math.max(a.storageHwm, storageNow - storageBase)
      }
    }
  }

  /** Called from the driver thread as a span opens (tag) or closes
    * (null): storage growth is measured from the span's start. */
  def enter(tag: String): Unit = synchronized {
    activeTag = tag
    storageBase = storageNow
  }

  /** Wait until every tagged job has ended and the bus has been quiet
    * for a moment, so late task-end events are counted (bounded wait). */
  def drain(maxMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def busy = jobs.values.asScala.exists(_.end < 0) ||
      System.currentTimeMillis() - lastEventMs < 300
    while (busy && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }
}
