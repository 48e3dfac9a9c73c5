package graft.obs

import graft.{Q, SparkSpec}
import org.apache.spark.sql.functions.col

/** [[Trace]] attributes by job tag: each tag sees exactly the jobs and
  * task metrics its own body started, whatever ran around it. */
class TraceSpec extends SparkSpec {

  test("two tagged queries around an untagged job are attributed by tag") {
    val trace = Trace.attach(spark)
    try {
      val dir = sf("sf0.001")
      def timed(tag: String)(body: => Unit): Long = {
        val t0 = System.currentTimeMillis()
        trace.run(tag)(body)
        System.currentTimeMillis() - t0
      }
      // scan only: no exchange, so no shuffle bytes
      val scanWall = timed("trace-scan") {
        Q.t(spark, dir, "nation").filter(col("n_regionkey") > 0).collect()
      }
      val sc = spark.sparkContext
      sc.setJobGroup("trace-untagged", "untagged job between the tags")
      try sc.parallelize(1 to 100, 4).count()
      finally sc.clearJobGroup()
      val shuffleWall = timed("trace-shuffle") {
        Q.t(spark, dir, "lineitem").groupBy("l_returnflag").count().collect()
      }
      val scan = trace.drain("trace-scan")
      val shuffle = trace.drain("trace-shuffle")

      assert(scan.jobs > 0 && shuffle.jobs > 0)
      assert((scan.jobIds & shuffle.jobIds).isEmpty)
      // the status store lags the bus; wait (bounded) for its job id
      val deadline = System.currentTimeMillis() + 5000
      var untagged = Set.empty[Int]
      while (untagged.isEmpty && System.currentTimeMillis() < deadline) {
        untagged = sc.statusTracker.getJobIdsForGroup("trace-untagged").toSet
        if (untagged.isEmpty) Thread.sleep(20)
      }
      assert(untagged.nonEmpty)
      assert((untagged & (scan.jobIds ++ shuffle.jobIds)).isEmpty)

      assert(shuffle.shuffleWriteBytes > 0 && shuffle.stages.nonEmpty)
      assert(scan.shuffleWriteBytes == 0)
      assert(scan.jobMs <= scanWall, s"${scan.jobMs} > $scanWall")
      assert(shuffle.jobMs <= shuffleWall, s"${shuffle.jobMs} > $shuffleWall")
    } finally trace.detach()
  }

  test("drain returns within its bound: at once for a tag that ran no " +
      "jobs, at the bound while a tagged job is still running") {
    val trace = Trace.attach(spark)
    try {
      def elapsed[T](f: => T): (T, Long) = {
        val t0 = System.currentTimeMillis()
        val r = f
        (r, System.currentTimeMillis() - t0)
      }
      trace.run("trace-idle")(())
      // a long bound the marker job must cut short
      val (idle, idleMs) = elapsed(trace.drain("trace-idle", maxWaitMs = 30000))
      assert(idleMs < 5000, s"idle drain took $idleMs ms")
      assert(idle.jobs == 0 && idle.jobMs == 0 && idle.stages.isEmpty)

      // the job runs on a thread started inside run(), which inherits
      // the tag; the drain gives up on it at its bound
      val job = trace.run("trace-open") {
        val t = new Thread(() => spark.sparkContext.parallelize(1 to 1, 1)
          .foreach(_ => Thread.sleep(4000)))
        t.start(); t
      }
      val started = System.currentTimeMillis() + 5000
      while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty &&
          System.currentTimeMillis() < started) Thread.sleep(10)
      val (open, openMs) = elapsed(trace.drain("trace-open", maxWaitMs = 1000))
      job.join()
      assert(openMs >= 1000 && openMs < 3500, s"open drain took $openMs ms")
      assert(open.jobs == 1 && open.jobMs == 0)
    } finally trace.detach()
  }

  test("jobs are counted per SQL execution, RDD-API jobs under one key") {
    val trace = Trace.attach(spark)
    try {
      val dir = sf("sf0.001")
      // views registered outside the tag: a first read may run a job
      val lineitem = Q.t(spark, dir, "lineitem")
      val nation = Q.t(spark, dir, "nation")
      trace.run("trace-exec") {
        lineitem.groupBy("l_returnflag").count().collect()
        nation.collect()
        spark.sparkContext.parallelize(1 to 10, 2).count()
        spark.sparkContext.parallelize(1 to 10, 2).count()
      }
      val st = trace.drain("trace-exec")
      assert(st.jobsByExecution.values.sum == st.jobs)
      assert(st.jobsByExecution.get(Trace.RddJobs).contains(2),
        st.jobsByExecution)
      assert((st.jobsByExecution - Trace.RddJobs).size == 2,
        st.jobsByExecution)
    } finally trace.detach()
  }
}
