package graft

import scala.util.control.NonFatal

import graft.obs.Trace
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Profiling main (guide §1: decide where the time goes before changing
  * anything). One mode per question:
  *
  *   - `driver [q,…]` — per registered query (all when no list is given)
  *     one warmed, timed pass with its wall split into
  *       - constr: time for the registered fn to RETURN the DataFrame
  *         (eager work inside operators: collects, checkpoints,
  *         convergence loops);
  *       - action: the `.count()` the bench times;
  *       - jobs / jobSec: the query's Spark jobs and the union of their
  *         [start, end] intervals — time the cluster actually ran;
  *       - gap: wall − jobSec — pure driver time (analysis, optimization,
  *         AQE re-planning, job submission latency);
  *       - maxExec: the SQL execution that ran the most of the query's
  *         jobs and how many (`rdd` for RDD-API jobs outside any);
  *       - the counted plan's tracker phases (parse/analysis/optimization/
  *         planning) — the first-plan cost only; AQE re-plans between
  *         stages are not in the tracker and land in `gap`.
  *     SPARK_GRAFT_EXTRA_CONFS="k=v;k2=v2" adds session configs to A/B a
  *     setting against the same table.
  *   - `stages <q> [sf]` — one line per stage of one warmed, timed pass:
  *     stage wall, summed task time, GC, shuffle read/write, input, records
  *     and the first callsite line (which operator issued it); then the
  *     pass's SQL node metrics, so stage CPU maps to a plan node.
  *   - `plan <q…> [--out dir --tag t]` — the formatted physical plan, to
  *     stdout or to `dir/<q>_<t>.txt` (the plan evidence under plans/).
  *   - `audit [q,…]` — the [[WindowAudit.auditPlan]] scale-killer window
  *     hits of each query's executed plan (all queries when no list is
  *     given), a `[windowaudit] >>> q` marker before each query so
  *     WindowExec warnings from eager jobs inside construction correlate
  *     to it, and the count flagged.
  *
  * Queries read SPARK_GRAFT_SF_DIR (default sf0.1); the untimed warmup
  * (codegen/JIT once per query shape, like Bench) reads
  * SPARK_GRAFT_WARM_DIR (default sf0.01) and then registers the timed
  * directory's `Q.t` views, so no timed construction pays a first read.
  *
  *   sbt "runMain graft.Profile driver q122_pq_adc_topk,q71_dmr_endtoend"
  *   sbt "runMain graft.Profile stages q59_poobah_slice /root/testdata/sf0.1"
  *   sbt "runMain graft.Profile plan q59_poobah_slice --out plans/r15 --tag after"
  *   sbt "runMain graft.Profile audit q122_pq_adc_topk"
  */
object Profile {
  private val Usage =
    "usage: Profile driver [q,...] | stages <q> [sf] | " +
      "plan <q...> [--out dir --tag t] | audit [q,...]"

  def main(args: Array[String]): Unit = {
    val cmd = command(args.toSeq,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01"))
    val extra =
      if (args.headOption.contains("driver"))
        sys.env.get("SPARK_GRAFT_EXTRA_CONFS").toSeq
          .flatMap(_.split(";")).filter(_.contains("="))
          .map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
      else Map.empty[String, String]
    val spark = Session.local(Session.cpus, extra)
    try cmd(spark) finally spark.stop()
  }

  /** The mode `args` names, bound to its arguments; throws on a malformed
    * command line before any session exists. */
  def command(args: Seq[String], sfDir: String, warmDir: String)
      : SparkSession => Unit = args match {
    case Seq("driver", list @ _*) if list.size <= 1 =>
      driver(_, registered(list), sfDir, warmDir)
    case Seq("stages", name, dir @ _*) if dir.size <= 1 =>
      stages(_, name, dir.headOption.getOrElse(sfDir), warmDir)
    case Seq("plan", rest @ _*) =>
      val (names, flags) = rest.span(!_.startsWith("--"))
      require(names.nonEmpty && flags.size % 2 == 0, Usage)
      val opts = flags.grouped(2).map(p => p(0) -> p(1)).toMap
      require(opts.keySet.subsetOf(Set("--out", "--tag")), Usage)
      plan(_, names, sfDir, opts.get("--out"), opts.get("--tag"))
    case Seq("audit", list @ _*) if list.size <= 1 =>
      audit(_, registered(list), sfDir)
    case _ => throw new IllegalArgumentException(Usage)
  }

  /** The registered queries an optional comma list names, sorted; all of
    * them when there is no list. */
  private def registered(list: Seq[String]): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => list.forall(_.split(",").map(_.trim).contains(n)))

  /** Runs `names` once, untimed, at `warmDir` (codegen/JIT once per
    * query shape), registers the `Q.t` view of every table in `sfDir`,
    * then runs `f` with a trace attached. */
  private def traced(spark: SparkSession, names: Seq[String],
      warmDir: String, sfDir: String)(f: Trace => Unit): Unit = {
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, warmDir).count()
      catch { case NonFatal(_) => () }
    }
    Option(new java.io.File(sfDir).list()).toSeq.flatten
      .filter(_.endsWith(".parquet"))
      .foreach(f => Q.t(spark, sfDir, f.stripSuffix(".parquet")))
    spark.catalog.clearCache(); System.gc()
    val trace = Trace.attach(spark)
    try f(trace) finally trace.detach()
  }

  private def driver(spark: SparkSession, names: Seq[String],
      sfDir: String, warmDir: String): Unit = {
    import org.apache.spark.sql.catalyst.QueryPlanningTracker._
    traced(spark, names, warmDir, sfDir) { trace =>
      println("query                                   wall  constr  action   jobs  jobSec    gap   parse   analy   optim    plan  maxExec")
      var tWall = 0.0; var tJob = 0.0; var tGap = 0.0; var tConstr = 0.0
      val rows = names.flatMap { name =>
        try {
          val tag = s"profile-$name"
          val t0 = System.nanoTime()
          val df = trace.run(tag)(SparkEntry.queries(name)(spark, sfDir))
          val t1 = System.nanoTime()
          trace.run(tag)(df.count())
          val t2 = System.nanoTime()
          val stats = trace.drain(tag)
          val wall = (t2 - t0) / 1e9
          val constr = (t1 - t0) / 1e9
          val action = (t2 - t1) / 1e9
          val jobSec = stats.jobMs / 1e3
          val gap = wall - jobSec
          val ph = df.queryExecution.tracker.phases
          def p(k: String) = ph.get(k).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
          val maxExec = stats.jobsByExecution.maxByOption(_._2).fold("-") {
            case (id, n) =>
              (if (id == Trace.RddJobs) "rdd" else s"e$id") + s"=$n"
          }
          println(f"$name%-38s ${wall}%6.2f ${constr}%7.2f ${action}%7.2f ${stats.jobs}%6d ${jobSec}%7.2f ${gap}%6.2f ${p(PARSING)}%7.3f ${p(ANALYSIS)}%7.3f ${p(OPTIMIZATION)}%7.3f ${p(PLANNING)}%7.3f  $maxExec%7s")
          tWall += wall; tJob += jobSec; tGap += gap; tConstr += constr
          spark.catalog.clearCache(); System.gc()
          Some((name, wall, gap))
        } catch { case NonFatal(e) =>
          println(s"$name FAILED: ${e.getMessage}"); None
        }
      }
      println(f"TOTAL wall ${tWall}%.1f s  jobSec ${tJob}%.1f s  gap ${tGap}%.1f s  constr ${tConstr}%.1f s  over ${rows.size} queries")
      println("worst gaps:")
      rows.sortBy(-_._3).take(25).foreach { case (n, w, g) =>
        println(f"  $n%-38s gap ${g}%5.2f of wall ${w}%5.2f")
      }
    }
  }

  private def stages(spark: SparkSession, name: String, sfDir: String,
      warmDir: String): Unit = {
    traced(spark, Seq(name), warmDir, sfDir) { trace =>
      val tag = s"profile-$name"
      spark.sparkContext.setJobDescription(s"profile: $name")
      val t0 = System.nanoTime()
      val n = try trace.run(tag)(SparkEntry.queries(name)(spark, sfDir).count())
        finally spark.sparkContext.setJobDescription(null)
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = trace.drain(tag).stages.sortBy(-_.taskMs)
      def mb(b: Long) = b / 1048576.0
      println(f"[profile] $name: $n rows, $sec%.2f s wall, " +
        f"${rows.size} stages, sum stage wall ${rows.map(_.wallMs).sum / 1e3}%.2f s, " +
        f"sum task time ${rows.map(_.taskMs).sum / 1e3}%.2f s")
      rows.take(40).foreach { r =>
        println(f"[stage ${r.id}%4d] wall ${r.wallMs / 1e3}%6.2f s  task ${r.taskMs / 1e3}%7.2f s  " +
          f"gc ${r.gcMs / 1e3}%5.2f s  sr ${mb(r.shuffleReadBytes)}%8.1f MB  sw ${mb(r.shuffleWriteBytes)}%8.1f MB  " +
          f"in ${mb(r.inputBytes)}%8.1f MB  rec ${r.records}%10d  tasks ${r.tasks}%4d  ${r.callsite.take(90)}")
      }
      // per-operator SQL metrics of the timed executions (guide §7.1's SQL
      // tab, read programmatically): one line per plan node with its
      // metrics, so stage CPU maps to a specific operator
      val store = spark.sharedState.statusStore
      store.executionsList().filter(_.description.contains(s"profile: $name"))
        .foreach { e =>
          val metrics = store.executionMetrics(e.executionId)
          println(s"[sql exec ${e.executionId}]")
          store.planGraph(e.executionId).allNodes.foreach { node =>
            val interesting = node.metrics
              .filter(m => metrics.contains(m.accumulatorId))
              .map(m => s"${m.name}=${metrics(m.accumulatorId)
                .replace("\n", " ")}")
            if (interesting.nonEmpty)
              println(s"  [node ${node.id}] ${node.name}: " +
                interesting.mkString(" | "))
          }
        }
    }
  }

  private def plan(spark: SparkSession, names: Seq[String], sfDir: String,
      out: Option[String], tag: Option[String]): Unit = {
    out.foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    names.foreach { name =>
      val text = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      out match {
        case None => println(text)
        case Some(d) =>
          val path = java.nio.file.Paths.get(d,
            name + tag.fold("")("_" + _) + ".txt")
          java.nio.file.Files.writeString(path, text)
          println(s"[profile] wrote $path")
      }
    }
  }

  private def audit(spark: SparkSession, names: Seq[String],
      sfDir: String): Unit = {
    val bad = names.count { name =>
      println(s"[windowaudit] >>> $name"); Console.flush()
      val hits = try WindowAudit.auditPlan(
          SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)
        catch { case NonFatal(e) => println(s"[windowaudit] ERR $name " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}"); Nil }
      if (hits.nonEmpty)
        println(s"[windowaudit] $name :: ${hits.mkString(" | ")}")
      hits.nonEmpty
    }
    println(s"[windowaudit] done ($bad flagged)")
  }
}
