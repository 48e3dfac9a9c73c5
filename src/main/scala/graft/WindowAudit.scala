package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec}

/** Plan-audit tool for scale-killer window shapes. Two detectors:
  *
  *   - GLOBAL-WINDOW: `WindowExec` with an empty partitionSpec — all
  *     rows to one task (the single-partition smell WindowExec itself
  *     warns about).
  *   - BCAST-KEY-WINDOW: `WindowExec` whose partition keys ALL
  *     originate from the broadcast side of a join below it. The
  *     partition count is then the BROADCAST side's cardinality (small
  *     by construction — that's why it was broadcast) while the window
  *     input is the big side's scan, so each partition holds an entire
  *     big-side pass: the q122-class shape (per-QUERY window over a
  *     scored corpus) that r7's empty-spec audit missed because the
  *     window *was* partitioned. Bounded-heap top-k aggregation
  *     ([[graft.functions.TopKAgg]]) is the replacement.
  *
  * Plus a `>>> name` marker before each query at WARN log level, so
  * WindowExec warnings from EAGER jobs inside query construction
  * (percentile cutoffs, rank count jobs, iterative fits) — whose plans
  * never appear in the returned frame — correlate to the query that
  * ran them.
  *
  *   sbt "runMain graft.WindowAudit /root/testdata/sf0.001"
  */
object WindowAudit {

  /** ExprIds emitted by broadcast exchanges (incl. AQE stages and
    * reuse) anywhere under `p`. */
  private def broadcastOutputs(p: SparkPlan): Set[Long] = {
    var out = Set.empty[Long]
    def walk(n: SparkPlan): Unit = {
      n match {
        case b: BroadcastExchangeExec =>
          out ++= b.output.map(_.exprId.id)
        case b: BroadcastQueryStageExec =>
          out ++= b.output.map(_.exprId.id)
        case r: ReusedExchangeExec =>
          out ++= r.output.map(_.exprId.id)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _ =>
      }
      n.children.foreach(walk)
    }
    walk(p)
    out
  }

  /** Audit one executed plan; returns human-readable hit strings
    * (empty = clean). Walks AQE-resolved children and subqueries. */
  def auditPlan(plan: SparkPlan): Seq[String] = {
    var hits = List.empty[String]
    def walk(p: SparkPlan): Unit = {
      p match {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          hits ::= "GLOBAL-WINDOW " +
            w.windowExpression.map(_.name).mkString(",")
        case w: WindowExec =>
          val refs = w.partitionSpec
            .flatMap(_.references.map(_.exprId.id)).toSet
          if (refs.nonEmpty && refs.subsetOf(broadcastOutputs(w.child)))
            hits ::= "BCAST-KEY-WINDOW " +
              w.windowExpression.map(_.name).mkString(",") +
              " partitioned by broadcast-side key(s) " +
              w.partitionSpec.map(_.sql).mkString(",")
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    hits.distinct
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val spark = Session.local(Session.cpus)
    var bad = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // The WindowExec warning fires at execution, including eager jobs
      // inside query construction — flush a marker first so pane output
      // correlates warnings to the query that caused them.
      println(s"[windowaudit] >>> $name"); Console.flush()
      try {
        val hits = auditPlan(fn(spark, sfDir).queryExecution.executedPlan)
        if (hits.nonEmpty) {
          bad += 1
          println(s"[windowaudit] $name :: ${hits.mkString(" | ")}")
        }
      } catch {
        case e: Throwable =>
          println(s"[windowaudit] ERR $name ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println(s"[windowaudit] done ($bad flagged)")
    spark.stop()
  }
}
