package graft

import graft.queries.{IntervalQ, Relational}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec,
  BroadcastHashJoinExec}
import org.apache.spark.sql.functions._

/** Physical-plan assertions — the scale properties the engine is designed
  * around must be visible in `explain`, not just hoped for:
  * filter/column pushdown into the parquet scan, broadcast hash joins for
  * dimensions, TakeOrderedAndProject for top-k, no cartesian/nested-loop
  * joins anywhere in the registry.
  */
class PlanSpec extends SparkSpec {

  private def plan(q: Q): String =
    q.run(spark, sf("sf0.001")).queryExecution.executedPlan.toString

  test("filters and projection push into the parquet scan (q02)") {
    val p = plan(Relational.q02)
    assert(p.contains("PushedFilters:") &&
      p.contains("IsNotNull(l_shipdate)"), p.take(2000))
    // pruned read schema: only the needed columns reach the scan
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_comment"))
  }

  test("dimension joins are broadcast hash joins (q05, q06)") {
    val p5 = plan(Relational.q05)
    assert(p5.contains("BroadcastHashJoin"), p5.take(1500))
    val p6 = plan(Relational.q06)
    assert(p6.contains("BroadcastHashJoin"))
    assert(!p6.contains("SortMergeJoin"))
  }

  test("global top-k plans as TakeOrderedAndProject (q23)") {
    val p = plan(graft.queries.Stats.q23)
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("no cartesian or broadcast-nested-loop joins in the registry") {
    for (q <- SparkEntry.registry) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"${q.name} plans a CartesianProduct")
      // the deliberate broadcast cross joins (similarity query sets) are
      // tiny broadcast sides; nested-loop with a non-broadcast side is
      // the anti-pattern:
      assert(!p.contains("BroadcastNestedLoopJoin Inner BuildLeft, false") ||
        q.name.startsWith("q3"), s"${q.name} nested-loop join")
    }
  }

  /** The broadcast discipline, made mechanical (registry-wide): a join
    * side that planning-time statistics put under the broadcast
    * threshold must never arrive at a shuffled join through an
    * exchange — Catalyst's JoinSelection broadcasts such sides, so a
    * hit means something forced a shuffle (hint, config, repartition)
    * on a broadcast-able frame. Conversely every nested-loop join's
    * broadcast build side must BE statically tiny — a big build is
    * cartesian-scale exposure. AQE is disabled for the sweep because
    * AdaptiveSparkPlanExec is a leaf that hides the walkable plan; the
    * static plan is what this audit is about. */
  test("no shuffled join side is statically broadcast-able; nested-loop" +
      " builds are tiny (registry sweep)") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val thresh =
      BigInt(spark.sessionState.conf.autoBroadcastJoinThreshold)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- SparkEntry.registry) {
        val exec =
          q.run(spark, sf("sf0.001")).queryExecution.executedPlan
        // the exchange feeding a join side sits directly under it
        // (modulo the SMJ sort); stats come from its logical child
        def shuffledStats(side: SparkPlan): Option[BigInt] = {
          val inner = side match {
            case s: SortExec => s.child
            case p => p
          }
          inner match {
            case e: ShuffleExchangeExec =>
              e.child.logicalLink.map(_.stats.sizeInBytes)
            case _ => None
          }
        }
        exec.foreach {
          case j: SortMergeJoinExec =>
            Seq(j.left, j.right).flatMap(shuffledStats).foreach { sz =>
              assert(sz > thresh,
                s"${q.name}: a $sz-byte side (<= broadcast threshold " +
                  s"$thresh) reaches a SortMergeJoin through a shuffle")
            }
          case j: ShuffledHashJoinExec =>
            Seq(j.left, j.right).flatMap(shuffledStats).foreach { sz =>
              assert(sz > thresh,
                s"${q.name}: a $sz-byte side (<= broadcast threshold " +
                  s"$thresh) reaches a ShuffledHashJoin through a shuffle")
            }
          case j: BroadcastNestedLoopJoinExec =>
            val bcast = j.buildSide match {
              case org.apache.spark.sql.catalyst.optimizer.BuildLeft =>
                j.left
              case _ => j.right
            }
            val sz = bcast.logicalLink.map(_.stats.sizeInBytes)
            assert(sz.forall(_ <= thresh),
              s"${q.name}: nested-loop build side is $sz bytes — " +
                "cartesian-scale exposure")
          case _ =>
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("interval overlap join is an equi join on (chrom, bin), not theta") {
    val p = plan(IntervalQ.q27)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("naive user-written overlap join is auto-rewritten to a binned " +
      "equi join") {
    import spark.implicits._
    val a = Seq(("chr1", 100L, 250L, "a1"), ("chr1", 400L, 500L, "a2"),
      ("chr2", 10L, 900000L, "a3"))
      .toDF("chrom", "start", "end", "id_a")
    val b = Seq(("chr1", 200L, 300L, "b1"), ("chr1", 600L, 700L, "b2"),
      ("chr2", 450000L, 450100L, "b3"), ("chr2", 899999L, 900500L, "b4"))
      .toDF("chrom", "s2", "e2", "id_b")
    val naive = a.join(b, a("chrom") === b("chrom") &&
      a("start") < b("e2") && a("end") > b("s2"))
    val p = naive.queryExecution.executedPlan.toString
    // all rows here are provably narrow (local relations fold the
    // long-row filters at optimize time), so the residual branches
    // collapse away entirely — the plan must be the pure binned join
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"overlap join was not rewritten to an equi join\n${p.take(1500)}")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      p.take(1500))
    assert(p.contains("Generate"), "binning explode missing")
    // identical rows + schema vs the rule disabled (true nested loop),
    // including the multi-bin interval (a3 spans 9 bins; b3/b4 overlap
    // it once each — the one-bin dedup predicate must not duplicate)
    val expected = Seq(("a1", "b1"), ("a3", "b3"), ("a3", "b4"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(naive.columns.toSeq ==
      Seq("chrom", "start", "end", "id_a", "chrom", "s2", "e2", "id_b"))
    assert(pairs(naive) == expected)
    spark.conf.set("spark.graft.overlapJoin.rewrite", "false")
    try {
      // disabled: joins only on the low-cardinality chrom key (the
      // skew-ceiling plan); results must match the rewrite
      val raw = a.join(b, a("chrom") === b("chrom") &&
        a("start") < b("e2") && a("end") > b("s2"))
      assert(!raw.queryExecution.executedPlan.toString.contains("Generate"))
      assert(pairs(raw) == expected)
    } finally spark.conf.set("spark.graft.overlapJoin.rewrite", "true")
    // a chrom-less pure range join is NOT rewritten (no partition-key
    // equality to anchor the overlap shape — two bare inequalities are
    // too weak a signal and their bin ranges are unbounded)
    val pureRange = a.join(b,
      a("start") < b("e2") && a("end") > b("s2"))
    assert(pureRange.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    // a1/b1 + a3 overlaps all four b intervals ignoring chrom
    assert(pureRange.count() == 5)
  }

  test("naive overlap join with sentinel-wide intervals routes through " +
      "the residual branches instead of exploding the bin sequence") {
    import spark.implicits._
    // a2 spans 0 .. 2^62 — unbounded sequence would need 4.6e13 bins
    // (Sequence hard-fails past 2^31 elements); the maxBinsPerRow cap
    // must route it around the explode with identical results
    val a = Seq(("chr1", 100L, 250L, "a1"),
      ("chr1", 0L, Long.MaxValue / 2, "a2"))
      .toDF("chrom", "start", "end", "id_a")
    val b = Seq(("chr1", 200L, 300L, "b1"),
      ("chr1", 0L, Long.MaxValue / 2, "b2"),
      ("chr2", 600L, 700L, "b3"))
      .toDF("chrom", "s2", "e2", "id_b")
    def joined = a.join(b, a("chrom") === b("chrom") &&
      a("start") < b("e2") && a("end") > b("s2"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val expected = Seq(("a1", "b1"), ("a1", "b2"), ("a2", "b1"),
      ("a2", "b2"))
    assert(pairs(joined) == expected)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("Union") && p.contains("Generate"), p.take(2000))
    // cap <= 0 restores the single-branch unbounded rewrite; the wide
    // rows would then explode — only check the PLAN shape, don't run it
    spark.conf.set("spark.graft.overlapJoin.maxBinsPerRow", "0")
    try {
      val p0 = joined.queryExecution.executedPlan.toString
      assert(!p0.contains("Union"), p0.take(2000))
      assert(p0.contains("Generate"), p0.take(2000))
    } finally
      spark.conf.unset("spark.graft.overlapJoin.maxBinsPerRow")
  }

  test("pre-binned joins (Intervals.overlapJoin) are NOT double-binned " +
      "by the rewrite rule") {
    val p = plan(IntervalQ.q27)
    // exactly the explodes overlapJoin itself introduces (one per side);
    // the rule's guard must not add a second layer
    assert(!p.contains("__graft_bin_l"), p.take(1500))
  }

  test("aggregations are partial (map-side combine) before the shuffle") {
    val p = plan(Relational.q01)
    assert(p.contains("HashAggregate") && p.contains("Exchange"))
    // partial_ functions appear in the pre-shuffle aggregate
    assert(p.contains("partial_sum") || p.contains("partial"), p.take(2000))
  }

  test("inverted-index dedup plans have no join at all (q32, q33, q34)") {
    for (q <- Seq(graft.queries.TextQ.q32, graft.queries.TextQ.q33,
        graft.queries.TextQ.q34)) {
      val p = plan(q)
      assert(!p.contains("Join"),
        s"${q.name}: candidate pairs must come from the inverted index, " +
          s"not a self-join\n${p.take(1200)}")
    }
  }

  test("per-query top-k is the bounded-heap aggregate, not a window (q36)") {
    val p = plan(graft.queries.SimilarityQ.q36)
    assert(p.contains("top_k"), p.take(1500))
    assert(!p.contains("Window"), "q36 must not plan a per-query window")
  }

  test("global rank/BH run the zipWithIndex scale path (q19, q40)") {
    for (q <- Seq(graft.queries.Windows.q19, graft.queries.ExtraQ.q40)) {
      val df = q.run(spark, sf("sf0.001"))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // The rank boundary is the pinned single-instance RDD (counts and
      // data read the same shuffle — the zipWithIndex guarantee; a
      // DataFrame-level branch pair can disagree on partition layout
      // when exchange reuse fails and silently drop rows).
      assert(p.contains("Scan ExistingRDD"),
        s"${q.name} should rank via the pinned-RDD zipWithIndex path\n" +
          p.take(1200))
      // and no global-order window anywhere — the scale cliff the
      // distributed rank exists to avoid
      assert(!p.contains("row_number(") && !p.contains("ntile("),
        s"${q.name} must not fall back to a global window rank\n" +
          p.take(1200))
      assert(!p.contains("SinglePartition"),
        s"${q.name} must not move the frame to one partition\n" +
          p.take(1200))
    }
  }

  test("as-of join is union + window — no join operator at all (q43)") {
    val p = plan(graft.queries.EventTimeQ.q43)
    assert(!p.contains("Join"),
      s"as-of must be the single-shuffle union/carry-forward plan\n" +
        p.take(1200))
    assert(p.contains("Window") && p.contains("Union"), p.take(1200))
  }

  test("embedding near-dup verify joins are equi hash joins (q44)") {
    val p = plan(graft.queries.SimilarityQ.q44)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("HashJoin"), p.take(1500))
  }

  test("rollup is a single-shuffle expanded aggregate (q45)") {
    val p = plan(graft.queries.ExtraQ.q45)
    assert(p.contains("Expand") && p.contains("HashAggregate"), p.take(1500))
    assert(p.contains("partial"), "rollup must keep map-side combine")
  }

  test("interp/ecdf lookups plan NO unbounded-following frame (q48, q49)") {
    // A frame with a bounded lower edge and an unbounded FOLLOWING upper
    // edge re-scans to the partition end per ROW — O(partition²); on the
    // 22M-row dye-bias apply this was a multi-minute hang. (Frames
    // spanning the WHOLE partition are fine — computed once.) The
    // sort-merge interpolation (q49) must express the upper bracket as a
    // running frame over the reversed ordering.
    val quadratic =
      ("""specifiedwindowframe\(rowframe, (?!unboundedpreceding)""" +
        """[^,]+, unboundedfollowing""").r
    val p49 = plan(graft.queries.ExtraQ.q49).toLowerCase
    assert(p49.contains("window"), p49.take(2000))
    assert(quadratic.findFirstIn(p49).isEmpty,
      "q49 plans a quadratic unbounded-following frame")
    // The ECDF lookup (q48) has no frame at all: it equi-joins the
    // queries to the background aggregated into one sorted array per
    // group and binary-searches it.
    val p48 = plan(graft.queries.ExtraQ.q48)
    assert(!p48.contains("Window"), p48.take(2000))
    assert(p48.contains("functions=[collect_list(l_extendedprice"),
      p48.take(2000))
    assert(Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
      .exists(j => p48.contains(s"$j [l_returnflag")), p48.take(2000))
  }

  test("semDedup's within-cluster pair stage is an equi join on the " +
      "cluster id (q90)") {
    val p = plan(graft.queries.SimilarityQ.q90)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("bigram LM training aggregate is partial before the shuffle; " +
      "scoring joins are equi joins (q89)") {
    val p = plan(graft.queries.TextQ.q89)
    assert(p.contains("partial_count") || p.contains("partial"),
      p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("BPE encode is shuffle-free row-local string work (q93 encode " +
      "stage)") {
    // encode with a FIXED merge table: the plan must contain no
    // Exchange at all — pure project over the scan
    val docs = spark.read
      .parquet(sf("sf0.001") + "/documents.parquet")
    val enc = graft.operators.TextAnalysis.bpeEncode(docs,
      Seq(("e", "s"), ("es", "t")))
    val p = enc.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(1500))
  }

  test("whole-stage codegen covers the scan→filter→project hot path") {
    // AQE finalizes the physical plan only after THIS df executes
    // (count() would spawn a separate query)
    val df = Relational.q02.run(spark, sf("sf0.001"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n)" prefixes in the finalized AQE plan
    assert(p.contains("isFinalPlan=true") &&
      (p.contains("WholeStageCodegen") || p.contains("*(")), p.take(1500))
  }

  test("q162's energyProfile64 kernel is planned once " +
      "(InferFiltersFromGenerate stays excluded)") {
    // Q.sessionConfigs excludes InferFiltersFromGenerate: with the rule
    // on, the `size(lv) > 0` filter it synthesizes under posexplode is
    // pushed down with lv's alias chain substituted, so the kernel is
    // evaluated a second time below the query's own filters.
    val opt = graft.queries.SimilarityQ.q162.run(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan
    val kernels = opt.collect { case node =>
      node.expressions.map(_.collect {
        case e: graft.functions.Expressions.Kernel
            if e.prettyName == "energy_profile64" => e
      }.size).sum
    }.sum
    assert(kernels == 1, opt.treeString)
  }

  private object aqe extends AdaptiveSparkPlanHelper

  test("applyMask joins the mask side once, as a broadcast hash join") {
    import spark.implicits._
    val sig = Seq(("s1", "cg1"), ("s2", "cg1"), ("s2", "cg2"))
      .toDF("sample_label", "probe_id")
      .select($"sample_label", $"probe_id", lit(1f).as("meth_g"),
        lit(2f).as("meth_r"), lit(3f).as("unmeth_g"),
        lit(4f).as("unmeth_r"), lit(0.5f).as("p_value"))
    val masks = Seq(("g", null: String, "cg1"), ("sc", "s2", "cg2"))
      .toDF("mask_name", "sample_label", "probe_id")
    val df = graft.core.Masks.applyMask(sig, masks)
    df.collect() // finalize the AQE plan
    val p = df.queryExecution.executedPlan
    val joins = aqe.collect(p) { case j: BaseJoinExec => j }
    assert(joins.size == 1, p.toString)
    assert(joins.head.isInstanceOf[BroadcastHashJoinExec], p.toString)
  }
}
