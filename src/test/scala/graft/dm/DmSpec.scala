package graft.dm

import graft.SparkSpec
import org.apache.commons.math3.stat.inference.TTest
import org.apache.spark.sql.functions._

class DmSpec extends SparkSpec {
  import spark.implicits._

  val sheet = Seq(
    Map("sample_id" -> "a1", "grp" -> "CTRL", "age" -> "10"),
    Map("sample_id" -> "a2", "grp" -> "CTRL", "age" -> "20"),
    Map("sample_id" -> "a3", "grp" -> "CTRL", "age" -> "30"),
    Map("sample_id" -> "b1", "grp" -> "CASE", "age" -> "15"),
    Map("sample_id" -> "b2", "grp" -> "CASE", "age" -> "25"),
    Map("sample_id" -> "b3", "grp" -> "CASE", "age" -> "35"))

  test("design matrix: treatment coding with sorted / explicit reference") {
    val d = Dm.designMatrix(sheet, "sample_id", "~ grp")
    assert(d.factorNames == Seq("Intercept", "grp[T.CTRL]")) // CASE ref (sorted)
    val d2 = Dm.designMatrix(sheet, "sample_id", "~ grp",
      Map("grp" -> "CTRL"))
    assert(d2.factorNames == Seq("Intercept", "grp[T.CASE]"))
    assert(d2.rows("b1").toSeq == Seq(1.0, 1.0))
    assert(d2.rows("a1").toSeq == Seq(1.0, 0.0))
    val d3 = Dm.designMatrix(sheet, "sample_id", "~ grp + age")
    assert(d3.factorNames.last == "age")
    assert(d3.rows("a2").last == 20.0)
  }

  test("two-group OLS equals the classic pooled t-test") {
    val ctrl = Seq(0.30, 0.35, 0.40)
    val case_ = Seq(0.60, 0.62, 0.70)
    val betas = (Seq("a1", "a2", "a3").zip(ctrl) ++
      Seq("b1", "b2", "b3").zip(case_))
      .map { case (s, b) => (s, "cg1", b.toFloat) }
      .toDF("sample_label", "probe_id", "beta")
    val design = Dm.designMatrix(sheet, "sample_id", "~ grp",
      Map("grp" -> "CTRL"))
    val dmp = Dm.computeDmp(spark, betas, design).collect().head

    val expectedP = new TTest().homoscedasticTTest(
      ctrl.toArray, case_.toArray)
    val est = dmp.getAs[Double]("grp_T_CASE_estimate")
    assert(math.abs(est - (case_.sum / 3 - ctrl.sum / 3)) < 1e-6)
    assert(math.abs(dmp.getAs[Double]("grp_T_CASE_p_value") - expectedP) < 1e-6)
    // f_pvalue for a single 2-level factor equals the t-test p-value
    assert(math.abs(dmp.getAs[Double]("f_pvalue") - expectedP) < 1e-6)
    // effect size = max(est,0) - min(est,0)
    assert(math.abs(dmp.getAs[Double]("effect_size") - math.abs(est)) < 1e-12)
  }

  test("missing values fall back to per-probe fit; all-NaN probes are NaN") {
    val betas = Seq(
      ("a1", "cg1", Some(0.3f)), ("a2", "cg1", Some(0.35f)),
      ("a3", "cg1", None), ("b1", "cg1", Some(0.6f)),
      ("b2", "cg1", Some(0.62f)), ("b3", "cg1", Some(0.7f)),
      ("a1", "cg2", None), ("a2", "cg2", None), ("a3", "cg2", None),
      ("b1", "cg2", None), ("b2", "cg2", None), ("b3", "cg2", None))
      .toDF("sample_label", "probe_id", "beta")
    val design = Dm.designMatrix(sheet, "sample_id", "~ grp",
      Map("grp" -> "CTRL"))
    val rows = Dm.computeDmp(spark, betas, design)
      .collect().map(r => r.getString(0) -> r).toMap
    val p1 = rows("cg1").getAs[Double]("grp_T_CASE_p_value")
    val expectedP = new TTest().homoscedasticTTest(
      Array(0.3, 0.35), Array(0.6, 0.62, 0.7))
    assert(math.abs(p1 - expectedP) < 1e-6)
    assert(rows("cg2").getAs[Double]("f_pvalue").isNaN)
  }

  test("duplicate (probe_id, sample_label) betas fail loudly on the " +
      "p=2 codegen path, matching the UDF route's map-key exception") {
    val betas = Seq(
      ("a1", "cg1", 0.30f), ("a1", "cg1", 0.31f), // duplicate sample
      ("a2", "cg1", 0.35f), ("a3", "cg1", 0.40f),
      ("b1", "cg1", 0.60f), ("b2", "cg1", 0.62f), ("b3", "cg1", 0.70f))
      .toDF("sample_label", "probe_id", "beta")
    val design = Dm.designMatrix(sheet, "sample_id", "~ grp",
      Map("grp" -> "CTRL")) // p = 2 → codegen fast path
    val ex = intercept[Throwable] {
      Dm.computeDmp(spark, betas, design).collect()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(ex).exists(t =>
      Option(t.getMessage).exists(_.contains("duplicate"))))
  }

  test("BH adjustment matches the textbook monotone formula") {
    val df = Seq(("p1", 0.01), ("p2", 0.04), ("p3", 0.03), ("p4", 0.005))
      .toDF("id", "p")
    val adj = Dm.adjustBH(df, "p", "p_adj")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("p_adj")).toMap
    // sorted: .005(r1) .01(r2) .03(r3) .04(r4); padj = min over suffix p*n/r
    assert(math.abs(adj("p4") - 0.02) < 1e-12)
    assert(math.abs(adj("p1") - 0.02) < 1e-12)
    assert(math.abs(adj("p3") - 0.04) < 1e-12)
    assert(math.abs(adj("p2") - 0.04) < 1e-12)
  }

  test("DMR segmentation: a beta jump splits segments; Stouffer combines") {
    // one chromosome, 8 probes in order; jump between probe 4 and 5
    val probes = (1 to 8).map(i => (s"cg$i", "1", i * 1000L, i * 1000L + 2L))
    val ranges = probes.toDF("probe_id", "chromosome", "start", "end")
    val betasRows = for {
      (pid, _, st, _) <- probes
      s <- Seq("a1", "b1")
    } yield {
      val base = if (st <= 4000) 0.2f else 0.8f
      (s, pid, base + (if (s == "b1") 0.01f else 0f))
    }
    val betas = betasRows.toDF("sample_label", "probe_id", "beta")
    val dmp = probes.map { case (pid, _, _, _) =>
      (pid, 0.01, 0.05) }.toDF("probe_id", "g_p_value", "g_estimate")
    val dmr = Dm.computeDmr(betas, dmp, ranges, Seq("g"),
      distCutoff = Some(0.1))
    val segs = dmr.collect()
    assert(segs.length == 2)
    val seg1 = segs.minBy(_.getAs[Long]("start"))
    assert(seg1.getAs[Long]("start") == 1000L &&
      seg1.getAs[Long]("end") == 4002L)
    assert(seg1.getAs[Long]("n_probes") == 4)
    // Stouffer of 4 × p=0.01: z = Φ⁻¹(0.99), Z = 4z/√4 = 2z
    val z = graft.functions.StatFuncs.normInv(0.99)
    val expected = 1.0 - graft.functions.StatFuncs.normCdf(2 * z)
    assert(math.abs(seg1.getAs[Double]("g_p_value") - expected) < 1e-9)
  }

  test("DMR block windows: output invariant to blockSize (boundary " +
      "stitching exact)") {
    // two chromosomes × 40 probes with several beta jumps, spanning
    // many blocks at blockSize=3000 (≈ 3 probes/block), one block at
    // blockSize=10^9. Identical output proves the first-vec lead
    // stitch, the last-change-point lag stitch, and the running-offset
    // prefixes reproduce the single-window-per-chromosome semantics
    // exactly — including segments that straddle block boundaries.
    // The betas are sparse (cg1_5 lacks b1, b1's cg2_7 is null), and
    // chromosome "0" has ranges but no betas: it sorts first yet takes
    // no chromosome index.
    val probes = for {
      c <- Seq("1", "2"); i <- 1 to 40
    } yield (s"cg${c}_$i", c, i * 1000L, i * 1000L + 2L)
    val unmeasured = (1 to 5).map(i => (s"cg0_$i", "0", i * 1000L,
      i * 1000L + 2L))
    val ranges = (probes ++ unmeasured)
      .toDF("probe_id", "chromosome", "start", "end")
    val betas = (for {
      (pid, c, st, _) <- probes
      s <- Seq("a1", "b1")
      if !(pid == "cg1_5" && s == "b1")
    } yield {
      val jump = (st / 7000L) % 3 // plateaus of ~7 probes
      (s, pid, if (pid == "cg2_7" && s == "b1") None else Some(
        0.1f * jump + (if (s == "b1") 0.01f else 0f) +
          (if (c == "2") 0.05f else 0f)))
    }).toDF("sample_label", "probe_id", "beta")
    val dmp = (probes ++ unmeasured).map { case (pid, _, st, _) =>
      (pid, 0.001 + (st % 13).toDouble / 100.0, 0.05) }
      .toDF("probe_id", "g_p_value", "g_estimate")
    def run(bs: Long) =
      Dm.computeDmr(betas, dmp, ranges, Seq("g"),
          distCutoff = Some(0.005), blockSize = bs)
        .select("segment_id", "chromosome", "start", "end", "n_probes",
          "g_p_value", "g_p_value_adjusted")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4),
          math.round(r.getDouble(5) * 1e12),
          math.round(r.getDouble(6) * 1e12)))
        .sortBy(t => (t._1, t._3)).toSeq
    val many = run(3000L)
    val one = run(1000000000L)
    assert(many.size > 10, s"fixture should split into many segments")
    assert(many == one)
    // segment_id = chromosome index × 10⁹ + running count, the index
    // 1-based over the sorted chromosomes that have betas
    assert(many.map(t => (t._2, t._1 / 1000000000L)).distinct.sorted ==
      Seq(("1", 1L), ("2", 2L)))
    assert(many.map(_._5).sum == probes.size)
  }
}
