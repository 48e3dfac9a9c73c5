package graft.core

import graft.SparkSpec
import graft.core.Schemas.{IdatRow, ManifestRow}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden-value tests for the ingest pivot, betas arithmetic, and mask
  * semantics on a hand-built mini-array (mirrors the reference's
  * golden-probe scheme, tests/test_betas.py:5-16). */
class SignalSpec extends SparkSpec {
  import spark.implicits._

  // manifest: 2×type II, 1×type I G, 1×type I R (masked non-unique),
  // 1 snp (type I G), 1 negative control, 1 norm control
  def manifest: DataFrame = Seq(
    ManifestRow(10, "cg1", "II", null, "cg", Some(10), None, "1", 100, 102, ""),
    ManifestRow(20, "cg2", "II", null, "cg", Some(20), None, "2", 200, 202, ""),
    ManifestRow(30, "cg3", "I", "G", "cg", Some(30), Some(31), "X", 300, 302, ""),
    ManifestRow(31, "cg3", "I", "G", "cg", Some(30), Some(31), "X", 300, 302, ""),
    ManifestRow(40, "cg4", "I", "R", "cg", Some(40), Some(41), "3", 400, 402,
      "M_nonuniq|something"),
    ManifestRow(41, "cg4", "I", "R", "cg", Some(40), Some(41), "3", 400, 402,
      "M_nonuniq|something"),
    ManifestRow(50, "rs1", "I", "G", "snp", Some(50), Some(51), "4", 500, 502, ""),
    ManifestRow(51, "rs1", "I", "G", "snp", Some(50), Some(51), "4", 500, 502, ""),
    ManifestRow(60, "ctl_Negative_1", "II", null, "ctl", Some(60), None, "0", 0, 0, ""),
    ManifestRow(70, "ctl_norm_c_7", "II", null, "ctl", Some(70), None, "0", 0, 0, "")
  ).toDF().dropDuplicates("illumina_id")
    .withColumnRenamed("inf_type", "inf_type")

  // one sample, G/R measurement per address; values chosen distinct
  def idat: DataFrame = {
    val ids = Seq(10, 20, 30, 31, 40, 41, 50, 51, 60, 70)
    val rows = ids.flatMap { id =>
      Seq(IdatRow("s1", "G", id, (id * 10).toFloat, 1f, 5),
        IdatRow("s1", "R", id, (id * 10 + 1).toFloat, 1f, 5))
    } ++ Seq( // low-bead probe for the min-beads path on cg2/sample s2
      IdatRow("s2", "G", 20, 777f, 1f, 1),
      IdatRow("s2", "R", 20, 888f, 1f, 5))
    rows.toDF()
  }

  lazy val signal: DataFrame =
    SignalBuilder.build(idat, manifest, minBeads = 3).cache()

  test("pivot shapes: one row per (sample, probe); structural nulls") {
    val s1 = signal.filter($"sample_label" === "s1")
    assert(s1.count() == 7)
    val cg1 = s1.filter($"probe_id" === "cg1").head()
    // type II: G reading → meth_g, R reading → unmeth_r; others null
    assert(cg1.getAs[Float]("meth_g") == 100f)
    assert(cg1.getAs[Float]("unmeth_r") == 101f)
    assert(cg1.isNullAt(cg1.fieldIndex("meth_r")))
    assert(cg1.isNullAt(cg1.fieldIndex("unmeth_g")))
    val cg3 = s1.filter($"probe_id" === "cg3").head()
    // type I: address B (31) → M cells, address A (30) → U cells
    assert(cg3.getAs[Float]("meth_g") == 310f)
    assert(cg3.getAs[Float]("meth_r") == 311f)
    assert(cg3.getAs[Float]("unmeth_g") == 300f)
    assert(cg3.getAs[Float]("unmeth_r") == 301f)
  }

  test("min-beads nulling + bootstrap mask") {
    val s2cg2 = signal.filter($"sample_label" === "s2" &&
      $"probe_id" === "cg2").head()
    assert(s2cg2.isNullAt(s2cg2.fieldIndex("meth_g"))) // n_beads=1 < 3
    assert(s2cg2.getAs[Float]("unmeth_r") == 888f)
    val mask = SignalBuilder.minBeadsMask(signal, 3).collect()
    assert(mask.exists(r => r.getString(1) == "s2" && r.getString(2) == "cg2"))
  }

  test("betas: β = max(M,1)/max(M+U,2), in-band only by default") {
    val betas = SignalBuilder.calculateBetas(signal)
      .filter($"sample_label" === "s1")
      .collect().map(r => r.getString(1) ->
        Option(r.getAs[Float]("beta"))).toMap
    // cg1 (type II): M=100, U=101 → 100/201
    assert(math.abs(betas("cg1").get - 100f / 201f) < 1e-6)
    // cg3 (type I G in-band): M=310, U=300 → 310/610
    assert(math.abs(betas("cg3").get - 310f / 610f) < 1e-6)
    // cg4 (type I R in-band): M=411, U=401 → 411/812
    assert(math.abs(betas("cg4").get - 411f / 812f) < 1e-6)
  }

  test("betas include_out_of_band sums both channels for type I") {
    val betas = SignalBuilder.calculateBetas(signal, includeOutOfBand = true)
      .filter($"sample_label" === "s1")
      .collect().map(r => r.getString(1) ->
        Option(r.getAs[Float]("beta"))).toMap
    // cg3: M=310+311, U=300+301 → 621/1222
    assert(math.abs(betas("cg3").get - 621f / 1222f) < 1e-6)
  }

  test("m-value round trip") {
    val betas = SignalBuilder.calculateBetas(signal)
    val back = SignalBuilder.mValuesToBetas(
      SignalBuilder.betasToMValues(betas))
    val joined = betas.withColumnRenamed("beta", "b0")
      .join(back, Seq("sample_label", "probe_id"))
      .select(abs($"b0" - $"beta").as("d")).agg(max($"d")).head()
    assert(joined.getFloat(0) < 1e-6)
  }

  test("mask application nulls cells, does not drop rows") {
    val masks = Masks.addMask(
      Masks.maskNonUniqueProbes(signal), // global: cg4 via mask_info
      Seq(("s1_only", "s1", "cg1")).toDF("mask_name", "sample_label",
        "probe_id"))
    val masked = Masks.applyMask(signal, masks)
    assert(masked.count() == signal.count()) // no rows removed
    val cg4 = masked.filter($"probe_id" === "cg4" && $"sample_label" === "s1")
      .head()
    assert(cg4.isNullAt(cg4.fieldIndex("meth_r")))
    val cg1s1 = masked.filter($"probe_id" === "cg1" &&
      $"sample_label" === "s1").head()
    assert(cg1s1.isNullAt(cg1s1.fieldIndex("meth_g")))
    val cg1s2 = masked.filter($"probe_id" === "cg2" &&
      $"sample_label" === "s2").head()
    assert(cg1s2.getAs[Float]("unmeth_r") == 888f) // scope respected
  }

  test("addMask overrides the GLOBAL scope too (null-safe key)") {
    // mask.py:54-69 keys the dict on (name, label) with label=None for
    // global masks — re-adding the same name must REPLACE, not union
    val m1 = Seq(("custom", null: String, "cg1"))
      .toDF("mask_name", "sample_label", "probe_id")
    val m2 = Seq(("custom", null: String, "cg2"))
      .toDF("mask_name", "sample_label", "probe_id")
    val merged = Masks.addMask(m1, m2).collect()
    assert(merged.map(_.getString(2)).toSeq == Seq("cg2"))
    // different name is untouched
    val other = Seq(("other", null: String, "cg3"))
      .toDF("mask_name", "sample_label", "probe_id")
    assert(Masks.addMask(other, m2).count() == 2)
  }

  // ---- mask table queries and applyMask, on hand-built frames ----

  private def maskTable(rows: (String, String, String)*): DataFrame =
    rows.toDF("mask_name", "sample_label", "probe_id")

  /** Signal rows (sample_label, probe_id, channel, mask_info), every one
    * with cells meth_g..p_value = 1, 2, 3, 4, 0.5. */
  private def cells(rows: (String, String, String, String)*): DataFrame =
    rows.map { case (s, p, ch, info) =>
      (s, p, "I", ch, "cg", info, 1f, 2f, 3f, 4f, 0.5f)
    }.toDF("sample_label", "probe_id", "inf_type", "channel", "probe_type",
      "mask_info", "meth_g", "meth_r", "unmeth_g", "unmeth_r", "p_value")

  /** Per row, sorted: (sample_label, probe_id, channel, state), state
    * "masked" (all five cells null), "kept" (cells as [[cells]] wrote
    * them) or "partial". */
  private def cellState(df: DataFrame)
      : Seq[(Option[String], String, String, String)] =
    df.collect().map { r =>
      val vs = Masks.signalCells.map(c =>
        Option(r.getAs[java.lang.Float](c)).map(_.floatValue))
      val state =
        if (vs.forall(_.isEmpty)) "masked"
        else if (vs == Seq(1f, 2f, 3f, 4f, 0.5f).map(Some(_))) "kept"
        else "partial"
      (Option(r.getAs[String]("sample_label")), r.getAs[String]("probe_id"),
        r.getAs[String]("channel"), state)
    }.toSeq.sorted

  private def probes(df: DataFrame): Seq[String] =
    df.as[String].collect().toSeq.sorted

  private def counts(masks: DataFrame): Set[(String, Option[String], Long)] =
    Masks.maskCounts(masks).collect().map(r =>
      (r.getString(0), Option(r.getString(1)), r.getLong(2))).toSet

  test("maskedProbes/maskCounts: a global mask, distinct probes") {
    val masks = maskTable(("g", null, "cg1"), ("g", null, "cg2"),
      ("g", null, "cg2"))
    assert(probes(Masks.maskedProbes(masks, "s1")) == Seq("cg1", "cg2"))
    assert(probes(Masks.maskedProbes(masks, "s9")) == Seq("cg1", "cg2"))
    assert(counts(masks) == Set(("g", None, 2L)))
  }

  test("maskedProbes/maskCounts: a scoped mask counts in its own sample") {
    val masks = maskTable(("g", null, "cg1"), ("sc", "s1", "cg3"),
      ("sc", "s1", "cg1"), ("sc", "s2", "cg4"))
    assert(probes(Masks.maskedProbes(masks, "s1")) == Seq("cg1", "cg3"))
    assert(probes(Masks.maskedProbes(masks, "s2")) == Seq("cg1", "cg4"))
    assert(probes(Masks.maskedProbes(masks, "s9")) == Seq("cg1"))
    assert(counts(masks) ==
      Set(("g", None, 1L), ("sc", Some("s1"), 2L), ("sc", Some("s2"), 1L)))
  }

  test("maskedProbes/maskCounts after an override") {
    val masks = Masks.addMask(
      maskTable(("g", null, "cg1"), ("g", null, "cg2"), ("sc", "s1", "cg3")),
      maskTable(("g", null, "cg4")))
    assert(probes(Masks.maskedProbes(masks, "s1")) == Seq("cg3", "cg4"))
    assert(counts(masks) == Set(("g", None, 1L), ("sc", Some("s1"), 1L)))
    // a scoped mask of the same name is another key: the global one stays
    val scoped = Masks.addMask(masks, maskTable(("g", "s1", "cg5")))
    assert(probes(Masks.maskedProbes(scoped, "s1")) ==
      Seq("cg3", "cg4", "cg5"))
    assert(counts(scoped) == Set(("g", None, 1L), ("g", Some("s1"), 1L),
      ("sc", Some("s1"), 1L)))
  }

  test("applyMask: a probe hit by a global and a scoped mask keeps one row") {
    val sig = cells(("s1", "cg1", "G", ""), ("s2", "cg1", "G", ""),
      ("s1", "cg2", "G", ""))
    val masked = Masks.applyMask(sig, maskTable(("g", null, "cg1"),
      ("sc", "s1", "cg1"), ("sc2", "s1", "cg1")))
    assert(cellState(masked) == Seq(
      (Some("s1"), "cg1", "G", "masked"), (Some("s1"), "cg2", "G", "kept"),
      (Some("s2"), "cg1", "G", "masked")))
    // probe_id, sample_label, then the signal's other columns in order
    assert(masked.columns.toSeq == Seq("probe_id", "sample_label") ++
      sig.columns.filterNot(Set("probe_id", "sample_label")))
  }

  test("applyMask: a scoped mask naming an absent sample masks nothing") {
    val sig = cells(("s1", "cg1", "G", ""), ("s2", "cg1", "G", ""))
    val masked = Masks.applyMask(sig, maskTable(("sc", "s9", "cg1")))
    assert(cellState(masked) == Seq(
      (Some("s1"), "cg1", "G", "kept"), (Some("s2"), "cg1", "G", "kept")))
  }

  test("applyMask: a null-sample_label row is matched by global masks only") {
    val sig = cells((null, "cg1", "G", ""), (null, "cg2", "G", ""),
      ("s1", "cg1", "G", ""))
    val masked = Masks.applyMask(sig,
      maskTable(("sc", "s1", "cg1"), ("g", null, "cg2")))
    assert(cellState(masked) == Seq(
      (None, "cg1", "G", "kept"), (None, "cg2", "G", "masked"),
      (Some("s1"), "cg1", "G", "masked")))
  }

  test("applyMask: maskNameFilter selects masks before they apply") {
    val sig = cells(("s1", "cg1", "G", ""), ("s1", "cg2", "G", ""),
      ("s1", "cg3", "G", ""))
    val masks = maskTable(("poobah_0.05", "s1", "cg1"),
      ("non_unique_probes", null, "cg2"), ("poobah_0.01", null, "cg3"))
    assert(cellState(Masks.applyMask(sig, masks, Some("^poobah"))) == Seq(
      (Some("s1"), "cg1", "G", "masked"), (Some("s1"), "cg2", "G", "kept"),
      (Some("s1"), "cg3", "G", "masked")))
  }

  test("applyMask: a non-unique hit on one row masks every row of the probe") {
    // one probe_id, two rows per sample (channels differ); only the G
    // row's mask_info matches, but the mask is a probe set
    val sig = cells(("s1", "cg_dup", "G", "M_nonuniq"),
      ("s1", "cg_dup", "R", ""), ("s2", "cg_dup", "R", ""),
      ("s1", "cg1", "G", ""))
    val masked = Masks.applyMask(sig, Masks.maskNonUniqueProbes(sig))
    assert(cellState(masked) == Seq(
      (Some("s1"), "cg1", "G", "kept"), (Some("s1"), "cg_dup", "G", "masked"),
      (Some("s1"), "cg_dup", "R", "masked"),
      (Some("s2"), "cg_dup", "R", "masked")))
  }

  test("probe-suffix removal merges duplicates by mean") {
    val betas = Seq(
      ("s1", "cg9_TC12", Some(0.2f)), ("s1", "cg9_BC21", Some(0.4f)),
      ("s1", "cg8", Some(0.5f)))
      .toDF("sample_label", "probe_id", "beta")
    val merged = SignalBuilder.removeProbeSuffixes(betas)
      .collect().map(r => r.getString(1) -> r.getFloat(2)).toMap
    assert(math.abs(merged("cg9") - 0.3f) < 1e-6)
    assert(merged("cg8") == 0.5f)
  }

  test("chromosome normalization") {
    val df = Seq("22_KI270928V1_ALT", "chrX", "7", "MT").toDF("c")
      .select(ChromNorm.chromosomeNumber($"c").as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(22, 98, 7, 100))
  }

  test("array detect thresholds") {
    assert(Schemas.detectArray(1105209) == Schemas.ArrayType.EpicV2)
    assert(Schemas.detectArray(622500) == Schemas.ArrayType.Hm450)
    assert(Schemas.detectArray(55000) == Schemas.ArrayType.Hm27)
    assert(Schemas.detectArray(40000) == Schemas.ArrayType.Mammal40)
  }
}
