package graft

import graft.core.{Masks, MergeSamples, Schemas, SignalBuilder}
import graft.dm.Dm
import graft.io.{Idat, SampleSheet, Store}
import graft.prep.{DyeBiasNL, Prep}
import graft.qc.QC
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** User-facing facade mirroring the reference's `Samples` API
  * (pylluminator/samples.py) over the long-format engine tables. Each
  * preprocessing method returns a NEW Samples (immutable plans instead of
  * the reference's in-place mutation, samples.py:940-1607); `cache()`
  * marks materialization points where the reference relied on eager
  * state.
  *
  * Every preprocessing step LAZILY truncates the signal lineage
  * (localCheckpoint(eager = false)): prep operators reference their
  * input from several branches (aggregate side-frames, mask joins, the
  * ECDF/interp unions), so chaining k steps without truncation makes
  * the analyzer re-walk the upstream plan as a PRODUCT of branch
  * factors — measured as minutes of pure CheckAnalysis CPU on a
  * four-step chain. Truncation keeps analysis linear in the number of
  * steps; materialization happens at most once per step, which is how
  * the reference behaves anyway (each pandas step is eager).
  *
  * A pylluminator user's session maps 1:1:
  * {{{
  * val s  = Samples.readSamples(spark, dir, manifest)   // read_samples
  * val s2 = s.inferType1Channel().dyeBiasCorrectionL()
  *           .noobBackgroundCorrection().poobah()
  * val betas = s2.getBetas(applyMask = true)            // get_betas
  * }}}
  */
final case class Samples(
    spark: SparkSession,
    signal: DataFrame,
    masks: DataFrame,
    sheet: Option[DataFrame] = None,
    arrayType: Schemas.ArrayType = Schemas.ArrayType.EpicV2) {

  import Samples.cols

  def sampleLabels: Seq[String] =
    signal.select("sample_label").distinct()
      .collect().map(_.getString(0)).sorted.toSeq

  def cache(): Samples = { signal.cache(); this }

  /** Lineage-truncating wrapper applied by every preprocessing step. */
  private def step(updated: DataFrame): DataFrame =
    updated.localCheckpoint(eager = false)

  // ---- selectors (F1-F10, samples.py:123-414) ----

  def getSignalDf(applyMask: Boolean = true): DataFrame =
    if (applyMask) Masks.applyMask(signal, masks) else signal

  def type1(applyMask: Boolean = true): DataFrame =
    getSignalDf(applyMask).filter(col("inf_type") === "I")

  def type2(applyMask: Boolean = true): DataFrame =
    getSignalDf(applyMask).filter(col("inf_type") === "II")

  def type1Green(applyMask: Boolean = true): DataFrame =
    type1(applyMask).filter(col("channel") === "G")

  def type1Red(applyMask: Boolean = true): DataFrame =
    type1(applyMask).filter(col("channel") === "R")

  /** F5 — methylated column slice (samples.py:290-301 `meth`): every
    * key/descriptor column plus only the methylated measurement cells
    * (the long-schema counterpart of xs('M', level='methylation_state',
    * axis=1)). Pure projection — prunes at the scan. */
  def meth(applyMask: Boolean = true): DataFrame =
    getSignalDf(applyMask).drop("unmeth_g", "unmeth_r")

  /** F5 — unmethylated column slice (samples.py:306-320 `unmeth`). */
  def unmeth(applyMask: Boolean = true): DataFrame =
    getSignalDf(applyMask).drop("meth_g", "meth_r")

  def oob(applyMask: Boolean = true): DataFrame =
    Prep.oobCells(getSignalDf(applyMask))

  def ib(applyMask: Boolean = true): DataFrame =
    Prep.ibCells(getSignalDf(applyMask))

  def cgProbes(applyMask: Boolean = true): DataFrame =
    getSignalDf(applyMask).filter(col("probe_type") === "cg")

  def chProbes(applyMask: Boolean = true): DataFrame =
    getSignalDf(applyMask).filter(col("probe_type") === "ch")

  def snpProbes(applyMask: Boolean = true): DataFrame =
    getSignalDf(applyMask).filter(col("probe_type") === "snp")

  def getProbes(probeIds: Seq[String]): DataFrame =
    signal.filter(col("probe_id").isin(probeIds: _*))

  def controls(pattern: Option[String] = None): DataFrame = {
    val ctl = signal.filter(col("probe_type") === "ctl")
    pattern.map(p => ctl.filter(col("probe_id").rlike("(?i)" + p)))
      .getOrElse(ctl)
  }

  def dropSamples(labels: Seq[String]): Samples =
    copy(signal = signal.filter(!col("sample_label").isin(labels: _*)))

  def subset(labels: Seq[String]): Samples =
    copy(signal = signal.filter(col("sample_label").isin(labels: _*)))

  // ---- masks (M2-M7, samples.py:739-831) ----

  def withMask(newMask: DataFrame): Samples =
    copy(masks = Masks.addMask(masks, newMask))

  def maskProbesByNames(pattern: String, maskName: String): Samples =
    withMask(Masks.maskByNames(signal, pattern, maskName))

  def maskQualityProbes(): Samples =
    withMask(Masks.maskQualityProbes(signal, arrayType))

  def maskNonUniqueProbes(): Samples =
    withMask(Masks.maskNonUniqueProbes(signal))

  def maskControlProbes(): Samples =
    withMask(Masks.maskControlProbes(signal))

  def maskSnpProbes(): Samples = withMask(Masks.maskSnpProbes(signal))

  /** Mirrors samples.py:820-831: controls are masked separately under
    * their own name (so normalization can still reach them), then the
    * non-cg non-ctl probes under 'non_cg_probes'. */
  def maskNonCgProbes(): Samples =
    maskControlProbes().withMask(Masks.maskNonCgProbes(signal))

  def maskXYProbes(manifest: DataFrame): Samples =
    withMask(Masks.maskXYProbes(manifest))

  def resetMasks(): Samples = copy(masks = Masks.empty(spark))

  // ---- preprocessing (L9-L15) ----

  def inferType1Channel(switchFailed: Boolean = false,
      maskFailed: Boolean = false): Samples = {
    val (updated, failed) = Prep.inferType1Channel(signal, switchFailed,
      maskFailed)
    val s2 = copy(signal = step(updated))
    failed.fold(s2)(s2.withMask)
  }

  /** A7 — the summary the reference prints after every
    * infer_type1_channel (samples.py:1010-1011). */
  def channelSwitchSummary(): DataFrame =
    Prep.channelSwitchSummary(signal)

  def dyeBiasCorrection(): Samples =
    copy(signal = step(Prep.dyeBiasCorrection(signal, arrayType)))

  def dyeBiasCorrectionL(): Samples =
    copy(signal = step(Prep.dyeBiasCorrectionL(signal)))

  def dyeBiasCorrectionNL(): Samples = {
    val (corrected, distortionMask) =
      DyeBiasNL.dyeBiasCorrectionNL(spark, signal)
    copy(signal = step(corrected)).withMask(distortionMask)
  }

  def noobBackgroundCorrection(useNegativeControls: Boolean = true,
      offset: Double = 15.0): Samples =
    copy(signal = step(Prep.noobBackgroundCorrection(spark, signal, masks,
      useNegativeControls, offset)))

  def scrubBackgroundCorrection(): Samples =
    copy(signal = step(Prep.scrubBackgroundCorrection(signal)))

  def poobah(useNegativeControls: Boolean = true,
      threshold: Double = 0.05): Samples = {
    val (withP, mask) = Prep.poobah(spark, signal, masks,
      useNegativeControls, threshold)
    copy(signal = step(withP)).withMask(mask)
  }

  // ---- betas & downstream ----

  def getBetas(applyMask: Boolean = true,
      includeOutOfBand: Boolean = false,
      dropNa: Boolean = false): DataFrame = {
    val b = SignalBuilder.calculateBetas(getSignalDf(applyMask),
      includeOutOfBand)
    if (dropNa) b.filter(col("beta").isNotNull) else b
  }

  def getTotalIbIntensity(applyMask: Boolean = true): DataFrame =
    Prep.totalIbIntensity(getSignalDf(applyMask))

  /** L19 — the reference's dimensionality_reduction over this Samples'
    * betas (ml.py:14-86): any of the 14 model keys (see
    * [[graft.ml.Reductions.ModelKeys]]). */
  def dimensionalityReduction(model: String = "PCA",
      nComponents: Int = 2, nProbes: Int = 1000,
      applyMask: Boolean = true): graft.ml.Ml.Reduction =
    graft.ml.Reductions.dimensionalityReduction(
      getBetas(applyMask, dropNa = true), model, nComponents, nProbes)

  def mergeSamplesBy(groupCol: String): Samples = {
    val sheetDf = sheet.getOrElse(
      throw new IllegalStateException("mergeSamplesBy needs a sample sheet"))
    val groups = sheetDf.select(col("sample_id").as("sample_label"),
      col(groupCol).as("group_label"))
    copy(signal = MergeSamples.mergeSignal(signal, groups),
      masks = Masks.empty(spark))
  }

  def detectionRate(threshold: Double = 0.05): DataFrame =
    QC.detectionRate(signal, threshold)

  /** A12/L23 — analyze_replicates (visualizations.py:2069-2131): betas
    * std per probe across the technical replicates grouped by
    * `sampleIdCol` of the sheet, labeled by probe design channel. */
  def analyzeReplicates(sampleIdCol: String,
      applyMask: Boolean = true): DataFrame = {
    val sheetDf = sheet.getOrElse(throw new IllegalStateException(
      "analyzeReplicates needs a sample sheet"))
    QC.replicateStatsByChannel(
      QC.replicateStats(getBetas(applyMask), sheetDf, sampleIdCol,
        sampleLabelCol = "sample_id"),
      signal)
  }

  def save(dir: String): Unit =
    Store.save(dir, signal, masks, betas = None, sheet = sheet)
}

object Samples {
  private[graft] val cols = Masks.signalCells

  /** read_samples (samples.py:1796-1876): sheet (or inference) → idat
    * matching → distributed decode → signal build. `minBeads` nulling and
    * the bootstrap mask included. */
  def readSamples(spark: SparkSession, dataDir: String,
      manifest: DataFrame, minBeads: Int = 1,
      sheetCsv: Option[String] = None): Samples = {
    val files = new java.io.File(dataDir).listFiles()
      .filter(f => f.getName.contains(".idat")).map(_.getAbsolutePath).toSeq
    val sheetDf = sheetCsv.map(SampleSheet.read(spark, _)).getOrElse {
      SampleSheet.inferFromFilenames(spark,
        files.filter(_.contains("Grn")).sorted)
    }
    val sheetRows = sheetDf.collect().map(r =>
      r.schema.fieldNames.map(f =>
        f -> Option(r.getAs[Any](f)).map(_.toString).getOrElse("")).toMap)
      .toSeq
    val matched = SampleSheet.matchIdatFiles(sheetRows, files)
    val idat = Idat.read(spark, matched).toDF()
    val signal = SignalBuilder.build(idat, manifest, minBeads)
    val probeCount = idat.filter(col("signal_channel") === "G")
      .select("illumina_id").distinct().count()
    val samples = Samples(spark, signal, Masks.empty(spark),
      Some(sheetDf), Schemas.detectArray(probeCount))
    samples.withMask(SignalBuilder.minBeadsMask(signal, minBeads))
  }

  /** Load a persisted analysis state (S8). */
  def load(spark: SparkSession, dir: String): Samples =
    Samples(spark, Store.loadSignal(spark, dir), Store.loadMasks(spark, dir),
      scala.util.Try(Store.loadSheet(spark, dir)).toOption)
}
