package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mask table + application (SURVEY.md §2.3; reference mask.py:8-194,
  * samples.py:577-602). A mask is a named set of probe ids, scoped to one
  * sample (`sample_label` set) or all samples (`sample_label` null).
  * Masking NULLS the signal cells — it does not remove rows (M1).
  *
  * The layout is owned here: a mask table is a DataFrame
  * [mask_name, sample_label, probe_id], and every builder in the engine
  * (M2-M6 below, `SignalBuilder.minBeadsMask`, the failed-type-I mask,
  * dye-bias NL, Sesame) writes it through [[of]]. The algebra
  * (add/override, remove, count — mask.py:46-194) is plain relational
  * ops. [[applyMask]] collapses the table to one row per probe and
  * broadcast-joins it to the signal ONCE.
  *
  * A mask is a probe set, not a row predicate: one matching row masks
  * every row of its probe_id, in every sample for a global mask.
  * `SignalBuilder.build` keys rows by (sample, probe_id, inf_type,
  * channel, probe_type), so one probe_id can carry two rows and a
  * predicate on the row's own columns (say, `mask_info`) may match only
  * one of them. A `Column` form of the builders would leave the other
  * row unmasked, and closing it over the probe_id across samples needs
  * the shuffle by probe_id the join already avoids.
  */
object Masks {

  val signalCells = Seq("meth_g", "meth_r", "unmeth_g", "unmeth_r", "p_value")

  def empty(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("mask_name", StringType),
        StructField("sample_label", StringType),
        StructField("probe_id", StringType))))
  }

  /** Add a mask, overriding any existing (mask_name, sample_label) scope
    * (mask.py:54-69: `masks[(name, label)] = mask` — a dict PUT, so the
    * same key replaces, INCLUDING the global scope where label is None).
    * The anti-join must therefore be null-safe on sample_label: a plain
    * equi-key never matches NULL = NULL and would silently keep the old
    * global set alongside the new one. */
  def addMask(masks: DataFrame, newMask: DataFrame): DataFrame = {
    val keyed = newMask.select("mask_name", "sample_label", "probe_id")
    val keys = keyed
      .select(col("mask_name").as("k_name"),
        col("sample_label").as("k_label"))
      .distinct()
    masks.join(keys,
      col("mask_name") === col("k_name") &&
        col("sample_label") <=> col("k_label"), "left_anti")
      .unionByName(keyed)
  }

  /** Remove masks by name and/or sample scope (mask.py:137-165). */
  def removeMask(masks: DataFrame, maskName: Option[String] = None,
      sampleLabel: Option[String] = None): DataFrame = {
    val byName: Column = maskName.map(col("mask_name") === _).getOrElse(lit(true))
    val byScope: Column = sampleLabel
      .map(s => col("sample_label").isNull || col("sample_label") === s)
      .getOrElse(lit(true))
    masks.filter(!(byName && byScope))
  }

  /** Distinct masked probes for a sample: global masks ∪ its own
    * (mask.py:94-102). */
  def maskedProbes(masks: DataFrame, sampleLabel: String): DataFrame =
    masks.filter(col("sample_label").isNull ||
      col("sample_label") === sampleLabel)
      .select("probe_id").distinct()

  /** Number of masked probes per sample scope (mask.py:117-131). */
  def maskCounts(masks: DataFrame): DataFrame =
    masks.groupBy("mask_name", "sample_label")
      .agg(countDistinct("probe_id").as("n_probes"))

  /** The one constructor of a mask: `rows` carries `probe_id`, plus
    * `sample_label` when the mask is sample-scoped; without it the mask
    * is global (null label). Rows pass through as given — a builder that
    * wants a probe set takes its own `distinct`. */
  def of(name: String, rows: DataFrame): DataFrame = {
    val label =
      if (rows.columns.contains("sample_label")) col("sample_label")
      else lit(null)
    rows.select(lit(name).as("mask_name"),
      label.cast("string").as("sample_label"), col("probe_id"))
  }

  /** M1 — apply masks to the long signal table: null the signal cells of
    * (probe, sample) pairs hit by a global or sample-scoped mask
    * (samples.py:592-600). The (name-filtered) table collapses to one
    * row per probe — any global hit, the set of scoped labels — and is
    * broadcast-joined on probe_id once, so no row is added or removed.
    * A signal row with a null sample_label is matched by global masks
    * only. Columns come out as probe_id, sample_label, then the rest of
    * the signal's in order. */
  def applyMask(signal: DataFrame, masks: DataFrame,
      maskNameFilter: Option[String] = None): DataFrame = {
    val mm = maskNameFilter.map(p => masks.filter(col("mask_name").rlike(p)))
      .getOrElse(masks)
    val perProbe = mm.groupBy("probe_id").agg(
      max(col("sample_label").isNull).as("_m_global"),
      collect_set("sample_label").as("_m_labels"))
    val isMasked = coalesce(col("_m_global") ||
      array_contains(col("_m_labels"), col("sample_label")), lit(false))
    val keys = Seq("probe_id", "sample_label")
    signal.join(broadcast(perProbe), Seq("probe_id"), "left")
      .select((keys ++ signal.columns.filterNot(keys.contains)).map { c =>
        if (signalCells.contains(c))
          when(isMasked, lit(null).cast("float")).otherwise(col(c)).as(c)
        else col(c)
      }: _*)
  }

  // ---- Mask builders (M2-M6) ----

  /** M2 — probes whose manifest mask_info matches a regex
    * (samples.py:739-768: `str.contains` regex search). */
  def maskByNames(signal: DataFrame, namePattern: String,
      maskName: String, sampleLabel: Option[String] = None): DataFrame = {
    val probes = signal.filter(col("mask_info").rlike(namePattern))
      .select("probe_id").distinct()
    of(maskName,
      sampleLabel.fold(probes)(l => probes.withColumn("sample_label", lit(l))))
  }

  /** M3 — Sesame quality / non-unique masks (annotations.py:312-340). */
  def maskQualityProbes(signal: DataFrame,
      arrayType: Schemas.ArrayType): DataFrame =
    maskByNames(signal, Schemas.qualityMaskNames(arrayType), "quality_probes")

  def maskNonUniqueProbes(signal: DataFrame): DataFrame =
    maskByNames(signal, Schemas.nonUniqueMaskNames, "non_unique_probes")

  /** Global mask of the distinct probes of `df` matching `cond`. */
  private def probeSet(name: String, df: DataFrame, cond: Column): DataFrame =
    of(name, df.filter(cond).select("probe_id").distinct())

  /** M4 — semi-join masks against the manifest: XY chromosome, controls,
    * snps, non-cg (samples.py:787-831). `manifest` carries chromosome. */
  def maskXYProbes(manifest: DataFrame): DataFrame =
    probeSet("xy_probes", manifest,
      ChromNorm.mergeAltChromosomes(col("chromosome")).isin("X", "Y"))

  def maskControlProbes(signal: DataFrame): DataFrame =
    probeSet("control_probes", signal, col("probe_type") === "ctl")

  def maskSnpProbes(signal: DataFrame): DataFrame =
    probeSet("snp_probes", signal, col("probe_type") === "snp")

  /** Non-CpG mask EXCLUDES controls (samples.py:827-831: the reference
    * masks them separately under 'Control' so normalization can still
    * reach them — callers mirror that by adding [[maskControlProbes]]
    * alongside, as `Samples.maskNonCgProbes` does). */
  def maskNonCgProbes(signal: DataFrame): DataFrame =
    probeSet("non_cg_probes", signal, !col("probe_type").isin("cg", "ctl"))

  /** M6 — pOOBAH mask: p_value ≥ threshold (samples.py:1603-1607). */
  def maskPoobah(signal: DataFrame, threshold: Double): DataFrame =
    of(s"poobah_$threshold", signal.filter(col("p_value") >= threshold)
      .select("sample_label", "probe_id"))
}
