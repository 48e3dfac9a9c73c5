package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ingest pipeline: raw IDAT rows × manifest → the long signal table
  * (reference `Samples.add_annotation_info`, pylluminator/samples.py:468-570).
  *
  * Plan shape (scale-first):
  *   1. min-beads nulling is a `when` at scan time (samples.py:494);
  *   2. the manifest join is a BROADCAST hash join on illumina_id
  *      (manifest ≤ 1.1M rows; samples.py:525-528) — the fact side never
  *      shuffles for the join;
  *   3. methylation-state derivation (samples.py:538-542) is a `when`
  *      chain;
  *   4. the pivot to one-row-per-(sample, probe) is conditional
  *      aggregation (max-of-when), one partial-agg shuffle keyed on
  *      (sample_label, probe_id) — the only shuffle in the ingest.
  */
object SignalBuilder {

  /** Explode the manifest to one row per illumina address, tagging which
    * address (A/B) it is — the join key side (samples.py:525-528). */
  def manifestByAddress(manifest: DataFrame): DataFrame = {
    val base = manifest.select(
      col("probe_id"), col("inf_type"), col("channel"), col("probe_type"),
      col("mask_info"), col("address_a"), col("address_b"))
    val a = base.filter(col("address_a").isNotNull)
      .withColumn("illumina_id", col("address_a"))
      .withColumn("which_address", lit("A"))
    val b = base.filter(col("address_b").isNotNull)
      .withColumn("illumina_id", col("address_b"))
      .withColumn("which_address", lit("B"))
    a.unionByName(b).drop("address_a", "address_b")
  }

  /** Build the long signal table from decoded idat rows
    * [sample_label, signal_channel, illumina_id, mean_value, n_beads].
    *
    * Methylation-state semantics (samples.py:538-542):
    * type II: G→M, R→U (single address A);
    * type I: address B→M, address A→U (both channels measured).
    * Probes with unknown state are dropped (samples.py:546-549); probes
    * absent from the manifest are lost in the inner join (samples.py:532).
    */
  def build(idat: DataFrame, manifest: DataFrame,
      minBeads: Int = 1): DataFrame = {
    val cleaned = idat.withColumn("mean_value",
      when(col("n_beads") < minBeads, lit(null).cast("float"))
        .otherwise(col("mean_value")))

    val joined = cleaned.join(broadcast(manifestByAddress(manifest)),
      "illumina_id", "inner")

    val state = when(col("inf_type") === "II",
      when(col("signal_channel") === "G", "M")
        .when(col("signal_channel") === "R", "U"))
      .when(col("inf_type") === "I",
        when(col("which_address") === "B", "M")
          .when(col("which_address") === "A", "U"))

    val withState = joined.withColumn("methylation_state", state)
      .filter(col("methylation_state").isNotNull)

    // Pivot (signal_channel × methylation_state) → 4 columns, via
    // conditional aggregation (the fast pattern; samples.py:554).
    def cell(sc: String, ms: String): Column =
      max(when(col("signal_channel") === sc &&
        col("methylation_state") === ms, col("mean_value")))

    withState
      .groupBy(col("sample_label"), col("probe_id"), col("inf_type"),
        col("channel"), col("probe_type"))
      .agg(
        first(coalesce(col("mask_info"), lit(""))).as("mask_info"),
        cell("G", "M").as("meth_g"),
        cell("R", "M").as("meth_r"),
        cell("G", "U").as("unmeth_g"),
        cell("R", "U").as("unmeth_r"))
      .withColumn("p_value", lit(null).cast("float"))
  }

  /** The bootstrap min-beads mask (samples.py:568-570): per sample, probes
    * whose (G,M) or (R,U) cell is null. */
  def minBeadsMask(signal: DataFrame, minBeads: Int): DataFrame =
    Masks.of(s"min_beads_$minBeads",
      signal.filter(col("meth_g").isNull || col("unmeth_r").isNull))

  // -------------------- derived matrices --------------------

  /** L16 — beta values: β = max(M,1) / max(M+U,2) with type-II structural
    * zeros filled and optional out-of-band inclusion
    * (samples.py:1074-1108). Returns [sample_label, probe_id, beta]. */
  def calculateBetas(signal: DataFrame,
      includeOutOfBand: Boolean = false): DataFrame = {
    def z(c: Column): Column = coalesce(c, lit(0f))
    // Type II: only meth_g / unmeth_r carry signal (structural nulls → 0).
    // Type I in-band only (unless includeOutOfBand): zero the off-channel.
    val mg = when(col("inf_type") === "II", z(col("meth_g")))
      .otherwise(if (includeOutOfBand) z(col("meth_g"))
      else when(col("channel") === "G", z(col("meth_g"))).otherwise(lit(0f)))
    val mr = when(col("inf_type") === "II", lit(0f))
      .otherwise(if (includeOutOfBand) z(col("meth_r"))
      else when(col("channel") === "R", z(col("meth_r"))).otherwise(lit(0f)))
    val ug = when(col("inf_type") === "II", lit(0f))
      .otherwise(if (includeOutOfBand) z(col("unmeth_g"))
      else when(col("channel") === "G", z(col("unmeth_g"))).otherwise(lit(0f)))
    val ur = when(col("inf_type") === "II", z(col("unmeth_r")))
      .otherwise(if (includeOutOfBand) z(col("unmeth_r"))
      else when(col("channel") === "R", z(col("unmeth_r"))).otherwise(lit(0f)))

    val m = mg + mr
    val u = ug + ur
    // All-null probes (masked/min-beads) keep a null beta, as the
    // reference's NaN propagation does (samples.py:1089-1104).
    val allNull = col("meth_g").isNull && col("meth_r").isNull &&
      col("unmeth_g").isNull && col("unmeth_r").isNull
    signal.select(col("sample_label"), col("probe_id"),
      when(allNull, lit(null).cast("float"))
        .otherwise((greatest(m, lit(1f)) / greatest(m + u, lit(2f)))
          .cast("float")).as("beta"))
  }

  /** L17 — β → M-value: log2(β/(1−β)) with ε-clipping
    * (samples.py:1200-1227, ε=1e-8). NULL betas (masked probes) stay
    * NULL — Spark's `greatest` SKIPS nulls, so without the explicit
    * guard a null beta would silently clip to ε and emit −26.58
    * instead of the reference's NaN propagation. */
  def betasToMValues(betas: DataFrame, eps: Double = 1e-8): DataFrame = {
    val b = least(greatest(col("beta").cast("double"), lit(eps)),
      lit(1.0 - eps))
    betas.withColumn("m_value",
      when(col("beta").isNull, lit(null).cast("double"))
        .otherwise(log(2.0, b / (lit(1.0) - b))))
      .drop("beta")
  }

  /** L17 inverse — M-value → β: 2^m / (2^m + 1). */
  def mValuesToBetas(mvalues: DataFrame): DataFrame = {
    val p = pow(lit(2.0), col("m_value"))
    mvalues.withColumn("beta", (p / (p + lit(1.0))).cast("float"))
      .drop("m_value")
  }

  /** Pivot long betas to probe × sample wide (on demand;
    * SURVEY.md §1.4 maps the reference's betas matrix this way). */
  def pivotBetas(betas: DataFrame): DataFrame =
    betas.groupBy("probe_id").pivot("sample_label").agg(first("beta"))

  /** A5 — strip probe-id suffixes (`cg…_TC12` → `cg…`, utils.py:126-141)
    * and average duplicate probes that result (samples.py:666-697). Only
    * the duplicated subset pays the aggregation (samples.py:681-685);
    * implemented as a single groupBy on the stripped id (Catalyst handles
    * the common non-duplicated case with map-side partials). */
  def removeProbeSuffixes(betas: DataFrame): DataFrame =
    betas
      .withColumn("probe_id",
        regexp_replace(col("probe_id"), "_[TB][CO][0-9]+$", ""))
      .groupBy("sample_label", "probe_id")
      .agg(avg(col("beta")).cast("float").as("beta"))
}
