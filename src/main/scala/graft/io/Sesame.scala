package graft.io

import graft.core.Masks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S5 — SeSAMe SigDF CSV import (reference samples.py:1878-1978): reads
  * external `Probe_ID, MG, MR, UG, UR, mask` csvs, joins the manifest
  * (broadcast), fixes the type-II channel placement (type II green values
  * arrive in UG and move to MG, samples.py:1949-1954), infers the channel
  * of type-II rows from which cell is populated, and splits the boolean
  * `mask` column into mask-table rows.
  *
  * Returns (signal long table, mask rows). One CSV per sample; the sample
  * label is the file stem.
  */
object Sesame {

  def read(spark: SparkSession, files: Seq[String], manifest: DataFrame,
      noSuffix: Boolean = false): (DataFrame, DataFrame) = {
    val man0 = manifest
      .select("probe_id", "inf_type", "channel", "probe_type", "mask_info")
      .dropDuplicates("probe_id")
    val man = if (noSuffix)
      man0.withColumn("probe_id",
        regexp_replace(col("probe_id"), "_[TB][CO][0-9]+$", ""))
    else man0

    val perFile = files.map { path =>
      val label = path.split("/").last.stripSuffix(".gz")
        .stripSuffix(".csv")
      spark.read.option("header", "true").csv(path)
        .withColumnRenamed("Probe_ID", "probe_id")
        .select(col("probe_id"),
          col("MG").cast("float"), col("MR").cast("float"),
          col("UG").cast("float"), col("UR").cast("float"),
          col("mask").cast("boolean"))
        .withColumn("sample_label", lit(label))
    }
    val raw = perFile.reduce(_ unionByName _)
    sigDfTransform(raw, man)
  }

  /** The SigDF fix-up as a pure frame transform — [[read]]'s engine and
    * the unit the q154 oracle gates: broadcast-join the manifest, move
    * type-II green values from UG to MG (samples.py:1949-1951), infer
    * the type-II channel from which cell is populated
    * (samples.py:1952-1954), split the boolean mask into mask rows.
    * `raw` must expose (sample_label, probe_id, MG, MR, UG, UR, mask);
    * `man` (probe_id, inf_type, channel, probe_type, mask_info),
    * unique per probe_id. */
  def sigDfTransform(raw: DataFrame, man: DataFrame)
      : (DataFrame, DataFrame) = {
    val joined = raw.join(broadcast(man), "probe_id", "inner")
      // type II: green value arrives in UG → move to MG (samples.py:1949-1951)
      .withColumn("MG2",
        when(col("inf_type") === "II", col("UG")).otherwise(col("MG")))
      .withColumn("UG2",
        when(col("inf_type") === "II", lit(null).cast("float"))
          .otherwise(col("UG")))
      // type-II channel from populated cell (samples.py:1952-1954)
      .withColumn("channel",
        when(col("inf_type") === "II" && col("MG2").isNull, "R")
          .when(col("inf_type") === "II" && col("UR").isNull, "G")
          .otherwise(col("channel")))

    val signal = joined.select(
      col("sample_label"), col("probe_id"), col("inf_type"), col("channel"),
      col("probe_type"), coalesce(col("mask_info"), lit("")).as("mask_info"),
      col("MG2").as("meth_g"), col("MR").as("meth_r"),
      col("UG2").as("unmeth_g"), col("UR").as("unmeth_r"),
      lit(null).cast("float").as("p_value"))
      .dropDuplicates("sample_label", "probe_id")

    val masks = Masks.of("sesame", joined.filter(col("mask") === true))
    (signal, masks)
  }
}
