package perfbench

import java.io.File

import graft.core.{Masks, SignalBuilder}
import graft.dm.Dm
import graft.io.{Idat, SampleSheet}
import graft.prep.Prep
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The pylluminator user journey over one generated cohort directory:
  * sample-sheet read and IDAT matching, IDAT scan, signal build, pOOBAH,
  * betas, DMP (OLS) and DMR.
  * Every stage's output is materialized at the stage boundary
  * (`localCheckpoint`, as `graft.Demo` does), so each span covers exactly
  * the jobs of its own call, traced or not. */
final class MethylCohort(inputDir: String) extends Workload {
  val warmups = 1
  /** One: a set-up costs a full cold iteration (30-40 s on 4 cores), and
    * a repeat in a warm JVM another 12-15 s, which the run budget does
    * not buy. */
  val setups = 1
  private val manifestSchema = StructType(Seq(
    StructField("illumina_id", IntegerType),
    StructField("probe_id", StringType),
    StructField("inf_type", StringType),
    StructField("channel", StringType),
    StructField("probe_type", StringType),
    StructField("address_a", IntegerType),
    StructField("address_b", IntegerType),
    StructField("chromosome", StringType),
    StructField("start", LongType),
    StructField("end", LongType),
    StructField("mask_info", StringType)))

  private def csv(spark: SparkSession, name: String, schema: StructType) =
    spark.read.option("header", "true").schema(schema)
      .csv(s"$inputDir/$name")

  def iteration(spark: SparkSession, tr: Tracer, it: Int): Outcome = {
    def span[T](name: String)(body: => T): T = tr.span(name, it)(body)
    val manifest = csv(spark, "manifest.csv", manifestSchema)
    val (sheetRows, matched) = span("io.sample_sheet") {
      val rows = SampleSheet.read(spark, s"$inputDir/sample_sheet.csv")
        .collect().map(r => r.schema.fieldNames.map(f =>
          f -> Option(r.getAs[String](f)).getOrElse("")).toMap).toSeq
      val files = new File(inputDir).listFiles().map(_.getAbsolutePath)
        .filter(_.endsWith(".idat")).sorted.toSeq
      (rows, SampleSheet.matchIdatFiles(rows, files))
    }

    val idat = span("sources.idat_scan") {
      Idat.read(spark, matched).toDF().localCheckpoint()
    }
    val signal = span("core.signal_build") {
      SignalBuilder.build(idat, manifest, minBeads = 1).localCheckpoint()
    }
    val masks = Masks.addMask(Masks.empty(spark),
      SignalBuilder.minBeadsMask(signal, 1))
    val (withP, nPoobah) = span("prep.poobah") {
      val (p, mask) = Prep.poobah(spark, signal, masks)
      (p, mask.count())
    }
    val betas = span("core.betas") {
      SignalBuilder.calculateBetas(withP).localCheckpoint()
    }
    val design = Dm.designMatrix(sheetRows, "sample_id", "~ grp")
    val dmp = span("dm.dmp") {
      Dm.computeDmp(spark, betas, design).localCheckpoint()
    }
    val ranges = manifest.select("probe_id", "chromosome", "start", "end")
      .dropDuplicates("probe_id")
    val dmr = span("dm.dmr") {
      Dm.computeDmr(betas, dmp, ranges, Seq("grp_T_B")).localCheckpoint()
    }
    Outcome(() => observe(betas, dmp, dmr, nPoobah))
  }

  /** The discrete results the output checks read: significant probe
    * ids, significant DMR segments (bounds and sizes) and row counts.
    * Continuous values are left out and both lists are sorted, so the
    * record depends neither on floating-point summation order nor on the
    * row order the shuffle partitioning leaves. */
  private def observe(betas: DataFrame, dmp: DataFrame, dmr: DataFrame,
      nPoobah: Long): Map[String, Any] = {
    val sig = dmp.filter(col("grp_T_B_p_value_adjusted") < 0.01)
      .select("probe_id").collect().map(_.getString(0)).sorted.toSeq
    val sigDmr = dmr.filter(col("grp_T_B_p_value_adjusted") < 0.01)
      .select("chromosome", "start", "end", "n_probes").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.map(_.productIterator.toSeq).toSeq
    Map("sig_dmps" -> sig, "sig_dmr" -> sigDmr,
      "betas_rows" -> betas.count(),
      "betas_probes" -> betas.select("probe_id").distinct().count(),
      "poobah_masked" -> nPoobah)
  }
}
