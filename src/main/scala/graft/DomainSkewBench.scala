package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Chromosome-skew evidence at 10× scale (VERDICT r4 #8): the per-
  * chromosome cogroup/window operators must track the LARGEST
  * chromosome, not the genome.
  *
  * Two synthetic censuses, both 10× EPICv2 (9,376,880 probes):
  *   - uniform: probes round-robin over 24 chromosomes (each ≈ 4.2%)
  *   - skewed: human-like weights w_c = (25−c)/300 — chr1 holds 8%
  *     (750k probes, ~2× the uniform largest), tapering to 0.33%
  *
  * Timed stages (the two chromosome-partitioned pipelines):
  *   1. CNV gap-aware tiling + bin merge (per-chromosome cogroup,
  *      Cnv.mergeBinsToMinimumOverlap)
  *   2. DMR windows (Dm.computeDmr: genome-ordered per-chromosome
  *      window → change points → running segment ids → Stouffer)
  *
  * If the operators parallelize per chromosome correctly, the skewed
  * run's wall-time is bounded by the largest chromosome's share —
  * skew/uniform ≈ chr1_skew/chr1_uniform ≈ 1.9, NOT the ~n_chroms×
  * blow-up a genome-serial (single-partition window) plan would show.
  * The JSON line records both times and the ratio per stage.
  *
  *   sbt "runMain graft.DomainSkewBench"   (SPARK_GRAFT_CPUS overrides)
  */
object DomainSkewBench {

  private val NChrom = 24
  private val Total = 9376880L // 10× EPICv2

  /** Per-chromosome probe counts: uniform or (25−c)/300 weights. */
  private def counts(skewed: Boolean): Seq[(Int, Long)] =
    (1 to NChrom).map { c =>
      val n =
        if (skewed) Total * (25 - c) / 300
        else Total / NChrom
      (c, n)
    }

  /** Island-clustered census: each 60-probe group spans 150 kb as
    * [25, 25, 10] probes across three 50 kb tiles (the 1× DomainBench
    * layout, extended per chromosome). Chromosome length derives from
    * its probe count, so density per tile is scale-invariant. */
  private def census(spark: SparkSession,
      skewed: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val parts = counts(skewed).map { case (c, n) =>
      spark.range(n).select(
        concat(lit(s"cg${c}_"), col("id")).as("probe_id"),
        lit(s"chr$c").as("chromosome"),
        expr("""
          CAST((id div 60) * 150000 +
            CASE WHEN id % 60 < 25 THEN (id % 60) * 1960
                 WHEN id % 60 < 50 THEN 50000 + (id % 60 - 25) * 1960
                 ELSE 100000 + (id % 60 - 50) * 4900
            END AS BIGINT)""").as("start"))
        .withColumn("end", col("start") + 2)
    }
    val ranges = parts.reduce(_ unionAll _)
    val lens = counts(skewed).map { case (c, n) =>
      (s"chr$c", ((n + 59) / 60) * 150000L + 150000L)
    }
    import spark.implicits._
    val seqLengths = lens.toDF("chrom", "seq_length")
    val gaps = seqLengths.select(col("chrom"),
        explode(array(lit(0.25), lit(0.5), lit(0.75))).as("f"),
        col("seq_length"))
      .select(col("chrom"),
        (expr("CAST(f * seq_length AS BIGINT) div 50000") * 50000L)
          .as("start"))
      .withColumn("end", col("start") + 2000000L)
    (ranges, seqLengths, gaps)
  }

  private def runStages(spark: SparkSession,
      skewed: Boolean): (Double, Double, Long, Long) = {
    val (ranges, seqLengths, gaps) = census(spark, skewed)
    val probesForMerge = ranges.select(
      col("chromosome").as("chrom"), col("start"), col("end"),
      col("probe_id"))
    val ((nBins, _), tMerge) = BenchUtil.timeIt {
      val t = graft.cnv.Cnv.gapAwareTiles(seqLengths, gaps)
      val m = graft.cnv.Cnv.mergeBinsToMinimumOverlap(spark, t,
        probesForMerge, minOverlap = 20)
      (m.count(), ())
    }
    // DMR windows over the same census: 2 samples, 1 contrast, fixed
    // distance cutoff (the percentile pass is skew-insensitive)
    val betas = ranges.select(col("probe_id"),
        explode(array(lit("s1"), lit("s2"))).as("sample_label"))
      .withColumn("beta",
        (pmod(xxhash64(col("probe_id"), col("sample_label")), lit(1000L)) /
          1000.0).cast("double"))
    val dmp = ranges.select(col("probe_id"),
      ((pmod(xxhash64(col("probe_id")), lit(999999L)) + 1) / 1000000.0)
        .as("grp_p_value"),
      (pmod(xxhash64(col("probe_id"), lit(7)), lit(200L)) / 100.0 - 1.0)
        .as("grp_estimate"))
    val (nSegs, tDmr) = BenchUtil.timeIt {
      graft.dm.Dm.computeDmr(betas, dmp, ranges, Seq("grp"),
        distCutoff = Some(0.3)).count()
    }
    (tMerge, tDmr, nBins, nSegs)
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)

    // the first-slot shape would otherwise absorb all first-job
    // classloading + codegen, skewing the very ratio reported here
    BenchUtil.warmup(spark)

    // Two rounds per shape in ABBA order (uniform, skew, skew,
    // uniform), min per stage: a single uniform-then-skew pass
    // conflates shape with run order — measured 3.2× wall variance
    // between two IDENTICAL uniform runs in one session, improving
    // MONOTONICALLY (page-cache fill, JIT tiering), so any fixed
    // order hands the later shape the faster wall. ABBA gives each
    // shape one early and one late slot; taking minima then leaves
    // the uniform side the LAST slot, so residual drift biases the
    // ratio upward — against the health gate (skew/uniform under the
    // ~1.9 chr1-share bound; r11 idle-box reference ≈ 1.3), the
    // conservative direction for a regression check.
    val runs = 2
    val uRuns = scala.collection.mutable.ArrayBuffer
      .empty[(Double, Double, Long, Long)]
    val sRuns = scala.collection.mutable.ArrayBuffer
      .empty[(Double, Double, Long, Long)]
    uRuns += runStages(spark, skewed = false)
    sRuns += runStages(spark, skewed = true)
    sRuns += runStages(spark, skewed = true)
    uRuns += runStages(spark, skewed = false)
    val (umTime, udTime) = (uRuns.map(_._1).min, uRuns.map(_._2).min)
    val (smTime, sdTime) = (sRuns.map(_._1).min, sRuns.map(_._2).min)
    val (uBins, uSegs) = (uRuns.head._3, uRuns.head._4)
    val (sBins, sSegs) = (sRuns.head._3, sRuns.head._4)
    def r(a: Double, b: Double) = math.round(a / b * 100.0) / 100.0
    println(s"""{"metric":"domain_skew","unit":"sec","probes":$Total,""" +
      s""""chr1_share_skew":0.08,"runs":$runs,""" +
      s""""uniform":{"bin_merge":$umTime,""" +
      s""""dmr_windows":$udTime,"bins":$uBins,"segments":$uSegs},""" +
      s""""skew":{"bin_merge":$smTime,"dmr_windows":$sdTime,""" +
      s""""bins":$sBins,"segments":$sSegs},""" +
      s""""ratio":{"bin_merge":${r(smTime, umTime)},""" +
      s""""dmr_windows":${r(sdTime, udTime)}}}""")
    spark.stop()
  }
}
