package graft

import org.apache.spark.sql.functions._

/** Domain-pipeline benchmark against BASELINE.md's reference-derived
  * numbers (the only quantitative performance evidence the reference
  * publishes — see BASELINE.md "Reference-derived data points"):
  *
  *   - CNV bin-merge ~10 s (cnv.py:176, EPICv2, 1 sample, 50 kb tiles,
  *     min 20 probes/bin, pandas single-core)
  *   - CBS segmentation ~15 s (cnv.py:190-193, shuffles=10000, p=1e-4)
  *   - DMR Stouffer combine "a few minutes" (~0.5M segments, dm.py:622)
  *
  * Synthesizes a deterministic EPICv2-scale dataset (937,688 probes —
  * annotations.py:370-371 — over 24 chromosomes × 125 Mb with assembly
  * gaps) and times the same three stages on the Spark operators. No
  * files, no randomness: everything derives from `spark.range`
  * arithmetic, so runs are reproducible.
  *
  *   sbt "runMain graft.DomainBench"   (SPARK_GRAFT_CPUS to override)
  */
object DomainBench {

  def main(args: Array[String]): Unit = {
    val cpus = Session.cpus
    val spark = Session.local(cpus)
    import spark.implicits._

    val nProbes = 937688L // EPICv2 signal rows/sample
    val nChrom = 24
    val chromLen = 125000000L

    val seqLengths = spark.range(nChrom)
      .select(concat(lit("chr"), col("id") + 1).as("chrom"),
        lit(chromLen).as("seq_length"))
    // three 2 Mb assembly gaps per chromosome
    val gaps = spark.range(nChrom).select(
        concat(lit("chr"), col("id") + 1).as("chrom"),
        explode(array(lit(20000000L), lit(60000000L), lit(100000000L)))
          .as("start"))
      .withColumn("end", col("start") + 2000000L)

    // island-clustered probes (real arrays are island/desert, never
    // uniform — a perfectly uniform under-filled genome legitimately
    // collapses under the reference's merge marking): each 150 kb group
    // holds [25, 25, 10] probes across its three 50 kb tiles. A true
    // copy-number gain sits on chr3:40-50 Mb (what CBS must find).
    val ranges = spark.range(nProbes).select(
        concat(lit("cg"), col("id")).as("probe_id"),
        concat(lit("chr"), pmod(col("id"), lit(nChrom)) + 1)
          .as("chromosome"),
        expr(s"""
          CAST(((id div $nChrom) div 60) * 150000 +
            CASE WHEN (id div $nChrom) % 60 < 25
                 THEN ((id div $nChrom) % 60) * 1960
                 WHEN (id div $nChrom) % 60 < 50
                 THEN 50000 + ((id div $nChrom) % 60 - 25) * 1960
                 ELSE 100000 + ((id div $nChrom) % 60 - 50) * 4900
            END AS BIGINT)""").as("start"))
      .withColumn("end", col("start") + 2)
    val cnv = ranges.select(col("probe_id"),
      (sin(col("start") * 0.001) * 0.15 +
        when(col("chromosome") === "chr3" &&
          col("start").between(40000000L, 50000000L), 0.4)
          .otherwise(0.0)).as("cnv"))

    BenchUtil.warmup(spark)

    // --- stage 1: gap-aware tiling + bin merge (ref: ~10 s) ---
    val probesForMerge = ranges.select(
      col("chromosome").as("chrom"), col("start"), col("end"),
      col("probe_id"))
    val ((tiles, mergedBins, merged), tMerge) = BenchUtil.timeIt {
      // cache the 57k-row tile table: it is consumed twice (the census
      // count and the merge), and its lineage is a join+window pipeline
      // worth ~1.5 s per evaluation — exactly what a production run
      // would materialize once
      val t = graft.cnv.Cnv.gapAwareTiles(seqLengths, gaps).cache()
      val m = graft.cnv.Cnv.mergeBinsToMinimumOverlap(spark, t,
        probesForMerge, minOverlap = 20).cache()
      (t.count(), m, m.count())
    }

    // --- stage 2: per-bin medians + CBS (ref: ~15 s at shuffles=10000) ---
    val (nSegs, tCbs) = BenchUtil.timeIt {
      val med = graft.cnv.Cnv.binMedians(cnv, ranges, mergedBins)
      graft.cnv.Cnv.segment(spark, med, shuffles = 10000,
        pThreshold = 1e-4).count()
    }

    // --- stage 3: DMR Stouffer combine over 0.5M segments (ref: minutes) ---
    val (nDmr, tStouffer) = BenchUtil.timeIt {
      spark.range(2000000L)
        .select((col("id") / 4).cast("long").as("segment_id"),
          ((pmod(col("id") * 2654435761L, lit(999999L)) + 1) / 1000000.0)
            .as("p_value"))
        .groupBy("segment_id")
        .agg(graft.dm.Dm.stoufferAgg("p_value").as("p_comb"),
          count(lit(1)).as("n"))
        .count()
    }

    println(s"""{"metric":"domain_total","value":${tMerge + tCbs +
        tStouffer},"unit":"sec","stages":{"cnv_bin_merge":$tMerge,""" +
      s""""cbs_segmentation":$tCbs,"dmr_stouffer":$tStouffer},""" +
      s""""tiles":$tiles,"merged_bins":$merged,"segments":$nSegs,""" +
      s""""dmr_segments":$nDmr,"cpus":$cpus}""")
    spark.stop()
  }
}
