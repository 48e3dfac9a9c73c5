package graft

import graft.core.{Masks, Schemas}
import graft.io.Idat
import org.apache.spark.sql.functions._

/** EPICv2 cardinality-invariant fixture: synthesizes a manifest and one
  * sample's Grn/Red IDAT pair that mirror the reference array's published
  * probe census, then asserts every count survives the FULL
  * `Samples.readSamples` ingest (sheet inference → distributed IDAT
  * decode → manifest join → signal pivot) and each recommended mask
  * builder.
  *
  * Census (reference EPICv2; mask sizes from
  * /root/reference/tests/test_mask.py:68-88):
  *   937,688 probes = 933,252 cg + 2,914 ch + 65 snp + 633 ctl + 824 nv;
  *   128,295 type I / 809,393 type II;
  *   XY 24,953; non-unique 23,664; quality 32,896 (the non-unique
  *   'M_nonuniq' token is itself one of the EPICv2 quality names, so the
  *   non-unique set nests inside the quality set — as in SeSAMe);
  *   NonCG 3,803 = ch + snp + nv (controls masked separately).
  * The chip additionally carries addresses absent from the manifest
  * (orphans) — the inner manifest join must drop them; they are what
  * pushes the raw address count into the EPICv2 detection band.
  */
class EpicCensusSpec extends SparkSpec {
  import spark.implicits._

  val nCtl = 633
  val nSnp = 65
  val nCh = 2914
  val nNv = 824
  val nTotal = 937688
  val nCg = nTotal - nCtl - nSnp - nCh - nNv // 933,252
  val nTypeI = 128295 // remainder type II: 809,393
  val nXY = 24953
  val nNonUniq = 23664
  val nQuality = 32896
  val nOrphan = 40000
  val headBands = nCtl + nSnp + nCh + nNv // 4,436 non-cg probes lead

  /** The synthetic manifest, generated distributed (spark.range — no
    * driver-side row list at 937k rows). One row per probe; address_b
    * only for type I. */
  def manifest = spark.range(nTotal)
    .select($"id".cast("int").as("p"))
    .withColumn("probe_type",
      when($"p" < nCtl, "ctl")
        .when($"p" < nCtl + nSnp, "snp")
        .when($"p" < nCtl + nSnp + nCh, "ch")
        .when($"p" < headBands, "nv")
        .otherwise("cg"))
    .withColumn("c", $"p" - headBands) // cg-band index (< 0 for non-cg)
    .withColumn("inf_type",
      when($"probe_type" === "cg" && $"c" < nTypeI, "I").otherwise("II"))
    .withColumn("channel",
      when($"inf_type" === "I",
        when($"c" % 2 === 0, "G").otherwise("R")))
    .withColumn("chromosome",
      when($"probe_type" === "cg" &&
          $"c" >= nTypeI && $"c" < nTypeI + nXY,
        when($"c" % 2 === 0, "X").otherwise("Y"))
        .otherwise((pmod($"p", lit(22)) + 1).cast("string")))
    .withColumn("mask_info",
      when($"probe_type" === "cg" && $"c" >= 0 && $"c" < nNonUniq,
        "M_nonuniq")
        .when($"probe_type" === "cg" && $"c" < nQuality, "M_mapping")
        .otherwise(""))
    .withColumn("probe_id",
      concat($"probe_type", lit("_"), $"p".cast("string")))
    .withColumn("address_a", ($"p" * 2).cast("int"))
    .withColumn("address_b",
      when($"inf_type" === "I", ($"p" * 2 + 1).cast("int")))
    .withColumn("illumina_id", $"address_a")
    .withColumn("start", ($"p" * 100L).cast("long"))
    .withColumn("end", ($"p" * 100L + 2).cast("long"))
    .select("illumina_id", "probe_id", "inf_type", "channel", "probe_type",
      "address_a", "address_b", "chromosome", "start", "end", "mask_info")

  /** Every chip address: both manifest addresses plus the orphan tail. */
  def chipAddresses: Array[Int] = {
    val b = Array.newBuilder[Int]
    b.sizeHint(nTotal + nTypeI + nOrphan)
    var p = 0
    while (p < nTotal) {
      b += p * 2
      if (p >= headBands && p < headBands + nTypeI) b += p * 2 + 1
      p += 1
    }
    var i = 0
    while (i < nOrphan) { b += nTotal * 2 + i; i += 1 }
    b.result()
  }

  test("EPICv2 census survives full readSamples ingest + masking") {
    val ids = chipAddresses
    assert(ids.length == nTotal + nTypeI + nOrphan) // 1,105,983
    val dir = java.nio.file.Files.createTempDirectory("epic").toFile
    def write(name: String, off: Int): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        Idat.encode(Idat.IdatData("barcode123", "BeadChip 8x5", ids.length,
          ids, ids.map(i => (i % 3000 + 100 + off).toFloat),
          Array.fill(ids.length)(1f), Array.fill(ids.length)(5: Short), Nil)))
    write("epic_s1_Grn.idat", 0)
    write("epic_s1_Red.idat", 37)

    val s = Samples.readSamples(spark, dir.getAbsolutePath, manifest)

    // the orphan-padded chip address count lands in the EPICv2 band
    assert(s.arrayType == Schemas.ArrayType.EpicV2)

    // one signal row per (sample, probe); orphan addresses are gone
    assert(s.signal.count() == nTotal.toLong)

    val byType = s.signal.groupBy("probe_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("cg" -> nCg.toLong, "ch" -> nCh.toLong,
      "snp" -> nSnp.toLong, "ctl" -> nCtl.toLong, "nv" -> nNv.toLong))

    val byInf = s.signal.groupBy("inf_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byInf == Map("I" -> nTypeI.toLong,
      "II" -> (nTotal - nTypeI).toLong))

    // type I probes carry both cells of their design channel; type II
    // only (G,M)/(R,U) — spot-check the structural shape held
    val t1 = s.signal.filter($"inf_type" === "I")
    assert(t1.filter($"meth_g".isNull || $"meth_r".isNull ||
      $"unmeth_g".isNull || $"unmeth_r".isNull).count() == 0)
    val t2 = s.signal.filter($"inf_type" === "II")
    assert(t2.filter($"meth_r".isNotNull || $"unmeth_g".isNotNull)
      .count() == 0)

    // recommended masks reproduce the reference census exactly
    val masked = s.maskXYProbes(manifest).maskNonUniqueProbes()
      .maskQualityProbes().maskSnpProbes().maskNonCgProbes()
    val m = masked.masks.groupBy("mask_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("xy_probes") == nXY.toLong)
    assert(m("non_unique_probes") == nNonUniq.toLong)
    assert(m("quality_probes") == nQuality.toLong)
    assert(m("control_probes") == nCtl.toLong)
    assert(m("snp_probes") == nSnp.toLong)
    assert(m("non_cg_probes") == (nCh + nSnp + nNv).toLong) // 3,803
  }
}
