package graft

import graft.core.{Masks, SignalBuilder}
import graft.core.Schemas.ManifestRow
import graft.dm.Dm
import graft.io.{Idat, SampleSheet, Store}
import graft.prep.Prep
import graft.qc.QC
import org.apache.spark.sql.functions._

/** End-to-end user journey over the library's public surface — the flow a
  * pylluminator user runs (read_samples → preprocess → betas → DM), on a
  * synthetic mini-array written as REAL IDAT v3 binaries on disk.
  *
  * `runMain graft.Demo /tmp/graft_demo`
  */
object Demo {

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft_demo")
    new java.io.File(workDir).mkdirs()
    val spark = Session.local(8)
    import spark.implicits._

    // ---- synthetic mini-array: 400 probes, 4 samples (2 groups) ----
    val nCg = 400
    val rnd = new scala.util.Random(7)
    val manifestRows = (0 until nCg).flatMap { i =>
      if (i % 3 == 0) // type II
        Seq(ManifestRow(1000 + i, f"cg$i%05d", "II", null, "cg",
          Some(1000 + i), None, (1 + i % 5).toString, i * 1000L,
          i * 1000L + 2, ""))
      else { // type I, channel alternating
        val ch = if (i % 2 == 0) "G" else "R"
        Seq(ManifestRow(1000 + i, f"cg$i%05d", "I", ch, "cg",
          Some(1000 + i), Some(5000 + i), (1 + i % 5).toString, i * 1000L,
          i * 1000L + 2, ""),
          ManifestRow(5000 + i, f"cg$i%05d", "I", ch, "cg",
            Some(1000 + i), Some(5000 + i), (1 + i % 5).toString, i * 1000L,
            i * 1000L + 2, ""))
      }
    }
    val manifest = manifestRows.toDF().dropDuplicates("illumina_id")
    val allAddresses = manifestRows.map(_.illumina_id).distinct.sorted.toArray
    val nProbes = allAddresses.length

    // write 4 sample pairs: group B hypermethylated on probes 0-49
    val samples = Seq("GSMA1_207001_R01C01", "GSMA2_207001_R02C01",
      "GSMB1_207001_R03C01", "GSMB2_207001_R04C01")
    samples.foreach { s =>
      val hyper = s.contains("GSMB")
      def intensity(addr: Int, grn: Boolean): Int = {
        val i = (addr % 1000)
        val isM = addr >= 5000 || (addr < 5000 && i % 3 == 0 && grn)
        val boosted = hyper && i < 50
        val base = if (isM == boosted) 6000 else 800
        base + rnd.nextInt(200)
      }
      def write(channel: String, grn: Boolean): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$workDir/${s}_$channel.idat"),
          Idat.encode(Idat.IdatData("207001", "BeadChip", nProbes,
            allAddresses, allAddresses.map(a => intensity(a, grn).toFloat),
            Array.fill(nProbes)(7f), Array.fill(nProbes)(9: Short), Nil)))
      write("Grn", grn = true)
      write("Red", grn = false)
    }

    // ---- the user journey ----
    val grnFiles = new java.io.File(workDir).listFiles()
      .filter(_.getName.endsWith("Grn.idat")).map(_.getAbsolutePath).sorted
    val sheet = SampleSheet.inferFromFilenames(spark, grnFiles.toSeq)
    println(s"[demo] sheet: ${sheet.count()} samples inferred")

    val sheetRows = sheet.collect().map(r =>
      r.schema.fieldNames.map(f => f -> Option(r.getAs[String](f))
        .getOrElse("")).toMap).toSeq
    val allFiles = new java.io.File(workDir).listFiles()
      .map(_.getAbsolutePath).filter(_.endsWith(".idat")).toSeq
    val matched = SampleSheet.matchIdatFiles(sheetRows, allFiles)
    println(s"[demo] matched ${matched.size} idat files")

    val idat = Idat.read(spark, matched).toDF()
    val signal = SignalBuilder.build(idat, manifest, minBeads = 1).localCheckpoint()
    println(s"[demo] signal rows: ${signal.count()} " +
      s"(samples=${signal.select("sample_label").distinct().count()})")

    val masks = Masks.addMask(Masks.empty(spark),
      SignalBuilder.minBeadsMask(signal, 1))
    val (inferred, _) = Prep.inferType1Channel(signal)
    val corrected = Prep.dyeBiasCorrectionL(inferred)
    val (withP0, poobahMask) = Prep.poobah(spark, corrected, masks)
    // localCheckpoint (not cache): downstream stages branch this frame
    // repeatedly and only a LINEAGE-truncating materialization keeps the
    // analyzer cost linear (cache leaves the logical plan intact)
    val withP = withP0.localCheckpoint()
    println(s"[demo] poobah masked ${poobahMask.count()} (sample, probe) pairs")
    withP0.unpersist() // Prep.poobah's contract: withP now holds the rows

    val betas = SignalBuilder.calculateBetas(withP).localCheckpoint()
    betas.groupBy("sample_label")
      .agg(round(avg("beta"), 4).as("mean_beta")).orderBy("sample_label")
      .show(10, truncate = false)

    val design = Dm.designMatrix(
      sheetRows.map(m => m + ("grp" ->
        (if (m("sample_id").contains("GSMB")) "B" else "A"))),
      "sample_id", "~ grp")
    val dmp = Dm.computeDmp(spark, betas, design).localCheckpoint()
    val nSig = dmp.filter(col("grp_T_B_p_value_adjusted") < 0.01).count()
    println(s"[demo] DMPs with adjusted p < 0.01: $nSig (expect ≈ 50)")

    val ranges = manifest.select("probe_id", "chromosome", "start", "end")
      .dropDuplicates("probe_id")
    val dmr = Dm.computeDmr(betas, dmp, ranges, Seq("grp_T_B"))
    println(s"[demo] DMR segments: ${dmr.count()}")
    dmr.orderBy(col("grp_T_B_p_value")).show(5, truncate = false)

    QC.detectionRate(withP).orderBy("sample_label", "probe_type")
      .show(8, truncate = false)

    Store.save(s"$workDir/store", withP, masks, Some(betas), Some(sheet))
    println(s"[demo] persisted to $workDir/store")

    // multimodal columns: opaque binaries → decode/resize/features/dedup
    import graft.operators.Multimodal
    val media = (1 to 6).map { i =>
      Multimodal.MediaRow(i.toLong, if (i <= 4) "image" else "video",
        Array.tabulate(600)(j => (((if (i == 2) 1 else i) * 13 + j) % 251)
          .toByte), 20, 30, 0, 5)
    }.toDS()
    val feats = Multimodal.extractFeatures(spark, media, dim = 16)
    val dups = Multimodal.exactDupGroups(media.toDF())
      .filter($"n_copies" > 1).count()
    println(s"[demo] media features: ${feats.count()} rows, " +
      s"$dups exact-dup groups detected — done")
    spark.stop()
  }
}
