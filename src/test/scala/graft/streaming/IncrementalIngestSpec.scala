package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.core.Schemas.ManifestRow
import graft.io.Idat
import org.apache.spark.sql.functions._

class IncrementalIngestSpec extends SparkSpec {
  import spark.implicits._

  def manifest = Seq(
    ManifestRow(10, "cg1", "II", null, "cg", Some(10), None, "1", 100, 102, ""),
    ManifestRow(30, "cg3", "I", "G", "cg", Some(30), Some(31), "X", 300, 302, ""),
    ManifestRow(31, "cg3", "I", "G", "cg", Some(30), Some(31), "X", 300, 302, "")
  ).toDF().dropDuplicates("illumina_id")

  test("idat pairs arriving as manifests are ingested incrementally") {
    val work = Files.createTempDirectory("ingest").toString
    val manifestDir = s"$work/manifests"
    val outDir = s"$work/out"
    Files.createDirectories(Paths.get(manifestDir))

    def writeSample(label: String, scale: Int): Unit = {
      val ids = Array(10, 30, 31)
      def write(channel: String, means: Array[Int]): Unit =
        Files.write(Paths.get(s"$work/${label}_$channel.idat"),
          Idat.encode(Idat.IdatData("207001", "BeadChip", ids.length, ids,
            means.map(_.toFloat), Array.fill(ids.length)(7f),
            Array.fill(ids.length)(9: Short), Nil)))
      write("Grn", ids.map(_ * scale))
      write("Red", ids.map(_ * scale + 1))
      Files.writeString(Paths.get(s"$manifestDir/$label.txt"),
        s"$label,G,$work/${label}_Grn.idat\n" +
          s"$label,R,$work/${label}_Red.idat\n")
    }

    // batch 1: one sample
    writeSample("s1", 10)
    val q1 = IncrementalIngest.start(spark, manifestDir, manifest, outDir)
    q1.awaitTermination(120000)
    val b1 = IncrementalIngest.loadBetas(spark, outDir)
    assert(b1.select("sample_label").distinct().count() == 1)
    assert(b1.count() == 2) // cg1 + cg3

    // batch 2: a new sample arrives; only it is processed (checkpointed)
    writeSample("s2", 20)
    val q2 = IncrementalIngest.start(spark, manifestDir, manifest, outDir)
    q2.awaitTermination(120000)
    val b2 = IncrementalIngest.loadBetas(spark, outDir)
    assert(b2.select("sample_label").distinct().count() == 2)
    assert(b2.count() == 4)
    // s1 rows unchanged (no recompute/duplication)
    assert(b2.filter($"sample_label" === "s1").count() == 2)
    // betas values consistent with the batch path
    val s1cg1 = b2.filter($"sample_label" === "s1" && $"probe_id" === "cg1")
      .head().getAs[Float]("beta")
    assert(math.abs(s1cg1 - 100f / 201f) < 1e-6)
  }
}
