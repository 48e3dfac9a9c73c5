package graft.io

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.GZIPOutputStream

import graft.SparkSpec

/** Synthesizes IDAT v3 binaries with [[Idat.encode]] (the format the
  * reference parses, read_idat.py:217-398) and round-trips them. */
class IdatSpec extends SparkSpec {

  /** Build a minimal valid IDAT v3 file with one RUN_INFO entry. */
  def makeIdat(ids: Array[Int], means: Array[Int], stds: Array[Int],
      beads: Array[Int], barcode: String = "barcode123",
      chipType: String = "BeadChip 8x5"): Array[Byte] =
    Idat.encode(Idat.IdatData(barcode, chipType, ids.length, ids,
      means.map(_.toFloat), stds.map(_.toFloat), beads.map(_.toShort),
      Seq(Idat.RunInfo("2024-01-01", "Scan", "params", "block", "1.0"))))

  def gzip(raw: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    bos.toByteArray
  }

  /** An IdatData's fields with arrays compared by content. */
  def fields(d: Idat.IdatData): Seq[Any] =
    d.productIterator.map { case a: Array[_] => a.toSeq; case x => x }.toSeq

  val ids = Array(10, 20, 30, 40)
  val means = Array(100, 65535, 0, 1234)
  val stds = Array(5, 6, 7, 8)
  val beads = Array(3, 0, 15, 255)

  test("decodes a v3 idat byte-for-byte") {
    val d = Idat.decode(makeIdat(ids, means, stds, beads))
    assert(d.nSnpsRead == 4)
    assert(d.barcode == "barcode123")
    assert(d.chipType == "BeadChip 8x5")
    assert(d.illuminaIds.toSeq == ids.toSeq)
    assert(d.means.toSeq == means.map(_.toFloat).toSeq) // 65535 stays u16
    assert(d.stdDevs.toSeq == stds.map(_.toFloat).toSeq)
    assert(d.nBeads.toSeq == beads.map(_.toShort).toSeq)
    assert(d.runInfo.head.entryType == "Scan")
    assert(d.overflowOk)
    // decode(encode(d)) == d over the plain, gzipped and 5 KB-barcode
    // fixtures
    val plain = makeIdat(ids, means, stds, beads)
    val long = makeIdat(ids, means, stds, beads, barcode = "BC" + "x" * 5000)
    for (raw <- Seq(plain, gzip(plain), long)) {
      val d = Idat.decode(raw)
      assert(fields(Idat.decode(Idat.encode(d))) == fields(d))
    }
  }

  test("gzip transparent") {
    val d = Idat.decode(gzip(makeIdat(ids, means, stds, beads)))
    assert(d.illuminaIds.toSeq == ids.toSeq)
  }

  test("rejects wrong magic and version") {
    val bad = makeIdat(ids, means, stds, beads)
    bad(0) = 'X'.toByte
    assertThrows[IllegalArgumentException](Idat.decode(bad))
    val badV = makeIdat(ids, means, stds, beads)
    badV(4) = 9 // version long LSB
    assertThrows[IllegalArgumentException](Idat.decode(badV))
  }

  test("DSv2 source: full schema, section-pruned projections, count, " +
      "and gzip fallback") {
    val dir = java.nio.file.Files.createTempDirectory("idatds").toFile
    val f1 = new java.io.File(dir, "a_Grn.idat")
    java.nio.file.Files.write(f1.toPath, makeIdat(ids, means, stds, beads))
    // gzipped sibling exercises the whole-file fallback inside the
    // same scan
    val f2 = new java.io.File(dir, "b_Grn.idat.gz")
    java.nio.file.Files.write(f2.toPath,
      gzip(makeIdat(ids.map(_ + 1), means, stds, beads, barcode = "gzbc")))

    val df = spark.read.format("idat")
      .load(f1.getAbsolutePath, f2.getAbsolutePath)
    assert(df.columns.toSeq == Seq("path", "barcode", "chip_type",
      "illumina_id", "mean", "std_dev", "n_beads"))
    val full = df.collect()
    assert(full.length == 8)
    val byBarcode = full.groupBy(_.getAs[String]("barcode"))
    assert(byBarcode.keySet == Set("barcode123", "gzbc"))
    assert(byBarcode("barcode123").map(_.getAs[Int]("illumina_id"))
      .sorted.toSeq == ids.toSeq)
    assert(byBarcode("gzbc").map(_.getAs[Int]("illumina_id"))
      .sorted.toSeq == ids.map(_ + 1).toSeq)

    // pruned projection: only ILLUMINA_ID + MEAN sections are read;
    // the scan's read schema must shrink accordingly
    val pruned = df.select("illumina_id", "mean")
    val scanSchema = pruned.queryExecution.executedPlan.toString
    assert(scanSchema.contains("illumina_id") &&
      !scanSchema.contains("n_beads"), scanSchema.take(800))
    val pm = pruned.collect().map(r => (r.getInt(0), r.getFloat(1))).toSet
    ids.zip(means.map(_.toFloat)).foreach(p => assert(pm.contains(p)))
    // count(): NUM_SNPS_READ-only path
    assert(df.count() == 8)
    // directory load: expands to the .idat files inside
    assert(spark.read.format("idat").load(dir.getAbsolutePath).count() == 8)
  }

  test("barcode longer than the 4 KB bounded read decodes via the " +
      "second ranged read (multi-byte varint prefix)") {
    import org.apache.spark.sql.functions.col
    val long = "BC" + "x" * 5000 // varint prefix is 2 bytes
    val raw = makeIdat(ids, means, stds, beads, barcode = long)
    assert(Idat.decode(raw).barcode == long)
    val dir = java.nio.file.Files.createTempDirectory("idatlong").toFile
    val f = new java.io.File(dir, "c_Grn.idat")
    java.nio.file.Files.write(f.toPath, raw)
    val df = spark.read.format("idat").load(f.getAbsolutePath)
    val got = df.select("barcode").distinct().collect().map(_.getString(0))
    assert(got.toSeq == Seq(long))
    // the COUNT(*) path reads the same long barcode section
    assert(df.filter(col("barcode").isin(long, "zzz")).count() == 4)
  }

  test("pushed path filter prunes files at planning; pushed barcode " +
      "filter reads zero data sections of a non-matching file") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("idatpush").toFile
    val fa = new java.io.File(dir, "a_Grn.idat")
    java.nio.file.Files.write(fa.toPath,
      makeIdat(ids, means, stds, beads, barcode = "AAA"))
    // file B's data-section offsets are corrupted to point past EOF:
    // ANY read of its id/mean/std/bead sections throws, so the query
    // below can only succeed if the pushed barcode filter short-
    // circuits on the (intact) barcode section alone
    val corrupt = makeIdat(ids, means, stds, beads, barcode = "BBB")
    val bb = java.nio.ByteBuffer.wrap(corrupt)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val numFields = bb.getInt(12)
    for (i <- 0 until numFields) {
      val entry = 16 + i * 10
      val code = bb.getShort(entry) & 0xffff
      if (Set(102, 103, 104, 107, 1000).contains(code))
        bb.putLong(entry + 2, corrupt.length.toLong + 4096)
    }
    val fb = new java.io.File(dir, "b_Grn.idat")
    java.nio.file.Files.write(fb.toPath, corrupt)

    val df = spark.read.format("idat").load(dir.getAbsolutePath)
    val byBarcode = df.filter(col("barcode") === "AAA")
    assert(byBarcode.queryExecution.executedPlan.toString
      .contains("barcode IN (AAA)"), "barcode filter not pushed")
    val rows = byBarcode.collect() // would throw if B's sections read
    assert(rows.length == 4 &&
      rows.forall(_.getAs[String]("barcode") == "AAA"))

    // path filter prunes file B before scheduling: one partition, and
    // the corrupt file is never opened even without a barcode filter
    val pa = rows.head.getAs[String]("path")
    val byPath = df.filter(col("path") === pa)
    assert(byPath.rdd.getNumPartitions == 1,
      "path filter did not prune files")
    assert(byPath.count() == 4)
  }

  test("COUNT(*) pushdown: answered from NUM_SNPS_READ without opening " +
      "any data section; composes with the pushed barcode filter") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("idatcnt").toFile
    val fa = new java.io.File(dir, "a_Grn.idat")
    java.nio.file.Files.write(fa.toPath,
      makeIdat(ids, means, stds, beads, barcode = "AAA"))
    // file B: data sections corrupted past EOF, NUM_SNPS_READ intact —
    // a count can only succeed if no data section is ever opened
    val corrupt = makeIdat(ids, means, stds, beads, barcode = "BBB")
    val bb = java.nio.ByteBuffer.wrap(corrupt)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val numFields = bb.getInt(12)
    for (i <- 0 until numFields) {
      val entry = 16 + i * 10
      val code = bb.getShort(entry) & 0xffff
      if (Set(102, 103, 104, 107).contains(code))
        bb.putLong(entry + 2, corrupt.length.toLong + 4096)
    }
    val fb = new java.io.File(dir, "b_Grn.idat")
    java.nio.file.Files.write(fb.toPath, corrupt)

    val df = spark.read.format("idat").load(dir.getAbsolutePath)
    // the aggregate is pushed: the optimized plan's scan advertises it
    val counted = df.groupBy().count()
    val opt = counted.queryExecution.optimizedPlan.toString
    // the relation's output IS the pushed count column — no probe rows
    assert(opt.contains("RelationV2[count(*)"), opt.take(1500))
    val exec = counted.queryExecution.executedPlan.toString
    assert(exec.contains("PushedAggregation: [COUNT(*)]") ||
      exec.contains("count(*)"), exec.take(1500))
    // correct total even though B's data sections are unreadable
    assert(df.count() == 8L)
    // composes with the pushed barcode filter: B contributes its 4
    // probes via barcode+NUM_SNPS_READ sections only. `isin` of two
    // values, because `=== v` also gets a non-pushable isnotnull
    // residual that sends the count down the row path
    for ((keep, want) <- Seq(Seq("BBB", "YYY") -> 4L, Seq("ZZZ", "YYY") -> 0L)) {
      val byBarcode = df.filter(col("barcode").isin(keep: _*))
      val plan = byBarcode.groupBy().count().queryExecution.executedPlan
      assert(plan.toString.contains("PushedAggregation: [COUNT(*)]"),
        plan.toString.take(1500))
      assert(byBarcode.count() == want)
    }
    // a residual (non-pushable) filter disables the pushdown: Spark
    // falls back to the row path, which must throw on B's corrupt
    // data sections — proving count() above never took that path
    intercept[org.apache.spark.SparkException] {
      df.filter(col("illumina_id") > 0).count()
    }
  }

  test("distributed read emits one row per probe per file") {
    val dir = java.nio.file.Files.createTempDirectory("idat").toFile
    val grn = new java.io.File(dir, "s1_Grn.idat")
    val red = new java.io.File(dir, "s1_Red.idat")
    java.nio.file.Files.write(grn.toPath, makeIdat(ids, means, stds, beads))
    java.nio.file.Files.write(red.toPath,
      makeIdat(ids, means.map(_ / 2), stds, beads))
    val ds = Idat.read(spark, Seq(
      ("s1", "G", grn.getAbsolutePath), ("s1", "R", red.getAbsolutePath)))
    val rows = ds.collect()
    assert(rows.length == 8)
    assert(rows.count(_.signal_channel == "G") == 4)
    val g20 = rows.find(r => r.signal_channel == "G" && r.illumina_id == 20).get
    assert(g20.mean_value == 65535f && g20.n_beads == 0)
  }
}
