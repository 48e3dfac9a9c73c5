package graft.io

import java.io.ByteArrayInputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.zip.GZIPInputStream

import graft.core.Schemas.IdatRow
import org.apache.spark.sql.{Dataset, SparkSession}

/** Illumina IDAT v3 codec — the one place that knows the byte layout the
  * reference parses (pylluminator/read_idat.py:217-398): little-endian,
  * magic "IDAT" + version 8-byte long, a section-offset directory of
  * (u16 code, i64 offset) entries (read_idat.py:302-322), 7-bit-varint
  * length-prefixed strings (read_idat.py:77-96), and the sections
  * ILLUMINA_ID(102)/STD_DEV(103)/MEAN(104)/NUM_BEADS(107)/
  * RUN_INFO(300)/BARCODE(402)/CHIP_TYPE(403)/NUM_SNPS_READ(1000).
  * Gzip-transparent (read_idat.py:160-175); mean values are u16 read into
  * float32 with an overflow check for negatives (read_idat.py:384-392).
  *
  * [[open]] gives a [[Sections]] reader over a positioned-read function:
  * the `idat` DataSource V2 ([[graft.sources.IdatDataSource]]) uses it
  * inside executor tasks to read only the sections a query needs from a
  * Hadoop stream, and [[decode]] reads every section of an in-memory
  * file through the same code. [[encode]] writes the layout back.
  */
object Idat {

  final case class RunInfo(timestamp: String, entryType: String,
      parameters: String, codeblock: String, codeVersion: String)

  /** A decoded IDAT file. */
  final case class IdatData(
      barcode: String,
      chipType: String,
      nSnpsRead: Int,
      illuminaIds: Array[Int],
      means: Array[Float], // u16 widened; negative ⇒ upstream overflow
      stdDevs: Array[Float],
      nBeads: Array[Short],
      runInfo: Seq[RunInfo]) {
    /** False if any mean/std value is negative — u16 overflow upstream
      * (read_idat.py:384-392). */
    def overflowOk: Boolean = !(means.exists(_ < 0) || stdDevs.exists(_ < 0))
  }

  private val SecIlluminaId = 102
  private val SecStdDev = 103
  private val SecMean = 104
  private val SecNumBeads = 107
  private val SecRunInfo = 300
  private val SecBarcode = 402
  private val SecChipType = 403
  private val SecNumSnpsRead = 1000

  /** Bytes fetched by a string's first read: prefix and payload of any
    * normal barcode or chip type; a longer string takes a second read. */
  private val StringRead = 4096L

  /** `readAt(pos, dst, off, len)` fills `dst(off until off + len)` with
    * the file's bytes from `pos`, throwing past EOF — the shape of
    * Hadoop's `PositionedReadable.readFully`. */
  type ReadAt = (Long, Array[Byte], Int, Int) => Unit

  /** Reader over one plain IDAT v3 file of `length` bytes. Construction
    * checks the magic and version and parses the section directory;
    * each accessor is then one positioned read of its section. Array
    * accessors take the probe count from [[nSnpsRead]]. */
  final class Sections private[Idat] (length: Long, readAt: ReadAt,
      name: String) {
    private def bytes(pos: Long, size: Int): ByteBuffer = {
      val a = new Array[Byte](size)
      readAt(pos, a, 0, size)
      ByteBuffer.wrap(a).order(ByteOrder.LITTLE_ENDIAN)
    }

    private val offsets: Map[Int, Long] = {
      val h = bytes(0, 16)
      val magic = new Array[Byte](4)
      h.get(magic)
      require(new String(magic, US_ASCII) == "IDAT",
        s"$name: not an IDAT file")
      val version = h.getLong
      require(version == 3, s"$name: IDAT version $version != 3")
      val numFields = h.getInt
      val dir = bytes(16, numFields * 10)
      Seq.fill(numFields)((dir.getShort & 0xffff) -> dir.getLong).toMap
    }

    private def at(code: Int): Long = offsets.getOrElse(code,
      throw new IllegalArgumentException(s"$name: missing IDAT section $code"))

    /** The varint-length-prefixed UTF-8 string at `pos`, and the offset
      * just past it. */
    private def string(pos: Long): (String, Long) = {
      val b = bytes(pos, math.min(StringRead, length - pos).toInt)
      var byte = b.get & 0xff
      var len = byte & 0x7f
      var shift = 0
      while ((byte & 0x80) != 0) {
        byte = b.get & 0xff
        shift += 7
        len |= (byte & 0x7f) << shift
      }
      val start = pos + b.position()
      val arr = new Array[Byte](len)
      val head = math.min(len, b.remaining)
      b.get(arr, 0, head)
      if (head < len) readAt(start + head, arr, head, len - head)
      (new String(arr, UTF_8), start + len)
    }

    private def u16(code: Int, n: Int): Array[Float] = {
      val b = bytes(at(code), n * 2)
      Array.fill(n)((b.getShort & 0xffff).toFloat)
    }

    def nSnpsRead: Int = bytes(at(SecNumSnpsRead), 4).getInt
    def barcode: String = string(at(SecBarcode))._1
    def chipType: String = string(at(SecChipType))._1

    def illuminaIds(n: Int): Array[Int] = {
      val ids = new Array[Int](n)
      bytes(at(SecIlluminaId), n * 4).asIntBuffer().get(ids)
      ids
    }
    def means(n: Int): Array[Float] = u16(SecMean, n)
    def stdDevs(n: Int): Array[Float] = u16(SecStdDev, n)
    def nBeads(n: Int): Array[Short] = {
      val b = bytes(at(SecNumBeads), n)
      Array.fill(n)((b.get & 0xff).toShort)
    }

    /** RUN_INFO entries; empty when the file has no such section. */
    def runInfo: Seq[RunInfo] = offsets.get(SecRunInfo).fold(
        Seq.empty[RunInfo]) { off =>
      var pos = off + 4
      def next(): String = { val (s, end) = string(pos); pos = end; s }
      Seq.fill(bytes(off, 4).getInt)(
        RunInfo(next(), next(), next(), next(), next()))
    }
  }

  /** Opens an IDAT file of `length` bytes read through `readAt`. A
    * gzipped file has no random access, so it is read whole, gunzipped
    * into memory and served from there. */
  def open(length: Long, readAt: ReadAt, name: String): Sections = {
    val head = new Array[Byte](2)
    readAt(0, head, 0, 2)
    if ((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b) {
      require(length <= Int.MaxValue,
        s"$name: gzipped IDAT too large for whole-file decode ($length bytes)")
      val raw = new Array[Byte](length.toInt)
      readAt(0, raw, 0, raw.length)
      val plain = new GZIPInputStream(new ByteArrayInputStream(raw))
        .readAllBytes()
      new Sections(plain.length, inMemory(plain), name)
    } else new Sections(length, readAt, name)
  }

  private def inMemory(a: Array[Byte]): ReadAt =
    (pos, dst, off, len) => System.arraycopy(a, pos.toInt, dst, off, len)

  /** Decode an IDAT byte array, plain or gzipped. */
  def decode(raw: Array[Byte]): IdatData = {
    val s = open(raw.length, inMemory(raw), "IDAT bytes")
    val n = s.nSnpsRead
    IdatData(s.barcode, s.chipType, n, s.illuminaIds(n), s.means(n),
      s.stdDevs(n), s.nBeads(n), s.runInfo)
  }

  /** Encode `d` as a plain IDAT v3 file that [[decode]] reads back to
    * `d`. */
  def encode(d: IdatData): Array[Byte] = {
    val n = d.nSnpsRead
    require(Seq(d.illuminaIds.length, d.means.length, d.stdDevs.length,
      d.nBeads.length).forall(_ == n), s"array lengths differ from $n")
    def le(size: Int) = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    def u16(vs: Array[Float]) = {
      val b = le(n * 2)
      vs.foreach(v => b.putShort(v.toInt.toShort))
      b.array()
    }
    def string(s: String): Array[Byte] = {
      val utf8 = s.getBytes(UTF_8)
      val prefix = Array.newBuilder[Byte]
      var len = utf8.length
      while (len >= 0x80) { prefix += ((len & 0x7f) | 0x80).toByte; len >>>= 7 }
      prefix += len.toByte
      prefix.result() ++ utf8
    }
    val sections = Seq(
      SecNumSnpsRead -> le(4).putInt(n).array(),
      SecIlluminaId -> {
        val b = le(n * 4); d.illuminaIds.foreach(b.putInt); b.array()
      },
      SecMean -> u16(d.means),
      SecStdDev -> u16(d.stdDevs),
      SecNumBeads -> d.nBeads.map(_.toByte),
      SecBarcode -> string(d.barcode),
      SecChipType -> string(d.chipType),
      SecRunInfo -> (le(4).putInt(d.runInfo.size).array() ++
        d.runInfo.flatMap(_.productIterator.flatMap(f => string(f.toString)))))
    val header = le(16 + sections.size * 10)
    header.put("IDAT".getBytes(US_ASCII)).putLong(3L).putInt(sections.size)
    var off = header.capacity.toLong
    sections.foreach { case (code, payload) =>
      header.putShort(code.toShort).putLong(off)
      off += payload.length
    }
    Array.concat(header.array() +: sections.map(_._2): _*)
  }

  /** Distributed scan: (sample_label, channel, path) manifest → long IdatRow
    * Dataset via the `idat` DataSource V2 ([[graft.sources.IdatDataSource]]):
    * one input partition per file, section pushdown (only the
    * ILLUMINA_ID/MEAN/STD_DEV/NUM_BEADS byte ranges are read — barcode,
    * chip type and RUN_INFO never leave disk). `channel` is "G"/"R"
    * (Grn/Red file). */
  def read(spark: SparkSession,
      files: Seq[(String, String, String)]): Dataset[IdatRow] = {
    import spark.implicits._
    val byPath: Map[String, (String, String)] =
      files.map { case (s, c, p) => normalize(p) -> ((s, c)) }.toMap
    if (files.isEmpty) return spark.emptyDataset[IdatRow]
    spark.read.format("idat").load(files.map(_._3): _*)
      .select("path", "illumina_id", "mean", "std_dev", "n_beads")
      .as[(String, Int, Float, Float, Short)]
      .map { case (path, id, mean, std, nb) =>
        val (sample, channel) = byPath.getOrElse(normalize(path),
          throw new IllegalStateException(s"Unmatched $path"))
        IdatRow(sample, channel, id, mean, std, nb)
      }
  }

  private def normalize(p: String): String =
    p.stripPrefix("file:").replaceAll("/+", "/")
}
