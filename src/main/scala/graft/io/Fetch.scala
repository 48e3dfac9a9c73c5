package graft.io

import java.io.{BufferedInputStream, File, FileInputStream,
  FileOutputStream, InputStream}
import java.util.zip.{GZIPInputStream, ZipInputStream}

/** S7 — driver-side fetch + decompress (reference utils.py:380-479:
  * `download_from_link` / `download_from_geo`): pull an archive from a
  * URL (http(s)/file) and unpack zip / tar / tar.gz / gz into a target
  * directory, from which the distributed IDAT scan (S1/S6) then reads.
  * Deliberately NOT a Spark op — the reference treats it as a driver
  * utility and so do we; at cluster scale the data lands on shared
  * storage and executors read it via the `idat` DataSource V2 scan.
  *
  * Tar support is a minimal ustar reader (512-byte headers, octal size
  * at offset 124) — enough for GEO's .tar idat bundles; no external
  * libraries.
  */
object Fetch {

  /** Download `url` to `targetDir/filename` (or the URL basename) and,
    * when `decompress`, unpack recognized archives in place. Returns the
    * list of files written. */
  def downloadFromLink(url: String, targetDir: String,
      filename: Option[String] = None,
      decompress: Boolean = true): Seq[File] = {
    val dir = new File(targetDir)
    dir.mkdirs()
    val name = filename.getOrElse(url.split('/').last.split('?').head)
    val dest = new File(dir, name)
    val in = new BufferedInputStream(new java.net.URL(url).openStream())
    try copyTo(in, dest) finally in.close()
    if (!decompress) return Seq(dest)
    val lower = name.toLowerCase
    if (lower.endsWith(".zip")) dest +: unzip(dest, dir)
    else if (lower.endsWith(".tar")) dest +: untar(
      new FileInputStream(dest), dir)
    else if (lower.endsWith(".tar.gz") || lower.endsWith(".tgz"))
      dest +: untar(new GZIPInputStream(new FileInputStream(dest)), dir)
    else if (lower.endsWith(".gz")) {
      val out = new File(dir, name.dropRight(3))
      val gin = new GZIPInputStream(new FileInputStream(dest))
      try copyTo(gin, out) finally gin.close()
      Seq(dest, out)
    } else Seq(dest)
  }

  /** Unpack a zip archive into dir (flattening is NOT applied — entry
    * paths are preserved below dir). */
  def unzip(zip: File, dir: File): Seq[File] = {
    val zin = new ZipInputStream(
      new BufferedInputStream(new FileInputStream(zip)))
    val out = Seq.newBuilder[File]
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          val f = safeChild(dir, e.getName)
          f.getParentFile.mkdirs()
          copyTo(zin, f, close = false)
          out += f
        }
        zin.closeEntry()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.result()
  }

  /** Unpack a (possibly gzipped) ustar stream into dir. */
  def untar(raw: InputStream, dir: File): Seq[File] = {
    val in = new BufferedInputStream(raw)
    val header = new Array[Byte](512)
    val out = Seq.newBuilder[File]
    try {
      var done = false
      while (!done) {
        val read = readFully(in, header)
        if (read < 512 || header.forall(_ == 0)) done = true
        else {
          val name = cstr(header, 0, 100)
          val size = java.lang.Long.parseLong(
            cstr(header, 124, 12).trim, 8)
          val typ = header(156).toChar
          if ((typ == '0' || typ == 0.toChar) && name.nonEmpty) {
            val f = safeChild(dir, name)
            f.getParentFile.mkdirs()
            val fos = new FileOutputStream(f)
            try {
              var left = size
              val buf = new Array[Byte](64 * 1024)
              while (left > 0) {
                val n = in.read(buf, 0, math.min(left, buf.length).toInt)
                if (n < 0) throw new java.io.EOFException(name)
                fos.write(buf, 0, n)
                left -= n
              }
            } finally fos.close()
            out += f
          } else skipFully(in, size, name)
          val pad = (512 - size % 512) % 512
          skipFully(in, pad, name)
        }
      }
    } finally in.close()
    out.result()
  }

  private def safeChild(dir: File, entry: String): File = {
    val f = new File(dir, entry)
    if (!f.getCanonicalPath.startsWith(dir.getCanonicalPath))
      throw new IllegalArgumentException(s"archive path escapes dir: $entry")
    f
  }

  private def cstr(b: Array[Byte], off: Int, len: Int): String = {
    val end = (off until off + len).find(i => b(i) == 0).getOrElse(off + len)
    new String(b, off, end - off, "US-ASCII")
  }

  /** InputStream.skip may skip fewer bytes than asked (Buffered/GZIP
    * streams legitimately short-skip); a partial skip silently misaligns
    * every subsequent 512-byte tar header. Loop until the full count is
    * consumed, reading-and-discarding when skip makes no progress.
    */
  private def skipFully(in: InputStream, count: Long, entry: String): Unit = {
    var left = count
    val buf = new Array[Byte](8 * 1024)
    while (left > 0) {
      val n = in.skip(left)
      if (n > 0) left -= n
      else {
        val r = in.read(buf, 0, math.min(left, buf.length).toInt)
        if (r < 0) throw new java.io.EOFException(
          s"tar stream ended inside entry: $entry")
        left -= r
      }
    }
  }

  private def readFully(in: InputStream, buf: Array[Byte]): Int = {
    var off = 0
    while (off < buf.length) {
      val n = in.read(buf, off, buf.length - off)
      if (n < 0) return off
      off += n
    }
    off
  }

  private def copyTo(in: InputStream, dest: File,
      close: Boolean = true): Unit = {
    val out = new FileOutputStream(dest)
    try {
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    } finally out.close()
  }
}
