package graft

import java.nio.file.Files

/** Smoke test of every [[Profile]] mode on one light registry query, so
  * the profiling tool cannot rot unnoticed. */
class ProfileSpec extends SparkSpec {
  private val q = "q06_join_multiway"

  private def profile(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out) {
      Profile.command(args, sf("sf0.001"), sf("sf0.001"))(spark)
    }
    out.toString("UTF-8")
  }

  test("driver mode prints one table row naming the query, with its jobs") {
    val out = profile("driver", q)
    val rows = out.linesIterator.filter(_.startsWith(q + " ")).toVector
    assert(rows.size == 1, out)
    // columns: query wall constr action jobs ... maxExec
    val cols = rows.head.trim.split("\\s+")
    assert(cols(4).toInt >= 1, out)
    assert(cols.last.matches("(e\\d+|rdd)=\\d+"), out)
  }

  test("driver mode's warm-up registers every view of the timed " +
      "directory, so no timed construction pays a first read") {
    val dir = sf("sf0.001")
    val tables = new java.io.File(dir).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
    // a new session has no views; the warm-up runs at another directory
    val fresh = spark.newSession()
    Console.withOut(new java.io.ByteArrayOutputStream) {
      Profile.command(Seq("driver", q), dir, sf("sf0.01"))(fresh)
    }
    assert(tables.size > 3)
    tables.foreach(t =>
      assert(fresh.catalog.tableExists(Q.view(dir, t)), s"no view of $t"))
  }

  test("stages mode prints the timed pass's stages") {
    val out = profile("stages", q)
    assert(out.linesIterator.exists(_.startsWith("[stage ")), out)
  }

  test("plan mode writes the formatted physical plan to --out") {
    val dir = Files.createTempDirectory("profile")
    profile("plan", q, "--out", dir.toString, "--tag", "t")
    val f = dir.resolve(s"${q}_t.txt")
    assert(Files.exists(f))
    assert(Files.readString(f).contains("== Physical Plan =="))
  }

  test("audit mode prints the window audit of the named query") {
    val out = profile("audit", q)
    val lines = out.linesIterator.filter(_.startsWith("[windowaudit]"))
      .toVector
    assert(lines.head == s"[windowaudit] >>> $q", out)
    assert(lines.last.matches("\\[windowaudit\\] done \\(\\d+ flagged\\)"), out)
    assert(!lines.exists(_.contains(" ERR ")), out)
  }

  test("a malformed command line is rejected before any work") {
    intercept[IllegalArgumentException](Profile.command(Seq("nope"), "", ""))
    intercept[IllegalArgumentException](
      Profile.command(Seq("plan", q, "--out"), "", ""))
    intercept[IllegalArgumentException](
      Profile.command(Seq("audit", q, "extra"), "", ""))
  }
}
