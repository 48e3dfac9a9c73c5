package graft

/** [[Q.t]]'s fixture contract: one temp view per (session, path), which
  * serves the first file listing until `REFRESH TABLE` re-lists it. */
class QSpec extends SparkSpec {

  test("Q.t fixtures are per-session views that REFRESH TABLE re-lists") {
    val dir = java.nio.file.Files.createTempDirectory("qview").toString
    val path = s"$dir/rows.parquet"
    val view = Q.view(dir, "rows")
    assert(view == s"`$path`")
    def write(from: Long, to: Long, mode: String): Unit =
      spark.range(from, to).toDF("id").write.mode(mode).parquet(path)
    def rows = Q.t(spark, dir, "rows").count()

    write(0, 3, "overwrite")
    assert(rows == 3)
    // An appended part file is not in the first listing. (An overwrite
    // would delete the listed files, so a stale read fails instead of
    // counting.)
    write(3, 5, "append")
    assert(rows == 3)
    spark.catalog.refreshTable(view)
    assert(rows == 5)
    write(0, 7, "overwrite")
    spark.catalog.refreshTable(view)
    assert(rows == 7)

    assert(spark.catalog.tableExists(view))
    assert(!spark.newSession().catalog.tableExists(view))
  }
}
