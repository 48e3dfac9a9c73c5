package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (local iteration only — the driver passes two):
    // comma-separated query-name substrings to restrict the dump to.
    val only = args.lift(2).map(_.split(",").toSeq)
    val spark = Session.local(Session.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A failed query must produce a RED correctness row, not a missing
        // one (r6: q16/q43/q46 silently vanished from the report). Write a
        // one-row error frame in place of the result — its schema can never
        // match the oracle's, so the driver compare goes red loudly.
        try {
          import spark.implicits._
          Seq(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
            .toDF("_graft_query_failed")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case NonFatal(e2) =>
          System.err.println(s"[verify] $name error-marker write failed: $e2")
        }
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** `oracleSql` as a JSON object — shared by the driver dump above and
    * the in-CI regression gate (RegressionGateSpec), so both emit the
    * byte-identical file `tools/check_oracle.py` parses. Jackson escapes
    * every control character: a tab or CR in hand-written SQL must not
    * make a json.load fail and silently zero a correctness run. */
  def oracleJson(oracles: Map[String, String]): String =
    ScaleBench.Json.writeValueAsString(oracles)
}
