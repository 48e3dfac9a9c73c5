package perfbench

import graft.Q
import graft.queries._
import org.apache.spark.sql.{Row, SparkSession}

/** One pass = each query of [[RegistrySmall.Subset]], in registry order,
  * constructed and then fully consumed with `collect()` (every column
  * and the final sort; `count()` would let Catalyst prune both). A span
  * covers construction plus action, with the action also timed alone.
  * The collected rows are digested after the pass, outside the timing. */
final class RegistrySmall(sfDir: String) extends Workload {
  import RegistrySmall._

  /** Two passes per set-up: the first compiles every plan and resolves
    * every table in the fresh session, and the second is still 20-30%
    * slower than the third, so the timed passes start converged. Three
    * set-ups, so `setup_s` is the median of a cold one and two in a
    * warm JVM. */
  val warmups = 2
  val setups = 3

  def iteration(spark: SparkSession, tr: Tracer, it: Int): Outcome = {
    val results = queries.map { case (obj, q) =>
      var construct = 0.0
      val res = tr.span(q.name, it, parent = obj) {
        val t0 = System.nanoTime()
        try {
          val df = q.run(spark, sfDir)
          construct = (System.nanoTime() - t0) / 1e9
          Right(df.collect())
        } catch { case e: Throwable => Left(e.toString) }
      }
      (q.name, construct, res)
    }
    Outcome(() => Map("queries" -> results.map { case (name, c, res) =>
      Map("name" -> name, "construct_s" -> c) ++ (res match {
        case Right(rows) =>
          Map("rows" -> rows.length, "digest" -> digest(rows))
        case Left(err) => Map("error" -> err)
      })
    }))
  }
}

object RegistrySmall {
  /** Registry objects by name, in `SparkEntry.registry` order. */
  val objects: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.all, "Windows" -> Windows.all,
    "Stats" -> Stats.all, "IntervalQ" -> IntervalQ.all,
    "TextQ" -> TextQ.all, "SimilarityQ" -> SimilarityQ.all,
    "ExtraQ" -> ExtraQ.all, "EventTimeQ" -> EventTimeQ.all,
    "CurationQ" -> CurationQ.all, "DomainQ" -> DomainQ.all,
    "DomainQ2" -> DomainQ2.all, "IoQ" -> IoQ.all)

  /** The timed subset: one light query from each registry object (see
    * perfbench/NOTES.md for how they were picked). A name missing from
    * the registry fails the run. */
  val Subset: Seq[String] = Seq(
    "q08_anti_join", "q17_running_sum", "q23_topk_global",
    "q25_tile_count_overlaps", "q29_text_stats", "q102_embedding_qc",
    "q57_betas_endtoend", "q119_scd2_intervals", "q133_score_calibration",
    "q176_cnv_bin_merge_ramp", "q88_cnv_segmentation", "q153_sheet_read")

  lazy val queries: Seq[(String, Q)] = {
    val byName = objects.flatMap { case (o, qs) => qs.map(q => q.name -> (o, q)) }
      .toMap
    val missing = Subset.filterNot(byName.contains)
    require(missing.isEmpty, s"not in the registry: ${missing.mkString(",")}")
    objects.flatMap(_._2).map(_.name).filter(Subset.contains).map(byName)
  }

  /** Row count plus a sha-256 over every value, doubles and floats
    * rounded to 6 places (the registry's own oracle precision). */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def norm(v: Any): String = v match {
      case null => "∅"
      case d: Double => fmt(d)
      case f: Float => fmt(f.toDouble)
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted
          .mkString("{", ",", "}")
      case s: Iterable[_] => s.map(norm).mkString("[", ",", "]")
      case x => x.toString
    }
    rows.foreach(r => md.update((norm(r) + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val s = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      if (s.signum == 0) "0" else s.bigDecimal.toPlainString
    }
}
