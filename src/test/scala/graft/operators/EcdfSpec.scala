package graft.operators

import graft.SparkSpec
import graft.functions.StatFuncs
import org.apache.spark.sql.functions._

/** Distributed ECDF lookup vs the binary-search reference
  * (StatFuncs.ecdfCount), including ties between query and background
  * values (right-continuous: equal background counts), null values, and
  * groups with no background; plus the edge semantics of Spark's double
  * ordering (NaN greatest, −0.0 = 0.0). */
class EcdfSpec extends SparkSpec {
  import spark.implicits._

  test("ecdfLookup matches ecdfCount per group, ties included") {
    val bgLocal = Map(
      "a" -> Array(1.0, 2.0, 2.0, 5.0, 9.0),
      "b" -> Array(4.0, 4.0, 4.0))
    val bg = bgLocal.toSeq.flatMap { case (g, vs) => vs.map(g -> _) }
      .toDF("g", "v")
    val qs = Seq(("a", Some(0.5)), ("a", Some(2.0)), ("a", Some(9.0)),
      ("a", Some(10.0)), ("b", Some(4.0)), ("b", Some(3.9)),
      ("c", Some(1.0)), ("a", None)).toDF("g", "v")
    val got = Ecdf.ecdfLookup(qs, bg, Seq("g"), "v", "F")
      .as[(String, Option[Double], Option[Double])].collect()
    got.foreach { case (g, v, f) =>
      val want = for {
        vv <- v
        arr <- bgLocal.get(g)
      } yield StatFuncs.ecdfCount(arr, vv).toDouble / arr.length
      assert(f === want, s"group=$g v=$v")
    }
    assert(got.length === 8)
  }

  test("ecdfLookup edges: NaN, signed zeros, all-null and background-only" +
      " groups") {
    val nan = Double.NaN
    val bg = Seq(
      ("n", Some(1.0)), ("n", Some(nan)), ("n", Some(3.0)),
      ("m", Some(1.0)), ("m", Some(2.0)),
      ("z", Some(-0.0)), ("z", Some(0.0)), ("z", Some(-1.0)),
      ("p", Some(0.0)), ("q", Some(-0.0)),
      ("x", None), ("x", None),
      ("y", Some(5.0))).toDF("g", "v")
    val qs = Seq(
      // NaN is the greatest double and ties with background NaN
      (1, "n", nan, Some(1.0)), (2, "n", 2.0, Some(1.0 / 3)),
      (3, "n", 3.0, Some(2.0 / 3)), (4, "n", 1e300, Some(2.0 / 3)),
      (5, "m", nan, Some(1.0)),
      // −0.0 and 0.0 are one value: every signed zero counts both
      (6, "z", 0.0, Some(1.0)), (7, "z", -0.0, Some(1.0)),
      (8, "z", -1e-300, Some(1.0 / 3)),
      (9, "p", -0.0, Some(1.0)), (10, "q", 0.0, Some(1.0)),
      // a group whose background is all null has none
      (11, "x", 1.0, None))
    val got = Ecdf.ecdfLookup(
        qs.map { case (id, g, v, _) => (id, g, v) }.toDF("id", "g", "v"),
        bg, Seq("g"), "v", "F")
      .select($"id", $"F").as[(Int, Option[Double])].collect().toMap
    // the background-only group "y" adds no row
    assert(got.size === qs.size)
    qs.foreach { case (id, g, v, want) =>
      assert(got(id) === want, s"id=$id group=$g v=$v")
    }
  }
}
