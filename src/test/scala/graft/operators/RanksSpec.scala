package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranks (distributed global rank / ntile / BH) vs the single-partition
  * window reference implementations, on data with duplicates, ties
  * spanning partition boundaries, NaN and null p-values. */
class RanksSpec extends SparkSpec {
  import spark.implicits._

  // 10k rows, many ties in v (only 97 distinct), unique key k.
  private lazy val base = spark.range(10000).toDF("k")
    .withColumn("v", ($"k" * 7919 % 97).cast("double"))

  test("withGlobalRank equals row_number over a global window") {
    val got = Ranks.withGlobalRank(base, Seq($"v", $"k"), "r",
      totalCol = Some("n"))
    val want = base.withColumn("r",
        row_number().over(Window.partitionBy(lit(0)).orderBy($"v", $"k"))
          .cast("long"))
      .withColumn("n", lit(10000L))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    assert(got.count() === 10000L)
  }

  test("withNtile equals ntile over a global window (uneven buckets)") {
    // 10000 % 7 != 0 exercises the base+1 buckets
    val got = Ranks.withNtile(base, 7, Seq($"v", $"k"), "t")
    val want = base.withColumn("t",
      ntile(7).over(Window.partitionBy(lit(0)).orderBy($"v", $"k"))
        .cast("long"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("bhAdjust equals the window reference incl null/NaN passthrough") {
    val withBad = base.withColumn("p",
      when($"k" % 100 === 0, lit(null).cast("double"))
        .when($"k" % 101 === 0, lit(Double.NaN))
        .otherwise(($"v" + 1) / 100.0))
    val got = Ranks.bhAdjust(withBad, "p", "p_adj", tieCols = Seq($"k"))
      .withColumn("p_adj", round($"p_adj", 9))
    // reference: single-partition windows (Dm.adjustBH shape)
    val good = $"p".isNotNull && !isnan($"p")
    val want = withBad
      .withColumn("_r", when(good, row_number().over(
        Window.partitionBy(when(good, 1)).orderBy($"p"))))
      .withColumn("_n", count(when(good, 1))
        .over(Window.partitionBy(lit(1))))
      .withColumn("p_adj", when(good, least(
        min(when(good, $"p" * $"_n" / $"_r"))
          .over(Window.partitionBy(lit(1)).orderBy($"_r".desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        lit(1.0))))
      .drop("_r", "_n")
      .withColumn("p_adj", round($"p_adj", 9))
    // NaN p rows: join on key to compare (NaN != NaN under except)
    val diff = got.as("g").join(want.as("w"), "k")
      .filter(!($"g.p_adj" <=> $"w.p_adj"))
    assert(diff.isEmpty)
    assert(got.count() === 10000L)
  }

  test("withGlobalPrefixSum equals the window running sum, both modes") {
    val vals = base.withColumn("w", ($"k" * 31 % 11).cast("long"))
    val win = Window.partitionBy(lit(0)).orderBy($"k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wantIncl = vals.withColumn("s", sum($"w").over(win))
    val gotIncl = Ranks.withGlobalPrefixSum(vals, Seq($"k"), "w", "s")
    assert(gotIncl.except(wantIncl).isEmpty &&
      wantIncl.except(gotIncl).isEmpty)
    val wantExcl = vals.withColumn("s",
      coalesce(sum($"w").over(Window.partitionBy(lit(0)).orderBy($"k")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val gotExcl = Ranks.withGlobalPrefixSum(vals, Seq($"k"), "w", "s",
      exclusive = true)
    assert(gotExcl.except(wantExcl).isEmpty &&
      wantExcl.except(gotExcl).isEmpty)
  }

  test("withGlobalPrefixSum treats NULL values as zero") {
    val vals = base.withColumn("w",
      when($"k" % 5 === 0, lit(null).cast("long"))
        .otherwise(($"k" % 3).cast("long")))
    val win = Window.partitionBy(lit(0)).orderBy($"k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = vals.withColumn("s",
      coalesce(sum($"w").over(win), lit(0L)))
    val got = Ranks.withGlobalPrefixSum(vals, Seq($"k"), "w", "s")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("bhAdjust of an empty frame is empty; singleton is min(1, p*1/1)") {
    val empty = spark.range(0).toDF("k").withColumn("p", lit(0.5))
    assert(Ranks.bhAdjust(empty, "p", "a").count() === 0L)
    val one = Seq((1L, 0.25)).toDF("k", "p")
    val a = Ranks.bhAdjust(one, "p", "a").select("a").as[Double].head()
    assert(a === 0.25)
  }

  /** BH by brute force on the driver: sort the non-null, non-NaN p
    * ascending, p·n/rank in double, suffix minimum, cap at 1. */
  private def bruteBh(ps: Seq[Option[Double]]): Seq[Option[Double]] = {
    val good = ps.zipWithIndex
      .collect { case (Some(p), i) if !p.isNaN => (p, i) }.sortBy(_._1)
    val n = good.size.toLong
    val out = Array.fill[Option[Double]](ps.size)(None)
    var m = Double.PositiveInfinity
    good.zipWithIndex.reverseIterator.foreach { case ((p, i), r) =>
      m = math.min(m, p * n / (r + 1).toLong)
      out(i) = Some(math.min(m, 1.0))
    }
    out.toSeq
  }

  test("bhAdjust equals a driver-side brute force exactly: ties, null, " +
      "NaN, p*n/rank above 1, empty partitions, two chained calls") {
    // 45 rows over 64 range partitions: most partitions are empty
    def pOf(k: Int, salt: Int): Option[Double] =
      if ((k + salt) % 11 == 0) None
      else if ((k + salt) % 13 == 5) Some(Double.NaN)
      else if (k % 9 == salt) Some(1.25) // capped at 1
      else if (k % 4 == 0) Some(0.9 + (k % 3) * 0.03) // p*n/rank > 1
      else Some(((k * 7 + salt) % 6 + 1) / 97.0) // six tied values
    val rows = (0 until 45).map(k => (k.toLong, pOf(k, 0), pOf(k, 3)))
    val df = rows.toDF("k", "p", "q")
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "64")
    val got = try {
      val twice = Ranks.bhAdjust(Ranks.bhAdjust(df, "p", "p_adj"),
        "q", "q_adj")
      val plan = twice.queryExecution.executedPlan.toString
      Seq("Window", "BroadcastHashJoin", "Union").foreach { op =>
        assert(!plan.contains(op), s"$op in\n$plan")
      }
      twice.collect()
    } finally spark.conf.set(key, prev)
    assert(got.length == rows.size)
    val byKey = got.map(r => r.getAs[Long]("k") -> r).toMap
    def bits(v: Option[Double]) = v.map(java.lang.Double.doubleToRawLongBits)
    for ((want, c) <- Seq((bruteBh(rows.map(_._2)), "p_adj"),
        (bruteBh(rows.map(_._3)), "q_adj")); k <- rows.indices) {
      val g = Option(byKey(k.toLong).getAs[java.lang.Double](c))
        .map(_.doubleValue)
      assert(bits(g) == bits(want(k)), s"$c at k=$k: got $g, want ${want(k)}")
    }
    // the fixture reaches every case it names
    assert(rows.exists(_._2.isEmpty) && rows.exists(_._2.exists(_.isNaN)))
    assert(bruteBh(rows.map(_._2)).flatten.contains(1.0))
  }
}
