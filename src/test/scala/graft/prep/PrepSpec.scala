package graft.prep

import graft.SparkSpec
import graft.core.{Masks, Schemas}
import graft.functions.StatFuncs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec,
  BroadcastHashJoinExec}
import org.apache.spark.sql.functions._

/** One signal row of the pOOBAH parity fixture (the signal schema). */
final case class PoobahCell(sample_label: String, probe_id: String,
    inf_type: String, channel: String, probe_type: String,
    mask_info: String, meth_g: Option[Float], meth_r: Option[Float],
    unmeth_g: Option[Float], unmeth_r: Option[Float],
    p_value: Option[Float] = None)

/** Preprocessing semantics on a deterministic synthetic array: 150 type I
  * probes per channel + 100 type II + negative controls — big enough for
  * NOOB's ≥100-background guard and stable ECDFs. */
class PrepSpec extends SparkSpec {
  import spark.implicits._

  // deterministic LCG so the fixture never changes
  private def lcg(seed: Long): Iterator[Double] =
    Iterator.iterate(seed)(s => (s * 6364136223846793005L + 1442695040888963407L))
      .map(s => ((s >>> 33).toDouble % 1000.0 + 1000.0) % 1000.0)

  def signal: DataFrame = {
    val r = lcg(42L)
    def nx(lo: Double, hi: Double): Float =
      (lo + (hi - lo) * (r.next() / 1000.0)).toFloat
    val t1g = (0 until 150).map { i =>
      ("s1", s"cg_g$i", "I", "G", "cg", "",
        Some(nx(3000, 6000)), Some(nx(100, 400)), // meth_g, meth_r (oob)
        Some(nx(2000, 5000)), Some(nx(100, 400)), // unmeth_g, unmeth_r (oob)
        None: Option[Float])
    }
    val t1r = (0 until 150).map { i =>
      ("s1", s"cg_r$i", "I", "R", "cg", "",
        Some(nx(100, 400)), Some(nx(3000, 6000)),
        Some(nx(100, 400)), Some(nx(2000, 5000)), None: Option[Float])
    }
    val t2 = (0 until 100).map { i =>
      ("s1", s"cg_t$i", "II", null: String, "cg", "",
        Some(nx(1000, 8000)), None: Option[Float],
        None: Option[Float], Some(nx(1000, 8000)), None: Option[Float])
    }
    val neg = (0 until 30).map { i =>
      ("s1", s"ctl_Negative_$i", "II", null: String, "ctl", "",
        Some(nx(80, 300)), None: Option[Float],
        None: Option[Float], Some(nx(80, 300)), None: Option[Float])
    }
    val norm = Seq(
      ("s1", "ctl_norm_c_1", "II", null: String, "ctl", "",
        Some(4000f), None: Option[Float], None: Option[Float],
        Some(100f), None: Option[Float]),
      ("s1", "ctl_norm_a_1", "II", null: String, "ctl", "",
        Some(100f), None: Option[Float], None: Option[Float],
        Some(5000f), None: Option[Float]))
    (t1g ++ t1r ++ t2 ++ neg ++ norm).toDF("sample_label", "probe_id",
      "inf_type", "channel", "probe_type", "mask_info", "meth_g", "meth_r",
      "unmeth_g", "unmeth_r", "p_value")
  }

  lazy val sig = signal.cache()
  lazy val noMasks = Masks.empty(spark)

  test("infer type-I channel: manifest mismatches get switched") {
    // craft: one probe labeled G whose R signal dominates
    val flipped = Seq(("s1", "cg_flip", "I", "G", "cg", "",
      Some(150f), Some(5000f), Some(160f), Some(4500f), None: Option[Float]))
      .toDF("sample_label", "probe_id", "inf_type", "channel", "probe_type",
        "mask_info", "meth_g", "meth_r", "unmeth_g", "unmeth_r", "p_value")
    val (updated, _) = Prep.inferType1Channel(sig.unionByName(flipped))
    val ch = updated.filter($"probe_id" === "cg_flip").head()
      .getAs[String]("channel")
    assert(ch == "R")
    // well-behaved G probes stay G
    val g0 = updated.filter($"probe_id" === "cg_g0").head()
      .getAs[String]("channel")
    assert(g0 == "G")
  }

  test("channel-switch summary counts probes per (manifest, inferred)") {
    // fixture: 150 G probes with G-dominant signal, 150 R probes with
    // R-dominant signal, plus one mislabeled G probe whose R dominates
    val flipped = Seq(("s1", "cg_flip2", "I", "G", "cg", "",
      Some(150f), Some(5000f), Some(160f), Some(4500f), None: Option[Float]))
      .toDF("sample_label", "probe_id", "inf_type", "channel", "probe_type",
        "mask_info", "meth_g", "meth_r", "unmeth_g", "unmeth_r", "p_value")
    val m = Prep.channelSwitchSummary(sig.unionByName(flipped))
      .collect()
      .map(r => (r.getAs[String]("manifest_channel"),
        r.getAs[String]("inferred_channel")) -> r.getAs[Long]("n_probes"))
      .toMap
    assert(m((("G"), ("G"))) == 150L)
    assert(m((("R"), ("R"))) == 150L)
    assert(m((("G"), ("R"))) == 1L) // the mislabeled probe
    assert(!m.contains(("R", "G")))
    // type II probes are excluded entirely
    assert(m.values.sum == 301L)
  }

  test("linear dye bias equalizes channel medians toward the reference") {
    val before = Prep.ibCells(sig.filter($"inf_type" === "I"))
      .groupBy("channel").agg(expr("percentile(value, 0.5)").as("med"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val corrected = Prep.dyeBiasCorrectionL(sig)
    val after = Prep.ibCells(corrected.filter($"inf_type" === "I"))
      .groupBy("channel").agg(expr("percentile(value, 0.5)").as("med"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // after scaling, both channel medians ≈ the same reference value
    assert(math.abs(after("G") - after("R")) / after("G") < 0.05)
    assert(math.abs(before("G") - before("R")) > 0) // was actually skewed
  }

  test("scrub subtracts the OOB median and clips at 1") {
    val med = Prep.oobCells(sig).groupBy("channel")
      .agg(expr("percentile(value, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val scrubbed = Prep.scrubBackgroundCorrection(sig)
    val probe = sig.filter($"probe_id" === "cg_g0").head()
    val got = scrubbed.filter($"probe_id" === "cg_g0").head()
    val expected = math.max(
      probe.getAs[Float]("meth_g") - med("G"), 1.0).toFloat
    assert(math.abs(got.getAs[Float]("meth_g") - expected) < 0.01)
    // oob cells can go to the floor of 1
    val floorCount = scrubbed.filter($"meth_r" === 1f ||
      $"unmeth_r" === 1f).count()
    assert(floorCount > 0)
  }

  test("scrub preserves NULL cells (np.clip(NaN) is NaN, not 1)") {
    val withNull = Seq(("s1", "cg_null", "I", "G", "cg", "",
      None: Option[Float], Some(500f), Some(120f), Some(400f),
      None: Option[Float]))
      .toDF("sample_label", "probe_id", "inf_type", "channel",
        "probe_type", "mask_info", "meth_g", "meth_r", "unmeth_g",
        "unmeth_r", "p_value")
    val scrubbed = Prep.scrubBackgroundCorrection(sig.unionByName(withNull))
      .filter($"probe_id" === "cg_null").head()
    // the NULL meth_g must STAY NULL — an unguarded greatest(NULL - bg, 1)
    // would resurrect it as 1.0 (samples.py:1527 clips NaN to NaN)
    assert(scrubbed.isNullAt(scrubbed.fieldIndex("meth_g")))
    // sibling non-null cells on the same row are still scrubbed
    assert(!scrubbed.isNullAt(scrubbed.fieldIndex("unmeth_g")))
  }

  test("NOOB: corrected values ≈ offset + positive signal; order kept") {
    val corrected = Prep.noobBackgroundCorrection(spark, sig, noMasks)
    val pairs = sig.select($"probe_id", $"meth_g".as("before"))
      .join(corrected.select($"probe_id", $"meth_g".as("after")), "probe_id")
      .filter($"before".isNotNull)
      .collect().map(r => (r.getAs[Float]("before"), r.getAs[Float]("after")))
    assert(pairs.nonEmpty)
    // all corrected values ≥ offset (15) + floor
    assert(pairs.forall(_._2 >= 15f))
    // monotone: higher raw → higher corrected (convolution is monotone)
    val sorted = pairs.sortBy(_._1)
    assert(sorted.zip(sorted.tail).forall { case ((_, a1), (_, a2)) =>
      a2 >= a1 - 0.01f })
    // strong signal barely changes (bg subtraction ≈ mu + var/alpha ≈ bg level)
    val strong = pairs.filter(_._1 > 5000)
    assert(strong.forall { case (b, a) => a < b && a > b - 600 })
  }

  test("NOOB skips when background is too small") {
    val tiny = sig.limit(20)
    assert(Prep.noobFits(tiny, noMasks).isEmpty)
    // and the correction is then the identity
    val out = Prep.noobBackgroundCorrection(spark, tiny, noMasks)
    assert(out.collect().toSet == tiny.collect().toSet)
  }

  test("pOOBAH p-values match a manual ECDF computation") {
    val (withP, maskRows) = Prep.poobah(spark, sig, noMasks,
      useNegativeControls = true, threshold = 0.05)
    // manual: background G = oob G cells + neg controls G
    val bgG = (Prep.oobCells(sig).filter($"channel" === "G")
      .select("value").collect().map(_.getFloat(0).toDouble) ++
      Prep.negControlCells(sig).filter($"channel" === "G")
        .select("value").collect().map(_.getFloat(0).toDouble)).sorted
    val bgR = (Prep.oobCells(sig).filter($"channel" === "R")
      .select("value").collect().map(_.getFloat(0).toDouble) ++
      Prep.negControlCells(sig).filter($"channel" === "R")
        .select("value").collect().map(_.getFloat(0).toDouble)).sorted
    val row = withP.filter($"probe_id" === "cg_g0").head()
    val maxG = math.max(row.getAs[Float]("meth_g"),
      row.getAs[Float]("unmeth_g")).toDouble
    val maxR = math.max(row.getAs[Float]("meth_r"),
      row.getAs[Float]("unmeth_r")).toDouble
    val pg = 1.0 - StatFuncs.ecdfCount(bgG, maxG).toDouble / bgG.length
    val pr = 1.0 - StatFuncs.ecdfCount(bgR, maxR).toDouble / bgR.length
    val expected = math.min(pg, pr).toFloat
    assert(math.abs(row.getAs[Float]("p_value") - expected) < 1e-6)
    // strong in-band probes are detected (p = 0 vs background)
    val strongP = withP.filter($"probe_id" === "cg_t0").head()
      .getAs[Float]("p_value")
    assert(strongP <= 0.05f)
    assert(maskRows.columns.toSeq ==
      Seq("mask_name", "sample_label", "probe_id"))
  }

  /** pOOBAH parity fixture: s1 and s2 have different backgrounds, s3 is
    * weak (both channels sum ≤ 100, so the 0..999 prior applies). s1
    * repeats (s1, cg_dup) with different signal, s2 and s3 have null
    * in-band cells (an all-null row in weak s3 must stay null, not take
    * the prior), and cg_nu is a non-unique-masked type-I probe whose huge
    * out-of-band cells must leave the background. */
  private def parityCells: Seq[PoobahCell] = {
    val r = lcg(7L)
    def nx(lo: Double, hi: Double): Option[Float] =
      Some((lo + (hi - lo) * (r.next() / 1000.0)).toFloat)
    def sample(s: String, lo: Double, hi: Double, nI: Int, nNeg: Int) =
      (0 until nI).flatMap { i =>
        Seq(PoobahCell(s, s"cg_g$i", "I", "G", "cg", "", nx(3 * hi, 20 * hi),
            nx(lo, hi), nx(2 * hi, 15 * hi), nx(lo, hi)),
          PoobahCell(s, s"cg_r$i", "I", "R", "cg", "", nx(lo, hi),
            nx(3 * hi, 20 * hi), nx(lo, hi), nx(2 * hi, 15 * hi)))
      } ++ (0 until 25).map(i => PoobahCell(s, s"cg_t$i", "II", null, "cg",
        "", nx(lo, 4 * hi), None, None, nx(lo, 4 * hi))) ++
      (0 until nNeg).map(i => PoobahCell(s, s"ctl_Negative_$i", "II", null,
        "ctl", "", nx(lo, 2 * hi), None, None, nx(lo, 2 * hi)))
    sample("s1", 100, 400, 40, 12) ++ sample("s2", 300, 900, 30, 8) ++
      sample("s3", 0, 2, 4, 5) ++ Seq(
        PoobahCell("s1", "cg_dup", "I", "G", "cg", "", Some(350f),
          Some(120f), Some(200f), Some(300f)),
        PoobahCell("s1", "cg_dup", "I", "G", "cg", "", Some(5000f),
          Some(150f), Some(4000f), Some(390f)),
        PoobahCell("s2", "cg_null", "II", null, "cg", "", None, None, None,
          None),
        PoobahCell("s3", "cg_null", "II", null, "cg", "", None, None, None,
          None),
        PoobahCell("s2", "cg_half", "I", "G", "cg", "", None, Some(500f),
          Some(4000f), None),
        PoobahCell("s1", "cg_nu", "I", "R", "cg", "nonunique", Some(1e6f),
          Some(5000f), Some(1e6f), Some(4000f)),
        PoobahCell("s2", "cg_nu", "I", "R", "cg", "nonunique", Some(1e6f),
          Some(5000f), Some(1e6f), Some(4000f)))
  }

  /** Driver-side pOOBAH over plain Scala rows: non-unique probes leave
    * the background, each channel's background is sorted once and
    * searched with StatFuncs.ecdfCount, weak channels take the prior,
    * and every (sample, probe) key carries its rows' minimum. */
  private def brutePoobah(cells: Seq[PoobahCell], negControls: Boolean)
      : (Map[(String, String), Option[Float]], Set[(String, String)]) = {
    val nonUnique = Schemas.nonUniqueMaskNames.r
    val masked = cells.filter(c => nonUnique.findFirstIn(c.mask_info)
      .isDefined).map(_.probe_id).toSet
    val live = cells.filterNot(c => masked(c.probe_id))
    val oob = live.filter(c => c.inf_type == "I" &&
      Set("G", "R")(c.channel)).flatMap { c =>
      if (c.channel == "R") Seq((c.sample_label, "G", c.meth_g),
        (c.sample_label, "G", c.unmeth_g))
      else Seq((c.sample_label, "R", c.meth_r),
        (c.sample_label, "R", c.unmeth_r))
    }
    val neg = if (!negControls) Nil else live.filter(c =>
      c.probe_type == "ctl" && c.probe_id.toLowerCase.contains("negative"))
      .flatMap(c => Seq((c.sample_label, "G", c.meth_g),
        (c.sample_label, "R", c.unmeth_r)))
    val bg = (oob ++ neg).collect { case (s, ch, Some(v)) => (s, ch) ->
      v.toDouble }.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).sorted.toArray }
    val weak = bg.keySet.filter(k => bg(k).foldLeft(0.0)(_ + _) <= 100)
    def pCh(s: String, ch: String, a: Option[Float],
        b: Option[Float]): Option[Double] =
      (a ++ b).reduceOption((x, y) => math.max(x, y)).flatMap { f =>
        val v = f.toDouble
        bg.get((s, ch)).map { arr =>
          if (weak((s, ch)))
            1.0 - math.min(math.max(math.floor(v) + 1, 0.0), 1000.0) / 1000.0
          else 1.0 - StatFuncs.ecdfCount(arr, v).toDouble / arr.length
        }
      }
    val perRow = cells.map { c =>
      (c.sample_label, c.probe_id) ->
        (pCh(c.sample_label, "G", c.meth_g, c.unmeth_g) ++
          pCh(c.sample_label, "R", c.meth_r, c.unmeth_r)).reduceOption(
          (x, y) => math.min(x, y))
    }
    (perRow.groupBy(_._1).map { case (k, ps) =>
      k -> ps.flatMap(_._2).reduceOption((x, y) => math.min(x, y))
        .map(_.toFloat) }, weak)
  }

  /** Run `body` with broadcast joins allowed (the session default) or
    * off, which forces the shuffled join a background over the
    * broadcast threshold gets at scale. */
  private def withBroadcast[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, if (on) prev else "-1")
    try body finally spark.conf.set(key, prev)
  }

  test("pOOBAH p-values equal a driver-side brute force on every row") {
    val cells = parityCells
    val df = cells.toDF()
    for (neg <- Seq(true, false); broadcast <- Seq(true, false)) {
      val leg = s"negControls=$neg broadcast=$broadcast"
      val (want, weak) = brutePoobah(cells, neg)
      assert(weak == Set(("s3", "G"), ("s3", "R")),
        s"fixture: only s3 may be weak ($leg)")
      val got = withBroadcast(broadcast) {
        val (withP, _) = Prep.poobah(spark, df, noMasks,
          useNegativeControls = neg)
        assert(withP.columns.toSeq == Seq("sample_label", "probe_id",
          "inf_type", "channel", "probe_type", "mask_info", "meth_g",
          "meth_r", "unmeth_g", "unmeth_r", "p_value"))
        try withP.select($"sample_label", $"probe_id", $"p_value")
          .as[(String, String, Option[Float])].collect()
        finally withP.unpersist()
      }
      assert(got.map(g => (g._1, g._2)).sorted.toSeq ==
        cells.map(c => (c.sample_label, c.probe_id)).sorted)
      got.foreach { case (s, p, pv) =>
        assert(pv === want((s, p)), s"($s, $p) $leg")
      }
      // the legs the fixture exists for are really exercised
      assert(got.filter(_._2 == "cg_dup").map(_._3).distinct.length == 1)
      assert(got.exists(g => g._1 == "s2" && g._2 == "cg_null" &&
        g._3.isEmpty))
      assert(got.exists(g => g._1 == "s3" && g._2 == "cg_null" &&
        g._3.isEmpty))
      assert(got.exists(g => g._1 == "s3" && g._3.exists(_ > 0.5f)))
    }
  }

  private object aqe extends AdaptiveSparkPlanHelper

  test("pOOBAH joins the background once; its window adds no shuffle") {
    val df = parityCells.toDF()
    for (broadcast <- Seq(true, false)) withBroadcast(broadcast) {
      val (withP, _) = Prep.poobah(spark, df, noMasks)
      // the plan that filled withP's cache, through its AQE stages but
      // not into the caches it reads
      val exec = aqe.collect(withP.queryExecution.executedPlan) {
        case s: InMemoryTableScanExec => s.relation.cachedPlan }.head
      withP.unpersist()
      val joins = aqe.collect(exec) {
        case j: BaseJoinExec if j.leftKeys.map(_.sql) == Seq("sample_label")
          => j }
      assert(joins.nonEmpty, s"no join on sample_label alone\n$exec")
      val join = joins.head
      def shuffles(p: SparkPlan) =
        aqe.collect(p) { case e: ShuffleExchangeExec => e }
      val background = shuffles(join.right)
      // the signal's path: the window, the join and the signal side
      val signalKeys = shuffles(exec).filterNot(e =>
        background.exists(_ eq e)).map(_.outputPartitioning match {
          case h: HashPartitioning => h.expressions.map(_.sql)
          case other => Seq(other.toString)
        })
      assert(join.isInstanceOf[BroadcastHashJoinExec] == broadcast,
        s"broadcast=$broadcast\n$exec")
      // the signal moves at most by sample_label, for the join (AQE may
      // plan that shuffle before it turns the join into a broadcast):
      // the (sample_label, probe_id) window adds no exchange of its own
      assert(signalKeys.forall(_ == Seq("sample_label")),
        s"broadcast=$broadcast: signal shuffles $signalKeys\n$exec")
    }
  }
}
