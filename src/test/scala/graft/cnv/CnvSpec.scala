package graft.cnv

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CnvSpec extends SparkSpec {
  import spark.implicits._

  test("copyNumberVariation: amplified region shows cnv ≈ 1, flat ≈ 0") {
    // 200 probes; norm sample intensity = 1000 + i; target = same except
    // probes 50-99 doubled (one-copy gain)
    val probes = (0 until 200).map(i => s"cg$i")
    val norm = probes.zipWithIndex.map { case (p, i) =>
      (p, "n1", 1000.0 + i) }.toDF("probe_id", "sample_label", "total_ib")
    val target = probes.zipWithIndex.map { case (p, i) =>
      val base = 1000.0 + i
      (p, "t1", if (i >= 50 && i < 100) base * 2 else base)
    }.toDF("probe_id", "sample_label", "total_ib")
    val ranges = probes.zipWithIndex.map { case (p, i) =>
      (p, "1", i * 1000L, i * 1000L + 2L)
    }.toDF("probe_id", "chromosome", "start", "end")

    val cnv = Cnv.copyNumberVariation(spark, target, norm, ranges)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // regression absorbs the overall 1.25× level; gained region must sit
    // clearly above the flat region
    val flat = (0 until 50).map(i => cnv(s"cg$i"))
    val gain = (50 until 100).map(i => cnv(s"cg$i"))
    assert(gain.min > flat.max + 0.5)
    assert(math.abs(gain.sum / gain.size - flat.sum / flat.size - 1.0) < 0.3)
  }

  test("binary segmentation finds a clean breakpoint deterministically") {
    val values = Array.tabulate(120) { i =>
      (if (i < 60) 0.0 else 1.0) + 0.01 * math.sin(i.toDouble)
    }
    val segs = Cnv.cbs(values, shuffles = 200, pThreshold = 0.01, seed = 42L)
    assert(segs.exists { case (s, e) => s == 0 && math.abs(e - 60) <= 1 })
    assert(segs.length >= 2 && segs.length <= 4)
    // deterministic across runs (seeded)
    val segs2 = Cnv.cbs(values, 200, 0.01, 42L)
    assert(segs == segs2)
  }

  test("circular statistic finds an inserted plateau as 3 segments") {
    // gain with flanks on BOTH sides: a single-split scan needs two
    // lucky cuts, the arc statistic finds [40, 80) in one step
    val values = Array.tabulate(120) { i =>
      (if (i >= 40 && i < 80) 1.5 else 0.0) + 0.01 * math.cos(i.toDouble)
    }
    val segs = Cnv.cbs(values, shuffles = 200, pThreshold = 0.01, seed = 11L)
    assert(segs.exists { case (s, e) =>
      math.abs(s - 40) <= 1 && math.abs(e - 80) <= 1 })
    assert(segs.length == 3, segs.toString)
  }

  test("permutation pool is shared and bounded, verdicts unchanged " +
      "under concurrent splits") {
    val values = Array.tabulate(120) { i =>
      (if (i < 60) 0.0 else 1.0) + 0.01 * math.sin(i.toDouble)
    }
    // hammer cbs from many caller threads at once (the shape of 32
    // concurrent chromosome tasks each hitting significant splits)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence((1 to 16).toList.map(_ =>
        Future(Cnv.cbs(values, shuffles = 500, pThreshold = 0.01,
          seed = 42L)))), 2.minutes)
    assert(results.distinct.size == 1) // seeded determinism under contention
    // JVM-wide permutation threads stay within the bounded pool
    val permThreads = Thread.getAllStackTraces.keySet.toArray(
      Array.empty[Thread]).count(_.getName.startsWith("graft-cbs-perm"))
    assert(permThreads <= Cnv.PermPoolSize,
      s"$permThreads permutation threads exceed pool bound " +
        s"${Cnv.PermPoolSize}")
  }

  test("flat signal yields one segment") {
    val values = Array.tabulate(100)(i => 0.5 + 0.001 * (i % 3))
    val segs = Cnv.cbs(values, 200, 1e-4, 7L)
    assert(segs == Seq((0, 100)))
  }

  test("distributed segment() groups by chromosome") {
    val bins = (0 until 80).map { i =>
      val chrom = if (i < 40) "1" else "2"
      val base = if (i % 40 < 20) 0.0 else 1.2
      (chrom, (i % 40) * 50000L + 25000L, base + 0.02 * (i % 5))
    }.toDF("chrom", "map_loc", "cnv")
    val segs = Cnv.segment(spark, bins, shuffles = 200, pThreshold = 0.01)
      .collect()
    assert(segs.map(_.getString(0)).distinct.sorted.toSeq == Seq("1", "2"))
    // each chromosome should split into ~2 segments around bin 20
    val chr1 = segs.filter(_.getString(0) == "1")
    assert(chr1.length == 2)
    assert(chr1.map(_.getAs[Int]("nb_bins")).sum == 40)
  }

  test("bestArcs: argmax arc lands exactly on a planted plateau and " +
      "matches the local kernel") {
    val bins = (0 until 120).flatMap { i =>
      val plateau = if (i >= 30 && i < 70) 1.0 else 0.0
      Seq(("c1", i * 1000L, plateau + (if (i % 2 == 0) 0.01 else -0.01)),
        ("c2", i * 1000L, if (i % 3 == 0) 0.05 else -0.02))
    }.toDF("chrom", "map_loc", "cnv")
    val arcs = Cnv.bestArcs(spark, bins).collect()
      .map(r => r.getString(0) -> r).toMap
    // c1: the plateau arc [30, 70) must be the argmax, exactly
    val c1 = arcs("c1")
    assert(c1.getAs[Long]("arc_start") == 30L &&
      c1.getAs[Long]("arc_end") == 70L, c1.toString)
    assert(c1.getAs[Double]("arc_mean") > 0.9 &&
      math.abs(c1.getAs[Double]("rest_mean")) < 0.1)
    // both chromosomes: the distributed answer equals the local kernel
    for (ch <- Seq("c1", "c2")) {
      val v = (0 until 120).map { i =>
        if (ch == "c1")
          (if (i >= 30 && i < 70) 1.0 else 0.0) +
            (if (i % 2 == 0) 0.01 else -0.01)
        else if (i % 3 == 0) 0.05 else -0.02
      }.toArray
      val (t, i0, j0) = Cnv.maxT(v, 1)
      val r = arcs(ch)
      assert(r.getAs[Double]("best_t") == t)
      assert(r.getAs[Long]("arc_start") == i0.toLong &&
        r.getAs[Long]("arc_end") == j0.toLong)
    }
  }

  test("bin merge ramps to the minimum without collapsing uniform runs") {
    // 40 contiguous 50kb tiles with island-like clustered density
    // repeating [25, 25, 10] probes per tile (the reference's real
    // arrays are island/desert, never uniform): the ramp merges each
    // sparse tile into its dense left neighbor and STOPS — runs break
    // wherever two consecutive bins are already full. (A perfectly
    // uniform under-filled chromosome collapses to one bin under the
    // reference's own marking rules — that is faithful, not a bug;
    // the implementation before `ScaleBench domain` collapsed even
    // clustered data because it skipped the ramp.)
    val tiles = (0 until 40)
      .map(i => ("1", i * 50000L, (i + 1) * 50000L))
      .toDF("chrom", "start", "end")
    val positions = (0 until 40).flatMap { i =>
      val k = Seq(25, 10, 25)(i % 3)
      (0 until k).map(p => i * 50000L + p * (49000L / k))
    }
    val probes = positions
      .map(x => ("1", x, x + 2L, s"p$x"))
      .toDF("chrom", "start", "end", "probe_id")
    val merged = Cnv.mergeBinsToMinimumOverlap(spark, tiles, probes,
      minOverlap = 20).orderBy("start").collect()
    assert(merged.length > 5,
      s"clustered run collapsed to ${merged.length} bins")
    // every output bin holds >= 20 probes (the reference's post-filter)
    val spans = merged.map(r =>
      (r.getAs[Long]("start"), r.getAs[Long]("end")))
    spans.foreach { case (s, e) =>
      val n = positions.count(x => x >= s && x < e)
      assert(n >= 20, s"bin [$s,$e) has only $n probes")
    }
    // disjoint, ordered coverage
    spans.sliding(2).foreach {
      case Array((_, e1), (s2, _)) => assert(e1 <= s2)
      case _ =>
    }
  }

  test("bin merge leaves already-full bins untouched") {
    val tiles = (0 until 6)
      .map(i => ("1", i * 50000L, (i + 1) * 50000L))
      .toDF("chrom", "start", "end")
    // tiles 0-2 dense (25 probes), tiles 3-5 sparse (10 probes)
    val probes = (0 until 6).flatMap { i =>
      val k = if (i < 3) 25 else 10
      (0 until k).map(p =>
        ("1", i * 50000L + p * 1900L, i * 50000L + p * 1900L + 2L,
          s"p${i}_$p"))
    }.toDF("chrom", "start", "end", "probe_id")
    val merged = Cnv.mergeBinsToMinimumOverlap(spark, tiles, probes,
        minOverlap = 20).orderBy("start").collect()
      .map(r => (r.getAs[Long]("start"), r.getAs[Long]("end")))
    // the three dense tiles survive as-is; the sparse tail merges
    assert(merged.take(2).toSeq == Seq((0L, 50000L), (50000L, 100000L)))
    assert(merged.forall { case (s, e) => e > s })
  }

  test("distributed ECDF-count merge equals the per-chromosome kernel " +
      "on adversarial fixtures") {
    // The distributed path replaces the probe gather with prefix counts
    // at bin edges (a = #(start < end), b = #(end <= start)); this
    // fixture stresses its edge semantics: probes straddling bin
    // boundaries (counted in both bins by overlap, once in a merged
    // run), probes inside subtracted gaps (invisible to original bins,
    // visible to a merged run spanning the gap), a chromosome with no
    // probes, and one under the 100-probe eligibility floor.
    var seed = 0x9e3779b97f4a7c15L
    def next(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound + bound) % bound).toInt
    }
    val chroms = Seq("chrA", "chrB", "chrEmpty", "chrTiny")
    val bins = chroms.flatMap { c =>
      (0 until 40).map(i => (c, i * 1000L, i * 1000L + 1000L))
    }
    val probes = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    for (c <- Seq("chrA", "chrB"); _ <- 0 until 600) {
      val s = next(40000).toLong
      // ~1 in 8 probes straddles positions, widths 1-3000 (can cross
      // bin edges and cover whole bins)
      val w = 1L + next(if (next(8) == 0) 3000 else 3)
      probes += ((c, s, s + w))
    }
    // chrTiny: 50 sparse probes — every bin is under-filled, so the ramp
    // must collapse the whole chromosome into one merged bin on BOTH
    // paths (the merged recount spans former gaps identically)
    for (_ <- 0 until 50) {
      val s = next(40000).toLong; probes += (("chrTiny", s, s + 2))
    }
    val binsDf = bins.toDF("chrom", "start", "end")
    val probesDf = probes.toSeq.toDF("chrom", "start", "end")
    val got = Cnv.mergeBinsToMinimumOverlap(spark, binsDf, probesDf,
        minOverlap = 20, precision = 3, slack = 1L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val want = chroms.flatMap { c =>
      val bs = bins.filter(_._1 == c).map(b => (b._2, b._3)).toArray
        .sortBy(_._1)
      val pr = probes.filter(_._1 == c)
      Cnv.mergeRamp(bs, pr.map(_._2).toArray.sorted,
          pr.map(_._3).toArray.sorted, 20, 3, 1L)
        .map { case (s, e) => (c, s, e) }
    }.toSet
    assert(got == want)
    assert(want.nonEmpty && !want.exists(_._1 == "chrEmpty"))
    // the sparse chromosome collapsed to a single full-span bin
    assert(want.filter(_._1 == "chrTiny") == Set(("chrTiny", 0L, 40000L)))
  }

  test("mergeRamp equals a naive recount-from-probes reference on " +
      "randomized fixtures") {
    // The production kernel never re-touches probe data after the
    // initial edge-count pass: a merged run's overlap count is claimed
    // to be a(last constituent) − b(first constituent) because both
    // prefix counts are monotone in position. This reference breaks
    // that dependency — it RECOUNTS every bin from the sorted probe
    // arrays at every threshold pass — so any error in the carried
    // algebra (run a/b bookkeeping, slack run-breaks, identity passes,
    // the final filter) shows up as a divergence.
    def lb(a: Array[Long], x: Long): Int = {
      var lo = 0; var hi = a.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (a(m) < x) lo = m + 1 else hi = m
      }
      lo
    }
    def naiveRamp(bins0: Array[(Long, Long)], ps: Array[Long],
        pe: Array[Long], minOverlap: Int, precision: Int,
        slack: Long): Array[(Long, Long)] = {
      def cnt(s: Long, e: Long): Long =
        lb(ps, e).toLong - lb(pe, s + 1).toLong
      var bins = bins0
      if (bins.isEmpty) return Array.empty
      val first = bins.map { case (s, e) => cnt(s, e) }
      val step = math.max(1, precision)
      val mins = ((math.max(1L, first.min).toInt until minOverlap
        by step) :+ minOverlap).distinct.sorted
      for (t <- mins) {
        val len = bins.length
        val n = bins.map { case (s, e) => cnt(s, e) }
        val needs = Array.tabulate(len)(i => n(i) < t)
        val ml0 = Array.tabulate(len)(i => needs(i) && i > 0 &&
          bins(i)._1 <= bins(i - 1)._2 + slack)
        val ml = Array.tabulate(len)(i =>
          ml0(i) || (i < len - 1 && ml0(i + 1)))
        val mr0 = Array.tabulate(len)(i => needs(i) && !ml(i) &&
          i < len - 1 && bins(i + 1)._1 <= bins(i)._2 + slack)
        val mr = Array.tabulate(len)(i =>
          mr0(i) || (i > 0 && mr0(i - 1)))
        val tm = Array.tabulate(len)(i => ml(i) || mr(i))
        if (tm.exists(identity)) {
          val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
          var run: Option[(Long, Long)] = None
          for (i <- 0 until len) {
            if (tm(i)) run match {
              case Some((rs, re)) if bins(i)._1 <= re + slack =>
                run = Some((rs, math.max(re, bins(i)._2)))
              case _ =>
                run.foreach(out += _)
                run = Some(bins(i))
            } else {
              run.foreach(out += _); run = None
              out += bins(i)
            }
          }
          run.foreach(out += _)
          bins = out.toArray
        }
      }
      bins.filter { case (s, e) => cnt(s, e) >= minOverlap }
    }
    var seed = 0x51ab3c4d5e6f7081L
    def next(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound + bound) % bound).toInt
    }
    for (c <- 0 until 200) {
      val nBins = 1 + next(30)
      val binsBuf = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var pos = 0L
      for (_ <- 0 until nBins) {
        pos += next(4) // gaps 0-3: straddles every slack in 0-2
        val w = 1L + next(50)
        binsBuf += ((pos, pos + w)); pos += w
      }
      val probes = Array.fill(next(120)) {
        val s = next(pos.toInt + 5).toLong
        (s, s + 1L + next(6))
      }
      val ps = probes.map(_._1).sorted
      val pe = probes.map(_._2).sorted
      val minOverlap = 1 + next(8)
      val precision = 1 + next(4)
      val slack = next(3).toLong
      val bins = binsBuf.toArray
      val got = Cnv.mergeRamp(bins, ps, pe, minOverlap, precision,
        slack).toSeq
      val want = naiveRamp(bins, ps, pe, minOverlap, precision,
        slack).toSeq
      assert(got == want,
        s"case $c (minOverlap=$minOverlap precision=$precision " +
          s"slack=$slack bins=${bins.length} probes=${probes.length}): " +
          s"kernel $got vs naive $want")
    }
  }

  test("gap-aware tiles subtract assembly gaps") {
    val seqLen = Seq(("1", 200000L)).toDF("chrom", "seq_length")
    val gaps = Seq(("1", 40000L, 60000L)).toDF("chrom", "start", "end")
    val tiles = Cnv.gapAwareTiles(seqLen, gaps, tileSize = 50000L)
      .orderBy("start").collect()
      .map(r => (r.getAs[Long]("start"), r.getAs[Long]("end")))
    assert(tiles.toSeq == Seq((0L, 40000L), (60000L, 100000L),
      (100000L, 150000L), (150000L, 200000L)))
  }
}
