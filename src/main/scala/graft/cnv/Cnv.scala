package graft.cnv

import breeze.linalg.{inv, DenseMatrix, DenseVector}
import graft.operators.Intervals
import graft.prep.Prep
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Copy-number variation (SURVEY.md §2.11 L5-L8; reference
  * pylluminator/cnv.py).
  *
  * L5 — per-target regression of total intensity on the normalization
  * samples' intensities: the feature count k = #norm samples is tiny, so
  * the normal equations are assembled DISTRIBUTEDLY as one aggregation of
  * sums/cross-products (Gram matrix), solved on the driver, and the
  * prediction + log2 ratio applied as column arithmetic. No per-row
  * driver work, one shuffle.
  *
  * L6 — binning: 50 kb genome tiles − assembly gaps, then adjacent bins
  * merged until each holds ≥ minOverlap probes (cnv.py:138-211). The
  * merge ramp runs per chromosome inside a cogroup (one shuffle; the
  * ramp itself is in-memory per chromosome — bounded groups, like L8).
  *
  * L8 — CBS segmentation per chromosome inside mapGroups (chromosomes
  * parallelize naturally), seeded permutation test
  * (cnv.py:191-193: shuffles=10000, p=1e-4 — we default to fewer
  * shuffles at equal determinism; tests use value tolerances like
  * tests/test_cnv.py:58-67).
  */
object Cnv {

  /** Upper bound on CBS permutation worker threads for the WHOLE
    * executor JVM (shared by every concurrent chromosome task). */
  val PermPoolSize: Int =
    math.max(1, math.min(8, Runtime.getRuntime.availableProcessors))

  /** JVM-wide bounded pool for CBS permutation batches. Daemon threads;
    * lazily created on the first significant split, lives for the JVM.
    * Pool workers never submit back into the pool, so queueing under
    * contention is safe (no nested-wait deadlock). */
  private lazy val permPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      PermPoolSize,
      (r: Runnable) => {
        val t = new Thread(r, "graft-cbs-perm")
        t.setDaemon(true)
        t
      })

  /** L5 — CNV log2 ratios. `targetIntensity`/`normIntensity`:
    * [probe_id, sample_label, total_ib] long tables (from
    * Prep.totalIbIntensity). Target samples are averaged (group CNV);
    * the regression runs target ~ [1, norm_1 … norm_k]. Returns
    * [probe_id, cnv]. */
  def copyNumberVariation(spark: SparkSession, targetIntensity: DataFrame,
      normIntensity: DataFrame, ranges: DataFrame): DataFrame = {
    val normSamples = normIntensity.select("sample_label").distinct()
      .collect().map(_.getString(0)).sorted
    val k = normSamples.length

    // one row per probe: target mean intensity + the k norm features,
    // only probes present (non-null) everywhere (cnv.py:101-123 dropna)
    val tgt = targetIntensity.groupBy("probe_id")
      .agg(avg("total_ib").as("y"),
        max(when(col("total_ib").isNull, 1).otherwise(0)).as("any_null"))
      .filter(col("any_null") === 0).drop("any_null")
    val features = normIntensity.groupBy("probe_id")
      .agg(map_from_entries(collect_list(
        struct(col("sample_label"), col("total_ib").cast("double"))))
        .as("fm"))
      .withColumn("xs", array(normSamples.map(s =>
        element_at(col("fm"), s)): _*))
      .filter(!exists(col("xs"), _.isNull))
      .select(col("probe_id"), col("xs"))
    val joined = tgt.join(features, "probe_id")
      .join(ranges.select("probe_id").distinct(), Seq("probe_id"))
      .cache()

    // Gram matrix G = Σ x̃ x̃ᵀ and moment vector b = Σ x̃ y, x̃ = [1, xs]
    val gramAggs =
      (for (i <- 0 to k; j <- i to k) yield {
        val xi = if (i == 0) lit(1.0) else element_at(col("xs"), i)
        val xj = if (j == 0) lit(1.0) else element_at(col("xs"), j)
        sum(xi * xj).as(s"g_${i}_$j")
      }) ++
        (for (i <- 0 to k) yield {
          val xi = if (i == 0) lit(1.0) else element_at(col("xs"), i)
          sum(xi * col("y")).as(s"b_$i")
        })
    val row = joined.agg(gramAggs.head, gramAggs.tail: _*).head()
    val g = DenseMatrix.zeros[Double](k + 1, k + 1)
    for (i <- 0 to k; j <- i to k) {
      val v = row.getDouble(row.fieldIndex(s"g_${i}_$j"))
      g(i, j) = v; g(j, i) = v
    }
    val b = DenseVector((0 to k).map(i =>
      row.getDouble(row.fieldIndex(s"b_$i"))).toArray)
    val beta = inv(g) * b // normal-equation solve, (k+1)×(k+1) on driver

    val predicted = beta.toArray.zipWithIndex.map { case (w, i) =>
      if (i == 0) lit(w) else lit(w) * element_at(col("xs"), i)
    }.reduce(_ + _)
    joined.select(col("probe_id"),
      log(2.0, col("y") / greatest(predicted, lit(1.0))).as("cnv"))
  }

  /** L6 step 1 — tiles − gaps: fixed tiles minus assembly gaps
    * (cnv.py:167-169). seqLengths: [chrom, seq_length];
    * gaps: [chrom, start, end]. */
  def gapAwareTiles(seqLengths: DataFrame, gaps: DataFrame,
      tileSize: Long = 50000L): DataFrame = {
    val tiles = Intervals.tileGenome(seqLengths, tileSize)
      .withColumn("tile_id",
        concat_ws(":", col("chrom"), col("start")))
    Intervals.subtractOverlaps(tiles, gaps, tileSize, Seq("tile_id"))
      .select(col("chrom"), col("frag_start").as("start"),
        col("frag_end").as("end"))
  }

  /** L6 step 2 — merge adjacent bins until every bin overlaps ≥
    * minOverlap probes, following the reference's precision-controlled
    * RAMP (cnv.py:247-326). Executed per chromosome inside a cogroup —
    * the same scale shape as CBS segmentation below: chromosome groups
    * are bounded (≤ ~1M probes / ~60k bins → a few MB), the cogroup is
    * ONE shuffle, and the ≤ minOverlap/precision ramp steps cost
    * microseconds in memory where a driver-side loop of DataFrame
    * passes pays a full distributed job per threshold (measured 30+ s
    * at EPICv2 scale vs < 5 s for this shape). */
  def mergeBinsToMinimumOverlap(spark: SparkSession, bins0: DataFrame,
      probes: DataFrame, minOverlap: Int = 20,
      precision: Int = 1, slack: Long = 1L): DataFrame = {
    import spark.implicits._
    // The ramp's recount formula only ever evaluates
    //   countOverlap(s, e) = #(probe_start < e) − #(probe_end ≤ s)
    // at ORIGINAL bin edges (a merged run starts at a constituent's
    // start and ends at a constituent's end, and both prefix counts are
    // monotone in position). So the probes are never gathered: one
    // sort-merge running-sum pass (the Ecdf shape) attaches
    //   a = #(probe_start < end)  and  b = #(probe_end ≤ start)
    // to every bin, and the per-chromosome ramp then works over BINS
    // ONLY (KB-MB per chromosome). The previous cogroup shipped every
    // probe of a chromosome into one task — on a chr1-heavy census
    // (750k probes at 10× EPICv2) that single task's gather/sort/GC
    // made the stage track the largest chromosome (measured 1.6-3.3×
    // skew blow-up run to run); bins-only groups are orders of
    // magnitude smaller than any executor.
    val binsL = bins0.select(col("chrom"),
      col("start").cast("long"), col("end").cast("long"))
    val pr = probes.select(col("chrom"),
      col("start").cast("long").as("ps"), col("end").cast("long").as("pe"))
    // ONE scan each of probes and bins, exploding both roles per row —
    // the earlier four-branch union evaluated the probe source twice
    // and the whole bins LINEAGE twice (bins0 is often itself a
    // join+window pipeline, e.g. gapAwareTiles: measured ~1.5 s per
    // redundant evaluation at EPICv2 scale).
    // a-queries probe the prefix at end−1 (so "< end" over integral
    // positions), b-queries at start (so "≤ start").
    val bg = pr.select(col("chrom"), explode(array(
        struct(col("ps").as("v"), lit(1L).as("bga"), lit(0L).as("bgb"),
          lit(null).cast("long").as("qs"), lit(null).cast("long").as("qe"),
          lit(null).cast("string").as("kind")),
        struct(col("pe").as("v"), lit(0L).as("bga"), lit(1L).as("bgb"),
          lit(null).cast("long").as("qs"), lit(null).cast("long").as("qe"),
          lit(null).cast("string").as("kind")))).as("r"))
      .select(col("chrom"), col("r.*"))
    val q = binsL.select(col("chrom"), explode(array(
        struct((col("end") - 1L).as("v"), lit(0L).as("bga"),
          lit(0L).as("bgb"), col("start").as("qs"), col("end").as("qe"),
          lit("a").as("kind")),
        struct(col("start").as("v"), lit(0L).as("bga"), lit(0L).as("bgb"),
          col("start").as("qs"), col("end").as("qe"),
          lit("b").as("kind")))).as("r"))
      .select(col("chrom"), col("r.*"))
    // ≤ semantics: probe rows sort before query rows at equal position.
    // Pin the exchange's parallelism against AQE byte-coalescing: the
    // sort + running frames are CPU-bound but byte-small, so AQE's
    // byte-based coalescing would squeeze them onto a handful of tasks.
    val n = spark.sessionState.conf.numShufflePartitions
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chrom"))
      .orderBy(col("v").asc, when(col("kind").isNull, 0).otherwise(1))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    val counted = bg.unionByName(q)
      .repartition(n, col("chrom"))
      .withColumn("cuma", sum(col("bga")).over(w))
      .withColumn("cumb", sum(col("bgb")).over(w))
      .filter(col("kind").isNotNull)
      .groupBy(col("chrom"), col("qs"), col("qe"))
      .agg(max(when(col("kind") === "a", col("cuma"))).as("a"),
        max(when(col("kind") === "b", col("cumb"))).as("b"))
    counted.select(col("chrom"), col("qs"), col("qe"), col("a"), col("b"))
      .as[(String, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (chrom: String,
          it: Iterator[(String, Long, Long, Long, Long)]) =>
        val rows = it.toArray.sortBy(_._2)
        mergeRampCounts(rows.map(r => (r._2, r._3)),
          rows.map(_._4), rows.map(_._5), minOverlap, precision, slack)
          .iterator.map { case (s, e) => (chrom, s, e) }
      }.toDF("chrom", "start", "end")
  }

  /** The reference's merge ramp (cnv.py:299-322) on ONE chromosome's
    * sorted bins: the under-fill threshold climbs from the observed
    * minimum count to `minOverlap` in `precision` steps; at each step an
    * under-filled bin merges with its adjacent left neighbor (falling
    * back to right), marked runs collapsing like pyranges
    * merge_overlaps; merged bins are recounted; bins still under the
    * target at the end are dropped (cnv.py:325). The ramp is
    * load-bearing: jumping straight to `minOverlap` on uniformly
    * under-filled tiles marks every bin and collapses the chromosome to
    * a single bin (caught at EPICv2 scale by `ScaleBench domain`). */
  private[cnv] def mergeRamp(bins0: Array[(Long, Long)],
      pStarts: Array[Long], pEnds: Array[Long], minOverlap: Int,
      precision: Int, slack: Long): Array[(Long, Long)] = {
    def lowerBound(a: Array[Long], x: Long): Int = {
      var lo = 0; var hi = a.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (a(mid) < x) lo = mid + 1 else hi = mid
      }
      lo
    }
    // prefix counts at the original bin edges — all the ramp ever needs
    mergeRampCounts(bins0,
      bins0.map(b => lowerBound(pStarts, b._2).toLong),
      bins0.map(b => lowerBound(pEnds, b._1 + 1).toLong),
      minOverlap, precision, slack)
  }

  /** The ramp kernel over one chromosome's sorted bins given, per bin,
    * a = #(probe_start < end) and b = #(probe_end ≤ start). The overlap
    * count of any merged run is a(last) − b(first): both prefix counts
    * are monotone in position, so a run's recount needs only its
    * constituents' edge counts — identical integers to recounting the
    * raw probe arrays, with no probe data in the task at all. */
  private[cnv] def mergeRampCounts(bins0: Array[(Long, Long)],
      aEnd0: Array[Long], bStart0: Array[Long], minOverlap: Int,
      precision: Int, slack: Long): Array[(Long, Long)] = {
    var starts = bins0.map(_._1)
    var ends = bins0.map(_._2)
    var aEnds = aEnd0
    var bStarts = bStart0
    var ns: Array[Long] = Array.tabulate(starts.length)(i =>
      aEnds(i) - bStarts(i))
    if (ns.isEmpty) return Array.empty
    val step = math.max(1, precision)
    val mins = ((math.max(1L, ns.min).toInt until minOverlap by step) :+
      minOverlap).distinct.sorted
    for (t <- mins) {
      val len = starts.length
      val needs = Array.tabulate(len)(i => ns(i) < t)
      val ml0 = Array.tabulate(len)(i => needs(i) &&
        i > 0 && starts(i) <= ends(i - 1) + slack)
      val ml = Array.tabulate(len)(i =>
        ml0(i) || (i < len - 1 && ml0(i + 1)))
      val mr0 = Array.tabulate(len)(i => needs(i) && !ml(i) &&
        i < len - 1 && starts(i + 1) <= ends(i) + slack)
      val mr = Array.tabulate(len)(i =>
        mr0(i) || (i > 0 && mr0(i - 1)))
      val toMerge = Array.tabulate(len)(i => ml(i) || mr(i))
      if (toMerge.exists(identity)) {
        val outS = scala.collection.mutable.ArrayBuffer[Long]()
        val outE = scala.collection.mutable.ArrayBuffer[Long]()
        val outA = scala.collection.mutable.ArrayBuffer[Long]()
        val outB = scala.collection.mutable.ArrayBuffer[Long]()
        val outN = scala.collection.mutable.ArrayBuffer[Long]()
        var runS = -1L
        var runE = -1L
        var runA = 0L // a at the run's (max) end — monotone, so max
        var runB = 0L // b at the run's first start
        def flushRun(): Unit = if (runS >= 0) {
          outS += runS; outE += runE; outA += runA; outB += runB
          outN += runA - runB
          runS = -1L; runE = -1L
        }
        var i = 0
        while (i < len) {
          if (toMerge(i)) {
            if (runS >= 0 && starts(i) <= runE + slack) {
              runE = math.max(runE, ends(i))
              runA = math.max(runA, aEnds(i))
            } else {
              flushRun()
              runS = starts(i); runE = ends(i)
              runA = aEnds(i); runB = bStarts(i)
            }
          } else {
            flushRun()
            outS += starts(i); outE += ends(i)
            outA += aEnds(i); outB += bStarts(i); outN += ns(i)
          }
          i += 1
        }
        flushRun()
        starts = outS.toArray; ends = outE.toArray
        aEnds = outA.toArray; bStarts = outB.toArray; ns = outN.toArray
      }
    }
    starts.indices.collect {
      case i if ns(i) >= minOverlap => (starts(i), ends(i))
    }.toArray
  }

  /** L7 — per-bin median of the probe CNV signal (cnv.py:184-187).
    * cnv: [probe_id, cnv] joined with probe ranges; bins: [chrom,
    * start, end]. Output [chrom, start_bin, end_bin, cnv, map_loc]. */
  def binMedians(cnv: DataFrame, ranges: DataFrame,
      bins: DataFrame): DataFrame = {
    val probes = cnv.join(ranges, "probe_id")
      .filter(col("end") > col("start"))
      .select(col("probe_id"), col("chromosome").as("chrom"),
        col("start"), col("end"), col("cnv"))
    val binKeyed = bins.select(col("chrom"), col("start"), col("end"))
    Intervals.overlapJoin(probes, binKeyed.withColumn("bin_id",
      concat_ws(":", col("chrom"), col("start"))), 50000L,
      Seq("probe_id"), Seq("bin_id"))
      .groupBy(col("chrom"), col("r_start").as("start_bin"),
        col("r_end").as("end_bin"))
      .agg(percentile(col("cnv"), lit(0.5)).as("cnv"),
        count(lit(1)).as("n_probes"))
      .withColumn("map_loc",
        ((col("start_bin") + col("end_bin")) / 2).cast("long"))
  }

  /** L8 — circular binary segmentation per chromosome, executed inside
    * mapGroups (each chromosome's bins collected locally — thousands of
    * bins, KBs). Deterministic: RNG seeded per chromosome. Returns
    * [chromosome, seg_id, start, end, nb_bins, mean_cnv]. */
  def segment(spark: SparkSession, signalBins: DataFrame,
      shuffles: Int = 1000, pThreshold: Double = 1e-4): DataFrame = {
    import spark.implicits._
    val rows = signalBins
      .select(col("chrom"), col("map_loc").cast("long"),
        col("cnv").cast("double"))
      .as[(String, Long, Double)]
    rows.groupByKey(_._1)
      .flatMapGroups { (chrom, it) =>
        val sorted = it.toArray.sortBy(_._2)
        val values = sorted.map(_._3)
        val locs = sorted.map(_._2)
        val segs = cbs(values, shuffles, pThreshold,
          seed = chrom.hashCode.toLong)
        segs.iterator.zipWithIndex.map { case ((s, e), i) =>
          val slice = values.slice(s, e)
          (chrom, i, locs(s), locs(e - 1), e - s,
            slice.sum / slice.length)
        }
      }
      .toDF("chromosome", "seg_id", "start", "end", "nb_bins", "mean_cnv")
  }

  /** Recursive CIRCULAR binary segmentation (Olshen & Venkatraman 2004)
    * with a seeded permutation test — the reference's external
    * `linear_segment` CBS (cnv.py:191-193; its own tests accept value
    * tolerances for permutation noise, tests/test_cnv.py:58-67).
    *
    * At each segment the statistic is the max over ARCS [i, j) of the
    * two-sample t |mean_arc − mean_rest|·√(m·(n−m)/n) — an inserted
    * plateau (gain/loss with flanks on both sides) is found in ONE step,
    * where a single-split statistic needs two lucky cuts. A significant
    * arc splits the segment into up to three pieces, each recursed.
    *
    * Significance is an early-stopped permutation test (Fisher-Yates with
    * the per-chromosome seed). Arc scans are O(n²) via prefix sums; for
    * segments beyond `MaxScan` points both the observed and the permuted
    * scans evaluate arcs on a stride grid (same grid on both sides keeps
    * the p-value comparison like-for-like) — the bounded-cost analogue of
    * DNAcopy's sampled permutations. */
  /** Best arc of v: (t, i, j) with arc [i, j), 0 <= i < j <= n,
    * excluding the full range; stride > 1 coarsens the candidate grid.
    * Ties keep the first maximum in (i, j) scan order (strict >) —
    * deterministic, and what the q95 oracle's (t DESC, i, j) argmax
    * reproduces. */
  private[cnv] def maxT(v: Array[Double], stride: Int)
      : (Double, Int, Int) = {
    val n = v.length
    if (n < 4) return (0.0, 0, 0)
    val s = new Array[Double](n + 1)
    var k = 0
    while (k < n) { s(k + 1) = s(k) + v(k); k += 1 }
    val total = s(n)
    var best = 0.0; var bi = 0; var bj = 0
    var i = 0
    while (i < n) {
      var j = i + stride
      while (j <= n) {
        val m = j - i
        if (m < n) {
          val arc = s(j) - s(i)
          val d = arc / m - (total - arc) / (n - m)
          val t = math.abs(d) * math.sqrt(m.toDouble * (n - m) / n)
          if (t > best) { best = t; bi = i; bj = j }
        }
        j += stride
      }
      i += stride
    }
    (best, bi, bj)
  }

  /** The CBS arc-statistic kernel ([[maxT]], stride 1) as a distributed
    * driver surface: per chromosome, the argmax arc over the
    * genome-ordered bin track, with its t, bounds and arc/rest means.
    * One groupByKey shuffle; each task holds one chromosome's track —
    * the same MB-scale bound [[segment]]'s per-chromosome evaluation
    * already relies on. Unlike the full recursion (whose seeded
    * permutation test is not SQL-expressible — q88 is rows-only), this
    * kernel is deterministic arithmetic end to end, so it carries an
    * EXACT oracle (q95): prefix sums accumulate left-to-right in both
    * engines, every (i, j) candidate's t is computed with the identical
    * operation order, and the tie-break matches scan order. */
  def bestArcs(spark: SparkSession, signalBins: DataFrame): DataFrame = {
    import spark.implicits._
    signalBins
      .select(col("chrom"), col("map_loc").cast("long"),
        col("cnv").cast("double"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (chrom, it) =>
        val v = it.toArray.sortBy(_._2).map(_._3)
        val (t, i, j) = maxT(v, 1)
        val n = v.length
        // prefix-difference arc mass, EXACTLY as maxT scored it (a
        // direct slice sum would differ in the last ulp)
        val s = new Array[Double](n + 1)
        var k = 0
        while (k < n) { s(k + 1) = s(k) + v(k); k += 1 }
        val arc = s(j) - s(i)
        val total = s(n)
        val m = j - i
        val (am, rm) =
          if (m == 0 || m == n) (Double.NaN, Double.NaN)
          else (arc / m, (total - arc) / (n - m))
        (chrom, n.toLong, t, i.toLong, j.toLong, am, rm)
      }
      .toDF("chromosome", "n_bins", "best_t", "arc_start", "arc_end",
        "arc_mean", "rest_mean")
  }

  def cbs(values: Array[Double], shuffles: Int, pThreshold: Double,
      seed: Long): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()

    val MaxScan = 2048

    def strideOf(n: Int): Int = if (n <= MaxScan) 1 else n / MaxScan + 1

    // The permutation test compares observed and permuted maxima over the
    // SAME candidate grid, so the statistic stays exact wrt that grid; the
    // grid is capped at PermScan points because each of the `shuffles`
    // permutations pays a full O((n/stride)²) arc scan — at 10000 shuffles
    // an uncapped 2000-bin scan is ~10^10 ops per significant split. The
    // split LOCATION still comes from the fine scan in recurse().
    val PermScan = 512
    def permStrideOf(n: Int): Int = if (n <= PermScan) 1 else n / PermScan + 1

    // Permutations run on the JVM-wide shared pool [[Cnv.permPool]]:
    // chromosomes already parallelize across tasks, but the WALL CLOCK
    // is set by the one chromosome with real signal — its significant
    // splits must run all `shuffles` permutations while other cores sit
    // idle. Each permutation draws from its own splitmix-seeded RNG
    // (deterministic and order-independent, so parallel execution
    // cannot change the verdict); an AtomicInteger propagates the
    // early-stop across batches. The SHARED pool bounds extra threads
    // at PermPoolSize for the whole executor JVM — per-split thread
    // spawns would oversubscribe cores by up to 8× under 32 concurrent
    // chromosome tasks.
    def significant(v: Array[Double], splitSeed: Long): Boolean = {
      val stride = permStrideOf(v.length)
      val tObs = maxT(v, stride)._1
      if (tObs == 0.0) return false
      val maxHits = (pThreshold * shuffles).toInt
      val hits = new java.util.concurrent.atomic.AtomicInteger(0)
      def runBatch(from: Int, until: Int): Unit = {
        val copy = v.clone()
        var i = from
        while (i < until && hits.get() <= maxHits) {
          // re-seed AND reset per permutation: each draw is a pure
          // function of (splitSeed, i), so the verdict cannot depend
          // on batch count or interleaving
          System.arraycopy(v, 0, copy, 0, v.length)
          val rng = new scala.util.Random(
            graft.functions.HashFuncs.splitmix(splitSeed + i))
          var j = copy.length - 1
          while (j > 0) { // Fisher-Yates, per-permutation seed
            val k = rng.nextInt(j + 1)
            val tmp = copy(j); copy(j) = copy(k); copy(k) = tmp
            j -= 1
          }
          if (maxT(copy, stride)._1 >= tObs) hits.incrementAndGet()
          i += 1
        }
      }
      val nBatches = math.min(PermPoolSize, shuffles)
      if (nBatches <= 1) runBatch(0, shuffles)
      else {
        val batch = (shuffles + nBatches - 1) / nBatches
        val futures = (0 until nBatches).map { t =>
          val from = t * batch
          val until = math.min(shuffles, (t + 1) * batch)
          permPool.submit(new Runnable {
            def run(): Unit = runBatch(from, until)
          })
        }
        futures.foreach(_.get())
      }
      hits.get() > maxHits match {
        case true => false
        case false => hits.get().toDouble / shuffles <= pThreshold
      }
    }

    def recurse(lo: Int, hi: Int): Unit = {
      val v = values.slice(lo, hi)
      if (v.length < 4) { out += ((lo, hi)); return }
      val (t, i, j) = maxT(v, strideOf(v.length))
      val isProper = t > 0.0 && j > i && (i > 0 || j < v.length)
      val splitSeed = graft.functions.HashFuncs.splitmix(
        seed ^ (lo.toLong << 32) ^ hi.toLong)
      if (isProper && significant(v, splitSeed)) {
        if (i > 0) recurse(lo, lo + i)
        recurse(lo + i, lo + j)
        if (j < v.length) recurse(lo + j, hi)
      } else out += ((lo, hi))
    }

    recurse(0, values.length)
    out.sortBy(_._1).toSeq
  }
}
