package graft.prep

import graft.core.{Masks, Schemas}
import graft.functions.StatFuncs
import graft.operators.Ecdf
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Preprocessing chain (SURVEY.md §2.11 L9-L15; reference
  * pylluminator/samples.py:940-1607): infer-type-I-channel, dye-bias
  * corrections, NOOB background correction, scrub, pOOBAH.
  *
  * Execution model (SURVEY.md §3.2): every step is a pure
  * DataFrame → DataFrame transformation. Per-(sample, channel) scalar
  * parameters — medians, Huber fits, ECDFs — are computed by Spark
  * aggregations, collected to the driver (KB-sized), and broadcast back
  * into column expressions: the only driver round-trips in the chain.
  * The fact table itself never leaves the executors.
  */
object Prep {

  // ---------- cell extraction helpers (long schema views of F2/F3) ----------

  /** In-band cells: type I G → (G, meth_g/unmeth_g), type I R →
    * (R, meth_r/unmeth_r), type II/ctl → G cell = meth_g, R cell =
    * unmeth_r. Output [sample_label, probe_id, channel, value].
    * ONE scan: each row explodes to its two (channel, value) structs
    * picked by row-local conditionals — the 3-branch union spelling
    * scanned the signal lineage three times, which multiplies whole
    * pipelines when the signal is itself a derived frame. */
  def ibCells(signal: DataFrame): DataFrame = {
    val t1 = col("inf_type") === "I"
    val cell1 = struct(
      when(t1, col("channel")).otherwise(lit("G")).as("channel"),
      when(!t1, col("meth_g"))
        .when(col("channel") === "G", col("meth_g"))
        .otherwise(col("meth_r")).as("value"))
    val cell2 = struct(
      when(t1, col("channel")).otherwise(lit("R")).as("channel"),
      when(!t1, col("unmeth_r"))
        .when(col("channel") === "G", col("unmeth_g"))
        .otherwise(col("unmeth_r")).as("value"))
    signal
      // type-I rows with a channel outside {G, R} were silently outside
      // every branch of the old 3-way union — preserve that
      .filter(!t1 || col("channel").isin("G", "R"))
      .select(col("sample_label"), col("probe_id"),
        explode(array(cell1, cell2)).as("cv"))
      .select(col("sample_label"), col("probe_id"),
        col("cv.channel").as("channel"), col("cv.value").as("value"))
      .filter(col("value").isNotNull)
  }

  /** Out-of-band cells (F2, samples.py:158-206): type I G probes → R
    * measurements, type I R probes → G measurements. `channel` in the
    * output is the measurement channel (not the probe channel).
    * ONE scan (same rationale as [[ibCells]]). */
  def oobCells(signal: DataFrame): DataFrame = {
    val oobChannel = when(col("channel") === "R", "G").otherwise("R")
    val isR = col("channel") === "R" // probe channel R → G measurements
    signal.filter(col("inf_type") === "I" &&
      col("channel").isin("G", "R"))
      .select(col("sample_label"), col("probe_id"),
        explode(array(
          struct(oobChannel.as("channel"),
            when(isR, col("meth_g")).otherwise(col("meth_r")).as("value")),
          struct(oobChannel.as("channel"),
            when(isR, col("unmeth_g")).otherwise(col("unmeth_r"))
              .as("value")))).as("cv"))
      .select(col("sample_label"), col("probe_id"),
        col("cv.channel").as("channel"), col("cv.value").as("value"))
      .filter(col("value").isNotNull)
  }

  /** Negative-control cells (samples.py:935+: controls matching
    * 'negative', case-insensitive), stored type-II-like. */
  def negControlCells(signal: DataFrame): DataFrame =
    signal.filter(col("probe_type") === "ctl" &&
      col("probe_id").rlike("(?i)negative"))
      .select(col("sample_label"), col("probe_id"),
        explode(array(
          struct(lit("G").as("channel"), col("meth_g").as("value")),
          struct(lit("R").as("channel"), col("unmeth_r").as("value"))))
          .as("cv"))
      .select(col("sample_label"), col("probe_id"),
        col("cv.channel").as("channel"), col("cv.value").as("value"))
      .filter(col("value").isNotNull)

  /** A1 — grand mean of in-band intensities per sample
    * (samples.py:1017-1042). */
  def meanIbIntensity(signal: DataFrame): DataFrame =
    ibCells(signal).groupBy("sample_label")
      .agg(avg("value").as("mean_ib"))

  /** A2 — total in-band intensity per (sample, probe): M + U in-band,
    * 0 → null (samples.py:1044-1072). */
  def totalIbIntensity(signal: DataFrame): DataFrame =
    ibCells(signal).groupBy("sample_label", "probe_id")
      .agg(sum("value").as("total_ib"))
      .withColumn("total_ib",
        when(col("total_ib") === 0, lit(null)).otherwise(col("total_ib")))

  // ---------- L15: infer type-I channel (samples.py:940-1011) ----------

  /** Rewrite the `channel` column of type I probes to the channel holding
    * the max signal (per probe, across samples — the reference's
    * cross-sample idxmax). Ties → R (docstring, samples.py:941-943).
    * Failed probes (max below the 95th percentile of the opposite-channel
    * background, or any NA) keep the manifest channel unless
    * `switchFailed`; `maskFailed` additionally returns a mask for them.
    * Returns (updated signal, failed-probe mask if `maskFailed`). */
  def inferType1Channel(signal: DataFrame, switchFailed: Boolean = false,
      maskFailed: Boolean = false): (DataFrame, Option[DataFrame]) = {
    val flagged = flagType1Channels(signal, switchFailed)
    val updated = signal
      .join(broadcast(flagged.select("probe_id", "new_channel")),
        Seq("probe_id"), "left")
      .withColumn("channel",
        when(col("inf_type") === "I" && col("new_channel").isNotNull,
          col("new_channel")).otherwise(col("channel")))
      .drop("new_channel")

    (updated, Option.when(maskFailed)(
      Masks.of("failed_probes_inferTypeI", flagged.filter(col("failed")))))
  }

  /** Per-type-I-probe channel-inference frame shared by
    * [[inferType1Channel]] and [[channelSwitchSummary]]: columns
    * `(probe_id, max_g, max_r, manifest_channel, any_na,
    * inferred_channel, failed, new_channel)`. `new_channel` already
    * honors the failed-probe reset (samples.py:986-988): a probe whose
    * cross-sample max sits below the opposite-channel background P95, or
    * with any NA cell, reverts to the manifest channel unless
    * `switchFailed`. One shuffle on probe_id + one scalar P95. */
  private def flagType1Channels(signal: DataFrame,
      switchFailed: Boolean): DataFrame = {
    val t1 = signal.filter(col("inf_type") === "I" &&
      !(col("meth_g").isNull && col("unmeth_g").isNull &&
        col("meth_r").isNull && col("unmeth_r").isNull))
    // localCheckpoint: the per-probe frame feeds THREE consumers (the
    // background join, the P95 scalar action, and the caller's final
    // plan) — without it the probe-granularity shuffle over the full
    // signal recomputes per consumer. The checkpointed frame is
    // one row per type-I probe (manifest-sized, MBs).
    val perProbe = t1.groupBy("probe_id")
      .agg(
        max(greatest(col("meth_g"), col("unmeth_g"))).as("max_g"),
        max(greatest(col("meth_r"), col("unmeth_r"))).as("max_r"),
        max(col("channel")).as("manifest_channel"),
        // any NA among the 4 cells of any sample:
        max(when(col("meth_g").isNull || col("unmeth_g").isNull ||
          col("meth_r").isNull || col("unmeth_r").isNull, 1).otherwise(0))
          .as("any_na"))
      .withColumn("inferred_channel",
        when(coalesce(col("max_r"), lit(Float.MinValue)) >=
          coalesce(col("max_g"), lit(Float.MinValue)), "R").otherwise("G"))
      .localCheckpoint()

    // background: opposite-channel signal of inferred probes, P95
    val bg = t1.join(broadcast(perProbe.select("probe_id", "inferred_channel")),
      "probe_id")
      .select(when(col("inferred_channel") === "R",
        greatest(col("meth_g"), col("unmeth_g")))
        .otherwise(greatest(col("meth_r"), col("unmeth_r"))).as("v"))
      .filter(col("v").isNotNull)
    val bgP95 = bg.agg(percentile(col("v"), lit(0.95))).head().getDouble(0)

    perProbe.withColumn("failed",
      (greatest(coalesce(col("max_g"), lit(Float.MinValue)),
        coalesce(col("max_r"), lit(Float.MinValue))) < bgP95) ||
        col("any_na") === 1)
      .withColumn("new_channel",
        when(col("failed") && !lit(switchFailed), col("manifest_channel"))
          .otherwise(col("inferred_channel")))
  }

  /** A7 — channel-switch summary (samples.py:1010-1011): per (manifest
    * channel, inferred channel), the number of type-I probes. The
    * reference prints this AFTER the failed-probe reset
    * (samples.py:986-988): with the default `switchFailed = false`, a
    * probe whose max sits below the background P95 (or with any NA cell)
    * counts under its manifest channel, not its raw inferred one — so
    * the summary here is derived from the same flagged frame
    * [[inferType1Channel]] commits, not the raw argmax. */
  def channelSwitchSummary(signal: DataFrame,
      switchFailed: Boolean = false): DataFrame =
    flagType1Channels(signal, switchFailed)
      .select(col("manifest_channel"),
        col("new_channel").as("inferred_channel"))
      .groupBy("manifest_channel", "inferred_channel")
      .agg(count(lit(1)).as("n_probes"))

  // ---------- L12/L13: dye-bias scaling ----------

  private def scaleChannels(signal: DataFrame,
      factors: DataFrame): DataFrame =
    signal.join(broadcast(factors), Seq("sample_label"), "left")
      .withColumn("meth_g", (col("meth_g") * col("f_g")).cast("float"))
      .withColumn("unmeth_g", (col("unmeth_g") * col("f_g")).cast("float"))
      .withColumn("meth_r", (col("meth_r") * col("f_r")).cast("float"))
      .withColumn("unmeth_r", (col("unmeth_r") * col("f_r")).cast("float"))
      .drop("f_g", "f_r")

  /** L12 — dye bias by normalization controls (samples.py:1257-1298):
    * scale each channel by reference / mean(norm-control intensity).
    * Norm-control green = probes matching the green pattern, (G,M) cell;
    * red = red pattern, (R,U) cell (samples.py:894-912). */
  def dyeBiasCorrection(signal: DataFrame,
      arrayType: Schemas.ArrayType = Schemas.ArrayType.EpicV2): DataFrame = {
    val (pg, pr) = Schemas.normControlPatterns(arrayType)
    val ctl = signal.filter(col("probe_type") === "ctl")
    val normG = ctl.filter(col("probe_id").rlike("(?i)" + pg))
      .groupBy("sample_label").agg(avg(col("meth_g")).as("norm_g"))
    val normR = ctl.filter(col("probe_id").rlike("(?i)" + pr))
      .groupBy("sample_label").agg(avg(col("unmeth_r")).as("norm_r"))
    val ref = meanIbIntensity(signal)
    val factors = ref.join(normG, "sample_label").join(normR, "sample_label")
      .select(col("sample_label"),
        (col("mean_ib") / col("norm_g")).as("f_g"),
        (col("mean_ib") / col("norm_r")).as("f_r"))
    scaleChannels(signal, factors)
  }

  /** L13 — linear dye bias (samples.py:1300-1338): scale each channel by
    * reference / median(type-I in-band channel signal). */
  def dyeBiasCorrectionL(signal: DataFrame): DataFrame = {
    val t1ib = ibCells(signal.filter(col("inf_type") === "I"))
    val med = t1ib.groupBy("sample_label")
      .agg(
        percentile(when(col("channel") === "G", col("value")), lit(0.5))
          .as("med_g"),
        percentile(when(col("channel") === "R", col("value")), lit(0.5))
          .as("med_r"))
    val factors = meanIbIntensity(signal).join(med, "sample_label")
      .select(col("sample_label"),
        (col("mean_ib") / col("med_g")).as("f_g"),
        (col("mean_ib") / col("med_r")).as("f_r"))
    scaleChannels(signal, factors)
  }

  // ---------- L11: scrub (samples.py:1504-1527) ----------

  /** Subtract the per-channel OOB median from every cell of that channel,
    * clipping at 1. */
  def scrubBackgroundCorrection(signal: DataFrame): DataFrame = {
    val med = oobCells(signal).groupBy("sample_label")
      .agg(
        percentile(when(col("channel") === "G", col("value")), lit(0.5))
          .as("bg_g"),
        percentile(when(col("channel") === "R", col("value")), lit(0.5))
          .as("bg_r"))
    // NULL cells must stay NULL (np.clip(NaN - bg, 1, None) is NaN,
    // samples.py:1527); Spark's greatest SKIPS nulls, so an unguarded
    // greatest(NULL - bg, 1.0) would resurrect masked cells as 1.0.
    def scrub(c: String, bg: String): Column =
      when(col(c).isNull || col(bg).isNull, lit(null).cast("float"))
        .otherwise(greatest(col(c) - col(bg), lit(1.0)).cast("float"))
    signal.join(broadcast(med), Seq("sample_label"), "left")
      .withColumn("meth_g", scrub("meth_g", "bg_g"))
      .withColumn("unmeth_g", scrub("unmeth_g", "bg_g"))
      .withColumn("meth_r", scrub("meth_r", "bg_r"))
      .withColumn("unmeth_r", scrub("unmeth_r", "bg_r"))
      .drop("bg_g", "bg_r")
  }

  // ---------- L10: NOOB (samples.py:1429-1502, stats.py:64-142) ----------

  /** Pin a signal frame for a multi-reader pipeline stage: hash-
    * repartition on (sample_label, probe_id), persist MEMORY_AND_DISK,
    * and materialize eagerly so concurrent reader stages hit the cache
    * instead of racing to recompute the same partitions (same rationale
    * as the [[poobah]] cache point). No-op when the frame is already
    * persisted — returns (frame, owned) where `owned` tells the caller
    * whether it must unpersist. */
  private def pinSignal(signal: DataFrame): (DataFrame, Boolean) = {
    if (signal.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      (signal, false)
    else {
      val nPart =
        signal.sparkSession.sessionState.conf.numShufflePartitions
      val p = signal
        .repartition(nPart, col("sample_label"), col("probe_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      (p, true)
    }
  }

  final case class NoobFit(sample: String, channel: String, mu: Double,
      sigma: Double, alpha: Double)

  /** Distributed Huber M-estimates per (sample, channel), the SURVEY A17
    * `mapGroups` shape: each group's values (bounded — one sample's
    * background, ≤ ~400k doubles ≈ 3 MB) are gathered inside its OWN
    * executor task and fitted with the exact reference kernel
    * (StatFuncs.huber). One shuffle, no driver state, and the iterative
    * clip-mean loop runs as a tight local loop instead of a Spark job
    * per iteration (a driver-driven aggregate-per-iteration variant was
    * measured at minutes of pure scheduling overhead). sigma = 0 groups
    * drop out (no fit). Returns (sample_label, channel, mu, sigma). */
  def huberFits(cells: DataFrame, k: Double = 1.5,
      tol: Double = 1e-6): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    cells
      .select(col("sample_label"), col("channel"),
        col("value").cast("double").as("v"))
      .as[(String, String, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (String, String),
          it: Iterator[(String, String, Double)]) =>
        StatFuncs.huber(it.map(_._3).toArray, k, tol)
          .map { case (mu, sigma) => (key._1, key._2, mu, sigma) }.iterator
      }
      .toDF("sample_label", "channel", "mu", "sigma")
  }

  /** Fit the norm-exp background model per (sample, channel): background =
    * OOB (+ negative controls), zeros → 1, capped at median + 10·IQR;
    * Huber fits for (mu, sigma); alpha = max(fgMu − bgMu, 10).
    *
    * Scale path: cap statistics are exact percentile aggregations and the
    * Huber fits run distributed ([[huberFits]]) — nothing larger than a
    * groups-row frame ever reaches the driver (the previous
    * implementation collected every sample's raw background/foreground
    * arrays). */
  def noobFits(signal: DataFrame, masks: DataFrame,
      useNegativeControls: Boolean = true): Seq[NoobFit] = {
    // Cache point: FIVE readers of the signal lineage below (non-unique
    // mask derivation, background cells, cap statistics, and the two
    // Huber fit passes) — on a derived signal each would recompute the
    // whole upstream plan. Eager (ends in collect()), so pin/unpin
    // stays fully inside this call.
    val (sigP, owned) = pinSignal(signal)
    try noobFitsPinned(sigP, masks, useNegativeControls)
    finally if (owned) sigP.unpersist(blocking = false)
  }

  /** The signal with `masks` plus the non-unique mask applied (the
    * non-unique mask overrides a same-named one in `masks`), and its
    * background cells: out-of-band, plus the negative controls when
    * `useNegativeControls`. Shared by NOOB and pOOBAH. */
  private def maskedBackground(signal: DataFrame, masks: DataFrame,
      useNegativeControls: Boolean): (DataFrame, DataFrame) = {
    val masked = Masks.applyMask(signal,
      Masks.addMask(masks, Masks.maskNonUniqueProbes(signal)))
    val bg = oobCells(masked)
    (masked,
      if (useNegativeControls) bg.unionByName(negControlCells(masked)) else bg)
  }

  private def noobFitsPinned(signal: DataFrame, masks: DataFrame,
      useNegativeControls: Boolean): Seq[NoobFit] = {
    val (masked, bgCells) =
      maskedBackground(signal, masks, useNegativeControls)
    val fgCells = ibCells(masked)

    def zeroToOne(cells: DataFrame): DataFrame =
      cells.select(col("sample_label"), col("channel"),
        when(col("value") === 0, lit(1.0))
          .otherwise(col("value").cast("double")).as("value"))

    // ONE gathered pass per (sample, channel) over union-tagged cells:
    // the eligibility count, the median+10·IQR cap, the capped-background
    // Huber fit and the foreground Huber fit all read the group's values
    // inside the same task. The previous shape made three separate
    // shuffles over the same cells (an exact-percentile aggregation plus
    // two groupByKey fits); the groups were already gathered for Huber,
    // so the cap costs nothing extra here. Per-group memory stays the
    // huberFits bound (one sample-channel's cells, MB-scale). Sorting
    // the arrays also makes the fits order-deterministic — the iterative
    // clip-mean no longer drifts with partition arrival order.
    val spark = signal.sparkSession
    import spark.implicits._
    val tagged = zeroToOne(bgCells).withColumn("is_fg", lit(false))
      .unionByName(zeroToOne(fgCells).withColumn("is_fg", lit(true)))
    // Parallelism pin: the gathered Huber stage is
    // CPU-bound (two iterative fits per group) but byte-small (~22 MB at
    // sf0.1), so AQE's byte-based coalescing was running EVERY group's
    // fit in one task (measured: a 3.7 s single-task stage inside q63).
    // A typed groupByKey re-keys through its own ENSURE_REQUIREMENTS
    // exchange, which AQE coalesces again — so the gather is spelled as
    // a user-pinned keyed repartition (AQE leaves explicit counts alone)
    // + an in-partition sort + consecutive-run grouping, which builds
    // exactly the same per-(sample, channel) groups at the cluster's
    // shuffle parallelism. Per-group memory bound unchanged: one group's
    // arrays at a time.
    val nPart = spark.sessionState.conf.numShufflePartitions
    tagged
      .select(col("sample_label"), col("channel"), col("is_fg"),
        col("value").cast("double").as("v"))
      .repartition(nPart, col("sample_label"), col("channel"))
      .sortWithinPartitions("sample_label", "channel")
      .as[(String, String, Boolean, Double)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(String, String, Double, Double, Double)] {
          private var pending: Iterator[(String, String, Double, Double,
            Double)] = Iterator.empty
          private def fitGroup(): Unit =
            while (!pending.hasNext && buf.hasNext) {
              val k1 = buf.head._1; val k2 = buf.head._2
              val bgB = Array.newBuilder[Double]
              val fgB = Array.newBuilder[Double]
              while (buf.hasNext && buf.head._1 == k1 &&
                  buf.head._2 == k2) {
                val r = buf.next()
                if (r._3) fgB += r._4 else bgB += r._4
              }
              val bgArr = bgB.result(); val fgArr = fgB.result()
              // eligibility: ≥ 100 positive background values (after
              // zeros→1 every value is ≥ 1, so this is the array length)
              pending =
                if (bgArr.length < 100 || fgArr.isEmpty) Iterator.empty
                else {
                  java.util.Arrays.sort(bgArr)
                  java.util.Arrays.sort(fgArr)
                  val cap =
                    StatFuncs.median(bgArr) + StatFuncs.iqr(bgArr) * 10
                  // sorted: < cap is a prefix
                  val capped = bgArr.takeWhile(_ < cap)
                  (for {
                    (mu, sigma) <- StatFuncs.huber(capped)
                    (fgMu, _) <- StatFuncs.huber(fgArr)
                  } yield (k1, k2, mu, sigma,
                    math.max(fgMu - mu, 10.0))).iterator
                }
            }
          def hasNext: Boolean = { fitGroup(); pending.hasNext }
          def next(): (String, String, Double, Double, Double) = {
            fitGroup(); pending.next()
          }
        }
      }
      .collect()
      .map(r => NoobFit(r._1, r._2, r._3, r._4, r._5))
      .sortBy(f => (f.sample, f.channel))
      .toSeq
  }

  /** Apply the norm-exp convolution posterior mean + offset
    * (stats.py:96-142) to every cell of each fitted (sample, channel).
    * Column arithmetic + the erfcx-backed log-sf — no per-row driver
    * work. */
  def noobBackgroundCorrection(spark: SparkSession, signal: DataFrame,
      masks: DataFrame, useNegativeControls: Boolean = true,
      offset: Double = 15.0): DataFrame = {
    import spark.implicits._
    // Pin once for the whole correction: noobFits' five readers plus
    // the final per-channel fit joins all read the same frame. The
    // RETURNED frame is lazy over the pinned signal, so ownership of
    // the cache transfers to the result: unpersisting here would put
    // the recomputation right back. The pin is keyed by plan, so a
    // caller that later persists/unpersists the same signal plan
    // shares this entry — acceptable for a cache (worst case is a
    // recompute, never a wrong result).
    val (sigP, _) = pinSignal(signal)
    val fits = noobFitsPinned(sigP, masks, useNegativeControls)
    if (fits.isEmpty) return sigP
    val fitDf = broadcast(fits.toDF()
      .withColumnsRenamed(Map("sample" -> "sample_label")))

    def convolve(x: Column, mu: Column, sigma: Column,
        alpha: Column): Column = {
      val variance = sigma * sigma
      val shifted = x - mu - variance / alpha
      val z = shifted / sigma
      val logPdf0 = StatFuncs.normLogPdfCol(lit(0.0), shifted, sigma)
      val logSf0 = StatFuncs.normLogSfCol(lit(0.0), shifted, sigma)
      val adjusted = shifted + variance * exp(logPdf0 - logSf0)
      (greatest(adjusted, lit(1e-6)) + lit(offset)).cast("float")
    }
    def apply2(df: DataFrame, ch: String, mCol: String,
        uCol: String): DataFrame = {
      val f = fitDf.filter(col("channel") === ch)
        .select(col("sample_label"), col("mu").as(s"mu_$ch"),
          col("sigma").as(s"sigma_$ch"), col("alpha").as(s"alpha_$ch"))
      val joined = df.join(broadcast(f), Seq("sample_label"), "left")
      Seq(mCol, uCol).foldLeft(joined) { (d, c) =>
        d.withColumn(c,
          when(col(s"mu_$ch").isNotNull && col(c).isNotNull,
            convolve(col(c), col(s"mu_$ch"), col(s"sigma_$ch"),
              col(s"alpha_$ch"))).otherwise(col(c)))
      }.drop(s"mu_$ch", s"sigma_$ch", s"alpha_$ch")
    }
    apply2(apply2(sigP, "G", "meth_g", "unmeth_g"), "R", "meth_r",
      "unmeth_r")
  }

  // ---------- L9: pOOBAH (samples.py:1529-1607) ----------

  /** Detection p-values from the ECDF of out-of-band background:
    * p = min(1 − ecdf_G(max G signal), 1 − ecdf_R(max R signal)); when a
    * channel's background sums ≤ 100, the empirical prior 0..999 replaces
    * it (samples.py:1583-1589). Adds `p_value` and returns the poobah
    * mask rows (p ≥ threshold).
    *
    * Scale path: [[graft.operators.Ecdf]] — the background is reduced to
    * one row per sample carrying each channel's values as an ascending
    * array (plus its length and sum), the signal is joined to it ONCE,
    * and each row's per-channel ECDF is a binary search of that array. No
    * channel-query union, no sort of the queries, no driver state. The
    * 0..999 prior needs no data at all: its ECDF is the closed form
    * clamp(floor(v)+1, 0, 1000)/1000. Rows that repeat a (sample, probe)
    * key all carry the key's minimum p, taken by a window over the
    * joined rows (no group-by, no join back).
    *
    * Output columns: `sample_label`, `probe_id`, the signal's other
    * columns in order, then `p_value` (FLOAT).
    *
    * Broadcast versus shuffle for the background join is Spark's own
    * choice (AQE and `autoBroadcastJoinThreshold`). AQE plans the join
    * before it knows the aggregate's size, so the signal moves once, by
    * sample_label, even when the join then becomes a broadcast; the
    * (sample_label, probe_id) window rides that partitioning and adds no
    * exchange (PrepSpec pins both plans). The join and the window thus
    * run at most one task per sample.
    *
    * Cache points (mirrors [[graft.dm.Dm.computeDmr]]), each filled by
    * an eager count, so this method runs two Spark jobs of its own:
    *   - the signal, which has several readers here (the non-unique
    *     mask, the masked→oob background and the join); on a derived
    *     signal each would otherwise recompute the whole upstream
    *     lineage;
    *   - the RESULT, which feeds both returned values.
    * The signal cache is dropped before returning. Call `.unpersist()`
    * on the returned frame when the pipeline no longer needs it. */
  def poobah(spark: SparkSession, signal: DataFrame, masks: DataFrame,
      useNegativeControls: Boolean = true, threshold: Double = 0.05)
      : (DataFrame, DataFrame) = {
    // Hash-repartition before caching: the signal often arrives from a
    // handful of parquet row groups (3-way parallelism on a 32-core
    // box), and every downstream stage here inherits the cached
    // partitioning. Keyed repartition (not round-robin: that adds a
    // per-partition full-row sort for retry determinism) spreads the
    // cache across the cluster once, and the eager count below fills it
    // BEFORE the readers' stages launch concurrently — otherwise each
    // reader recomputes the same uncached partitions in parallel.
    val nPart = signal.sparkSession.sessionState.conf.numShufflePartitions
    val sigP = signal.repartition(nPart, col("sample_label"), col("probe_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigP.count()
    val (_, bg) = maskedBackground(sigP, masks, useNegativeControls)
    val bgArr = Ecdf.sortedBackground(bg, Seq("sample_label"),
      "bg_g" -> when(col("channel") === "G", col("value")),
      "bg_r" -> when(col("channel") === "R", col("value")))

    // per channel: the max in-band signal against that channel's
    // background; weak-background channels (sum ≤ 100) switch to the
    // 0..999 prior. A null maximum stays null: `greatest` skips nulls,
    // so the prior would otherwise turn it into p = 1.
    def channelP(ch: String, m: String, u: String): Column = {
      val v = greatest(col(m), col(u)).cast("double")
      when(v.isNull, lit(null).cast("double"))
        .when(coalesce(col(s"bg_${ch}_sum") <= 100, lit(false)),
          lit(1.0) - least(greatest(floor(v) + 1, lit(0.0)), lit(1000.0)) /
            1000.0)
        .otherwise(lit(1.0) - Ecdf.ecdf(
          col(s"bg_${ch}_sorted"), col(s"bg_${ch}_n"), v))
    }
    val p = least(channelP("g", "meth_g", "unmeth_g"),
      channelP("r", "meth_r", "unmeth_r"))
    val rest = sigP.columns.filterNot(
      Set("sample_label", "probe_id", "p_value"))
    val withP = sigP.join(bgArr, Seq("sample_label"), "left")
      .select(col("sample_label") +: col("probe_id") +: rest.map(col) :+
        min(p).over(Window.partitionBy("sample_label", "probe_id"))
          .cast("float").as("p_value"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    withP.count() // materialize: signal lineage + ECDF run exactly once
    sigP.unpersist(blocking = false)
    (withP, Masks.maskPoobah(withP, threshold))
  }
}
