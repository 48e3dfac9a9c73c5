package graft.prep

import graft.core.Masks
import graft.functions.StatFuncs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** L14 — nonlinear dye-bias correction (reference samples.py:1340-1427 +
  * stats.py:145-167): per sample, quantile-normalize each channel's
  * type-I intensity distribution to the other channel, map every signal
  * through the midpoint curve with np.interp semantics (linear inside the
  * observed range, shifted linear above, proportional below; below-range
  * → NaN when the channel minimum is 0).
  *
  * The per-sample sorted intensity arrays (≤130k values) are collected to
  * the driver and broadcast; the mapping itself is applied distributively
  * per row. Distortion guard: top-20-median ratio vs global-median ratio
  * > 10 → the sample's green probes are masked instead
  * (samples.py:1369-1387).
  */
object DyeBiasNL {

  /** np.interp: piecewise-linear over (xp sorted, fp), clamped at ends. */
  def interp(x: Double, xp: Array[Double], fp: Array[Double]): Double = {
    if (x <= xp(0)) return fp(0)
    if (x >= xp(xp.length - 1)) return fp(fp.length - 1)
    var lo = 0; var hi = xp.length - 1
    while (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      if (xp(mid) <= x) lo = mid else hi = mid
    }
    if (xp(hi) == xp(lo)) fp(hi)
    else fp(lo) + (fp(hi) - fp(lo)) * (x - xp(lo)) / (xp(hi) - xp(lo))
  }

  /** stats.py:145-167 — quantile-normalize source to target: rank each
    * source value, read the target distribution at the same normalized
    * rank (linear interpolation over linspace grids). */
  def quantileNormalizeToTarget(source: Array[Double],
      target: Array[Double]): Array[Double] = {
    val targetSorted = target.sorted
    val n = source.length
    val m = targetSorted.length
    // interp_target[i] = target quantile at i/(n-1)
    val grid = Array.tabulate(n) { i =>
      val q = if (n == 1) 0.0 else i.toDouble / (n - 1)
      val pos = q * (m - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) targetSorted(lo)
      else targetSorted(lo) + (pos - lo) * (targetSorted(hi) - targetSorted(lo))
    }
    // source_ranks = argsort(argsort(source)) (stats.py:158-159)
    val order = source.indices.sortBy(source)
    val ranks = new Array[Int](n)
    order.zipWithIndex.foreach { case (idx, r) => ranks(idx) = r }
    ranks.map(grid)
  }

  final case class ChannelFit(xp: Array[Double], fp: Array[Double],
      maxX: Double, minX: Double, maxMid: Double, minMid: Double)

  /** Build the midpoint mapping for one channel given both channels'
    * sorted in-band intensity arrays (samples.py:1398-1412). */
  def fitChannel(channel: Array[Double],
      reference: Array[Double]): ChannelFit = {
    val sorted = channel.sorted
    val normalized = quantileNormalizeToTarget(sorted, reference).sorted
    val midpoint = sorted.zip(normalized).map { case (a, b) => (a + b) / 2 }
    ChannelFit(sorted, midpoint, sorted.last, sorted.head,
      midpoint.last, midpoint.head)
  }

  /** Apply the fit with the reference's three-branch semantics
    * (samples.py:1414-1424). */
  def applyFit(v: Double, f: ChannelFit): Double =
    if (v.isNaN) v
    else if (v > f.maxX) v - f.maxX + f.maxMid
    else if (v < f.minX)
      if (f.minX == 0) Double.NaN else v * (f.minMid / f.minX)
    else interp(v, f.xp, f.fp)

  /** Median of the values inside the `_tmp_top` TopKAgg array column. */
  private def arrayMedian: org.apache.spark.sql.Column = {
    val arr = array_sort(expr("transform(_tmp_top, x -> x.t)"))
    val m = size(arr)
    when(m === 0, lit(Double.NaN))
      .when(m % 2 === 1,
        element_at(arr, expr("CAST((size(_tmp_top) + 1) div 2 AS INT)")))
      .otherwise((element_at(arr,
        expr("CAST(size(_tmp_top) div 2 AS INT)")) +
        element_at(arr,
          expr("CAST(size(_tmp_top) div 2 + 1 AS INT)"))) / 2.0)
  }

  /** Run the correction for every sample — fully distributed. Returns
    * (corrected signal, distortion-mask rows for samples that failed the
    * guard).
    *
    * Scale path: the previous implementation collected every sample's
    * sorted intensity arrays to the driver (O(samples × 130k) doubles)
    * and broadcast the fits into a UDF. Here the whole pipeline stays in
    * DataFrames:
    *   - the guard medians come from `percentile` + a TopKAgg(20) head;
    *   - the quantile-normalization grid is rank arithmetic — ranks from
    *     a per-(sample, channel) window (partition-bounded), target
    *     order statistics via equi-joins on (sample, channel, rank);
    *   - the knot curve (xp = sorted value, fp = midpoint) feeds
    *     [[graft.operators.Interp.interpLookup]], the sort-merge
    *     np.interp; out-of-range branches use a samples×2-row bounds
    *     frame (the ONLY broadcast).
    */
  def dyeBiasCorrectionNL(spark: SparkSession,
      signal: DataFrame): (DataFrame, DataFrame) = {
    val t1 = signal.filter(col("inf_type") === "I")
    val cells = Prep.ibCells(t1).select(col("sample_label"), col("channel"),
      col("value").cast("double").as("v"))

    // ---- distortion guard (med + top-20 median per channel) ----
    val totals = Prep.totalIbIntensity(t1)
      .join(t1.select("sample_label", "probe_id", "channel").distinct(),
        Seq("sample_label", "probe_id"))
    val guard = totals.groupBy("sample_label", "channel")
      .agg(expr("percentile(CAST(total_ib AS DOUBLE), 0.5)").as("med"),
        graft.functions.TopKAgg.topK(
          struct((-col("total_ib").cast("double")).as("nt")),
          struct(col("total_ib").cast("double").as("t")), 20).as("_tmp_top"))
      .withColumn("t20", arrayMedian)
      .select(col("sample_label"), col("channel"), col("med"), col("t20"))
    val guardW = guard.groupBy("sample_label")
      .pivot("channel", Seq("G", "R"))
      .agg(first(col("med")).as("med"), first(col("t20")).as("t20"))
    val dCol = (col("R_t20") / col("G_t20")) / (col("R_med") / col("G_med"))
    // A sample with a whole channel absent leaves R_t20/R_med null, which
    // would make the OR chain null (neither fitted nor masked); any null
    // collapses to distorted so the sample is always emitted in the mask.
    val distortedDf = guardW
      .withColumn("_distorted", coalesce(
        col("G_t20").isNull || col("G_med").isNull ||
          col("R_t20").isNull || col("R_med").isNull ||
          col("G_t20") === 0 || col("G_med") === 0 ||
          isnan(dCol) || dCol > 10, lit(true)))
      .select(col("sample_label"), col("_distorted"))

    // ---- fit eligibility: both channels non-empty with positive max ----
    val chanStats = cells.groupBy("sample_label", "channel")
      .agg(count(lit(1)).as("n"), max(col("v")).as("mx"))
    val chanW = chanStats.groupBy("sample_label")
      .pivot("channel", Seq("G", "R"))
      .agg(first(col("n")).as("n"), first(col("mx")).as("mx"))
    val eligible = chanW.join(distortedDf, Seq("sample_label"))
      .filter(!col("_distorted") &&
        col("G_n").isNotNull && col("R_n").isNotNull &&
        col("G_mx") > 0 && col("R_mx") > 0)
      .select(col("sample_label"),
        col("G_n").as("n_g"), col("R_n").as("n_r"))

    // ---- knots: rank arithmetic quantile normalization + midpoint ----
    val wch = Window.partitionBy(col("sample_label"), col("channel"))
      .orderBy(col("v"))
    val ranked = cells.join(broadcast(eligible), Seq("sample_label"))
      .withColumn("r", row_number().over(wch).cast("long") - 1)
      .withColumn("n",
        when(col("channel") === "G", col("n_g")).otherwise(col("n_r")))
      .withColumn("m",
        when(col("channel") === "G", col("n_r")).otherwise(col("n_g")))
      .withColumn("tch",
        when(col("channel") === "G", lit("R")).otherwise(lit("G")))
    val pos = when(col("n") === 1, lit(0.0))
      .otherwise(col("r").cast("double") / (col("n") - 1) * (col("m") - 1))
    val withPos = ranked.withColumn("pos", pos)
      .withColumn("plo", floor(col("pos")).cast("long"))
      .withColumn("phi", ceil(col("pos")).cast("long"))
    val tRanks = ranked.select(col("sample_label"),
      col("channel").as("tch"), col("r").as("tr"), col("v").as("tv"))
    val withT = withPos
      .join(tRanks.withColumnsRenamed(Map("tr" -> "plo", "tv" -> "tlo")),
        Seq("sample_label", "tch", "plo"))
      .join(tRanks.withColumnsRenamed(Map("tr" -> "phi", "tv" -> "thi")),
        Seq("sample_label", "tch", "phi"))
    val grid = when(col("plo") === col("phi"), col("tlo"))
      .otherwise(col("tlo") +
        (col("pos") - col("plo")) * (col("thi") - col("tlo")))
    val knots = withT
      .select(col("sample_label"), col("channel"),
        col("v").as("xp"), ((col("v") + grid) / 2).as("fp"))

    // ---- per-(sample, channel) curve bounds (tiny frame) ----
    val bounds = knots.groupBy("sample_label", "channel")
      .agg(min(col("xp")).as("minX"), max(col("xp")).as("maxX"),
        min(col("fp")).as("minMid"), max(col("fp")).as("maxMid"))

    // ---- apply: explode the four value columns, interp, branch ----
    val valueCols = Seq("meth_g", "unmeth_g", "meth_r", "unmeth_r")
    val queries = signal.select(col("sample_label"), col("probe_id"),
      explode(map(valueCols.flatMap(c =>
        Seq(lit(c), col(c).cast("double"))): _*)).as(Seq("vcol", "v")))
      .withColumn("channel",
        when(col("vcol").endsWith("_g"), lit("G")).otherwise(lit("R")))
    val looked = graft.operators.Interp.interpLookup(queries, knots,
      Seq("sample_label", "channel"), "v", "itp")
    val v = col("v")
    val mapped = looked
      .join(broadcast(bounds), Seq("sample_label", "channel"), "left")
      .withColumn("out",
        when(col("minX").isNull, v) // no fit for this sample → passthrough
          .when(isnan(v), lit(null).cast("double"))
          .when(v > col("maxX"), v - col("maxX") + col("maxMid"))
          .when(v < col("minX"),
            when(col("minX") === 0, lit(null).cast("double"))
              .otherwise(v * (col("minMid") / col("minX"))))
          .otherwise(col("itp")))
    val pivoted = mapped.groupBy("sample_label", "probe_id")
      .pivot("vcol", valueCols)
      .agg(first(col("out")))
    val corrected = signal.drop(valueCols: _*)
      .join(pivoted, Seq("sample_label", "probe_id"), "left")
      .select(signal.columns.map(c =>
        if (valueCols.contains(c)) col(c).cast("float").as(c)
        else col(c)): _*)

    val maskRows = Masks.of("dye bias nl", t1.filter(col("channel") === "G")
      .select("probe_id").distinct()
      .crossJoin(broadcast(
        distortedDf.filter(col("_distorted")).select("sample_label"))))
    (corrected, maskRows)
  }
}
