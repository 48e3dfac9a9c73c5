package graft.dm

import breeze.linalg.{inv, pinv, DenseMatrix, DenseVector}
import graft.functions.StatFuncs
import org.apache.commons.math3.distribution.FDistribution
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Differential methylation (SURVEY.md §2.11 L1/L3/L4/A14; reference
  * pylluminator/dm.py).
  *
  * DMP: one OLS fit per probe against a shared design matrix. The matrix
  * is identical for every probe (dm.py:434-443), so (XᵀX)⁻¹ and the
  * pseudo-inverse are computed ONCE on the driver and broadcast; each
  * probe's fit is then closed-form arithmetic executed inside a single
  * `groupBy(probe).agg(...)` + UDF pass — the Spark re-expression of the
  * reference's joblib fan-out (dm.py:449-456). Probes with missing values
  * fall back to a per-probe pinv on the non-missing rows (dm.py:60).
  *
  * DMR: genome-ordered windows (W1-W4) → change points → running segment
  * ids → per-segment aggregation with Stouffer-combined p-values (A14).
  * The genome axis is windowed per (chromosome, block); the few values
  * per block that stitch neighbouring blocks are collected and folded on
  * the driver, then joined back as local relations.
  *
  * Both end in Benjamini-Hochberg per factor, one range-shuffle scan each
  * ([[graft.operators.Ranks.bhAdjust]]).
  */
object Dm {

  /** A design matrix with patsy-style treatment coding
    * (dm.py:421-443): intercept + numeric columns as-is + categorical
    * columns as `col[T.level]` dummies against the (sorted or specified)
    * reference level. */
  final case class Design(
      factorNames: Seq[String], // e.g. Intercept, sample_type[T.PREC]
      rows: Map[String, Array[Double]]) { // sample_label -> X row
    def p: Int = factorNames.length
  }

  /** Build the design matrix on the driver from a (small) sample sheet.
    * `formula` is the R-style RHS: "~ a + b". */
  def designMatrix(sheet: Seq[Map[String, String]], labelCol: String,
      formula: String,
      referenceValues: Map[String, String] = Map.empty): Design = {
    val factors = formula.replaceFirst("^\\s*~\\s*", "").split("\\+")
      .map(_.trim).filter(_.nonEmpty)
    val names = scala.collection.mutable.ArrayBuffer[String]("Intercept")
    val colVals: Seq[Map[String, String]] = sheet
    def isNumeric(f: String): Boolean =
      colVals.forall(r => r.get(f).forall(v =>
        scala.util.Try(v.toDouble).isSuccess))
    val encoders: Seq[Map[String, String] => Seq[Double]] = factors.map { f =>
      if (isNumeric(f)) {
        names += f
        (r: Map[String, String]) => Seq(r(f).toDouble)
      } else {
        val levels0 = colVals.map(_(f)).distinct.sorted
        val levels = referenceValues.get(f) match {
          case Some(ref) => ref +: levels0.filterNot(_ == ref)
          case None => levels0
        }
        val nonRef = levels.drop(1)
        nonRef.foreach(l => names += s"$f[T.$l]")
        (r: Map[String, String]) => nonRef.map(l => if (r(f) == l) 1.0 else 0.0)
      }
    }
    val rows = sheet.map { r =>
      r(labelCol) -> (1.0 +: encoders.flatMap(_(r))).toArray
    }.toMap
    Design(names.toSeq, rows)
  }

  /** L1 — compute DMPs: per-probe OLS of beta ~ design. Input betas long
    * [sample_label, probe_id, beta]. Output one row per probe:
    * probe_id, f_pvalue, effect_size, and per factor
    * {factor}_p_value/_t_value/_estimate/_std_err, plus BH-adjusted
    * p-values per factor (dm.py:458-477).
    *
    * CONTRACT: (probe_id, sample_label) must be unique in `betas` —
    * one observation per sample per probe, the invariant every
    * upstream producer (SignalBuilder betas, merged replicates)
    * maintains. Both fit routes ENFORCE it: the general path's
    * map_from_entries raises on a duplicate sample key
    * (mapKeyDedupPolicy=EXCEPTION), and the p=2 codegen path carries
    * an assert_true on the gathered observation list, so a duplicate
    * fails loudly on either route instead of silently fitting the
    * duplicate as an extra observation on one path only. */
  def computeDmp(spark: SparkSession, betas: DataFrame,
      design: Design): DataFrame = {
    val samples = design.rows.keys.toSeq.sorted
    val p = design.p
    val x = DenseMatrix(samples.map(design.rows): _*)
    val xtxInv = inv(x.t * x)
    val pinvFull = xtxInv * x.t
    // index lookup instead of a dense n-wide y per probe: with many
    // samples but sparse per-probe observations the dense construction
    // is O(probes · samples) map probes (20M at sf0.1) for O(probes ·
    // k_present) useful work — iterate the probe's own map instead
    val sampleIdx: Map[String, Int] = samples.zipWithIndex.toMap
    val bcast = spark.sparkContext.broadcast(
      (samples, sampleIdx, x.toArray, xtxInv.toArray, pinvFull.toArray))

    val nF = design.factorNames.length
    // general-p pinv fit; p = 2 never reaches it (`grouped` below sends
    // simple regression to the pure-codegen route)
    val fitUdf = udf((m: Map[String, Double]) => {
      val (sampleOrder, idxOf, xArr, xtxInvArr, pinvArr) = bcast.value
      val n = sampleOrder.length
      val xFull = new DenseMatrix(n, p, xArr)
      // present = design-sample indices with a non-NaN beta, ascending —
      // identical set and order to the previous dense-y scan
      val pairs = m.iterator.flatMap { case (s, v) =>
        if (v.isNaN) Iterator.empty
        else idxOf.get(s).map(i => (i, v)).iterator
      }.toArray.sortBy(_._1)
      val present = pairs.map(_._1)
      val y = pairs.map(_._2)
      val k = present.length
      if (k < p + 1) Array.fill(2 + 4 * nF)(Double.NaN)
      else {
        val sub: Option[(DenseMatrix[Double], DenseMatrix[Double],
            DenseMatrix[Double])] =
          if (k == n)
            Some((xFull, new DenseMatrix(p, n, pinvArr),
              new DenseMatrix(p, p, xtxInvArr)))
          else {
            val xs = DenseMatrix(present.map(i => xFull(i, ::).t.toArray): _*)
            scala.util.Try(inv(xs.t * xs)).toOption
              .map(xtxiS => (xs, xtxiS * xs.t, xtxiS))
          }
        if (sub.isEmpty) Array.fill(2 + 4 * nF)(Double.NaN)
        else {
        val (xm, pin, xtxi) = sub.get
        val yv = DenseVector(y: _*)
        val beta = pin * yv
        val resid = yv - xm * beta
        val dof = k - p
        if (dof <= 0) Array.fill(2 + 4 * nF)(Double.NaN)
        else {
          val sse = resid dot resid
          val sigma2 = sse / dof
          val yMean = breeze.linalg.sum(yv) / k
          val sst = yv.toArray.map(v => (v - yMean) * (v - yMean)).sum
          // F test of all non-intercept coefficients (statsmodels f_pvalue)
          val dfModel = p - 1
          val fPval =
            if (dfModel <= 0 || sigma2 == 0) Double.NaN
            // F(1, ν) is t(ν)² exactly — route through the slope's t
            // STATISTIC, not sqrt(fStat): sst − sse cancels
            // catastrophically in the no-signal limit and sqrt has
            // unbounded sensitivity at 0, so the sign/magnitude of a
            // ~1e-13 residue decided NaN-vs-1.0 (observed at sf0.1);
            // t = est/se is the primitive and p(t) is smooth there.
            // Closed-form A&S survival keeps it oracle-reproducible.
            else if (dfModel == 1) {
              val se1 = math.sqrt(sigma2 * xtxi(1, 1))
              if (se1 == 0) Double.NaN
              else StatFuncs.tTwoSidedP(beta(1) / se1, dof)
            } else {
              val fStat = ((sst - sse) / dfModel) / sigma2
              if (fStat.isNaN || fStat < 0) Double.NaN
              else 1.0 - new FDistribution(dfModel.toDouble, dof.toDouble)
                .cumulativeProbability(fStat)
            }
          // effect size: max - min over non-intercept estimates + {0}
          val est = beta.toArray
          val nonIntercept = est.drop(1) :+ 0.0
          val effect = nonIntercept.max - nonIntercept.min
          val out = Array.newBuilder[Double]
          out += fPval
          out += effect
          var j = 0
          while (j < nF) {
            val se = math.sqrt(sigma2 * xtxi(j, j))
            val t = if (se == 0) Double.NaN else est(j) / se
            // closed-form two-sided t survival (exact for integer dof) —
            // bit-reproducible by the transcribed oracle recurrence
            val pv = StatFuncs.tTwoSidedP(t, dof)
            out += pv; out += t; out += est(j); out += se
            j += 1
          }
          out.result()
        }
        }
      }
    })

    // null betas become NaN BEFORE the map aggregation: a null map value
    // would silently convert to 0.0 at the UDF boundary (primitive Double)
    val grouped = if (p == 2) {
      // Pure-codegen simple-regression path (the dominant shape:
      // intercept + one covariate). The UDF route above pays a
      // string-keyed HashMap build + Map decode PER PROBE — more than
      // the regression arithmetic itself. Here the observation list is
      // sorted by design index (sort_array ≡ the UDF's sortBy(_._1)),
      // the sufficient statistics fold in the same per-element order
      // through aggregate() (bit-identical accumulation — q67's oracle
      // gates every emitted statistic), and the closed-form stats plus
      // the A&S t survival are Column expressions, so the whole fit
      // runs inside whole-stage codegen with no serialization boundary.
      val nan = lit(Double.NaN)
      // (label → design index, covariate) via a BROADCAST HASH join —
      // not element_at over a literal map, whose GetMapValue is a
      // linear scan per row (measured: +1.7 s on q67 at 1000 samples)
      val lookup = {
        import betas.sparkSession.implicits._
        broadcast(samples.zipWithIndex
          .map { case (s, i) => (s, i, design.rows(s)(1)) }
          .toDF("sample_label", "si", "xi"))
      }
      // Pin the fit stage's parallelism: the per-probe stats stage
      // is CPU-bound but byte-SMALL (~8 MB at sf0.1), so AQE's byte-based
      // coalescing squeezes the probe-keyed exchange onto ONE task and
      // serializes every probe's fold + t-survival evaluation (measured:
      // a 2.9 s single-task stage inside q67). An explicit
      // repartition(n, probe_id) carries the same hash distribution the
      // groupBy needs (no extra exchange) and AQE leaves user-pinned
      // partition counts alone. n tracks spark.sql.shuffle.partitions,
      // so the pin is cluster-sized, not a local constant.
      val nPart = betas.sparkSession.sessionState.conf.numShufflePartitions
      val obs = betas
        .filter(col("sample_label").isin(samples: _*))
        .join(lookup, "sample_label")
        .select(col("probe_id"), col("si"), col("xi"),
          coalesce(col("beta").cast("double"), nan).as("y"))
        .repartition(nPart, col("probe_id"))
        .groupBy("probe_id")
        // NaN betas drop out (when → null; collect_list skips nulls)
        // but the probe GROUP survives, matching the UDF's NaN-drop
        .agg(sort_array(collect_list(when(!isnan(col("y")),
          struct(col("si"), col("xi"), col("y"))))).as("obs"))
        // duplicate-(probe, sample) guard: the UDF route raises via
        // map_from_entries (mapKeyDedupPolicy=EXCEPTION); this route
        // must not silently fit a duplicate as a second observation
        // (contract at computeDmp). assert_true yields NULL on pass,
        // so the filter keeps every row while forcing evaluation.
        .filter(assert_true(
          size(expr("array_distinct(transform(obs, o -> o.si))")) ===
            size(col("obs")),
          concat(lit("duplicate (probe_id, sample_label) betas for "),
            col("probe_id"))).isNull)
      val withSt = obs
        .withColumn("st", expr("""aggregate(obs,
          named_struct('k', 0, 'sx', 0D, 'sxx', 0D, 'sy', 0D,
            'sxy', 0D, 'syy', 0D),
          (a, o) -> named_struct('k', a.k + 1,
            'sx', a.sx + o.xi, 'sxx', a.sxx + o.xi * o.xi,
            'sy', a.sy + o.y, 'sxy', a.sxy + o.xi * o.y,
            'syy', a.syy + o.y * o.y))"""))
        .select(col("probe_id"), col("st.k").as("k"),
          col("st.sx").as("sx"), col("st.sxx").as("sxx"),
          col("st.sy").as("sy"), col("st.sxy").as("sxy"),
          col("st.syy").as("syy"))
        .withColumn("nD", col("k").cast("double"))
        .withColumn("det",
          col("nD") * col("sxx") - col("sx") * col("sx"))
        .withColumn("slope",
          (col("nD") * col("sxy") - col("sx") * col("sy")) / col("det"))
        .withColumn("icept",
          (col("sy") - col("slope") * col("sx")) / col("nD"))
        .withColumn("sigma2",
          greatest(col("syy") - col("icept") * col("sy") -
            col("slope") * col("sxy"), lit(0.0)) / (col("nD") - 2))
        .withColumn("dof", (col("k") - 2).cast("int"))
        .withColumn("seI",
          sqrt(col("sigma2") * col("sxx") / col("det")))
        .withColumn("seS", sqrt(col("sigma2") * col("nD") / col("det")))
        .withColumn("tI", when(col("seI") === 0.0, nan)
          .otherwise(col("icept") / col("seI")))
        .withColumn("tS", when(col("seS") === 0.0, nan)
          .otherwise(col("slope") / col("seS")))
        .withColumn("pI",
          graft.functions.Expressions.tTwoSidedP(col("tI"), col("dof")))
        .withColumn("pS",
          graft.functions.Expressions.tTwoSidedP(col("tS"), col("dof")))
        .withColumn("effect",
          greatest(col("slope"), lit(0.0)) - least(col("slope"), lit(0.0)))
      withSt
        .withColumn("fit",
          when(col("k") < p + 1 || col("det") === 0.0,
            array(Seq.fill(2 + 4 * nF)(nan): _*))
          .otherwise(array(col("pS"), col("effect"), col("pI"),
            col("tI"), col("icept"), col("seI"), col("pS"), col("tS"),
            col("slope"), col("seS"))))
        .select(col("probe_id"), col("fit"))
    } else betas
      .filter(col("sample_label").isin(samples: _*))
      // parallelism pin, same rationale as the p = 2 route above: the
      // per-probe pinv fits are CPU-heavy and byte-small — without the
      // pin AQE coalesces the probe exchange to one task
      .repartition(betas.sparkSession.sessionState.conf
        .numShufflePartitions, col("probe_id"))
      .groupBy("probe_id")
      .agg(map_from_entries(collect_list(
        struct(col("sample_label"),
          coalesce(col("beta").cast("double"), lit(Double.NaN))))).as("ys"))
      .withColumn("fit", fitUdf(col("ys")))
      .drop("ys")
    statsTable(grouped, design)
  }

  /** Shared tail of [[computeDmp]] and [[computeDmpMixed]]: unpack the
    * per-probe `fit` array into `f_pvalue`, `effect_size` and the
    * per-factor columns, then BH-adjust each factor's p-values. */
  private def statsTable(grouped: DataFrame, design: Design): DataFrame = {
    val sanitized = design.factorNames.map(sanitize)
    val withCols = sanitized.zipWithIndex.foldLeft(
      grouped
        .withColumn("f_pvalue", element_at(col("fit"), 1))
        .withColumn("effect_size", element_at(col("fit"), 2))) {
      case (df, (f, i)) =>
        df.withColumn(s"${f}_p_value", element_at(col("fit"), 3 + 4 * i))
          .withColumn(s"${f}_t_value", element_at(col("fit"), 4 + 4 * i))
          .withColumn(s"${f}_estimate", element_at(col("fit"), 5 + 4 * i))
          .withColumn(s"${f}_std_err", element_at(col("fit"), 6 + 4 * i))
    }
    // Each adjustBH range-partitions its input, and the range sampler's
    // job evaluates that input before the shuffle does: on the lazy fit
    // every per-probe regression would run twice. The checkpoint runs
    // the fit once; each later factor reads the previous scan's output.
    val statsBase = withCols.drop("fit").localCheckpoint()
    sanitized.foldLeft(statsBase) { (df, f) =>
      adjustBH(df, s"${f}_p_value", s"${f}_p_value_adjusted")
    }
  }

  def sanitize(factor: String): String =
    factor.replaceAll("[\\[\\]\\.\\s]+", "_").replaceAll("_+$", "")

  /** L2 — DMPs with a random intercept per replicate group
    * (dm.py:62-67: MixedLM when `group_column` is set). Same fan-out as
    * the OLS path; each probe fits the profiled-likelihood LMM
    * ([[MixedLm]]). `f_pvalue` is null (the reference returns None for
    * mixed models); per-factor inference is Wald z. */
  def computeDmpMixed(spark: SparkSession, betas: DataFrame,
      design: Design, replicateGroups: Map[String, String]): DataFrame = {
    val samples = design.rows.keys.toSeq.sorted
    val p = design.p
    val x = DenseMatrix(samples.map(design.rows): _*)
    val groupIds = {
      val levels = samples.map(replicateGroups).distinct.sorted
      samples.map(s => levels.indexOf(replicateGroups(s))).toArray
    }
    // same sparse-presence lookup as computeDmp: iterate the probe's own
    // map instead of building a dense n-wide y per probe
    val sampleIdx: Map[String, Int] = samples.zipWithIndex.toMap
    val bcast = spark.sparkContext.broadcast(
      (samples, sampleIdx, x.toArray, groupIds))
    val nF = design.factorNames.length

    val fitUdf = udf((m: Map[String, Double]) => {
      val (sampleOrder, idxOf, xArr, gIds) = bcast.value
      val n = sampleOrder.length
      val xFull = new DenseMatrix(n, p, xArr)
      val pairs = m.iterator.flatMap { case (s, v) =>
        if (v.isNaN) Iterator.empty
        else idxOf.get(s).map(i => (i, v)).iterator
      }.toArray.sortBy(_._1)
      val present = pairs.map(_._1)
      if (present.length < p + 2) Array.fill(2 + 4 * nF)(Double.NaN)
      else {
        val xs = DenseMatrix(present.map(i => xFull(i, ::).t.toArray)
          .toSeq: _*)
        val ys = DenseVector(pairs.map(_._2))
        // re-map group ids to contiguous 0-based over present rows
        val rawG = present.map(gIds).toArray
        val remap = rawG.distinct.sorted.zipWithIndex.toMap
        val gs = rawG.map(remap)
        MixedLm.fit(xs, ys, gs) match {
          case None => Array.fill(2 + 4 * nF)(Double.NaN)
          case Some(f) =>
            val nonIntercept = f.beta.drop(1) :+ 0.0
            val effect = nonIntercept.max - nonIntercept.min
            val out = Array.newBuilder[Double]
            out += Double.NaN // f_pvalue: None for mixed models
            out += effect
            var j = 0
            while (j < nF) {
              out += f.pValues(j); out += f.zValues(j)
              out += f.beta(j); out += f.se(j)
              j += 1
            }
            out.result()
        }
      }
    })

    val grouped = betas
      .filter(col("sample_label").isin(samples: _*))
      // Parallelism pin: the golden-section LMM fit is
      // ~36 likelihood evaluations PER PROBE but the probe-keyed
      // exchange is only ~8 MB at sf0.1, so AQE's byte-based coalescing
      // was running every fit in ONE task (measured: a 5.1 s single-task
      // stage inside q81 — its single biggest). The keyed repartition
      // pins the fan-out at the cluster's shuffle parallelism; AQE
      // leaves user-pinned counts alone.
      .repartition(betas.sparkSession.sessionState.conf
        .numShufflePartitions, col("probe_id"))
      .groupBy("probe_id")
      .agg(map_from_entries(collect_list(
        struct(col("sample_label"),
          coalesce(col("beta").cast("double"), lit(Double.NaN))))).as("ys"))
      .withColumn("fit", fitUdf(col("ys")))
      .drop("ys")
    statsTable(grouped, design)
  }

  /** L3/W7 — Benjamini-Hochberg adjustment over the non-null p-values
    * (dm.py:475-477): rank ascending, monotone cumulative min of p·n/rank
    * from the largest rank, capped at 1. Delegates to
    * [[graft.operators.Ranks.bhAdjust]], one scan over a p-descending
    * range shuffle (no single-partition window; tie order cannot change
    * the adjusted values, so no tiebreaker column is needed). */
  def adjustBH(df: DataFrame, pCol: String, outCol: String): DataFrame =
    graft.operators.Ranks.bhAdjust(df, pCol, outCol)

  /** A14 — Stouffer combination of a segment's p-values:
    * Z = Σ Φ⁻¹(1−pᵢ) / √k, combined p = 1 − Φ(Z); a single p passes
    * through unchanged; any null/NaN member nulls the segment (pandas NaN
    * propagation, dm.py:27-37). Column-expression aggregation — the
    * "few minutes" pandas apply (dm.py:622) becomes one shuffle. */
  def stoufferAgg(pCol: String): org.apache.spark.sql.Column = {
    val z = -StatFuncs.normInvCol(col(pCol)) // Φ⁻¹(1-p) = -Φ⁻¹(p)
    val anyNull = max(when(col(pCol).isNull || isnan(col(pCol)), 1)
      .otherwise(0))
    val k = count(col(pCol))
    // Deterministic summation: sort the segment's z values and left-fold.
    // A plain sum(z) accumulates in partition/scan order, so its last bit
    // floats with parallelism — under the round(·, 6) oracle gate that is
    // a latent round-boundary flip (r6: q71 driver hash-red that no local
    // replay could reproduce). Sorted-fold is order-independent on every
    // engine; segments are small (≤ samples · probes-per-segment cells),
    // so the per-group array is KB-bounded.
    val zSum = aggregate(array_sort(collect_list(z)), lit(0.0d),
      (acc, x) => acc + x)
    val single = first(col(pCol))
    when(anyNull === 1, lit(null).cast("double"))
      .when(k === 1, single)
      .otherwise(lit(0.5) * StatFuncs.erfcCol(zSum / sqrt(k) / math.sqrt(2.0)))
  }

  /** L4 — DMR segmentation (dm.py:489-643). Inputs: betas long, dmp (from
    * computeDmp), probe genomic ranges [probe_id, chromosome, start, end],
    * the contrast factor names (sanitized). Output: one row per segment
    * with min start / max end / first chromosome, Stouffer-combined and
    * BH-adjusted p-values per contrast, and mean estimates. */
  def computeDmr(betas: DataFrame, dmp: DataFrame, ranges: DataFrame,
      contrasts: Seq[String], distCutoff: Option[Double] = None,
      segPerLocus: Double = 0.5, blockSize: Long = 10000000L): DataFrame = {
    // probe × sample → probe rows with per-sample betas array (genome axis)
    val nonEmpty = ranges.filter(col("end") > col("start"))
    val betaVecs = betas.groupBy("probe_id")
      .agg(map_from_entries(collect_list(
        struct(col("sample_label"), col("beta").cast("double")))).as("bmap"),
        max(when(col("beta").isNotNull, 1).otherwise(0)).as("any_beta"))
      .filter(col("any_beta") === 1)
    val cpg = nonEmpty.join(betaVecs, "probe_id")
      .join(dmp.select(col("probe_id") +:
        (contrasts.map(c => col(s"${c}_p_value")) ++
          contrasts.map(c => col(s"${c}_estimate"))): _*), Seq("probe_id"))

    // genome-ordered windows PARTITIONED BY (CHROMOSOME, 10 Mb BLOCK):
    // the reference sorts globally (dm.py:567-568), but chromosome
    // boundaries always cut segments (last_probe_in_chromosome is a
    // change point), so the computation is chromosome-independent — and
    // a per-chromosome window would still serialize each chromosome
    // into ONE task, making the wall clock track the largest chromosome
    // superlinearly at 10× scale (measured 2.56× on a chr1-heavy
    // census). Blocks parallelize the genome axis evenly; everything
    // that crosses a block boundary is per-BLOCK information (one row
    // per ~blockSize of genome — a KB-scale frame), collected twice and
    // folded on the driver:
    //   - each block's last key and FIRST vec (the previous block's
    //     lead) — the chromosome index comes from the same rows;
    //   - after the cutoff, each block's LAST change_point (the next
    //     block's lag) and its change points before the last row (the
    //     running-offset prefix).
    // Both are joined back as broadcasts of local relations (no job),
    // so segment ids are IDENTICAL to the single-window-per-chromosome
    // plan — blocks are internal blocking, never segment boundaries.
    val samplesOrdered = betas.select("sample_label").distinct()
      .collect().map(_.getString(0)).sorted
    val vec = array(samplesOrdered.map(s =>
      element_at(col("bmap"), s)): _*)
    val ord = Seq(col("start"), col("end"), col("probe_id"))
    val keyStruct = struct(ord: _*)
    val wb = Window.partitionBy(col("chromosome"), col("_blk"))
      .orderBy(ord: _*)
    val blockKey = Seq("chromosome", "_blk")
    def perBlock(df: DataFrame): Array[Row] = df.collect()
      .sortBy(r => (r.getString(0), r.getLong(1)))
    def local(rows: Seq[Row], fields: StructField*): DataFrame =
      broadcast(betas.sparkSession.createDataFrame(rows.asJava,
        StructType(StructField("chromosome", StringType) +:
          StructField("_blk", LongType) +: fields)))
    // cache point: `blocked` (the full betas-pivot prefix) feeds the
    // bounds aggregate and the staged window; caching HERE computes the
    // expensive prefix exactly once. Unpersisted after the final
    // aggregate below.
    val blocked = cpg.withColumn("vec", vec)
      .withColumn("_blk", expr(s"start div ${blockSize}L"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val boundsAgg = blocked.groupBy(blockKey.map(col): _*)
      .agg(max(keyStruct).as("_max_ord"),
        min_by(col("vec"), keyStruct).as("_first_vec"))
    val bounds = perBlock(boundsAgg)
    // dense index per chromosome string, 1-based in sorted order
    val chromIdx = bounds.map(_.getString(0)).distinct.zipWithIndex
      .map { case (c, i) => c -> (i + 1).toLong }.toMap
    val stitchLead = local(
      bounds.indices.map { i =>
        val r = bounds(i)
        val next = bounds.lift(i + 1).filter(_.getString(0) == r.getString(0))
        Row(r.getString(0), r.getLong(1), r.get(2),
          next.map(_.get(3)).orNull)
      },
      StructField("_max_ord", boundsAgg.schema("_max_ord").dataType),
      StructField("_next_first_vec", boundsAgg.schema("_first_vec").dataType))

    val staged = blocked
      .join(stitchLead, blockKey)
      .withColumn("_is_last", keyStruct === col("_max_ord"))
      .withColumn("_lead_vec", lead(col("vec"), 1).over(wb))
      .withColumn("_next_vec", when(col("_is_last"),
        col("_next_first_vec")).otherwise(col("_lead_vec")))
      .withColumn("last_in_chrom", col("_next_vec").isNull)
      .withColumn("dist", when(col("_next_vec").isNotNull,
        graft.functions.Expressions.vecSqDist(col("vec"), col("_next_vec"))))
      .drop("vec", "bmap", "any_beta", "_lead_vec", "_next_vec",
        "_next_first_vec", "_max_ord")
      // second cache point: the block-windowed frame has three readers
      // (cutoff percentile, per-block change points, the final pass);
      // cached, the 9.4M-row exchange+sort runs once instead of once
      // per reader
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val cutoff = distCutoff.getOrElse {
      staged.filter(col("dist").isNotNull && !col("last_in_chrom"))
        .agg(percentile(col("dist"), lit(1.0 - segPerLocus)))
        .head().getDouble(0)
    }

    // W3: change points → running segment ids (shift semantics: a change
    // point closes its segment; the NEXT row starts a new one)
    val flagged = staged.withColumn("change_point",
      col("last_in_chrom") || col("dist") > cutoff)
    // per block: the previous block's last change_point (a chromosome's
    // first block gets the reference's `true`: a chromosome start always
    // opens a segment) and the segment-id base, chromosome index × 10⁹
    // plus the count of segment starts in the chromosome's earlier
    // blocks — a block starts `prev_cp + inner change points` segments
    val stitchLag = local({
      var chrom: String = null
      var prevCp = true
      var off = 0L
      perBlock(flagged.groupBy(blockKey.map(col): _*)
        .agg(max(when(col("_is_last"), col("change_point"))),
          count(when(col("change_point") && !col("_is_last"), 1))))
        .map { r =>
          val c = r.getString(0)
          if (c != chrom) { chrom = c; prevCp = true; off = 0L }
          val row = Row(c, r.getLong(1), prevCp,
            chromIdx(c) * 1000000000L + off)
          off += (if (prevCp) 1L else 0L) + r.getLong(3)
          prevCp = r.getBoolean(2)
          row
        }.toSeq
      },
      StructField("_prev_cp", BooleanType),
      StructField("_base", LongType))
    val wbRun = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // prev_change: the in-block lag; at a block's first row, the
    // previous block's stitched change_point
    val seg = flagged
      .join(stitchLag, blockKey)
      .withColumn("prev_change", coalesce(
        lag(col("change_point"), 1).over(wb), col("_prev_cp")))
      .withColumn("segment_id", col("_base") +
        sum(when(col("prev_change"), 1L).otherwise(0L)).over(wbRun))

    // per-segment aggregation incl Stouffer + BH (A13/A14)
    val aggs =
      Seq(min(col("start")).as("start"), max(col("end")).as("end"),
        first(col("chromosome")).as("chromosome"),
        count(lit(1)).as("n_probes")) ++
        contrasts.map(c => stoufferAgg(s"${c}_p_value").as(s"${c}_p_value")) ++
        contrasts.map(c => avg(col(s"${c}_estimate")).as(s"${c}_estimate"))
    // checkpointed for the reason statsTable's stats are: BH's range
    // sampler would otherwise re-run the segment aggregate
    val dmr = seg.groupBy("segment_id").agg(aggs.head, aggs.tail: _*)
      .localCheckpoint()
    blocked.unpersist(); staged.unpersist()
    contrasts.foldLeft(dmr) { (df, c) =>
      adjustBH(df, s"${c}_p_value", s"${c}_p_value_adjusted")
    }
  }
}
