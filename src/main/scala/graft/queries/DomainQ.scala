package graft.queries

import graft.Q
import graft.Q.t
import org.apache.spark.sql.functions._

/** Domain end-to-end oracles converting the remaining spec-only §2 blocks
  * into hash-gated rows: linear dye bias (L13), CNV bin medians (L7),
  * per-probe OLS (L1), dye-bias QC summary (A9) and beta-state
  * proportions (A11). Same discipline as q57-q59: a signal-shaped frame
  * is derived from the driver tables with INTEGER-VALUED cells (sums and
  * medians are then exact rationals on both engines, so the only
  * engine-visible rounding is the final float cast / round), and the
  * DuckDB oracle replays the full operator formula.
  */
object DomainQ {

  /** Driver-hash float hardening for emitted double columns. The driver's
    * compare hashes canonicalized cell values, where NaN vs NULL and
    * -0.0 vs 0.0 are representation differences the local exact-compare
    * forgives but a byte-level hash may not (r6: q71 driver-red while
    * three local replays were green). Normalize at the emit boundary:
    * NaN → NULL (`nanvl`), round to 6, and `+ 0.0` to collapse -0.0.
    * Oracle SQL mirrors this as round(x, 6) + 0.0 (DuckDB NULLs
    * propagate identically). */
  private[queries] def emit6(c: org.apache.spark.sql.Column) =
    round(nanvl(c, lit(null).cast("double")), 6) + lit(0.0)

  /** L13 end-to-end — dyeBiasCorrectionL (Prep.scala:233, reference
    * samples.py:1300-1338): scale G cells by mean_ib/median(type-I
    * in-band G), R cells by mean_ib/median(type-I in-band R). The frame
    * covers type II, type I G and type I R regimes plus per-cell NULLs
    * (scaled NULL stays NULL). All cells are integer-valued so mean_ib
    * and the medians are exact on both engines; the output is
    * FLOAT-exact (same double product, same final cast). */
  val q65 = Q(
    "q65_dyebias_linear_endtoend",
    (s, d) => {
      import s.implicits._
      def cell(base: org.apache.spark.sql.Column, m: Int) =
        when($"l_orderkey" % 23 === 0 || $"l_orderkey" % m === 0,
          lit(null).cast("float")).otherwise(base.cast("float"))
      val sig = t(s, d, "lineitem").select(
        $"l_suppkey".cast("string").as("sample_label"),
        $"l_partkey".cast("string").as("probe_id"),
        when($"l_partkey" % 3 === 0, "II").otherwise("I").as("inf_type"),
        when($"l_partkey" % 2 === 0, "G").otherwise("R").as("channel"),
        cell($"l_quantity", 11).as("meth_g"),
        cell(($"l_orderkey" * 3 + $"l_linenumber") % 47, 13)
          .as("unmeth_g"),
        cell(($"l_orderkey" * 7 + $"l_linenumber") % 53, 17)
          .as("meth_r"),
        cell(($"l_orderkey" * 11 + $"l_linenumber" * 5) % 59, 19)
          .as("unmeth_r"))
      graft.prep.Prep.dyeBiasCorrectionL(sig)
        .select($"sample_label", $"probe_id", $"inf_type", $"channel",
          $"meth_g", $"unmeth_g", $"meth_r", $"unmeth_r")
        .orderBy($"sample_label", $"probe_id", $"meth_g", $"unmeth_g",
          $"meth_r", $"unmeth_r")
    },
    Some("""
      WITH sig AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS sample_label,
               CAST(l_partkey AS VARCHAR) AS probe_id,
               CASE WHEN l_partkey % 3 = 0 THEN 'II' ELSE 'I' END
                 AS inf_type,
               CASE WHEN l_partkey % 2 = 0 THEN 'G' ELSE 'R' END
                 AS channel,
               CASE WHEN l_orderkey % 23 = 0 OR l_orderkey % 11 = 0
                    THEN NULL ELSE CAST(l_quantity AS FLOAT) END
                 AS meth_g,
               CASE WHEN l_orderkey % 23 = 0 OR l_orderkey % 13 = 0
                    THEN NULL
                    ELSE CAST((l_orderkey * 3 + l_linenumber) % 47
                              AS FLOAT) END AS unmeth_g,
               CASE WHEN l_orderkey % 23 = 0 OR l_orderkey % 17 = 0
                    THEN NULL
                    ELSE CAST((l_orderkey * 7 + l_linenumber) % 53
                              AS FLOAT) END AS meth_r,
               CASE WHEN l_orderkey % 23 = 0 OR l_orderkey % 19 = 0
                    THEN NULL
                    ELSE CAST((l_orderkey * 11 + l_linenumber * 5) % 59
                              AS FLOAT) END AS unmeth_r
        FROM lineitem
      ), ib AS (
        -- ibCells: two (channel, value) cells per row. Type II reads
        -- (G, meth_g) and (R, unmeth_r); type I reads both cells from
        -- its own channel.
        SELECT sample_label, inf_type, channel,
               CASE WHEN inf_type = 'II' THEN 'G' ELSE channel END AS ch,
               CASE WHEN inf_type = 'II' THEN meth_g
                    WHEN channel = 'G' THEN meth_g ELSE meth_r END AS v
        FROM sig
        UNION ALL
        SELECT sample_label, inf_type, channel,
               CASE WHEN inf_type = 'II' THEN 'R' ELSE channel END AS ch,
               CASE WHEN inf_type = 'II' THEN unmeth_r
                    WHEN channel = 'G' THEN unmeth_g ELSE unmeth_r END
                 AS v
        FROM sig
      ), mean_ib AS (
        SELECT sample_label, avg(CAST(v AS DOUBLE)) AS mean_ib
        FROM ib WHERE v IS NOT NULL GROUP BY sample_label
      ), med AS (
        SELECT sample_label,
               quantile_cont(CASE WHEN ch = 'G'
                 THEN CAST(v AS DOUBLE) END, 0.5) AS med_g,
               quantile_cont(CASE WHEN ch = 'R'
                 THEN CAST(v AS DOUBLE) END, 0.5) AS med_r
        FROM ib WHERE inf_type = 'I' AND v IS NOT NULL
        GROUP BY sample_label
      ), f AS (
        SELECT m.sample_label, m.mean_ib / d.med_g AS f_g,
               m.mean_ib / d.med_r AS f_r
        FROM mean_ib m JOIN med d USING (sample_label)
      )
      SELECT s.sample_label, s.probe_id, s.inf_type, s.channel,
             CAST(s.meth_g * f.f_g AS FLOAT) AS meth_g,
             CAST(s.unmeth_g * f.f_g AS FLOAT) AS unmeth_g,
             CAST(s.meth_r * f.f_r AS FLOAT) AS meth_r,
             CAST(s.unmeth_r * f.f_r AS FLOAT) AS unmeth_r
      FROM sig s LEFT JOIN f USING (sample_label)
      ORDER BY sample_label, probe_id, meth_g, unmeth_g, meth_r,
               unmeth_r"""))

  /** L7 end-to-end — Cnv.binMedians (Cnv.scala:230, reference
    * cnv.py:184-187): probe CNV signal joined onto its genomic range,
    * overlap-joined with fixed 50 kb bins, per-bin exact median +
    * probe count + bin midpoint. Probe ranges/values derive from part
    * (integer cnv → the median interpolation is exact). Bins come from
    * tileGenome over a 4-chromosome synthetic genome — the same
    * generator the CNV pipeline uses. */
  val q66 = Q(
    "q66_cnv_bin_medians",
    (s, d) => {
      import s.implicits._
      val ranges = t(s, d, "part").select(
        $"p_partkey".cast("string").as("probe_id"),
        concat(lit("chr"), ($"p_partkey" % 4 + 1).cast("string"))
          .as("chromosome"),
        (($"p_partkey" * 1543) % 1000000L).cast("long").as("start"),
        (($"p_partkey" * 1543) % 1000000L + 120L).cast("long").as("end"))
      val cnv = t(s, d, "part").select(
        $"p_partkey".cast("string").as("probe_id"),
        ($"p_partkey" % 97).cast("double").as("cnv"))
      val seqLens = ranges.select($"chromosome".as("chrom")).distinct()
        .withColumn("seq_length", lit(1000000L))
      val bins = graft.operators.Intervals.tileGenome(seqLens, 50000L)
      graft.cnv.Cnv.binMedians(cnv, ranges, bins)
        .select($"chrom", $"start_bin", $"end_bin",
          round($"cnv", 6).as("cnv"), $"n_probes", $"map_loc")
        .orderBy($"chrom", $"start_bin")
    },
    Some("""
      WITH ranges AS (
        SELECT CAST(p_partkey AS VARCHAR) AS probe_id,
               'chr' || CAST(p_partkey % 4 + 1 AS VARCHAR) AS chrom,
               CAST((p_partkey * 1543) % 1000000 AS BIGINT) AS r_start,
               CAST((p_partkey * 1543) % 1000000 + 120 AS BIGINT)
                 AS r_end,
               CAST(p_partkey % 97 AS DOUBLE) AS cnv
        FROM part
      ), bins AS (
        SELECT c.chrom, t.s AS start_bin,
               least(t.s + 50000, 1000000) AS end_bin
        FROM (SELECT DISTINCT chrom FROM ranges) c
        CROSS JOIN (SELECT UNNEST(generate_series(0, 999999, 50000))
                      AS s) t
      )
      SELECT b.chrom, b.start_bin, b.end_bin,
             round(quantile_cont(r.cnv, 0.5), 6) AS cnv,
             count(*) AS n_probes,
             CAST(floor((b.start_bin + b.end_bin) / 2) AS BIGINT)
               AS map_loc
      FROM ranges r
      JOIN bins b ON r.chrom = b.chrom
        AND r.r_start < b.end_bin AND r.r_end > b.start_bin
      GROUP BY b.chrom, b.start_bin, b.end_bin
      ORDER BY b.chrom, start_bin"""))

  /** L1 end-to-end — Dm.computeDmp (Dm.scala:76, reference
    * dm.py:458-477): per-probe OLS of beta ~ nation (intercept +
    * numeric covariate) with per-probe sample subsets (a probe only
    * fits over the samples that observed it — the reference's NA-drop
    * path). The oracle replays the closed-form simple regression:
    * slope, intercept, residual variance, and the (X'X)^-1 standard
    * errors. Probes seen in < 5 samples are excluded on both sides
    * (below p+1 the fit is NaN by contract; tiny subsets risk
    * degenerate zero-variance designs). p-values are Student-t /
    * F-distribution surface — covered by DmSpec, not SQL-expressible —
    * so the oracle gates estimates, standard errors and t-values. */
  val q67 = Q(
    "q67_dmp_ols_endtoend",
    (s, d) => {
      import s.implicits._
      val betasAll = t(s, d, "lineitem")
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(avg($"l_quantity").as("beta"))
        .select($"l_suppkey".cast("string").as("sample_label"),
          $"l_partkey".cast("string").as("probe_id"), $"beta")
      // eligibility (≥5 obs) as a count window on probe_id, not a
      // separate agg + join: the window's probe_id hash partitioning is
      // what computeDmp's groupBy(probe_id) needs, so the chain runs on
      // ONE probe-keyed exchange (measured 1.7× on the q81 twin)
      val betas = betasAll
        .withColumn("n_obs", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("probe_id")))
        .filter($"n_obs" >= 5).drop("n_obs")
      val sheetRows = t(s, d, "supplier")
        .select($"s_suppkey".cast("string"),
          $"s_nationkey".cast("string"))
        .collect().map(r => Map(
          "sample_label" -> r.getString(0), "nation" -> r.getString(1)))
        .toSeq
      val design =
        graft.dm.Dm.designMatrix(sheetRows, "sample_label", "~ nation")
      // Single round(·, 6) + -0.0/NaN normalization suffices here
      // because the p = 2 engine path computes the SAME closed form in
      // the SAME fold order as the oracle's ordered aggregates — every
      // statistic is bit-identical before the gate, so round-boundary
      // cells (dyadic slopes land on ...5 exactly) cannot flip. The
      // matrix-pseudo-inverse engine path drifted ~1e-13 from the
      // closed form and DID flip effect_size at sf0.1.
      graft.dm.Dm.computeDmp(s, betas, design)
        .select($"probe_id",
          emit6($"effect_size").as("effect_size"),
          emit6($"Intercept_estimate").as("intercept_estimate"),
          emit6($"Intercept_std_err").as("intercept_std_err"),
          emit6($"Intercept_t_value").as("intercept_t_value"),
          emit6($"nation_estimate").as("nation_estimate"),
          emit6($"nation_std_err").as("nation_std_err"),
          emit6($"nation_t_value").as("nation_t_value"),
          // p-value surface (closed-form A&S t CDF, clamped then rounded;
          // NaN → NULL at the emit boundary)
          emit6(greatest($"f_pvalue", lit(0.0))).as("f_pvalue"),
          emit6(greatest($"Intercept_p_value", lit(0.0)))
            .as("intercept_p_value"),
          emit6(greatest($"nation_p_value", lit(0.0)))
            .as("nation_p_value"))
        .orderBy($"probe_id")
    },
    Some("""
      WITH RECURSIVE betas AS (
        SELECT CAST(l_partkey AS VARCHAR) AS probe_id,
               CAST(l_suppkey AS VARCHAR) AS sample_label,
               avg(l_quantity) AS y
        FROM lineitem GROUP BY 1, 2
      ), eligible AS (
        SELECT probe_id FROM betas
        GROUP BY probe_id HAVING count(*) >= 5
      ), joined AS (
        SELECT b.probe_id, b.sample_label, b.y,
               CAST(s.s_nationkey AS DOUBLE) AS x
        FROM betas b
        JOIN eligible e USING (probe_id)
        JOIN supplier s ON CAST(s.s_suppkey AS VARCHAR) = b.sample_label
      ), st AS (
        -- ORDERED aggregates: fold each sum in lexicographic sample
        -- order, the exact sequence the engine's closed-form kernel
        -- folds in — sums are then bit-identical, not merely ~1e-13
        SELECT probe_id, CAST(count(*) AS DOUBLE) AS n,
               sum(x ORDER BY sample_label) AS sx,
               sum(x * x ORDER BY sample_label) AS sxx,
               sum(y ORDER BY sample_label) AS sy,
               sum(x * y ORDER BY sample_label) AS sxy,
               sum(y * y ORDER BY sample_label) AS syy
        FROM joined GROUP BY probe_id
      ), fit AS (
        SELECT probe_id, n, sxx, sy, sxy, syy,
               n * sxx - sx * sx AS det, sx,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
        FROM st
      ), fit2 AS (
        SELECT probe_id, n, sxx, det, slope, sy, sxy, syy,
               (sy - slope * sx) / n AS icept,
               greatest(syy - ((sy - slope * sx) / n) * sy
                        - slope * sxy, 0) / (n - 2) AS sigma2
        FROM fit
      ), tin AS (
        -- |t| per inference column; the overall F p-value (one
        -- regressor) IS the slope's two-sided t p-value — F(1, v) =
        -- t(v)^2 — so it reuses the 's' chain below
        SELECT probe_id, 'i' AS coef, CAST(n AS INTEGER) - 2 AS dof,
               abs(icept / sqrt(sigma2 * sxx / det)) AS tv
        FROM fit2
        UNION ALL
        SELECT probe_id, 's', CAST(n AS INTEGER) - 2,
               abs(slope / sqrt(sigma2 * n / det))
        FROM fit2
      ), tcs AS (
        SELECT probe_id, coef, dof,
               atan2(tv, sqrt(CAST(dof AS DOUBLE))) AS th,
               cos(atan2(tv, sqrt(CAST(dof AS DOUBLE)))) AS c,
               sin(atan2(tv, sqrt(CAST(dof AS DOUBLE)))) AS s
        FROM tin WHERE tv IS NOT NULL
      ), trec AS (
        -- A&S 26.7.3/26.7.4 finite sums, the exact recurrence of
        -- StatFuncs.tTwoSidedP: term_{k+1} = term_k * j/(j+1) * cos^2
        SELECT probe_id, coef, dof, th, c, s,
               CASE WHEN dof % 2 = 1 THEN c ELSE 1.0 END AS term,
               CASE WHEN dof % 2 = 1 THEN c ELSE 1.0 END AS acc,
               CASE WHEN dof % 2 = 1 THEN 2 ELSE 1 END AS j
        FROM tcs
        UNION ALL
        SELECT probe_id, coef, dof, th, c, s,
               term * (j / (j + 1.0)) * c * c,
               acc + term * (j / (j + 1.0)) * c * c,
               j + 2
        FROM trec WHERE j <= dof - 3
      ), tp AS MATERIALIZED (
        -- MATERIALIZED: three outer joins read tp; un-materialized,
        -- DuckDB re-evaluates the whole recursive chain (and its
        -- ordered-aggregate sums) per reference and runs out of memory
        -- at sf0.1
        SELECT probe_id, coef,
               CASE WHEN dof % 2 = 1
                    THEN 1.0 - 2.0 / pi() * (th + s * acc)
                    ELSE 1.0 - s * acc END AS p
        FROM trec WHERE j > dof - 3
      )
      SELECT f.probe_id,
             round(abs(f.slope), 6) + 0.0 AS effect_size,
             round(f.icept, 6) + 0.0 AS intercept_estimate,
             round(sqrt(f.sigma2 * f.sxx / f.det), 6) + 0.0
               AS intercept_std_err,
             round(f.icept / sqrt(f.sigma2 * f.sxx / f.det), 6) + 0.0
               AS intercept_t_value,
             round(f.slope, 6) + 0.0 AS nation_estimate,
             round(sqrt(f.sigma2 * f.n / f.det), 6) + 0.0
               AS nation_std_err,
             round(f.slope / sqrt(f.sigma2 * f.n / f.det), 6) + 0.0
               AS nation_t_value,
             CASE WHEN pf.p IS NULL THEN NULL
                  ELSE round(greatest(pf.p, 0.0), 6) + 0.0 END
               AS f_pvalue,
             CASE WHEN qi.p IS NULL THEN NULL
                  ELSE round(greatest(qi.p, 0.0), 6) + 0.0 END
               AS intercept_p_value,
             CASE WHEN qs.p IS NULL THEN NULL
                  ELSE round(greatest(qs.p, 0.0), 6) + 0.0 END
               AS nation_p_value
      FROM fit2 f
      LEFT JOIN tp pf ON pf.probe_id = f.probe_id AND pf.coef = 's'
      LEFT JOIN tp qi ON qi.probe_id = f.probe_id AND qi.coef = 'i'
      LEFT JOIN tp qs ON qs.probe_id = f.probe_id AND qs.coef = 's'
      ORDER BY f.probe_id"""))

  /** A9 end-to-end — QC.dyeBiasSummary (QC.scala:59, reference
    * samples.py:1372-1376, quality_control.py:193-207): per (sample,
    * channel) the median and the top-20 median of the type-I in-band
    * intensity. The oracle replays the top-20 slice with a row_number
    * window (ties carry identical values, so tie order cannot move
    * the median). Same integer-valued frame as q65. */
  val q68 = Q(
    "q68_dyebias_summary",
    (s, d) => {
      import s.implicits._
      def cell(base: org.apache.spark.sql.Column, m: Int) =
        when($"l_orderkey" % 23 === 0 || $"l_orderkey" % m === 0,
          lit(null).cast("float")).otherwise(base.cast("float"))
      val sig = t(s, d, "lineitem").select(
        $"l_suppkey".cast("string").as("sample_label"),
        $"l_partkey".cast("string").as("probe_id"),
        when($"l_partkey" % 3 === 0, "II").otherwise("I").as("inf_type"),
        when($"l_partkey" % 2 === 0, "G").otherwise("R").as("channel"),
        cell($"l_quantity", 11).as("meth_g"),
        cell(($"l_orderkey" * 3 + $"l_linenumber") % 47, 13)
          .as("unmeth_g"),
        cell(($"l_orderkey" * 7 + $"l_linenumber") % 53, 17)
          .as("meth_r"),
        cell(($"l_orderkey" * 11 + $"l_linenumber" * 5) % 59, 19)
          .as("unmeth_r"))
      graft.qc.QC.dyeBiasSummary(sig)
        .select($"sample_label", $"channel",
          round($"median_intensity", 6).as("median_intensity"),
          round($"top20_median", 6).as("top20_median"), $"n_values")
        .orderBy($"sample_label", $"channel")
    },
    Some("""
      WITH sig AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS sample_label,
               CASE WHEN l_partkey % 3 = 0 THEN 'II' ELSE 'I' END
                 AS inf_type,
               CASE WHEN l_partkey % 2 = 0 THEN 'G' ELSE 'R' END
                 AS channel,
               CASE WHEN l_orderkey % 23 = 0 OR l_orderkey % 11 = 0
                    THEN NULL ELSE CAST(l_quantity AS FLOAT) END
                 AS meth_g,
               CASE WHEN l_orderkey % 23 = 0 OR l_orderkey % 13 = 0
                    THEN NULL
                    ELSE CAST((l_orderkey * 3 + l_linenumber) % 47
                              AS FLOAT) END AS unmeth_g,
               CASE WHEN l_orderkey % 23 = 0 OR l_orderkey % 17 = 0
                    THEN NULL
                    ELSE CAST((l_orderkey * 7 + l_linenumber) % 53
                              AS FLOAT) END AS meth_r,
               CASE WHEN l_orderkey % 23 = 0 OR l_orderkey % 19 = 0
                    THEN NULL
                    ELSE CAST((l_orderkey * 11 + l_linenumber * 5) % 59
                              AS FLOAT) END AS unmeth_r
        FROM lineitem WHERE l_partkey % 3 <> 0
      ), ib AS (
        SELECT sample_label, channel,
               CASE WHEN channel = 'G' THEN meth_g ELSE meth_r END AS v
        FROM sig
        UNION ALL
        SELECT sample_label, channel,
               CASE WHEN channel = 'G' THEN unmeth_g ELSE unmeth_r END
                 AS v
        FROM sig
      ), ranked AS (
        SELECT sample_label, channel, CAST(v AS DOUBLE) AS v,
               row_number() OVER (PARTITION BY sample_label, channel
                                  ORDER BY v DESC) AS rn
        FROM ib WHERE v IS NOT NULL
      )
      SELECT sample_label, channel,
             round(quantile_cont(v, 0.5), 6) AS median_intensity,
             round(quantile_cont(CASE WHEN rn <= 20 THEN v END, 0.5), 6)
               AS top20_median,
             count(*) AS n_values
      FROM ranked
      GROUP BY sample_label, channel
      ORDER BY sample_label, channel"""))

  /** A11 end-to-end — QC.betaStateProportions (QC.scala:85, reference
    * visualizations.py:1906-1922): hyper/hypo/mid/NA percentages per
    * sample. Threshold comparisons run on the identical double
    * quotient on both engines, so the boundary rows land the same
    * way. */
  val q69 = Q(
    "q69_beta_state_proportions",
    (s, d) => {
      import s.implicits._
      val betas = t(s, d, "lineitem").select(
        $"l_suppkey".cast("string").as("sample_label"),
        $"l_partkey".cast("string").as("probe_id"),
        when($"l_orderkey" % 23 === 0, lit(null).cast("double"))
          .otherwise($"l_quantity" / 50.0).as("beta"))
      graft.qc.QC.betaStateProportions(betas, "sample_label")
        .select($"sample_label",
          round($"pct_na", 6).as("pct_na"),
          round($"pct_hypo", 6).as("pct_hypo"),
          round($"pct_mid", 6).as("pct_mid"),
          round($"pct_hyper", 6).as("pct_hyper"), $"n")
        .orderBy($"sample_label")
    },
    Some("""
      WITH betas AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS sample_label,
               CASE WHEN l_orderkey % 23 = 0 THEN NULL
                    ELSE l_quantity / 50.0 END AS beta
        FROM lineitem
      )
      SELECT sample_label,
             round(100.0 * avg(CASE WHEN beta IS NULL THEN 1.0
                                    ELSE 0.0 END), 6) AS pct_na,
             round(100.0 * avg(CASE WHEN beta < 0.3 THEN 1.0
                                    ELSE 0.0 END), 6) AS pct_hypo,
             round(100.0 * avg(CASE WHEN beta >= 0.3 AND beta <= 0.7
                                    THEN 1.0 ELSE 0.0 END), 6)
               AS pct_mid,
             round(100.0 * avg(CASE WHEN beta > 0.7 THEN 1.0
                                    ELSE 0.0 END), 6) AS pct_hyper,
             count(*) AS n
      FROM betas
      GROUP BY sample_label
      ORDER BY sample_label"""))

  /** Cross-corpus line-level exact dedup (Dedup.dedupLines — the CCNet
    * hygiene pass, no reference counterpart; published pattern). The
    * driver corpus is single-line word streams, so the query first
    * re-shapes each document into 5-word "lines" (pure array
    * arithmetic, exact on both engines), then drops every line whose
    * normal form appears in ≥ 2 distinct documents — at sf0.01 that is
    * ~260 planted-duplicate segments. */
  val q70 = Q(
    "q70_line_dedup",
    (s, d) => {
      import s.implicits._
      val chunked = t(s, d, "documents")
        .select($"doc_id", split($"text", " ").as("w"))
        .select($"doc_id",
          array_join(transform(
            sequence(lit(0),
              ((size($"w") + lit(4)) / lit(5)).cast("int") - 1),
            k => array_join(slice($"w", k * 5 + 1, lit(5)), " ")),
            "\n").as("text"))
      graft.operators.Dedup.dedupLines(chunked, "doc_id", "text",
          minDocFreq = 2)
        .orderBy($"doc_id")
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), lines AS (
        SELECT doc_id, t.k,
               array_to_string(w[1 + 5 * t.k : 5 * t.k + 5], ' ')
                 AS line
        FROM docs, UNNEST(generate_series(0,
               CAST((len(w) + 4) // 5 AS BIGINT) - 1)) AS t(k)
      ), norm AS (
        SELECT doc_id, k, line, lower(trim(line)) AS nl FROM lines
      ), bad AS (
        SELECT nl FROM norm GROUP BY nl
        HAVING count(DISTINCT doc_id) >= 2
      ), kept AS (
        SELECT * FROM norm WHERE nl NOT IN (SELECT nl FROM bad)
      ), reasm AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY k) AS text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
      ), tot AS (
        SELECT doc_id, count(*) AS n FROM norm GROUP BY doc_id
      )
      SELECT d.doc_id, coalesce(r.text, '') AS text,
             coalesce(r.n_kept, 0) AS n_kept,
             t.n - coalesce(r.n_kept, 0) AS n_dropped
      FROM (SELECT doc_id FROM documents) d
      JOIN tot t USING (doc_id)
      LEFT JOIN reasm r USING (doc_id)
      ORDER BY doc_id"""))

  /** L4/A13/A14 end-to-end — Dm.computeDmr (Dm.scala:301, reference
    * dm.py:489-643): the full DMR pipeline over derived frames —
    * consecutive-probe squared distance on the genome axis, the
    * segments-per-locus percentile cutoff, change-point → running
    * segment ids, per-segment aggregation with Stouffer-combined
    * p-values (Acklam Φ⁻¹ + one Halley step, dm.py:27-37) and BH
    * adjustment. Determinism by construction:
    *   - betas are INTEGER-valued (max l_quantity), so every squared
    *     distance is an exact integer in double — summation order
    *     cannot drift, and the percentile cutoff interpolates between
    *     integers (exact halves at worst). The change-point BRANCH is
    *     therefore bit-identical across engines (a rounded output
    *     could not repair a flipped branch).
    *   - start positions are p_partkey·131 mod 1e6 — injective below
    *     1e6 (gcd(131, 1e6) = 1), so genome order needs no tiebreak.
    *   - dmp p-values are hash-uniform rationals k/1000003 (exact on
    *     both engines) with modular NULLs to exercise the
    *     NaN-propagation contract; estimates are exact quarters so the
    *     segment avg is reproducible in any summation order.
    * The oracle transcribes normInv exactly as StatFuncs.normInv:
    * Acklam's rational initial estimate, then one Halley refinement
    * through the same Cody erfc polynomials already used by the q63
    * oracle (transcribed twice: once per-probe for Halley, once
    * per-segment for the final 0.5·erfc(z/√2)). Iterative/libm drift
    * is O(1e-15), far under the round(·, 6) gate on the p columns;
    * bounds, counts and estimates are exact. */
  val q71 = Q(
    "q71_dmr_endtoend",
    (s, d) => {
      import s.implicits._
      // sample universe = suppkey mod 32: the reference's study shape is
      // dozens of samples x many probes (the million-probe axis is the
      // job of `ScaleBench domain`); a 1000-wide beta vector would only measure
      // array-shuffle volume, not the operator
      val betas = t(s, d, "lineitem")
        .groupBy($"l_partkey", ($"l_suppkey" % 32).as("sk"))
        .agg(max($"l_quantity").cast("double").as("b0"))
        .select($"l_partkey".cast("string").as("probe_id"),
          $"sk".cast("string").as("sample_label"),
          when(($"l_partkey" * 7 + $"sk") % 13 === 0,
            lit(null).cast("double")).otherwise($"b0").as("beta"))
      val ranges = t(s, d, "part").select(
        $"p_partkey".cast("string").as("probe_id"),
        concat(lit("chr"), ($"p_partkey" % 5).cast("string"))
          .as("chromosome"),
        (($"p_partkey" * 131) % 1000000).cast("long").as("start"),
        ((($"p_partkey" * 131) % 1000000) + 100).cast("long").as("end"))
      val dmp = t(s, d, "part").select(
        $"p_partkey".cast("string").as("probe_id"),
        when($"p_partkey" % 29 === 0, lit(null).cast("double"))
          .otherwise((($"p_partkey" * 2654435761L) % 1000003)
            .cast("double") / 1000003.0).as("nation_p_value"),
        (($"p_partkey" % 100).cast("double") / 4.0)
          .as("nation_estimate"))
      graft.dm.Dm.computeDmr(betas, dmp, ranges, Seq("nation"))
        .select($"segment_id", $"chromosome", $"start", $"end",
          $"n_probes",
          emit6($"nation_p_value").as("nation_p_value"),
          emit6($"nation_estimate").as("nation_estimate"),
          emit6($"nation_p_value_adjusted")
            .as("nation_p_value_adjusted"))
        .orderBy($"segment_id")
    },
    Some("""
      WITH betas AS (
        SELECT CAST(l_partkey AS VARCHAR) AS probe_id,
               CAST(l_suppkey % 32 AS VARCHAR) AS sample_label,
               CASE WHEN (l_partkey * 7 + l_suppkey % 32) % 13 = 0
                    THEN NULL
                    ELSE CAST(max(l_quantity) AS DOUBLE) END AS beta
        FROM lineitem GROUP BY l_partkey, l_suppkey % 32
      ), probes AS (
        SELECT probe_id FROM betas GROUP BY probe_id
        HAVING count(beta) >= 1
      ), rng AS (
        SELECT CAST(p_partkey AS VARCHAR) AS probe_id,
               'chr' || CAST(p_partkey % 5 AS VARCHAR) AS chromosome,
               CAST((p_partkey * 131) % 1000000 AS BIGINT) AS start_pos,
               CAST((p_partkey * 131) % 1000000 + 100 AS BIGINT)
                 AS end_pos
        FROM part
      ), dmp AS (
        SELECT CAST(p_partkey AS VARCHAR) AS probe_id,
               CASE WHEN p_partkey % 29 = 0 THEN NULL
                    ELSE CAST((p_partkey * 2654435761) % 1000003
                              AS DOUBLE) / 1000003.0 END AS p,
               CAST(p_partkey % 100 AS DOUBLE) / 4.0 AS est
        FROM part
      ), cpg AS (
        SELECT r.probe_id, r.chromosome, r.start_pos, r.end_pos,
               d.p, d.est,
               row_number() OVER (PARTITION BY r.chromosome
                 ORDER BY r.start_pos, r.end_pos, r.probe_id) AS rn
        FROM rng r
        JOIN probes pr USING (probe_id)
        JOIN dmp d USING (probe_id)
        WHERE r.end_pos > r.start_pos
      ), nb AS (
        SELECT probe_id, sample_label, beta FROM betas
        WHERE beta IS NOT NULL
      ), pairs AS (
        SELECT c.chromosome, c.rn, c.probe_id AS pa, n.probe_id AS pb
        FROM cpg c JOIN cpg n
          ON n.chromosome = c.chromosome AND n.rn = c.rn + 1
      ), dist AS (
        SELECT p.chromosome, p.rn,
               coalesce(sum((b1.beta - b2.beta) * (b1.beta - b2.beta)),
                        0.0) AS dist
        FROM pairs p
        LEFT JOIN nb b1 ON b1.probe_id = p.pa
        LEFT JOIN nb b2 ON b2.probe_id = p.pb
                       AND b2.sample_label = b1.sample_label
        GROUP BY p.chromosome, p.rn
      ), cut AS (
        SELECT quantile_cont(dist, 0.5) AS cutoff FROM dist
      ), flagged AS (
        SELECT c.*,
               CASE WHEN d.dist IS NULL THEN TRUE
                    ELSE d.dist > t.cutoff END AS change_point
        FROM cpg c
        LEFT JOIN dist d ON d.chromosome = c.chromosome AND d.rn = c.rn
        CROSS JOIN cut t
      ), seg0 AS (
        SELECT *, coalesce(lag(change_point) OVER
                 (PARTITION BY chromosome ORDER BY rn), TRUE)
               AS prev_change
        FROM flagged
      ), seg AS (
        SELECT *, sum(CASE WHEN prev_change THEN 1 ELSE 0 END) OVER
                 (PARTITION BY chromosome ORDER BY rn
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lp
        FROM seg0
      ), chromidx AS (
        SELECT chromosome,
               row_number() OVER (ORDER BY chromosome) AS ci
        FROM (SELECT DISTINCT chromosome FROM cpg)
      ), segid AS (
        SELECT s.*, CAST(c.ci * 1000000000 + s.lp AS BIGINT) AS segment_id
        FROM seg s JOIN chromidx c USING (chromosome)
      ), ni0 AS (
        SELECT segment_id, p,
               least(greatest(p, 1e-300), 1.0 - 1.11e-16) AS pc
        FROM segid WHERE p IS NOT NULL
      ), ni1 AS (
        SELECT *, CASE WHEN pc < 0.02425 THEN sqrt(-2.0 * ln(pc))
                       WHEN pc <= 1.0 - 0.02425 THEN pc - 0.5
                       ELSE sqrt(-2.0 * ln(1.0 - pc)) END AS qv
        FROM ni0
      ), ni2 AS (
        SELECT *, CASE
          WHEN pc < 0.02425 THEN
            (((((-7.784894002430293e-03 * qv + -3.223964580411365e-01)
               * qv + -2.400758277161838e+00) * qv
               + -2.549732539343734e+00) * qv + 4.374664141464968e+00)
               * qv + 2.938163982698783e+00)
            / ((((7.784695709041462e-03 * qv + 3.224671290700398e-01)
               * qv + 2.445134137142996e+00) * qv
               + 3.754408661907416e+00) * qv + 1.0)
          WHEN pc <= 1.0 - 0.02425 THEN
            (((((-3.969683028665376e+01 * (qv*qv)
               + 2.209460984245205e+02) * (qv*qv)
               + -2.759285104469687e+02) * (qv*qv)
               + 1.383577518672690e+02) * (qv*qv)
               + -3.066479806614716e+01) * (qv*qv)
               + 2.506628277459239e+00) * qv
            / (((((-5.447609879822406e+01 * (qv*qv)
               + 1.615858368580409e+02) * (qv*qv)
               + -1.556989798598866e+02) * (qv*qv)
               + 6.680131188771972e+01) * (qv*qv)
               + -1.328068155288572e+01) * (qv*qv) + 1.0)
          ELSE
            -((((( -7.784894002430293e-03 * qv + -3.223964580411365e-01)
               * qv + -2.400758277161838e+00) * qv
               + -2.549732539343734e+00) * qv + 4.374664141464968e+00)
               * qv + 2.938163982698783e+00)
            / ((((7.784695709041462e-03 * qv + 3.224671290700398e-01)
               * qv + 2.445134137142996e+00) * qv
               + 3.754408661907416e+00) * qv + 1.0)
          END AS x0
        FROM ni1
      ), ni3 AS (
        SELECT *, -x0 / sqrt(2.0) AS hw, abs(-x0 / sqrt(2.0)) AS hu
        FROM ni2
      ), ni4 AS (
        SELECT *,
          hu * ((((1.85777706184603153e-1 * (hu*hu)
                  + 3.16112374387056560e+0)
                  * (hu*hu) + 1.13864154151050156e+2)
                  * (hu*hu) + 3.77485237685302021e+2)
                  * (hu*hu) + 3.20937758913846947e+3)
            / (((((hu*hu) + 2.36012909523441209e+1)
                  * (hu*hu) + 2.44024637934444173e+2)
                  * (hu*hu) + 1.28261652607737228e+3)
                  * (hu*hu) + 2.84423683343917062e+3) AS erf_small,
          ((((((((2.15311535474403846e-8 * hu + 5.64188496988670089e-1)
              * hu + 8.88314979438837594e+0) * hu
              + 6.61191906371416295e+1) * hu + 2.98635138197400131e+2)
              * hu + 8.81952221241769090e+2) * hu
              + 1.71204761263407058e+3) * hu + 2.05107837782607147e+3)
              * hu + 1.23033935479799725e+3)
          / ((((((((hu + 1.57449261107098347e+1) * hu
              + 1.17693950891312499e+2) * hu + 5.37181101862009858e+2)
              * hu + 1.62138957456669019e+3) * hu
              + 3.29079923573345963e+3) * hu + 4.36261909014324716e+3)
              * hu + 3.43936767414372164e+3)
              * hu + 1.23033935480374942e+3) AS pq_mid,
          (5.6418958354775628695e-1
            - (1.0 / nullif(hu*hu, 0))
              * (((((1.63153871373020978e-2 * (1.0 / nullif(hu*hu, 0))
                    + 3.05326634961232344e-1) * (1.0 / nullif(hu*hu, 0))
                    + 3.60344899949804439e-1) * (1.0 / nullif(hu*hu, 0))
                    + 1.25781726111229246e-1) * (1.0 / nullif(hu*hu, 0))
                    + 1.60837851487422766e-2) * (1.0 / nullif(hu*hu, 0))
                   + 6.58749161529837803e-4)
              / ((((((1.0 / nullif(hu*hu, 0)) + 2.56852019228982242e+0)
                    * (1.0 / nullif(hu*hu, 0)) + 1.87295284992346047e+0)
                    * (1.0 / nullif(hu*hu, 0)) + 5.27905102951428412e-1)
                    * (1.0 / nullif(hu*hu, 0)) + 6.05183413124413191e-2)
                    * (1.0 / nullif(hu*hu, 0)) + 2.33520497626869185e-3))
            / nullif(hu, 0) AS el
        FROM ni3
      ), ni5 AS (
        SELECT *, CASE WHEN hu < 0.46875 THEN 1.0 - erf_small
                       WHEN hu <= 4.0 THEN exp(-(hu*hu)) * pq_mid
                       ELSE el * exp(-(hu*hu)) END AS erfc_abs
        FROM ni4
      ), ni6 AS (
        SELECT *, CASE WHEN hw >= 0 THEN erfc_abs
                       ELSE 2.0 - erfc_abs END AS erfc_hw
        FROM ni5
      ), ni7 AS (
        SELECT *, (0.5 * erfc_hw - pc) * sqrt(2.0 * pi())
                  * exp(x0 * x0 / 2.0) AS hb
        FROM ni6
      ), ni8 AS (
        SELECT segment_id,
               x0 - hb / (1.0 + x0 * hb / 2.0) AS xi
        FROM ni7
      ), sega AS (
        SELECT segment_id, min(start_pos) AS start_pos,
               max(end_pos) AS end_pos, min(chromosome) AS chromosome,
               count(*) AS n_probes,
               sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS n_null,
               count(p) AS k, min(p) AS p_single, avg(est) AS estimate
        FROM segid GROUP BY segment_id
      ), segz AS (
        -- ordered aggregate: feed -xi ascending so the fold order matches
        -- the engine's sorted-fold (order-independent summation both sides)
        SELECT segment_id, sum(-xi ORDER BY -xi) AS zsum FROM ni8
        GROUP BY segment_id
      ), st0 AS (
        SELECT a.*, z.zsum,
               z.zsum / sqrt(CAST(a.k AS DOUBLE)) / sqrt(2.0) AS sw,
               abs(z.zsum / sqrt(CAST(a.k AS DOUBLE)) / sqrt(2.0)) AS su
        FROM sega a LEFT JOIN segz z USING (segment_id)
      ), st2 AS (
        SELECT *,
          su * ((((1.85777706184603153e-1 * (su*su)
                  + 3.16112374387056560e+0)
                  * (su*su) + 1.13864154151050156e+2)
                  * (su*su) + 3.77485237685302021e+2)
                  * (su*su) + 3.20937758913846947e+3)
            / (((((su*su) + 2.36012909523441209e+1)
                  * (su*su) + 2.44024637934444173e+2)
                  * (su*su) + 1.28261652607737228e+3)
                  * (su*su) + 2.84423683343917062e+3) AS erf_small2,
          ((((((((2.15311535474403846e-8 * su + 5.64188496988670089e-1)
              * su + 8.88314979438837594e+0) * su
              + 6.61191906371416295e+1) * su + 2.98635138197400131e+2)
              * su + 8.81952221241769090e+2) * su
              + 1.71204761263407058e+3) * su + 2.05107837782607147e+3)
              * su + 1.23033935479799725e+3)
          / ((((((((su + 1.57449261107098347e+1) * su
              + 1.17693950891312499e+2) * su + 5.37181101862009858e+2)
              * su + 1.62138957456669019e+3) * su
              + 3.29079923573345963e+3) * su + 4.36261909014324716e+3)
              * su + 3.43936767414372164e+3)
              * su + 1.23033935480374942e+3) AS pq_mid2,
          (5.6418958354775628695e-1
            - (1.0 / nullif(su*su, 0))
              * (((((1.63153871373020978e-2 * (1.0 / nullif(su*su, 0))
                    + 3.05326634961232344e-1) * (1.0 / nullif(su*su, 0))
                    + 3.60344899949804439e-1) * (1.0 / nullif(su*su, 0))
                    + 1.25781726111229246e-1) * (1.0 / nullif(su*su, 0))
                    + 1.60837851487422766e-2) * (1.0 / nullif(su*su, 0))
                   + 6.58749161529837803e-4)
              / ((((((1.0 / nullif(su*su, 0)) + 2.56852019228982242e+0)
                    * (1.0 / nullif(su*su, 0)) + 1.87295284992346047e+0)
                    * (1.0 / nullif(su*su, 0)) + 5.27905102951428412e-1)
                    * (1.0 / nullif(su*su, 0)) + 6.05183413124413191e-2)
                    * (1.0 / nullif(su*su, 0)) + 2.33520497626869185e-3))
            / nullif(su, 0) AS el2
        FROM st0
      ), st3 AS (
        SELECT *, CASE WHEN su < 0.46875 THEN 1.0 - erf_small2
                       WHEN su <= 4.0 THEN exp(-(su*su)) * pq_mid2
                       ELSE el2 * exp(-(su*su)) END AS erfc_abs2
        FROM st2
      ), stouf AS (
        SELECT segment_id, start_pos, end_pos, chromosome, n_probes,
               estimate,
               CASE WHEN n_null > 0 THEN NULL
                    WHEN k = 1 THEN p_single
                    ELSE 0.5 * (CASE WHEN sw >= 0 THEN erfc_abs2
                                     ELSE 2.0 - erfc_abs2 END)
               END AS p_comb
        FROM st3
      ), bh1 AS (
        SELECT segment_id, p_comb,
               row_number() OVER (ORDER BY p_comb) AS r,
               count(*) OVER () AS n
        FROM stouf WHERE p_comb IS NOT NULL
      ), bh2 AS (
        SELECT segment_id,
               least(min(p_comb * n / r) OVER (ORDER BY r DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 1.0) AS padj
        FROM bh1
      )
      SELECT s.segment_id, s.chromosome, s.start_pos AS start,
             s.end_pos AS "end", s.n_probes,
             round(s.p_comb, 6) + 0.0 AS nation_p_value,
             round(s.estimate, 6) + 0.0 AS nation_estimate,
             round(b.padj, 6) + 0.0 AS nation_p_value_adjusted
      FROM stouf s LEFT JOIN bh2 b USING (segment_id)
      ORDER BY s.segment_id"""))

  /** L18 end-to-end — Combat.combat (Combat.scala:37, reference
    * samples.py:1609-1701; the parametric EB ComBat of Johnson, Li &
    * Rabinovic 2007): standardization from batch-design sufficient
    * stats, per-batch hyperpriors (γ̄, τ², method-of-moments λ/θ), the
    * it_sol fixed-point shrinkage, and the final per-cell adjustment.
    * Determinism by construction: m-values are INTEGERS and the sample
    * universe is l_suppkey mod 64 — so per-(probe,batch) sums/means are
    * exact rationals and the batch weights n_pb/64 are exact dyadics;
    * the only engine drift is (a) the 3-term grand-mean sum order and
    * (b) avg/var_samp over probe-level doubles in the priors, both
    * O(1 ulp), far under the round(·, 6) gate. The oracle replays
    * it_sol as a RECURSIVE CTE with the exact relative-change stopping
    * rule (the q63 Huber-loop pattern) and the same operation order in
    * every scalar formula, so the iterate sequences are identical. */
  val q72 = Q(
    "q72_combat_endtoend",
    (s, d) => {
      import s.implicits._
      val data = t(s, d, "lineitem").select(
        ($"l_suppkey" % 64).cast("string").as("sample_label"),
        $"l_partkey".cast("string").as("probe_id"),
        when($"l_orderkey" % 23 === 0, lit(null).cast("double"))
          .otherwise((($"l_quantity".cast("long") + $"l_linenumber" * 3)
            % 97).cast("double")).as("m_value"))
      val batches = t(s, d, "supplier").select(
        ($"s_suppkey" % 64).cast("string").as("sample_label"),
        (($"s_suppkey" % 64) % 3).cast("string").as("batch")).distinct()
      graft.batch.Combat.combat(s, data, batches)
        .select($"sample_label", $"probe_id",
          round($"m_value", 6).as("m_value"))
        .orderBy($"probe_id", $"sample_label", $"m_value")
    },
    Some("""
      WITH RECURSIVE data AS (
        SELECT CAST(l_suppkey % 64 AS VARCHAR) AS sample_label,
               CAST(l_partkey AS VARCHAR) AS probe_id,
               CASE WHEN l_orderkey % 23 = 0 THEN NULL
                    ELSE CAST((CAST(l_quantity AS BIGINT)
                               + l_linenumber * 3) % 97 AS DOUBLE)
               END AS m_value
        FROM lineitem
      ), batches AS (
        SELECT DISTINCT CAST(s_suppkey % 64 AS VARCHAR) AS sample_label,
               CAST((s_suppkey % 64) % 3 AS VARCHAR) AS batch
        FROM supplier
      ), nt AS (
        SELECT CAST(sum(cnt) AS DOUBLE) AS n_total
        FROM (SELECT count(DISTINCT sample_label) AS cnt
              FROM batches GROUP BY batch)
      ), wb AS (
        SELECT d.probe_id, d.sample_label, b.batch, d.m_value AS v
        FROM data d JOIN batches b USING (sample_label)
        WHERE d.m_value IS NOT NULL
      ), pb AS (
        SELECT probe_id, batch, CAST(count(*) AS BIGINT) AS n_pb,
               avg(v) AS mean_pb, sum(v * v) AS sumsq_pb
        FROM wb GROUP BY probe_id, batch
      ), ps AS (
        SELECT probe_id,
               sum(CAST(n_pb AS DOUBLE) / (SELECT n_total FROM nt)
                   * mean_pb) AS grand_mean,
               sum(sumsq_pb - n_pb * mean_pb * mean_pb) AS sse,
               sum(n_pb) AS n_p
        FROM pb GROUP BY probe_id
      ), ps2 AS (
        SELECT probe_id, grand_mean, sse / n_p AS var_pooled
        FROM ps WHERE sse / n_p > 0
      ), zs AS (
        SELECT pb.probe_id, pb.batch, pb.n_pb,
               p.grand_mean, p.var_pooled,
               (pb.mean_pb - p.grand_mean) / sqrt(p.var_pooled)
                 AS gamma_hat,
               (pb.sumsq_pb - 2.0 * pb.mean_pb * pb.n_pb * p.grand_mean
                 + pb.n_pb * p.grand_mean * p.grand_mean) / p.var_pooled
                 AS z_sumsq
        FROM pb JOIN ps2 p USING (probe_id)
      ), zs2 AS (
        SELECT *, CASE WHEN n_pb > 1
                       THEN (z_sumsq - n_pb * gamma_hat * gamma_hat)
                            / (n_pb - 1)
                       ELSE 1.0 END AS delta_hat
        FROM zs
      ), pr AS (
        SELECT batch, avg(gamma_hat) AS gamma_bar,
               var_samp(gamma_hat) AS tau2,
               avg(delta_hat) AS d_mean, var_samp(delta_hat) AS d_var
        FROM zs2 GROUP BY batch
      ), pr2 AS (
        SELECT *, (d_mean * d_mean + 2.0 * d_var) / d_var AS lambda,
               (pow(d_mean, 3) + d_mean * d_var) / d_var AS theta
        FROM pr
      ), eb AS (
        SELECT z.probe_id, z.batch, z.n_pb, z.gamma_hat, z.z_sumsq,
               p.gamma_bar, p.tau2, p.lambda, p.theta,
               (p.tau2 * z.n_pb * z.gamma_hat + 1.0 * p.gamma_bar)
                 / (p.tau2 * z.n_pb + 1.0) AS g_star,
               -- CAST matters: a bare 1.0 literal is DECIMAL(2,1) and
               -- the recursive CTE pins column types from the base
               -- select, silently rounding every d_new to one decimal
               CAST(1.0 AS DOUBLE) AS d_star, 0 AS it, FALSE AS done
        FROM zs2 z JOIN pr2 p USING (batch)
        WHERE p.tau2 > 0 AND p.d_var > 0
        UNION ALL
        SELECT probe_id, batch, n_pb, gamma_hat, z_sumsq,
               gamma_bar, tau2, lambda, theta,
               g_new AS g_star, d_new AS d_star, it + 1 AS it,
               greatest(abs(g_new - g_star)
                          / greatest(abs(g_star), 1e-12),
                        abs(d_new - d_star)
                          / greatest(abs(d_star), 1e-12)) <= 1e-4
                 AS done
        FROM (
          SELECT *, (theta + 0.5 * (z_sumsq
                     - 2.0 * g_new * n_pb * gamma_hat
                     + n_pb * g_new * g_new))
                    / (n_pb / 2.0 + lambda - 1.0) AS d_new
          FROM (
            SELECT *, (tau2 * n_pb * gamma_hat + d_star * gamma_bar)
                      / (tau2 * n_pb + d_star) AS g_new
            FROM eb WHERE NOT done AND it < 100
          ) y
        ) x
      ), ebf AS (
        SELECT probe_id, batch, g_star AS gamma_star,
               greatest(d_star, 1e-12) AS delta_star
        FROM eb
        QUALIFY row_number() OVER (PARTITION BY probe_id, batch
          ORDER BY it DESC) = 1
      ), shrunk AS (
        SELECT z.probe_id, z.batch,
               CASE WHEN p.tau2 IS NULL OR p.tau2 <= 0
                         OR p.d_var IS NULL OR p.d_var <= 0
                    THEN z.gamma_hat ELSE f.gamma_star END AS gamma_star,
               CASE WHEN p.tau2 IS NULL OR p.tau2 <= 0
                         OR p.d_var IS NULL OR p.d_var <= 0
                    THEN z.delta_hat ELSE f.delta_star END AS delta_star
        FROM zs2 z JOIN pr2 p USING (batch)
        LEFT JOIN ebf f ON f.probe_id = z.probe_id AND f.batch = z.batch
      )
      SELECT d.sample_label, d.probe_id,
             round(CASE WHEN s.gamma_star IS NOT NULL
                             AND d.m_value IS NOT NULL
                        THEN ((d.m_value - p.grand_mean)
                              / sqrt(p.var_pooled) - s.gamma_star)
                             / sqrt(s.delta_star)
                             * sqrt(p.var_pooled) + p.grand_mean
                        ELSE d.m_value END, 6) AS m_value
      FROM data d
      LEFT JOIN batches b USING (sample_label)
      LEFT JOIN ps2 p ON p.probe_id = d.probe_id
      LEFT JOIN shrunk s ON s.probe_id = d.probe_id
                        AND s.batch = b.batch
      ORDER BY d.probe_id, d.sample_label, m_value"""))

  /** L5 end-to-end — Cnv.copyNumberVariation (Cnv.scala:56, reference
    * cnv.py:101-123): per-probe target-mean vs normal-panel regression
    * (target ~ [1, norm_1, norm_2]) solved from the Gram matrix, then
    * cnv = log2(y / max(pred, 1)). Intensities are INTEGER-valued
    * (hash-mod primes), so the Gram sums and moment vector are exact in
    * double on both engines in any summation order; the only divergence
    * is the solve itself (LAPACK LU on the Spark driver vs Cramer
    * cofactor expansion in SQL) and the log, both O(1e-12) relative —
    * far below the round(·, 6) gate. NULL plantings exercise both
    * drop paths: a null target cell drops the probe via the any-null
    * filter, a null panel cell via the feature-completeness filter. */
  val q73 = Q(
    "q73_cnv_regression_endtoend",
    (s, d) => {
      import s.implicits._
      def pk = $"p_partkey"
      val tgtI = t(s, d, "part").select(
          pk.cast("string").as("probe_id"),
          lit("t1").as("sample_label"),
          when(pk % 31 === 0, lit(null).cast("double"))
            .otherwise(((pk * 13) % 1009).cast("double")).as("total_ib"))
        .unionByName(t(s, d, "part").select(
          pk.cast("string").as("probe_id"),
          lit("t2").as("sample_label"),
          ((pk * 29) % 1013).cast("double").as("total_ib")))
      val normI = t(s, d, "part").select(
          pk.cast("string").as("probe_id"),
          lit("n1").as("sample_label"),
          ((pk * 7) % 997).cast("double").as("total_ib"))
        .unionByName(t(s, d, "part").select(
          pk.cast("string").as("probe_id"),
          lit("n2").as("sample_label"),
          when(pk % 37 === 0, lit(null).cast("double"))
            .otherwise(((pk * 17) % 1003).cast("double"))
            .as("total_ib")))
      val ranges = t(s, d, "part")
        .select(pk.cast("string").as("probe_id"))
      graft.cnv.Cnv.copyNumberVariation(s, tgtI, normI, ranges)
        .select($"probe_id", round($"cnv", 6).as("cnv"))
        .orderBy($"probe_id")
    },
    Some("""
      WITH tgt AS (
        SELECT probe_id, avg(total_ib) AS y
        FROM (
          SELECT CAST(p_partkey AS VARCHAR) AS probe_id,
                 CASE WHEN p_partkey % 31 = 0 THEN NULL
                      ELSE CAST((p_partkey * 13) % 1009 AS DOUBLE)
                 END AS total_ib
          FROM part
          UNION ALL
          SELECT CAST(p_partkey AS VARCHAR),
                 CAST((p_partkey * 29) % 1013 AS DOUBLE)
          FROM part
        ) GROUP BY probe_id
        HAVING max(CASE WHEN total_ib IS NULL THEN 1 ELSE 0 END) = 0
      ), feat AS (
        SELECT CAST(p_partkey AS VARCHAR) AS probe_id,
               CAST((p_partkey * 7) % 997 AS DOUBLE) AS x1,
               CAST((p_partkey * 17) % 1003 AS DOUBLE) AS x2
        FROM part WHERE p_partkey % 37 <> 0
      ), j AS (
        SELECT t.probe_id, t.y, f.x1, f.x2
        FROM tgt t JOIN feat f USING (probe_id)
      ), gram AS (
        SELECT CAST(count(*) AS DOUBLE) AS g00,
               sum(x1) AS g01, sum(x2) AS g02,
               sum(x1 * x1) AS g11, sum(x1 * x2) AS g12,
               sum(x2 * x2) AS g22,
               sum(y) AS b0, sum(x1 * y) AS b1, sum(x2 * y) AS b2
        FROM j
      ), sol AS (
        SELECT
          (b0 * (g11 * g22 - g12 * g12)
             - g01 * (b1 * g22 - g12 * b2)
             + g02 * (b1 * g12 - g11 * b2))
          / (g00 * (g11 * g22 - g12 * g12)
             - g01 * (g01 * g22 - g12 * g02)
             + g02 * (g01 * g12 - g11 * g02)) AS beta0,
          (g00 * (b1 * g22 - b2 * g12)
             - b0 * (g01 * g22 - g12 * g02)
             + g02 * (g01 * b2 - b1 * g02))
          / (g00 * (g11 * g22 - g12 * g12)
             - g01 * (g01 * g22 - g12 * g02)
             + g02 * (g01 * g12 - g11 * g02)) AS beta1,
          (g00 * (g11 * b2 - g12 * b1)
             - g01 * (g01 * b2 - b1 * g02)
             + b0 * (g01 * g12 - g11 * g02))
          / (g00 * (g11 * g22 - g12 * g12)
             - g01 * (g01 * g22 - g12 * g02)
             + g02 * (g01 * g12 - g11 * g02)) AS beta2
        FROM gram
      )
      SELECT j.probe_id,
             round(ln(j.y / greatest(s.beta0 + s.beta1 * j.x1
                                     + s.beta2 * j.x2, 1.0))
                   / ln(2.0), 6) AS cnv
      FROM j CROSS JOIN sol s
      ORDER BY j.probe_id"""))

  /** One SQL pass of the merge ramp at threshold `t` over the previous
    * pass's bins (chrom, s, e, a, b): mark under-filled bins (nd), the
    * merge-left/merge-right pairing (ml0/ml/mr0/mr → tm), collapse
    * consecutive marked runs (grp islands), and recount the run from
    * its edge prefix counts (a = max, b = min — both monotone in
    * position). MATERIALIZED is load-bearing: 40 inlined passes of
    * 6 nested window subqueries send DuckDB's optimizer into
    * exponential re-planning (measured > 3 min), materialized they
    * plan+run in ~1 s. */
  private def rampPassSql(prev: String, k: Int, t: Int): String = {
    val w = "PARTITION BY chrom ORDER BY s"
    s"""p$k AS MATERIALIZED (
  SELECT chrom, min(s) AS s, max(e) AS e, max(a) AS a, min(b) AS b
  FROM (
    SELECT chrom, s, e, a, b,
           sum(CASE WHEN brk THEN 1 ELSE 0 END) OVER ($w) AS grp
    FROM (
      SELECT chrom, s, e, a, b,
             (NOT (tm AND coalesce(lag(tm) OVER ($w), FALSE)
                   AND s <= coalesce(lag(e) OVER ($w), -2) + 1)) AS brk
      FROM (
        SELECT chrom, s, e, a, b,
               (ml OR mr0 OR coalesce(lag(mr0) OVER ($w), FALSE)) AS tm
        FROM (
          SELECT chrom, s, e, a, b, ml,
                 (nd AND NOT ml AND
                  coalesce(lead(s) OVER ($w), 4611686018427387904)
                    <= e + 1) AS mr0
          FROM (
            SELECT chrom, s, e, a, b, nd,
                   (ml0 OR coalesce(lead(ml0) OVER ($w), FALSE)) AS ml
            FROM (
              SELECT chrom, s, e, a, b, (a - b < $t) AS nd,
                     ((a - b < $t) AND
                      s <= coalesce(lag(e) OVER ($w), -2) + 1) AS ml0
              FROM $prev
            )
          )
        )
      )
    )
  )
  GROUP BY chrom, grp
)"""
  }

  /** The q176 oracle: the FULL precision=1 ramp, statically unrolled as
    * thresholds t = 1..minOverlap. Equivalence with the engine's
    * data-dependent start (mins begins at max(1, min overlap count)):
    * a pass at any t below the observed minimum marks nothing and is
    * the identity, so prepending t = 1..t1−1 changes no bin — and with
    * precision = 1 the engine's threshold set is exactly every integer
    * from t1 to minOverlap, which the static unroll covers. */
  private def q176OracleSql(minOverlap: Int): String = {
    val head = """WITH probes2 AS MATERIALIZED (
  SELECT 'chr' || CAST(p_partkey % 2 + 1 AS VARCHAR) AS chrom,
         CAST(CASE WHEN p_partkey % 2 = 1
              THEN ((p_partkey // 2) % 1000) * ((p_partkey // 2) % 1000)
              ELSE ((p_partkey // 2) % 1000) * 999 END AS BIGINT) AS ps,
         CAST(CASE WHEN p_partkey % 2 = 1
              THEN ((p_partkey // 2) % 1000) * ((p_partkey // 2) % 1000)
              ELSE ((p_partkey // 2) % 1000) * 999 END + 100 AS BIGINT)
           AS pe
  FROM part
), bins AS (
  SELECT c.chrom, CAST(t.s AS BIGINT) AS s,
         CAST(least(t.s + 50000, 1000000) AS BIGINT) AS e
  FROM (SELECT DISTINCT chrom FROM probes2) c
  CROSS JOIN (SELECT UNNEST(generate_series(0, 999999, 50000)) AS s) t
), p0 AS MATERIALIZED (
  SELECT bn.chrom, bn.s, bn.e,
         (SELECT count(*) FROM probes2 p
           WHERE p.chrom = bn.chrom AND p.ps < bn.e) AS a,
         (SELECT count(*) FROM probes2 p
           WHERE p.chrom = bn.chrom AND p.pe <= bn.s) AS b
  FROM bins bn
)"""
    val passes = (1 to minOverlap).map(k => rampPassSql(s"p${k - 1}", k, k))
    (head +: passes).mkString(",\n") +
      s"""
SELECT chrom, s AS start, e AS "end" FROM p$minOverlap
WHERE a - b >= $minOverlap ORDER BY chrom, start"""
  }

  /** L6 end-to-end — Cnv.mergeBinsToMinimumOverlap (Cnv.scala:130,
    * reference cnv.py:247-326): the precision-controlled merge ramp
    * that fuses adjacent genome bins until every bin overlaps ≥
    * minOverlap probes, then drops the stragglers. The fixture derives
    * two planted chromosomes from part: chr2's probe positions are the
    * SQUARES of 0..999 (density falls off as 1/√x, so bins under-fill
    * progressively toward the telomere — at minOverlap = 40 the ramp
    * runs five real merge passes at five distinct thresholds, each
    * recounting the fused runs), while chr1 is uniform (49-51
    * probes/bin) and must come through untouched — the
    * single-threshold-collapse regression control. The oracle replays
    * the ramp exactly as [[q176OracleSql]] describes; the engine side
    * is the production distributed path (one probe/bin sort-merge
    * prefix-count pass, then the bins-only per-chromosome kernel). */
  val q176 = Q(
    "q176_cnv_bin_merge_ramp",
    (s, d) => {
      import s.implicits._
      val base = expr("(p_partkey div 2) % 1000").cast("long")
      val probes = t(s, d, "part").select(
        concat(lit("chr"), ($"p_partkey" % 2 + 1).cast("string"))
          .as("chrom"),
        when($"p_partkey" % 2 === 1, base * base)
          .otherwise(base * 999L).as("start"))
        .withColumn("end", $"start" + 100L)
      val seqLens = Seq(("chr1", 1000000L), ("chr2", 1000000L))
        .toDF("chrom", "seq_length")
      val bins = graft.operators.Intervals.tileGenome(seqLens, 50000L)
      graft.cnv.Cnv.mergeBinsToMinimumOverlap(s, bins, probes,
          minOverlap = 40, precision = 1, slack = 1L)
        .orderBy($"chrom", $"start")
    },
    Some(q176OracleSql(40)))

  val all: Seq[Q] =
    Seq(q65, q66, q67, q68, q69, q70, q71, q72, q73, q176)
}
