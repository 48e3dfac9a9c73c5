package graft.queries

import graft.Q
import graft.Q.t
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Additional §2 mappings: fixed-width histograms (the KDE-feeding tables
  * of L22/A11, qc.QC.betaHistogram pattern) and ntile decile ranking
  * (W6 rank family).
  */
object ExtraQ {

  /** L22/A11 — fixed-width histogram per group: integer bucket ids from
    * division (exact both sides), counts + per-bucket means. */
  val q39 = Q(
    "q39_histogram",
    (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .withColumn("bucket",
          floor($"l_extendedprice" / 10000.0).cast("long"))
        .groupBy($"l_returnflag", $"bucket")
        .agg(count(lit(1)).as("n"),
          round(avg($"l_quantity"), 6).as("mean_qty"))
        .orderBy($"l_returnflag", $"bucket")
    },
    Some("""
      SELECT l_returnflag,
             CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bucket,
             count(*) AS n,
             round(avg(l_quantity), 6) AS mean_qty
      FROM lineitem
      GROUP BY l_returnflag, bucket
      ORDER BY l_returnflag, bucket"""))

  /** W6 — ntile decile over a total order (unique tiebreak makes the
    * bucket assignment deterministic and identical across engines),
    * computed by Ranks.withNtile: distributed global rank + bucket
    * arithmetic instead of a single-partition window. */
  val q40 = Q(
    "q40_ntile_deciles",
    (s, d) => {
      import s.implicits._
      graft.operators.Ranks.withNtile(t(s, d, "orders"), 10,
          Seq($"o_totalprice", $"o_orderkey"), "decile")
        .groupBy($"decile")
        .agg(count(lit(1)).as("n"),
          round(min($"o_totalprice"), 2).as("lo"),
          round(max($"o_totalprice"), 2).as("hi"))
        .orderBy($"decile")
    },
    Some("""
      SELECT decile, count(*) AS n,
             round(min(o_totalprice), 2) AS lo,
             round(max(o_totalprice), 2) AS hi
      FROM (SELECT o_totalprice,
                   ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
                     AS decile
            FROM orders)
      GROUP BY decile
      ORDER BY decile"""))

  /** Multi-level aggregation: ROLLUP over (returnflag, linestatus) —
    * subtotals and a grand total in one pass (Catalyst expands the
    * grouping sets map-side; still a single shuffle). NULL grouping
    * cells are coalesced to 'ALL' on both sides (the driver-generated
    * columns are non-null, so the sentinel is unambiguous). */
  val q45 = Q(
    "q45_rollup",
    (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum($"l_quantity"), 2).as("sum_qty"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
          coalesce($"l_linestatus", lit("ALL")).as("ls"),
          $"n", $"sum_qty")
        .orderBy($"rf", $"ls")
    },
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             count(*) AS n,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY rf, ls"""))

  /** CUBE grouping sets — q45's sibling with ALL four grouping
    * combinations (including the column-2-only marginals ROLLUP skips),
    * still ONE shuffle through the Expand node. grouping() distinguishes
    * a cube NULL from a data NULL on both engines. */
  val q123 = Q(
    "q123_cube",
    (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .cube($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum($"l_quantity"), 2).as("sum_qty"),
          grouping($"l_returnflag").cast("long").as("g_rf"),
          grouping($"l_linestatus").cast("long").as("g_ls"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
          coalesce($"l_linestatus", lit("ALL")).as("ls"),
          $"g_rf", $"g_ls", $"n", $"sum_qty")
        .orderBy($"rf", $"ls")
    },
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
             CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
             count(*) AS n,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY rf, ls"""))

  /** R2 — unpivot/melt to long form (the reference's pd.melt,
    * visualizations.py:2117): three measure columns become (metric, v)
    * rows via the native unpivot operator (an Expand node — no shuffle
    * at all until the final presentation sort). */
  val q47 = Q(
    "q47_unpivot",
    (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .filter($"l_orderkey" % 100 === 0)
        .unpivot(
          Array($"l_orderkey", $"l_linenumber"),
          Array($"l_quantity", $"l_discount", $"l_tax"),
          "metric", "v")
        .select($"l_orderkey", $"l_linenumber".cast("long").as("line_no"),
          $"metric", round($"v", 2).as("v"))
        .orderBy($"l_orderkey", $"line_no", $"metric", $"v")
    },
    Some("""
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
             metric, round(v, 2) AS v
      FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
               l_quantity AS v FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
      WHERE l_orderkey % 100 = 0
      ORDER BY l_orderkey, line_no, metric, v"""))

  /** A18 — the generic ECDF-lookup operator (operators.Ecdf.ecdfLookup:
    * one sorted background array per group, an equi-join and a binary
    * search per query) against a correlated-count oracle: F(v) =
    * #(background ≤ v)/n per group, right-continuous. count/n is an
    * integer ratio in double — bit-identical across engines, so no
    * rounding is needed. Prep.poobah does not call ecdfLookup: it builds
    * its own per-sample join from the same two pieces (sortedBackground,
    * ecdf), and q59 and PrepSpec check that path. */
  val q48 = Q(
    "q48_ecdf_lookup",
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem")
      val queries = li.filter($"l_orderkey" % 500 === 0)
        .select($"l_orderkey", $"l_linenumber".cast("long").as("line_no"),
          $"l_returnflag", $"l_extendedprice")
      graft.operators.Ecdf.ecdfLookup(queries,
          li.select($"l_returnflag", $"l_extendedprice"),
          Seq("l_returnflag"), "l_extendedprice", "ecdf")
        .select($"l_orderkey", $"line_no", $"l_returnflag", $"ecdf")
        .orderBy($"l_orderkey", $"line_no", $"l_returnflag", $"ecdf")
    },
    Some("""
      WITH q AS (
        SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
               l_returnflag, l_extendedprice
        FROM lineitem WHERE l_orderkey % 500 = 0
      ), n AS (
        SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1
      )
      SELECT q.l_orderkey, q.line_no, q.l_returnflag,
             CAST((SELECT count(*) FROM lineitem b
                   WHERE b.l_returnflag = q.l_returnflag
                     AND b.l_extendedprice <= q.l_extendedprice) AS DOUBLE)
               / n.n AS ecdf
      FROM q JOIN n ON n.l_returnflag = q.l_returnflag
      ORDER BY q.l_orderkey, q.line_no, q.l_returnflag, ecdf"""))

  /** L14/np.interp — the distributed sort-merge piecewise-linear
    * interpolation (operators.Interp, the dye-bias-NL scale path)
    * against a bracketing-knot oracle. Knots are a deterministic curve
    * per returnflag (bucket-grid x, rounded mean-quantity y); the blend
    * is ONE arithmetic expression evaluated on identical doubles both
    * sides, so no output rounding is needed. */
  val q49 = Q(
    "q49_interp_lookup",
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem")
      val knots = li
        .groupBy($"l_returnflag",
          (floor($"l_extendedprice" / 10000.0) * 10000.0).as("xp"))
        .agg(round(avg($"l_quantity"), 6).as("fp"))
      val queries = li.filter($"l_orderkey" % 777 === 0)
        .select($"l_orderkey", $"l_linenumber".cast("long").as("line_no"),
          $"l_returnflag", $"l_extendedprice")
      graft.operators.Interp.interpLookup(queries, knots,
          Seq("l_returnflag"), "l_extendedprice", "y")
        .select($"l_orderkey", $"line_no", $"l_returnflag", $"y")
        .orderBy($"l_orderkey", $"line_no", $"l_returnflag", $"y")
    },
    Some("""
      WITH k AS (
        SELECT l_returnflag,
               CAST(floor(l_extendedprice / 10000.0) * 10000.0 AS DOUBLE)
                 AS xp,
               round(avg(l_quantity), 6) AS fp
        FROM lineitem GROUP BY 1, 2
      ), q AS (
        SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
               l_returnflag, l_extendedprice AS x
        FROM lineitem WHERE l_orderkey % 777 = 0
      ), lo AS (
        SELECT q.l_returnflag, q.x, max(k.xp) AS lx,
               arg_max(k.fp, k.xp) AS ly
        FROM (SELECT DISTINCT l_returnflag, x FROM q) q
        JOIN k ON k.l_returnflag = q.l_returnflag AND k.xp <= q.x
        GROUP BY 1, 2
      ), hi AS (
        SELECT q.l_returnflag, q.x, min(k.xp) AS hx,
               arg_min(k.fp, k.xp) AS hy
        FROM (SELECT DISTINCT l_returnflag, x FROM q) q
        JOIN k ON k.l_returnflag = q.l_returnflag AND k.xp > q.x
        GROUP BY 1, 2
      )
      SELECT q.l_orderkey, q.line_no, q.l_returnflag,
             CASE WHEN lo.lx IS NULL AND hi.hx IS NULL THEN NULL
                  WHEN lo.lx IS NULL THEN hi.hy
                  WHEN hi.hx IS NULL THEN lo.ly
                  ELSE lo.ly + (hi.hy - lo.ly) * (q.x - lo.lx)
                               / (hi.hx - lo.lx)
             END AS y
      FROM q
      LEFT JOIN lo ON lo.l_returnflag = q.l_returnflag AND lo.x = q.x
      LEFT JOIN hi ON hi.l_returnflag = q.l_returnflag AND hi.x = q.x
      ORDER BY q.l_orderkey, q.line_no, q.l_returnflag, y"""))

  /** A7 — the channel-switch summary (Prep.channelSwitchSummary,
    * reference samples.py:1010-1011) run over a type-I-shaped signal
    * built from lineitem: probe = partkey, sample = suppkey, manifest
    * channel from partkey parity, four measurement cells from
    * integer-valued line columns (exact in FLOAT on both engines, so
    * the cross-sample max comparison cannot drift). The oracle replays
    * the FULL reference formula including the failed-probe reset
    * (samples.py:986-988): probes whose cross-sample max sits below the
    * opposite-channel background P95 revert to the manifest channel
    * (quantile_cont = Spark's exact interpolated percentile; maxima are
    * integer-valued so the < comparison cannot sit on a ulp boundary). */
  val q51 = Q(
    "q51_channel_switch_summary",
    (s, d) => {
      import s.implicits._
      val sig = t(s, d, "lineitem").select(
        $"l_suppkey".cast("string").as("sample_label"),
        $"l_partkey".cast("string").as("probe_id"),
        when($"l_partkey" % 2 === 0, "G").otherwise("R").as("channel"),
        lit("I").as("inf_type"),
        $"l_quantity".cast("float").as("meth_g"),
        (($"l_orderkey" * 3 + $"l_linenumber") % 47).cast("float")
          .as("unmeth_g"),
        (($"l_orderkey" * 7 + $"l_linenumber") % 53).cast("float")
          .as("meth_r"),
        ($"l_tax" * 100).cast("float").as("unmeth_r"))
      graft.prep.Prep.channelSwitchSummary(sig)
        .orderBy($"manifest_channel", $"inferred_channel")
    },
    Some("""
      WITH sig AS (
        SELECT CAST(l_partkey AS VARCHAR) AS probe_id,
               CASE WHEN l_partkey % 2 = 0 THEN 'G' ELSE 'R' END
                 AS channel,
               CAST(l_quantity AS FLOAT) AS meth_g,
               CAST((l_orderkey * 3 + l_linenumber) % 47 AS FLOAT)
                 AS unmeth_g,
               CAST((l_orderkey * 7 + l_linenumber) % 53 AS FLOAT)
                 AS meth_r,
               CAST(l_tax * 100 AS FLOAT) AS unmeth_r
        FROM lineitem
      ), per_probe AS (
        SELECT probe_id,
               max(greatest(meth_g, unmeth_g)) AS max_g,
               max(greatest(meth_r, unmeth_r)) AS max_r,
               max(channel) AS manifest_channel,
               max(CASE WHEN meth_g IS NULL OR unmeth_g IS NULL
                          OR meth_r IS NULL OR unmeth_r IS NULL
                        THEN 1 ELSE 0 END) AS any_na
        FROM sig GROUP BY probe_id
      ), inferred AS (
        SELECT *,
               CASE WHEN coalesce(max_r, -3.4028235e38)
                      >= coalesce(max_g, -3.4028235e38)
                    THEN 'R' ELSE 'G' END AS inferred_channel
        FROM per_probe
      ), bg AS (
        SELECT CASE WHEN i.inferred_channel = 'R'
                    THEN greatest(s.meth_g, s.unmeth_g)
                    ELSE greatest(s.meth_r, s.unmeth_r) END AS v
        FROM sig s JOIN inferred i USING (probe_id)
      ), p95 AS (
        SELECT quantile_cont(v, 0.95) AS bg_p95 FROM bg
        WHERE v IS NOT NULL
      ), flagged AS (
        SELECT i.manifest_channel,
               CASE WHEN greatest(coalesce(max_g, -3.4028235e38),
                                  coalesce(max_r, -3.4028235e38))
                           < p.bg_p95
                         OR any_na = 1
                    THEN i.manifest_channel
                    ELSE i.inferred_channel END AS inferred_channel
        FROM inferred i CROSS JOIN p95 p
      )
      SELECT manifest_channel, inferred_channel, count(*) AS n_probes
      FROM flagged
      GROUP BY manifest_channel, inferred_channel
      ORDER BY manifest_channel, inferred_channel"""))

  /** A12/L23 — replicate std-dev (QC.replicateStats, reference
    * visualizations.py:2106-2112) over a betas table from lineitem and
    * a replicate sheet from supplier (replicate group = nationkey mod
    * 5). stddev_samp is rounded at 6 — values are O(10), so
    * accumulation-order drift sits ~1e-12, far inside the grain. */
  val q52 = Q(
    "q52_replicate_std",
    (s, d) => {
      import s.implicits._
      val betas = t(s, d, "lineitem").select(
        $"l_suppkey".cast("string").as("sample_label"),
        $"l_partkey".cast("string").as("probe_id"),
        ($"l_extendedprice" / 1000.0).as("beta"))
      val sheet = t(s, d, "supplier").select(
        $"s_suppkey".cast("string").as("sample_id"),
        concat(lit("grp_"), ($"s_nationkey" % 5).cast("string"))
          .as("replicate_group"))
      graft.qc.QC.replicateStats(betas, sheet, "replicate_group",
          sampleLabelCol = "sample_id")
        .select($"probe_id", $"replicate",
          round($"beta_std", 6).as("beta_std"), $"n_replicates")
        .orderBy($"probe_id", $"replicate")
    },
    Some("""
      WITH betas AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS sample_label,
               CAST(l_partkey AS VARCHAR) AS probe_id,
               l_extendedprice / 1000.0 AS beta
        FROM lineitem
      ), sheet AS (
        SELECT CAST(s_suppkey AS VARCHAR) AS sample_label,
               'grp_' || CAST(s_nationkey % 5 AS VARCHAR) AS replicate
        FROM supplier
      )
      SELECT b.probe_id, s.replicate,
             round(stddev_samp(b.beta), 6) AS beta_std,
             count(b.beta) AS n_replicates
      FROM betas b JOIN sheet s USING (sample_label)
      GROUP BY b.probe_id, s.replicate
      ORDER BY probe_id, replicate"""))

  /** L16 end-to-end — calculateBetas (SignalBuilder, reference
    * samples.py:1074-1108) oracle-checked over a full signal-shaped
    * frame from lineitem covering every cell regime the operator
    * handles: type II (structural-null off-cells → 0), type I G / R
    * in-band selection (off-channel zeroed), per-cell NULLs (coalesced
    * to 0 inside M/U), and all-null rows (beta stays NULL — the
    * reference's NaN propagation, samples.py:1089-1104). The formula
    * under test is β = max(M,1)/max(M+U,2) with float output. All cell
    * values are integer-valued (exact in FLOAT), so M/U sums are exact
    * on both engines and the single rounding step is the final
    * division. */
  val q57 = Q(
    "q57_betas_endtoend",
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
        cell($"l_tax" * 100, 19).as("unmeth_r"))
      graft.core.SignalBuilder.calculateBetas(sig)
        .orderBy($"probe_id", $"sample_label", $"beta")
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
                    THEN NULL ELSE CAST(l_tax * 100 AS FLOAT) END
                 AS unmeth_r
        FROM lineitem
      ), cells AS (
        SELECT *,
               CAST(CASE WHEN inf_type = 'II' THEN coalesce(meth_g, 0)
                         WHEN channel = 'G' THEN coalesce(meth_g, 0)
                         ELSE 0 END
                  + CASE WHEN inf_type = 'II' THEN 0
                         WHEN channel = 'R' THEN coalesce(meth_r, 0)
                         ELSE 0 END AS FLOAT) AS m,
               CAST(CASE WHEN inf_type = 'II' THEN 0
                         WHEN channel = 'G' THEN coalesce(unmeth_g, 0)
                         ELSE 0 END
                  + CASE WHEN inf_type = 'II' THEN coalesce(unmeth_r, 0)
                         WHEN channel = 'R' THEN coalesce(unmeth_r, 0)
                         ELSE 0 END AS FLOAT) AS u
        FROM sig
      )
      SELECT sample_label, probe_id,
             CASE WHEN meth_g IS NULL AND meth_r IS NULL
                       AND unmeth_g IS NULL AND unmeth_r IS NULL
                  THEN NULL
                  ELSE CAST(greatest(m, CAST(1 AS FLOAT))
                            / greatest(m + u, CAST(2 AS FLOAT))
                            AS FLOAT)
             END AS beta
      FROM cells
      ORDER BY probe_id, sample_label, beta"""))

  /** L17 end-to-end — the betas → M-value transform chained onto the
    * q57 pipeline: m = log2(β/(1−β)) with ε = 1e-8 clipping
    * (samples.py:1200-1227). β is FLOAT (exact bits match per q57);
    * the only cross-engine drift is the double log2 (≤ a few ulp,
    * ~1e-13 absolute at |m| ≤ 27), far inside the round-6 grain. */
  val q58 = Q(
    "q58_mvalues_endtoend",
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
        cell($"l_tax" * 100, 19).as("unmeth_r"))
      val betas = graft.core.SignalBuilder.calculateBetas(sig)
      graft.core.SignalBuilder.betasToMValues(betas)
        .select($"sample_label", $"probe_id",
          round($"m_value", 6).as("m_value"))
        .orderBy($"probe_id", $"sample_label", $"m_value")
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
                    THEN NULL ELSE CAST(l_tax * 100 AS FLOAT) END
                 AS unmeth_r
        FROM lineitem
      ), cells AS (
        SELECT *,
               CAST(CASE WHEN inf_type = 'II' THEN coalesce(meth_g, 0)
                         WHEN channel = 'G' THEN coalesce(meth_g, 0)
                         ELSE 0 END
                  + CASE WHEN inf_type = 'II' THEN 0
                         WHEN channel = 'R' THEN coalesce(meth_r, 0)
                         ELSE 0 END AS FLOAT) AS m,
               CAST(CASE WHEN inf_type = 'II' THEN 0
                         WHEN channel = 'G' THEN coalesce(unmeth_g, 0)
                         ELSE 0 END
                  + CASE WHEN inf_type = 'II' THEN coalesce(unmeth_r, 0)
                         WHEN channel = 'R' THEN coalesce(unmeth_r, 0)
                         ELSE 0 END AS FLOAT) AS u
        FROM sig
      ), betas AS (
        SELECT sample_label, probe_id,
               CASE WHEN meth_g IS NULL AND meth_r IS NULL
                         AND unmeth_g IS NULL AND unmeth_r IS NULL
                    THEN NULL
                    ELSE CAST(greatest(m, CAST(1 AS FLOAT))
                              / greatest(m + u, CAST(2 AS FLOAT))
                              AS FLOAT)
               END AS beta
        FROM cells
      ), clipped AS (
        SELECT sample_label, probe_id,
               CASE WHEN beta IS NULL THEN NULL
                    ELSE least(greatest(CAST(beta AS DOUBLE), 1e-8),
                               1.0 - 1e-8) END AS b
        FROM betas
      )
      SELECT sample_label, probe_id,
             round(log2(b / (1.0 - b)), 6) AS m_value
      FROM clipped
      ORDER BY probe_id, sample_label, m_value"""))

  /** L9 end-to-end — the pOOBAH slice (Prep.poobah, reference
    * samples.py:1529-1607) over a full signal-shaped frame: out-of-band
    * background extraction (type I G probes → R measurements and vice
    * versa), the distributed ECDF lookup per (sample, channel) — a
    * binary search of the sample's sorted background array, joined once
    * onto the signal — the weak-background 0..999 empirical prior (one
    * sample is all-zero so both its channels trip the `sum ≤ 100`
    * switch), the min across channels and across rows repeating a
    * (sample, probe) key (row multiplicity preserved, NULL in-band
    * maxima stay NULL). The oracle replays the ECDF as a union +
    * running-count window and the key minimum as a group-by joined back
    * (a correlated subquery per query row would be quadratic); every
    * arithmetic step is exact-rational in DOUBLE, so the FLOAT output
    * is compared without rounding. */
  val q59 = Q(
    "q59_poobah_slice",
    (s, d) => {
      import s.implicits._
      def cell(base: org.apache.spark.sql.Column, m: Int) =
        when($"l_suppkey" % 10 === 7, lit(0f))
          .otherwise(when(
            $"l_orderkey" % 23 === 0 || $"l_orderkey" % m === 0,
            lit(null).cast("float")).otherwise(base.cast("float")))
      val sig = t(s, d, "lineitem").select(
        $"l_suppkey".cast("string").as("sample_label"),
        $"l_partkey".cast("string").as("probe_id"),
        when($"l_partkey" % 3 === 0, "II").otherwise("I").as("inf_type"),
        when($"l_partkey" % 2 === 0, "G").otherwise("R").as("channel"),
        lit("cg").as("probe_type"),
        lit("").as("mask_info"),
        cell($"l_quantity", 11).as("meth_g"),
        cell(($"l_orderkey" * 3 + $"l_linenumber") % 47, 13)
          .as("unmeth_g"),
        cell(($"l_orderkey" * 7 + $"l_linenumber") % 53, 17)
          .as("meth_r"),
        cell($"l_tax" * 100, 19).as("unmeth_r"),
        lit(null).cast("float").as("p_value"))
      val (withP, _) = graft.prep.Prep.poobah(s, sig,
        graft.core.Masks.empty(s), useNegativeControls = false)
      withP.select($"sample_label", $"probe_id", $"p_value")
        .orderBy($"probe_id", $"sample_label", $"p_value")
    },
    Some("""
      WITH sig AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS sample_label,
               CAST(l_partkey AS VARCHAR) AS probe_id,
               CASE WHEN l_partkey % 3 = 0 THEN 'II' ELSE 'I' END
                 AS inf_type,
               CASE WHEN l_partkey % 2 = 0 THEN 'G' ELSE 'R' END
                 AS channel,
               CASE WHEN l_suppkey % 10 = 7 THEN CAST(0 AS FLOAT)
                    WHEN l_orderkey % 23 = 0 OR l_orderkey % 11 = 0
                    THEN NULL ELSE CAST(l_quantity AS FLOAT) END
                 AS meth_g,
               CASE WHEN l_suppkey % 10 = 7 THEN CAST(0 AS FLOAT)
                    WHEN l_orderkey % 23 = 0 OR l_orderkey % 13 = 0
                    THEN NULL
                    ELSE CAST((l_orderkey * 3 + l_linenumber) % 47
                              AS FLOAT) END AS unmeth_g,
               CASE WHEN l_suppkey % 10 = 7 THEN CAST(0 AS FLOAT)
                    WHEN l_orderkey % 23 = 0 OR l_orderkey % 17 = 0
                    THEN NULL
                    ELSE CAST((l_orderkey * 7 + l_linenumber) % 53
                              AS FLOAT) END AS meth_r,
               CASE WHEN l_suppkey % 10 = 7 THEN CAST(0 AS FLOAT)
                    WHEN l_orderkey % 23 = 0 OR l_orderkey % 19 = 0
                    THEN NULL ELSE CAST(l_tax * 100 AS FLOAT) END
                 AS unmeth_r
        FROM lineitem
      ), bg AS (
        SELECT sample_label, ch, v FROM (
          SELECT sample_label, 'G' AS ch,
                 unnest([meth_g, unmeth_g]) AS v
          FROM sig WHERE inf_type = 'I' AND channel = 'R')
        WHERE v IS NOT NULL
        UNION ALL
        SELECT sample_label, ch, v FROM (
          SELECT sample_label, 'R' AS ch,
                 unnest([meth_r, unmeth_r]) AS v
          FROM sig WHERE inf_type = 'I' AND channel = 'G')
        WHERE v IS NOT NULL
      ), q AS (
        SELECT sample_label, probe_id, 'G' AS ch,
               greatest(meth_g, unmeth_g) AS v FROM sig
        UNION ALL
        SELECT sample_label, probe_id, 'R' AS ch,
               greatest(meth_r, unmeth_r) AS v FROM sig
      ), merged AS (
        SELECT sample_label, ch, CAST(v AS DOUBLE) AS v, 1 AS is_bg,
               NULL AS probe_id FROM bg
        UNION ALL
        SELECT sample_label, ch, CAST(v AS DOUBLE) AS v, 0 AS is_bg,
               probe_id
        FROM q WHERE v IS NOT NULL
      ), win AS (
        SELECT *,
               sum(is_bg) OVER (PARTITION BY sample_label, ch
                 ORDER BY v ASC, is_bg DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS le,
               sum(is_bg) OVER (PARTITION BY sample_label, ch) AS n
        FROM merged
      ), looked AS (
        SELECT sample_label, ch, probe_id, v,
               CAST(le AS DOUBLE) / nullif(n, 0) AS F
        FROM win WHERE is_bg = 0
        UNION ALL
        SELECT sample_label, ch, probe_id, NULL AS v, NULL AS F
        FROM q WHERE v IS NULL
      ), weak AS (
        SELECT sample_label, ch,
               sum(CAST(v AS DOUBLE)) <= 100 AS w
        FROM bg GROUP BY sample_label, ch
      ), p AS (
        SELECT l.sample_label, l.probe_id,
               CASE WHEN l.v IS NULL THEN NULL
                    WHEN coalesce(w.w, FALSE)
                    THEN 1.0 - least(greatest(floor(l.v) + 1, 0), 1000)
                               / 1000.0
                    ELSE 1.0 - l.F END AS p
        FROM looked l LEFT JOIN weak w
          ON w.sample_label = l.sample_label AND w.ch = l.ch
      ), pv AS (
        SELECT sample_label, probe_id,
               CAST(min(p) AS FLOAT) AS p_value
        FROM p GROUP BY sample_label, probe_id
      )
      SELECT s.sample_label, s.probe_id, pv.p_value
      FROM sig s LEFT JOIN pv
        ON pv.sample_label = s.sample_label AND pv.probe_id = s.probe_id
      ORDER BY s.probe_id, s.sample_label, p_value"""))

  /** L10 end-to-end — NOOB background correction (Prep
    * .noobBackgroundCorrection, reference samples.py:1429-1502 +
    * stats.py:64-142) over the same signal-shaped frame as q59: OOB
    * background + in-band foreground cell extraction, zeros → 1, the
    * median + 10·IQR background cap with the ≥ 100-values eligibility
    * rule, per-(sample, channel) Huber M-estimates (median/MAD init,
    * clip-mean iteration to |Δmu| < tol·sigma), alpha = max(fgMu − bgMu,
    * 10), and the norm-exp convolution posterior mean (inverse-Mills
    * correction via the erfcx-scaled log-sf) + offset 15 applied to all
    * four signal columns. The all-zero sample exercises the no-fit
    * path twice over: its background collapses to cap = 1 (empty after
    * the < cap filter) and its foreground MAD is 0 — both sides leave
    * its cells uncorrected.
    *
    * The oracle replays the Huber loop as a RECURSIVE CTE with the
    * exact stopping rule (DuckDB allows joins + aggregation in the
    * recursive term) and the erfc/erfcx kernels as the same Cody
    * rational approximations, transcribed polynomial-for-polynomial
    * (DuckDB has no erf family built in). Order statistics (median,
    * quantile_cont) are bit-exact across engines; the iterative means
    * and libm calls can drift O(1e-13), so cells are compared at
    * round(·, 2) — far below any real fit/convolution error, far above
    * engine drift. */
  val q63 = Q(
    "q63_noob_endtoend",
    (s, d) => {
      import s.implicits._
      def cell(base: org.apache.spark.sql.Column, m: Int) =
        when($"l_suppkey" % 10 === 7, lit(0f))
          .otherwise(when(
            $"l_orderkey" % 23 === 0 || $"l_orderkey" % m === 0,
            lit(null).cast("float")).otherwise(base.cast("float")))
      val sig = t(s, d, "lineitem").select(
        $"l_suppkey".cast("string").as("sample_label"),
        $"l_partkey".cast("string").as("probe_id"),
        when($"l_partkey" % 3 === 0, "II").otherwise("I").as("inf_type"),
        when($"l_partkey" % 2 === 0, "G").otherwise("R").as("channel"),
        lit("cg").as("probe_type"),
        lit("").as("mask_info"),
        cell($"l_quantity", 11).as("meth_g"),
        cell(($"l_orderkey" * 3 + $"l_linenumber") % 47, 13)
          .as("unmeth_g"),
        cell(($"l_orderkey" * 7 + $"l_linenumber") % 53, 17)
          .as("meth_r"),
        cell($"l_tax" * 100, 19).as("unmeth_r"),
        lit(null).cast("float").as("p_value"))
      val corrected = graft.prep.Prep.noobBackgroundCorrection(s, sig,
        graft.core.Masks.empty(s), useNegativeControls = false)
      corrected.select($"sample_label", $"probe_id",
        round($"meth_g".cast("double"), 2).as("meth_g"),
        round($"unmeth_g".cast("double"), 2).as("unmeth_g"),
        round($"meth_r".cast("double"), 2).as("meth_r"),
        round($"unmeth_r".cast("double"), 2).as("unmeth_r"))
        .orderBy($"probe_id", $"sample_label", $"meth_g", $"unmeth_g",
          $"meth_r", $"unmeth_r")
    },
    Some("""
      WITH RECURSIVE sig AS (
        -- (l_orderkey, l_linenumber) pairs DUPLICATE in the synthetic
        -- lineitem; the regroup key must be unique per input row, and the
        -- full generator tuple is (verified at sf0.001/0.01/0.1).
        SELECT l_orderkey || '|' || l_linenumber || '|' || l_suppkey
                 || '|' || l_partkey || '|' || l_quantity || '|' || l_tax
                 AS rid,
               CAST(l_suppkey AS VARCHAR) AS sample_label,
               CAST(l_partkey AS VARCHAR) AS probe_id,
               CASE WHEN l_partkey % 3 = 0 THEN 'II' ELSE 'I' END
                 AS inf_type,
               CASE WHEN l_partkey % 2 = 0 THEN 'G' ELSE 'R' END
                 AS channel,
               CASE WHEN l_suppkey % 10 = 7 THEN CAST(0 AS FLOAT)
                    WHEN l_orderkey % 23 = 0 OR l_orderkey % 11 = 0
                    THEN NULL ELSE CAST(l_quantity AS FLOAT) END
                 AS meth_g,
               CASE WHEN l_suppkey % 10 = 7 THEN CAST(0 AS FLOAT)
                    WHEN l_orderkey % 23 = 0 OR l_orderkey % 13 = 0
                    THEN NULL
                    ELSE CAST((l_orderkey * 3 + l_linenumber) % 47
                              AS FLOAT) END AS unmeth_g,
               CASE WHEN l_suppkey % 10 = 7 THEN CAST(0 AS FLOAT)
                    WHEN l_orderkey % 23 = 0 OR l_orderkey % 17 = 0
                    THEN NULL
                    ELSE CAST((l_orderkey * 7 + l_linenumber) % 53
                              AS FLOAT) END AS meth_r,
               CASE WHEN l_suppkey % 10 = 7 THEN CAST(0 AS FLOAT)
                    WHEN l_orderkey % 23 = 0 OR l_orderkey % 19 = 0
                    THEN NULL ELSE CAST(l_tax * 100 AS FLOAT) END
                 AS unmeth_r
        FROM lineitem
      ), bg AS (
        SELECT sample_label, 'G' AS ch, meth_g AS v FROM sig
          WHERE inf_type = 'I' AND channel = 'R' AND meth_g IS NOT NULL
        UNION ALL
        SELECT sample_label, 'G', unmeth_g FROM sig
          WHERE inf_type = 'I' AND channel = 'R' AND unmeth_g IS NOT NULL
        UNION ALL
        SELECT sample_label, 'R', meth_r FROM sig
          WHERE inf_type = 'I' AND channel = 'G' AND meth_r IS NOT NULL
        UNION ALL
        SELECT sample_label, 'R', unmeth_r FROM sig
          WHERE inf_type = 'I' AND channel = 'G' AND unmeth_r IS NOT NULL
      ), fg AS (
        SELECT sample_label, 'G' AS ch, meth_g AS v FROM sig
          WHERE inf_type = 'I' AND channel = 'G' AND meth_g IS NOT NULL
        UNION ALL
        SELECT sample_label, 'G', unmeth_g FROM sig
          WHERE inf_type = 'I' AND channel = 'G' AND unmeth_g IS NOT NULL
        UNION ALL
        SELECT sample_label, 'R', meth_r FROM sig
          WHERE inf_type = 'I' AND channel = 'R' AND meth_r IS NOT NULL
        UNION ALL
        SELECT sample_label, 'R', unmeth_r FROM sig
          WHERE inf_type = 'I' AND channel = 'R' AND unmeth_r IS NOT NULL
        UNION ALL
        SELECT sample_label, 'G', meth_g FROM sig
          WHERE inf_type = 'II' AND meth_g IS NOT NULL
        UNION ALL
        SELECT sample_label, 'R', unmeth_r FROM sig
          WHERE inf_type = 'II' AND unmeth_r IS NOT NULL
      ), bg1 AS (
        SELECT sample_label, ch,
               CASE WHEN v = 0 THEN 1.0 ELSE CAST(v AS DOUBLE) END AS v
        FROM bg
      ), fg1 AS (
        SELECT sample_label, ch,
               CASE WHEN v = 0 THEN 1.0 ELSE CAST(v AS DOUBLE) END AS v
        FROM fg
      ), cap AS (
        SELECT sample_label, ch,
               median(v) + (quantile_cont(v, 0.75)
                 - quantile_cont(v, 0.25)) * 10 AS cap
        FROM bg1 GROUP BY 1, 2 HAVING count(*) >= 100
      ), hcells AS (
        SELECT 'bg' AS src, b.sample_label, b.ch, b.v
        FROM bg1 b JOIN cap c
          ON c.sample_label = b.sample_label AND c.ch = b.ch
        WHERE b.v < c.cap
        UNION ALL
        SELECT 'fg', sample_label, ch, v FROM fg1
      ), h0 AS (
        SELECT src, sample_label, ch, median(v) AS mu0
        FROM hcells GROUP BY 1, 2, 3
      ), hsig AS (
        SELECT c.src, c.sample_label, c.ch, h.mu0,
               median(abs(c.v - h.mu0)) / 0.6744897501960817 AS sigma
        FROM hcells c JOIN h0 h ON h.src = c.src
          AND h.sample_label = c.sample_label AND h.ch = c.ch
        GROUP BY 1, 2, 3, 4
      ), hub AS (
        SELECT src, sample_label, ch, mu0 AS mu, sigma,
               FALSE AS done, 0 AS it
        FROM hsig WHERE sigma <> 0
        UNION ALL
        SELECT x.src, x.sample_label, x.ch, x.mu2 AS mu, x.sigma,
               abs(x.mu - x.mu2) < 1e-6 * x.sigma AS done, x.it + 1 AS it
        FROM (
          SELECT s.src, s.sample_label, s.ch, s.mu, s.sigma, s.it,
                 avg(least(greatest(c.v, s.mu - 1.5 * s.sigma),
                           s.mu + 1.5 * s.sigma)) AS mu2
          FROM hub s JOIN hcells c ON c.src = s.src
            AND c.sample_label = s.sample_label AND c.ch = s.ch
          WHERE NOT s.done AND s.it < 100
          GROUP BY s.src, s.sample_label, s.ch, s.mu, s.sigma, s.it
        ) x
      ), hfinal AS (
        SELECT src, sample_label, ch, mu, sigma FROM hub
        QUALIFY row_number() OVER (PARTITION BY src, sample_label, ch
          ORDER BY it DESC) = 1
      ), fits AS (
        SELECT b.sample_label, b.ch, b.mu, b.sigma,
               greatest(f.mu - b.mu, 10.0) AS alpha
        FROM (SELECT * FROM hfinal WHERE src = 'bg') b
        JOIN (SELECT * FROM hfinal WHERE src = 'fg') f
          ON f.sample_label = b.sample_label AND f.ch = b.ch
      ), cells AS (
        SELECT rid, sample_label, probe_id, 'meth_g' AS cell,
               'G' AS ch, meth_g AS x FROM sig
        UNION ALL
        SELECT rid, sample_label, probe_id, 'unmeth_g', 'G', unmeth_g
        FROM sig
        UNION ALL
        SELECT rid, sample_label, probe_id, 'meth_r', 'R', meth_r
        FROM sig
        UNION ALL
        SELECT rid, sample_label, probe_id, 'unmeth_r', 'R', unmeth_r
        FROM sig
      ), conv0 AS (
        SELECT c.rid, c.sample_label, c.probe_id, c.cell, c.x,
               f.mu, f.sigma, f.alpha,
               CAST(c.x AS DOUBLE) - f.mu - f.sigma * f.sigma / f.alpha
                 AS shifted
        FROM cells c LEFT JOIN fits f
          ON f.sample_label = c.sample_label AND f.ch = c.ch
      ), conv1 AS (
        SELECT *, shifted / sigma AS sv,
               abs(shifted / sigma) / sqrt(2) AS u
        FROM conv0
      ), conv2 AS (
        SELECT *, u * u AS z2,
          u * ((((1.85777706184603153e-1 * (u*u) + 3.16112374387056560e+0)
                  * (u*u) + 1.13864154151050156e+2)
                  * (u*u) + 3.77485237685302021e+2)
                  * (u*u) + 3.20937758913846947e+3)
            / (((((u*u) + 2.36012909523441209e+1)
                  * (u*u) + 2.44024637934444173e+2)
                  * (u*u) + 1.28261652607737228e+3)
                  * (u*u) + 2.84423683343917062e+3) AS erf_small,
          ((((((((2.15311535474403846e-8 * u + 5.64188496988670089e-1)
              * u + 8.88314979438837594e+0) * u + 6.61191906371416295e+1)
              * u + 2.98635138197400131e+2) * u + 8.81952221241769090e+2)
              * u + 1.71204761263407058e+3) * u + 2.05107837782607147e+3)
              * u + 1.23033935479799725e+3)
          / ((((((((u + 1.57449261107098347e+1) * u
              + 1.17693950891312499e+2) * u + 5.37181101862009858e+2)
              * u + 1.62138957456669019e+3) * u + 3.29079923573345963e+3)
              * u + 4.36261909014324716e+3) * u + 3.43936767414372164e+3)
              * u + 1.23033935480374942e+3) AS pq_mid,
          (5.6418958354775628695e-1
            - (1.0 / nullif(u*u, 0))
              * (((((1.63153871373020978e-2 * (1.0 / nullif(u*u, 0))
                    + 3.05326634961232344e-1) * (1.0 / nullif(u*u, 0))
                    + 3.60344899949804439e-1) * (1.0 / nullif(u*u, 0))
                    + 1.25781726111229246e-1) * (1.0 / nullif(u*u, 0))
                    + 1.60837851487422766e-2) * (1.0 / nullif(u*u, 0))
                   + 6.58749161529837803e-4)
              / ((((((1.0 / nullif(u*u, 0)) + 2.56852019228982242e+0)
                    * (1.0 / nullif(u*u, 0)) + 1.87295284992346047e+0)
                    * (1.0 / nullif(u*u, 0)) + 5.27905102951428412e-1)
                    * (1.0 / nullif(u*u, 0)) + 6.05183413124413191e-2)
                    * (1.0 / nullif(u*u, 0)) + 2.33520497626869185e-3))
            / nullif(u, 0) AS el
        FROM conv1
      ), conv3 AS (
        SELECT *,
          CASE WHEN u < 0.46875 THEN 1.0 - erf_small
               WHEN u <= 4.0 THEN exp(-z2) * pq_mid
               ELSE el * exp(-z2) END AS erfc_u,
          CASE WHEN u < 0.46875 THEN exp(z2) * (1.0 - erf_small)
               WHEN u <= 4.0 THEN exp(z2) * (exp(-z2) * pq_mid)
               ELSE el END AS erfcx_u
        FROM conv2
      ), conv4 AS (
        SELECT *,
          (-0.5) * sv * sv - ln(sigma * sqrt(2 * pi())) AS lp,
          CASE WHEN sv >= 0 THEN ln(1.0 + (-0.5) * erfc_u)
               ELSE (-0.5) * sv * sv + ln(0.5 * erfcx_u) END AS ls
        FROM conv3
      ), conv5 AS (
        SELECT rid, sample_label, probe_id, cell,
          CASE WHEN mu IS NULL OR x IS NULL THEN x
               ELSE CAST(greatest(shifted + sigma * sigma * exp(lp - ls),
                                  1e-6) + 15.0 AS FLOAT) END AS y
        FROM conv4
      )
      SELECT sample_label, probe_id,
             round(CAST(max(CASE WHEN cell = 'meth_g' THEN y END)
               AS DOUBLE), 2) AS meth_g,
             round(CAST(max(CASE WHEN cell = 'unmeth_g' THEN y END)
               AS DOUBLE), 2) AS unmeth_g,
             round(CAST(max(CASE WHEN cell = 'meth_r' THEN y END)
               AS DOUBLE), 2) AS meth_r,
             round(CAST(max(CASE WHEN cell = 'unmeth_r' THEN y END)
               AS DOUBLE), 2) AS unmeth_r
      FROM conv5
      GROUP BY rid, sample_label, probe_id
      ORDER BY probe_id, sample_label, meth_g, unmeth_g, meth_r,
               unmeth_r"""))

  /** L14 end-to-end — nonlinear dye-bias correction (DyeBiasNL
    * .dyeBiasCorrectionNL, reference samples.py:1340-1427 +
    * stats.py:145-167) over a signal built from `orders`: probe =
    * o_orderkey (unique, so (sample, probe) is a key and the final
    * pivot/join is deterministic), sample = custkey mod 10, four cells
    * in DISJOINT ranges derived from o_totalprice so no two in-band
    * values can tie inside a (sample, channel) — interp knots with
    * duplicate xp are the one place engine tie-breaks could diverge.
    * A window filter drops the few rows whose FLOAT-cast cell would
    * collide per sample (the decimal is near-unique but float ulp at
    * 3.5e6 is 0.25). Planted branches: sample 3's green cells are all
    * zero (G max = 0 → ineligible → passthrough), sample 7's top ~30%
    * red cells are scaled 50× (top-20-median ratio trips the > 10
    * distortion guard at every SF), type II rows route through the
    * type-I curves and land on all three np.interp branches (inside,
    * shifted-above, proportional-below), and modular NULL cells ride
    * the whole pipeline untouched.
    *
    * The oracle replays the guard (quantile_cont + top-20 median),
    * rank-arithmetic quantile normalization, midpoint knots, and the
    * sort-merge interp exactly as SQL; all arithmetic is the same
    * IEEE ops in the same order, so round(·, 2) is belt-and-braces. */
  val q64 = Q(
    "q64_dyebias_nl_endtoend",
    (s, d) => {
      import s.implicits._
      val tp = $"o_totalprice".cast("double")
      val withF = t(s, d, "orders")
        .withColumn("_s", ($"o_custkey" % 10).cast("string"))
        .withColumn("_f1", tp.cast("float"))
        .withColumn("_f2", (tp + 1000000.0).cast("float"))
        .withColumn("_f3", (tp + 2000000.0).cast("float"))
        .withColumn("_f4", (tp + 3000000.0).cast("float"))
        .withColumn("_f3i", ((tp + 2000000.0) * 50.0).cast("float"))
      def uniq(c: String) =
        count(lit(1)).over(Window.partitionBy($"_s", col(c))) === 1
      val filtered = withF
        .withColumn("_u", uniq("_f1") && uniq("_f2") && uniq("_f3") &&
          uniq("_f4") && uniq("_f3i"))
        .filter($"_u")
      val nullF = lit(null).cast("float")
      val sig = filtered.select(
        $"_s".as("sample_label"),
        $"o_orderkey".cast("string").as("probe_id"),
        when($"o_orderkey" % 5 === 0, "II").otherwise("I").as("inf_type"),
        when($"o_orderkey" % 2 === 0, "G").otherwise("R").as("channel"),
        lit("cg").as("probe_type"),
        lit("").as("mask_info"),
        when($"_s" === "3", lit(0f))
          .when($"o_orderkey" % 29 === 0, nullF)
          .otherwise($"_f1").as("meth_g"),
        when($"_s" === "3", lit(0f))
          .when($"o_orderkey" % 31 === 0, nullF)
          .otherwise($"_f2").as("unmeth_g"),
        when($"o_orderkey" % 37 === 0, nullF)
          .when($"_s" === "7" && tp > 350000.0, $"_f3i")
          .otherwise($"_f3").as("meth_r"),
        when($"o_orderkey" % 41 === 0, nullF)
          .otherwise($"_f4").as("unmeth_r"),
        nullF.as("p_value"))
      val (corrected, _) =
        graft.prep.DyeBiasNL.dyeBiasCorrectionNL(s, sig)
      corrected.select($"sample_label", $"probe_id",
        round($"meth_g".cast("double"), 2).as("meth_g"),
        round($"unmeth_g".cast("double"), 2).as("unmeth_g"),
        round($"meth_r".cast("double"), 2).as("meth_r"),
        round($"unmeth_r".cast("double"), 2).as("unmeth_r"))
        .orderBy($"probe_id", $"sample_label")
    },
    Some("""
      WITH uniqf AS (
        SELECT * FROM (
          SELECT o_orderkey AS okey,
                 CAST(o_custkey % 10 AS VARCHAR) AS s,
                 CAST(o_totalprice AS DOUBLE) AS tp,
                 CAST(CAST(o_totalprice AS DOUBLE) AS FLOAT) AS f1,
                 CAST(CAST(o_totalprice AS DOUBLE) + 1000000.0 AS FLOAT)
                   AS f2,
                 CAST(CAST(o_totalprice AS DOUBLE) + 2000000.0 AS FLOAT)
                   AS f3,
                 CAST(CAST(o_totalprice AS DOUBLE) + 3000000.0 AS FLOAT)
                   AS f4,
                 CAST((CAST(o_totalprice AS DOUBLE) + 2000000.0) * 50.0
                   AS FLOAT) AS f3i
          FROM orders) b
        QUALIFY count(*) OVER (PARTITION BY s, f1) = 1
            AND count(*) OVER (PARTITION BY s, f2) = 1
            AND count(*) OVER (PARTITION BY s, f3) = 1
            AND count(*) OVER (PARTITION BY s, f4) = 1
            AND count(*) OVER (PARTITION BY s, f3i) = 1
      ), sig AS (
        SELECT s AS sample_label, CAST(okey AS VARCHAR) AS probe_id,
               CASE WHEN okey % 5 = 0 THEN 'II' ELSE 'I' END AS inf_type,
               CASE WHEN okey % 2 = 0 THEN 'G' ELSE 'R' END AS channel,
               CASE WHEN s = '3' THEN CAST(0 AS FLOAT)
                    WHEN okey % 29 = 0 THEN NULL ELSE f1 END AS meth_g,
               CASE WHEN s = '3' THEN CAST(0 AS FLOAT)
                    WHEN okey % 31 = 0 THEN NULL ELSE f2 END AS unmeth_g,
               CASE WHEN okey % 37 = 0 THEN NULL
                    WHEN s = '7' AND tp > 350000.0 THEN f3i
                    ELSE f3 END AS meth_r,
               CASE WHEN okey % 41 = 0 THEN NULL ELSE f4 END AS unmeth_r
        FROM uniqf
      ), cells AS (
        -- in-band type-I cells (two per row, channel = probe channel)
        SELECT sample_label, probe_id, channel,
               CASE WHEN channel = 'G' THEN meth_g ELSE meth_r END AS vf
        FROM sig WHERE inf_type = 'I'
          AND (CASE WHEN channel = 'G' THEN meth_g ELSE meth_r END)
              IS NOT NULL
        UNION ALL
        SELECT sample_label, probe_id, channel,
               CASE WHEN channel = 'G' THEN unmeth_g ELSE unmeth_r END
        FROM sig WHERE inf_type = 'I'
          AND (CASE WHEN channel = 'G' THEN unmeth_g ELSE unmeth_r END)
              IS NOT NULL
      ), totals AS (
        SELECT sample_label, probe_id, channel,
               CASE WHEN sv = 0 THEN NULL ELSE sv END AS total_ib
        FROM (SELECT sample_label, probe_id, channel, sum(vf) AS sv
              FROM cells GROUP BY 1, 2, 3)
      ), guard AS (
        SELECT sample_label, channel,
               quantile_cont(CAST(total_ib AS DOUBLE), 0.5) AS med
        FROM totals GROUP BY 1, 2
      ), top20 AS (
        SELECT sample_label, channel, median(tv) AS t20
        FROM (SELECT sample_label, channel,
                     CAST(total_ib AS DOUBLE) AS tv,
                     row_number() OVER (
                       PARTITION BY sample_label, channel
                       ORDER BY CAST(total_ib AS DOUBLE) DESC) AS rn
              FROM totals WHERE total_ib IS NOT NULL)
        WHERE rn <= 20 GROUP BY 1, 2
      ), gw AS (
        SELECT g.sample_label,
               max(CASE WHEN g.channel = 'G' THEN g.med END) AS g_med,
               max(CASE WHEN g.channel = 'R' THEN g.med END) AS r_med,
               max(CASE WHEN g.channel = 'G' THEN t.t20 END) AS g_t20,
               max(CASE WHEN g.channel = 'R' THEN t.t20 END) AS r_t20
        FROM guard g LEFT JOIN top20 t
          ON t.sample_label = g.sample_label AND t.channel = g.channel
        GROUP BY 1
      ), dist AS (
        SELECT sample_label,
               CASE WHEN g_t20 IS NULL OR g_med IS NULL OR r_t20 IS NULL
                      OR r_med IS NULL OR g_t20 = 0 OR g_med = 0
                    THEN TRUE
                    ELSE COALESCE(
                      isnan((r_t20 / g_t20) / (r_med / g_med)) OR
                      (r_t20 / g_t20) / (r_med / g_med) > 10, TRUE)
               END AS distorted
        FROM gw
      ), chanw AS (
        SELECT sample_label,
               max(CASE WHEN channel = 'G' THEN n END) AS g_n,
               max(CASE WHEN channel = 'R' THEN n END) AS r_n,
               max(CASE WHEN channel = 'G' THEN mx END) AS g_mx,
               max(CASE WHEN channel = 'R' THEN mx END) AS r_mx
        FROM (SELECT sample_label, channel, count(*) AS n,
                     max(CAST(vf AS DOUBLE)) AS mx
              FROM cells GROUP BY 1, 2)
        GROUP BY 1
      ), elig AS (
        SELECT c.sample_label, c.g_n AS n_g, c.r_n AS n_r
        FROM chanw c JOIN dist d ON d.sample_label = c.sample_label
        WHERE NOT d.distorted AND c.g_n IS NOT NULL
          AND c.r_n IS NOT NULL AND c.g_mx > 0 AND c.r_mx > 0
      ), ranked AS (
        SELECT c.sample_label, c.channel, CAST(c.vf AS DOUBLE) AS v,
               row_number() OVER (PARTITION BY c.sample_label, c.channel
                 ORDER BY CAST(c.vf AS DOUBLE)) - 1 AS r,
               CASE WHEN c.channel = 'G' THEN e.n_g ELSE e.n_r END AS n,
               CASE WHEN c.channel = 'G' THEN e.n_r ELSE e.n_g END AS m,
               CASE WHEN c.channel = 'G' THEN 'R' ELSE 'G' END AS tch
        FROM cells c JOIN elig e ON e.sample_label = c.sample_label
      ), wpos AS (
        SELECT *, CAST(floor(pos) AS BIGINT) AS plo,
               CAST(ceil(pos) AS BIGINT) AS phi
        FROM (SELECT *, CASE WHEN n = 1 THEN 0.0
                             ELSE CAST(r AS DOUBLE) / (n - 1) * (m - 1)
                        END AS pos
              FROM ranked)
      ), knots AS (
        SELECT w.sample_label, w.channel, w.v AS xp,
               (w.v + CASE WHEN w.plo = w.phi THEN lo.v
                           ELSE lo.v + (w.pos - w.plo) * (hi.v - lo.v)
                      END) / 2 AS fp
        FROM wpos w
        JOIN ranked lo ON lo.sample_label = w.sample_label
          AND lo.channel = w.tch AND lo.r = w.plo
        JOIN ranked hi ON hi.sample_label = w.sample_label
          AND hi.channel = w.tch AND hi.r = w.phi
      ), bounds AS (
        SELECT sample_label, channel, min(xp) AS minx, max(xp) AS maxx,
               min(fp) AS minmid, max(fp) AS maxmid
        FROM knots GROUP BY 1, 2
      ), q AS (
        SELECT sample_label, probe_id, 'meth_g' AS vcol, 'G' AS ch,
               CAST(meth_g AS DOUBLE) AS x FROM sig
        UNION ALL
        SELECT sample_label, probe_id, 'unmeth_g', 'G',
               CAST(unmeth_g AS DOUBLE) FROM sig
        UNION ALL
        SELECT sample_label, probe_id, 'meth_r', 'R',
               CAST(meth_r AS DOUBLE) FROM sig
        UNION ALL
        SELECT sample_label, probe_id, 'unmeth_r', 'R',
               CAST(unmeth_r AS DOUBLE) FROM sig
      ), ilo AS (
        SELECT q.sample_label, q.ch, q.x, max(k.xp) AS lx,
               arg_max(k.fp, k.xp) AS lf
        FROM (SELECT DISTINCT sample_label, ch, x FROM q
              WHERE x IS NOT NULL) q
        JOIN knots k ON k.sample_label = q.sample_label
          AND k.channel = q.ch AND k.xp <= q.x
        GROUP BY 1, 2, 3
      ), ihi AS (
        SELECT q.sample_label, q.ch, q.x, min(k.xp) AS hx,
               arg_min(k.fp, k.xp) AS hf
        FROM (SELECT DISTINCT sample_label, ch, x FROM q
              WHERE x IS NOT NULL) q
        JOIN knots k ON k.sample_label = q.sample_label
          AND k.channel = q.ch AND k.xp > q.x
        GROUP BY 1, 2, 3
      ), app AS (
        SELECT q.sample_label, q.probe_id, q.vcol, q.x,
               b.minx, b.maxx, b.minmid, b.maxmid,
               CASE WHEN lo.lx IS NULL AND hi.hx IS NULL THEN NULL
                    WHEN lo.lx IS NULL THEN hi.hf
                    WHEN hi.hx IS NULL THEN lo.lf
                    WHEN hi.hx = lo.lx THEN lo.lf
                    ELSE lo.lf + (hi.hf - lo.lf) * (q.x - lo.lx)
                                 / (hi.hx - lo.lx)
               END AS itp
        FROM q
        LEFT JOIN bounds b ON b.sample_label = q.sample_label
          AND b.channel = q.ch
        LEFT JOIN ilo lo ON lo.sample_label = q.sample_label
          AND lo.ch = q.ch AND lo.x = q.x
        LEFT JOIN ihi hi ON hi.sample_label = q.sample_label
          AND hi.ch = q.ch AND hi.x = q.x
      ), outv AS (
        SELECT sample_label, probe_id, vcol,
               CASE WHEN minx IS NULL THEN x
                    WHEN isnan(x) THEN NULL
                    WHEN x > maxx THEN x - maxx + maxmid
                    WHEN x < minx THEN
                      CASE WHEN minx = 0 THEN NULL
                           ELSE x * (minmid / minx) END
                    ELSE itp END AS o
        FROM app
      )
      SELECT sample_label, probe_id,
             round(CAST(CAST(max(CASE WHEN vcol = 'meth_g' THEN o END)
               AS FLOAT) AS DOUBLE), 2) AS meth_g,
             round(CAST(CAST(max(CASE WHEN vcol = 'unmeth_g' THEN o END)
               AS FLOAT) AS DOUBLE), 2) AS unmeth_g,
             round(CAST(CAST(max(CASE WHEN vcol = 'meth_r' THEN o END)
               AS FLOAT) AS DOUBLE), 2) AS meth_r,
             round(CAST(CAST(max(CASE WHEN vcol = 'unmeth_r' THEN o END)
               AS FLOAT) AS DOUBLE), 2) AS unmeth_r
      FROM outv
      GROUP BY sample_label, probe_id
      ORDER BY probe_id, sample_label"""))

  /** Blocking-based entity resolution (EntityResolution.blockedPairs +
    * Fellegi-Sunter-style integer agreement weights): candidate pairs
    * only within (nation, segment) blocks — Σ|b|² not n² — scored on
    * account-balance proximity (within $100, cents as exact BIGINT), balance-bucket
    * agreement, and a stable quasi-identifier digit; threshold keeps
    * strong-agreement pairs. Every weight is an integer and the balance
    * is exact scaled cents, so the score is bit-identical across
    * engines. The oracle replays the same blocked self-join. */
  val q139 = Q(
    "q139_entity_resolution",
    (s, d) => {
      import s.implicits._
      val c = t(s, d, "customer")
        .select($"c_custkey", $"c_nationkey", $"c_mktsegment",
          round($"c_acctbal" * 100, 0).cast("long").as("cents"))
      val pairs = graft.operators.EntityResolution.blockedPairs(
        c, Seq("c_nationkey", "c_mktsegment"), "c_custkey")
      pairs.select($"c_nationkey", $"c_mktsegment",
          $"a_c_custkey".as("id_a"), $"b_c_custkey".as("id_b"),
          (when(abs($"a_cents" - $"b_cents") <= 10000L, 40L).otherwise(0L)
            + when(expr("a_cents div 100000") ===
                expr("b_cents div 100000"), 20L).otherwise(0L)
            + when($"a_c_custkey" % 10 === $"b_c_custkey" % 10, 15L)
                .otherwise(0L)).as("score"))
        .filter($"score" >= 55L)
        .orderBy($"id_a", $"id_b")
    },
    Some("""
      WITH c AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
      ), pairs AS (
        SELECT a.c_nationkey, a.c_mktsegment,
               a.c_custkey AS id_a, b.c_custkey AS id_b,
               (CASE WHEN abs(a.cents - b.cents) <= 10000
                  THEN 40 ELSE 0 END
                + CASE WHEN a.cents // 100000 = b.cents // 100000
                  THEN 20 ELSE 0 END
                + CASE WHEN a.c_custkey % 10 = b.c_custkey % 10
                  THEN 15 ELSE 0 END) AS score
        FROM c a JOIN c b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.c_custkey < b.c_custkey
      )
      SELECT c_nationkey, c_mktsegment, id_a, id_b,
             CAST(score AS BIGINT) AS score
      FROM pairs WHERE score >= 55
      ORDER BY id_a, id_b"""))

  val all: Seq[Q] =
    Seq(q39, q40, q45, q47, q48, q49, q51, q52, q57, q58, q59, q63, q64,
      q123, q139)
}
