package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.obs.Trace
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale and skew benchmarks: one main, one mode per question.
  *
  *   - `scale` (the default) — measured scaling. Every plan in this repo
  *     is audited for 100×-scale shape (PlanSpec's join sweep, the
  *     scaladoc shuffle contracts); this mode executes it. It generates
  *     a deterministic N× replica ([[generate]]) of the tables the
  *     [[Heavy]] queries read, runs them at 1× and N× volume and reports
  *     per query the wall exponent `log(t_N / t_1) / log(N)` and its
  *     noise-free twin over shuffle-write bytes: host oscillation moves
  *     wall time ±50%, the bytes a deterministic plan moves do not.
  *     e ≈ 1 is linear; above ~1.3 on either exponent names a
  *     scale-killer (quadratic pair blowup, single-task serialization, a
  *     driver round trip growing with data). Reads SPARK_GRAFT_SCALE_BASE
  *     (default sf0.1), SPARK_GRAFT_SCALE_FACTOR (10),
  *     SPARK_GRAFT_SCALE_REPS (rounds, 2), SPARK_GRAFT_SCALE_ONLY (a
  *     comma list of heavy queries) and SPARK_GRAFT_WARM_DIR (the
  *     warm-up directory, sf0.001); persists its line to
  *     `target/scalebench.json` and `target/scalebench_x<N>.json`.
  *   - `domain` — the CNV/DMR stages against the reference's only
  *     published timings (BASELINE.md): bin merge ~10 s (cnv.py:176),
  *     CBS at 10,000 shuffles ~15 s (cnv.py:190-193), the DMR Stouffer
  *     combine over ~0.5M segments "a few minutes" (dm.py:622), on a
  *     deterministic EPICv2-scale census (937,688 probes,
  *     annotations.py:370-371, over 24 chromosomes × 125 Mb with three
  *     2 Mb assembly gaps each) and a copy-number gain on chr3:40-50 Mb
  *     that CBS must split out.
  *   - `domain-skew` — the chromosome-partitioned stages (bin merge, DMR
  *     windows) on a uniform and a human-like skewed 10× EPICv2 census.
  *     Plans that parallelize per chromosome (or finer) keep skew/uniform
  *     under the chr1-share bound ≈ 1.9; a genome-serial plan shows a
  *     multi-× blow-up.
  *   - `dedup-skew` — the dedup family on two 500k-doc corpora, one with
  *     30% sharing a boilerplate line (150k-document hot shingle and line
  *     keys). Healthy is a skew/uniform ratio near 1 per stage; a pair
  *     expansion quadratic in document frequency shows minutes against
  *     seconds.
  *
  * Every mode runs through [[run]]: one warm-up, the shapes in ABBA
  * order, each stage under a [[Trace]] tag, the fastest round per stage.
  * The JSON line names every stage with its wall seconds, jobs, shuffle
  * write MB, GC seconds and the counts it checks. No mode reads files
  * except `scale`, and no data is random: reruns rebuild bit-identical
  * inputs.
  *
  *   sbt "runMain graft.ScaleBench [scale|domain|domain-skew|dedup-skew]"
  */
object ScaleBench {
  private val Usage = "usage: ScaleBench [scale|domain|domain-skew|dedup-skew]"

  /** One timed stage; `body` returns the counts it reports. */
  final case class Stage(name: String, body: () => Seq[(String, Long)])
  private def stage(name: String)(body: => Seq[(String, Long)]) =
    Stage(name, () => body)

  /** What a mode supplies. `stages(spark, shape)` builds one shape's data
    * (outside any timed window) and returns its stages, which run in
    * order and may share that data. `warmShape`'s stages run once,
    * untimed, after the generic warm-up; a failure there is reported in
    * the stage's entry. `isolate` clears the cache after every stage
    * (independent queries) instead of after every shape run. `fields`
    * derives the line's summary (value, ratio or exponent) from the run. */
  final case class Mode(metric: String, shapes: Seq[String], rounds: Int,
      stages: (SparkSession, String) => Seq[Stage],
      fields: Run => Seq[(String, Any)],
      warmShape: Option[String] = None, isolate: Boolean = false,
      artifacts: Seq[String] = Nil)

  /** One stage run as the trace saw it. */
  final case class Timing(wall: Double, jobs: Int, shuffleBytes: Long,
      gcMs: Long, counts: Seq[(String, Long)])

  /** Every round in the order it ran: (shape, its stages' timings). */
  final case class Run(rounds: Seq[(String, Seq[(String, Timing)])],
      warmErrors: Map[String, String]) {
    /** Per stage, the round with the least wall time. */
    def best(shape: String): Seq[(String, Timing)] =
      rounds.filter(_._1 == shape).map(_._2).transpose
        .map(rs => rs.head._1 -> rs.map(_._2).minBy(_.wall))
    def timing(shape: String, stage: String): Timing =
      best(shape).toMap.apply(stage)
    /** Second shape's best wall over the first's. */
    def ratio(stage: String): Double = {
      val Seq(a, b) = rounds.map(_._1).distinct
      timing(b, stage).wall / timing(a, stage).wall
    }
  }

  def exponent(ratio: Double, copies: Int): Double =
    math.log(ratio) / math.log(copies)

  /** Shapes in ABBA order: A B, B A, A B, … for `rounds` rounds. */
  private def order(shapes: Seq[String], rounds: Int): Seq[String] =
    (0 until rounds).flatMap(r => if (r % 2 == 0) shapes else shapes.reverse)

  /** Untimed session warm-up: the first job of a session pays class
    * loading and whole-stage codegen, which would otherwise land on
    * whichever stage runs first. One scan+join+window+agg round trip
    * loads every code path the stages use. */
  private def warmup(spark: SparkSession): Unit = {
    val wdf = spark.range(100000L)
      .select(col("id"), pmod(col("id"), lit(7)).as("g"))
    wdf.join(wdf.groupBy("g").agg(count(lit(1)).as("c")), "g")
      .withColumn("r", sum(col("id")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy("id")))
      .agg(sum("r")).collect()
  }

  /** The warm-up, then every round; each stage is followed, outside its
    * timed window, by a GC that reaps unreferenced localCheckpoint blocks,
    * and each shape run by clearing the cache. */
  def run(spark: SparkSession, mode: Mode): Run = {
    def pass[T](shape: String)(f: Stage => T): Seq[(String, T)] =
      try mode.stages(spark, shape).map { s =>
        try s.name -> f(s) finally {
          if (mode.isolate) spark.catalog.clearCache()
          System.gc()
        }
      } finally spark.catalog.clearCache()
    warmup(spark)
    val warmErrors = mode.warmShape.toSeq.flatMap(pass(_) { s =>
      try { s.body(); None } catch { case NonFatal(e) => Some(e.toString) }
    }).collect { case (name, Some(e)) => name -> e }.toMap
    val trace = Trace.attach(spark)
    try Run(order(mode.shapes, mode.rounds).zipWithIndex.map {
      case (shape, i) => shape -> pass(shape) { s =>
        val tag = s"scalebench-${mode.metric}-$shape-${s.name}-$i"
        val t0 = System.nanoTime()
        val counts = trace.run(tag)(s.body())
        val wall = (System.nanoTime() - t0) / 1e9
        val st = trace.drain(tag)
        Timing(wall, st.jobs, st.shuffleWriteBytes, st.gcMs, counts)
      }
    }, warmErrors) finally trace.detach()
  }

  private val Json = JsonMapper.builder().addModule(DefaultScalaModule).build()
  private def rounded(x: Double, digits: Int): Double =
    BigDecimal(x).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The mode's one JSON line: metric, the mode's fields, then per shape
    * every stage's entry. */
  def line(mode: Mode, run: Run): String = {
    def entry(name: String, t: Timing) = name -> ListMap(Seq(
      "wall" -> rounded(t.wall, 3), "jobs" -> t.jobs,
      "shuffle_mb" -> rounded(t.shuffleBytes / 1048576.0, 3),
      "gc_s" -> rounded(t.gcMs / 1e3, 3)) ++ t.counts ++
      run.warmErrors.get(name).map("warmup_error" -> _): _*)
    Json.writeValueAsString(ListMap(Seq("metric" -> mode.metric) ++
      mode.fields(run) ++ Seq("rounds" -> mode.rounds,
        "cpus" -> Session.cpus) ++ mode.shapes.map(s =>
        s -> ListMap(run.best(s).map((entry _).tupled): _*)): _*))
  }

  def main(args: Array[String]): Unit = {
    val cmd = command(args.toSeq)
    val spark = Session.local(Session.cpus)
    try cmd(spark) finally spark.stop()
  }

  /** The mode `args` names (`scale` when none); throws on a malformed
    * command line, or a `scale` environment naming no heavy query,
    * before any session exists. */
  def command(args: Seq[String], env: Map[String, String] = sys.env)
      : SparkSession => Unit = {
    val mode = args match {
      case Seq() | Seq("scale") => scale(env)
      case Seq("domain") => domain
      case Seq("domain-skew") => domainSkew
      case Seq("dedup-skew") => dedupSkew
      case _ => throw new IllegalArgumentException(Usage)
    }
    spark => {
      val out = line(mode, run(spark, mode))
      println(out)
      mode.artifacts.foreach(p =>
        try Files.writeString(Paths.get(p), out + "\n") catch {
          case NonFatal(e) => System.err.println(s"[scalebench] $p: $e")
        })
    }
  }

  // ---------------------------------------------------------------- scale

  /** Ten heavy registered queries, the ten slowest of the bench reference
    * when the rung was built. In today's `tools/bench_ref.json` they are
    * ten of the eleven slowest (q177_lsh_s_curve, ninth, is not among
    * them). They read exactly {lineitem, part, supplier, documents} — the
    * four tables [[generate]] scales. */
  private val Heavy = Seq("q81_dmp_mixedlm_endtoend", "q59_poobah_slice",
    "q63_noob_endtoend", "q71_dmr_endtoend", "q67_dmp_ols_endtoend",
    "q84_signal_build_endtoend", "q62_components_canonicalize",
    "q148_leakage_safe_split", "q82_masks_endtoend", "q124_dedup_eval")

  private val Partitions = 32

  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  /** Copy-k alphabet permutation i → (a·i + b) mod 26 with `a` coprime
    * to 26: 312 DISTINCT permutations (k = 0 is the identity), and two
    * distinct affine maps agree on at most two letters (26 is
    * composite: every coprime `a` is odd, so the a-difference is even
    * and gcd(Δa, 26) ∈ {2, 26} — when Δb is also even there are
    * exactly 2 fixed letters, never more), so tokens of
    * length ≥ 3 essentially never collide across copies — the
    * not-a-near-duplicate invariant holds up to 100× (a plain caesar
    * rotation cycles after 26 copies and copies 0/26/52/78 would be
    * byte-identical, turning every doc into a near-dup clique). */
  private val Coprimes = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
  private def perm(k: Int): String = (0 until 26).map(i =>
    Alpha((Coprimes((k / 26) % Coprimes.length) * i + k % 26) % 26)).mkString

  /** Write the scaled four-table dir; marker-gated idempotent.
    *
    * Copy k of a base row shifts every join/grouping key by k·10^m
    * (powers of ten keep the mod-2/5/10 classes the domain queries derive
    * semantics from — e.g. q59's all-zero sample at `l_suppkey % 10 == 7`
    * — while mod-3/23-class membership cycles per copy, so derived
    * distributions stay balanced), and `documents.text` goes through a
    * copy-unique affine alphabet permutation so copies are NOT
    * near-duplicates of each other: otherwise the MinHash/Jaccard
    * queries would see every doc as an N-clique and the candidate-pair
    * count would scale ×45 instead of ×10 at 10×. Copy 0 is the
    * identity, so x1 and xN share layout, writer, compression and
    * partition count (both repartitioned to [[Partitions]], so the 1×
    * run is not under-parallelized relative to the N× run). */
  def generate(spark: SparkSession, baseDir: String, outDir: String,
      copies: Int): Unit = {
    // 312 = the affine-permutation family size; more copies would reuse
    // a text transform and quietly plant near-dup cliques
    require(copies >= 1 && copies <= 312,
      s"copies ($copies) must be in [1, 312]")
    val marker = Paths.get(outDir, s"_GRAFT_SCALE_$copies")
    if (Files.exists(marker)) return
    // key offsets per copy — powers of ten above every base key domain
    // (sf0.1: l_orderkey ≤ 6·10^5, partkey ≤ 2·10^4, suppkey ≤ 10^3,
    // doc_id ≤ 10^4), far below Long overflow at 312 copies
    val (ord, part, supp, doc) = (10000000000L, 100000000L, 10000000L,
      100000000L)
    Seq("lineitem" -> Seq("l_orderkey" -> ord, "l_partkey" -> part,
        "l_suppkey" -> supp), "part" -> Seq("p_partkey" -> part),
      "supplier" -> Seq("s_suppkey" -> supp),
      "documents" -> Seq("doc_id" -> doc)).foreach { case (name, keys) =>
      val base = Q.t(spark, baseDir, name)
      (0 until copies).map { k =>
        val shifted = keys.foldLeft(base) { case (df, (c, off)) =>
          df.withColumn(c, col(c) + lit(off * k))
        }
        if (name != "documents") shifted
        else shifted.withColumn("text", translate(col("text"),
          Alpha + Alpha.toUpperCase, perm(k) + perm(k).toUpperCase))
      }.reduce(_ unionByName _).repartition(Partitions)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    Files.createFile(marker)
  }

  private def scale(env: Map[String, String]): Mode = {
    val base = env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val warmDir = env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val copies = env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val reps = env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val only = env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").map(_.trim).toSet)
    val queries = Heavy.filter(q => only.forall(_.contains(q)))
    require(queries.nonEmpty,
      s"SPARK_GRAFT_SCALE_ONLY (${only.fold("")(_.mkString(","))}) " +
        "matched no registered heavy query")
    val xN = s"x$copies"
    def dir(shape: String) =
      if (shape == "warm") warmDir else s"target/scale-synth/$shape"
    Mode("scale_exponent_max", Seq("x1", xN), reps,
      stages = (spark, shape) => {
        Seq(1, copies).foreach(c => generate(spark, base, dir(s"x$c"), c))
        queries.map(q => stage(q)(
          Seq("rows" -> SparkEntry.queries(q)(spark, dir(shape)).count())))
      },
      fields = run => {
        val e = queries.map(q => exponent(run.ratio(q), copies))
        val eb = queries.map { q =>
          val Seq(b1, bN) = Seq("x1", xN).map(run.timing(_, q).shuffleBytes)
          // undefined when a query never shuffles at x1
          if (b1 > 0 && bN > 0) exponent(bN.toDouble / b1, copies) else 0.0
        }
        def byQuery(xs: Seq[Double]) =
          ListMap(queries.zip(xs.map(rounded(_, 3))): _*)
        Seq("value" -> rounded(e.max, 3), "unit" -> "exponent",
          "median_exponent" -> rounded(e.sorted.apply(e.size / 2), 3),
          "max_shuffle_exponent" -> rounded(eb.max, 3),
          "copies" -> copies, "base" -> base,
          "offenders" ->
            queries.indices.filter(i => (e(i) max eb(i)) > 1.3).map(queries),
          "exponent" -> byQuery(e), "shuffle_exponent" -> byQuery(eb))
      },
      warmShape = Some("warm"), isolate = true,
      artifacts = Seq("target/scalebench.json",
        s"target/scalebench_$xN.json"))
  }

  // ---------------------------------------------------------- CNV / DMR

  /** Island-clustered start of the probe at SQL index `i` along its
    * chromosome: each 60-probe group spans 150 kb as [25, 25, 10] probes
    * across its three 50 kb tiles. Real arrays are islands and deserts,
    * never uniform, and a uniformly under-filled genome legitimately
    * collapses under the reference's merge marking. */
  private def islandStart(i: String): Column = expr(s"""
    CAST(($i div 60) * 150000 +
      CASE WHEN $i % 60 < 25 THEN ($i % 60) * 1960
           WHEN $i % 60 < 50 THEN 50000 + ($i % 60 - 25) * 1960
           ELSE 100000 + ($i % 60 - 50) * 4900
      END AS BIGINT)""")

  /** The CNV bin merge of `ranges`' probes onto `tiles`, at least 20
    * probes per bin (the reference's default). */
  private def mergeBins(spark: SparkSession, tiles: DataFrame,
      ranges: DataFrame): DataFrame =
    graft.cnv.Cnv.mergeBinsToMinimumOverlap(spark, tiles, ranges.select(
      col("chromosome").as("chrom"), col("start"), col("end"),
      col("probe_id")), minOverlap = 20)

  /** Skew/uniform best-wall ratio per stage, to two decimals. */
  private def ratios(stages: String*)(run: Run) = Seq("ratio" ->
    ListMap(stages.map(s => s -> rounded(run.ratio(s), 2)): _*))

  private val domain: Mode = {
    val nChrom = 24
    Mode("domain_total", Seq("epicv2"), 1,
      stages = (spark, _) => {
        val chroms = spark.range(nChrom)
          .select(concat(lit("chr"), col("id") + 1).as("chrom"))
        val seqLengths = chroms.withColumn("seq_length", lit(125000000L))
        val gaps = chroms.withColumn("start", explode(array(lit(20000000L),
            lit(60000000L), lit(100000000L))))
          .withColumn("end", col("start") + 2000000L)
        // probes round-robin over the chromosomes (EPICv2: 937,688)
        val ranges = spark.range(937688L).select(
            concat(lit("cg"), col("id")).as("probe_id"),
            concat(lit("chr"), pmod(col("id"), lit(nChrom)) + 1)
              .as("chromosome"),
            islandStart(s"(id div $nChrom)").as("start"))
          .withColumn("end", col("start") + 2)
        val cnv = ranges.select(col("probe_id"),
          (sin(col("start") * 0.001) * 0.15 +
            when(col("chromosome") === "chr3" &&
              col("start").between(40000000L, 50000000L), 0.4)
              .otherwise(0.0)).as("cnv"))
        // the tile table is consumed twice (count and merge) and the
        // merged bins by CBS: cached, as a production run would
        lazy val tiles = graft.cnv.Cnv.gapAwareTiles(seqLengths, gaps).cache()
        lazy val merged = mergeBins(spark, tiles, ranges).cache()
        Seq(
          stage("cnv_bin_merge")(
            Seq("tiles" -> tiles.count(), "merged_bins" -> merged.count())),
          stage("cbs_segmentation")(Seq("segments" ->
            graft.cnv.Cnv.segment(spark,
              graft.cnv.Cnv.binMedians(cnv, ranges, merged),
              shuffles = 10000, pThreshold = 1e-4).count())),
          stage("dmr_stouffer")(Seq("dmr_segments" ->
            spark.range(2000000L).select(
                (col("id") / 4).cast("long").as("segment_id"),
                ((pmod(col("id") * 2654435761L, lit(999999L)) + 1) /
                  1000000.0).as("p_value"))
              .groupBy("segment_id").agg(graft.dm.Dm.stoufferAgg("p_value")
                .as("p_comb"), count(lit(1)).as("n")).count())))
      },
      fields = run => Seq("unit" -> "sec",
        "value" -> rounded(run.best("epicv2").map(_._2.wall).sum, 3)))
  }

  /** Two 10× EPICv2 censuses (9,376,880 probes): `uniform` round-robins
    * over 24 chromosomes (≈ 4.2% each); `skew` weighs chromosome c by
    * (25 − c)/300, so chr1 holds 8% (~1.9× uniform's largest). Two rounds
    * in ABBA order, best per stage: wall times improve monotonically
    * within a session (page cache, JIT tiering), so a fixed order hands
    * the later shape the faster wall. */
  private val domainSkew: Mode = {
    val total = 9376880L
    Mode("domain_skew", Seq("uniform", "skew"), 2,
      stages = (spark, shape) => {
        val counts = (1 to 24).map(c => c ->
          (if (shape == "skew") total * (25 - c) / 300 else total / 24))
        val ranges = counts.map { case (c, n) =>
          spark.range(n).select(
              concat(lit(s"cg${c}_"), col("id")).as("probe_id"),
              lit(s"chr$c").as("chromosome"), islandStart("id").as("start"))
            .withColumn("end", col("start") + 2)
        }.reduce(_ unionAll _)
        // chromosome length follows its probe count, so density per
        // tile is scale-invariant
        import spark.implicits._
        val seqLengths = counts.map { case (c, n) =>
          (s"chr$c", ((n + 59) / 60) * 150000L + 150000L)
        }.toDF("chrom", "seq_length")
        val gaps = seqLengths.select(col("chrom"),
            explode(array(lit(0.25), lit(0.5), lit(0.75))).as("f"),
            col("seq_length"))
          .select(col("chrom"),
            (expr("CAST(f * seq_length AS BIGINT) div 50000") * 50000L)
              .as("start"))
          .withColumn("end", col("start") + 2000000L)
        // DMR windows: 2 samples, 1 contrast, fixed distance cutoff (the
        // percentile pass is skew-insensitive)
        val betas = ranges.select(col("probe_id"),
            explode(array(lit("s1"), lit("s2"))).as("sample_label"))
          .withColumn("beta", (pmod(xxhash64(col("probe_id"),
            col("sample_label")), lit(1000L)) / 1000.0).cast("double"))
        val dmp = ranges.select(col("probe_id"),
          ((pmod(xxhash64(col("probe_id")), lit(999999L)) + 1) / 1000000.0)
            .as("grp_p_value"),
          (pmod(xxhash64(col("probe_id"), lit(7)), lit(200L)) / 100.0 - 1.0)
            .as("grp_estimate"))
        Seq(
          stage("bin_merge")(Seq("bins" -> mergeBins(spark,
            graft.cnv.Cnv.gapAwareTiles(seqLengths, gaps), ranges).count())),
          stage("dmr_windows")(Seq("segments" ->
            graft.dm.Dm.computeDmr(betas, dmp, ranges, Seq("grp"),
              distCutoff = Some(0.3)).count())))
      },
      fields = run => Seq("unit" -> "sec", "probes" -> total,
        "chr1_share_skew" -> 0.08) ++ ratios("bin_merge", "dmr_windows")(run))
  }

  // ---------------------------------------------------------------- dedup

  private def words(seed: Int, n: Int) = concat_ws(" ", (0 until n).map(j =>
    concat(lit("w"), pmod(xxhash64(col("_pk"), lit(seed), lit(j)),
      lit(40000L)))): _*)

  /** Two 500k-doc corpora, identical but for boilerplate: every `uniform`
    * document is two hash-derived lines; in `skew` 30% share ONE first
    * line. Both plant 5,000 duplicate pairs (doc_id % 100 in {98, 99}
    * copy their even partner), disjoint from the hot-line region. One
    * untimed uniform pass warms every stage shape.
    *
    *   - exact: fingerprint groupBy, the skew-immune baseline;
    *   - jaccard: jaccardDedup's autocap route, whose derived
    *     document-frequency cap must drop the boilerplate shingles
    *     instead of expanding (150k choose 2) pairs;
    *   - line_dedup: dedupLines collapses the hot line map-side;
    *   - containment: containmentPairs shares jaccardPairs' co-occurrence
    *     shuffle, so the derived p99.9 dfCap (charged to the stage, as in
    *     production) is what stands between the hot shingles and ~10^10
    *     pairs;
    *   - repeated_spans: the (h, id)-distinct census spreads a
    *     150k-document shingle across reducers map-side. */
  private val dedupSkew: Mode = {
    import graft.operators.Dedup
    val nDocs = 500000L
    Mode("dedup_skew", Seq("uniform", "skew"), 1,
      stages = (spark, shape) => {
        val line1 = if (shape == "uniform") words(1, 6)
          else when(col("doc_id") % 10 < 3, lit("the quick brown fox jumps " +
            "over the lazy dog boilerplate")).otherwise(words(1, 6))
        val docs = spark.range(nDocs).select(col("id").as("doc_id"))
          .withColumn("_pk",
            when(col("doc_id") % 100 >= 98,
              (col("doc_id").divide(2)).cast("long") * 2)
              .otherwise(col("doc_id")))
          .select(col("doc_id"),
            concat_ws("\n", line1, words(2, 6)).as("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.count()
        Seq(
          stage("exact")(Seq("dup_groups" ->
            docs.groupBy(graft.functions.Expressions.polyHash64(col("text"))
                .as("fp"))
              .agg(count(lit(1)).as("n")).filter(col("n") >= 2).count())),
          stage("jaccard") {
            val pairs = Dedup.jaccardDedup(docs, "doc_id", "text",
              k = 3, threshold = 0.4)
            try Seq("pairs" -> pairs.count()) finally pairs.unpersist()
          },
          stage("line_dedup")(Seq("docs_with_dropped" ->
            Dedup.dedupLines(docs, "doc_id", "text")
              .filter(col("n_dropped") > 0).count())),
          stage("containment") {
            val cap = Dedup.derivedDfCap(docs, "text", k = 3)
            Seq("df_cap" -> cap.toLong, "containment_pairs" ->
              Dedup.containmentPairs(docs, "doc_id", "text",
                k = 3, threshold = 0.5, dfCap = Some(cap)).count())
          },
          // k=4 keeps three shingles of the 6-word hot line inside it
          // (hot h keys), while the planted full-text dups repeat all
          stage("repeated_spans")(Seq("spans" ->
            Dedup.repeatedSpans(docs, "doc_id", "text", k = 4).count())))
      },
      fields = run => Seq("unit" -> "sec", "docs" -> nDocs,
        "hot_share" -> 0.3) ++ ratios("exact", "jaccard", "line_dedup",
          "containment", "repeated_spans")(run),
      warmShape = Some("uniform"))
  }
}
