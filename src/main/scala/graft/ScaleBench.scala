package graft

import graft.obs.Trace
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured-scaling rung: every plan in this repo is AUDITED for
  * 100×-scale shape (PlanSpec's mechanical join sweep, the scaladoc
  * shuffle contracts), but until this main nothing had been EXECUTED
  * above sf0.1. ScaleBench converts plan-reading into measurement: it
  * generates a DETERMINISTIC 10× replica of the tables the heaviest
  * registered queries read, runs those queries at 1× and 10× volume on
  * the same session, and reports the per-query time exponent
  * `e = log(t_10x / t_1x) / log(10)` — e ≈ 1 is linear scaling, e
  * noticeably above ~1.3 names a scale-killer (quadratic pair blowup,
  * single-task serialization, driver round-trip growing with data).
  *
  * Generation (into `target/scale-synth/`, never committed): copy k of
  * a base row shifts every join/grouping key by k·10^m (powers of ten
  * keep the mod-2/5/10 classes the domain queries derive semantics
  * from — e.g. q59's all-zero sample at `l_suppkey % 10 == 7` — while
  * mod-3/23-class membership cycles per copy, so derived distributions
  * stay balanced), and `documents.text` goes through a copy-unique
  * affine alphabet permutation so copies are NOT near-duplicates of
  * each other: without that, the
  * MinHash/Jaccard queries would see every doc as a 10-clique and the
  * candidate-pair count would scale ×45 instead of ×10 — a synthetic
  * worst case, not a volume measurement. Copy 0 is the identity, so
  * x1 and x10 share layout, writer, compression, and partition count
  * (both repartitioned to [[Partitions]] so the 1× run is not
  * under-parallelized relative to the 10× run — at these sizes a
  * default-split scan would give x1 a single task and corrupt the
  * exponent with a parallelism artifact instead of per-row work).
  *
  * No RNG anywhere: re-running regenerates bit-identical inputs, and a
  * marker file skips regeneration when the copies count matches.
  *
  * Output: one JSON line per query `{query, t1, tN, exponent,
  * shuffle_mb1, shuffle_mbN, shuffle_exponent}` as it completes, then a
  * final summary line (max/median exponent, offender list above the
  * 1.3 gate on EITHER exponent) — also persisted to
  * `target/scalebench.json`. The shuffle-bytes exponent is the
  * noise-free twin of the wall exponent: host oscillation moves wall
  * time ±50%, but the bytes a deterministic plan moves per input
  * volume are exact — a super-linear shuffle exponent is a plan
  * verdict, not weather.
  */
object ScaleBench {

  /** The 10 heaviest registered queries by the committed bench
    * reference (tools/bench_ref.json, r11 reseed). They read exactly
    * {lineitem, part, supplier, documents} — the four tables
    * [[generate]] scales. */
  private val Heavy = Seq(
    "q81_dmp_mixedlm_endtoend",
    "q59_poobah_slice",
    "q63_noob_endtoend",
    "q71_dmr_endtoend",
    "q67_dmp_ols_endtoend",
    "q84_signal_build_endtoend",
    "q62_components_canonicalize",
    "q148_leakage_safe_split",
    "q82_masks_endtoend",
    "q124_dedup_eval")

  private val Partitions = 32

  // key offsets per copy — powers of ten above every base key domain
  // (sf0.1: l_orderkey ≤ 6·10^5, partkey ≤ 2·10^4, suppkey ≤ 10^3,
  // doc_id ≤ 10^4), far below Long overflow at 10 copies
  private val OffOrder = 10000000000L // 10^10
  private val OffPart = 100000000L // 10^8
  private val OffSupp = 10000000L // 10^7
  private val OffDoc = 100000000L // 10^8

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
  private def perm(k: Int): String = {
    val a = Coprimes((k / 26) % Coprimes.length)
    val b = k % 26
    (0 until 26).map(i => Alpha((a * i + b) % 26)).mkString
  }

  /** One table, `copies` deterministic shifted copies unioned. */
  private def replicate(df: DataFrame, copies: Int)(
      f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(k => f(df, k)).reduce(_ unionByName _)

  private def shiftKey(df: DataFrame, colName: String,
      off: Long, k: Int): DataFrame =
    df.withColumn(colName, col(colName) + lit(off * k))

  /** Write the scaled four-table dir; marker-gated idempotent. */
  def generate(spark: SparkSession, baseDir: String, outDir: String,
      copies: Int): Unit = {
    // 312 = the affine-permutation family size; more copies would reuse
    // a text transform and quietly plant near-dup cliques
    require(copies >= 1 && copies <= 312,
      s"copies ($copies) must be in [1, 312]")
    val marker = java.nio.file.Paths.get(outDir, s"_GRAFT_SCALE_$copies")
    if (java.nio.file.Files.exists(marker)) return
    def base(name: String) = Q.t(spark, baseDir, name)
    def write(df: DataFrame, name: String): Unit =
      df.repartition(Partitions)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    write(replicate(base("lineitem"), copies) { (df, k) =>
      shiftKey(shiftKey(shiftKey(df, "l_orderkey", OffOrder, k),
        "l_partkey", OffPart, k), "l_suppkey", OffSupp, k)
    }, "lineitem")
    write(replicate(base("part"), copies) { (df, k) =>
      shiftKey(df, "p_partkey", OffPart, k)
    }, "part")
    write(replicate(base("supplier"), copies) { (df, k) =>
      shiftKey(df, "s_suppkey", OffSupp, k)
    }, "supplier")
    write(replicate(base("documents"), copies) { (df, k) =>
      shiftKey(df, "doc_id", OffDoc, k)
        .withColumn("text", translate(col("text"),
          Alpha + Alpha.toUpperCase, perm(k) + perm(k).toUpperCase))
    }, "documents")
    java.nio.file.Files.createFile(marker)
  }

  /** Wall seconds and shuffle-write bytes of one run. Wall time
    * oscillates with the host, but the bytes a plan MOVES per input
    * volume are exact and deterministic — the second, noise-free
    * exponent the artifact carries. */
  private def timeOne(spark: SparkSession, name: String, dir: String,
      trace: Trace, tag: String): (Double, Long) = {
    val t0 = System.nanoTime()
    trace.run(tag)(SparkEntry.queries(name)(spark, dir).count())
    val sec = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    System.gc() // reap localCheckpoint blocks outside timed windows
    (sec, trace.drain(tag).shuffleWriteBytes)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE",
      "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val outRoot = "target/scale-synth"
    val spark = Session.local(Session.cpus)
    val x1 = s"$outRoot/x1"
    val xN = s"$outRoot/x$copies"
    val filter = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = Heavy.filter(q => filter.forall(_.contains(q)))
    // fail BEFORE the expensive generate step, not at the median index
    require(queries.nonEmpty,
      s"SPARK_GRAFT_SCALE_ONLY (${filter.fold("")(_.mkString(","))}) " +
        "matched no registered heavy query")
    generate(spark, baseDir, x1, 1)
    generate(spark, baseDir, xN, copies)
    val trace = Trace.attach(spark)
    val results = queries.map { name =>
      // untimed warmup: codegen/JIT once per query shape
      try SparkEntry.queries(name)(spark, warmDir).count()
      catch { case _: Throwable => () }
      spark.catalog.clearCache(); System.gc()
      // interleave x1/xN reps so a host slow window hits both sides
      val pairs = (1 to reps).map { r =>
        (timeOne(spark, name, x1, trace, s"scale-$name-x1-$r"),
          timeOne(spark, name, xN, trace, s"scale-$name-x$copies-$r"))
      }
      val t1 = pairs.map(_._1._1).min
      val tN = pairs.map(_._2._1).min
      // bytes: max over reps (a drain that times out can UNDERcount a
      // run; it never overcounts a deterministic plan)
      val b1 = pairs.map(_._1._2).max
      val bN = pairs.map(_._2._2).max
      val e = math.log(tN / t1) / math.log(copies.toDouble)
      // shuffle exponent undefined when a query never shuffles at x1
      val eb = if (b1 > 0 && bN > 0)
        math.log(bN.toDouble / b1) / math.log(copies.toDouble) else 0.0
      println(f"""{"query":"$name","t1":$t1%.3f,"t$copies":$tN%.3f,"exponent":$e%.3f,"shuffle_mb1":${b1 / 1048576},"shuffle_mb$copies":${bN / 1048576},"shuffle_exponent":$eb%.3f}""")
      (name, t1, tN, e, b1, bN, eb)
    }
    val exps = results.map(_._4).sorted
    val medE = exps(exps.size / 2)
    val offenders =
      results.filter(r => r._4 > 1.3 || r._7 > 1.3).map(_._1)
    val line =
      s"""{"metric":"scale_exponent_max","value":${exps.max},"unit":"exponent","median_exponent":$medE,"max_shuffle_exponent":${results
        .map(_._7).max},"copies":$copies,"reps":$reps,"base":"$baseDir","offenders":${offenders
        .map("\"" + _ + "\"").mkString("[", ",", "]")},"queries":${results
        .map { case (n, t1, tN, e, b1, bN, eb) =>
          "\"" + n + "\":{\"t1\":" + t1 + ",\"tN\":" + tN +
            ",\"exponent\":" + e + ",\"shuffle_b1\":" + b1 +
            ",\"shuffle_bN\":" + bN + ",\"shuffle_exponent\":" + eb + "}"
        }.mkString("{", ",", "}")}}"""
    println(line)
    try {
      // scalebench.json = the last run (what the round driver reads);
      // the factor-suffixed copy keeps the 10x and 100x rungs side by
      // side instead of each run clobbering the other decade's record
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/scalebench.json"), line + "\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"target/scalebench_x$copies.json"),
        line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[scalebench] could not persist: $e")
    }
    spark.stop()
  }
}
