package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seed-perturbed copies of the driver's fixture tables, for
  * falsifying fixture overfit (round-15 task: every planted constant in
  * the 178-query registry — mutation cadences, `% 97` null cadences,
  * thresholds, density curves — had only ever been exercised against
  * the ONE seed-42 `/root/testdata` generation).
  *
  * The perturbation is deterministic in `(seed, primary key)` via
  * `xxhash64`, schema- and type-identical to the originals, and
  * FK-consistent (every key family shifts by one per-family offset on
  * all sides of its joins), so `graft.Verify` + `tools/check_oracle.py`
  * run over the output dir exactly as over `/root/testdata/sf0.01`:
  * Spark and DuckDB both read the SAME perturbed files, the oracle
  * recomputes ground truth from them, and the compare stays exact.
  * Any red row on a perturbed dir is therefore a genuine
  * data-dependence bug (order/tie/cadence/boundary overfit), not noise.
  *
  * What moves, per table:
  *   - all long keys shift by a per-family, seed-proportional offset
  *     (≈1e7·seed — far below the `1L << 41` planted-id namespace, so
  *     synthetic fixture rows can never collide with shifted base ids);
  *     key-cadence alignments (`doc_id % 97`-class plants) all change;
  *   - measures get hash-keyed jitter (quantities, prices, balances,
  *     event values) with domain clamps (discount stays in [0, 0.1]);
  *   - timestamps jitter ±14 days (shipdate/orderdate) and ±30 min
  *     (events.ts — moves session boundaries, as-of matches, embargo
  *     windows, watermark lateness);
  *   - documents.text goes through a seed-keyed affine substitution
  *     cipher (same family as `ScaleBench.generate`'s replica transform —
  *     length-preserving, shingle-set-scrambling) and ~1/13 docs gain
  *     a rare appended token (shingle-count tails move, so prefix /
  *     length-filter boundaries land on different pairs); `n_chars` is
  *     recomputed to stay consistent with the transformed text;
  *   - embeddings get ±0.02 per-component jitter (cosine neighborhoods
  *     and LSH bucket boundaries move);
  *   - row order is scrambled by hash so any order-dependence surfaces;
  *   - region/nation (tiny int32-keyed dims) pass through unchanged.
  *
  * ALL timestamp columns (`events.ts`, `l_shipdate`, `o_orderdate`)
  * are written back as TIMESTAMP_NTZ — the same µs-without-timezone
  * parquet flavor the driver generates (LTZ output would surface as
  * TIMESTAMPTZ in DuckDB and dtype-fail every date-bearing oracle as
  * an artifact of the copy, not a finding). With the session zone
  * pinned to UTC the LTZ→NTZ cast preserves wall-clock exactly, and
  * `Q.eventTs` exercises the same NTZ branch it does in production.
  */
object SeedPerturb {

  /** Affine substitution alphabet: `i → (a·i + b) mod 26` with
    * gcd(a, 26) = 1 (bijective). Seed-keyed; seed 0 is NOT identity
    * (b = 1 shifts every letter). */
  private val Alpha = "abcdefghijklmnopqrstuvwxyz"
  private val Coprimes = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
  private def perm(seed: Int): String = {
    val a = Coprimes((seed / 26) % Coprimes.length)
    val b = (seed % 26 + 26) % 26 match { case 0 => 1; case x => x }
    (0 until 26).map(i => Alpha((a * i + b) % 26)).mkString
  }

  /** Deterministic jitter in [0, m): `xxhash64(pk, seed) mod m`. */
  private def j(pk: Column, seed: Int, m: Int): Column =
    pmod(xxhash64(pk, lit(seed)), lit(m.toLong))

  /** Scramble row order deterministically and write. */
  private def write(df: DataFrame, outDir: String, name: String,
      orderKey: Column): Unit =
    df.repartition(4, orderKey)
      .sortWithinPartitions(orderKey)
      .write.mode("overwrite").parquet(s"$outDir/$name.parquet")

  // Per-family key offsets (≈1e7·seed): distinct multipliers so no two
  // families shift in lockstep; all ≪ 2^41 (the planted-id namespace).
  private def offOrder(seed: Int) = 10000019L * seed
  private def offPart(seed: Int) = 7000003L * seed
  private def offSupp(seed: Int) = 3000017L * seed
  private def offCust(seed: Int) = 5000011L * seed
  private def offDoc(seed: Int) = 9000011L * seed
  private def offVec(seed: Int) = 4000037L * seed
  private def offEvent(seed: Int) = 8000009L * seed
  private def offUser(seed: Int) = 6000007L * seed

  /** Generate all 10 perturbed tables into `outDir`; marker-gated
    * idempotent per (seed). */
  def generate(spark: SparkSession, baseDir: String, outDir: String,
      seed: Int): Unit = {
    require(seed >= 1 && seed <= 1000, s"seed ($seed) must be in [1, 1000]")
    val marker =
      java.nio.file.Paths.get(outDir, s"_GRAFT_SEEDPERTURB_$seed")
    if (java.nio.file.Files.exists(marker)) return
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir))
    def base(name: String) = Q.t(spark, baseDir, name)

    // --- pass-through dims ---------------------------------------------
    write(base("region"), outDir, "region", col("r_regionkey"))
    write(base("nation"), outDir, "nation", col("n_nationkey"))

    // --- customer ------------------------------------------------------
    val cust = base("customer")
      .withColumn("c_acctbal", round(col("c_acctbal") +
        (j(col("c_custkey"), seed, 2001) - 1000).cast("double") / 100.0, 2))
      .withColumn("c_custkey", col("c_custkey") + lit(offCust(seed)))
    write(cust, outDir, "customer", xxhash64(col("c_custkey"), lit(seed)))

    // --- supplier ------------------------------------------------------
    val supp = base("supplier")
      .withColumn("s_acctbal", round(col("s_acctbal") +
        (j(col("s_suppkey"), seed, 2001) - 1000).cast("double") / 100.0, 2))
      .withColumn("s_suppkey", col("s_suppkey") + lit(offSupp(seed)))
    write(supp, outDir, "supplier", xxhash64(col("s_suppkey"), lit(seed)))

    // --- part ----------------------------------------------------------
    val part = base("part")
      .withColumn("p_size", greatest(lit(1),
        (col("p_size") + (j(col("p_partkey"), seed, 7) - 3)).cast("int")))
      .withColumn("p_retailprice", round(col("p_retailprice") *
        (lit(1.0) +
          (j(col("p_partkey"), seed + 1, 41) - 20).cast("double") / 1000.0),
        2))
      .withColumn("p_partkey", col("p_partkey") + lit(offPart(seed)))
    write(part, outDir, "part", xxhash64(col("p_partkey"), lit(seed)))

    // --- orders --------------------------------------------------------
    val orders = base("orders")
      .withColumn("o_totalprice", round(col("o_totalprice") *
        (lit(1.0) +
          (j(col("o_orderkey"), seed, 41) - 20).cast("double") / 1000.0), 2))
      .withColumn("o_orderdate", expr(
        s"o_orderdate + make_dt_interval(CAST(pmod(xxhash64(o_orderkey, " +
          s"${seed + 2}), 29L) - 14 AS INT), 0, 0, 0)")
        .cast("timestamp_ntz"))
      .withColumn("o_custkey", col("o_custkey") + lit(offCust(seed)))
      .withColumn("o_orderkey", col("o_orderkey") + lit(offOrder(seed)))
    write(orders, outDir, "orders", xxhash64(col("o_orderkey"), lit(seed)))

    // --- lineitem ------------------------------------------------------
    // jitter keys on (orderkey, linenumber) — the table's natural pk
    val lpk = xxhash64(col("l_orderkey"), col("l_linenumber"), lit(seed))
    val li = base("lineitem")
      .withColumn("l_quantity", greatest(lit(1.0),
        col("l_quantity") + (pmod(lpk, lit(7L)) - 3).cast("double")))
      .withColumn("l_extendedprice", round(col("l_extendedprice") *
        (lit(1.0) + (pmod(xxhash64(col("l_orderkey"),
          col("l_linenumber"), lit(seed + 1)), lit(41L)) - 20)
          .cast("double") / 1000.0), 2))
      .withColumn("l_discount",
        least(lit(0.10), greatest(lit(0.0), round(col("l_discount") +
          (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
            lit(seed + 2)), lit(5L)) - 2).cast("double") / 100.0, 2))))
      .withColumn("l_tax",
        least(lit(0.08), greatest(lit(0.0), round(col("l_tax") +
          (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
            lit(seed + 3)), lit(5L)) - 2).cast("double") / 100.0, 2))))
      .withColumn("l_shipdate", expr(
        s"l_shipdate + make_dt_interval(CAST(pmod(xxhash64(l_orderkey, " +
          s"l_linenumber, ${seed + 4}), 29L) - 14 AS INT), 0, 0, 0)")
        .cast("timestamp_ntz"))
      .withColumn("l_orderkey", col("l_orderkey") + lit(offOrder(seed)))
      .withColumn("l_partkey", col("l_partkey") + lit(offPart(seed)))
      .withColumn("l_suppkey", col("l_suppkey") + lit(offSupp(seed)))
    write(li, outDir, "lineitem",
      xxhash64(col("l_orderkey"), col("l_linenumber"), lit(seed)))

    // --- events --------------------------------------------------------
    // ts jitter ±30 min moves sessions/as-of/embargo/watermark windows;
    // written back as NTZ — the driver fixture's parquet flavor.
    val ev = base("events")
      .withColumn("ts", expr(
        s"ts + make_dt_interval(0, 0, 0, CAST(pmod(xxhash64(event_id, " +
          s"$seed), 3601L) - 1800 AS DOUBLE))"))
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .withColumn("value", round(col("value") +
        (j(col("event_id"), seed + 1, 2001) - 1000).cast("double") / 1000.0,
        3))
      .withColumn("user_id", col("user_id") + lit(offUser(seed)))
      .withColumn("event_id", col("event_id") + lit(offEvent(seed)))
    write(ev, outDir, "events", xxhash64(col("event_id"), lit(seed)))

    // --- documents -----------------------------------------------------
    val p = perm(seed)
    val docs = base("documents")
      .withColumn("text", translate(col("text"),
        Alpha + Alpha.toUpperCase, p + p.toUpperCase))
      .withColumn("text",
        when(j(col("doc_id"), seed + 1, 13) === 0,
          concat(col("text"), lit(" zq"),
            j(col("doc_id"), seed + 2, 97).cast("string")))
          .otherwise(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("doc_id", col("doc_id") + lit(offDoc(seed)))
    write(docs, outDir, "documents", xxhash64(col("doc_id"), lit(seed)))

    // --- embeddings ----------------------------------------------------
    // ±0.02 per-component jitter, float-typed like the original
    val emb = base("embeddings")
      .withColumn("embedding", expr(
        s"""transform(embedding, (x, i) ->
           |  CAST(x + (CAST(pmod(xxhash64(vec_id, i, $seed), 2001L)
           |    AS DOUBLE) - 1000.0) / 50000.0 AS FLOAT))"""
          .stripMargin))
      .withColumn("vec_id", col("vec_id") + lit(offVec(seed)))
    write(emb, outDir, "embeddings", xxhash64(col("vec_id"), lit(seed)))

    java.nio.file.Files.createFile(marker)
  }

  /** `runMain graft.SeedPerturb <baseDir> <outDir> <seed>` */
  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val seed = if (args.length > 2) args(2).toInt else 1
    val outDir =
      if (args.length > 1) args(1) else s"target/seedperturb/sf0.01_s$seed"
    val spark = Session.local(Session.cpus)
    generate(spark, baseDir, outDir, seed)
    println(s"""{"seedperturb":{"base":"$baseDir","out":"$outDir","seed":$seed}}""")
    spark.stop()
  }
}
