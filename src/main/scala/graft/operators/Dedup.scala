package graft.operators

import graft.functions.Expressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash),
  * n-gram Jaccard, MinHash+LSH banding, and SimHash.
  *
  * Scale design (the reason these shapes survive 100 TB):
  *   - ALL per-document math (shingling, signature computation, simhash
  *     bits) is row-local array arithmetic — zero shuffles until the
  *     candidate-generation step, and the document text itself never
  *     shuffles (only 8-byte hashes and ids do);
  *   - candidate pairs come from an INVERTED INDEX (groupBy key →
  *     collect_list of postings → ordered pair expansion), never from a
  *     self-join: one shuffle of narrow postings rows instead of two
  *     shuffles of the full table + a join, and a bucket of n docs expands
  *     to n(n-1)/2 pairs exactly once;
  *   - shingles/tokens are hashed with `poly_hash64` (a codegen Catalyst
  *     expression, graft.functions.Expressions.polyHash64) whose
  *     recurrence is replayable in other engines — the DuckDB oracles
  *     recompute the identical MinHash/SimHash families, so even the LSH
  *     ops are exact-checked, not rows-only;
  *   - hot keys: a shingle shared by d documents yields d(d-1)/2 pairs —
  *     at corpus scale stop-phrase shingles make that quadratic term
  *     explode, so `dfCap` (document-frequency cap, the standard
  *     production mitigation) drops postings lists longer than the cap
  *     before expansion. Capping changes semantics (documented at each
  *     call site); oracle-checked queries leave it off.
  *
  * Reference behaviors re-expressed: near-dup candidate generation for
  * corpus curation; the reference's own probe-suffix dedup is the exact
  * groupBy family (samples.py:666-697 → core.MergeSamples).
  */
object Dedup {

  /** Distinct word-k-gram shingle HASHES per document as a row-local
    * array column `sh_hs`: the zero-shuffle base for Jaccard/MinHash.
    * Documents shorter than k words get an empty array. One codegen
    * kernel call per row (Expressions.wordShingleHashes) — the
    * split/slice/concat higher-order-function formulation is interpreted
    * per shingle and measured ~10× slower on the documents corpus. */
  def withShingleHashes(df: DataFrame, textCol: String,
      k: Int = 3): DataFrame =
    df.withColumn("sh_hs", Expressions.wordShingleHashes(col(textCol), k))

  /** Exact duplicate groups by full-text hash: (text_hash, n_copies,
    * keep_id = min id). Pure hash-groupBy — the cheapest dedup pass. */
  def exactDupGroups(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Ordered-pair expansion of an inverted-index postings list `ds`
    * (array of structs whose FIRST field is the unique doc id): sort by
    * id, then for every position i pair it with every later posting.
    * Two-level explode keeps per-row arrays bounded by the postings size.
    * Returns one row per (a, b) posting pair with a.id < b.id. */
  private[operators] def expandPairs(inv: DataFrame): DataFrame =
    inv.withColumn("ds", expr("array_sort(ds)"))
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "a")))
      .select(col("a"),
        explode(expr("slice(ds, i + 2, size(ds) - i - 1)")).as("b"))

  /** Pairwise n-gram Jaccard similarity ≥ threshold via the inverted
    * index: |A∩B| from co-occurrence counts, |A|,|B| carried through the
    * postings (no extra size join). `dfCap` drops shingles shared by more
    * than cap docs (approximation for corpus scale; None = exact). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5,
      dfCap: Option[Int] = None): DataFrame =
    pairsFromGrouped(groupedPostings(df, idCol, textCol, k), threshold,
      dfCap)

  /** The shared inverted-index build: one row per shingle hash with its
    * postings list (unfiltered — df-1 shingles included, so a
    * percentile over `size(ds)` equals the full shingle-df
    * distribution). */
  private def groupedPostings(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    withShingleHashes(df, textCol, k)
      .select(col(idCol).as("id"),
        size(col("sh_hs")).cast("long").as("n_sh"),
        explode(col("sh_hs")).as("h"))
      .groupBy("h")
      .agg(collect_list(struct(col("id"), col("n_sh"))).as("ds"))

  private def pairsFromGrouped(grouped: DataFrame, threshold: Double,
      dfCap: Option[Int]): DataFrame = {
    val inv = grouped.filter(size(col("ds")) >= 2)
    val capped = dfCap.map(c => inv.filter(size(col("ds")) <= c))
      .getOrElse(inv)
    expandPairs(capped)
      .select(col("a.id").as("id_a"), col("a.n_sh").as("n_a"),
        col("b.id").as("id_b"), col("b.n_sh").as("n_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("jaccard"))
  }

  /** Asymmetric shingle containment C(a→b) = |A∩B| / |A| — the
    * sub-document-duplication detector Jaccard misses: a short doc
    * pasted verbatim inside a much longer one has containment ≈ 1 from
    * the short side but Jaccard ≈ |A|/|B| (tiny). CCNet/Dolma-style
    * pipelines use this to drop quotes/boilerplate-embedded copies that
    * symmetric dedup keeps.
    *
    * Emits ORDERED pairs (both directions of each co-occurring pair)
    * with containment ≥ threshold. Same single co-occurrence shuffle as
    * [[jaccardPairs]] — the symmetric (id_a < id_b) intersection counts
    * are computed once, then mirrored row-locally; `dfCap` bounds hot
    * shingles identically. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5,
      dfCap: Option[Int] = None): DataFrame = {
    val inv = groupedPostings(df, idCol, textCol, k)
      .filter(size(col("ds")) >= 2)
    val capped = dfCap.map(c => inv.filter(size(col("ds")) <= c))
      .getOrElse(inv)
    val sym = expandPairs(capped)
      .select(col("a.id").as("id_a"), col("a.n_sh").as("n_a"),
        col("b.id").as("id_b"), col("b.n_sh").as("n_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_common"))
    sym.select(col("id_a"), col("id_b"), col("n_a"), col("n_common"))
      .unionByName(sym.select(col("id_b").as("id_a"),
        col("id_a").as("id_b"), col("n_b").as("n_a"), col("n_common")))
      .withColumn("containment",
        col("n_common").cast("double") / col("n_a"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"),
        col("containment"))
  }

  /** Prefix-filtered exact Jaccard pairs (AllPairs / PPJoin prefix
    * filtering, Bayardo et al. WWW'07): identical output to
    * [[jaccardPairs]], different candidate generation. Any pair with
    * J ≥ t must share a shingle within each document's PREFIX — its
    * |d| − ⌈t·|d|⌉ + 1 globally-rarest shingles — so only prefixes are
    * indexed. On corpora with hot shingles (stopword 3-grams shared by
    * half the corpus) this removes the Σ df² pair blow-up: hot shingles
    * are frequent, therefore LAST in the rarity order, therefore almost
    * never in a prefix. Candidates are verified with one
    * sorted-merge-intersection kernel call over the docs' full sorted
    * shingle arrays — no per-shingle co-occurrence shuffle at all.
    *
    * Scale: shuffles are (a) the global shingle-frequency count,
    * (b) narrow prefix postings, (c) the PPJoin length filter over the
    * 16 B/doc size table, (d) the candidate verify join carrying one
    * sorted long array per doc. The exact inverted-index variant
    * shuffles one row per co-occurring PAIR per shingle — quadratic in
    * hot-shingle document frequency.
    *
    * Measured at the `ScaleBench scale` rungs (q124 surface; refreshed r14 at
    * HEAD after the FP-exactness fixes): candidate pairs are exactly
    * linear in corpus volume (598k / 5.99M / 59.9M at x1/x10/x100)
    * with the max prefix bucket flat at 12. The shuffle BYTES show one
    * step inside the x10→x100 decade (14 → 143 → 10,861 MB; r13
    * measured 13 → 138 → 10,325): below ~50 MB of doc arrays the
    * verify join broadcasts
    * (array bytes never hit the shuffle meter), above it Spark
    * correctly switches to a shuffle join and the pairs×arrays term
    * (~170 compressed B/pair) appears. That is a one-time plan
    * transition, not a super-linear term — past it, bytes grow
    * linearly with pairs.
    *
    * Isolated post-length-filter x100 re-run (r14, exact-division
    * prune + epsilon-corrected prefix ceil): 10,826 MB verify bytes,
    * wall exponent 0.80 — within host noise of the r13 figure, because
    * the synthetic documents corpus has near-uniform shingle counts so
    * the min/max ≥ t prune rarely fires there. Its traffic benefit is
    * on length-skewed corpora (the common web-crawl shape), where the
    * planted DedupSpec case shows the prefix index emitting dozens of
    * short×long candidates that the filter kills before their arrays
    * ship. */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val shingled = withShingleHashes(df, textCol, k)
      .select(col(idCol).as("id"), col("sh_hs"))
      .filter(size(col("sh_hs")) > 0)
    val lengthFiltered = prefixLengthFiltered(shingled, threshold)
    // verify: one kernel merge-scan over the full sorted shingle sets
    val docs = shingled
      .select(col("id"), array_sort(col("sh_hs")).as("shs"))
    lengthFiltered
      .join(docs.select(col("id").as("id_a"), col("shs").as("shs_a")),
        Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("shs").as("shs_b")),
        Seq("id_b"))
      .withColumn("n_common", graft.functions.Expressions
        .sortedIntersectCount(col("shs_a"), col("shs_b")))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("jaccard"))
  }

  /** Minimum overlap any FINAL-PREDICATE-emitted pair can have with a
    * doc of `n` shingles — the exact quantity the AllPairs prefix
    * theorem needs, with NO epsilon in the safety argument (the r14
    * `ceil(t·n − 1e-9)` nudge was an absolute epsilon against a
    * relative, ulp-scaled error: provably safe only while n stayed
    * below ~4·10⁶, and nothing enforced that bound — r14 ADVICE).
    *
    * Derivation: the final predicate emits (A,B) iff
    * fl(c/(a+b−c)) ≥ t with c = |A∩B|. For an endpoint of size n,
    * a+b−c ≥ n, so real c/(a+b−c) ≤ c/n, and IEEE rounding is
    * monotone: fl(c/n) ≥ fl(c/(a+b−c)) ≥ t. Every emitted pair
    * therefore has c ≥ o(n) := min{ c ∈ ℤ : fl(c/n) ≥ t }, and a
    * prefix of the n − o(n) + 1 rarest shingles catches it by
    * pigeonhole. o(n) is DEFINED in terms of fl, so evaluating its
    * defining predicate in doubles is exact by construction.
    *
    * Computation: the double-arithmetic seed guess ceil(t·n − 1e-9)
    * sits within ±2 of o(n) for any n < 2⁵⁰ (combined rounding error
    * ≤ ~n·2⁻⁵² + 1e-9 ≪ 1, and o(n) is within 1 of the real ⌈t·n⌉),
    * so a 5-wide monotone window scan of fl(k/n) ≥ t — the same
    * division shape as the final predicate — lands on o(n) exactly;
    * the guess's arithmetic shape no longer affects correctness, it
    * only centers the window. Clamped to [1, n] (c = 0 never reaches
    * t > 0; c = n always passes t ≤ 1). Branch-free `when` chain,
    * whole-stage-codegen friendly, no UDF.
    *
    * The (t: Column) overload exists so PropertySpec can evaluate the
    * production expression over a DataFrame of random (t, n) cases in
    * one job; production always passes the literal. */
  private[graft] def minOverlapExpr(t: Column, n: Column): Column = {
    val nD = n.cast("double")
    val guess = ceil(t * nD - lit(1e-9)).cast("long")
    val failsBelow = (0 until 5).map { j =>
      when((guess - 2 + j).cast("double") / nD >= t, lit(0L))
        .otherwise(lit(1L))
    }.reduce(_ + _)
    least(greatest(guess - 2 + failsBelow, lit(1L)), n.cast("long"))
  }

  private[graft] def minOverlapExpr(threshold: Double, n: Column): Column =
    minOverlapExpr(lit(threshold), n)

  /** AllPairs prefix-index candidate pairs over a `(id, sh_hs)` frame —
    * the candidate set BEFORE the PPJoin length filter. Exposed
    * `private[graft]` so specs can measure how many candidates each
    * filter stage prunes without running the verify join.
    *
    * FP exactness: prefix length is n − [[minOverlapExpr]] + 1 — the
    * window-scanned exact minimum overlap, not a nudged ⌈t·n⌉ (see
    * [[minOverlapExpr]] for why the epsilon form was retired). */
  private[graft] def prefixCandidates(shingled: DataFrame,
      threshold: Double): DataFrame = {
    val postings = shingled.select(col("id"), explode(col("sh_hs")).as("h"))
    val freq = postings.groupBy("h").agg(count(lit(1)).as("df"))
    // per doc: shingles ordered by (global df, h); prefix of the
    // |d| − o(|d|) + 1 rarest ones (o = exact FP minimum overlap)
    val ordered = postings.join(freq, "h")
      .groupBy("id")
      .agg(expr("transform(array_sort(collect_list(struct(df, h))), " +
        "x -> x.h)").as("by_rarity"),
        count(lit(1)).cast("long").as("n_sh"))
      .withColumn("prefix", slice(col("by_rarity"), lit(1),
        (size(col("by_rarity")).cast("long") -
          minOverlapExpr(threshold, size(col("by_rarity"))) + 1)
          .cast("int")))
    val inv = ordered
      .select(col("id"), col("n_sh"), explode(col("prefix")).as("h"))
      .groupBy("h")
      .agg(collect_list(struct(col("id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    expandPairs(inv)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** PPJoin length filter over [[prefixCandidates]], BEFORE the
    * expensive array join: c ≤ min(|A|,|B|) gives J ≤ min/max, so
    * J ≥ t requires min/max ≥ t — pairs of very different sizes are
    * pruned against the (id, n) table (16 B/doc; AQE broadcasts it
    * while it fits and the fallback shuffle join moves ≤ 16 B/pair)
    * instead of shipping their full shingle arrays into the verify
    * exchange. Returns (id_a, id_b, n_a, n_b).
    *
    * FP exactness: the prune MUST use the same arithmetic shape as the
    * final test — a division. `n_a >= t * n_b` drops boundary pairs
    * (t = 0.7, nested 7/10 pair: fl(0.7·10) = 7.000000000000001 > 7)
    * that the exact predicate emits. With divisions, real
    * c/(a+b−c) ≤ min/max plus the monotonicity of FP rounding gives
    * fl(min/max) ≥ fl(c/(a+b−c)): every pair the final FP test emits
    * passes this FP test. The predicate lives in
    * [[lengthPrunePasses]] so PropertySpec exercises the exact
    * production shape over random (t, n_a, n_b). */
  private[graft] def lengthPrunePasses(t: Column, nA: Column,
      nB: Column): Column =
    nA.cast("double") / nB >= t && nB.cast("double") / nA >= t

  private[graft] def prefixLengthFiltered(shingled: DataFrame,
      threshold: Double): DataFrame = {
    val cands = prefixCandidates(shingled, threshold)
    val sizes = shingled.select(col("id"),
      size(col("sh_hs")).cast("long").as("n"))
    cands
      .join(sizes.withColumnsRenamed(
        Map("id" -> "id_a", "n" -> "n_a")), Seq("id_a"))
      .join(sizes.withColumnsRenamed(
        Map("id" -> "id_b", "n" -> "n_b")), Seq("id_b"))
      .filter(lengthPrunePasses(lit(threshold), col("n_a"), col("n_b")))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
  }

  /** Which candidate-generation strategy [[jaccardDedup]] picks:
    * "prefix" (AllPairs/PPJoin), "inverted-capped" (caller-supplied
    * cap), "inverted-autocap" (cap derived from the corpus df
    * distribution — the safe default), or "inverted-uncapped" (explicit
    * `exact = true` opt-in). Exposed for tests and plan audits. */
  private[graft] def jaccardRoute(threshold: Double,
      dfCap: Option[Int], exact: Boolean = false): String =
    if (threshold >= PrefixRouteThreshold) "prefix"
    else if (dfCap.isDefined) "inverted-capped"
    else if (exact) "inverted-uncapped"
    else "inverted-autocap"

  /** Quantile of the shingle document-frequency distribution used by the
    * auto-derived `dfCap`: p99.9 keeps 999/1000 shingles (all the
    * discriminative ones) and drops only the hot head — stopword
    * shingles shared by large fractions of the corpus, exactly the ones
    * whose pair expansion is quadratic. */
  val AutoCapQuantile = 0.999

  /** Derive a dfCap from the corpus: the p99.9 shingle document
    * frequency (min 2 — a cap below 2 would drop every co-occurrence;
    * also the value for an empty or all-short-document corpus, where
    * the percentile is NULL and no pairs exist anyway). One count
    * shuffle over the postings (same shape as the index build itself)
    * + a scalar percentile to the driver. */
  def derivedDfCap(df: DataFrame, textCol: String, k: Int = 3,
      quantile: Double = AutoCapQuantile): Int = {
    val dfs = withShingleHashes(df, textCol, k)
      .select(explode(col("sh_hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
    val row = dfs.agg(percentile(col("df"), lit(quantile))).head()
    if (row.isNullAt(0)) 2
    else math.max(2, math.ceil(row.getDouble(0)).toInt)
  }

  /** Below this threshold the prefix filter keeps too little of each
    * document out of the index (prefix length |d|·(1−t)+1 approaches
    * |d|) and loses its advantage; above it, prefix filtering removes
    * the hot-shingle df² blow-up entirely. */
  val PrefixRouteThreshold = 0.5

  /** THE Jaccard near-dup front door — threshold-routed between the two
    * exact candidate-generation strategies (identical output, different
    * scale behavior):
    *
    *   - `threshold ≥ 0.5` → [[jaccardPairsPrefix]]: prefix filtering
    *     indexes only each document's rarest shingles, so hot stopword
    *     shingles never expand into pairs. The plan that survives 100 TB
    *     at dedup-grade thresholds. `dfCap` is ignored (not needed —
    *     candidate counts are bounded by the prefix, not by df²).
    *   - `threshold < 0.5` → [[jaccardPairs]] (inverted index): the
    *     prefix would cover nearly the whole document and buy nothing.
    *     Pair expansion is quadratic in hot-shingle document frequency,
    *     so the default derives a `dfCap` from the corpus itself
    *     ([[derivedDfCap]]: the p99.9 shingle document frequency) —
    *     the hot head that drives the df² blow-up is dropped, the
    *     discriminative 99.9% of shingles are kept. Pass `dfCap`
    *     explicitly to override, or `exact = true` to opt into the
    *     uncapped exact expansion (warned — acceptable for small
    *     frames and oracle checks only). Capping drops shingles shared
    *     by more than the cap — pairs whose ONLY common shingles are
    *     that hot may be missed (the standard production trade;
    *     document counts are unaffected).
    *
    * EAGER on the auto-cap route (threshold < 0.5 with no explicit
    * `dfCap`): the inverted index is built ONCE, persisted, the cap's
    * percentile and the pair expansion both read the cached postings,
    * and the returned (persisted) frame is materialized before this
    * method returns — same contract as [[graft.prep.Prep.poobah]] /
    * `computeDmr`. Call `.unpersist()` on the result when done. Every
    * other route stays fully lazy.
    */
  def jaccardDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5,
      dfCap: Option[Int] = None, exact: Boolean = false): DataFrame =
    jaccardRoute(threshold, dfCap, exact) match {
      case "prefix" =>
        jaccardPairsPrefix(df, idCol, textCol, k, threshold)
      case "inverted-uncapped" =>
        log.warn(
          s"jaccardDedup(threshold=$threshold, exact=true): uncapped " +
            "inverted-index expansion is quadratic in hot-shingle " +
            "document frequency; corpus-scale runs should rely on the " +
            "derived dfCap default or pass dfCap explicitly")
        jaccardPairs(df, idCol, textCol, k, threshold, None)
      case "inverted-autocap" =>
        val grouped = groupedPostings(df, idCol, textCol, k)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val row = grouped.agg(percentile(
          size(col("ds")).cast("long"), lit(AutoCapQuantile))).head()
        val cap = if (row.isNullAt(0)) 2
          else math.max(2, math.ceil(row.getDouble(0)).toInt)
        log.info(s"jaccardDedup(threshold=$threshold): derived " +
          s"dfCap=$cap from the p$AutoCapQuantile shingle df")
        val result = pairsFromGrouped(grouped, threshold, Some(cap))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        result.count() // materialize so the postings cache can drop
        grouped.unpersist()
        result
      case _ =>
        jaccardPairs(df, idCol, textCol, k, threshold, dfCap)
    }

  /** Incremental dedup against a HISTORICAL corpus via a Bloom filter —
    * the mechanism that makes "drop what yesterday's 100 TB already
    * has" affordable: the history is folded ONCE into a bits-bounded
    * sketch (`DataFrameStatFunctions.bloomFilter`, a distributed
    * aggregate), the sketch broadcasts with the job, and each arriving
    * document tests row-locally — the history itself is never joined,
    * shuffled or even read again.
    *
    * Semantics: NO false negatives (a fingerprint present in history
    * always flags), false positives at the configured `fpp` — i.e. a
    * small, tunable fraction of genuinely-new docs is dropped too,
    * the standard trade every production incremental-dedup makes.
    * Exactness when needed: route the flagged subset (a small slice)
    * through an exact anti-join; the sketch pre-filter has already
    * eliminated the bulk of the work.
    *
    * Returns `docs` plus `seen_before` (the row-local sketch verdict
    * on [[graft.functions.Expressions.polyHash64]] of the text). */
  def bloomDedup(docs: DataFrame, history: DataFrame,
      textCol: String = "text", expectedItems: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    val histFp = history.select(
      Expressions.polyHash64(col(textCol)).as("fp"))
    val bloom = histFp.stat.bloomFilter("fp", expectedItems, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val seen = udf((fp: Long) => bc.value.mightContainLong(fp))
    docs.withColumn("seen_before",
      seen(Expressions.polyHash64(col(textCol))))
  }

  /** Corpus-self repeated-substring spans — the within-corpus sibling
    * of [[decontaminate]]'s span mode, after the substring-dedup result
    * that repeated long spans (boilerplate, licenses, templated
    * headers) should be excised at SPAN granularity rather than
    * dropping whole documents (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — reimplemented from
    * the paper's published description, shingle-fingerprint
    * formulation, not suffix arrays: a distributed hash census is the
    * Spark-native shape where a suffix array is a single-machine one).
    *
    * A k-word shingle is "repeated" when it occurs in ≥ `minDocs`
    * DISTINCT documents. Each document's matching positions merge into
    * maximal spans: hits whose k-word coverages overlap or touch
    * (gap ≤ k) fuse; output is one row per `[id, span_id]` with
    * `span_first`/`span_last` word indices (0-based, inclusive) and
    * the hit count.
    *
    * Scale shape: two equi shuffles on the shingle hash (census +
    * hits join — the repeated set is corpus-wide, deliberately NOT
    * broadcast) plus per-document windows bounded by document length.
    * No pairwise document join anywhere — cost is O(shingles), not
    * O(docs²). */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs.select(col(idCol), posexplode(
      Expressions.wordShingleHashesAt(col(textCol), k))
      .as(Seq("pos", "h")))
    // two-step census, not count_distinct: a boilerplate shingle present
    // in millions of documents would concentrate its id-dedup on the one
    // reducer owning h; the (h, id) distinct spreads a hot h across
    // reducers (partial map-side dedup first), and the follow-up count
    // per h only sees one row per (shingle, doc)
    val repeated = sh.select(col("h"), col(idCol)).distinct()
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    sh.join(repeated, Seq("h"))
      .select(col(idCol), col("pos"))
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > k, 1).otherwise(0))
      .withColumn("span_id", sum(col("brk")).over(w))
      .groupBy(col(idCol), col("span_id"))
      .agg(min(col("pos")).as("span_first"),
        (max(col("pos")) + (k - 1)).as("span_last"),
        count(lit(1)).as("n_hits"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003 — the MOSS scheme): over the per-position word-k-gram hash
    * stream, each sliding window of `w` consecutive hashes selects its
    * rightmost minimum; the distinct selected (pos, hash) rows are the
    * fingerprint set. Guarantee: any shared run of ≥ w+k-1 words
    * between two documents shares at least one fingerprint, while only
    * ~2/(w+1) of positions are kept — a density-bounded sample that is
    * POSITION-STABLE (unlike every-nth sampling, local edits don't
    * shift which grams are kept downstream).
    *
    * Selection is computed with NO per-window expansion: a position i
    * is some window's rightmost min iff
    *   max(i, prv+w) ≤ min(i+w-1, nxt-1, maxpos)
    * where prv = last position in [i-w+1, i) with hash < h_i and nxt =
    * first position in (i, i+w-1] with hash ≤ h_i (tie-break = the
    * rightmost-min rule; leading partial windows included) — verified
    * equivalent to the direct per-window definition by exhaustive
    * randomized simulation in WinnowSpec. So the whole operator is ONE
    * doc-keyed WindowExec carrying a ≤(2w-1)-element neighbor list per
    * row plus row-local array logic: no self-join, no w× row blow-up,
    * and only (id, pos, hash) ever shuffles — the 100 TB shape.
    *
    * Returns one row per selected fingerprint: (idCol, pos, h). */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs.select(col(idCol), posexplode(
      Expressions.wordShingleHashesAt(col(textCol), k))
      .as(Seq("pos", "h")))
    val nbw = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(-(w - 1), w - 1)
    val full = Window.partitionBy(col(idCol))
    sh.withColumn("nb", collect_list(struct(col("pos"), col("h"))).over(nbw))
      .withColumn("maxpos", max(col("pos")).over(full))
      .withColumn("prv", coalesce(
        expr("array_max(transform(filter(nb, x -> x.pos < pos AND x.h < h)," +
          " x -> x.pos))"),
        col("pos") - w))
      .withColumn("nxt", coalesce(
        expr("array_min(transform(filter(nb, x -> x.pos > pos AND x.h <= h)," +
          " x -> x.pos))"),
        col("pos") + w))
      .filter(greatest(col("pos"), col("prv") + w) <=
        least(col("pos") + (w - 1), col("nxt") - 1, col("maxpos")))
      .select(col(idCol), col("pos"), col("h"))
  }

  /** Near-dup candidate pairs from a winnowing fingerprint table
    * ([[winnowFingerprints]] output): documents sharing ≥ `minShared`
    * distinct fingerprint hashes, with the shared count. Same
    * inverted-index discipline as [[jaccardPairs]] — postings per
    * fingerprint hash, ordered pair expansion, never a self-join; by
    * winnowing's guarantee a pair sharing a ≥ w+k-1-word run shares a
    * fingerprint, at ~2/(w+1) of the index size full shingling pays. */
  def winnowPairs(fps: DataFrame, idCol: String,
      minShared: Int = 2): DataFrame = {
    val inv = fps.select(col("h"), col(idCol)).distinct()
      .groupBy(col("h"))
      .agg(collect_list(struct(col(idCol))).as("ds"))
      .filter(size(col("ds")) > 1)
    expandPairs(inv)
      .select(col("a").getField(idCol).as("id_a"),
        col("b").getField(idCol).as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact heavy hitters via a count-min-sketch prefilter — the other
    * half of the sketch pair with [[bloomDedup]], and the 100 TB shape
    * for boilerplate/stopword detection: a naive `groupBy(item).count`
    * shuffles the ENTIRE stream (every token row) to count a handful
    * of frequent items. Here the stream folds once into a broadcast
    * CMS (commutative per-cell addition — partition-order invariant),
    * every row tests its own estimate locally, and only rows whose
    * estimate reaches `minCount` enter the exact `groupBy` — so the
    * shuffle carries heavy candidates only. CMS never underestimates,
    * so the candidate set is a superset of the true heavy hitters and
    * the post-count `n >= minCount` filter makes the output EXACT
    * (item + exact count), not approximate.
    *
    * `eps` bounds overestimation at `eps * N` stream rows (the width of
    * the false-candidate tail that pays the shuffle needlessly), NOT
    * output error — output counts come from the exact pass. */
  def cmsHeavyHitters(items: DataFrame, itemCol: String, minCount: Long,
      eps: Double = 1e-4, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    val spark = items.sparkSession
    val cms = items.stat.countMinSketch(itemCol, eps, confidence, seed)
    val bc = spark.sparkContext.broadcast(cms)
    val atLeast = udf((item: String) =>
      bc.value.estimateCount(item) >= minCount)
    items.filter(atLeast(col(itemCol)))
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(Dedup.getClass)

  /** Connected components over an undirected near-dup pair list — the
    * last stage of every published fuzzy-dedup pipeline (the pair
    * generators above stop at pairs; real pipelines group pairs into
    * components and keep one canonical document per component).
    *
    * Input: any frame with two id columns (one row per undirected pair).
    * Output: one row per id that appears in a pair, `[id, component]`,
    * where `component` is the smallest id in that connected component
    * (ids are compared with their column type's natural ordering).
    *
    * Algorithm: distributed min-label propagation with a
    * pointer-doubling shortcut — no driver-side union-find, no
    * collected edge list. Each round:
    *   1. every node takes the min of its own label and its neighbors'
    *      labels (one hash join edges × labels + groupBy min);
    *   2. labels shortcut through themselves, comp(v) := comp(comp(v))
    *      (one self-join) — path halving, which is what turns the
    *      O(diameter) naive propagation into O(log diameter) rounds.
    * Per round the shuffled data is O(|V| + |E|) narrow id rows. Each
    * round's label frame is an EAGER localCheckpoint: in an iterative
    * DataFrame algorithm the logical plan otherwise doubles per round
    * through the self-join (analysis + plan-string emission alone OOM
    * after ~6 rounds); checkpointing truncates it to a leaf. The
    * executor-local storage means an executor loss fails the job and
    * the op reruns — the standard iterative-CC trade (GraphFrames
    * ships the same default). Near-dup components in practice are tiny
    * (dup clusters of 2-10 docs), so this typically converges in 2-3
    * rounds; a pathological 2^64-node path graph would still converge
    * within the `maxRounds` guard. */
  def components(pairs: DataFrame, idACol: String = "id_a",
      idBCol: String = "id_b", maxRounds: Int = 64): DataFrame = {
    val half = pairs.select(col(idACol).as("u"), col(idBCol).as("v"))
      .filter(col("u") =!= col("v"))
    val edges = half
      .unionByName(half.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint(true) // reused every round; truncates pair lineage
    var labels = edges.select(col("u").as("id"))
      .distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var round = 0
    var converged = false
    while (!converged) {
      if (round >= maxRounds)
        throw new IllegalStateException(
          s"components: not converged after $maxRounds rounds — " +
            "with path halving this needs a component diameter over " +
            s"2^$maxRounds; the pair input is likely being recomputed " +
            "non-deterministically")
      // 1. neighbor-min propagation; the node's previous label rides
      // along (`_prev`) so convergence needs no extra join afterwards —
      // max() recovers it through the min-aggregation (one labels row
      // per id; message rows carry null, which max ignores)
      val msgs = edges
        .join(labels.select(col("id").as("u"), col("component")), Seq("u"))
        .select(col("v").as("id"), col("component"),
          lit(null).cast(labels.schema("component").dataType).as("_prev"))
      val prop = labels
        .select(col("id"), col("component"), col("component").as("_prev"))
        .unionByName(msgs)
        .groupBy("id").agg(min(col("component")).as("component"),
          max(col("_prev")).as("_prev"))
      // 2. pointer doubling: component := component(component)
      val parents = prop
        .select(col("id").as("_pd_id"), col("component").as("_pd_comp"))
      // Convergence check FUSED onto the checkpoint job (r16, guide
      // §1.2 — fewer actions): observe() counts changed labels while
      // the eager localCheckpoint materializes the round, replacing the
      // separate filter().isEmpty action (2 driver round-trips per
      // round → 1). CollectMetrics accumulators are exactly-once per
      // execution (task retries dedupe), and checkpoint runs through
      // withAction, so the observed value is complete when the eager
      // materialization returns. sum() over an empty frame is null →
      // converged, matching isEmpty on the empty-graph edge case.
      val obs = new org.apache.spark.sql.Observation(
        s"cc_round_$round")
      val next = prop
        .join(parents, prop("component") === parents("_pd_id"), "left")
        .select(col("id"),
          coalesce(col("_pd_comp"), col("component")).as("component"),
          col("_prev"))
        .observe(obs, sum(when(col("component") =!= col("_prev"), 1L)
          .otherwise(0L)).as("changed"))
        .localCheckpoint(true)
      // Bounded wait: the metrics arrive on the async listener bus
      // (normally within milliseconds), which may drop events under queue
      // pressure; without them, recount the changed labels on the
      // checkpointed round instead of hanging.
      converged =
        try {
          val row = scala.concurrent.Await.result(obs.future,
            scala.concurrent.duration.Duration(10, "s"))
          row.isNullAt(0) || row.getLong(0) == 0L // null: sum over zero rows
        } catch { case _: java.util.concurrent.TimeoutException =>
          next.filter(col("component") =!= col("_prev")).isEmpty
        }
      labels = next.select(col("id"), col("component"))
      round += 1
    }
    labels
  }

  /** Canonical-document selection over near-dup components: every corpus
    * document gets its `component` (its own id when it appears in no
    * pair), the component's `canonical_id`, and an `is_canonical` flag —
    * callers keep `is_canonical` and drop the rest of the cluster.
    *
    * The canonical document is the component's max-`qualityCol` member
    * (ties → smallest id), or simply the smallest id when no quality
    * column is given. `qualityCol` must be numeric (it is negated to get
    * descending order inside the min_by struct ordering).
    *
    * Scale shape: components() as above, then one broadcast-free
    * aggregate + join keyed on `component` — both land on the same hash
    * partitioning, and component count ~ corpus count, so nothing here
    * assumes a collectable side. */
  def canonicalize(corpus: DataFrame, pairs: DataFrame, idCol: String,
      idACol: String = "id_a", idBCol: String = "id_b",
      qualityCol: Option[String] = None): DataFrame = {
    val comps = components(pairs, idACol, idBCol)
      .select(col("id").as(idCol), col("component"))
    val withComp = corpus.join(comps, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val winner = qualityCol match {
      case Some(q) =>
        min_by(col(idCol), struct((-col(q)).as("_neg_q"), col(idCol)))
      case None => min(col(idCol))
    }
    val winners = withComp.groupBy("component")
      .agg(winner.as("canonical_id"))
    withComp.join(winners, Seq("component"))
      .withColumn("is_canonical", col(idCol) === col("canonical_id"))
  }

  /** Decontamination — the standard pre-training hygiene pass: flag
    * corpus documents that share at least `minShared` distinct word
    * k-grams with ANY document of a benchmark/test set (long k, e.g.
    * 8-13 in published pipelines, so only verbatim spans match).
    *
    * Scale shape: the test set is small by definition, so its distinct
    * shingle-hash set broadcasts; the corpus explodes its row-local
    * shingle hashes (already distinct per document), hash-joins against
    * the broadcast, and aggregates matches per document — ONE corpus
    * shuffle (the per-doc match count), never a corpus×corpus join.
    * Returns [idCol, n_shared, contaminated] with one row per corpus
    * document (zero-match documents included, n_shared = 0).
    *
    * `withSpans = true` additionally emits WHERE the contamination
    * sits, so a pipeline can excise the span instead of dropping the
    * document: `span_first` = word index of the first matching
    * shingle, `span_last` = last word index covered by any matching
    * shingle (i.e. last matching shingle position + k − 1) — the words
    * `[span_first, span_last]` cover every matched k-gram. Null for
    * clean documents. Same single-shuffle shape (the positional
    * explode keeps duplicate shingles, so n_shared counts DISTINCT
    * matched hashes either way). */
  def decontaminate(corpus: DataFrame, testSet: DataFrame,
      idCol: String, textCol: String, k: Int = 8,
      minShared: Int = 1, withSpans: Boolean = false): DataFrame = {
    val testH = withShingleHashes(testSet, textCol, k)
      .select(explode(col("sh_hs")).as("h")).distinct()
    if (!withSpans) {
      val matches = withShingleHashes(corpus, textCol, k)
        .select(col(idCol), explode(col("sh_hs")).as("h"))
        .join(broadcast(testH), Seq("h"))
        .groupBy(idCol)
        .agg(count(lit(1)).as("n_shared"))
      corpus.select(col(idCol))
        .join(matches, Seq(idCol), "left")
        .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
        .withColumn("contaminated", col("n_shared") >= minShared)
    } else {
      val matches = corpus
        .select(col(idCol), posexplode(
          Expressions.wordShingleHashesAt(col(textCol), k))
          .as(Seq("pos", "h")))
        .join(broadcast(testH), Seq("h"))
        .groupBy(idCol)
        .agg(count_distinct(col("h")).as("n_shared"),
          min(col("pos")).as("span_first"),
          (max(col("pos")) + (k - 1)).as("span_last"))
      corpus.select(col(idCol))
        .join(matches, Seq(idCol), "left")
        .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
        .withColumn("contaminated", col("n_shared") >= minShared)
    }
  }

  /** Line-level exact dedup across a corpus (the CCNet-style hygiene
    * pass: drop every copy of a line that appears in ≥ `minDocFreq`
    * DISTINCT documents — boilerplate headers/footers/nav chrome at web
    * scale). Lines are `sep`-separated; comparison is on the
    * lower(trim(line)) normal form, the published CCNet normalization.
    *
    * Output: one row per input document —
    * `[idCol, textCol (deduped), n_kept, n_dropped]` — a document whose
    * every line is boilerplate survives with an empty text, not a
    * dropped row (pipelines filter on `n_kept` explicitly).
    *
    * Scale shape: posexplode (narrow) → ONE distinct+groupBy shuffle on
    * the normalized line to get per-line doc frequency (map-side
    * partial aggregation collapses repeats before the wire) → shuffle
    * join lines × frequencies (both sides hash-partitioned on the line;
    * the frequency side is corpus-wide and must NOT be broadcast) →
    * groupBy doc to reassemble in line order. No window over the whole
    * corpus, no driver state; every stage keys on either the line or
    * the doc id, so skew is bounded by the hottest single line, which
    * the partial agg already collapses map-side. */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
      minDocFreq: Int = 2, sep: String = "\n"): DataFrame = {
    val lines = docs
      .select(col(idCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep)))
        .as(Seq("_dl_pos", "_dl_line")))
      .withColumn("_dl_norm", lower(trim(col("_dl_line"))))
    val docFreq = lines.select(col(idCol), col("_dl_norm")).distinct()
      .groupBy("_dl_norm")
      .agg(count(lit(1)).as("_dl_df"))
      .filter(col("_dl_df") >= minDocFreq)
    // left anti join: keep lines whose normal form is NOT boilerplate
    val kept = lines.join(docFreq, Seq("_dl_norm"), "left_anti")
    val reassembled = kept.groupBy(idCol)
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("_dl_pos"), col("_dl_line")))),
          x => x("_dl_line")), sep).as("_dl_text"),
        count(lit(1)).as("n_kept"))
    val totals = lines.groupBy(idCol)
      .agg(count(lit(1)).as("_dl_total"))
    docs.select(col(idCol)).join(totals, Seq(idCol), "left")
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_dl_text"), lit("")).as(textCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("_dl_total"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Fixed affine rehash family h_i = a_i*h + b_i (wrapping 64-bit
    * multiply) — the standard universal-hash trick: each shingle is
    * hashed ONCE, the numHashes family members are integer arithmetic.
    * Constants in [[graft.functions.HashFuncs.mixConstants]] —
    * deterministic across runs AND engines (the DuckDB oracle re-derives
    * them). */
  def mixConstants(numHashes: Int): (Array[Long], Array[Long]) =
    graft.functions.HashFuncs.mixConstants(numHashes)

  /** MinHash signature as a row-local array column `sig` — NO shuffle and
    * ONE codegen kernel call per row (Expressions.minHashSig): shingle
    * hashing, the affine family, and the per-function mins all happen in
    * a single pass over the document bytes. Docs with no shingles (< k
    * words) are dropped (null signature). */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32): DataFrame =
    df.select(col(idCol),
      Expressions.minHashSig(col(textCol), k, numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  /** Group-level (mergeable) MinHash sketch: a group's signature is the
    * element-wise MIN of its documents' signatures — which equals the
    * signature of the group's shingle UNION, because min(min(A), min(B))
    * = min(A ∪ B). That mergeability is the scale property: corpus-level
    * similarity between sources reduces to one row-local signature pass
    * + one tiny (groups × numHashes) aggregation, never a doc-pair join;
    * sketches from new data batches fold in the same way. */
  def groupMinHash(df: DataFrame, groupCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32): DataFrame =
    df.select(col(groupCol),
        Expressions.minHashSig(col(textCol), k, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col(groupCol), posexplode(col("sig")).as(Seq("pos", "v")))
      .groupBy(col(groupCol), col("pos")).agg(min(col("v")).as("m"))
      .groupBy(col(groupCol))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
        "x -> x.m)").as("sig"))

  /** MinHash-LSH near-duplicate candidate pairs: band the signature into
    * `bands` chunks and bucket on (band_idx, raw band values) — grouping
    * on the slice itself needs no band-hash and cannot collide. Pairs
    * come from the inverted index (one shuffle); est_jaccard = fraction
    * of matching signature positions. `dfCap` caps bucket size (docs per
    * band value); None = exact LSH semantics.
    *
    * DOMAIN (tightened in r3): `numHashes` must be a multiple of
    * `bands`. Earlier versions accepted any combination and silently
    * dropped the trailing `numHashes % bands` signature positions from
    * banding — callers relying on that got incomplete candidate sets;
    * they now fail fast instead. */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 8,
      dfCap: Option[Int] = None): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands); " +
        "integer division would silently drop trailing signature positions")
    val rows = numHashes / bands
    val sigs = minHashSignatures(df, idCol, textCol, k, numHashes)
    val banded = sigs.select(col(idCol).as("id"), col("sig"),
      posexplode(expr(
        s"""transform(sequence(0, ${bands - 1}),
             b -> slice(sig, b * $rows + 1, $rows))"""))
        .as(Seq("band_idx", "band_key")))
    candidatesFromBanded(banded, dfCap)
  }

  /** Candidate-pair expansion over ALREADY-banded signature rows
    * (id, sig, band_idx, band_key) — shared by [[minHashCandidates]]
    * and [[incrementalCandidates]] so a batch's shingle/signature pass
    * runs once however many joins consume it. */
  private def candidatesFromBanded(banded: DataFrame,
      dfCap: Option[Int]): DataFrame = {
    val inv = banded.groupBy("band_idx", "band_key")
      .agg(collect_list(struct(col("id"), col("sig"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    val capped = dfCap.map(c => inv.filter(size(col("ds")) <= c))
      .getOrElse(inv)
    expandPairs(capped)
      .select(col("a.id").as("id_a"), col("a.sig").as("sig_a"),
        col("b.id").as("id_b"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("est_jaccard",
        graft.functions.Expressions.longEqFrac(col("sig_a"), col("sig_b")))
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** 64-bit SimHash per document, entirely row-local and one codegen
    * kernel call (Expressions.simHash64): bit j is set when more than
    * half of the token OCCURRENCES have bit j set in their poly_hash64
    * (the ±1 majority vote; frequency weighting over distinct tokens is
    * identical to counting occurrences). */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      Expressions.simHash64(col(textCol)).as("simhash"))

  /** SimHash near-dup candidates with Hamming distance ≤ maxDist (≤ 3),
    * banded on four 16-bit chunks (pigeonhole: any pair within distance 3
    * shares at least one exact chunk, so for maxDist ≤ 3 the candidates
    * are EXACTLY the pairs with hamming ≤ maxDist — which is what the
    * DuckDB oracle brute-forces). Inverted index per (band, chunk).
    *
    * DOMAIN (tightened in r3): `maxDist` must be ≤ 3. Earlier versions
    * accepted larger distances and silently returned only the subset of
    * pairs sharing an exact 16-bit chunk (incomplete above 3); such
    * calls now fail fast — use more/narrower bands if you genuinely
    * need a larger Hamming radius. */
  def simHashCandidates(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucket: Option[Int] = None): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist ($maxDist) must be <= 3: 4 bands of 16 bits only guarantee " +
        "a shared exact chunk for pairs within Hamming distance 3")
    val hashes = simHash(df, idCol, textCol)
      .select(col(idCol).as("id"), col("simhash"))
    bandCandidates64(hashes, "simhash", Seq("simhash"), maxBucket)
      .select(col("a.id").as("id_a"), col("a.simhash").as("h_a"),
        col("b.id").as("id_b"), col("b.simhash").as("h_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming",
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Shared 4×16-bit band inverted index over a 64-bit hash/sketch
    * column — the candidate engine behind [[simHashCandidates]],
    * [[graft.operators.Phash.hammingCandidates]] and
    * [[graft.operators.Multimodal.nearDupCandidates]]. `df` must carry
    * a unique `id` column plus `hashCol` and the payload columns; the
    * result is [[expandPairs]] output, one row per co-bucketed (a, b)
    * with a.id < b.id and struct fields (id, payloadCols...).
    *
    * The hot-bucket guard runs BEFORE list materialization AND before
    * the index shuffle: when `maxBucket` is set, the banded frame is
    * lazily local-checkpointed (one upstream pass — shingle/feature
    * extraction, SRP sketching — materialized to executor
    * memory-and-disk on first use, cleaned by the ContextCleaner when
    * the plan is garbage), a partial-aggregated census over the
    * checkpoint finds the over-cap buckets (the (band, chunk) domain
    * is bounded at 4·2^16, and the HOT subset is further bounded by
    * n/cap — always broadcastable), and a broadcast ANTI join drops
    * hot rows MAP-SIDE, so a corpus of near-constant payloads (blank
    * pages, black frames, boilerplate text) never ships its
    * degenerate mass to any reducer. Rejected alternatives, both
    * measured or reasoned worse at corpus scale: census + semi-join
    * WITHOUT the checkpoint recomputes the entire expensive upstream
    * twice; a window count riding the index exchange evaluates
    * upstream once but funnels every hot bucket's rows through a
    * single spill-sorting reducer task before discarding them — a
    * straggler proportional to the degenerate fraction of the corpus.
    * None = exact pigeonhole completeness at distance ≤ 3, the
    * default (and no checkpoint/materialization on that path). */
  private[operators] def bandCandidates64(df: DataFrame, hashCol: String,
      payloadCols: Seq[String], maxBucket: Option[Int]): DataFrame = {
    val banded0 = df.select(
      (col("id") +: payloadCols.map(col)) :+
        posexplode(expr(
          s"""transform(sequence(0, 3),
              b -> shiftright($hashCol, b * 16) & 65535)"""))
          .as(Seq("band", "chunk")): _*)
    val eligible = maxBucket match {
      case Some(c) =>
        val banded = banded0.localCheckpoint(false)
        val hot = banded.groupBy("band", "chunk")
          .agg(count(lit(1)).as("_bc"))
          .filter(col("_bc") > c)
          .select("band", "chunk")
        banded.join(broadcast(hot), Seq("band", "chunk"), "left_anti")
      case None => banded0
    }
    val inv = eligible.groupBy("band", "chunk")
      .agg(collect_list(
        struct(col("id") +: payloadCols.map(col): _*)).as("ds"))
      .filter(size(col("ds")) >= 2)
    expandPairs(inv)
  }

  /** Edit-distance-1 pairs via deletion-neighborhood hashing (the
    * FastSS / SymSpell candidate trick): each string is keyed by itself
    * plus every single-character deletion; two strings within one edit
    * (substitution, insertion, or deletion) necessarily share a key, so
    * candidates come from an EQUI join on the key — O(n·len) index rows
    * instead of the O(n²) cross compare — and a `levenshtein ≤ 1`
    * verification removes the same-key false positives (deletions at
    * different positions, e.g. "ab"/"ba"). The key-cure join is the
    * scale path: identifier-like columns (URLs, usernames, SKUs) at
    * 100 TB pair in one shuffle keyed by short strings, with per-key
    * fan-out bounded by the collision-group size.
    *
    * Output: (id_a, id_b, dist) with id_a < id_b, one row per pair. */
  def editDistancePairs(df: DataFrame, idCol: String,
      strCol: String): DataFrame = {
    val keyed = df.select(col(idCol).as("id"), col(strCol).as("s"),
      explode(expr(
        s"""array_union(
              array($strCol),
              transform(sequence(1, greatest(length($strCol), 1)),
                i -> concat(substr($strCol, 1, i - 1),
                            substr($strCol, i + 1, length($strCol)))))"""))
        .as("k"))
    keyed.as("a").join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("s_a"), col("b.s").as("s_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** The persistable MinHash-LSH inverted index of a corpus: one row
    * per (band_idx, band_key) posting carrying the doc id AND its full
    * signature (the signature rides along ×bands so the incremental
    * join needs no second lookup — the standard space-for-latency
    * index trade; store it bucketed by (band_idx, band_key) via
    * [[graft.io.Store]] so batch probes prune to matching buckets).
    * Same banding domain as [[minHashCandidates]]. */
  def minHashIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands)")
    val rows = numHashes / bands
    minHashSignatures(df, idCol, textCol, k, numHashes)
      .select(col(idCol).as("id"), col("sig"),
        posexplode(expr(
          s"""transform(sequence(0, ${bands - 1}),
               b -> slice(sig, b * $rows + 1, $rows))"""))
          .as(Seq("band_idx", "band_key")))
  }

  /** Incremental near-dup candidates of a NEW batch against an
    * existing corpus index ([[minHashIndex]]) — the daily-ingest
    * pattern at 100 TB: the corpus's old-vs-old pairs were settled
    * when the index was built and are NEVER recomputed; only
    * (new × corpus) and (new × new) pairs move. The batch's band rows
    * are broadcast (a daily batch is small next to the corpus), so
    * probing the index is a map-side hash join against the corpus
    * scan — no corpus shuffle, and with the index stored bucketed by
    * band the scan itself prunes. New-vs-new pairs come from
    * [[minHashCandidates]] on the batch alone.
    *
    * Output: (id_a, id_b, kind, est_jaccard) — kind `vs_corpus` rows
    * pair a corpus id (id_a) with a batch id (id_b); `vs_batch` rows
    * pair two batch ids, id_a < id_b. Gated by the q167 oracle, which
    * replays signatures, banding, both join sides and the
    * no-old-vs-old property relationally.
    *
    * `broadcastBatch` (default true) pins the probe as a broadcast
    * hash join — right for the daily-batch-vs-corpus asymmetry. Pass
    * false for a BACKFILL-sized batch that exceeds the broadcast
    * budget: the probe becomes a plain equi-join on (band_idx,
    * band_key) and planning falls back to Catalyst's own selection
    * (sort-merge at worst, with the bucketed index layout keeping the
    * corpus side shuffle-free). */
  def incrementalCandidates(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, k: Int = 3, numHashes: Int = 32,
      bands: Int = 8, broadcastBatch: Boolean = true): DataFrame = {
    // persisted: the batch's shingle/signature pass feeds BOTH the
    // corpus probe and the batch self-join below; without the persist
    // the union's two branches would each re-run it over raw text
    // (poobah/jaccardDedup-style contract — a later
    // spark.catalog.clearCache() releases the KB-scale batch index)
    val newBanded =
      minHashIndex(batch, idCol, textCol, k, numHashes, bands).persist()
    incrementalFromBanded(index, newBanded, broadcastBatch)
  }

  /** [[incrementalCandidates]] over a PREBUILT (and ideally persisted)
    * batch band frame — the entry point the streaming ingest uses so a
    * micro-batch's signatures are computed once and then both probed
    * against the index and appended to it. */
  private[graft] def incrementalFromBanded(index: DataFrame,
      newBanded: DataFrame, broadcastBatch: Boolean): DataFrame = {
    val probe0 = newBanded.select(col("band_idx"), col("band_key"),
      col("id").as("id_new"), col("sig").as("sig_new"))
    val probe = if (broadcastBatch) broadcast(probe0) else probe0
    val vsCorpus = index
      .join(probe, Seq("band_idx", "band_key"))
      .filter(col("id") =!= col("id_new"))
      .select(col("id").as("id_a"), col("id_new").as("id_b"),
        col("sig"), col("sig_new"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), lit("vs_corpus").as("kind"),
        graft.functions.Expressions.longEqFrac(col("sig"), col("sig_new"))
          .as("est_jaccard"))
    val vsBatch = candidatesFromBanded(newBanded, None)
      .select(col("id_a"), col("id_b"), lit("vs_batch").as("kind"),
        col("est_jaccard"))
    vsCorpus.unionAll(vsBatch)
  }

  /** Batch self-join candidates labeled for the incremental contract —
    * what the FIRST micro-batch (empty index) of a streaming ingest
    * emits. */
  private[graft] def batchOnlyCandidates(newBanded: DataFrame): DataFrame =
    candidatesFromBanded(newBanded, None)
      .select(col("id_a"), col("id_b"), lit("vs_batch").as("kind"),
        col("est_jaccard"))
}
