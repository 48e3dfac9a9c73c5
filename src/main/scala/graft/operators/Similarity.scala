package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and an IVF-style
  * cluster-pruned variant as the scale path.
  *
  * All vector math runs as codegen kernel expressions
  * ([[graft.functions.Expressions.vecDot]]/vecCosine) — no UDFs, no
  * per-element interpreted lambdas. Accumulation is a sequential left
  * fold, matching the order a scalar loop would use (deterministic per
  * row and bit-identical to the declarative HOF formulation).
  *
  * Scale: brute force is a broadcast of the (small) query set against the
  * corpus — linear scan, no shuffle, TakeOrdered for the top-k. IVF prunes
  * the scan to the nProbe nearest centroid partitions; centroids are a
  * KB-sized aggregation collected once and broadcast back.
  */
object Similarity {

  /** Sequential dot product of two double-array columns — a codegen
    * kernel ([[graft.functions.Expressions.vecDot]]): Spark's
    * aggregate/zip_with HOFs interpret their lambda per ELEMENT, which
    * puts a virtual dispatch inside the innermost dim-loop of every
    * similarity scan; the kernel is one tight loop with the identical
    * sequential accumulation order (bit-equal results; spec-asserted). */
  def dot(a: Column, b: Column): Column =
    graft.functions.Expressions.vecDot(a, b)

  /** L2 norm (kernel-backed: ‖a‖ = sqrt(a·a)). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity between two double-array columns, computed as
    * dot / (norm(a) * norm(b)) with sequential folds — one fused kernel
    * call per pair. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.Expressions.vecCosine(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Per-query top-k of a scored frame via the bounded-heap TopKAgg (map
    * side keeps ≤ k rows per partition×query — a window partitioned by
    * query id would instead move each query's ENTIRE scan to one task).
    * Emits (queryIdCol, idCol, cos, rank). */
  private def topKPerQuery(scored: DataFrame, k: Int, idCol: String,
      queryIdCol: String): DataFrame =
    scored
      .groupBy(col(queryIdCol))
      .agg(graft.functions.TopKAgg.topK(
        struct((-col("cos")).as("nc"), col(idCol).as("id")),
        struct(col(idCol).as("id"), col("cos").as("cos")), k).as("top"))
      .select(col(queryIdCol),
        posexplode(col("top")).as(Seq("r", "hit")))
      .select(col(queryIdCol), col("hit.id").as(idCol),
        col("hit.cos").as("cos"), (col("r") + 1).cast("long").as("rank"))

  /** Brute-force cosine top-k: for each query row, the k nearest corpus
    * rows. Queries are broadcast (small side), the corpus is scanned once
    * with no shuffle; the only movement is k rows per partition per query
    * into the final merge. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame = {
    val q = queries.select(col(queryIdCol),
      asDouble(col(vecCol)).as("q_vec"))
    val c = corpus.select(col(idCol), asDouble(col(vecCol)).as("c_vec"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos", cosine(col("c_vec"), col("q_vec")))
    topKPerQuery(scored, k, idCol, queryIdCol)
  }

  /** Two-stage retrieval — truncate-then-rerank (the Matryoshka/ MRL
    * serving pattern, Kusupati et al. 2022): stage 1 scores the corpus
    * on only the first `coarseDims` dimensions (a prefix `slice`, no
    * second embedding column materialized) and keeps `coarseK`
    * candidates per query through the bounded-heap TopKAgg; stage 2
    * re-ranks ONLY those candidates with full-dimension cosine and
    * keeps the final k. Ties break by id at both stages, so the result
    * is deterministic and the q169 oracle replays both stages
    * relationally.
    *
    * Scale shape: stage 1 is the [[bruteForceTopK]] contract at
    * coarseDims/dim of the flop+memory cost (queries broadcast, corpus
    * scanned once, ≤ coarseK rows per partition per query move);
    * stage 2 touches |queries|·coarseK rows via a BROADCAST semi-index
    * back into the corpus — the corpus never shuffles. Recall loss is
    * measurable with [[annRecallEval]] against [[bruteForceTopK]]. */
  def twoStageTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      coarseDims: Int = 16, coarseK: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must be >= k ($k)")
    val q = queries.select(col(queryIdCol),
      asDouble(col(vecCol)).as("q_vec"))
    val c = corpus.select(col(idCol), asDouble(col(vecCol)).as("c_vec"))
    val coarse = c.crossJoin(broadcast(q))
      .withColumn("cos", cosine(slice(col("c_vec"), 1, coarseDims),
        slice(col("q_vec"), 1, coarseDims)))
    val cands = topKPerQuery(coarse, coarseK, idCol, queryIdCol)
      .select(col(queryIdCol), col(idCol))
    val rescored = c.join(broadcast(cands), Seq(idCol))
      .join(broadcast(q), Seq(queryIdCol))
      .withColumn("cos", cosine(col("c_vec"), col("q_vec")))
    topKPerQuery(rescored, k, idCol, queryIdCol)
  }

  /** 64-bit signed-random-projection sketches (hyperplanes from
    * splitmix64 — deterministic across runs and engines): one codegen
    * kernel call per row, zero shuffle. The Hamming distance between two
    * sketches estimates the angle: the sketch is the 8-byte stand-in for
    * the vector in candidate generation, so pairwise stages move 8 bytes
    * instead of dim·8. */
  def srpSketches(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64): DataFrame =
    corpus.select(col(idCol),
      graft.functions.Expressions.srpSketch64(asDouble(col(vecCol)), dim)
        .as("sketch"))

  /** ANN by sketch: top-k corpus rows per query by (Hamming(sketches),
    * id) — integer keys, so ranking is exact. Same bounded-heap TopKAgg
    * shape as the cosine variants. */
  def srpHammingTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", dim: Int = 64): DataFrame = {
    val c = srpSketches(corpus, idCol, vecCol, dim)
    val q = srpSketches(queries, queryIdCol, vecCol, dim)
      .withColumnRenamed("sketch", "q_sketch")
    val scored = c.crossJoin(broadcast(q))
      .withColumn("hamming",
        bit_count(col("sketch").bitwiseXOR(col("q_sketch"))).cast("long"))
    scored
      .groupBy(col(queryIdCol))
      .agg(graft.functions.TopKAgg.topK(
        struct(col("hamming").as("h"), col(idCol).as("id")),
        struct(col(idCol).as("id"), col("hamming").as("h")), k).as("top"))
      .select(col(queryIdCol), posexplode(col("top")).as(Seq("r", "hit")))
      .select(col(queryIdCol), col("hit.id").as(idCol),
        col("hit.h").as("hamming"), (col("r") + 1).cast("long").as("rank"))
  }

  /** Centroids by an existing partition column (e.g. a KMeans label or a
    * hash prefix): element-wise mean per cluster via posexplode + pivot
    * back to arrays. */
  def centroids(corpus: DataFrame, clusterCol: String,
      vecCol: String = "embedding"): DataFrame =
    corpus.select(col(clusterCol),
      posexplode(asDouble(col(vecCol))).as(Seq("pos", "v")))
      .groupBy(col(clusterCol), col("pos"))
      .agg(avg(col("v")).as("m"))
      .groupBy(col(clusterCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .withColumn("centroid", expr("transform(pm, x -> x.m)"))
      .drop("pm")

  /** Nearest-centroid assignment as a ROW-LOCAL expression: squared-L2
    * to each of the k driver-collected centroids (one `vec_sqdist`
    * codegen kernel call per centroid), argmin via `least()` over
    * (dist, cluster) structs — ties break to the lowest cluster id.
    * Zero shuffle, zero join: the centroid set (k × dim doubles,
    * KB-sized) is baked into the plan exactly the way the prep chain
    * broadcasts its scalar parameters. Suited to coarse-quantizer k
    * (≲ a few hundred); for larger codebooks nest two levels of
    * quantization instead of widening one expression. */
  def withNearestCentroid(df: DataFrame,
      cents: Seq[(Long, Array[Double])], vecCol: String = "embedding",
      outCol: String = "ivf_cluster"): DataFrame = {
    require(cents.nonEmpty, "centroid set must not be empty")
    df.withColumn(outCol, nearest(asDouble(col(vecCol)), cents).getField("c"))
  }

  /** The (d, c) struct of `v`'s nearest centroid, scored as
    * [[withNearestCentroid]] describes (also pqTrain's per-subspace
    * assignment and encoding). */
  private def nearest(v: Column, cents: Seq[(Long, Array[Double])])
      : Column = {
    val scored = cents.map { case (cid, c) =>
      struct(
        graft.functions.Expressions.vecSqDist(v, typedlit(c.toSeq))
          .as("d"),
        lit(cid).as("c"))
    }
    if (scored.size == 1) scored.head else least(scored: _*)
  }

  /** Collect a (cluster, centroid) frame to the driver. KB-sized by
    * design (k × dim doubles) — the same boundary every scalar prep
    * parameter crosses. */
  private def collectCentroids(
      cents: DataFrame): Seq[(Long, Array[Double])] =
    cents.select(col(cents.columns.head).cast("long"), col("centroid"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).toSeq

  /** Distributed Lloyd's k-means — the self-contained IVF index build.
    * Initial centroids are the per-`initClusterCol` means (pass a
    * metadata label, or a deterministic hash bucket like
    * `pmod(xxhash64(id), k)` when no label exists). Each iteration is
    * ONE corpus scan: the row-local [[withNearestCentroid]] assignment
    * (no shuffle) feeding a per-(cluster, dimension) mean whose shuffle
    * moves only k × dim partially-aggregated rows. Centroids round-trip
    * through the driver between iterations (KB-sized). Clusters that
    * become empty are DROPPED (not carried forward): a stale centroid
    * no row voted for is not a mean of the data, and dropping is what a
    * pure SQL replay of the iteration derives — group-by-means can only
    * produce centroids of nonempty groups (the q38 oracle re-derives
    * two full iterations that way). Deterministic end to end — no
    * random init, ties to the lowest cluster id.
    *
    * Returns (corpusWithClusterCol, centroids collected) after `iters`
    * reassign-update rounds: the cluster column is the assignment
    * against the FINAL returned centroids' predecessors — i.e. the
    * standard Lloyd output where the returned means are the means OF
    * the returned assignment. */
  def kMeans(corpus: DataFrame, initClusterCol: String, iters: Int,
      vecCol: String = "embedding", outCol: String = "ivf_cluster")
      : (DataFrame, Seq[(Long, Array[Double])]) = {
    require(iters >= 1, "iters must be >= 1")
    var cents = collectCentroids(
      centroids(corpus, initClusterCol, vecCol))
    var assigned = corpus
    var i = 0
    while (i < iters) {
      assigned = withNearestCentroid(corpus, cents, vecCol, outCol)
      // clusters with no member rows drop out here: group-by-mean only
      // yields centroids of nonempty groups, matching the SQL replay
      cents = collectCentroids(centroids(assigned, outCol, vecCol))
      i += 1
    }
    (assigned, cents)
  }

  /** IVF index build: k-means over `initClusterCol` seeds, corpus comes
    * back with the trained `ivf_cluster` column [[ivfTopK]] consumes. */
  def buildIvfIndex(corpus: DataFrame, initClusterCol: String,
      iters: Int = 2, vecCol: String = "embedding",
      outCol: String = "ivf_cluster"): DataFrame =
    kMeans(corpus, initClusterCol, iters, vecCol, outCol)._1

  /** IVF-style pruned search: assign each query to its nProbe nearest
    * centroids, scan only corpus rows in those clusters. Exactness is
    * traded for a ~(nProbe/nClusters) scan fraction — the standard ANN
    * recall/cost dial. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      clusterCol: String, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame = {
    val cents = centroids(corpus, clusterCol, vecCol)
    val q = queries.select(col(queryIdCol), asDouble(col(vecCol)).as("q_vec"))
    val wProbe = Window.partitionBy(col(queryIdCol))
      .orderBy(col("c_cos").desc, col(clusterCol))
    // centroid probe ranking: the frame is |queries|·|clusters| rows of
    // small structs, and each query's candidates must meet anyway — a
    // per-query window here is the right size, not a scale risk
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("c_cos", cosine(col("q_vec"), col("centroid")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col(queryIdCol), col("q_vec"), col(clusterCol))
    val c = corpus.select(col(idCol), col(clusterCol),
      asDouble(col(vecCol)).as("c_vec"))
    val scored = c.join(broadcast(probes), Seq(clusterCol))
      .withColumn("cos", cosine(col("c_vec"), col("q_vec")))
    topKPerQuery(scored, k, idCol, queryIdCol)
  }

  /** Embedding-cosine near-duplicate pairs — the vector member of the
    * dedup family (exact hash / Jaccard / MinHash-LSH / SimHash live in
    * [[Dedup]]). Classic two-stage near-dup shape:
    *
    *   1. CANDIDATES: band each row's 64-bit SRP sketch into `bands`
    *      buckets of `bandBits` bits; rows sharing any (band, value)
    *      bucket are candidates. Expansion goes through an inverted
    *      index (groupBy bucket → postings → ordered pairs, same shape
    *      as [[Dedup.jaccardPairs]]) — NEVER a self-join, so the only
    *      shuffles are narrow (id, bucket) rows and the candidate set
    *      itself. P(band match) falls exponentially with the angle, the
    *      standard LSH amplification.
    *   2. VERIFY: join the ~|candidates| pairs back to the vectors and
    *      keep exact cosine ≥ `minCos`.
    *
    * At 100 TB the candidate set (not the n² pair space) bounds the
    * work; `dfCap` drops degenerate buckets (e.g. the all-zeros sketch
    * of null-ish vectors) the way hot shingles are capped in text dedup.
    */
  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    * embedding space, compute pairwise cosine only INSIDE each cluster,
    * and drop every row with a semantic duplicate (cos ≥ `minCos`) of
    * smaller id — the paper's keep-one-per-duplicate-set policy made
    * deterministic by the id order (the paper keeps a random member).
    *
    * Emits one row per corpus row: (idCol, cluster, n_sim_smaller,
    * max_cos_smaller, keep).
    *
    * Scale shape: clustering is [[kMeans]] (row-local assignment, k×dim
    * centroid round-trips). The quadratic pairwise stage — SemDeDup's
    * defining cost — is confined to within-cluster pairs via ONE
    * equi-shuffle on the cluster id per side; cluster count grows with
    * the corpus so |cluster|² stays bounded (the paper runs k=50k on
    * LAION). The verdict join is a per-id aggregate + left join. */
  def semDedup(corpus: DataFrame, initClusterCol: String,
      iters: Int = 1, minCos: Double = 0.95, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (assigned, _) = kMeans(corpus, initClusterCol, iters, vecCol)
    val vecs = assigned.select(col(idCol).as("id"),
      col("ivf_cluster").as("cl"), asDouble(col(vecCol)).as("v"))
    val pairs = vecs.select(col("id").as("id_a"), col("cl"),
        col("v").as("v_a"))
      .join(vecs.select(col("id").as("id_b"), col("cl"),
        col("v").as("v_b")), Seq("cl"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= minCos)
    val stats = pairs.groupBy(col("id_b").as("id"))
      .agg(count(lit(1)).as("n_sim_smaller"),
        max(col("cos")).as("max_cos_smaller"))
    vecs.select(col("id"), col("cl").as("cluster"))
      .join(stats, Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        coalesce(col("n_sim_smaller"), lit(0L)).as("n_sim_smaller"),
        col("max_cos_smaller"),
        col("n_sim_smaller").isNull.as("keep"))
  }

  /** Semantic decontamination — the embedding-space complement of the
    * n-gram decontaminators (exact spans / shingle overlap): flag every
    * corpus item whose MAX cosine to ANY held-out eval item reaches
    * `minCos`, with the nearest eval id for audit (max-cos ties break
    * to the smaller eval id, so the verdict is deterministic). Eval
    * suites are tiny next to a training corpus, so the eval side is
    * broadcast and the corpus is scanned ONCE with no shuffle of
    * corpus vectors: the per-(corpus row × eval row) scores collapse
    * map-side to one row per corpus id before the final exchange.
    * Output: (idCol, max_cos, nearest_eval, contaminated).
    *
    * NOTE: unlike the other plan-builders here this validates EAGERLY —
    * the empty-eval guard runs a Spark job over the (tiny, batch) eval
    * frame at call time, by design: an empty eval suite would make the
    * whole audit silently vanish downstream. Consequently `evalSet`
    * must be a batch DataFrame, never a streaming one. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      minCos: Double, idCol: String = "vec_id",
      vecCol: String = "embedding",
      evalIdCol: String = "eval_id"): DataFrame = {
    // an EMPTY eval suite would make the crossJoin+groupBy return zero
    // rows — downstream reads that as "no corpus rows scored" and the
    // whole audit silently vanishes; fail loudly instead (the eval
    // side is tiny by contract, so the eagerness costs nothing)
    require(!evalSet.isEmpty,
      "semanticDecontaminate: eval set is empty — a misconfigured " +
        "hold-out filter would silently drop the whole audit")
    val e = evalSet.select(col(evalIdCol).as("eval_id"),
      asDouble(col(vecCol)).as("e_vec"))
    val c = corpus.select(col(idCol), asDouble(col(vecCol)).as("c_vec"))
    c.crossJoin(broadcast(e))
      .withColumn("cos", cosine(col("c_vec"), col("e_vec")))
      .groupBy(col(idCol))
      .agg(max(struct(col("cos"),
        (-col("eval_id")).as("neg_id"))).as("m"))
      .select(col(idCol), col("m.cos").as("max_cos"),
        (-col("m.neg_id")).as("nearest_eval"),
        (col("m.cos") >= minCos).as("contaminated"))
  }

  def srpNearDupPairs(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64,
      bands: Int = 8, bandBits: Int = 8, minCos: Double = 0.3,
      dfCap: Option[Int] = None): DataFrame = {
    require(bands * bandBits <= 64, "bands*bandBits must fit in 64 bits")
    val mask = (1L << bandBits) - 1
    val bandVals = array((0 until bands).map(j =>
      shiftrightunsigned(col("sketch"), bandBits * j).bitwiseAND(
        lit(mask))): _*)
    val buckets = srpSketches(corpus, idCol, vecCol, dim)
      .select(col(idCol).as("id"), posexplode(bandVals).as(Seq("bj", "bv")))
    val inv = buckets.groupBy("bj", "bv")
      .agg(collect_list(struct(col("id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    val capped = dfCap.map(c => inv.filter(size(col("ds")) <= c))
      .getOrElse(inv)
    val cands = Dedup.expandPairs(capped)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
    cands
      .join(vecs.withColumnsRenamed(Map(idCol -> "id_a", "v" -> "v_a")),
        Seq("id_a"))
      .join(vecs.withColumnsRenamed(Map(idCol -> "id_b", "v" -> "v_b")),
        Seq("id_b"))
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Product quantization (Jégou, Douze, Schmid 2011): the vector is
    * split into `m` contiguous subspaces and each subspace gets its OWN
    * k-means codebook ([[kMeans]], deterministic `id % initMod` seeds);
    * a vector's code is the m-tuple of nearest-codeword ids, so the
    * corpus compresses from dim doubles to m small ints per row — the
    * memory trick behind IVF-PQ indexes at billion-vector scale (the
    * codebooks are m·k·(dim/m) doubles, KB-sized, broadcast into the
    * encode expression; distance tables against them replace full
    * vectors at query time).
    *
    * Each subspace trains independently (same iteration shape the q38
    * oracle replays); the final encode is ONE corpus pass with all m
    * codebooks baked into row-local argmin expressions — no join, no
    * shuffle. Returns the encoded frame (`pq_code_s` per subspace plus
    * `recon_err`, the summed squared quantization error) and the
    * codebooks. */
  def pqTrain(corpus: DataFrame, m: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      initMod: Int = 16)
      : (DataFrame, Seq[Seq[(Long, Array[Double])]]) = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val v = asDouble(col(vecCol))
    // All m subspace trainings FUSED into one corpus scan per Lloyd
    // iteration (the per-subspace assignment is row-local, so nothing
    // forces m separate scans): explode the full vector once, derive
    // (subspace, within-subspace pos) from the element position, and
    // aggregate every subspace's per-(cluster, dim) mean in a single
    // m·k·sub-row shuffle. Value-identical to training each subspace
    // independently — each (s, cluster, dim) group sees exactly the
    // same element multiset either way.
    val sIdx = floor(col("pos") / lit(sub)).cast("int").as("s")
    val spIdx = pmod(col("pos"), lit(sub)).cast("int").as("sp")
    def collectBooks(grouped: DataFrame)
        : Vector[Seq[(Long, Array[Double])]] = {
      // m × k × sub rows — KB-sized, the same driver boundary kMeans uses
      val rows = grouped.select(col("s"), col("cl").cast("long"),
        col("sp"), col("mv")).collect()
      (0 until m).map { s =>
        rows.filter(_.getInt(0) == s)
          .groupBy(_.getLong(1))
          .map { case (cid, rs) =>
            val arr = new Array[Double](sub)
            rs.foreach(r => arr(r.getInt(2)) = r.getDouble(3))
            cid -> arr
          }.toSeq.sortBy(_._1)
      }.toVector
    }
    var books: Vector[Seq[(Long, Array[Double])]] = collectBooks(
      corpus.select(
        pmod(col(idCol), lit(initMod.toLong)).as("cl"),
        posexplode(v).as(Seq("pos", "x")))
        .groupBy(sIdx, col("cl"), spIdx)
        .agg(avg(col("x")).as("mv")))
    var it = 0
    while (it < iters) {
      val withCodes = (0 until m).foldLeft(corpus) { (df, s) =>
        df.withColumn(s"__pq_it_$s",
          nearest(slice(v, s * sub + 1, sub), books(s)).getField("c"))
      }
      books = collectBooks(
        withCodes.select(
          array((0 until m).map(s => col(s"__pq_it_$s")): _*).as("codes"),
          posexplode(v).as(Seq("pos", "x")))
          .select(sIdx, spIdx, col("pos"), col("x"), col("codes"))
          .withColumn("cl",
            element_at(col("codes"), col("s") + 1))
          .groupBy(col("s"), col("cl"), col("sp"))
          .agg(avg(col("x")).as("mv")))
      it += 1
    }
    val encoded = (0 until m).foldLeft(corpus) { (df, s) =>
      val best = nearest(slice(v, s * sub + 1, sub), books(s))
      df.withColumn(s"pq_code_$s", best.getField("c"))
        .withColumn(s"__pq_err_$s", best.getField("d"))
    }
    val err = (0 until m).map(s => col(s"__pq_err_$s"))
      .reduceLeft(_ + _)
    (encoded.withColumn("recon_err", err)
      .drop((0 until m).map(s => s"__pq_err_$s"): _*), books)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes — the query-time half
    * of [[pqTrain]]: each query builds an m×k distance TABLE against the
    * codebooks (queries × codewords, a KB-sized broadcast frame), and a
    * corpus row's approximate distance is the sum of m table LOOKUPS on
    * its codes — the full vectors never participate, which is the whole
    * point of PQ at billion-vector scale (the scan touches m bytes per
    * row plus a shared table).
    *
    * The per-subspace lookups join in a FIXED order and the distance is
    * the left-to-right sum d_0 + … + d_{m−1} (a grouped sum would
    * re-associate nondeterministically); rank ties break by id. */
  def pqAdcTopK(encoded: DataFrame,
      books: Seq[Seq[(Long, Array[Double])]], queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val m = books.length
    val sub = books.head.head._2.length
    val bookRows = for {
      s <- 0 until m
      (cid, c) <- books(s)
    } yield (s, cid, c.toSeq)
    val bdf = bookRows.toDF("s", "code", "centroid")
    val q = queries.select(col(queryIdCol),
      asDouble(col(vecCol)).as("qv"))
    val base = encoded
      .select(col(idCol) +: (0 until m).map(s => col(s"pq_code_$s")): _*)
      .crossJoin(broadcast(q.select(col(queryIdCol))))
    val looked = (0 until m).foldLeft(base) { (df, s) =>
      val tbl = q.join(broadcast(bdf.filter(col("s") === s)))
        .select(col(queryIdCol), col("code").as(s"pq_code_$s"),
          graft.functions.Expressions.vecSqDist(
            slice(col("qv"), s * sub + 1, sub), col("centroid"))
            .as(s"__adc_$s"))
      df.join(broadcast(tbl), Seq(queryIdCol, s"pq_code_$s"))
    }
    val adc = (0 until m).map(s => col(s"__adc_$s")).reduceLeft(_ + _)
    // Bounded-heap per-query top-k (same shape as [[topKPerQuery]]): the
    // map side keeps ≤ k rows per partition×query, so only k·partitions
    // rows per query move — a window partitioned by query id would instead
    // gather each query's ENTIRE scored corpus into one task (the
    // billion-vector scale-killer). Key = (adc asc, id asc), identical
    // tie-break to the oracle's ORDER BY.
    looked.withColumn("adc", adc)
      .groupBy(col(queryIdCol))
      .agg(graft.functions.TopKAgg.topK(
        struct(col("adc").as("d"), col(idCol).as("id")),
        struct(col(idCol).as("id"), col("adc").as("adc")), k).as("top"))
      .select(col(queryIdCol), posexplode(col("top")).as(Seq("r", "hit")))
      .select(col(queryIdCol), col("hit.id").as(idCol),
        col("hit.adc").as("adc"), (col("r") + 1).cast("long").as("rank"))
  }

  /** ANN quality-eval harness: recall@k and the reciprocal rank of the
    * true nearest neighbor, measuring the PRODUCTION approximate path
    * (any (query_id, vec_id, rank) frame from [[ivfTopK]] /
    * [[srpHammingTopK]] / [[pqAdcTopK]]) against [[bruteForceTopK]]
    * ground truth — the eval every index-parameter sweep (nProbe, band
    * bits, PQ m) runs before a corpus-scale rollout, as a first-class
    * relational surface.
    *
    * Shape at 100 TB: ground and approx are both bounded-heap top-k
    * outputs (k rows per query), so the eval join touches k·|queries|
    * rows total — negligible next to the scans that produced them.
    * `k` is the nominal cutoff both inputs were built with; recall is
    * divided by the ACTUAL per-query ground-truth count so a corpus
    * smaller than k doesn't understate it. */
  def annRecallEval(ground: DataFrame, approx: DataFrame, k: Int,
      idCol: String = "vec_id",
      queryIdCol: String = "query_id"): DataFrame = {
    val g = ground.select(col(queryIdCol), col(idCol),
      col("rank").as("g_rank"))
    val a = approx.select(col(queryIdCol), col(idCol),
      col("rank").as("a_rank"))
    g.join(a, Seq(queryIdCol, idCol), "left")
      .groupBy(col(queryIdCol))
      .agg(count(col("a_rank")).as("n_overlap"),
        count(lit(1)).as("n_ground"),
        coalesce(max(when(col("g_rank") === 1,
          lit(1.0) / col("a_rank"))), lit(0.0)).as("rr"))
      // denominator is the PER-QUERY ground-truth count, not k: on a
      // corpus smaller than k the truth list is short and dividing by
      // k would understate recall. (A query with ZERO ground rows has
      // no row here at all — recall over an empty truth set is
      // undefined, and the left join's driving side is the truth.)
      .withColumn("recall_at_k", col("n_overlap") / col("n_ground"))
      .drop("n_ground")
  }
}
