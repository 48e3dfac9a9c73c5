package graft.queries

import graft.Q
import graft.Q.t
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float], dim 64).
  * Brute-force cosine top-k is oracle-checked against DuckDB's
  * list_cosine_similarity (both sides in double, ordered by the rounded
  * score so last-bit formula differences cannot reorder rows).
  */
object SimilarityQ {

  /** Brute-force cosine top-k against a fixed query vector (the
    * smallest vec_id present — id 0 on the driver fixture; anchored,
    * not hard-coded, so the probe survives SeedPerturb's id shifts). */
  val q36 = Q(
    "q36_cosine_topk",
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.orderBy($"vec_id").limit(1)
        .select(lit(0L).as("query_id"), $"embedding")
      Similarity.bruteForceTopK(emb, q, k = 25)
        .select($"vec_id", round($"cos", 6).as("cos_sim"))
        .orderBy($"cos_sim".desc, $"vec_id")
    },
    Some("""
      SELECT vec_id,
             round(list_cosine_similarity(
               CAST(embedding AS DOUBLE[]),
               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                WHERE vec_id = (SELECT min(vec_id) FROM embeddings))),
               6) AS cos_sim
      FROM embeddings
      ORDER BY cos_sim DESC, vec_id
      LIMIT 25"""))

  /** Element-wise centroid per label (posexplode + per-dimension mean) —
    * the IVF coarse-quantizer build, oracle-checked per dimension. */
  val q37 = Q(
    "q37_embedding_centroids",
    (s, d) => {
      import s.implicits._
      t(s, d, "embeddings")
        .select($"label",
          posexplode($"embedding".cast("array<double>")).as(Seq("pos", "v")))
        .groupBy($"label", $"pos")
        .agg(round(avg($"v"), 6).as("mean_v"),
          count(lit(1)).as("n_vecs"))
        .withColumn("pos", ($"pos" + 1).cast("long"))
        .orderBy($"label", $"pos")
    },
    Some("""
      SELECT label, i AS pos,
             round(avg(embedding[i]), 6) AS mean_v,
             count(*) AS n_vecs
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
      GROUP BY label, i
      ORDER BY label, pos"""))

  /** The q38 IVF replay as a reusable CTE chain (through `ranked`):
    * two unrolled Lloyd rounds seeded from per-label means, probe
    * ranking, pruned scan. Shared verbatim by q38 and the q147 recall
    * eval so both gate the SAME production pipeline. */
  private val ivfOracleCtes = """emb AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
      ), q AS (
        SELECT vec_id AS query_id, e AS qv FROM emb
        WHERE vec_id IN (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 3)
      ), dims AS (SELECT unnest(generate_series(1, 64)) AS i),
      c0 AS (
        SELECT CAST(label AS BIGINT) AS c, i, avg(e[i]) AS m
        FROM emb CROSS JOIN dims GROUP BY 1, 2
      ), c0v AS (SELECT c, list(m ORDER BY i) AS cv FROM c0 GROUP BY c),
      a1 AS (
        SELECT vec_id, c FROM (
          SELECT emb.vec_id, c0v.c,
                 row_number() OVER (PARTITION BY emb.vec_id
                   ORDER BY list_sum(list_transform(range(1, 65),
                     dd -> (e[dd] - cv[dd]) * (e[dd] - cv[dd]))), c0v.c)
                   AS rn
          FROM emb CROSS JOIN c0v) WHERE rn = 1
      ), c1 AS (
        SELECT a1.c, i, avg(e[i]) AS m
        FROM a1 JOIN emb USING (vec_id) CROSS JOIN dims GROUP BY 1, 2
      ), c1v AS (SELECT c, list(m ORDER BY i) AS cv FROM c1 GROUP BY c),
      a2 AS (
        SELECT vec_id, c FROM (
          SELECT emb.vec_id, c1v.c,
                 row_number() OVER (PARTITION BY emb.vec_id
                   ORDER BY list_sum(list_transform(range(1, 65),
                     dd -> (e[dd] - cv[dd]) * (e[dd] - cv[dd]))), c1v.c)
                   AS rn
          FROM emb CROSS JOIN c1v) WHERE rn = 1
      ), c2 AS (
        SELECT a2.c, i, avg(e[i]) AS m
        FROM a2 JOIN emb USING (vec_id) CROSS JOIN dims GROUP BY 1, 2
      ), c2v AS (SELECT c, list(m ORDER BY i) AS cv FROM c2 GROUP BY c),
      probes AS (
        SELECT query_id, c FROM (
          SELECT q.query_id, c2v.c,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY list_cosine_similarity(c2v.cv, q.qv) DESC,
                            c2v.c) AS pr
          FROM q CROSS JOIN c2v)
        WHERE pr <= 3
      ), ranked AS (
        SELECT p.query_id, e.vec_id,
               list_cosine_similarity(e.e, q.qv) AS cos,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY list_cosine_similarity(e.e, q.qv) DESC,
                          e.vec_id) AS rank
        FROM probes p
        JOIN a2 ON a2.c = p.c
        JOIN emb e ON e.vec_id = a2.vec_id
        JOIN q ON q.query_id = p.query_id)"""

  /** IVF-pruned ANN top-k over a TRAINED index: two distributed Lloyd's
    * k-means iterations seeded from the per-label means
    * (Similarity.buildIvfIndex), then the pruned probe/scan. The whole
    * pipeline is deterministic (mean centroids, squared-L2 argmin with
    * lowest-cluster tie-break, cosine probes, rank by raw cosine with
    * vec_id tiebreak), so the oracle replays it end to end: both
    * reassign-update rounds are unrolled as SQL CTEs with the squared
    * distance written as the same sequential per-dimension sum the
    * vec_sqdist kernel computes. Output cosines rounded to 6 on both
    * sides; ranking uses the raw values in both engines. */
  val q38 = Q(
    "q38_ann_ivf",
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val indexed = Similarity.buildIvfIndex(emb, "label", iters = 2)
      val q = indexed.orderBy($"vec_id").limit(3)
        .select($"vec_id".as("query_id"), $"embedding")
      Similarity.ivfTopK(indexed, q, k = 10,
          clusterCol = "ivf_cluster", nProbe = 3)
        .select($"query_id", $"vec_id", round($"cos", 6).as("cos_sim"),
          $"rank")
        .orderBy($"query_id", $"rank")
    },
    Some(s"""
      WITH $ivfOracleCtes
      SELECT query_id, vec_id, round(cos, 6) AS cos_sim,
             CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= 10
      ORDER BY query_id, rank"""))

  /** ANN recall@10 + true-NN reciprocal rank of the PRODUCTION IVF path
    * (same build/probe pipeline as q38) against brute-force ground
    * truth — [[graft.operators.Similarity.annRecallEval]]. Overlap
    * counts are integers; recall and rr are single divisions of
    * integers, bit-exact across engines. The oracle replays the full
    * IVF chain (shared CTEs with q38) plus an exact ground-truth
    * ranking. */
  val q147 = Q(
    "q147_ann_recall_eval",
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val indexed = Similarity.buildIvfIndex(emb, "label", iters = 2)
      val q = indexed.orderBy($"vec_id").limit(3)
        .select($"vec_id".as("query_id"), $"embedding")
      val ground = Similarity.bruteForceTopK(emb, q, k = 10)
      val approx = Similarity.ivfTopK(indexed, q, k = 10,
        clusterCol = "ivf_cluster", nProbe = 3)
      Similarity.annRecallEval(ground, approx, k = 10)
        .select($"query_id", $"n_overlap",
          DomainQ.emit6($"recall_at_k").as("recall_at_k"),
          DomainQ.emit6($"rr").as("rr"))
        .orderBy($"query_id")
    },
    Some(s"""
      WITH $ivfOracleCtes,
      gt AS (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(e.e, q.qv) DESC,
                          e.vec_id) AS g_rank
        FROM emb e CROSS JOIN q
      ), gtk AS (
        SELECT query_id, vec_id, g_rank FROM gt WHERE g_rank <= 10
      ), ap AS (
        SELECT query_id, vec_id, rank FROM ranked WHERE rank <= 10
      ), ev AS (
        SELECT g.query_id,
               count(ap.vec_id) AS n_overlap,
               count(*) AS n_ground,
               coalesce(max(CASE WHEN g.g_rank = 1
                 THEN 1.0 / ap.rank END), 0.0) AS rr
        FROM gtk g LEFT JOIN ap
          ON ap.query_id = g.query_id AND ap.vec_id = g.vec_id
        GROUP BY 1)
      SELECT query_id, n_overlap,
             round(CAST(n_overlap AS DOUBLE) / n_ground, 6) + 0.0
               AS recall_at_k,
             round(rr, 6) + 0.0 AS rr
      FROM ev ORDER BY query_id"""))

  /** SRP-sketch ANN: top-10 per query by (sketch Hamming, vec_id) —
    * integer keys end to end, so the oracle comparison has no float
    * boundary at all except inside the sketch bits themselves (whose
    * dot products accumulate in the same dimension order both sides). */
  val q41 = Q(
    "q41_srp_hamming_topk",
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.orderBy($"vec_id").limit(3)
        .select($"vec_id".as("query_id"), $"embedding")
      Similarity.srpHammingTopK(emb, q, k = 10)
        .orderBy($"query_id", $"rank")
    },
    Some {
      val mixBit = DuckOracle.mix(
        "CAST(p * 64 + d - 1 AS UHUGEINT)") + " % 2 = 1"
      s"""
      WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), sg AS (
        SELECT p,
               list(CASE WHEN $mixBit THEN 1.0 ELSE -1.0 END
                    ORDER BY d) AS sl
        FROM (SELECT unnest(generate_series(0, 63)) AS p)
             CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d)
        GROUP BY p
      ), bits AS (
        SELECT emb.vec_id, sg.p,
               CASE WHEN list_sum(list_transform(range(1, 65),
                      d -> sl[d] * e[d])) >= 0
                    THEN (${DuckOracle.pow2H})[sg.p + 1]
                    ELSE 0::HUGEINT END AS b
        FROM emb CROSS JOIN sg
      ), sk AS (
        SELECT vec_id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                    THEN s - 18446744073709551616::HUGEINT
                    ELSE s END AS BIGINT) AS sketch
        FROM (SELECT vec_id, sum(b) AS s FROM bits GROUP BY vec_id)
      ), ranked AS (
        SELECT q.vec_id AS query_id, c.vec_id,
               CAST(bit_count(xor(c.sketch, q.sketch)) AS BIGINT)
                 AS hamming,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY bit_count(xor(c.sketch, q.sketch)), c.vec_id)
                 AS rank
        FROM sk c CROSS JOIN
          (SELECT * FROM sk ORDER BY vec_id LIMIT 3) q)
      SELECT query_id, vec_id, hamming, CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= 10
      ORDER BY query_id, rank"""
    })

  /** Embedding-cosine near-duplicate pairs (the vector member of the
    * dedup family, q31-q34): SRP sketches banded 8×8 bits → inverted-
    * index candidate pairs → exact-cosine verify. The oracle replays the
    * whole pipeline: sketch bits, band values via unsigned shifts,
    * self-joined candidates, list_cosine_similarity. The operator's raw
    * recall floor (0.29) sits BELOW the rounded output threshold (0.30)
    * so no float boundary can flip candidate membership. */
  val q44 = Q(
    "q44_embedding_neardup",
    (s, d) => {
      import s.implicits._
      Similarity.srpNearDupPairs(t(s, d, "embeddings"),
          bands = 8, bandBits = 8, minCos = 0.29)
        .withColumn("cos_sim", round($"cos", 6))
        .filter($"cos_sim" >= 0.3)
        .select($"id_a", $"id_b", $"cos_sim")
        .orderBy($"id_a", $"id_b")
    },
    Some {
      val mixBit = DuckOracle.mix(
        "CAST(p * 64 + d - 1 AS UHUGEINT)") + " % 2 = 1"
      s"""
      WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), sg AS (
        SELECT p,
               list(CASE WHEN $mixBit THEN 1.0 ELSE -1.0 END
                    ORDER BY d) AS sl
        FROM (SELECT unnest(generate_series(0, 63)) AS p)
             CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d)
        GROUP BY p
      ), bits AS (
        SELECT emb.vec_id, sg.p,
               CASE WHEN list_sum(list_transform(range(1, 65),
                      d -> sl[d] * e[d])) >= 0
                    THEN (${DuckOracle.pow2H})[sg.p + 1]
                    ELSE 0::HUGEINT END AS b
        FROM emb CROSS JOIN sg
      ), sku AS (
        SELECT vec_id, CAST(sum(b) AS UHUGEINT) AS s
        FROM bits GROUP BY vec_id
      ), bk AS (
        SELECT vec_id, bj,
               CAST((s >> CAST(8 * bj AS UHUGEINT)) & 255::UHUGEINT
                    AS BIGINT) AS bv
        FROM sku CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS bj)
      ), cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bk a JOIN bk b
          ON a.bj = b.bj AND a.bv = b.bv AND a.vec_id < b.vec_id
      )
      SELECT c.id_a, c.id_b,
             round(list_cosine_similarity(ea.e, eb.e), 6) AS cos_sim
      FROM cand c
      JOIN emb ea ON ea.vec_id = c.id_a
      JOIN emb eb ON eb.vec_id = c.id_b
      WHERE round(list_cosine_similarity(ea.e, eb.e), 6) >= 0.3
      ORDER BY id_a, id_b"""
    })

  /** SemDeDup (Similarity.semDedup): one Lloyd iteration from the
    * label seeds (same replay shape as q38's two-iteration oracle),
    * within-cluster pairwise cosine, drop rows with a ≥0.35 duplicate
    * of smaller id. The synthetic embeddings have no true near-dups
    * (max within-cluster cos ≈ 0.51), so the threshold sits at the
    * ~99.9th pair percentile to exercise the drop path. */
  val q90 = Q(
    "q90_semantic_dedup",
    (s, d) => {
      import s.implicits._
      Similarity.semDedup(t(s, d, "embeddings"), "label",
          iters = 1, minCos = 0.35)
        .select($"vec_id", $"cluster", $"n_sim_smaller",
          DomainQ.emit6($"max_cos_smaller").as("max_cos_smaller"),
          $"keep")
        .orderBy($"vec_id")
    },
    Some("""
      WITH emb AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
      ), dims AS (SELECT unnest(generate_series(1, 64)) AS i),
      c0 AS (
        SELECT CAST(label AS BIGINT) AS c, i, avg(e[i]) AS m
        FROM emb CROSS JOIN dims GROUP BY 1, 2
      ), c0v AS (SELECT c, list(m ORDER BY i) AS cv FROM c0 GROUP BY c),
      a1 AS (
        SELECT vec_id, c FROM (
          SELECT emb.vec_id, c0v.c,
                 row_number() OVER (PARTITION BY emb.vec_id
                   ORDER BY list_sum(list_transform(range(1, 65),
                     dd -> (e[dd] - cv[dd]) * (e[dd] - cv[dd]))), c0v.c)
                   AS rn
          FROM emb CROSS JOIN c0v) WHERE rn = 1
      ), av AS (
        SELECT a1.vec_id, a1.c, e.e FROM a1 JOIN emb e USING (vec_id)
      ), hits AS (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b,
               list_cosine_similarity(x.e, y.e) AS cos
        FROM av x JOIN av y ON x.c = y.c AND x.vec_id < y.vec_id
        WHERE list_cosine_similarity(x.e, y.e) >= 0.35
      ), st AS (
        SELECT id_b AS vec_id, count(*) AS n_sim_smaller,
               max(cos) AS mc
        FROM hits GROUP BY 1
      )
      SELECT av.vec_id, av.c AS cluster,
             coalesce(st.n_sim_smaller, 0) AS n_sim_smaller,
             round(st.mc, 6) + 0.0 AS max_cos_smaller,
             st.vec_id IS NULL AS keep
      FROM av LEFT JOIN st USING (vec_id)
      ORDER BY vec_id"""))

  /** Embedding-space QC report (the drift-monitoring pass a vector
    * pipeline runs per batch): per label — member count, mean vector
    * L2 norm, and mean cosine to the label centroid (cluster
    * tightness). One centroid aggregation + one row-local kernel scan;
    * scales like q38's index build. */
  val q102 = Q(
    "q102_embedding_qc",
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
        .select($"label".cast("long").as("label"),
          $"embedding".cast("array<double>").as("v"))
      val cents = Similarity.centroids(
        emb.withColumnRenamed("v", "embedding"), "label")
      emb.join(cents, Seq("label"))
        .select($"label",
          Similarity.norm($"v").as("nrm"),
          Similarity.cosine($"v", $"centroid").as("cc"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n"),
          DomainQ.emit6(avg($"nrm")).as("mean_norm"),
          DomainQ.emit6(avg($"cc")).as("mean_cos_to_centroid"))
        .orderBy($"label")
    },
    Some("""
      WITH emb AS (
        SELECT CAST(label AS BIGINT) AS label,
               CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
      ), dims AS (SELECT unnest(generate_series(1, 64)) AS i),
      c0 AS (
        SELECT label, i, avg(e[i]) AS m
        FROM emb CROSS JOIN dims GROUP BY 1, 2
      ), cv AS (SELECT label, list(m ORDER BY i) AS c FROM c0 GROUP BY 1)
      SELECT emb.label, count(*) AS n,
             round(avg(sqrt(list_sum(list_transform(range(1, 65),
               dd -> e[dd] * e[dd])))), 6) + 0.0 AS mean_norm,
             round(avg(list_cosine_similarity(e, cv.c)), 6) + 0.0
               AS mean_cos_to_centroid
      FROM emb JOIN cv USING (label)
      GROUP BY emb.label
      ORDER BY label"""))

  /** Product-quantization training + encode (Similarity.pqTrain): four
    * 16-dim subspaces, 16 codewords each, two Lloyd iterations per
    * subspace from `vec_id % 16` seeds, then a fresh assignment against
    * the final codebooks plus the summed squared reconstruction error.
    * The oracle re-derives every subspace's full iteration sequence (the
    * q38 replay shape ×4) — codes are integers, so the only float gate
    * is recon_err whose per-dimension accumulation order matches on both
    * sides. */
  val q121 = Q(
    "q121_pq_codes", {
      (s, d) => {
        import s.implicits._
        val (encoded, _) = Similarity.pqTrain(
          t(s, d, "embeddings"), m = 4, iters = 2)
        encoded.select($"vec_id", $"pq_code_0", $"pq_code_1",
            $"pq_code_2", $"pq_code_3",
            round($"recon_err", 6).as("recon_err"))
          .orderBy($"vec_id")
      }
    },
    Some {
      s"""
      WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), dims16 AS (SELECT unnest(generate_series(1, 16)) AS i),
      ${(0 until 4).map(pqSubChain).mkString(",\n      ")}
      SELECT e0.vec_id,
             e0.c AS pq_code_0, e1.c AS pq_code_1,
             e2.c AS pq_code_2, e3.c AS pq_code_3,
             round(e0.dd + e1.dd + e2.dd + e3.dd, 6) AS recon_err
      FROM enc_0 e0 JOIN enc_1 e1 USING (vec_id)
                    JOIN enc_2 e2 USING (vec_id)
                    JOIN enc_3 e3 USING (vec_id)
      ORDER BY e0.vec_id"""
    })

  /** The q121/q122 oracle's per-subspace PQ chain: init means from
    * vec_id%16 seeds, two Lloyd iterations, final encode assignment with
    * its quantization distance. */
  private def pqSubChain(s: Int): String = {
    val lo = s * 16
    def d(cv: String) =
      s"""list_sum(list_transform(range(1, 17),
          dd -> (e[$lo + dd] - $cv[dd]) * (e[$lo + dd] - $cv[dd])))"""
    s"""c0_$s AS (
        SELECT CAST(vec_id % 16 AS BIGINT) AS c, i, avg(e[$lo + i]) AS m
        FROM emb CROSS JOIN dims16 GROUP BY 1, 2
      ), c0v_$s AS (
        SELECT c, list(m ORDER BY i) AS cv FROM c0_$s GROUP BY c
      ), a1_$s AS (
        SELECT vec_id, c FROM (
          SELECT emb.vec_id, k.c,
                 row_number() OVER (PARTITION BY emb.vec_id
                   ORDER BY ${d("k.cv")}, k.c) AS rn
          FROM emb CROSS JOIN c0v_$s k) WHERE rn = 1
      ), c1_$s AS (
        SELECT a1_$s.c, i, avg(e[$lo + i]) AS m
        FROM a1_$s JOIN emb USING (vec_id) CROSS JOIN dims16
        GROUP BY 1, 2
      ), c1v_$s AS (
        SELECT c, list(m ORDER BY i) AS cv FROM c1_$s GROUP BY c
      ), a2_$s AS (
        SELECT vec_id, c FROM (
          SELECT emb.vec_id, k.c,
                 row_number() OVER (PARTITION BY emb.vec_id
                   ORDER BY ${d("k.cv")}, k.c) AS rn
          FROM emb CROSS JOIN c1v_$s k) WHERE rn = 1
      ), c2_$s AS (
        SELECT a2_$s.c, i, avg(e[$lo + i]) AS m
        FROM a2_$s JOIN emb USING (vec_id) CROSS JOIN dims16
        GROUP BY 1, 2
      ), c2v_$s AS (
        SELECT c, list(m ORDER BY i) AS cv FROM c2_$s GROUP BY c
      ), enc_$s AS (
        SELECT vec_id, c, dd FROM (
          SELECT emb.vec_id, k.c, ${d("k.cv")} AS dd,
                 row_number() OVER (PARTITION BY emb.vec_id
                   ORDER BY ${d("k.cv")}, k.c) AS rn
          FROM emb CROSS JOIN c2v_$s k) WHERE rn = 1
      )"""
  }

  /** ADC search over the PQ codes (Similarity.pqAdcTopK): queries build
    * m×k distance tables against the codebooks; a corpus row scores as
    * the fixed-order sum of m table lookups on its codes — the scan
    * never touches full vectors. The oracle extends the q121 chains with
    * per-subspace query tables and the same lookup-join + rank. */
  val q122 = Q(
    "q122_pq_adc_topk", {
      (s, d) => {
        import s.implicits._
        val emb = t(s, d, "embeddings")
        val (encoded, books) = Similarity.pqTrain(emb, m = 4, iters = 2)
        val q = emb.orderBy($"vec_id").limit(3)
          .select($"vec_id".as("query_id"), $"embedding")
        Similarity.pqAdcTopK(encoded, books, q, k = 10)
          .select($"query_id", $"vec_id", round($"adc", 6).as("adc"),
            $"rank")
          .orderBy($"query_id", $"rank")
      }
    },
    Some {
      def tb(s: Int): String = {
        val lo = s * 16
        s"""tb_$s AS (
        SELECT q.query_id, k.c AS code,
               list_sum(list_transform(range(1, 17),
                 dd -> (qv[$lo + dd] - k.cv[dd])
                       * (qv[$lo + dd] - k.cv[dd]))) AS d
        FROM q CROSS JOIN c2v_$s k
      )"""
      }
      s"""
      WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), dims16 AS (SELECT unnest(generate_series(1, 16)) AS i),
      ${(0 until 4).map(pqSubChain).mkString(",\n      ")},
      q AS (
        SELECT vec_id AS query_id, e AS qv FROM emb
        WHERE vec_id IN (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 3)
      ),
      ${(0 until 4).map(tb).mkString(",\n      ")},
      adcs AS (
        SELECT t0.query_id, e0.vec_id,
               t0.d + t1.d + t2.d + t3.d AS adc
        FROM enc_0 e0
        JOIN enc_1 e1 USING (vec_id)
        JOIN enc_2 e2 USING (vec_id)
        JOIN enc_3 e3 USING (vec_id)
        JOIN tb_0 t0 ON t0.code = e0.c
        JOIN tb_1 t1 ON t1.code = e1.c AND t1.query_id = t0.query_id
        JOIN tb_2 t2 ON t2.code = e2.c AND t2.query_id = t0.query_id
        JOIN tb_3 t3 ON t3.code = e3.c AND t3.query_id = t0.query_id
      ), ranked AS (
        SELECT query_id, vec_id, adc,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY adc, vec_id) AS rank
        FROM adcs
      )
      SELECT query_id, vec_id, round(adc, 6) AS adc,
             CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= 10
      ORDER BY query_id, rank"""
    })

  /** Perceptual-hash near-dup candidates ([[graft.operators.Phash]]):
    * aHash64 over 16×16 and dHash64 over 18×16 integer pixel-level
    * images derived from `part` (25 base textures × up to 9 variants —
    * variant 1 is a single +1-level tweak that leaves the hash intact,
    * variants ≥ 2 inject a +100000 plateau into one or two pooled
    * cells, drifting a data-dependent handful of bits), then the
    * 4×16-bit Hamming band pairing at maxDist 3. The oracle replays the
    * pixel formula, the equal-area pooling, the strict-compare bits and
    * BRUTE-FORCE all-pairs Hamming (banding is lossless at distance ≤ 3
    * by pigeonhole, so the candidate set must match exactly; feasible
    * at oracle scale — the Spark side is the inverted band index that
    * scales). All arithmetic is integer on both sides. */
  val q155 = Q(
    "q155_phash_neardup",
    (s, d) => {
      import s.implicits._
      def lv(n: Int, w: Int, grid: Int): String =
        s"""transform(sequence(0, ${n - 1}), i -> CAST(
            ((g * 7919 + i * 104729) % 1000) * 16
            + CASE WHEN v = 1 AND i = 0 THEN 1 ELSE 0 END
            + CASE WHEN v >= 2 AND ((i div $w) div 2) * $grid
                + ((i % $w) div 2) = (5 * v) % ${grid * 8}
              THEN 100000 ELSE 0 END
            + CASE WHEN v >= 5 AND ((i div $w) div 2) * $grid
                + ((i % $w) div 2) = (11 * v) % ${grid * 8}
              THEN 100000 ELSE 0 END AS BIGINT))"""
      val imgs = Q.anchorKey(t(s, d, "part"), "p_partkey")
        .filter($"p_partkey" <= 200)
        .select($"p_partkey".as("id"),
          ($"p_partkey" % 25).as("g"), ($"p_partkey" / 25).cast("int").as("v"))
        .select($"id", expr(lv(256, 16, 8)).as("lv_a"),
          expr(lv(288, 18, 9)).as("lv_d"))
      val a = imgs.select($"id", graft.operators.Phash.aHash64("lv_a", 16, 16).as("ph"))
      val dd = imgs.select($"id", graft.operators.Phash.dHash64("lv_d", 18, 16).as("ph"))
      graft.operators.Phash.hammingCandidates(a, "id", "ph", maxDist = 3)
        .withColumn("method", lit("ahash"))
        .unionByName(
          graft.operators.Phash.hammingCandidates(dd, "id", "ph", maxDist = 3)
            .withColumn("method", lit("dhash")))
        .select($"method", $"id_a", $"id_b", $"hamming")
        .orderBy($"method", $"id_a", $"id_b")
    },
    Some("""
      WITH pt AS (
        SELECT p_partkey - (SELECT min(p_partkey) FROM part)
                 AS p_partkey
        FROM part
      ), base AS (
        SELECT p_partkey AS id, p_partkey % 25 AS g, p_partkey // 25 AS v
        FROM pt WHERE p_partkey <= 200
      ), pxa AS (
        SELECT id, i,
               ((g * 7919 + i * 104729) % 1000) * 16
               + CASE WHEN v = 1 AND i = 0 THEN 1 ELSE 0 END
               + CASE WHEN v >= 2 AND ((i // 16) // 2) * 8
                   + ((i % 16) // 2) = (5 * v) % 64
                 THEN 100000 ELSE 0 END
               + CASE WHEN v >= 5 AND ((i // 16) // 2) * 8
                   + ((i % 16) // 2) = (11 * v) % 64
                 THEN 100000 ELSE 0 END AS px
        FROM base, range(0, 256) t(i)
      ), pxd AS (
        SELECT id, i,
               ((g * 7919 + i * 104729) % 1000) * 16
               + CASE WHEN v = 1 AND i = 0 THEN 1 ELSE 0 END
               + CASE WHEN v >= 2 AND ((i // 18) // 2) * 9
                   + ((i % 18) // 2) = (5 * v) % 72
                 THEN 100000 ELSE 0 END
               + CASE WHEN v >= 5 AND ((i // 18) // 2) * 9
                   + ((i % 18) // 2) = (11 * v) % 72
                 THEN 100000 ELSE 0 END AS px
        FROM base, range(0, 288) t(i)
      ), ca AS (
        SELECT id, ((i // 16) // 2) * 8 + ((i % 16) // 2) AS c,
               sum(px) AS cs
        FROM pxa GROUP BY 1, 2
      ), ta AS (
        SELECT id, sum(cs) AS tot FROM ca GROUP BY 1
      ), bits_a AS (
        SELECT ca.id, ca.c AS bit,
               CASE WHEN 64 * ca.cs > ta.tot THEN 1 ELSE 0 END AS b
        FROM ca JOIN ta USING (id)
      ), cd AS (
        SELECT id, ((i // 18) // 2) * 9 + ((i % 18) // 2) AS c,
               sum(px) AS cs
        FROM pxd GROUP BY 1, 2
      ), bits_d AS (
        SELECT c1.id, kk.k AS bit,
               CASE WHEN c1.cs > c2.cs THEN 1 ELSE 0 END AS b
        FROM range(0, 64) kk(k)
        JOIN cd c1 ON c1.c = (kk.k // 8) * 9 + (kk.k % 8)
        JOIN cd c2 ON c2.c = (kk.k // 8) * 9 + (kk.k % 8) + 1
                  AND c2.id = c1.id
      ), pa AS (
        SELECT 'ahash' AS method, a.id AS id_a, b.id AS id_b,
               CAST(sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END)
                 AS BIGINT) AS hamming
        FROM bits_a a JOIN bits_a b ON a.bit = b.bit AND a.id < b.id
        GROUP BY 1, 2, 3
        HAVING sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) <= 3
      ), pd AS (
        SELECT 'dhash' AS method, a.id AS id_a, b.id AS id_b,
               CAST(sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END)
                 AS BIGINT) AS hamming
        FROM bits_d a JOIN bits_d b ON a.bit = b.bit AND a.id < b.id
        GROUP BY 1, 2, 3
        HAVING sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) <= 3
      )
      SELECT method, id_a, id_b, hamming FROM pa
      UNION ALL
      SELECT method, id_a, id_b, hamming FROM pd
      ORDER BY method, id_a, id_b"""))

  /** Video near-dup band math ([[graft.operators.Phash
    * .frameLevelNearDup]] — the q155 pattern one level up): 40 synthetic
    * videos × 8 frames of 16×16 integer levels run through the
    * PRODUCTION post-decode chain — frame-id packing
    * (media_id·10^6+frame_idx), aHash pooling, 4×16-bit band chunks,
    * the hot-bucket census (cap 8), pair dedup across bands, Hamming ≤ 3
    * verify, video unpack and the ≥ minShared shared-frame count. The
    * fixture plants all three regimes: texture groups shared by 3-4
    * videos (variant 0 = base, 1 = one +1-level pixel so the hash is
    * identical, ≥ 2 = plateau cells drifting a data-dependent handful
    * of bits), and a BLANK frame 7 in every video — all 40 collide into
    * one bucket per band, which the census drops, so blank frames
    * contribute to NO pair count (without the cap every same-texture
    * pair would count one more shared frame). The oracle replays every
    * stage relationally — packing, pooling bits, chunk values, census,
    * banding, Hamming, counts — in pure integer arithmetic. */
  val q161 = Q(
    "q161_video_neardup_bands",
    (s, d) => {
      import s.implicits._
      val lv = """transform(sequence(0, 255), i -> CAST(
          CASE WHEN frame_idx = 7 THEN 5000
          ELSE ((media_id % 12) * 7919 + frame_idx * 131 + i * 104729)
                 % 1000 * 16
            + CASE WHEN (media_id div 12) = 1 AND i = 0 THEN 1 ELSE 0 END
            + CASE WHEN (media_id div 12) >= 2
                AND ((i div 16) div 2) * 8 + ((i % 16) div 2)
                    = (5 * (frame_idx + 1)) % 64
              THEN 100000 ELSE 0 END
            + CASE WHEN (media_id div 12) >= 3
                AND ((i div 16) div 2) * 8 + ((i % 16) div 2)
                    = (11 * (frame_idx + 3)) % 64
              THEN 100000 ELSE 0 END
          END AS BIGINT))"""
      val frames = Q.anchorKey(t(s, d, "part"), "p_partkey")
        .filter($"p_partkey" >= 0 && $"p_partkey" < 320)
        .selectExpr("p_partkey div 8 AS media_id",
          "CAST(p_partkey % 8 AS INT) AS frame_idx")
        .select($"media_id", $"frame_idx", expr(lv).as("lv"))
      graft.operators.Phash.frameLevelNearDup(frames, 16, 16,
          maxDist = 3, minShared = 2, maxBucket = Some(8))
        .orderBy($"vid_a", $"vid_b")
    },
    Some("""
      WITH pt AS (
        SELECT p_partkey - (SELECT min(p_partkey) FROM part)
                 AS p_partkey
        FROM part
      ), fr AS (
        SELECT p_partkey // 8 AS vid, p_partkey % 8 AS fidx
        FROM pt WHERE p_partkey >= 0 AND p_partkey < 320
      ), px AS (
        SELECT vid, fidx, i,
          CASE WHEN fidx = 7 THEN 5000
          ELSE ((vid % 12) * 7919 + fidx * 131 + i * 104729) % 1000 * 16
            + CASE WHEN (vid // 12) = 1 AND i = 0 THEN 1 ELSE 0 END
            + CASE WHEN (vid // 12) >= 2
                AND ((i // 16) // 2) * 8 + ((i % 16) // 2)
                    = (5 * (fidx + 1)) % 64
              THEN 100000 ELSE 0 END
            + CASE WHEN (vid // 12) >= 3
                AND ((i // 16) // 2) * 8 + ((i % 16) // 2)
                    = (11 * (fidx + 3)) % 64
              THEN 100000 ELSE 0 END
          END AS px
        FROM fr, range(0, 256) t(i)
      ), cells AS (
        SELECT vid, fidx, ((i // 16) // 2) * 8 + ((i % 16) // 2) AS c,
               sum(px) AS cs
        FROM px GROUP BY 1, 2, 3
      ), tots AS (
        SELECT vid, fidx, sum(cs) AS tot FROM cells GROUP BY 1, 2
      ), bits AS (
        SELECT c1.vid, c1.fidx, c1.c AS bit,
               CASE WHEN 64 * c1.cs > t.tot THEN 1 ELSE 0 END AS b
        FROM cells c1 JOIN tots t
          ON t.vid = c1.vid AND t.fidx = c1.fidx
      ), chunks AS (
        SELECT vid, fidx, bit // 16 AS band,
               CAST(sum(b * (1 << (bit % 16))) AS BIGINT) AS cv
        FROM bits GROUP BY 1, 2, 3
      ), census AS (
        SELECT band, cv, count(*) AS bc FROM chunks GROUP BY 1, 2
      ), elig AS (
        SELECT c.vid, c.fidx, c.band, c.cv
        FROM chunks c JOIN census u ON u.band = c.band AND u.cv = c.cv
        WHERE u.bc <= 8
      ), cand AS (
        SELECT DISTINCT a.vid AS vid_a, a.fidx AS fa,
                        b.vid AS vid_b, b.fidx AS fb
        FROM elig a JOIN elig b
          ON a.band = b.band AND a.cv = b.cv
         AND a.vid * 1000000 + a.fidx < b.vid * 1000000 + b.fidx
      ), ham AS (
        SELECT c.vid_a, c.fa, c.vid_b, c.fb
        FROM cand c
        JOIN bits x ON x.vid = c.vid_a AND x.fidx = c.fa
        JOIN bits y ON y.vid = c.vid_b AND y.fidx = c.fb
                   AND y.bit = x.bit
        GROUP BY 1, 2, 3, 4
        HAVING sum(CASE WHEN x.b <> y.b THEN 1 ELSE 0 END) <= 3
      )
      SELECT vid_a, vid_b, CAST(count(*) AS BIGINT) AS n_shared_frames
      FROM ham WHERE vid_a <> vid_b
      GROUP BY 1, 2 HAVING count(*) >= 2
      ORDER BY vid_a, vid_b"""))

  /** Audio perceptual fingerprint math ([[graft.operators.Phash
    * .audioFingerprint]]'s post-decode half): synthetic PCM signals of
    * VARYING length (including n < 64, so some of the 64 equal-area
    * segments are empty) with amplitudes k/256 — exact in binary, so
    * trunc(|x|·2^24) is pure integer arithmetic (|k|·2^16) the oracle
    * computes without ever touching a float. The
    * [[graft.functions.Expressions.energyProfile64]] codegen kernel
    * produces the 64-segment quantized profile, aHash64 the 8×8
    * compare-to-mean fingerprint; output is one row per (signal,
    * segment) carrying the profile level AND that fingerprint bit, so
    * both the segmentation rule (n·s div 64 boundaries, empty → 0,
    * Σ div count) and the threshold bits are hash-gated. */
  val q162 = Q(
    "q162_audio_fingerprint",
    (s, d) => {
      import s.implicits._
      val smp = """transform(
          sequence(0, 31 + CAST((id * 7) % 400 AS INT)),
          i -> CAST(((id * 31 + i * 17) % 512) - 256 AS DOUBLE) / 256.0D)"""
      val prof = Q.anchorKey(t(s, d, "part"), "p_partkey")
        .filter($"p_partkey" <= 60)
        .select($"p_partkey".as("id"))
        .select($"id", expr(smp).as("samples"))
        .select($"id", size($"samples").cast("long").as("n_samples"),
          graft.functions.Expressions.energyProfile64($"samples").as("lv"))
      prof.select($"id", $"n_samples",
          graft.operators.Phash.aHash64("lv", 8, 8).as("fp"),
          posexplode($"lv").as(Seq("seg", "p")))
        .select($"id", $"n_samples", $"seg".cast("long").as("seg"),
          $"p", expr("shiftright(fp, seg) & 1").as("bit"))
        .orderBy($"id", $"seg")
    },
    Some("""
      WITH pt AS (
        SELECT p_partkey - (SELECT min(p_partkey) FROM part)
                 AS p_partkey
        FROM part
      ), base AS (
        SELECT p_partkey AS id, 32 + (p_partkey * 7) % 400 AS n
        FROM pt WHERE p_partkey <= 60
      ), smp AS (
        SELECT id, n, i, abs((id * 31 + i * 17) % 512 - 256) AS anum
        FROM base, range(0, 432) t(i) WHERE i < n
      ), segs AS (
        SELECT b.id, b.n, s.s,
               (b.n * s.s) // 64 AS lo, (b.n * (s.s + 1)) // 64 AS hi
        FROM base b, range(0, 64) s(s)
      ), prof AS (
        SELECT g.id, g.n, g.s AS seg,
               CASE WHEN g.hi = g.lo THEN 0
                    ELSE CAST(sum(m.anum) * 65536 // (g.hi - g.lo)
                              AS BIGINT) END AS p
        FROM segs g LEFT JOIN smp m
          ON m.id = g.id AND m.i >= g.lo AND m.i < g.hi
        GROUP BY g.id, g.n, g.s, g.hi, g.lo
      ), tots AS (
        SELECT id, sum(p) AS tot FROM prof GROUP BY 1
      )
      SELECT prof.id, CAST(prof.n AS BIGINT) AS n_samples, prof.seg,
             prof.p,
             CAST(CASE WHEN 64 * prof.p > t.tot THEN 1 ELSE 0 END
               AS BIGINT) AS bit
      FROM prof JOIN tots t ON t.id = prof.id
      ORDER BY prof.id, prof.seg"""))

  /** Two-stage retrieval ([[graft.operators.Similarity.twoStageTopK]])
    * — coarse top-50 on the first 16 dimensions, exact full-dimension
    * re-rank to top-10. Both stages tie-break by vec_id, the cosine is
    * the sequential double fold in BOTH engines (DuckDB's
    * list_cosine_similarity over CAST(... AS DOUBLE[]) is bit-equal to
    * the vec_cosine kernel — measured, not assumed), so ranks AND the
    * 6-rounded scores hash-match. The oracle replays the coarse
    * window, the candidate cut and the re-rank window relationally. */
  val q169 = Q(
    "q169_two_stage_retrieval",
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.orderBy($"vec_id").limit(3)
        .select($"vec_id".as("query_id"), $"embedding")
      graft.operators.Similarity
        .twoStageTopK(emb, q, k = 10, coarseDims = 16, coarseK = 50)
        .select($"query_id", $"rank", $"vec_id",
          DomainQ.emit6($"cos").as("cos"))
        .orderBy($"query_id", $"rank")
    },
    Some("""
      WITH q AS (
        SELECT vec_id AS query_id,
               CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings
        WHERE vec_id IN
          (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 3)
      ), emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), coarse AS (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(e.e[1:16], q.qv[1:16])
                   DESC, e.vec_id) AS crank
        FROM emb e CROSS JOIN q
      ), cand AS (
        SELECT query_id, vec_id FROM coarse WHERE crank <= 50
      ), re AS (
        SELECT c.query_id, c.vec_id,
               list_cosine_similarity(e.e, q.qv) AS cos,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY list_cosine_similarity(e.e, q.qv) DESC,
                          c.vec_id) AS rank
        FROM cand c
        JOIN emb e ON e.vec_id = c.vec_id
        JOIN q ON q.query_id = c.query_id
      )
      SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
             round(cos, 6) + 0.0 AS cos
      FROM re WHERE rank <= 10
      ORDER BY query_id, rank"""))

  /** Semantic decontamination ([[Similarity.semanticDecontaminate]]) —
    * the embedding-space complement of the n-gram decontaminators
    * (q61 exact 8-gram, q99 spans): before training, every corpus item
    * whose max cosine to ANY held-out eval item reaches the threshold
    * is flagged with its nearest eval id for audit. The fixture holds
    * out `vec_id % 23 = 1` as the eval suite and scans the rest as the
    * corpus; the synthetic embeddings top out near cos ≈ 0.5 within a
    * label (q90's measurement), so the 0.4 threshold exercises both
    * verdicts. Ties break to the smaller eval id in both engines; the
    * max-cos is emitted at the round-6 boundary while the flag
    * compares the raw kernel value (bit-equal to DuckDB's
    * list_cosine_similarity — the q169-measured property). Scale: the
    * eval suite broadcasts, the corpus never shuffles — per-corpus-row
    * scores collapse map-side before the one tiny exchange. */
  val q174 = Q(
    "q174_semantic_decontaminate",
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val ev = emb.filter($"vec_id" % 23 === 1)
        .select($"vec_id".as("eval_id"), $"embedding")
      val corpus = emb.filter($"vec_id" % 23 =!= 1)
      Similarity.semanticDecontaminate(corpus, ev, minCos = 0.4)
        .select($"vec_id", DomainQ.emit6($"max_cos").as("max_cos"),
          $"nearest_eval", $"contaminated")
        .orderBy($"vec_id")
    },
    Some("""
      WITH emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      ), ev AS (
        SELECT vec_id AS eval_id, e FROM emb WHERE vec_id % 23 = 1
      ), corp AS (
        SELECT vec_id, e FROM emb WHERE vec_id % 23 <> 1
      ), sc AS (
        SELECT c.vec_id, ev.eval_id,
               list_cosine_similarity(c.e, ev.e) AS cos
        FROM corp c CROSS JOIN ev
      ), best AS (
        SELECT vec_id, eval_id, cos,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY cos DESC, eval_id ASC) AS rn
        FROM sc
      )
      SELECT vec_id, round(cos, 6) + 0.0 AS max_cos,
             eval_id AS nearest_eval, cos >= 0.4 AS contaminated
      FROM best WHERE rn = 1
      ORDER BY vec_id"""))

  val all: Seq[Q] =
    Seq(q36, q37, q38, q41, q44, q90, q102, q121, q122, q147, q155,
      q161, q162, q169, q174)
}
