package graft.queries

import graft.Q
import graft.Q.t
import graft.operators.{Curation, Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators on the `documents` table: text
  * statistics / quality scoring, stopword language scoring, document
  * fingerprinting, n-gram Jaccard near-dup pairs, MinHash-LSH, SimHash,
  * and rolling-hash fingerprints — ALL exact-oracle-checked. The hash
  * families are built on poly_hash64 (a portable Rabin-Karp recurrence;
  * graft.functions.Expressions.polyHash64) so DuckDB replays them
  * bit-for-bit via DuckOracle's unsigned-128 mod-2^64 folds.
  */
object TextQ {

  /** Token counting + quality features. All integer-derived arithmetic →
    * bit-exact across engines (single division per ratio). */
  val q29 = Q(
    "q29_text_stats",
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", $"n_chars",
          length($"text").cast("long").as("n_chars_calc"),
          size(split($"text", " ")).cast("long").as("n_tokens"),
          ((length($"text") - (size(split($"text", " ")) - 1)).cast("double")
            / size(split($"text", " "))).as("mean_token_len"))
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id, n_chars,
             length(text) AS n_chars_calc,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_token_len
      FROM documents
      ORDER BY doc_id"""))

  /** Stopword-hit language scoring (lang-ID heuristic): non-distinct hit
    * counts per language list via a filter lambda — same lambda in DuckDB. */
  val q30 = Q(
    "q30_lang_scores",
    (s, d) => {
      import s.implicits._
      val toks = TextAnalysis.tokens($"text")
      t(s, d, "documents")
        .select($"doc_id", $"lang",
          TextAnalysis.hitCount(toks, TextAnalysis.stopwords("en")).as("hits_en"),
          TextAnalysis.hitCount(toks, TextAnalysis.stopwords("de")).as("hits_de"),
          TextAnalysis.hitCount(toks, TextAnalysis.stopwords("fr")).as("hits_fr"),
          TextAnalysis.hitCount(toks, TextAnalysis.stopwords("es")).as("hits_es"))
        .orderBy($"doc_id")
    },
    Some {
      def inList(ws: Seq[String]) = ws.map("'" + _ + "'").mkString(", ")
      s"""
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '),
                 w -> w IN (${inList(TextAnalysis.stopwords("en"))}))) AS hits_en,
             len(list_filter(string_split(text, ' '),
                 w -> w IN (${inList(TextAnalysis.stopwords("de"))}))) AS hits_de,
             len(list_filter(string_split(text, ' '),
                 w -> w IN (${inList(TextAnalysis.stopwords("fr"))}))) AS hits_fr,
             len(list_filter(string_split(text, ' '),
                 w -> w IN (${inList(TextAnalysis.stopwords("es"))}))) AS hits_es
      FROM documents
      ORDER BY doc_id"""
    })

  /** Prefix fingerprint dedup: md5 of the first 8 tokens as the dedup
    * key; groups with copies collapse to (fingerprint, n, keep_id). */
  val q31 = Q(
    "q31_fingerprint_dedup",
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .groupBy(TextAnalysis.prefixFingerprint($"text", 8).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("keep_id"))
        .orderBy($"fp")
    },
    Some("""
      SELECT md5(array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')) AS fp,
             count(*) AS n_docs, min(doc_id) AS keep_id
      FROM documents
      GROUP BY 1
      ORDER BY fp"""))

  /** N-gram (3-shingle) Jaccard near-dup pairs within the same lang-free
    * corpus, via shared-shingle equi-join (no cross join). Jaccard is a
    * single integer division → bit-exact. */
  val q32 = Q(
    "q32_ngram_jaccard",
    (s, d) => {
      import s.implicits._
      Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text",
        k = 3, threshold = 0.12)
        .select($"id_a", $"id_b", $"n_common", $"jaccard")
        .orderBy($"id_a", $"id_b")
    },
    Some("""
      WITH sh AS (
        SELECT DISTINCT doc_id, shingle
        FROM (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
                   i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))
                   AS shingle
          FROM documents)
      ), sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
      ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
      )
      SELECT id_a, id_b, n_common,
             CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.12
      ORDER BY id_a, id_b"""))

  /** Near-dup clustering end-to-end: the q32 Jaccard pairs grouped into
    * connected components (distributed min-label propagation with
    * pointer doubling — Dedup.components) and one canonical doc kept
    * per component (max n_chars, ties → min doc_id). The oracle replays
    * the pair derivation, then the transitive closure as a recursive
    * CTE (feasible at oracle scale; the Spark side is the O(log
    * diameter)-round plan that scales), then the same winner rule via
    * a window rank. */
  val q62 = Q(
    "q62_components_canonicalize",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.12)
      Dedup.canonicalize(docs, pairs, "doc_id",
        qualityCol = Some("n_chars"))
        .select($"doc_id", $"component", $"canonical_id", $"is_canonical")
        .orderBy($"doc_id")
    },
    Some("""
      WITH RECURSIVE sh AS (
        SELECT DISTINCT doc_id, shingle
        FROM (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
                   i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))
                   AS shingle
          FROM documents)
      ), sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
      ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
      ), pairs AS (
        SELECT id_a, id_b
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.12
      ), edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
      ), reach AS (
        SELECT u AS src, u AS dst FROM edges
        UNION
        SELECT r.src, e.v AS dst FROM reach r JOIN edges e ON e.u = r.dst
      ), comp AS (
        SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src
      ), docs AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
               d.n_chars
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
      ), winners AS (
        SELECT component, doc_id AS canonical_id FROM (
          SELECT component, doc_id,
                 row_number() OVER (PARTITION BY component
                   ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM docs) WHERE rn = 1
      )
      SELECT d.doc_id, d.component, w.canonical_id,
             d.doc_id = w.canonical_id AS is_canonical
      FROM docs d JOIN winners w ON w.component = d.component
      ORDER BY d.doc_id"""))

  /** Prefix-filtered exact Jaccard (AllPairs/PPJoin) at a HIGH
    * threshold — the 100 TB shape for strict near-dup dedup: only each
    * document's |d| - ceil(t|d|) + 1 rarest shingles are indexed, so
    * stopword shingles never join; candidates verify via one
    * sorted-merge-intersection kernel call. Output semantics identical
    * to q32's inverted-index variant (equality spec-asserted), so the
    * oracle is the same brute-force SQL at t = 0.6. */
  val q50 = Q(
    "q50_jaccard_prefix_filter",
    (s, d) => {
      import s.implicits._
      Dedup.jaccardPairsPrefix(t(s, d, "documents"), "doc_id", "text",
        k = 3, threshold = 0.6)
        .select($"id_a", $"id_b", $"n_common", $"jaccard")
        .orderBy($"id_a", $"id_b")
    },
    Some("""
      WITH sh AS (
        SELECT DISTINCT doc_id, shingle
        FROM (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
                   i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))
                   AS shingle
          FROM documents)
      ), sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
      ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
      )
      SELECT id_a, id_b, n_common,
             CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.6
      ORDER BY id_a, id_b"""))

  /** MinHash-LSH near-dup candidates, EXACT-checked: the oracle replays
    * the whole pipeline — poly_hash64 shingle hashes, the splitmix64
    * affine family (same constants via DuckOracle.mixPairs), signed mins,
    * band-slice equality — by brute force over all doc pairs. Feasible at
    * oracle scale (500 docs); the Spark side is the LSH bucketed plan
    * that scales. */
  val q33 = Q(
    "q33_minhash_lsh",
    (s, d) => {
      import s.implicits._
      Dedup.minHashCandidates(t(s, d, "documents"), "doc_id", "text",
        k = 3, numHashes = 32, bands = 8)
        .orderBy($"id_a", $"id_b")
    },
    Some {
      val affine = DuckOracle.toSigned(
        "(p.a * h + p.b) % 18446744073709551616::UHUGEINT")
      s"""
      WITH tk AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
      ), hs AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(t) - 1),
                 i -> ${DuckOracle.phU(
                   "array_to_string(list_slice(t, i, i + 2), ' ')")})) AS hs
        FROM tk WHERE len(t) >= 3
      ), sig AS (
        SELECT doc_id,
               list_transform(${DuckOracle.mixPairs(32)},
                 p -> list_min(list_transform(hs, h -> $affine))) AS sig
        FROM hs
      )
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_filter(range(1, 33), i -> a.sig[i] = b.sig[i]))
               / 32.0 AS est_jaccard
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE len(list_filter(range(0, 8),
              bb -> list_slice(a.sig, bb * 4 + 1, bb * 4 + 4)
                  = list_slice(b.sig, bb * 4 + 1, bb * 4 + 4))) > 0
      ORDER BY id_a, id_b"""
    })

  /** SimHash near-dup candidates (Hamming ≤ 3), EXACT-checked: for
    * maxDist ≤ 3 the 16-bit-chunk banding is lossless (pigeonhole), so
    * the oracle brute-forces all pairs with the replayed poly_hash64
    * majority-vote simhash and compares bit counts. */
  val q34 = Q(
    "q34_simhash",
    (s, d) => {
      import s.implicits._
      Dedup.simHashCandidates(t(s, d, "documents"), "doc_id", "text",
        maxDist = 3)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""
      WITH th AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                 tok -> ${DuckOracle.phU("tok")}) AS hs
        FROM documents
      ), sim AS (
        SELECT doc_id,
               ${DuckOracle.toSigned(s"""list_reduce(
                 list_transform(${DuckOracle.pow2},
                   p -> CASE WHEN 2 * len(list_filter(hs,
                                h -> (h // p) % 2 = 1)) > len(hs)
                        THEN p ELSE 0::UHUGEINT END),
                 (x, y) -> x + y)""")} AS sh
        FROM th
      )
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
      FROM sim a JOIN sim b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3
      ORDER BY id_a, id_b"""))

  /** Fingerprints, EXACT-checked: `rhash` is the modular Rabin-Karp
    * (base 31 mod 1e9+7 — fits BIGINT, no overflow in either engine);
    * `fp64` is the full wrap-around poly_hash64 (replayed in DuckDB via
    * unsigned-128 mod 2^64). */
  val q35 = Q(
    "q35_rolling_hash",
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id",
          TextAnalysis.rollingHash($"text").as("rhash"),
          graft.functions.Expressions.polyHash64($"text").as("fp64"))
        .orderBy($"doc_id")
    },
    Some(s"""
      SELECT doc_id,
             list_reduce(list_prepend(0::BIGINT,
                 list_transform(string_split(text, ''),
                   c -> CAST(ord(c) AS BIGINT))),
               (h, b) -> (h * 31 + b) % 1000000007) AS rhash,
             ${DuckOracle.phS("text")} AS fp64
      FROM documents
      ORDER BY doc_id"""))

  /** Token accounting + quality filters + language argmax: whitespace
    * and BPE-ish token counts (whitespace words + punctuation/digit
    * runs), digit/stopword ratios, and the stopword-argmax language
    * (ties alphabetical, replayed as an ordered CASE in the oracle).
    * Integer-derived arithmetic throughout → bit-exact. */
  val q42 = Q(
    "q42_token_quality",
    (s, d) => {
      import s.implicits._
      val base = TextAnalysis.langScores(
        TextAnalysis.qualityFeatures(t(s, d, "documents")))
      base.select($"doc_id", $"n_tokens",
        TextAnalysis.tokenEstimate($"text").as("n_tokens_bpe"),
        $"digit_ratio", $"stop_ratio", $"detected_lang")
        .orderBy($"doc_id")
    },
    Some {
      def inList(ws: Seq[String]) = ws.map("'" + _ + "'").mkString(", ")
      def hits(lang: String) =
        s"""len(list_filter(string_split(text, ' '),
            w -> w IN (${inList(TextAnalysis.stopwords(lang))})))"""
      s"""
      WITH f AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(string_split(text, ' '))
                 + len(list_filter(string_split(
                     regexp_replace(text, '[a-zA-Z ]+', ' ', 'g'), ' '),
                     s2 -> len(s2) > 0)) AS n_tokens_bpe,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                    AS DOUBLE) / length(text) AS digit_ratio,
               CAST(${hits("en")} AS DOUBLE)
                 / len(string_split(text, ' ')) AS stop_ratio,
               ${hits("de")} AS h_de, ${hits("en")} AS h_en,
               ${hits("es")} AS h_es, ${hits("fr")} AS h_fr
        FROM documents)
      SELECT doc_id, n_tokens, n_tokens_bpe, digit_ratio, stop_ratio,
             CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr
                    THEN 'de'
                  WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
                  WHEN h_es >= h_fr THEN 'es'
                  ELSE 'fr' END AS detected_lang
      FROM f
      ORDER BY doc_id"""
    })

  /** Gopher-style repetition quality signals
    * (TextAnalysis.repetitionStats): top/duplicate word-bigram
    * occurrence fractions per document from the one-pass row-local
    * kernel, replayed by the oracle on PLAIN STRINGS (list lambdas over
    * string_split — no hash re-derivation needed, the kernel counts
    * exact grams). Fractions are small-int ratios — exact doubles on
    * both engines, no rounding. */
  val q60 = Q(
    "q60_repetition",
    (s, d) => {
      import s.implicits._
      TextAnalysis.repetitionStats(t(s, d, "documents"))
        .select($"doc_id", $"top_gram_frac", $"dup_gram_frac", $"n_grams")
        .orderBy($"doc_id")
    },
    Some("""
      WITH g AS (
        SELECT doc_id,
               len(string_split(text, ' ')) - 1 AS total,
               list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i + 1]) AS grams
        FROM documents
      ), c AS (
        SELECT doc_id, total, gram, count(*) AS cnt
        FROM (SELECT doc_id, total, unnest(grams) AS gram FROM g) u
        GROUP BY doc_id, total, gram
      ), agg AS (
        SELECT doc_id, total, max(cnt) AS top_cnt,
               sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
        FROM c GROUP BY doc_id, total
      )
      SELECT d.doc_id,
             CASE WHEN coalesce(a.total, 0) <= 0 THEN 0.0
                  ELSE CAST(a.top_cnt AS DOUBLE) / a.total END
               AS top_gram_frac,
             CASE WHEN coalesce(a.total, 0) <= 0 THEN 0.0
                  ELSE CAST(a.dup_cnt AS DOUBLE) / a.total END
               AS dup_gram_frac,
             CAST(CASE WHEN a.total IS NULL OR a.total < 0 THEN 0
                       ELSE a.total END AS BIGINT) AS n_grams
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id"""))

  /** Decontamination (Dedup.decontaminate): corpus docs sharing ≥ 1
    * distinct 5-gram with the "held-out" slice (doc_id % 97 = 0).
    * Spark counts distinct shared HASHES (wordShingleHashes is
    * set-valued per doc), the oracle counts distinct shared STRING
    * grams — equal absent a 64-bit collision inside a document's
    * shingle set (~10^-15 at this scale). */
  val q61 = Q(
    "q61_decontaminate",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      Dedup.decontaminate(
          docs.filter($"doc_id" % 97 =!= 0),
          docs.filter($"doc_id" % 97 === 0),
          "doc_id", "text", k = 5)
        .orderBy($"doc_id")
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
      ), test AS (
        SELECT text FROM documents WHERE doc_id % 97 = 0
      ), test_sh AS (
        SELECT DISTINCT gram FROM (
          SELECT unnest(list_transform(
            range(1, len(string_split(text, ' ')) - 3),
            i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))
            AS gram
          FROM test) u
      ), corpus_sh AS (
        SELECT DISTINCT doc_id, gram FROM (
          SELECT doc_id, unnest(list_transform(
            range(1, len(string_split(text, ' ')) - 3),
            i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))
            AS gram
          FROM corpus) u
      ), m AS (
        SELECT c.doc_id, count(*) AS n_shared
        FROM corpus_sh c JOIN test_sh t USING (gram)
        GROUP BY c.doc_id
      )
      SELECT corpus.doc_id,
             coalesce(m.n_shared, 0) AS n_shared,
             coalesce(m.n_shared, 0) >= 1 AS contaminated
      FROM corpus LEFT JOIN m USING (doc_id)
      ORDER BY doc_id"""))

  /** CCNet-style in-domain bigram-LM quality scoring
    * (TextAnalysis.bigramLmScore): add-1-smoothed word-bigram LM trained
    * distributed on the corpus, per-doc log-prob / cross-entropy /
    * perplexity. The oracle retrains the identical LM in SQL — counts
    * and the smoothing arithmetic are integer-exact, so only the ln
    * summation order differs (absorbed by the emit6 rounding). */
  val q89 = Q(
    "q89_bigram_lm_ppl",
    (s, d) => {
      import s.implicits._
      TextAnalysis.bigramLmScore(t(s, d, "documents"))
        .select($"doc_id", $"n_bigrams",
          DomainQ.emit6($"log_prob").as("log_prob"),
          DomainQ.emit6($"xent").as("xent"),
          DomainQ.emit6($"ppl").as("ppl"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
      ), bg AS (
        SELECT doc_id, unnest(list_transform(range(1, len(l)),
          i -> {'w1': l[i], 'w2': l[i + 1]})) AS p
        FROM toks
      ), bgs AS (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg
      ), bc AS (
        SELECT w1, w2, count(*) AS cb FROM bgs GROUP BY 1, 2
      ), cc AS (
        SELECT w1, sum(cb) AS cctx FROM bc GROUP BY 1
      ), v AS (
        SELECT count(DISTINCT tok) AS nv
        FROM (SELECT unnest(l) AS tok FROM toks)
      ), scored AS (
        SELECT g.doc_id, count(*) AS n_bigrams,
               sum(ln((bc.cb + 1.0) / (cc.cctx + 1.0 * v.nv))) AS lp
        FROM bgs g
        JOIN bc USING (w1, w2)
        JOIN cc USING (w1)
        CROSS JOIN v
        GROUP BY 1
      )
      SELECT d.doc_id,
             coalesce(s.n_bigrams, 0) AS n_bigrams,
             round(s.lp, 6) + 0.0 AS log_prob,
             round(-s.lp / s.n_bigrams, 6) + 0.0 AS xent,
             round(exp(-s.lp / s.n_bigrams), 6) + 0.0 AS ppl
      FROM documents d LEFT JOIN scored s USING (doc_id)
      ORDER BY doc_id"""))

  /** Generated oracle for [[TextAnalysis.bpeTrain]]: each merge
    * iteration i unrolls to three CTEs — pair counts p_i over w_{i-1},
    * the (cnt DESC, pair ASC) argmax m_i, and the spliced word table
    * w_i via the boundary-anchored replace. Integers and strings end
    * to end: the replay is bit-exact, no rounding tier at all. */
  private def bpeOracleSql(n: Int): String = {
    val L = "chr(1)"; val R = "chr(2)"
    val iters = (1 to n).map { i =>
      s"""p$i AS (
        SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS cnt
        FROM (
          SELECT freq, unnest(list_transform(range(1, len(syms)),
            j -> {'a': syms[j], 'b': syms[j + 1]})) AS pr
          FROM (SELECT freq,
                string_split(s[2:length(s) - 1], $R || $L) AS syms
                FROM w${i - 1}))
        GROUP BY 1, 2
      ), m$i AS (
        SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1
      ), w$i AS MATERIALIZED (
        SELECT w, freq,
               replace(s, $L || m$i.a || $R || $L || m$i.b || $R,
                       $L || m$i.a || m$i.b || $R) AS s
        FROM w${i - 1} CROSS JOIN m$i
      )"""
    }.mkString(", ")
    val union = (1 to n).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, a AS lhs, b AS rhs,
          a || b AS merged, cnt AS pair_count FROM m$i""")
      .mkString(" UNION ALL ")
    s"""
      WITH w0 AS MATERIALIZED (
        SELECT w, count(*) AS freq,
               list_reduce(list_transform(string_split(w, ''),
                 c -> $L || c || $R), (x, y) -> x || y) AS s
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE length(w) > 0 GROUP BY w
      ), $iters
      SELECT * FROM ($union) ORDER BY rank"""
  }

  /** Generated oracle for [[TextAnalysis.bpeEncode]]: re-learns the n
    * merges with the same CTE chain as q92's oracle, then applies them
    * to every document — each merge one scalar-CTE cross join + the
    * identical boundary-anchored replace. The only float is
    * chars_per_token, an exact single division rounded at 6. */
  private def bpeEncodeOracleSql(n: Int): String = {
    val L = "chr(1)"
    s"""${bpeEncodeWith(n)}
      SELECT doc_id,
             CAST(length(s)
               - length(replace(s, $L, '')) AS BIGINT) AS n_tokens_bpe,
             round(CAST(n_chars_t AS DOUBLE)
               / nullif(length(s) - length(replace(s, $L, '')), 0), 6)
               + 0.0 AS chars_per_token
      FROM enc$n
      ORDER BY doc_id"""
  }

  /** The shared WITH prefix of the BPE-encode replays (q93, q178):
    * re-learn the n merges (q92's CTE chain) and apply them to every
    * document, leaving enc$n = (doc_id, n_chars_t, s) where s is the
    * boundary-marked encoded string. */
  private def bpeEncodeWith(n: Int): String = {
    val L = "chr(1)"; val R = "chr(2)"; val Sep = "chr(3)"
    val iters = (1 to n).map { i =>
      s"""p$i AS (
        SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS cnt
        FROM (
          SELECT freq, unnest(list_transform(range(1, len(syms)),
            j -> {'a': syms[j], 'b': syms[j + 1]})) AS pr
          FROM (SELECT freq,
                string_split(s[2:length(s) - 1], $R || $L) AS syms
                FROM w${i - 1}))
        GROUP BY 1, 2
      ), m$i AS (
        SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1
      ), w$i AS MATERIALIZED (
        SELECT w, freq,
               replace(s, $L || m$i.a || $R || $L || m$i.b || $R,
                       $L || m$i.a || m$i.b || $R) AS s
        FROM w${i - 1} CROSS JOIN m$i
      )"""
    }.mkString(", ")
    val encs = (1 to n).map { i =>
      s"""enc$i AS (
        SELECT doc_id, n_chars_t,
               replace(s, $L || m$i.a || $R || $L || m$i.b || $R,
                       $L || m$i.a || m$i.b || $R) AS s
        FROM enc${i - 1} CROSS JOIN m$i
      )"""
    }.mkString(", ")
    s"""
      WITH w0 AS MATERIALIZED (
        SELECT w, count(*) AS freq,
               list_reduce(list_transform(string_split(w, ''),
                 c -> $L || c || $R), (x, y) -> x || y) AS s
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE length(w) > 0 GROUP BY w
      ), $iters, enc0 AS MATERIALIZED (
        SELECT doc_id, length(text) AS n_chars_t,
               CASE WHEN len(wl) = 0 THEN ''
                    ELSE list_reduce(list_transform(wl,
                      w -> list_reduce(list_transform(string_split(w, ''),
                        c -> $L || c || $R), (x, y) -> x || y)),
                      (x, y) -> x || $Sep || y) END AS s
        FROM (SELECT doc_id, text,
              list_filter(string_split(text, ' '),
                w -> length(w) > 0) AS wl
              FROM documents)
      ), $encs"""
  }

  /** Generated oracle for q178: the q93 encode replay rolled up per
    * language — token totals from the boundary-marker count, word/char
    * totals from the raw text, two exact divisions rounded at 6. */
  private def bpeFertilityOracleSql(n: Int): String = {
    val L = "chr(1)"
    s"""${bpeEncodeWith(n)}
      SELECT d.lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(list_filter(string_split(d.text, ' '),
               w -> length(w) > 0))) AS BIGINT) AS n_words,
             CAST(sum(length(e.s) - length(replace(e.s, $L, '')))
               AS BIGINT) AS n_tokens,
             round(CAST(sum(e.n_chars_t) AS DOUBLE)
               / nullif(sum(length(e.s)
                   - length(replace(e.s, $L, ''))), 0), 6)
               + 0.0 AS chars_per_token,
             round(CAST(sum(length(e.s) - length(replace(e.s, $L, '')))
                 AS DOUBLE)
               / nullif(sum(len(list_filter(string_split(d.text, ' '),
                   w -> length(w) > 0))), 0), 6)
               + 0.0 AS tokens_per_word
      FROM enc$n e JOIN documents d USING (doc_id)
      GROUP BY d.lang
      ORDER BY lang"""
  }

  /** Distributed BPE merge training (TextAnalysis.bpeTrain): the first
    * 12 merges learned from the corpus word-type table, exact-gated —
    * ranks, pairs and weighted pair counts all integer/string. */
  val q92 = Q(
    "q92_bpe_train",
    (s, d) => {
      import s.implicits._
      TextAnalysis.bpeTrain(t(s, d, "documents"), numMerges = 12)
        .orderBy($"rank")
    },
    Some(bpeOracleSql(12)))

  /** BPE encoding under the learned vocabulary (TextAnalysis.bpeEncode
    * after bpeTrain): per-document subword token counts + compression
    * ratio — the corpus token-accounting pass a training pipeline runs
    * before packing. */
  val q93 = Q(
    "q93_bpe_encode",
    (s, d) => {
      import s.implicits._
      val merges = TextAnalysis.bpeTrain(t(s, d, "documents"),
          numMerges = 12)
        .orderBy($"rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncode(t(s, d, "documents"), merges)
        .select($"doc_id", $"n_tokens_bpe",
          DomainQ.emit6($"chars_per_token").as("chars_per_token"))
        .orderBy($"doc_id")
    },
    Some(bpeEncodeOracleSql(12)))

  /** Decontamination WITH span offsets (Dedup.decontaminate
    * withSpans — q61's surface plus WHERE the contamination sits, so a
    * pipeline can excise the span instead of dropping the document).
    * The oracle recomputes matched-gram positions with ordinality:
    * span_first = first matching shingle's word index, span_last =
    * last matched word covered. Integers end to end. */
  val q99 = Q(
    "q99_decontaminate_spans",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      Dedup.decontaminate(
          docs.filter($"doc_id" % 97 =!= 0),
          docs.filter($"doc_id" % 97 === 0),
          "doc_id", "text", k = 5, withSpans = true)
        .select($"doc_id", $"n_shared", $"contaminated",
          $"span_first".cast("long").as("span_first"),
          $"span_last".cast("long").as("span_last"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH test_sh AS (
        SELECT DISTINCT gram FROM (
          SELECT unnest(list_transform(
            range(1, len(string_split(text, ' ')) - 3),
            i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))
            AS gram
          FROM documents WHERE doc_id % 97 = 0) u
      ), cg AS (
        SELECT doc_id, u.i AS i, u.g AS gram FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(sp) - 3),
            i -> {'i': i, 'g': array_to_string(sp[i:i+4], ' ')})) AS u
          FROM (SELECT doc_id, string_split(text, ' ') AS sp
                FROM documents WHERE doc_id % 97 <> 0))
      ), m AS (
        SELECT c.doc_id, count(DISTINCT c.gram) AS n_shared,
               min(c.i) - 1 AS span_first,
               max(c.i) + 3 AS span_last
        FROM cg c JOIN test_sh USING (gram)
        GROUP BY 1
      )
      SELECT d.doc_id,
             coalesce(m.n_shared, 0) AS n_shared,
             coalesce(m.n_shared, 0) >= 1 AS contaminated,
             m.span_first, m.span_last
      FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
      LEFT JOIN m USING (doc_id)
      ORDER BY doc_id"""))

  /** Vocabulary coverage curve — what fraction of all corpus tokens
    * the top-N vocabulary types cover (the tokenizer-budget question):
    * term counts, GLOBAL frequency rank + running token total through
    * the zipWithIndex scale path (Ranks.withGlobalRank /
    * withGlobalPrefixSum — one range shuffle each, never a
    * single-partition window), sampled at N ∈ {5, 10, 20, 30}. The
    * oracle's plain window formulation is the semantic reference. */
  val q101 = Q(
    "q101_vocab_coverage",
    (s, d) => {
      import s.implicits._
      val tf = t(s, d, "documents")
        .select(explode(split($"text", " ")).as("term"))
        .filter(length($"term") > 0)
        .groupBy($"term").agg(count(lit(1)).as("n"))
      val total = tf.agg(sum($"n")).head().getLong(0)
      val ranked = graft.operators.Ranks.withGlobalRank(
        tf, Seq($"n".desc, $"term".asc), "rank")
      val cum = graft.operators.Ranks.withGlobalPrefixSum(
        ranked, Seq($"rank".asc), "n", "cum_tokens")
      cum.filter($"rank".isin(5L, 10L, 20L, 30L))
        .select($"rank".as("top_n"), $"cum_tokens",
          DomainQ.emit6($"cum_tokens".cast("double") / total)
            .as("coverage"))
        .orderBy($"top_n")
    },
    Some("""
      WITH tf AS (
        SELECT term, count(*) AS n FROM (
          SELECT unnest(string_split(text, ' ')) AS term
          FROM documents)
        WHERE length(term) > 0
        GROUP BY term
      ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM tf),
      ranked AS (
        SELECT term, n,
               row_number() OVER (ORDER BY n DESC, term) AS rank,
               sum(n) OVER (ORDER BY n DESC, term
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum_tokens
        FROM tf
      )
      SELECT CAST(rank AS BIGINT) AS top_n,
             CAST(cum_tokens AS BIGINT) AS cum_tokens,
             round(CAST(cum_tokens AS DOUBLE) / tot.total, 6) + 0.0
               AS coverage
      FROM ranked CROSS JOIN tot
      WHERE rank IN (5, 10, 20, 30)
      ORDER BY top_n"""))

  /** Incremental dedup against a historical corpus, the 100 TB shape:
    * the history folds ONCE into a broadcast Bloom sketch
    * (Dedup.bloomDedup — bits bounded by expectedItems/fpp, never
    * joined or re-read), arrivals are flagged row-locally, and only the
    * flagged slice — already pruned to dupes + the ~fpp false-positive
    * tail — pays an exact semi-join confirmation. Because the sketch
    * has no false negatives, flagged ∧ confirmed is EXACTLY the set of
    * true duplicates, so the end-to-end output is hash-gated even
    * though the sketch itself is approximate. History/arrival split is
    * deterministic on doc_id so both sides derive it identically. */
  val q103 = Q(
    "q103_bloom_incremental_dedup",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val history = docs.filter($"doc_id" % 10 < 8)
      val arrivals = docs.filter($"doc_id" % 10 >= 8)
      val flagged = Dedup.bloomDedup(arrivals, history)
        .filter($"seen_before")
      val confirmed = flagged
        .join(broadcast(history.select($"text").distinct()),
          Seq("text"), "left_semi")
        .select($"doc_id", lit(true).as("dup"))
      arrivals.select($"doc_id")
        .join(confirmed, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"dup", lit(false)).as("dup_in_history"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH hist AS (
        SELECT DISTINCT text FROM documents WHERE doc_id % 10 < 8
      )
      SELECT a.doc_id,
             EXISTS (SELECT 1 FROM hist h WHERE h.text = a.text)
               AS dup_in_history
      FROM documents a
      WHERE a.doc_id % 10 >= 8
      ORDER BY a.doc_id"""))

  /** Heavy-hitter terms (boilerplate/stopword census) through the CMS
    * prefilter (Dedup.cmsHeavyHitters): the token stream folds once
    * into a broadcast count-min sketch, rows self-select by their own
    * estimate, and only heavy candidates pay the groupBy shuffle.
    * CMS never underestimates, so the exact-confirm pass makes the
    * output exact — hash-gated against the plain HAVING oracle.
    * Threshold is relative (0.2% of total tokens) so the query keeps
    * teeth at every SF. */
  val q104 = Q(
    "q104_cms_heavy_hitters",
    (s, d) => {
      import s.implicits._
      val toks = t(s, d, "documents")
        .select(explode(split($"text", " ")).as("term"))
        .filter(length($"term") > 0)
      // exact integer ceil(N·2/1000), matching the oracle's DECIMAL
      // arithmetic for every N — the double form fl(N·fl(0.002))
      // happens to agree for this constant (its representation error
      // is +2.1e-17 relative, under the half-ulp rounding radius) but
      // only by luck of the constant; the r15 FP-exactness sweep
      // (minOverlapExpr's class) retires the multiply shape here too.
      val minCount = (2L * toks.count() + 999L) / 1000L
      Dedup.cmsHeavyHitters(toks, "term", minCount)
        .orderBy($"n".desc, $"term")
    },
    Some("""
      WITH toks AS (
        SELECT term FROM (
          SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        WHERE length(term) > 0
      ), tot AS (SELECT CAST(ceil(0.002 * count(*)) AS BIGINT) AS min_n
                 FROM toks)
      SELECT term, count(*) AS n
      FROM toks
      GROUP BY term
      HAVING count(*) >= (SELECT min_n FROM tot)
      ORDER BY n DESC, term"""))

  /** Repeated-substring spans across the corpus (Dedup.repeatedSpans,
    * k = 8, ≥ 2 distinct docs): the span-granular substring-dedup
    * surface — maximal repeated 8-gram coverages per document, exactly
    * the regions span-level dedup would excise. The oracle replays the
    * census on shingle STRINGS (the engine runs on 64-bit shingle
    * hashes — the exact-match gate doubles as a collision check) and
    * the same overlap-or-touch merge via window lag + running sum. */
  val q105 = Q(
    "q105_repeated_spans",
    (s, d) => {
      import s.implicits._
      Dedup.repeatedSpans(t(s, d, "documents"), "doc_id", "text", k = 8)
        .select($"doc_id", $"span_id".cast("long").as("span_id"),
          $"span_first".cast("long").as("span_first"),
          $"span_last".cast("long").as("span_last"), $"n_hits")
        .orderBy($"doc_id", $"span_first")
    },
    Some("""
      WITH sh AS (
        SELECT doc_id, u.i AS i, u.g AS g FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(sp) - 6),
            i -> {'i': i, 'g': array_to_string(sp[i:i+7], ' ')})) AS u
          FROM (SELECT doc_id, string_split(text, ' ') AS sp
                FROM documents))
      ), rep AS (
        SELECT g FROM sh GROUP BY g HAVING count(DISTINCT doc_id) >= 2
      ), hits AS (
        SELECT doc_id, i - 1 AS pos FROM sh JOIN rep USING (g)
      ), flags AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                      ORDER BY pos) > 8
                    THEN 1 ELSE 0 END AS brk
        FROM hits
      ), seg AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        FROM flags
      )
      SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
             CAST(min(pos) AS BIGINT) AS span_first,
             CAST(max(pos) + 7 AS BIGINT) AS span_last,
             count(*) AS n_hits
      FROM seg GROUP BY doc_id, span_id
      ORDER BY doc_id, span_first"""))

  /** Corpus snapshot diff (dataset versioning): v2 is derived from the
    * corpus deterministically — drop doc_id%17, revise doc_id%13, add a
    * shifted copy of doc_id%11 — and the diff classifies every id as
    * added/removed/changed/unchanged. ONE full-outer hash join on the id;
    * presence tests use the join keys (not the payload), and the payload
    * compare is null-safe, so null-text documents diff correctly. The
    * incremental path at 100 TB: content hashes instead of raw text make
    * the shuffled payload 8 bytes per side. */
  val q111 = Q(
    "q111_snapshot_diff",
    (s, d) => {
      import s.implicits._
      val v1 = t(s, d, "documents").select($"doc_id", $"text")
      val base = t(s, d, "documents")
      val v2 = base.filter($"doc_id" % 17 =!= 0)
        .select($"doc_id",
          when($"doc_id" % 13 === 0, concat($"text", lit(" [rev2]")))
            .otherwise($"text").as("text"))
        .unionByName(base.filter($"doc_id" % 11 === 0)
          // added ids live in a disjoint high-bit namespace (1 << 41):
          // a fixed decimal offset collides with real doc_ids at
          // replica scales and would mislabel adds as changed
          .select(($"doc_id" + (1L << 41)).as("doc_id"), $"text"))
      val a = v1.as("a")
      val b = v2.as("b")
      a.join(b, $"a.doc_id" === $"b.doc_id", "full_outer")
        .select(coalesce($"a.doc_id", $"b.doc_id").as("doc_id"),
          when($"a.doc_id".isNull, "added")
            .when($"b.doc_id".isNull, "removed")
            .when($"a.text" <=> $"b.text", "unchanged")
            .otherwise("changed").as("status"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH v1 AS (
        SELECT doc_id, text FROM documents
      ), v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 17 <> 0
        UNION ALL
        SELECT doc_id + 2199023255552, text
        FROM documents WHERE doc_id % 11 = 0
      )
      SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
             CASE WHEN v1.doc_id IS NULL THEN 'added'
                  WHEN v2.doc_id IS NULL THEN 'removed'
                  WHEN v1.text IS NOT DISTINCT FROM v2.text
                    THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      ORDER BY doc_id"""))

  /** Cross-source contamination matrix: for every source pair, the
    * number of distinct word 8-grams they share — the corpus-level
    * overlap report run before mixing crawl snapshots. The engine works
    * on shingle HASHES (wordShingleHashes → one distinct per (source,
    * hash) → hash-keyed self-join with source_a < source_b); per-shingle
    * fan-out is bounded by sources², so the join never goes quadratic in
    * documents. The oracle replays it on shingle STRINGS — a
    * hash-collision check like q105's. */
  val q112 = Q(
    "q112_source_overlap",
    (s, d) => {
      import s.implicits._
      val sh = t(s, d, "documents")
        .select($"source", explode(
          graft.functions.Expressions.wordShingleHashes($"text", 8))
          .as("h"))
        .distinct()
      sh.as("a").join(sh.as("b"),
          $"a.h" === $"b.h" && $"a.source" < $"b.source")
        .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"))
        .agg(count(lit(1)).as("n_shared_shingles"))
        .orderBy($"source_a", $"source_b")
    },
    Some("""
      WITH sh AS (
        SELECT DISTINCT source, g FROM (
          SELECT source, unnest(list_transform(range(1, len(sp) - 6),
            i -> array_to_string(sp[i:i+7], ' '))) AS g
          FROM (SELECT source, string_split(text, ' ') AS sp
                FROM documents WHERE text IS NOT NULL))
      )
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_shared_shingles
      FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** Per-source corpus datasheet ("datasheets for datasets" report):
    * document/char/token counts, null-text count, language spread, and
    * the dominant language per source (window rank, deterministic
    * tie-break). Two grouped aggregations + one join — a report, not a
    * pipeline, but the thing every corpus release ships with. */
  val q113 = Q(
    "q113_corpus_datasheet",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val agg = docs.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        count(when($"text".isNull, 1)).as("n_null_text"),
        sum(length($"text")).cast("long").as("total_chars"),
        sum(size(split($"text", " ")).cast("long")).as("total_tokens"),
        countDistinct($"lang").as("n_langs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"n".desc, $"lang".desc)
      val top = docs.groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" === 1)
        .select($"source", $"lang".as("top_lang"), $"n".as("top_lang_docs"))
      agg.join(top, "source").orderBy($"source")
    },
    Some("""
      WITH agg AS (
        SELECT source, count(*) AS n_docs,
               count(CASE WHEN text IS NULL THEN 1 END) AS n_null_text,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                 AS total_tokens,
               count(DISTINCT lang) AS n_langs
        FROM documents GROUP BY source
      ), top AS (
        SELECT source, lang AS top_lang, n AS top_lang_docs FROM (
          SELECT source, lang, count(*) AS n,
                 row_number() OVER (PARTITION BY source
                   ORDER BY count(*) DESC, lang DESC) AS rk
          FROM documents GROUP BY source, lang)
        WHERE rk = 1
      )
      SELECT agg.source, n_docs, n_null_text, total_chars, total_tokens,
             n_langs, top_lang, top_lang_docs
      FROM agg JOIN top ON agg.source = top.source
      ORDER BY agg.source"""))

  /** Edit-distance-1 pairing (Dedup.editDistancePairs): typo-level
    * near-dup detection over identifier-like strings — FastSS/SymSpell
    * deletion-neighborhood candidates + levenshtein verify, an EQUI join
    * where the oracle runs the O(n²) cross compare. The two algorithms
    * are independent (candidate-generation vs exhaustive), so agreement
    * gates both the neighborhood completeness claim (every ed≤1 pair
    * shares a deletion key) and the verifier. */
  val q114 = Q(
    "q114_edit_distance_pairs",
    (s, d) => {
      import s.implicits._
      val names = t(s, d, "customer").filter($"c_custkey" % 5 === 0)
        .select($"c_custkey".as("id"), $"c_name".as("nm"))
      Dedup.editDistancePairs(names, "id", "nm")
        .orderBy($"id_a", $"id_b")
    },
    Some("""
      WITH n AS (
        SELECT c_custkey AS id, c_name AS nm
        FROM customer WHERE c_custkey % 5 = 0
      )
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
      FROM n a JOIN n b ON a.id < b.id AND levenshtein(a.nm, b.nm) <= 1
      ORDER BY id_a, id_b"""))

  /** Dedup-pipeline evaluation harness: plant known near-duplicates
    * (every doc_id%5 doc gets a mutant with every 7th word dropped),
    * run the PRODUCTION high-threshold path (jaccardDedup → prefix
    * filter), and emit the full outer of found vs planted pairs with
    * flags — the precision/recall surface an operator owner actually
    * watches. The oracle replays the mutation and the jaccard pair
    * derivation on shingle strings, so the gate covers the planted
    * transform, the prefix-filter completeness at θ=0.5, and the flag
    * logic in one row set. */
  val q124 = Q(
    "q124_dedup_eval",
    (s, d) => {
      import s.implicits._
      val base = t(s, d, "documents").filter($"text".isNotNull)
        .select($"doc_id", $"text")
      // mutant ids live in a disjoint high-bit namespace (1 << 41):
      // `ScaleBench.generate` replicas reach doc_id ≈ 3.1e10 at x100, and
      // a fixed decimal offset silently corrupts the planted-pair truth
      // the moment real ids cross it
      val mutants = base.filter($"doc_id" % 5 === 0)
        .select(($"doc_id" + (1L << 41)).as("doc_id"),
          expr("array_join(filter(split(text, ' '), " +
            "(w, i) -> (i + 1) % 7 != 0), ' ')").as("text"))
      val corpus = base.unionByName(mutants)
      val found = Dedup.jaccardDedup(corpus, "doc_id", "text",
          k = 3, threshold = 0.5)
        .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
      val truth = base.filter($"doc_id" % 5 === 0)
        .select($"doc_id".as("id_a"), ($"doc_id" + (1L << 41)).as("id_b"),
          lit(true).as("is_planted"))
      found.as("f").join(truth.as("t"), Seq("id_a", "id_b"), "full_outer")
        .select($"id_a", $"id_b", $"jaccard".isNotNull.as("found"),
          coalesce($"is_planted", lit(false)).as("is_planted"),
          $"jaccard")
        .orderBy($"id_a", $"id_b")
    },
    Some("""
      WITH base AS (
        SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      ), mut AS (
        SELECT doc_id + 2199023255552 AS doc_id,
               array_to_string(list_filter(string_split(text, ' '),
                 (w, i) -> i % 7 <> 0), ' ') AS text
        FROM base WHERE doc_id % 5 = 0
      ), corpus AS (
        SELECT * FROM base UNION ALL SELECT * FROM mut
      ), sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
                   i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))
                   AS shingle
          FROM corpus)
      ), sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
      ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle
                           AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ), found AS (
        SELECT id_a, id_b,
               round(CAST(n_common AS DOUBLE)
                     / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE)
              / (sa.n_sh + sb.n_sh - n_common) >= 0.5
      ), truth AS (
        SELECT doc_id AS id_a, doc_id + 2199023255552 AS id_b,
               true AS is_planted
        FROM base WHERE doc_id % 5 = 0
      )
      SELECT coalesce(f.id_a, t.id_a) AS id_a,
             coalesce(f.id_b, t.id_b) AS id_b,
             f.jaccard IS NOT NULL AS found,
             coalesce(t.is_planted, false) AS is_planted,
             f.jaccard
      FROM found f FULL OUTER JOIN truth t
        ON f.id_a = t.id_a AND f.id_b = t.id_b
      ORDER BY id_a, id_b"""))

  /** Per-document keyword extraction: top-3 terms by tf·idf (idf =
    * ln(N/df), document frequency over distinct term-doc pairs), rank
    * ties broken by term. One posting explode, one df aggregation
    * broadcast back, one doc-keyed window — the topic-tagging pass of a
    * curation pipeline. tf and df are integers; the single ln is
    * computed from the same integer ratio on both engines. */
  val q126 = Q(
    "q126_doc_keywords",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").filter($"text".isNotNull)
      val nDocs = docs.count()
      val posts = docs.select($"doc_id",
          explode(split($"text", " ")).as("term"))
        .filter($"term" =!= "")
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val dfreq = posts.groupBy($"term")
        .agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
      posts.join(broadcast(dfreq), "term")
        .withColumn("tfidf",
          $"tf".cast("double") *
            log(lit(nDocs.toDouble) / $"df".cast("double")))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"doc_id", $"rk".cast("long").as("rk"), $"term",
          $"tf", round($"tfidf", 6).as("tfidf"))
        .orderBy($"doc_id", $"rk")
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      ), n AS (SELECT count(*) AS nd FROM docs),
      posts AS (
        SELECT doc_id, term, count(*) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM docs)
        WHERE term <> ''
        GROUP BY doc_id, term
      ), dfreq AS (
        SELECT term, count(*) AS df FROM posts GROUP BY term
      ), scored AS (
        SELECT p.doc_id, p.term, p.tf,
               CAST(p.tf AS DOUBLE)
                 * ln(CAST(n.nd AS DOUBLE) / CAST(f.df AS DOUBLE))
                 AS tfidf
        FROM posts p JOIN dfreq f USING (term) CROSS JOIN n
      ), ranked AS (
        SELECT doc_id, term, tf, tfidf,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term) AS rk
        FROM scored
      )
      SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf,
             round(tfidf, 6) AS tfidf
      FROM ranked WHERE rk <= 3
      ORDER BY doc_id, rk"""))

  /** Source-level MinHash sketches (Dedup.groupMinHash): a source's
    * signature is the element-wise min of its docs' signatures = the
    * signature of the source's shingle UNION (min is mergeable), so
    * corpus-level similarity needs one row-local pass + a
    * (sources × 32) aggregation — never a doc-pair join. Pairwise
    * estimated Jaccard is the integer match count / 32. The oracle
    * replays the whole affine hash family (DuckOracle.mixPairs) and the
    * element-wise min. */
  val q127 = Q(
    "q127_source_minhash",
    (s, d) => {
      import s.implicits._
      val sigs = Dedup.groupMinHash(
        t(s, d, "documents"), "source", "text")
      val nMatch = aggregate(
        zip_with($"a.sig", $"b.sig",
          (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, e) => acc + e)
      sigs.as("a").join(sigs.as("b"), $"a.source" < $"b.source")
        .select($"a.source".as("source_a"), $"b.source".as("source_b"),
          nMatch.as("n_match"),
          (nMatch.cast("double") / 32.0).as("est_jaccard"))
        .orderBy($"source_a", $"source_b")
    },
    Some {
      val affine = DuckOracle.toSigned(
        "(p.a * h + p.b) % 18446744073709551616::UHUGEINT")
      s"""
      WITH tk AS (
        SELECT source, string_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL
      ), hs AS (
        SELECT source,
               list_distinct(list_transform(range(1, len(t) - 1),
                 i -> ${DuckOracle.phU(
                   "array_to_string(list_slice(t, i, i + 2), ' ')")})) AS hs
        FROM tk WHERE len(t) >= 3
      ), sig AS (
        SELECT source,
               list_transform(${DuckOracle.mixPairs(32)},
                 p -> list_min(list_transform(hs, h -> $affine))) AS sig
        FROM hs
      ), mins AS (
        SELECT source, i, min(sig[i]) AS m
        FROM sig CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS i)
        GROUP BY source, i
      ), ssig AS (
        SELECT source, list(m ORDER BY i) AS sig FROM mins GROUP BY source
      )
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(len(list_filter(range(1, 33),
               i -> a.sig[i] = b.sig[i])) AS BIGINT) AS n_match,
             CAST(len(list_filter(range(1, 33),
               i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 32.0
               AS est_jaccard
      FROM ssig a JOIN ssig b ON a.source < b.source
      ORDER BY source_a, source_b"""
    })

  /** Asymmetric shingle containment (Dedup.containmentPairs): ordered
    * pairs where ≥ 60% of doc A's 3-shingles also appear in doc B —
    * the sub-document-duplication gate Jaccard misses (a short doc
    * pasted inside a longer one scores containment ≈ 1 from the short
    * side, Jaccard ≈ |A|/|B|). Containment is one exact integer
    * division; the oracle replays the shingle join by string. */
  val q130 = Q(
    "q130_containment_pairs",
    (s, d) => {
      import s.implicits._
      Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text",
        k = 3, threshold = 0.6)
        .select($"id_a", $"id_b", $"n_common", $"containment")
        .orderBy($"id_a", $"id_b")
    },
    Some("""
      WITH sh AS (
        SELECT DISTINCT doc_id, shingle
        FROM (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
                   i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))
                   AS shingle
          FROM documents)
      ), sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
      ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle
                          AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
      )
      SELECT id_a, id_b, n_common,
             CAST(n_common AS DOUBLE) / sa.n_sh AS containment
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      WHERE CAST(n_common AS DOUBLE) / sa.n_sh >= 0.6
      ORDER BY id_a, id_b"""))

  /** Bigram PMI collocations — tokenizer/vocab-curation surface
    * (Church & Hanks 1990): which adjacent token pairs co-occur far
    * above chance. pmi(a,b) = ln(p(ab) / (p(a)·p(b))) with p(ab) over
    * the corpus bigram count B and p(·) over the unigram count U.
    * Bigrams are emitted ROW-LOCALLY from the split array (transform
    * over the index sequence — no positional self-join), so the plan is
    * two count shuffles (unigram, bigram) + a broadcast of the two
    * corpus scalars; the PMI is a five-term log-domain sum over exact
    * counts (no integer product is ever formed — corpus-scale u·u
    * would overflow BIGINT), rounded at 6. min count 5 keeps the tail
    * out. */
  val q136 = Q(
    "q136_pmi_collocations",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
        .select(split($"text", " ").as("l"))
      val uni = docs.select(explode($"l").as("w"))
        .filter(length($"w") > 0)
        .groupBy($"w").agg(count(lit(1)).as("c"))
      val uTot = uni.agg(sum($"c").as("u"))
      val bi = docs.select(explode(expr(
          """CASE WHEN size(l) >= 2 THEN
               transform(sequence(1, size(l) - 1),
                 i -> struct(element_at(l, i) AS w1,
                             element_at(l, i + 1) AS w2))
             ELSE array() END""")).as("p"))
        .select($"p.w1", $"p.w2")
        .filter(length($"w1") > 0 && length($"w2") > 0)
        .groupBy($"w1", $"w2").agg(count(lit(1)).as("c_ab"))
        .filter($"c_ab" >= 5)
      val bTot = docs.select(explode(expr(
          """CASE WHEN size(l) >= 2 THEN
               transform(sequence(1, size(l) - 1),
                 i -> struct(element_at(l, i) AS w1,
                             element_at(l, i + 1) AS w2))
             ELSE array() END""")).as("p"))
        .filter(length($"p.w1") > 0 && length($"p.w2") > 0)
        .agg(count(lit(1)).as("b"))
      bi.join(uni.select($"w".as("w1"), $"c".as("c_a")), "w1")
        .join(uni.select($"w".as("w2"), $"c".as("c_b")), "w2")
        .crossJoin(broadcast(uTot)).crossJoin(broadcast(bTot))
        .select($"w1", $"w2", $"c_ab",
          // log-domain sum, NEVER an integer product: c_ab*u*u in
          // 64-bit would silently wrap once the corpus passes ~3e9
          // tokens (u*u alone overflows Long). Every operand is an
          // exact-in-double count, the five-term sum is written
          // left-to-right identically in the oracle, and round(6)
          // absorbs the few-ulp libm spread.
          round(log($"c_ab") + lit(2.0) * log($"u") - log($"b") -
            log($"c_a") - log($"c_b"), 6).as("pmi"))
        .orderBy($"w1", $"w2")
    },
    Some("""
      WITH docs AS (
        SELECT string_split(text, ' ') AS l FROM documents
      ), uni AS (
        SELECT w, count(*) AS c FROM (
          SELECT unnest(l) AS w FROM docs)
        WHERE length(w) > 0 GROUP BY w
      ), ut AS (SELECT CAST(sum(c) AS BIGINT) AS u FROM uni),
      big AS (
        SELECT l[i] AS w1, l[i + 1] AS w2
        FROM docs, LATERAL (SELECT unnest(range(1, len(l))) AS i)
        WHERE length(l[i]) > 0 AND length(l[i + 1]) > 0
      ), bi AS (
        SELECT w1, w2, count(*) AS c_ab FROM big
        GROUP BY w1, w2 HAVING count(*) >= 5
      ), bt AS (SELECT count(*) AS b FROM big)
      SELECT bi.w1, bi.w2, bi.c_ab,
             round(ln(bi.c_ab) + 2.0 * ln(ut.u) - ln(bt.b)
               - ln(ua.c) - ln(ub.c), 6) AS pmi
      FROM bi
      JOIN uni ua ON ua.w = bi.w1
      JOIN uni ub ON ub.w = bi.w2
      CROSS JOIN ut CROSS JOIN bt
      ORDER BY bi.w1, bi.w2"""))

  /** Character-class Shannon entropy — the cheap gibberish/boilerplate
    * quality gate (low entropy = repeated char classes, e.g. digit dumps
    * or padding). Five classes (lower/upper/digit/space/other) counted
    * by regex strip, entropy written as an EXPLICIT left-to-right sum of
    * five terms — no aggregation at all, so the float result is
    * bit-identical in any engine and at any parallelism; row-local,
    * codegen, embarrassingly parallel at 100 TB. */
  val q137 = Q(
    "q137_char_entropy",
    (s, d) => {
      import s.implicits._
      def cls(re: String) =
        length(regexp_replace($"text", re, ""))
      val counts = t(s, d, "documents")
        .select($"doc_id", length($"text").cast("long").as("len"),
          cls("[^a-z]").as("n_lower"), cls("[^A-Z]").as("n_upper"),
          cls("[^0-9]").as("n_digit"), cls("[^ ]").as("n_space"))
        .withColumn("n_other",
          $"len" - $"n_lower" - $"n_upper" - $"n_digit" - $"n_space")
      def term(c: String) = when(col(c) > 0,
        -(col(c).cast("double") / $"len") *
          log(col(c).cast("double") / $"len")).otherwise(lit(0.0))
      counts.filter($"len" > 0)
        .select($"doc_id", $"len",
          round(term("n_lower") + term("n_upper") + term("n_digit") +
            term("n_space") + term("n_other"), 6).as("entropy"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH c AS (
        SELECT doc_id, length(text) AS len,
               length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_lower,
               length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
               length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
               length(regexp_replace(text, '[^ ]', '', 'g')) AS n_space
        FROM documents
      ), c2 AS (
        SELECT doc_id, len, n_lower, n_upper, n_digit, n_space,
               len - n_lower - n_upper - n_digit - n_space AS n_other
        FROM c WHERE len > 0
      )
      SELECT doc_id, len,
             round(
               (CASE WHEN n_lower > 0 THEN -(n_lower::DOUBLE / len)
                  * ln(n_lower::DOUBLE / len) ELSE 0 END)
             + (CASE WHEN n_upper > 0 THEN -(n_upper::DOUBLE / len)
                  * ln(n_upper::DOUBLE / len) ELSE 0 END)
             + (CASE WHEN n_digit > 0 THEN -(n_digit::DOUBLE / len)
                  * ln(n_digit::DOUBLE / len) ELSE 0 END)
             + (CASE WHEN n_space > 0 THEN -(n_space::DOUBLE / len)
                  * ln(n_space::DOUBLE / len) ELSE 0 END)
             + (CASE WHEN n_other > 0 THEN -(n_other::DOUBLE / len)
                  * ln(n_other::DOUBLE / len) ELSE 0 END), 6) AS entropy
      FROM c2
      ORDER BY doc_id"""))

  /** Zipf rank-frequency slope per source — the corpus-datasheet
    * language-health check (natural text ≈ −1; spam/templated sources
    * drift off). Per-source top-1000 terms by frequency via the
    * bounded-heap TopKAgg (k rows per partition move — NOT a
    * per-source row_number window over the whole vocab, which at 100 TB
    * would gather ~10^7 rows per source into one task), then the OLS
    * closed form over (ln rank, ln freq). The moment sums run over at
    * most 1000 similar-magnitude terms, so round(4) sits ~8 orders
    * above the float reduction-order noise floor. */
  val q138 = Q(
    "q138_zipf_slope",
    (s, d) => {
      import s.implicits._
      val freq = t(s, d, "documents")
        .select($"source", explode(split($"text", " ")).as("w"))
        .filter(length($"w") > 0)
        .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      val ranked = freq.groupBy($"source")
        .agg(graft.functions.TopKAgg.topK(
          struct((-$"c").as("nc"), $"w"),
          struct($"w", $"c"), 1000).as("top"))
        .select($"source", posexplode($"top").as(Seq("r0", "t")))
        .select($"source", log(($"r0" + 1).cast("double")).as("x"),
          log($"t.c".cast("double")).as("y"))
      ranked.groupBy($"source")
        .agg(count(lit(1)).as("n_terms"), sum($"x").as("sx"),
          sum($"y").as("sy"), sum($"x" * $"y").as("sxy"),
          sum($"x" * $"x").as("sxx"))
        .select($"source", $"n_terms",
          round(($"n_terms" * $"sxy" - $"sx" * $"sy") /
            ($"n_terms" * $"sxx" - $"sx" * $"sx"), 4).as("zipf_slope"))
        .orderBy($"source")
    },
    Some("""
      WITH freq AS (
        SELECT source, w, count(*) AS c FROM (
          SELECT source, unnest(string_split(text, ' ')) AS w
          FROM documents)
        WHERE length(w) > 0 GROUP BY source, w
      ), ranked AS (
        SELECT source,
               row_number() OVER (PARTITION BY source
                 ORDER BY c DESC, w) AS r,
               c
        FROM freq
        QUALIFY r <= 1000
      ), xy AS (
        SELECT source, ln(r::DOUBLE) AS x, ln(c::DOUBLE) AS y
        FROM ranked
      )
      SELECT source, count(*) AS n_terms,
             round((count(*) * sum(x * y) - sum(x) * sum(y)) /
               (count(*) * sum(x * x) - sum(x) * sum(x)), 4)
               AS zipf_slope
      FROM xy
      GROUP BY source
      ORDER BY source"""))

  /** Winnowing fingerprint near-dup pairs (Schleimer et al. 2003, the
    * MOSS scheme — Dedup.winnowFingerprints + winnowPairs): each
    * sliding window of w=4 word-4-gram hashes keeps its rightmost
    * minimum; documents sharing ≥ 2 distinct kept fingerprints are
    * candidate pairs with the shared count. The winnowing guarantee
    * (any shared ≥ w+k-1-word run shares a fingerprint) holds while
    * only ~2/(w+1) of positions enter the inverted index — the
    * density-bounded alternative to full-shingle indexing. The oracle
    * replays the identical hash family and the identical prv/nxt
    * rightmost-min selection rule. */
  val q144 = Q(
    "q144_winnow_fingerprints",
    (s, d) => {
      import s.implicits._
      val fps = Dedup.winnowFingerprints(
        t(s, d, "documents"), "doc_id", "text", k = 4, w = 4)
      Dedup.winnowPairs(fps, "doc_id", minShared = 2)
        .select($"id_a", $"id_b", $"n_shared")
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""
      WITH tk AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
      ), sh AS (
        SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, u.h FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(t) - 2),
            i -> {'i': i, 'h': ${DuckOracle.phS(
              "array_to_string(list_slice(t, i, i + 3), ' ')")}})) AS u
          FROM tk WHERE len(t) >= 4)
      ), mx AS (
        SELECT doc_id, max(pos) AS maxpos FROM sh GROUP BY 1
      ), nb AS (
        SELECT a.doc_id, a.pos, a.h,
               coalesce(max(b.pos)
                 FILTER (WHERE b.pos < a.pos AND b.h < a.h),
                 a.pos - 4) AS prv,
               coalesce(min(b.pos)
                 FILTER (WHERE b.pos > a.pos AND b.h <= a.h),
                 a.pos + 4) AS nxt
        FROM sh a LEFT JOIN sh b
          ON a.doc_id = b.doc_id AND b.pos <> a.pos
         AND b.pos BETWEEN a.pos - 3 AND a.pos + 3
        GROUP BY a.doc_id, a.pos, a.h
      ), fp AS (
        SELECT nb.doc_id, nb.h
        FROM nb JOIN mx ON nb.doc_id = mx.doc_id
        WHERE greatest(nb.pos, prv + 4)
                <= least(nb.pos + 3, nxt - 1, maxpos)
      ), dfp AS (
        SELECT DISTINCT doc_id, h FROM fp
      )
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             count(*) AS n_shared
      FROM dfp a JOIN dfp b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
      ORDER BY id_a, id_b"""))

  /** Interpolated Kneser-Ney trigram LM, trained in-domain and scoring
    * every doc ([[graft.operators.KneserNey]]) — the KenLM-family
    * smoothing CCNet-style perplexity filters deploy, one order above
    * q89. The oracle retrains the identical model in SQL: every count
    * is integer-exact and the per-trigram double arithmetic uses the
    * same literal arrangement, so only ln-summation order differs
    * (absorbed by emit6). */
  val q146 = Q(
    "q146_kneser_ney_ppl",
    (s, d) => {
      import s.implicits._
      graft.operators.KneserNey.knScore(t(s, d, "documents"))
        .select($"doc_id", $"n_trigrams",
          DomainQ.emit6($"log_prob").as("log_prob"),
          DomainQ.emit6($"xent").as("xent"),
          DomainQ.emit6($"ppl").as("ppl"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
      ), tg AS (
        SELECT doc_id, unnest(list_transform(range(1, len(l) - 1),
          i -> {'w1': l[i], 'w2': l[i + 1], 'w3': l[i + 2]})) AS t
        FROM toks
      ), tgs AS (
        SELECT doc_id, t.w1 AS w1, t.w2 AS w2, t.w3 AS w3 FROM tg
      ), tri AS (
        SELECT w1, w2, w3, count(*) AS c3 FROM tgs GROUP BY 1, 2, 3
      ), ctx2 AS (
        SELECT w1, w2, sum(c3) AS cx, count(*) AS n3 FROM tri GROUP BY 1, 2
      ), cont2 AS (
        SELECT w2, w3, count(*) AS k2 FROM tri GROUP BY 1, 2
      ), mid AS (
        SELECT w2, sum(k2) AS md, count(*) AS n2 FROM cont2 GROUP BY 1
      ), cont1 AS (
        SELECT w3, count(*) AS k1 FROM cont2 GROUP BY 1
      ), sc AS (
        SELECT (SELECT count(*) FROM cont2) AS b,
               (SELECT count(*) FROM cont1) AS w,
               (SELECT count(DISTINCT tok)
                FROM (SELECT unnest(l) AS tok FROM toks)) AS v
      ), joined AS (
        SELECT g.doc_id,
               coalesce(tri.c3, 0) AS c3,
               coalesce(x.cx, 0) AS cx, coalesce(x.n3, 0) AS n3,
               coalesce(c2.k2, 0) AS k2,
               coalesce(md.md, 0) AS md, coalesce(md.n2, 0) AS n2,
               coalesce(c1.k1, 0) AS k1
        FROM tgs g
        LEFT JOIN tri USING (w1, w2, w3)
        LEFT JOIN ctx2 x USING (w1, w2)
        LEFT JOIN cont2 c2 USING (w2, w3)
        LEFT JOIN mid md USING (w2)
        LEFT JOIN cont1 c1 USING (w3)
      ), p AS (
        SELECT doc_id,
               greatest(k1 - 0.75, 0.0) / sc.b
                 + 0.75 * sc.w / sc.b * (1.0 / sc.v) AS p1,
               CASE WHEN md > 0 THEN
                 greatest(k2 - 0.75, 0.0) / md + 0.75 * n2 / md * p1
               ELSE p1 END AS p2,
               CASE WHEN cx > 0 THEN
                 greatest(c3 - 0.75, 0.0) / cx + 0.75 * n3 / cx * p2
               ELSE p2 END AS p3
        FROM joined CROSS JOIN sc
      ), scored AS (
        SELECT doc_id, count(*) AS n_trigrams, sum(ln(p3)) AS lp
        FROM p GROUP BY 1
      )
      SELECT d.doc_id,
             coalesce(s.n_trigrams, 0) AS n_trigrams,
             round(s.lp, 6) + 0.0 AS log_prob,
             round(-s.lp / s.n_trigrams, 6) + 0.0 AS xent,
             round(exp(-s.lp / s.n_trigrams), 6) + 0.0 AS ppl
      FROM documents d LEFT JOIN scored s USING (doc_id)
      ORDER BY doc_id"""))

  /** CCNet head/middle/tail perplexity partition: the q89 bigram-LM
    * cross-entropy (rounded at 6 — the grain q89 already proves equal
    * across engines) ranked per LANGUAGE and cut into ceil-quantile
    * terciles — [[graft.operators.Curation.rankBuckets]]. The rank is
    * the partition-offset prefix sum over (lang, xent, doc_id), never a
    * per-language window; the bucket compare is pure integers. The
    * oracle replays the LM training CTEs, then a window rank (fine at
    * oracle scale) with the identical total order and bucket rule. */
  val q151 = Q(
    "q151_ppl_terciles",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val scored = TextAnalysis.bigramLmScore(docs)
        .filter($"n_bigrams" > 0)
        .select($"doc_id", DomainQ.emit6($"xent").as("xent"))
        .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      Curation.rankBuckets(scored, "lang",
          Seq($"xent", $"doc_id"), nBuckets = 3)
        .select($"doc_id", $"lang", $"xent", $"rank", $"bucket")
        .orderBy($"doc_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
      ), bg AS (
        SELECT doc_id, unnest(list_transform(range(1, len(l)),
          i -> {'w1': l[i], 'w2': l[i + 1]})) AS p
        FROM toks
      ), bgs AS (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg
      ), bc AS (
        SELECT w1, w2, count(*) AS cb FROM bgs GROUP BY 1, 2
      ), cc AS (
        SELECT w1, sum(cb) AS cctx FROM bc GROUP BY 1
      ), v AS (
        SELECT count(DISTINCT tok) AS nv
        FROM (SELECT unnest(l) AS tok FROM toks)
      ), scored AS (
        SELECT g.doc_id, count(*) AS n_bigrams,
               sum(ln((bc.cb + 1.0) / (cc.cctx + 1.0 * v.nv))) AS lp
        FROM bgs g
        JOIN bc USING (w1, w2)
        JOIN cc USING (w1)
        CROSS JOIN v
        GROUP BY 1
      ), x AS (
        SELECT s.doc_id, d.lang,
               round(-s.lp / s.n_bigrams, 6) + 0.0 AS xent
        FROM scored s JOIN documents d USING (doc_id)
        WHERE s.n_bigrams > 0
      ), r AS (
        SELECT doc_id, lang, xent,
               row_number() OVER (PARTITION BY lang
                 ORDER BY xent, doc_id) AS rank,
               count(*) OVER (PARTITION BY lang) AS n
        FROM x)
      SELECT doc_id, lang, xent, CAST(rank AS BIGINT) AS rank,
             CAST((rank * 3 + n - 1) // n AS BIGINT) AS bucket
      FROM r ORDER BY doc_id"""))

  /** Unicode text normalization — the pre-tokenizer hygiene pass every
    * production corpus runs ([[graft.functions.Expressions.normalizeText]]):
    * NFC composition, control/zero-width/BOM strip, space-run collapse,
    * trim — one codegen kernel, bit-identical at any parallelism. The
    * fixture plants combining accents (NFC must compose), a SOH control
    * (not NUL: utf8proc's nfc_normalize is C-string-based and truncates
    * there), a CR,
    * zero-width space/joiner and ragged space runs around each
    * document's text; the oracle replays the exact chain with DuckDB's
    * utf8proc `nfc_normalize` + RE2 class removal + collapse + trim —
    * two INDEPENDENT Unicode implementations agreeing char-for-char is
    * the point of the gate. Output hashes the cleaned strings and their
    * codepoint lengths. */
  val q157 = Q(
    "q157_normalize_text",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val messy = docs.select($"doc_id",
        concat(
          lit("  a\u0301 "), // decomposed: the kernel's NFC must compose
          $"text",
          when($"doc_id" % 3 === 0,
            lit(" \u200Bzero\u200Dwidth\u0001ctl")).otherwise(lit("")),
          when($"doc_id" % 3 === 1, lit("\r tail")).otherwise(lit("")),
          lit("  e\u0301tude  ")).as("raw"))
      messy.select($"doc_id",
          graft.functions.Expressions.normalizeText($"raw").as("clean"))
        .withColumn("n_chars_clean", length($"clean").cast("long"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH m AS (
        SELECT doc_id,
               '  a' || chr(769) || ' ' || text
               || CASE WHEN doc_id % 3 = 0
                    THEN ' ' || chr(8203) || 'zero' || chr(8205)
                         || 'width' || chr(1) || 'ctl'
                    ELSE '' END
               || CASE WHEN doc_id % 3 = 1
                    THEN chr(13) || ' tail' ELSE '' END
               || '  e' || chr(769) || 'tude  ' AS raw
        FROM documents
      )
      SELECT doc_id,
             trim(regexp_replace(nfc_normalize(regexp_replace(raw,
               '[\x00-\x08\x0B-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]',
               '', 'g')), ' +', ' ', 'g')) AS clean,
             length(trim(regexp_replace(nfc_normalize(regexp_replace(raw,
               '[\x00-\x08\x0B-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]',
               '', 'g')), ' +', ' ', 'g'))) AS n_chars_clean
      FROM m ORDER BY doc_id"""))

  /** Normalization-aware exact dedup — the integration the q157 kernel
    * exists for: byte-DIFFERENT but canonically-equal copies (composed
    * vs decomposed accents, zero-width joiners, ragged spacing) must
    * collapse to one hash AFTER [[graft.functions.Expressions
    * .normalizeText]] while raw md5 keeps them apart. The fixture
    * plants one composed and one decomposed variant of every document;
    * the output proves each pair lands in ONE group of exactly two
    * copies with the composed variant's id kept (min id), and carries
    * the raw-hash distinct count as the negative control (2 per pair).
    * Oracle: DuckDB md5 over its independent nfc_normalize chain. */
  val q160 = Q(
    "q160_normalized_dedup",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val variants = docs.select($"doc_id",
          concat($"text", lit(" caf\u00E9  ")).as("text")) // composed
        .unionByName(docs.select(($"doc_id" + 1000000L).as("doc_id"),
          concat($"text",
            lit("  cafe\u0301 \u200B")).as("text"))) // decomposed + ZWSP
      val normalized = variants.select($"doc_id",
        graft.functions.Expressions.normalizeText($"text").as("norm"),
        $"text")
      val groups = normalized
        .groupBy(md5($"norm").as("text_hash"))
        .agg(count(lit(1)).as("n_copies"),
          min($"doc_id").as("keep_id"),
          countDistinct(md5($"text")).as("n_raw_hashes"))
      groups.select($"keep_id", $"n_copies", $"n_raw_hashes")
        .orderBy($"keep_id")
    },
    Some("""
      WITH variants AS (
        SELECT doc_id, text || ' caf' || chr(233) || '  ' AS text
        FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               text || '  cafe' || chr(769) || ' ' || chr(8203) AS text
        FROM documents
      ), normalized AS (
        SELECT doc_id, text,
               trim(regexp_replace(nfc_normalize(regexp_replace(text,
                 '[\x00-\x08\x0B-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]',
                 '', 'g')), ' +', ' ', 'g')) AS norm
        FROM variants
      )
      SELECT min(doc_id) AS keep_id,
             count(*) AS n_copies,
             CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw_hashes
      FROM normalized
      GROUP BY md5(norm)
      ORDER BY keep_id"""))

  /** Markup → text extraction ([[graft.functions.Expressions
    * .stripMarkup]], SQL `strip_markup`) — the pass a web corpus runs
    * BEFORE [[q157]]'s normalization. The fixture wraps every document
    * in markup exercising each stage: a script block whose CONTENT
    * must vanish (including a bare `1 < 2` and a newline, behind an
    * attribute containing `>` so the lazy `[^>]*` boundary is what
    * decides), a style block, a multi-line comment, tags as word
    * boundaries (`<b>bold</b>text` → "bold text"), bare math `a < b`
    * that the `<[a-zA-Z/!]` tag class must NOT eat, the core entities
    * including the double-encoded `&amp;lt;` (which must decode to the
    * TEXT `&lt;` — amp strictly last), `&#39;` numeric quotes, and a
    * case-flipped `</BODY>`. The oracle replays the chain with
    * DuckDB's independent RE2 engine (every pattern is in the shared
    * java.util.regex/RE2 subset) plus nested replace(); a second
    * column composes [[q157]]'s normalize_text on top, gating the
    * markup→normalize pipeline end-to-end. */
  val q163 = Q(
    "q163_strip_markup",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val messy = docs.select($"doc_id", concat(
        lit("<html><head><SCRIPT type=\"a>b\">var x = 1 < 2;\n" +
          "</script ><style>.c{color:red}</style></head><body>" +
          "<!-- note\n --><p class=\"x\">"),
        $"text",
        lit(" &amp;lt;i&amp;gt; <b>bold</b>text a < b&nbsp;" +
          "&lt;tag&gt; &#39;q&#39;</p></BODY></html>")).as("raw"))
      messy.select($"doc_id",
          graft.functions.Expressions.stripMarkup($"raw").as("clean"))
        .select($"doc_id", $"clean",
          length($"clean").cast("long").as("n_chars"),
          graft.functions.Expressions.normalizeText($"clean")
            .as("clean_norm"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH m AS (
        SELECT doc_id,
               '<html><head><SCRIPT type="a>b">var x = 1 < 2;'
               || chr(10) || '</script ><style>.c{color:red}</style>'
               || '</head><body><!-- note' || chr(10)
               || ' --><p class="x">' || text
               || ' &amp;lt;i&amp;gt; <b>bold</b>text a < b&nbsp;'
               || '&lt;tag&gt; &#39;q&#39;</p></BODY></html>' AS raw
        FROM documents
      ), st AS (
        SELECT doc_id,
          trim(regexp_replace(
            replace(replace(replace(replace(replace(replace(replace(
              regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(raw,
                  '<script\b[^>]*>.*?</script\s*>', ' ', 'gis'),
                '<style\b[^>]*>.*?</style\s*>', ' ', 'gis'),
                '<!--.*?-->', ' ', 'gs'),
                '<[a-zA-Z/!][^>]*>', ' ', 'g'),
              '&nbsp;', ' '), '&quot;', '"'), '&apos;', chr(39)),
              '&#39;', chr(39)), '&lt;', '<'), '&gt;', '>'),
              '&amp;', '&'),
            '[ \t\n\r]+', ' ', 'g')) AS clean
        FROM m
      )
      SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n_chars,
             trim(regexp_replace(nfc_normalize(regexp_replace(clean,
               '[\x00-\x08\x0B-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]',
               '', 'g')), ' +', ' ', 'g')) AS clean_norm
      FROM st ORDER BY doc_id"""))

  /** Unicode-script census ([[graft.functions.Expressions
    * .scriptProfile]]) — the script-mix signal a multilingual pipeline
    * pairs with language ID (q29): lang-ID n-gram models mislabel
    * script-mixed documents (spam, spoofed homoglyphs, boilerplate
    * concatenations), so the per-script codepoint counts gate them
    * directly. The fixture splices Cyrillic/Han/Greek/Arabic/Hangul
    * snippets onto the ASCII corpus by doc_id residue; the kernel is
    * ONE surrogate-aware pass per row (vs 6 regex scans), and the
    * oracle replays every slot with DuckDB's INDEPENDENT Unicode
    * implementation — RE2 `\\p{Script}` classes + codepoint length —
    * two Unicode Script tables agreeing count-for-count, the q157
    * normalize_text discipline applied to script detection. Dominant
    * script and the mixed-script degree derive from the counts with a
    * fixed tie order, so the whole row is integer/string-exact. */
  /** The q165 script fixture snippets, spliced by doc_id residue —
    * shared verbatim by the Spark side and the DuckDB oracle literal. */
  private val FixCyr = " Привет мир"
  private val FixHan = " 你好世界漢字"
  private val FixGrk = " γειά σου Κόσμε"
  private val FixAra = " مرحبا بالعالم"
  private val FixHgl = " 한글 테스트"

  val q165 = Q(
    "q165_script_profile",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val raw = concat($"text",
        when(pmod($"doc_id", lit(4L)) === 0L, lit(FixCyr))
          .when(pmod($"doc_id", lit(4L)) === 1L, lit(FixHan))
          .when(pmod($"doc_id", lit(4L)) === 2L, lit(FixGrk))
          .otherwise(lit("")),
        when(pmod($"doc_id", lit(7L)) === 0L, lit(FixAra))
          .otherwise(lit("")),
        when(pmod($"doc_id", lit(11L)) === 0L, lit(FixHgl))
          .otherwise(lit("")))
      val named = docs
        .select($"doc_id",
          graft.functions.Expressions.scriptProfile(raw).as("sp"))
        .select($"doc_id",
          element_at($"sp", 1).as("n_latin"),
          element_at($"sp", 2).as("n_cyrillic"),
          element_at($"sp", 3).as("n_han"),
          element_at($"sp", 4).as("n_greek"),
          element_at($"sp", 5).as("n_arabic"),
          element_at($"sp", 6).as("n_hangul"),
          element_at($"sp", 7).as("n_other"))
      val six = Seq("n_latin", "n_cyrillic", "n_han", "n_greek",
        "n_arabic", "n_hangul")
      val mx = greatest(six.map(col): _*)
      named.select($"doc_id", $"n_latin", $"n_cyrillic", $"n_han",
          $"n_greek", $"n_arabic", $"n_hangul", $"n_other",
          when($"n_latin" === mx, "latin")
            .when($"n_cyrillic" === mx, "cyrillic")
            .when($"n_han" === mx, "han")
            .when($"n_greek" === mx, "greek")
            .when($"n_arabic" === mx, "arabic")
            .otherwise("hangul").as("dominant_script"),
          six.map(c => when(col(c) > 0L, 1L).otherwise(0L))
            .reduce(_ + _).as("n_scripts"))
        .orderBy($"doc_id")
    }, {
      val cnt = (script: String) =>
        s"""length(raw) - length(regexp_replace(raw,
               '[\\p{$script}]', '', 'g'))"""
      Some(s"""
      WITH m AS (
        SELECT doc_id, text
          || CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN '$FixCyr' WHEN 1 THEN '$FixHan'
               WHEN 2 THEN '$FixGrk' ELSE '' END
          || CASE WHEN doc_id % 7 = 0 THEN '$FixAra' ELSE '' END
          || CASE WHEN doc_id % 11 = 0 THEN '$FixHgl' ELSE '' END AS raw
        FROM documents
      ), p AS (
        SELECT doc_id,
               CAST(${cnt("Latin")} AS BIGINT) AS n_latin,
               CAST(${cnt("Cyrillic")} AS BIGINT) AS n_cyrillic,
               CAST(${cnt("Han")} AS BIGINT) AS n_han,
               CAST(${cnt("Greek")} AS BIGINT) AS n_greek,
               CAST(${cnt("Arabic")} AS BIGINT) AS n_arabic,
               CAST(${cnt("Hangul")} AS BIGINT) AS n_hangul,
               CAST(length(raw) AS BIGINT) AS tot
        FROM m
      ), q AS (
        SELECT *, greatest(n_latin, n_cyrillic, n_han, n_greek,
                 n_arabic, n_hangul) AS mx
        FROM p)
      SELECT doc_id, n_latin, n_cyrillic, n_han, n_greek, n_arabic,
             n_hangul,
             tot - n_latin - n_cyrillic - n_han - n_greek - n_arabic
               - n_hangul AS n_other,
             CASE WHEN n_latin = mx THEN 'latin'
                  WHEN n_cyrillic = mx THEN 'cyrillic'
                  WHEN n_han = mx THEN 'han'
                  WHEN n_greek = mx THEN 'greek'
                  WHEN n_arabic = mx THEN 'arabic'
                  ELSE 'hangul' END AS dominant_script,
             CAST((CASE WHEN n_latin > 0 THEN 1 ELSE 0 END)
               + (CASE WHEN n_cyrillic > 0 THEN 1 ELSE 0 END)
               + (CASE WHEN n_han > 0 THEN 1 ELSE 0 END)
               + (CASE WHEN n_greek > 0 THEN 1 ELSE 0 END)
               + (CASE WHEN n_arabic > 0 THEN 1 ELSE 0 END)
               + (CASE WHEN n_hangul > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_scripts
      FROM q ORDER BY doc_id""")
    })

  /** LSH S-curve calibration — the tuning companion to q124's
    * precision/recall audit: the MinHash parameters (b bands × r rows)
    * imply a detection-probability curve P(s) = 1 − (1 − s^r)^b, and
    * this census MEASURES it against planted pairs at known Jaccard
    * levels pushed through the PRODUCTION q33 path
    * (Dedup.minHashCandidates, k=3, 32 hashes, 8 bands of 4). Seven
    * mutation levels (drop every m-th word, m ∈ {3,5,9,12,15,25,40})
    * spread 980 planted pairs across exact-Jaccard buckets 0.0-0.9 —
    * spanning the b=8/r=4 S-curve's transition at s* = (1/b)^(1/r) ≈
    * 0.59 — and the census emits per bucket the planted count, the
    * measured detection fraction, and the mean theoretical P(s): the
    * table a user reads to pick bands×rows for a target threshold.
    * Deterministic end-to-end (fixed splitmix family), so the oracle
    * replays signatures + banding exactly (q33 pattern) — but only on
    * the 980 planted pairs, never all-pairs. Scale shape: the LSH is
    * the production band-bucket plan; the truth side is a planted-key
    * join; the exact Jaccard is row-local array arithmetic. */
  val q177 = Q(
    "q177_lsh_s_curve",
    (s, d) => {
      import s.implicits._
      val ms = Seq(3, 5, 9, 12, 15, 25, 40)
      val base = t(s, d, "documents").filter($"text".isNotNull)
        .filter(size(split($"text", " ")) >= 45)
        .filter($"doc_id" % 2 === 0)
        .select($"doc_id", $"text")
      // mutant ids live in a disjoint high-bit namespace (level << 40):
      // base doc_ids would have to exceed 2^40 ≈ 1.1e12 before a mutant
      // id could collide with a base doc or another level — a fixed
      // decimal offset (1e6) broke at doc_id counts real replica scales
      // reach, silently corrupting the planted-pair truth
      val mutants = ms.zipWithIndex.map { case (m, l) =>
        base.select(($"doc_id" + ((l + 1).toLong << 40)).as("doc_id"),
          expr(s"array_join(filter(split(text, ' '), " +
            s"(w, i) -> (i + 1) % $m != 0), ' ')").as("text"))
      }.reduce(_ unionByName _)
      val corpus = base.unionByName(mutants)
      val found = Dedup.minHashCandidates(corpus, "doc_id", "text",
          k = 3, numHashes = 32, bands = 8)
        .select($"id_a", $"id_b", lit(1).as("hit"))
      // guarded so the expression is safe standalone: Spark's
      // sequence(1, 0) DESCENDS to [1, 0] and slice(_, 0, 3) throws —
      // a greatest(n-2, 0) stop does NOT make 1-2-word texts safe.
      // r16: `split(text)` is LET-BOUND via a single-element transform
      // (the Phash.aHash64Hof idiom) instead of written inline in the
      // shingle lambda's body — a lambda body re-evaluates its
      // subexpressions PER ELEMENT, so the inline form re-split a
      // ~500-word document ~500 times (O(words²) per row; StageProfile
      // measured 23.9 s task CPU across the two shingle broadcast
      // stages). Same strings, same distinct set — one split per row.
      val sh = corpus.select($"doc_id", expr(
        "element_at(transform(array(split(text, ' ')), w -> " +
          "CASE WHEN size(w) >= 3 THEN " +
          "array_distinct(transform(sequence(1, size(w) - 2), " +
          "i -> array_join(slice(w, i, 3), ' '))) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END), 1)")
        .as("sh"))
      val planted = ms.indices.map { l =>
        base.select($"doc_id".as("id_a"),
          ($"doc_id" + ((l + 1).toLong << 40)).as("id_b"))
      }.reduce(_ unionByName _)
      planted
        .join(sh.as("sa"), $"id_a" === $"sa.doc_id")
        .join(sh.as("sb"), $"id_b" === $"sb.doc_id")
        .select($"id_a", $"id_b",
          (size(array_intersect($"sa.sh", $"sb.sh")).cast("double") /
            size(array_union($"sa.sh", $"sb.sh")).cast("double"))
            .as("s"))
        .join(found, Seq("id_a", "id_b"), "left")
        .withColumn("det", $"hit".isNotNull)
        .groupBy(floor($"s" * 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when($"det", 1L).otherwise(0L)).as("n_detected"),
          round(avg(when($"det", 1.0).otherwise(0.0)), 6)
            .as("detected_frac"),
          round(avg(lit(1.0) - pow(lit(1.0) - pow($"s", 4.0), 8.0)), 6)
            .as("theoretical"))
        .orderBy($"bucket")
    },
    Some {
      val affine = DuckOracle.toSigned(
        "(p.a * h + p.b) % 18446744073709551616::UHUGEINT")
      s"""
      WITH base AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 45
          AND doc_id % 2 = 0
      ), lv AS (
        SELECT * FROM (VALUES (1, 3), (2, 5), (3, 9), (4, 12), (5, 15),
          (6, 25), (7, 40)) AS v(l, m)
      ), mut AS (
        SELECT b.doc_id + l * 1099511627776 AS doc_id,
               array_to_string(list_filter(string_split(b.text, ' '),
                 (w, i) -> i % m <> 0), ' ') AS text
        FROM base b CROSS JOIN lv
      ), corpus AS (
        SELECT * FROM base UNION ALL SELECT * FROM mut
      ), tk AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM corpus
      ), hs AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(t) - 1),
                 i -> ${DuckOracle.phU(
                   "array_to_string(list_slice(t, i, i + 2), ' ')")}))
                 AS hs
        FROM tk WHERE len(t) >= 3
      ), sig AS (
        SELECT doc_id,
               list_transform(${DuckOracle.mixPairs(32)},
                 p -> list_min(list_transform(hs, h -> $affine))) AS sig
        FROM hs
      ), sh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(string_split(text, ' ')) - 2,
            0)),
          i -> array_to_string(
            list_slice(string_split(text, ' '), i, i + 2), ' '))) AS sh
        FROM corpus
      ), planted AS (
        SELECT b.doc_id AS id_a, b.doc_id + l * 1099511627776 AS id_b
        FROM base b CROSS JOIN lv
      ), wj AS (
        SELECT id_a, id_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / (len(sa.sh) + len(sb.sh)
                    - len(list_intersect(sa.sh, sb.sh))) AS s,
               (len(list_filter(range(0, 8),
                  bb -> list_slice(ga.sig, bb * 4 + 1, bb * 4 + 4)
                      = list_slice(gb.sig, bb * 4 + 1, bb * 4 + 4)))
                 > 0) AS det
        FROM planted
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b
        JOIN sig ga ON ga.doc_id = id_a
        JOIN sig gb ON gb.doc_id = id_b
      )
      SELECT CAST(floor(s * 10) AS BIGINT) AS bucket,
             count(*) AS n_pairs,
             CAST(sum(CASE WHEN det THEN 1 ELSE 0 END) AS BIGINT)
               AS n_detected,
             round(avg(CASE WHEN det THEN 1.0 ELSE 0.0 END), 6)
               AS detected_frac,
             round(avg(1 - pow(1 - pow(s, 4), 8)), 6) AS theoretical
      FROM wj GROUP BY 1 ORDER BY bucket"""
    })

  /** Tokenizer fertility census — the standard multilingual-tokenizer
    * equity report over the q92/q93 BPE surface: per language,
    * characters per subword token and subword tokens per whitespace
    * word for the corpus-trained 12-merge BPE. A tokenizer trained on
    * an en-heavy corpus "taxes" other languages with more tokens per
    * word — this census is the table that audit reads. One encode pass
    * (the trained merge list folds into codegen'd replaces, row-local)
    * + one grouped aggregation; integer totals, two exact divisions
    * rounded at 6. */
  val q178 = Q(
    "q178_tokenizer_fertility",
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.bpeTrain(docs, numMerges = 12)
        .orderBy($"rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncode(docs, merges)
        .withColumn("n_words",
          size(filter(split($"text", " "), w => length(w) > 0))
            .cast("long"))
        .withColumn("n_chars", length($"text").cast("long"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_words").as("n_words"),
          sum($"n_tokens_bpe").as("n_tokens"),
          (round(sum($"n_chars").cast("double") /
            nullif(sum($"n_tokens_bpe"), lit(0L)), 6) + lit(0.0))
            .as("chars_per_token"),
          (round(sum($"n_tokens_bpe").cast("double") /
            nullif(sum($"n_words"), lit(0L)), 6) + lit(0.0))
            .as("tokens_per_word"))
        .orderBy($"lang")
    },
    Some(bpeFertilityOracleSql(12)))

  val all: Seq[Q] =
    Seq(q29, q30, q31, q32, q33, q34, q35, q42, q50, q60, q61, q62, q89,
      q92, q93, q99, q101, q103, q104, q105, q111, q112, q113, q114,
      q124, q126, q127, q130, q136, q137, q138, q144, q146, q151, q157,
      q160, q163, q165, q177, q178)
}
