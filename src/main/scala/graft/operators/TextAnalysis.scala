package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID (stopword-hit heuristic), quality scoring, token counting,
  * and document fingerprinting. All pure `functions._` column expressions
  * (whole-stage codegen; no UDFs), embarrassingly parallel per row — the
  * shape that scales linearly to 100 TB of documents.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Real deployments would broadcast larger lists; the
    * mechanism (array_intersect-free lambda count, codegen'd) is the same. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en", "que"))

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** Non-distinct count of tokens that belong to `words`. */
  def hitCount(toks: Column, words: Seq[String]): Column = {
    val lits = array(words.map(lit): _*)
    size(filter(toks, w => array_contains(lits, w))).cast("long")
  }

  /** Language-ID: per-language stopword hit counts; detected = argmax
    * (ties broken by language code order, deterministic). */
  def langScores(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val scored = stopwords.toSeq.sortBy(_._1).foldLeft(df) {
      case (acc, (lang, words)) =>
        acc.withColumn(s"hits_$lang", hitCount(toks, words))
    }
    val langs = stopwords.keys.toSeq.sorted
    // argmax via greatest over (hits, neg-codepoint, lang) structs — ties
    // resolve to the alphabetically-first language, deterministically:
    val detected = langs
      .map(l => struct(col(s"hits_$l").as("h"),
        lit(-l.codePointAt(0)).as("neg"), lit(l).as("l")))
      .reduceLeft((a, b) => greatest(a, b))
    scored.withColumn("detected_lang", detected.getField("l"))
  }

  /** Quality score features: length, token count, mean token length,
    * punctuation/digit/uppercase ratios, stopword ratio — the classic
    * C4/Gopher-style filters, all codegen'd arithmetic. */
  def qualityFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    df.withColumn("n_chars_calc", length(t).cast("long"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("mean_token_len",
        (length(t) - (size(toks) - 1)).cast("double") / size(toks))
      .withColumn("digit_ratio",
        (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("double")
          / length(t))
      .withColumn("stop_ratio",
        hitCount(toks, stopwords("en")).cast("double") / size(toks))
  }

  /** BPE-ish token estimate: whitespace words plus an extra token per
    * punctuation/digit run (a cheap, deterministic proxy for subword
    * tokenizers — useful for corpus token accounting at scale). */
  def tokenEstimate(text: Column): Column =
    (size(split(text, " ")) +
      size(filter(split(regexp_replace(text, "[a-zA-Z ]+", " "), " "),
        s => length(s) > 0))).cast("long")

  /** Document fingerprint: hash of the first k tokens (prefix dedup key —
    * the cheap first-pass dedup for crawl corpora). */
  def prefixFingerprint(text: Column, k: Int = 8): Column =
    md5(concat_ws(" ", slice(split(text, " "), 1, k)))

  /** Rolling-hash fingerprint (Rabin-Karp base-31 mod 1e9+7 over the whole
    * text — exact-dup key that is cheap to compute incrementally at scale;
    * the modulus keeps the fold in range under ANSI arithmetic). One
    * codegen byte loop (graft.functions.Expressions.rollingHash31) — the
    * per-character split + interpreted aggregate it replaces paid a
    * lambda dispatch per CHARACTER of the corpus. */
  def rollingHash(text: Column): Column =
    graft.functions.Expressions.rollingHash31(text)

  /** Per-(doc, term) term frequencies over whitespace tokens — the base
    * posting table for TF-IDF/BM25. One explode + one (doc, term)
    * groupBy: a single shuffle of narrow (id, term) rows. */
  def termFrequencies(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** TF-IDF per (doc, term): idf = ln((N+1)/(df+1)) + 1 (the smoothed
    * sklearn formulation — never zero, no division hazard on unseen
    * terms). Shape: the tf posting shuffle, a tiny per-term df
    * aggregation, and a term-keyed join back. The df/idf side is
    * vocabulary-sized; at corpus scale that can exceed broadcast range,
    * so it is left as a shuffle join on `term` — tf is already narrow
    * and AQE will broadcast it when it does fit. The corpus size N rides
    * in via a broadcast single-row cross join (no driver action). */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termFrequencies(df, idCol, textCol)
    val n = df.select(count(lit(1)).as("n_docs"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("idf",
        log((col("n_docs") + 1).cast("double") / (col("doc_freq") + 1))
          + 1.0)
      .withColumn("tfidf", col("tf") * col("idf"))
      .select(col(idCol), col("term"), col("tf"), col("doc_freq"),
        col("idf"), col("tfidf"))
  }

  /** BM25 relevance of every document to a query term set (Robertson/
    * Sparck Jones idf, k1/b defaults from the literature). The posting
    * table is FILTERED to the query terms before any join — at 100 TB
    * the scored frame is |docs containing a query term|, not the corpus.
    * Output: (idCol, score) for docs matching ≥ 1 query term. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must not be empty")
    val tf = termFrequencies(df, idCol, textCol)
      .filter(col("term").isin(queryTerms: _*))
    val docLen = df.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("dl"))
    val stats = df.select(count(lit(1)).as("n_docs"),
      avg(size(tokens(col(textCol)))).as("avg_dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    tf.join(dfreq, "term")
      .join(docLen, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(
        (col("n_docs") - col("doc_freq") + 0.5) /
          (col("doc_freq") + 0.5) + 1.0))
      .withColumn("term_score",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") +
            lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avg_dl"))))
      .groupBy(col(idCol))
      .agg(sum(col("term_score")).as("score"))
  }

  /** Gopher-style repetition quality signals (Rae et al. 2021, App. A:
    * the "fraction of characters/words in the most common n-gram"
    * filter family — documents dominated by one repeated phrase are
    * boilerplate): per document, the occurrence fraction of the most
    * common word n-gram (`top_gram_frac`), the total occurrence
    * fraction of n-grams appearing more than once (`dup_gram_frac`),
    * and the n-gram count. ONE row-local codegen kernel pass per row
    * (`Expressions.gramRepetition`) — no explode, no token shuffle,
    * linear to 100 TB. */
  def repetitionStats(df: DataFrame, textCol: String = "text",
      n: Int = 2): DataFrame =
    df.withColumn("_rep",
        graft.functions.Expressions.gramRepetition(col(textCol), n))
      .withColumn("top_gram_frac", element_at(col("_rep"), 1))
      .withColumn("dup_gram_frac", element_at(col("_rep"), 2))
      .withColumn("n_grams", element_at(col("_rep"), 3).cast("long"))
      .drop("_rep")

  /** PII patterns (the CCNet/Dolma-style scrub list). Kept RE2-safe —
    * no lookaround, no backreferences — so the Java and RE2 regex
    * engines find the same non-overlapping leftmost matches and the
    * DuckDB oracle replays redaction exactly. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val SsnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  val PhoneRe = "\\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\\b"
  val IpRe =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII scrubbing for training corpora: count then redact emails,
    * SSN-shaped ids, phone-shaped numbers and IPv4 literals with typed
    * placeholder tags. Counts are taken on the ORIGINAL text; the
    * replacement chain applies in a fixed order (email → ssn → phone →
    * ip) so nested shapes resolve deterministically. Row-local regex
    * kernels — zero shuffle, linear to 100 TB. */
  def redactPii(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("n_emails", regexp_count(col(textCol), lit(EmailRe)))
      .withColumn("n_ssns", regexp_count(col(textCol), lit(SsnRe)))
      .withColumn("n_phones", regexp_count(col(textCol), lit(PhoneRe)))
      .withColumn("n_ips", regexp_count(col(textCol), lit(IpRe)))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
              SsnRe, "<SSN>"),
            PhoneRe, "<PHONE>"),
          IpRe, "<IP>"))

  /** Distributed BPE merge training (Sennrich et al. 2016, the
    * word-type formulation every production trainer uses): pre-tokenize
    * to a (word, freq) table — the ONLY corpus-scale pass, one
    * map-side-combined groupBy — then iterate: count adjacent symbol
    * pairs weighted by word freq, take the (count DESC, pair ASC)
    * argmax, splice the pair everywhere. Returns the ordered merge
    * table (rank, lhs, rhs, merged, pair_count) — integers and strings
    * end to end, no float anywhere.
    *
    * Symbols are encoded as SOH<sym>STX runs, which makes the
    * merge application a single literal `replace`: the wrappers anchor
    * both symbol boundaries, so no false substring matches and no
    * shared characters between adjacent occurrences (greedy
    * non-overlapping replace = correct BPE splice, identically in any
    * engine's replace()).
    *
    * Scale: every per-merge pass runs over the word-TYPE table
    * (O(vocab), not O(corpus)); the argmax is a TakeOrdered(1); merges
    * round-trip the driver as KB scalars. Per-iteration
    * localCheckpoint keeps the replayed-replace lineage flat. */
  /** Symbol-boundary markers for the BPE encoding (SOH/STX — never in
    * corpus text, which is printable by ingest contract). */
  val SymL = "\u0001"
  val SymR = "\u0002"

  def bpeTrain(docs: DataFrame, textCol: String = "text",
      numMerges: Int = 12): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val enc = concat_ws("",
      transform(split($"w", ""), c => concat(lit(SymL), c, lit(SymR))))
    var cur = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .withColumn("s", enc)
      .localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var i = 1
    var exhausted = false
    while (i <= numMerges && !exhausted) {
      val syms = split(
        regexp_replace($"s", s"^$SymL|$SymR$$", ""), SymR + SymL)
      val best = cur
        .withColumn("syms", syms)
        .withColumn("a", slice($"syms", lit(1), size($"syms") - 1))
        .withColumn("b", slice($"syms", lit(2), size($"syms") - 1))
        .select($"freq", explode(arrays_zip($"a", $"b")).as("p"))
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"freq").as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((i.toLong, a, b, a + b, cnt))
        val pat = s"$SymL$a$SymR$SymL$b$SymR"
        val rep = s"$SymL$a$b$SymR"
        cur = cur.withColumn("s", replace($"s", lit(pat), lit(rep)))
        // r16: checkpoint every 3rd merge, not every merge. Each round
        // already pays one action (the argmax collect); a per-round
        // eager checkpoint doubled the driver round-trips (q92: 40
        // jobs). Between checkpoints a round's argmax re-applies at
        // most 2 pending replaces over the word-TYPE table — a bounded
        // O(cadence) recompute instead of a checkpoint write, the same
        // trade at any scale (the table is vocab-sized, not
        // corpus-sized). Replaces are deterministic, so recomputation
        // is bit-identical and the merge sequence is unchanged.
        if (i % 3 == 0) cur = cur.localCheckpoint()
        i += 1
      }
    }
    merges.result()
      .toDF("rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** Word separator for [[bpeEncode]]'s whole-document encoding (ETX —
    * merges can never cross it: every merge pattern starts with SymL
    * and ends with SymR, and across a word boundary the separator sits
    * between them). */
  val SymSep = "\u0003"

  /** Apply a trained merge table (rank-ordered (lhs, rhs) pairs from
    * [[bpeTrain]]) to every document: the standard BPE encoder. Each
    * document becomes one boundary-marked string; each merge is ONE
    * literal `replace` over it, in rank order — row-local codegen'd
    * string work, zero shuffle, linear to 100 TB. Emits `n_tokens_bpe`
    * (symbols after all merges) and `chars_per_token`. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val words = filter(split(col(textCol), " "), w => length(w) > 0)
    val wrapped = transform(words, w => concat_ws("",
      transform(split(w, ""), c => concat(lit(SymL), c, lit(SymR)))))
    val joined = array_join(wrapped, SymSep)
    val encoded = merges.foldLeft(joined) { case (acc, (a, b)) =>
      replace(acc, lit(s"$SymL$a$SymR$SymL$b$SymR"),
        lit(s"$SymL$a$b$SymR"))
    }
    docs.withColumn("_enc", encoded)
      .withColumn("n_tokens_bpe",
        (length(col("_enc")) -
          length(replace(col("_enc"), lit(SymL), lit("")))).cast("long"))
      .withColumn("chars_per_token",
        length(col(textCol)).cast("double") /
          nullif(col("n_tokens_bpe"), lit(0L)))
      .drop("_enc")
  }

  /** CCNet-style LM quality scoring (Wenzek et al. 2020 score with a
    * KenLM; here the LM is an add-k-smoothed word-bigram model trained
    * distributed on the corpus itself — the "in-domain perplexity"
    * variant). P(w2 | w1) = (C(w1,w2) + k) / (Cctx(w1) + k·V) where
    * Cctx(w1) sums the bigram counts with w1 as context (proper
    * normalization over the V-word vocabulary).
    *
    * Per doc: summed log-probability, per-bigram cross-entropy and
    * perplexity — the CCNet head/middle/tail buckets are one threshold
    * filter away. Docs with fewer than two tokens score NULL.
    *
    * Shape at 100 TB: bigram construction is row-local (slice +
    * arrays_zip — no per-doc window); training is ONE groupBy over the
    * exploded bigrams (map-side partial combine) plus a vocab-bounded
    * context roll-up; scoring re-joins the bigram stream to the count
    * tables on their natural keys and aggregates per doc. Zipf skew on
    * frequent contexts stays inside the (w1, w2) composite key — the
    * count tables, not the raw stream, carry the per-key hot spots, and
    * AQE's skew-join handling covers the scoring join. Vocabulary size
    * is the only driver scalar (a count). */
  /** Row-local adjacent-bigram pairs (slice + arrays_zip — no per-doc
    * window); `keep` columns ride along per emitted pair. */
  private[graft] def bigramPairs(docs: DataFrame, idCol: String,
      textCol: String, keep: Seq[String] = Nil): DataFrame = {
    val l = split(col(textCol), " ")
    docs
      .withColumn("_a", slice(l, lit(1), size(l) - 1))
      .withColumn("_b", slice(l, lit(2), size(l) - 1))
      .select(col(idCol) +: keep.map(col) :+
        explode(arrays_zip(col("_a"), col("_b"))).as("_p"): _*)
      .select(col(idCol) +: keep.map(col) :+
        col("_p._a").as("w1") :+ col("_p._b").as("w2"): _*)
  }

  /** Train the add-k bigram LM on a corpus: returns the bigram count
    * table (w1, w2, cb), the context count roll-up (w1, cctx), and the
    * vocabulary size (a KB-scale driver scalar — the same boundary
    * class as the ECDF partition counts). */
  def trainBigramLm(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, DataFrame, Long) = {
    val bgs = bigramPairs(corpus, idCol, textCol)
    val bc = bgs.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cc = bc.groupBy("w1").agg(sum(col("cb")).as("cctx"))
    val v = corpus
      .select(explode(split(col(textCol), " ")).as("tok"))
      .agg(countDistinct(col("tok"))).head().getLong(0)
    (bc, cc, v)
  }

  /** Per-bigram smoothed log-probability against trained counts: OOV
    * pairs take cb = 0 and unseen contexts cctx = 0 (the add-k
    * smoothing handles both — an unseen context scores ln(1/V)). */
  private[graft] def bigramLogProb(k: Double, v: Long)
      : org.apache.spark.sql.Column =
    log((coalesce(col("cb"), lit(0L)) + k) /
      (coalesce(col("cctx"), lit(0L)) + k * v))

  /** Score documents against an ALREADY-TRAINED LM (left joins, so
    * out-of-vocabulary bigrams smooth instead of vanishing). */
  def scoreBigramLm(docs: DataFrame, bc: DataFrame, cc: DataFrame,
      vocabSize: Long, k: Double = 1.0, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val scored = bigramPairs(docs, idCol, textCol)
      .join(bc, Seq("w1", "w2"), "left")
      .join(cc, Seq("w1"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(bigramLogProb(k, vocabSize)).as("log_prob"))
      .withColumn("xent", -col("log_prob") / col("n_bigrams"))
      .withColumn("ppl", exp(col("xent")))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
  }

  def bigramLmScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Double = 1.0): DataFrame = {
    val (bc, cc, v) = trainBigramLm(docs, idCol, textCol)
    scoreBigramLm(docs, bc, cc, v, k, idCol, textCol)
  }
}
