package graft

import graft.operators.{Curation, Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** End-to-end user journey over the TRAINING-DATA surface — the flow a
  * corpus-curation team runs against a crawl drop, on the driver's
  * `documents` + `embeddings` tables: quality gates → LM scoring →
  * the dedup chain (exact → near-dup components → semantic) →
  * decontamination → PII redaction → temperature mixing → packing and
  * chunking → BPE vocabulary, then a curated parquet written bucketed
  * for downstream doc-keyed reads.
  *
  * `runMain graft.CorpusDemo /tmp/graft_corpus [sfDir]`
  */
object CorpusDemo {
  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0) else "/tmp/graft_corpus"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Session.local(Session.cpus,
      Map("spark.sql.warehouse.dir" -> s"$out/warehouse"))
    import spark.implicits._

    val docs = Q.t(spark, sfDir, "documents")
    val emb = Q.t(spark, sfDir, "embeddings")
    val n0 = docs.count()

    // 1. quality: token-count gate + Gopher repetition filter
    val nTok = size(TextAnalysis.tokens($"text"))
    val quality = TextAnalysis.repetitionStats(
        docs.filter(nTok.between(5, 10000)))
      .filter($"top_gram_frac" < 0.5)
      .select(docs.columns.map(col): _*)
    val n1 = quality.count()

    // 2. LM quality scores (in-domain bigram LM)
    val ppl = TextAnalysis.bigramLmScore(quality)
    val pplStats = ppl.agg(min($"ppl"), max($"ppl")).head()

    // 3. dedup chain: exact fingerprints → Jaccard pairs → connected
    //    components → canonical keep set; then semantic dedup on the
    //    embedding side
    val keepExact = quality
      .groupBy(graft.functions.Expressions.polyHash64($"text").as("fp"))
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val afterExact = quality.join(keepExact, Seq("doc_id"))
    val pairs = Dedup.jaccardDedup(afterExact, "doc_id", "text",
      k = 3, threshold = 0.5)
    val canon = Dedup.canonicalize(
      afterExact.select($"doc_id"), pairs, "doc_id")
    val afterNear = afterExact.join(
      canon.filter($"is_canonical").select($"doc_id"), Seq("doc_id"))
    val semKeep = Similarity.semDedup(emb, "label",
        iters = 1, minCos = 0.35)
      .filter($"keep").count()
    val n2 = afterNear.count()

    // 4. decontamination against the held-out split
    val test = docs.filter($"doc_id" % 97 === 0)
    val cleanIds = Dedup.decontaminate(
        afterNear.filter($"doc_id" % 97 =!= 0), test,
        "doc_id", "text", k = 5)
      .filter(!$"contaminated").select($"doc_id")
    val clean = afterNear.join(cleanIds, Seq("doc_id"))
    val n3 = clean.count()

    // 5. PII redaction + temperature mixing + packing + chunking
    val redacted = TextAnalysis.redactPii(clean)
      .withColumn("text", $"redacted")
      .select(clean.columns.map(col): _*)
    val mixedIds = Curation.temperatureSample(redacted, "doc_id",
      "source", alpha = 0.5).filter($"keep").select($"doc_id")
    val mixed = redacted.join(mixedIds, Seq("doc_id"))
    val packed = Curation.packSequences(mixed, "doc_id",
      size(TextAnalysis.tokens($"text")), 512)
    val totalToks = packed.agg(max($"token_offset" + $"n_tokens")).head()
      .getLong(0)
    val chunks = Curation.chunkSpans(mixed, "doc_id",
      size(TextAnalysis.tokens($"text")), window = 64, stride = 48)
      .count()

    // 6. BPE vocabulary from the curated corpus + encoding stats
    val merges = TextAnalysis.bpeTrain(mixed, numMerges = 12)
      .orderBy($"rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = TextAnalysis.bpeEncode(mixed, merges)
    val avgCpt = enc.agg(avg($"chars_per_token")).head().getDouble(0)

    // 7. curated output: split-partitioned, plus train/val/test labels
    val finalDocs = Curation.hashSplit(mixed, "doc_id",
      Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
    finalDocs.write.mode("overwrite").partitionBy("split")
      .parquet(s"$out/curated")
    val n4 = spark.read.parquet(s"$out/curated").count()

    println(f"[corpus-demo] raw=$n0 quality=$n1 after_dedup=$n2 " +
      f"clean=$n3 curated=$n4 sem_keep=$semKeep " +
      f"ppl=[${pplStats.getDouble(0)}%.1f..${pplStats.getDouble(1)}%.1f] " +
      f"total_tokens=$totalToks chunks=$chunks " +
      f"bpe_merges=${merges.length} chars_per_token=$avgCpt%.2f")
    require(n4 > 0 && n4 <= n3 && n3 <= n2 && n2 <= n1 && n1 <= n0,
      "pipeline stages must be monotonically narrowing")
    require(merges.length == 12 && totalToks > 0 && chunks > 0)
    spark.stop()
  }
}
