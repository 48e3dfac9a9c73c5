package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hot-key skew evidence for the dedup family — the crawl-corpus
  * failure mode: boilerplate (shared headers/footers) concentrates a
  * large fraction of the corpus onto a handful of shingle/line keys,
  * and any pair expansion quadratic in document frequency explodes.
  *
  * Two synthetic 500k-doc corpora, identical except for boilerplate:
  *   - uniform: every document is two unique hash-derived lines
  *   - skewed: 30% of documents share ONE boilerplate first line
  *     (150k-document hot keys for every shingle of that line)
  *
  * Timed stages:
  *   1. exact dedup (fingerprint groupBy — the skew-immune baseline:
  *      a hot fingerprint is just a bigger count cell)
  *   2. n-gram Jaccard via jaccardDedup's autocap route — the derived
  *      document-frequency cap must drop the boilerplate shingles
  *      instead of expanding (150k choose 2) candidate pairs
  *   3. cross-corpus line dedup (dedupLines) — the hot line's document
  *      frequency is collapsed map-side; work stays O(lines)
  *   4. asymmetric containment (containmentPairs) with the derived
  *      p99.9 dfCap — same co-occurrence shuffle as Jaccard, so the
  *      cap (not the operator) is what stands between the boilerplate
  *      shingles and a (150k choose 2) pair expansion
  *   5. repeated-span dedup (repeatedSpans) — the hot shingle's census
  *      is the (h, id)-distinct two-step, so a 150k-document h spreads
  *      across reducers map-side instead of landing on one
  *
  * Healthy = skew/uniform wall-time ratio ≈ 1 for every stage. A
  * quadratic expansion would show minutes-vs-seconds, not a ratio.
  *
  *   sbt "runMain graft.DedupSkewBench"   (SPARK_GRAFT_CPUS overrides)
  */
object DedupSkewBench {

  private val NDocs = 500000L

  private def words(seed: Int, n: Int) = concat_ws(" ",
    (0 until n).map(j =>
      concat(lit("w"), pmod(xxhash64(col("_pk"), lit(seed), lit(j)),
        lit(40000L)))): _*)

  private def corpus(spark: SparkSession, skewed: Boolean): DataFrame = {
    val hot = "the quick brown fox jumps over the lazy dog boilerplate"
    val line1 =
      if (skewed)
        when(col("doc_id") % 10 < 3, lit(hot)).otherwise(words(1, 6))
      else words(1, 6)
    spark.range(NDocs).select(col("id").as("doc_id"))
      // planted duplicate pairs: ids with doc_id % 100 in {98, 99}
      // share their _pk with the even partner -> exact dups AND
      // Jaccard-1 near-dup pairs, disjoint from the hot-line region
      .withColumn("_pk",
        when(col("doc_id") % 100 >= 98,
          (col("doc_id") .divide(2)).cast("long") * 2)
          .otherwise(col("doc_id")))
      .select(col("doc_id"),
        concat_ws("\n", line1, words(2, 6)).as("text"))
  }

  final case class Stages(exact: Double, jac: Double, lines: Double,
      contain: Double, spans: Double, nExact: Long, nPairs: Long,
      nLines: Long, nContain: Long, nSpans: Long, dfCap: Int)

  private def runStages(spark: SparkSession, skewed: Boolean): Stages = {
    val docs = corpus(spark, skewed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count()
    try {
      val (nExact, tExact) = BenchUtil.timeIt {
        docs.groupBy(graft.functions.Expressions.polyHash64(col("text"))
            .as("fp"))
          .agg(count(lit(1)).as("n")).filter(col("n") >= 2).count()
      }
      val (nPairs, tJac) = BenchUtil.timeIt {
        val pairs = operators.Dedup.jaccardDedup(docs, "doc_id", "text",
          k = 3, threshold = 0.4)
        val n = pairs.count()
        pairs.unpersist()
        n
      }
      val (nLines, tLines) = BenchUtil.timeIt {
        operators.Dedup.dedupLines(docs, "doc_id", "text")
          .filter(col("n_dropped") > 0).count()
      }
      // containment shares jaccardPairs' co-occurrence shuffle, so the
      // derived cap is load-bearing here: uncapped, the skewed corpus
      // expands the 150k-doc boilerplate shingles into ~10^10 pairs.
      // The derivation cost is charged to the stage (that's the real
      // production sequence).
      val ((cap, nContain), tContain) = BenchUtil.timeIt {
        val c = operators.Dedup.derivedDfCap(docs, "text", k = 3)
        (c, operators.Dedup.containmentPairs(docs, "doc_id", "text",
          k = 3, threshold = 0.5, dfCap = Some(c)).count())
      }
      // k=4 keeps three shingles of the 6-word hot line fully inside it
      // (hot h keys), while the planted full-text dups repeat all theirs
      val (nSpans, tSpans) = BenchUtil.timeIt {
        operators.Dedup.repeatedSpans(docs, "doc_id", "text", k = 4)
          .count()
      }
      Stages(tExact, tJac, tLines, tContain, tSpans,
        nExact, nPairs, nLines, nContain, nSpans, cap)
    } finally { docs.unpersist(); () }
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)

    // warm-up pass (codegen + JIT for every stage shape), then timed
    runStages(spark, skewed = false)
    val u = runStages(spark, skewed = false)
    val s = runStages(spark, skewed = true)
    def r(a: Double, b: Double) = math.round(a / b * 100.0) / 100.0
    def stages(x: Stages) =
      s""""exact":${x.exact},"jaccard":${x.jac},""" +
      s""""line_dedup":${x.lines},"containment":${x.contain},""" +
      s""""repeated_spans":${x.spans},"dup_groups":${x.nExact},""" +
      s""""pairs":${x.nPairs},"docs_with_dropped":${x.nLines},""" +
      s""""containment_pairs":${x.nContain},"spans":${x.nSpans},""" +
      s""""df_cap":${x.dfCap}"""
    println(s"""{"metric":"dedup_skew","unit":"sec","docs":$NDocs,""" +
      s""""hot_share":0.3,""" +
      s""""uniform":{${stages(u)}},"skew":{${stages(s)}},""" +
      s""""ratio":{"exact":${r(s.exact, u.exact)},""" +
      s""""jaccard":${r(s.jac, u.jac)},""" +
      s""""line_dedup":${r(s.lines, u.lines)},""" +
      s""""containment":${r(s.contain, u.contain)},""" +
      s""""repeated_spans":${r(s.spans, u.spans)}}}""")
    spark.stop()
  }
}
