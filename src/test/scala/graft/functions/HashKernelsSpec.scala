package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The byte-loop hash kernels must be value-identical to the declarative
  * formulations they replaced (split/slice/concat_ws higher-order
  * expressions over poly_hash64) — that equivalence is what keeps the
  * DuckDB oracle replays valid. Exercised on real document text plus
  * edge shapes (single token, exactly k tokens, fewer than k). */
class HashKernelsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text")
      .union(Seq((9001L, "one"), (9002L, "a b c"), (9003L, "x y"))
        .toDF("doc_id", "text"))

  test("token_hashes == transform(split, poly_hash64)") {
    val bad = docs.select(
      Expressions.tokenHashes($"text").as("k"),
      expr("transform(split(text, ' '), t -> poly_hash64(t))").as("r"))
      .filter(not($"k" <=> $"r"))
    assert(bad.isEmpty)
  }

  test("word_shingle_hashes == distinct poly_hash64 of concat_ws slices") {
    val bad = docs.select(
      Expressions.wordShingleHashes($"text", 3).as("k"),
      expr("""CASE WHEN size(split(text, ' ')) < 3
                THEN CAST(array() AS ARRAY<BIGINT>)
              ELSE array_distinct(transform(
                sequence(1, size(split(text, ' ')) - 2),
                i -> poly_hash64(concat_ws(' ',
                       slice(split(text, ' '), i, 3))))) END""").as("r"))
      .filter(not($"k" <=> $"r"))
    assert(bad.isEmpty)
  }

  test("simhash64 == per-bit majority vote over token_hashes") {
    val bad = docs.select(
      Expressions.simHash64($"text").as("k"),
      expr("""aggregate(sequence(0, 63), CAST(0 AS BIGINT),
               (acc, j) -> acc + IF(
                 2 * size(filter(token_hashes(text),
                     h -> (shiftright(h, j) & 1) = 1))
                   > size(token_hashes(text)),
                 shiftleft(CAST(1 AS BIGINT), j),
                 CAST(0 AS BIGINT)))""").as("r"))
      .filter(not($"k" <=> $"r"))
    assert(bad.isEmpty)
  }

  test("minhash_sig == per-function array_min over the affine family") {
    val (as, bs) = HashFuncs.mixConstants(8)
    val aArr = as.mkString("array(", "L,", "L)")
    val bArr = bs.mkString("array(", "L,", "L)")
    assert(docs.filter(size(split($"text", " ")) >= 3)
      .withColumn("word_shingle_hashes_ref",
        Expressions.wordShingleHashes($"text", 3))
      .select(Expressions.minHashSig($"text", 3, 8).as("k"),
        expr(s"""transform(sequence(0, 7),
              i -> array_min(transform(word_shingle_hashes_ref,
                h -> element_at($aArr, i + 1) * h
                     + element_at($bArr, i + 1))))""").as("r"))
      .filter(not($"k" <=> $"r")).isEmpty)
  }

  test("minhash_sig is null below k tokens") {
    assert(Seq(("a b")).toDF("text")
      .select(Expressions.minHashSig($"text", 3, 4).as("s"))
      .filter($"s".isNull).count() === 1L)
  }
}
