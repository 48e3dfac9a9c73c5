package graft.queries

import graft.operators.Dedup

/** SQL-snippet generators that replay graft's portable hash families
  * (graft.functions.Expressions.polyHash64 and the MinHash affine family
  * from Dedup.mixConstants) inside DuckDB, so the LSH / fingerprint
  * operators can be EXACT-oracle-checked instead of rows-only.
  *
  * Spark computes on signed 64-bit longs with wrap-around (ANSI off);
  * DuckDB raises on BIGINT overflow, so the replay folds in unsigned
  * 128-bit (UHUGEINT) mod 2^64 and converts to signed at the end —
  * bit-identical to the Java semantics. Inputs are ASCII (verified for
  * the driver's documents tables), so a per-character `ord` fold equals
  * the UTF-8 byte fold poly_hash64 performs.
  */
object DuckOracle {

  private val Two64 = "18446744073709551616"
  private val Two63 = "9223372036854775808"

  /** Unsigned-128 literal for a signed Scala Long's two's-complement
    * bit pattern. */
  def u64(x: Long): String =
    (BigInt(x) & ((BigInt(1) << 64) - 1)).toString + "::UHUGEINT"

  /** splitmix64 finalizer replay (= HashFuncs.splitmix on a UHUGEINT
    * expression). Single-element list_transforms act as let-bindings so
    * each stage's input is evaluated once (a plain nested expression
    * would re-evaluate the byte fold 8×). Constants are the unsigned
    * renderings of 0xbf58476d1ce4e5b9 / 0x94d049bb133111eb. */
  def mix(x: String): String =
    s"""(list_transform(list_transform(list_transform([$x],
          zx1 -> (xor(zx1, zx1 >> 30) * 13787848793156543929::UHUGEINT)
                   % $Two64::UHUGEINT),
          zx2 -> (xor(zx2, zx2 >> 27) * 10723151780598845931::UHUGEINT)
                   % $Two64::UHUGEINT),
          zx3 -> xor(zx3, zx3 >> 31)))[1]"""

  /** poly_hash64(s) replay → UHUGEINT in [0, 2^64). */
  def phU(s: String): String =
    mix(s"""list_reduce(list_prepend(0::UHUGEINT,
          list_transform(string_split($s, ''),
            c -> CAST(ord(c) AS UHUGEINT))),
        (h, b) -> (h * 31 + b) % $Two64::UHUGEINT)""")

  /** Reinterpret a UHUGEINT in [0, 2^64) as a signed BIGINT. */
  def toSigned(x: String): String =
    s"""CAST(CASE WHEN ($x) >= $Two63::UHUGEINT
             THEN CAST($x AS HUGEINT) - $Two64::HUGEINT
             ELSE CAST($x AS HUGEINT) END AS BIGINT)"""

  /** poly_hash64(s) replay → signed BIGINT (= Spark's value). */
  def phS(s: String): String = toSigned(phU(s))

  /** The MinHash affine family as a DuckDB struct-list literal
    * [{a, b}, ...] in family order, unsigned. */
  def mixPairs(numHashes: Int): String = {
    val (as, bs) = Dedup.mixConstants(numHashes)
    as.zip(bs).map { case (a, b) =>
      s"{'a': ${u64(a)}, 'b': ${u64(b)}}"
    }.mkString("[", ", ", "]")
  }

  /** [2^0 .. 2^63] as a UHUGEINT list literal (bit masks for the
    * SimHash majority vote). */
  val pow2: String =
    (0 until 64).map(j => (BigInt(1) << j).toString + "::UHUGEINT")
      .mkString("[", ", ", "]")

  /** [2^0 .. 2^63] as a HUGEINT list literal (signed-accumulation bit
    * sums, e.g. the SRP sketch). */
  val pow2H: String =
    (0 until 64).map(j => (BigInt(1) << j).toString + "::HUGEINT")
      .mkString("[", ", ", "]")
}
