package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static hash kernels called from generated code. */
object HashFuncs {

  /** The MinHash affine rehash family h_i = a_i·h + b_i (wrapping 64-bit
    * multiply) — the standard universal-hash trick. Multipliers/offsets
    * from splitmix64 of the index: deterministic across runs AND engines
    * (the DuckDB oracle re-derives the same constants). */
  def mixConstants(numHashes: Int): (Array[Long], Array[Long]) = {
    def mc(i: Long): Long = {
      var z = i + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (Array.tabulate(numHashes)(i => mc(2L * i) | 1L),
      Array.tabulate(numHashes)(i => mc(2L * i + 1)))
  }
  /** Unicode text normalization — the first pass of every production
    * corpus pipeline (pre-tokenizer, pre-dedup: byte-different but
    * canonically-equal texts must hash equal downstream). Exactly, in
    * order: (1) drop C0 controls except tab/newline, plus DEL, the
    * zero-width joiner/non-joiner/space and the BOM — codepoints
    * 00-08, 0B-1F, 7F, 200B-200D, FEFF; (2) NFC canonical composition
    * (standard-defined, so the DuckDB oracle's utf8proc
    * `nfc_normalize` agrees with `java.text.Normalizer`
    * char-for-char); (3) collapse runs of ASCII space; (4) trim
    * spaces. Every step is a pure character map, so the result is
    * bit-identical at any parallelism.
    *
    * Stripping runs BEFORE composition so the function is truly
    * idempotent (PropertySpec randomizes this): with the orders
    * swapped, a zero-width char between a base letter and a combining
    * mark blocks NFC, the strip then juxtaposes them, and a SECOND
    * application would compose what the first left decomposed. The
    * fixpoint argument for this order: the output contains no
    * strippables (NFC never produces them — none appear in canonical
    * compositions), is NFC-normalized (collapse/trim only remove
    * spaces, which never participate in canonical composition, so
    * removal preserves NFC-ness), and is space-collapsed/trimmed —
    * all four passes are no-ops on re-application. */
  def normalizeText(s: UTF8String): UTF8String = {
    val raw = s.toString
    val stripped = new java.lang.StringBuilder(raw.length)
    var j = 0
    while (j < raw.length) {
      val c = raw.charAt(j)
      val drop = c <= '\u0008' ||
        (c >= '\u000B' && c <= '\u001F') || c == '\u007F' ||
        (c >= '\u200B' && c <= '\u200D') || c == '\uFEFF'
      if (!drop) stripped.append(c)
      j += 1
    }
    val nfc = java.text.Normalizer.normalize(stripped,
      java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(nfc.length)
    var i = 0
    while (i < nfc.length) {
      val c = nfc.charAt(i)
      if (!(c == ' ' && sb.length > 0 && sb.charAt(sb.length - 1) == ' '))
        sb.append(c)
      i += 1
    }
    var start = 0
    var end = sb.length
    while (start < end && sb.charAt(start) == ' ') start += 1
    while (end > start && sb.charAt(end - 1) == ' ') end -= 1
    UTF8String.fromString(sb.substring(start, end))
  }

  private val ScriptP = java.util.regex.Pattern.compile(
    "<script\\b[^>]*>.*?</script\\s*>",
    java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.DOTALL)
  private val StyleP = java.util.regex.Pattern.compile(
    "<style\\b[^>]*>.*?</style\\s*>",
    java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.DOTALL)
  private val CommentP = java.util.regex.Pattern.compile(
    "<!--.*?-->", java.util.regex.Pattern.DOTALL)
  private val TagP = java.util.regex.Pattern.compile("<[a-zA-Z/!][^>]*>")
  private val MarkupWsP = java.util.regex.Pattern.compile("[ \\t\\n\\r]+")

  /** Markup → text extraction — the pass BEFORE [[normalizeText]] in a
    * web-corpus pipeline. Semantics are DEFINED as this exact chain
    * (replayed verbatim by the q163 DuckDB oracle — every pattern uses
    * the RE2-compatible subset, so java.util.regex and DuckDB agree):
    * (1) drop `<script …>…</script>` blocks INCLUDING content
    * (case-insensitive, dot-matches-newline, lazy to the first close);
    * (2) same for `<style>`; (3) drop `<!-- comments -->`; (4) replace
    * tags `<[a-zA-Z/!][^>]*>` with a space — a tag is a word boundary
    * (`a<br>b` must not fuse), and the leading-char class keeps bare
    * math text like `a < b` intact; (5) decode the core entities
    * (&nbsp;→space, &quot; &apos; &#39; &lt; &gt;, and &amp; LAST so
    * double-encoded `&amp;lt;` correctly yields the TEXT `&lt;`);
    * (6) collapse all whitespace runs to one space and trim.
    *
    * Deliberately NOT idempotent: a decoded `&lt;tag&gt;` is text and
    * must survive — hence one fused application, never repeated.
    * Unclosed script/style blocks fall through to the tag pass (the
    * open tag strips, content stays — the regex-chain convention).
    * All passes are linear except the lazy script/style scan, which is
    * O(n·k) in the count k of unclosed `<script` openers — bounded by
    * document length, row-local, no shuffle anywhere. */
  def stripMarkup(s: UTF8String): UTF8String = {
    var x = s.toString
    x = ScriptP.matcher(x).replaceAll(" ")
    x = StyleP.matcher(x).replaceAll(" ")
    x = CommentP.matcher(x).replaceAll(" ")
    x = TagP.matcher(x).replaceAll(" ")
    x = x.replace("&nbsp;", " ").replace("&quot;", "\"")
      .replace("&apos;", "'").replace("&#39;", "'")
      .replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
    x = MarkupWsP.matcher(x).replaceAll(" ")
    var lo = 0
    var hi = x.length
    while (lo < hi && x.charAt(lo) == ' ') lo += 1
    while (hi > lo && x.charAt(hi - 1) == ' ') hi -= 1
    UTF8String.fromString(x.substring(lo, hi))
  }

  /** Unicode-script census of a string — the script-mix signal a
    * multilingual curation pipeline pairs with language ID: lang-ID
    * models mislabel script-mixed documents (spam, spoofing, boilerplate
    * concatenations), so the per-script CODEPOINT counts gate them
    * directly. Returns 7 BIGINT counts indexed
    * [latin, cyrillic, han, greek, arabic, hangul, other]: slots 0-5
    * count codepoints whose Unicode Script property is that script
    * (Character.UnicodeScript — the same property RE2's `\p{Latin}`
    * classes match, which is how the q165 DuckDB oracle and the
    * PropertySpec Java-regex cross-check replay it independently);
    * `other` is every remaining codepoint (COMMON punctuation/digits/
    * spaces, INHERITED marks, all other scripts). One pass,
    * surrogate-aware (a pair advances once), no allocation beyond the
    * 7-slot output — vs 6 full regexp_replace scans for the regex
    * formulation. */
  def scriptProfile(s: UTF8String): ArrayData = {
    val str = s.toString
    val out = new Array[Long](7)
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val sc = Character.UnicodeScript.of(cp)
      val idx =
        if (sc eq Character.UnicodeScript.LATIN) 0
        else if (sc eq Character.UnicodeScript.CYRILLIC) 1
        else if (sc eq Character.UnicodeScript.HAN) 2
        else if (sc eq Character.UnicodeScript.GREEK) 3
        else if (sc eq Character.UnicodeScript.ARABIC) 4
        else if (sc eq Character.UnicodeScript.HANGUL) 5
        else 6
      out(idx) += 1
      i += Character.charCount(cp)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Rabin-Karp polynomial hash over UTF-8 bytes (base 31, wrapping
    * 64-bit: h = fold(0)(h * 31 + byte)) finished with the splitmix64
    * avalanche mixer. Chosen over xxhash64 because every step is
    * replayable in any engine with 64-bit modular integer arithmetic
    * (the DuckDB oracles recompute it in UHUGEINT mod 2^64), while
    * remaining a few multiply/xor ops per byte — codegen keeps it in the
    * whole-stage pipeline. The finalizer matters: the raw fold of a short
    * token leaves the high bits zero, which collapses SimHash distances;
    * the mixer is a bijection, so equality/collision behavior (all that
    * MinHash/Jaccard need) is unchanged while every bit becomes fair.
    * Bytes are read unsigned so the fold matches a codepoint fold on
    * ASCII data.
    */
  def polyHash64(s: UTF8String): Long = {
    val b = s.getBytes
    mix(foldRange(b, 0, b.length))
  }

  private def foldRange(b: Array[Byte], from: Int, until: Int): Long = {
    var h = 0L
    var i = from
    while (i < until) { h = h * 31L + (b(i) & 0xff); i += 1 }
    h
  }

  private def mix(h0: Long): Long = {
    var h = (h0 ^ (h0 >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** 64-bit aHash over row-major integer pixel levels (w×h, both
    * divisible by 8): equal-area average-pool to an 8×8 grid, bit
    * k = 64·cellSum(k) > totalSum — one tight two-level loop instead of
    * the interpreted HOF fold (same ~10× codegen-vs-HOF gap as
    * [[tokenHashes]]). Levels must be non-null and ≤ 2^24 (the
    * [[graft.operators.Phash.quantize24]] contract) so no product
    * approaches BIGINT range. Semantics bit-identical to the SQL-HOF
    * formulation PhashSpec pins and the q155 DuckDB oracle replays. */
  /** The kernels index `levels` positionally up to w·h-1; a too-short
    * array would read past UnsafeArrayData's element region and hash
    * garbage SILENTLY (the HOF path's element_at failed safe with
    * null). Both ahash64/dhash64 are SQL-registered and therefore
    * user-reachable with arbitrary arrays — contract violations must
    * fail loudly, not nondeterministically. NULL elements are NOT
    * rejected (a per-element null scan would double the pass): on
    * UnsafeArrayData getLong reads the zeroed slot of a null element
    * as 0L, i.e. nulls pool as black pixels — the quantize24 producer
    * contract never emits them. */
  private def checkLevels(levels: ArrayData, w: Int, h: Int,
      fn: String): Unit =
    if (levels.numElements() != w * h)
      throw new IllegalArgumentException(
        s"$fn expects exactly ${w * h} pixel levels (${w}x$h " +
          s"row-major), got ${levels.numElements()}")

  def aHash64(levels: ArrayData, w: Int, h: Int): Long = {
    checkLevels(levels, w, h, "ahash64")
    val bw = w / 8
    val bh = h / 8
    val cells = new Array[Long](64)
    var tot = 0L
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        var s = 0L
        var dy = 0
        while (dy < bh) {
          var dx = 0
          while (dx < bw) {
            s += levels.getLong((cy * bh + dy) * w + cx * bw + dx)
            dx += 1
          }
          dy += 1
        }
        cells(cy * 8 + cx) = s
        tot += s
        cx += 1
      }
      cy += 1
    }
    var hsh = 0L
    var k = 0
    while (k < 64) {
      if (64L * cells(k) > tot) hsh |= 1L << k
      k += 1
    }
    hsh
  }

  /** 64-bit dHash over row-major integer pixel levels (w divisible by
    * 9, h by 8): pool to a 9×8 grid, bit r·8+c = cell(r,c) > cell(r,c+1)
    * — strict integer compare, one pass. Same kernel-vs-HOF rationale
    * and bit-identity contract as [[aHash64]]. */
  def dHash64(levels: ArrayData, w: Int, h: Int): Long = {
    checkLevels(levels, w, h, "dhash64")
    val bw = w / 9
    val bh = h / 8
    val cells = new Array[Long](72)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 9) {
        var s = 0L
        var dy = 0
        while (dy < bh) {
          var dx = 0
          while (dx < bw) {
            s += levels.getLong((r * bh + dy) * w + c * bw + dx)
            dx += 1
          }
          dy += 1
        }
        cells(r * 9 + c) = s
        c += 1
      }
      r += 1
    }
    var hsh = 0L
    var k = 0
    while (k < 64) {
      if (cells((k / 8) * 9 + k % 8) > cells((k / 8) * 9 + k % 8 + 1))
        hsh |= 1L << k
      k += 1
    }
    hsh
  }

  /** 64-segment integer energy profile of a decoded audio signal — the
    * perceptual-fingerprint front half ([[graft.operators.Phash
    * .audioFingerprint]]): split the n samples into 64 equal-area
    * segments (segment s covers [n·s div 64, n·(s+1) div 64); empty
    * segments — n < 64 — profile as 0), and record each segment's mean
    * |amplitude| quantized to 24 bits: (Σ trunc(|x|·2^24)) div count,
    * BIGINT throughout, so the profile is a deterministic pure function
    * of the samples at any parallelism. One pass, no allocation beyond
    * the 64-slot output — replaces an interpreted HOF that `slice()`d a
    * fresh sub-array per segment (O(64·n) copy churn per row; the same
    * ~10× codegen-vs-HOF gap as [[tokenHashes]]). `isFloat` selects the
    * element reader (the [[graft.operators.Multimodal]] decoder emits
    * float32 samples; SQL callers may pass array<double>). Semantics
    * bit-identical to the HOF formulation PhashSpec pins and the q162
    * DuckDB oracle replays relationally. */
  def energyProfile64(smp: ArrayData, isFloat: Boolean): ArrayData = {
    val n = smp.numElements().toLong
    val out = new Array[Long](64)
    var s = 0
    while (s < 64) {
      val lo = n * s / 64
      val hi = n * (s + 1) / 64
      if (hi > lo) {
        var acc = 0L
        var i = lo.toInt
        while (i < hi) {
          val d = if (isFloat) smp.getFloat(i).toDouble else smp.getDouble(i)
          acc += (math.abs(d) * 16777216.0).toLong
          i += 1
        }
        out(s) = acc / (hi - lo)
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Morton/Z-order interleave of the low `bits` bits of two longs:
    * result bit 2i is bit i of `a`, bit 2i+1 is bit i of `b`. Range-
    * clustering both dimensions at once is the layout trick behind
    * Delta/Iceberg Z-ORDER table maintenance: parquet row-group min/max
    * zone maps become selective for predicates on EITHER column. Pure
    * shift/mask arithmetic — replayable bit-for-bit in any engine.
    *
    * `bits` is validated in [1, 32] at expression-construction time
    * (the zorder2 row of [[Expressions.kernels]]): two 33-bit lanes
    * can't interleave into one long, and Java wraps shift counts mod 64
    * so bits > 32 would
    * SILENTLY scatter bits into wrong positions rather than fail. Input
    * bits at position >= `bits` are ignored (values alias mod 2^bits) —
    * callers clustering wider domains must pre-scale into the box. */
  def zorder2(a: Long, b: Long, bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((a >>> i) & 1L) << (2 * i)
      z |= ((b >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** Byte offsets of space-separated token boundaries: returns an array
    * of 2·nTokens positions (start, end per token). Matches Spark's
    * split(text, " ") — consecutive separators yield empty tokens. */
  private def tokenBounds(b: Array[Byte]): Array[Int] = {
    var n = 1
    var i = 0
    while (i < b.length) { if (b(i) == ' ') n += 1; i += 1 }
    val bounds = new Array[Int](2 * n)
    var t = 0
    var start = 0
    i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == ' ') {
        bounds(2 * t) = start; bounds(2 * t + 1) = i
        t += 1; start = i + 1
      }
      i += 1
    }
    bounds
  }

  /** poly_hash64 of every whitespace token (all occurrences, in order) —
    * the SimHash vocabulary. Equal to transform(split(s,' '), poly_hash64)
    * in one pass, no string allocation. */
  def tokenHashes(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val bounds = tokenBounds(b)
    val n = bounds.length / 2
    val out = new Array[Long](n)
    var t = 0
    while (t < n) {
      out(t) = mix(foldRange(b, bounds(2 * t), bounds(2 * t + 1)))
      t += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Distinct poly_hash64 of every word k-gram. Because tokens are
    * single-space separated, a shingle's bytes are the CONTIGUOUS span
    * from token i's start to token i+k-1's end, so the hash is one fold
    * over that span — identical to poly_hash64(concat_ws(' ',
    * slice(split(s,' '), i, k))) with zero allocation. Empty result when
    * the document has fewer than k tokens. */
  def wordShingleHashes(s: UTF8String, k: Int): ArrayData = {
    val b = s.getBytes
    val bounds = tokenBounds(b)
    val n = bounds.length / 2
    if (n < k) return ArrayData.toArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= n - k) {
      seen.add(mix(foldRange(b, bounds(2 * i), bounds(2 * (i + k - 1) + 1))))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    ArrayData.toArrayData(out)
  }

  /** poly_hash64 of every word k-gram IN ORDER — one entry per start
    * position, duplicates kept (unlike [[wordShingleHashes]]): index i
    * covers words [i, i+k-1]. Backs span-level decontamination, where
    * the MATCH POSITIONS matter, not just the distinct shingle set. */
  def wordShingleHashesAt(s: UTF8String, k: Int): ArrayData = {
    val b = s.getBytes
    val bounds = tokenBounds(b)
    val n = bounds.length / 2
    if (n < k) return ArrayData.toArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      out(i) = mix(foldRange(b, bounds(2 * i), bounds(2 * (i + k - 1) + 1)))
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** gram_repetition(str, n) → [top_frac, dup_frac, n_grams]: Gopher-
    * style repetition-quality signals (Rae et al. 2021, App. A —
    * "fraction of characters in the most common n-gram" family, word
    * granularity) in ONE row-local pass. Words = split on single
    * spaces, EMPTIES KEPT — exactly SQL `string_split(text, ' ')`, so
    * an engine-independent oracle can replay it on plain strings with
    * no hash re-derivation. top_frac = occurrences of the most common
    * word n-gram / total n-grams; dup_frac = total occurrences of
    * n-grams appearing more than once / total. Fewer than n words →
    * [0, 0, 0]. */
  def gramRepetition(s: UTF8String, n: Int): ArrayData = {
    val words = s.toString.split(" ", -1)
    val total = words.length - n + 1
    if (total <= 0) return ArrayData.toArrayData(Array(0.0, 0.0, 0.0))
    val counts = new java.util.HashMap[String, Integer]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < total) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val g = sb.toString
      counts.put(g, Integer.valueOf(counts.getOrDefault(g, 0) + 1))
      i += 1
    }
    var top = 0
    var dup = 0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().intValue()
      if (c > top) top = c
      if (c > 1) dup += c
    }
    ArrayData.toArrayData(Array(top.toDouble / total,
      dup.toDouble / total, total.toDouble))
  }

  /** 64-bit SimHash: bit j set when more than half of the token
    * occurrences have bit j set in their poly_hash64 (majority vote). */
  def simHash64(s: UTF8String): Long = {
    val b = s.getBytes
    val bounds = tokenBounds(b)
    val n = bounds.length / 2
    val counts = new Array[Int](64)
    var t = 0
    while (t < n) {
      val h = mix(foldRange(b, bounds(2 * t), bounds(2 * t + 1)))
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1
        j += 1
      }
      t += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (2 * counts(j) > n) out |= (1L << j)
      j += 1
    }
    out
  }

  /** splitmix64 finalizer (public domain) — the engine's portable mixer;
    * DuckOracle.mixU replays it in UHUGEINT SQL. */
  def splitmix(x: Long): Long = mix(x)

  /** ±1 hyperplane table for signed-random-projection sketches: entry
    * (p, d) is +1 when bit 0 of splitmix(p·dim + d) is set. Deterministic
    * across runs and engines. */
  def srpSigns(nBits: Int, dim: Int): Array[Double] =
    Array.tabulate(nBits * dim)(i =>
      if ((mix(i.toLong) & 1L) == 1L) 1.0 else -1.0)

  /** 64-bit SRP sketch: bit p is set when the dot product of the vector
    * with hyperplane p is ≥ 0. Dots accumulate in ascending dimension
    * order (the oracle's list_sum does the same, keeping the float
    * comparison bit-identical). */
  def srpSketch64(e: ArrayData, signs: Array[Double]): Long = {
    val dim = e.numElements()
    var out = 0L
    var p = 0
    while (p < 64) {
      var dot = 0.0
      var d = 0
      val base = p * dim
      while (d < dim) { dot += signs(base + d) * e.getDouble(d); d += 1 }
      if (dot >= 0) out |= (1L << p)
      p += 1
    }
    out
  }

  /** Sequential ascending-dimension dot product — the SAME accumulation
    * order as the `aggregate(zip_with(...))` fold it replaces (and as the
    * oracle's list_sum), so swapping the HOF for the kernel is
    * bit-identical; it just runs as one tight loop inside whole-stage
    * codegen instead of per-element interpreted lambda dispatch. */
  def vecDot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Cosine similarity, computed exactly as the declarative form did:
    * dot / (sqrt(Σa²) · sqrt(Σb²)), every sum a sequential fold. */
  def vecCosine(a: ArrayData, b: ArrayData): Double = {
    var sa = 0.0
    var i = 0
    val na = a.numElements()
    while (i < na) { val x = a.getDouble(i); sa += x * x; i += 1 }
    var sb = 0.0
    var j = 0
    val nb = b.numElements()
    while (j < nb) { val x = b.getDouble(j); sb += x * x; j += 1 }
    vecDot(a, b) / (math.sqrt(sa) * math.sqrt(sb))
  }

  /** Rabin-Karp base-31 mod 1e9+7 over the bytes (= the per-character
    * fold for ASCII input, which the driver's documents are): the
    * rolling-hash fingerprint as one loop instead of a per-character
    * interpreted aggregate over split(text, ''). */
  def rollingHash31(s: UTF8String): Long = {
    val b = s.getBytes
    var h = 0L
    var i = 0
    while (i < b.length) { h = (h * 31L + (b(i) & 0xff)) % 1000000007L; i += 1 }
    h
  }

  /** Size of the intersection of two SORTED long arrays (merge scan) —
    * the verification step of prefix-filtered set-similarity joins. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    var i = 0
    var j = 0
    var c = 0L
    val na = a.numElements()
    val nb = b.numElements()
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Fraction of positions where two long arrays agree (MinHash
    * signature agreement → estimated Jaccard): integer count divided by
    * the left length — exact in double, same value as the
    * size(filter(zip_with(...)))/size(...) HOF chain it replaces. */
  def longEqFrac(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) c += 1; i += 1 }
    c.toDouble / a.numElements()
  }

  /** Squared Euclidean distance with null elements contributing 0.0
    * (the DMR consecutive-probe distance semantics, dm.py:572-575):
    * sequential ascending fold, bit-equal to the HOF CASE chain. */
  def vecSqDist(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val d = a.getDouble(i) - b.getDouble(i)
        s += d * d
      }
      i += 1
    }
    s
  }

  /** MinHash signature: for each of the numHashes affine family members
    * (graft.operators.Dedup.mixConstants), the min of a_i·h + b_i over
    * the document's shingle hashes. Duplicate shingles cannot change a
    * min, so no distinct pass is needed. Null when fewer than k tokens
    * (no signature). */
  def minHashSig(s: UTF8String, k: Int, as: Array[Long],
      bs: Array[Long]): ArrayData = {
    val b = s.getBytes
    val bounds = tokenBounds(b)
    val n = bounds.length / 2
    if (n < k) return null
    val nh = as.length
    val mins = Array.fill(nh)(Long.MaxValue)
    var i = 0
    while (i <= n - k) {
      val h = mix(foldRange(b, bounds(2 * i), bounds(2 * (i + k - 1) + 1)))
      var f = 0
      while (f < nh) {
        val v = as(f) * h + bs(f)
        if (v < mins(f)) mins(f) = v
        f += 1
      }
      i += 1
    }
    ArrayData.toArrayData(mins)
  }
}

/** graft's per-row kernels as Catalyst expressions (SURVEY.md §4.3): the
  * normal-distribution, Student-t, ECDF, hash, vector and perceptual-hash
  * numerics Spark SQL lacks, codegen-native rather than UDFs, so they
  * stay inside whole-stage codegen on the hot paths (the generated code
  * calls the static Scala kernel directly: no boxing, no serialization).
  *
  * One expression class, [[Expressions.Kernel]], runs every kernel, and
  * one table, [[Expressions.kernels]], defines them: per kernel its name
  * (SQL name and `prettyName`), the static method the generated code
  * calls, the result type, the accepted argument types with the cast the
  * callers apply, and the interpreted call. The Column helpers below and
  * the [[Expressions.sqlFunctions]] entries are derived from the table.
  * Integer parameters (k, numHashes, dim, bits, w, h) are fields of the
  * expression, so equality and CSE key on them; the MinHash `(as, bs)`
  * and SRP `signs` arrays are computed from them once per expression and
  * passed to the kernel by reference.
  *
  * Not Spark's `StaticInvoke`: it stages every argument through a field
  * array, and a prototype of the kernels on it ran `vec_sqdist` 30%
  * slower (4 cores, 4M cached rows, `agg(sum(kernel))`: 0.276 → 0.360 s,
  * 12 alternating pairs). [[Expressions.Kernel]] emits the direct
  * `HashFuncs$.MODULE$.fn(args)` / `StatFuncs$…` call.
  */
object Expressions {
  import GraftBridge.{column, expression}

  /** One kernel: its name; the static method the generated code calls;
    * the result type; per argument, the accepted type and the cast the
    * Column helper and the SQL call apply; the interpreted call over the
    * argument values followed by the extras; the names of the integer
    * parameters; the extras, the trailing kernel arguments made from the
    * parameters and the argument types (default: the parameters); the
    * parameter check run at construction; whether a non-null input can
    * give null; whether it has a SQL name. */
  final case class KernelSpec(name: String, method: String,
      dataType: DataType,
      args: Seq[(Seq[DataType], Expression => Expression)],
      call: Seq[Any] => Any, params: Seq[String] = Nil,
      extras: (Seq[Int], Seq[DataType]) => Seq[Any] = (p, _) => p,
      check: Seq[Int] => Unit = _ => (), nullable: Boolean = false,
      sql: Boolean = true)

  /** The one kernel expression: `name`'s spec over `children` with the
    * integer parameters `params`. Null in any argument gives null. */
  case class Kernel(name: String, children: Seq[Expression],
      params: Seq[Int] = Nil)
      extends Expression with GraftBridge.AcceptsTypes {
    @transient private lazy val spec = kernelSpecs(name)
    require(children.length == spec.args.length &&
      params.length == spec.params.length,
      s"$name takes ${spec.args.length} arguments and the parameters " +
        s"(${spec.params.mkString(", ")})")
    spec.check(params)
    private lazy val extras = spec.extras(params, children.map(_.dataType))
    override def prettyName: String = name
    override def dataType: DataType = spec.dataType
    override def nullable: Boolean =
      spec.nullable || children.exists(_.nullable)
    override def foldable: Boolean = children.forall(_.foldable)
    override def accepted: Seq[Seq[DataType]] = spec.args.map(_._1)
    override protected def stringArgs: Iterator[Any] =
      children.iterator ++ params

    override def eval(input: InternalRow): Any = {
      val values = new Array[Any](children.length)
      var i = 0
      while (i < values.length) {
        values(i) = children(i).eval(input)
        if (values(i) == null) return null
        i += 1
      }
      spec.call(values.toSeq ++ extras)
    }

    /** Spark's unary and binary null-safe codegen, for any arity: each
      * argument is computed only when the ones before it are non-null. */
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val gens = children.map(_.genCode(ctx))
      val args = gens.map(_.value.toString) ++ extras.map {
        case a: Array[Long] => ctx.addReferenceObj(name, a, "long[]")
        case a: Array[Double] => ctx.addReferenceObj(name, a, "double[]")
        case v => v.toString
      }
      val init = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
        s"${CodeGenerator.defaultValue(dataType)};"
      val call = s"${ev.value} = ${spec.method}(${args.mkString(", ")});" +
        (if (spec.nullable) s"\n${ev.isNull} = ${ev.value} == null;" else "")
      val code =
        if (!nullable) s"${gens.map(_.code).mkString("\n")}\n$init\n$call"
        else if (children.length == 1)
          s"${gens(0).code}\nboolean ${ev.isNull} = ${gens(0).isNull};\n" +
            s"$init\n" +
            ctx.nullSafeExec(children(0).nullable, gens(0).isNull)(call)
        else s"boolean ${ev.isNull} = true;\n$init\n" +
          gens.indices.foldRight(s"${ev.isNull} = false;\n$call") {
            (i, in) => s"${gens(i).code}\n" +
              ctx.nullSafeExec(children(i).nullable, gens(i).isNull)(in)
          }
      ev.copy(code = code"$code",
        isNull = if (nullable) ev.isNull else FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Kernel = copy(children = c)
  }

  /** A kernel over its argument expressions, each cast as its spec says. */
  private def call(name: String, args: Seq[Expression],
      params: Seq[Int] = Nil): Kernel =
    Kernel(name, kernelSpecs(name).args.zip(args).map {
      case ((_, cast), e) => cast(e)
    }, params)

  /** Children are cast to double explicitly (the kernels are
    * double-only and don't participate in implicit coercion). */
  def toD(e: Expression): Expression =
    if (e.dataType == DoubleType) e else Cast(e, DoubleType)

  /** Cast a SQL argument to array<double> (the vector kernels are
    * double-only). */
  def toAD(e: Expression): Expression =
    if (e.dataType == ArrayType(DoubleType)) e
    else Cast(e, ArrayType(DoubleType))

  /** Cast a SQL argument to long (the Z-order kernel is long-only). */
  def toL(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  private def stat(m: String) = s"graft.functions.StatFuncs$$.MODULE$$.$m"
  private def hash(m: String) = s"graft.functions.HashFuncs$$.MODULE$$.$m"
  private val dbl = (Seq(DoubleType), toD _)
  private val str = (Seq(StringType), identity[Expression] _)
  private val vec = (Seq(ArrayType(DoubleType)), toAD _)
  private val longs = (Seq(ArrayType(LongType)), identity[Expression] _)
  private val longArr = ArrayType(LongType, false)

  // the interpreted call of an n-argument kernel method
  private def f1[A](f: A => Any): Seq[Any] => Any =
    a => f(a(0).asInstanceOf[A])
  private def f2[A, B](f: (A, B) => Any): Seq[Any] => Any =
    a => f(a(0).asInstanceOf[A], a(1).asInstanceOf[B])
  private def f3[A, B, C](f: (A, B, C) => Any): Seq[Any] => Any =
    a => f(a(0).asInstanceOf[A], a(1).asInstanceOf[B], a(2).asInstanceOf[C])
  private def f4[A, B, C, D](f: (A, B, C, D) => Any): Seq[Any] => Any =
    a => f(a(0).asInstanceOf[A], a(1).asInstanceOf[B], a(2).asInstanceOf[C],
      a(3).asInstanceOf[D])

  /** Every kernel; the kernel methods' scaladoc has the semantics. */
  val kernels: Seq[KernelSpec] = Seq(
    // erfc(x), SPECFUN rational approximations
    KernelSpec("erfc", stat("erfc"), DoubleType, Seq(dbl),
      f1(StatFuncs.erfc)),
    // log(1 − Φ(z)), stable in the deep tail via erfcx scaling
    KernelSpec("norm_log_sf", stat("normLogSf"), DoubleType, Seq(dbl),
      f1(StatFuncs.normLogSf)),
    // Φ⁻¹(p), Acklam + one Halley step
    KernelSpec("norm_inv", stat("normInv"), DoubleType, Seq(dbl),
      f1(StatFuncs.normInv)),
    // two-sided Student-t survival: DMP's per-probe OLS p-value
    KernelSpec("t_two_sided_p", stat("tTwoSidedP"), DoubleType,
      Seq(dbl, (Seq(IntegerType), Cast(_, IntegerType))),
      f2(StatFuncs.tTwoSidedP), sql = false),
    // #(elements ≤ v) of a null-free ascending array<double>: pOOBAH's
    // lookup. `sorted` is not cast: a cast would copy it on every row
    KernelSpec("ecdf_count", stat("ecdfCount"), IntegerType,
      Seq((Seq(ArrayType(DoubleType)), identity),
        (Seq(DoubleType), Cast(_, DoubleType))),
      f2(StatFuncs.ecdfCount(_: ArrayData, _: Double)), sql = false),
    // portable Rabin-Karp 64-bit fingerprint behind the dedup hashes
    KernelSpec("poly_hash64", hash("polyHash64"), LongType, Seq(str),
      f1(HashFuncs.polyHash64)),
    // poly_hash64 of every whitespace token
    KernelSpec("token_hashes", hash("tokenHashes"), longArr, Seq(str),
      f1(HashFuncs.tokenHashes)),
    // distinct poly_hash64 of the word k-grams
    KernelSpec("word_shingle_hashes", hash("wordShingleHashes"), longArr,
      Seq(str), f2(HashFuncs.wordShingleHashes), Seq("k")),
    // word k-gram hashes in order, duplicates kept
    KernelSpec("word_shingle_hashes_at", hash("wordShingleHashesAt"),
      longArr, Seq(str), f2(HashFuncs.wordShingleHashesAt), Seq("k"),
      sql = false),
    // [top_frac, dup_frac, n_grams] of the word n-grams
    KernelSpec("gram_repetition", hash("gramRepetition"),
      ArrayType(DoubleType, false), Seq(str),
      f2(HashFuncs.gramRepetition), Seq("n")),
    // control strip, NFC, space collapse and trim
    KernelSpec("normalize_text", hash("normalizeText"), StringType,
      Seq(str), f1(HashFuncs.normalizeText)),
    // markup → text, the chain the q163 oracle replays
    KernelSpec("strip_markup", hash("stripMarkup"), StringType, Seq(str),
      f1(HashFuncs.stripMarkup)),
    // 7-slot Unicode-script codepoint census
    KernelSpec("script_profile", hash("scriptProfile"), longArr, Seq(str),
      f1(HashFuncs.scriptProfile)),
    KernelSpec("simhash64", hash("simHash64"), LongType, Seq(str),
      f1(HashFuncs.simHash64)),
    // MinHash signature; null below k tokens
    KernelSpec("minhash_sig", hash("minHashSig"), longArr, Seq(str),
      f4(HashFuncs.minHashSig), Seq("k", "numHashes"), (p, _) => {
        val (as, bs) = HashFuncs.mixConstants(p(1))
        Seq(p(0), as, bs)
      }, nullable = true),
    // signed-random-projection sketch over splitmix64 hyperplanes
    KernelSpec("srp_sketch64", hash("srpSketch64"), LongType,
      Seq((Seq(ArrayType(DoubleType)), identity)), f2(HashFuncs.srpSketch64),
      Seq("dim"), (p, _) => Seq(HashFuncs.srpSigns(64, p(0)))),
    KernelSpec("vec_dot", hash("vecDot"), DoubleType, Seq(vec, vec),
      f2(HashFuncs.vecDot)),
    KernelSpec("vec_cosine", hash("vecCosine"), DoubleType, Seq(vec, vec),
      f2(HashFuncs.vecCosine)),
    // squared distance, null elements contribute 0: DMR's probe distance
    KernelSpec("vec_sqdist", hash("vecSqDist"), DoubleType, Seq(vec, vec),
      f2(HashFuncs.vecSqDist)),
    // Rabin-Karp base 31 mod 1e9+7
    KernelSpec("rolling_hash31", hash("rollingHash31"), LongType, Seq(str),
      f1(HashFuncs.rollingHash31)),
    // merge-scan intersection size of two sorted arrays
    KernelSpec("sorted_intersect_count", hash("sortedIntersectCount"),
      LongType, Seq(longs, longs), f2(HashFuncs.sortedIntersectCount),
      sql = false),
    // MinHash signature agreement fraction
    KernelSpec("long_eq_frac", hash("longEqFrac"), DoubleType,
      Seq(longs, longs), f2(HashFuncs.longEqFrac)),
    // Morton interleave of the low `bits` bits
    KernelSpec("zorder2", hash("zorder2"), LongType,
      Seq((Seq(LongType), toL _), (Seq(LongType), toL _)),
      f3(HashFuncs.zorder2),
      Seq("bits"), check = p => require(p(0) >= 1 && p(0) <= 32,
        s"zorder2 bits must be in [1,32], got ${p(0)} (shift counts wrap " +
          "mod 64 above 32, silently corrupting the interleave)")),
    // perceptual hashes over array<bigint> pixel levels
    KernelSpec("ahash64", hash("aHash64"), LongType, Seq(longs),
      f3(HashFuncs.aHash64), Seq("w", "h"), check = p =>
        require(p(0) % 8 == 0 && p(1) % 8 == 0,
          s"ahash64 needs dimensions divisible by 8, got ${p(0)}x${p(1)}")),
    KernelSpec("dhash64", hash("dHash64"), LongType, Seq(longs),
      f3(HashFuncs.dHash64), Seq("w", "h"), check = p =>
        require(p(0) % 9 == 0 && p(1) % 8 == 0,
          "dhash64 needs width divisible by 9 and height by 8, got " +
            s"${p(0)}x${p(1)}")),
    // 64-segment audio energy profile over float or double samples
    KernelSpec("energy_profile64", hash("energyProfile64"), longArr,
      Seq((Seq(ArrayType(FloatType), ArrayType(DoubleType)), identity)),
      f2(HashFuncs.energyProfile64),
      extras = (_, ts) =>
        Seq(ts.head.asInstanceOf[ArrayType].elementType == FloatType)))

  private val kernelSpecs = kernels.map(k => k.name -> k).toMap

  private def kernel(name: String, params: Int*)(args: Column*): Column =
    column(call(name, args.map(expression), params))

  def erfc(c: Column): Column = kernel("erfc")(c)
  def normLogSf(c: Column): Column = kernel("norm_log_sf")(c)
  def normInv(c: Column): Column = kernel("norm_inv")(c)
  def tTwoSidedP(t: Column, dof: Column): Column =
    kernel("t_two_sided_p")(t, dof)
  def ecdfCount(sorted: Column, v: Column): Column =
    kernel("ecdf_count")(sorted, v)
  def polyHash64(c: Column): Column = kernel("poly_hash64")(c)
  def tokenHashes(c: Column): Column = kernel("token_hashes")(c)
  def wordShingleHashes(c: Column, k: Int): Column =
    kernel("word_shingle_hashes", k)(c)
  def wordShingleHashesAt(c: Column, k: Int): Column =
    kernel("word_shingle_hashes_at", k)(c)
  def gramRepetition(c: Column, n: Int): Column =
    kernel("gram_repetition", n)(c)
  def normalizeText(c: Column): Column = kernel("normalize_text")(c)
  def stripMarkup(c: Column): Column = kernel("strip_markup")(c)
  def scriptProfile(c: Column): Column = kernel("script_profile")(c)
  def simHash64(c: Column): Column = kernel("simhash64")(c)
  def minHashSig(c: Column, k: Int, numHashes: Int): Column =
    kernel("minhash_sig", k, numHashes)(c)
  def srpSketch64(c: Column, dim: Int): Column =
    kernel("srp_sketch64", dim)(c)
  def vecDot(a: Column, b: Column): Column = kernel("vec_dot")(a, b)
  def vecCosine(a: Column, b: Column): Column = kernel("vec_cosine")(a, b)
  def vecSqDist(a: Column, b: Column): Column = kernel("vec_sqdist")(a, b)
  def rollingHash31(c: Column): Column = kernel("rolling_hash31")(c)
  def sortedIntersectCount(a: Column, b: Column): Column =
    kernel("sorted_intersect_count")(a, b)
  def longEqFrac(a: Column, b: Column): Column = kernel("long_eq_frac")(a, b)
  def zorder2(a: Column, b: Column, bits: Int): Column =
    kernel("zorder2", bits)(a, b)
  def aHash64(levels: Column, w: Int, h: Int): Column =
    kernel("ahash64", w, h)(levels)
  def dHash64(levels: Column, w: Int, h: Int): Column =
    kernel("dhash64", w, h)(levels)
  def energyProfile64(samples: Column): Column =
    kernel("energy_profile64")(samples)

  /** One SQL function: its name, the expression class its
    * `ExpressionInfo` names, and the builder over the call's argument
    * expressions. */
  final case class SqlFunction(name: String, cls: Class[_ <: Expression],
      build: Seq[Expression] => Expression)

  /** graft's SQL surface, one entry per name: every kernel with a SQL
    * name (its integer parameters are trailing literal arguments), and
    * `top_k`. [[GraftExtensions]] injects every entry into each session
    * built with it. */
  val sqlFunctions: Seq[SqlFunction] = kernels.filter(_.sql).map { k =>
    SqlFunction(k.name, classOf[Kernel], es => call(k.name,
      es.take(k.args.length), es.drop(k.args.length).map(litInt)))
  } :+ SqlFunction("top_k", classOf[TopKAgg],
    es => TopKAgg(es(0), es(1), litInt(es(2))))

  /** Integer literal argument of a SQL call (k, numHashes, dim …). */
  private def litInt(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"expected an integer literal argument, got $other")
  }
}

/** SparkSessionExtensions hook: `.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.functions.GraftExtensions` injects
  * [[Expressions.sqlFunctions]] and the overlap-join rewrite into every
  * session at build time — the registration path a cluster deployment
  * uses. */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(
      e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    // Optimizer rule: naive range-overlap joins → binned equi joins
    e.injectOptimizerRule(sp => graft.plans.RewriteOverlapJoin(sp))
    Expressions.sqlFunctions.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
  }
}
