package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast,
  Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
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
    * ([[Expressions.ZOrder2]]): two 33-bit lanes can't interleave into
    * one long, and Java wraps shift counts mod 64 so bits > 32 would
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

/** Custom Catalyst expressions (SURVEY.md §4.3): the normal-distribution
  * kernels Spark SQL lacks, as codegen-native `Expression`s rather than
  * UDFs — they stay inside whole-stage codegen in the NOOB/pOOBAH hot
  * paths (the generated code calls the static Scala kernels directly, no
  * boxing, no serialization).
  */
object Expressions {

  private val kernel = "graft.functions.StatFuncs"

  /** Children are always cast to double at the column-function layer. */
  abstract class DoubleKernel extends UnaryExpression {
    override def dataType: DataType = DoubleType
    def fn: String // static method on StatFuncs
    override def nullSafeEval(v: Any): Any = call(v.asInstanceOf[Double])
    def call(v: Double): Double
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$kernel$$.MODULE$$.$fn($c)")
  }

  /** erfc(x) — double precision (SPECFUN rational approximations). */
  case class Erfc(child: Expression) extends DoubleKernel {
    override def fn: String = "erfc"
    override def call(v: Double): Double = StatFuncs.erfc(v)
    override protected def withNewChildInternal(c: Expression): Erfc = copy(c)
  }

  /** log(1 − Φ(z)) — stable in the deep tail via erfcx scaling. */
  case class NormLogSf(child: Expression) extends DoubleKernel {
    override def fn: String = "normLogSf"
    override def call(v: Double): Double = StatFuncs.normLogSf(v)
    override protected def withNewChildInternal(c: Expression): NormLogSf =
      copy(c)
  }

  /** Φ⁻¹(p) — Acklam + Halley refinement. */
  case class NormInv(child: Expression) extends DoubleKernel {
    override def fn: String = "normInv"
    override def call(v: Double): Double = StatFuncs.normInv(v)
    override protected def withNewChildInternal(c: Expression): NormInv =
      copy(c)
  }

  /** t_two_sided_p(t, dof) — two-sided Student-t survival (the A&S
    * 26.7.3/26.7.4 finite recurrences, exact for integer dof; see
    * StatFuncs.tTwoSidedP). Codegen'd so the per-probe OLS fast path
    * stays a pure whole-stage-codegen pipeline. */
  case class TTwoSidedP(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(t: Any, d: Any): Any =
      StatFuncs.tTwoSidedP(t.asInstanceOf[Double], d.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (t, d) => s"$kernel$$.MODULE$$.tTwoSidedP($t, $d)")
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): TTwoSidedP = copy(left = l, right = r)
  }

  /** ecdf_count(sorted, v) — #(elements ≤ v) of a null-free ascending
    * array<double> by binary search (StatFuncs.ecdfCount, Spark's double
    * ordering). Null when either input is null. The per-row lookup of
    * [[graft.operators.Ecdf]]; a Column helper only, no SQL name. */
  case class EcdfCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(DoubleType, _), DoubleType) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case (a, b) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"ecdf_count requires (ARRAY<DOUBLE>, DOUBLE), got " +
              s"(${a.sql}, ${b.sql})")
      }
    override def nullSafeEval(a: Any, v: Any): Any =
      StatFuncs.ecdfCount(a.asInstanceOf[ArrayData], v.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, v) => s"$kernel$$.MODULE$$.ecdfCount($a, $v)")
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): EcdfCount = copy(left = l, right = r)
  }

  /** poly_hash64(str) — portable Rabin-Karp 64-bit fingerprint (see
    * HashFuncs.polyHash64). Backs MinHash / SimHash / rolling-hash dedup
    * so their whole hash families stay DuckDB-oracle-checkable. */
  case class PolyHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"poly_hash64 requires STRING, got ${child.dataType.sql}")
    override def nullSafeEval(v: Any): Any =
      HashFuncs.polyHash64(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.HashFuncs$$.MODULE$$.polyHash64($c)")
    override protected def withNewChildInternal(c: Expression): PolyHash64 =
      copy(c)
  }

  /** Base for string→X kernels (all dedup hash expressions). */
  abstract class StringKernel extends UnaryExpression {
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires STRING, got ${child.dataType.sql}")
  }

  private val hk = "graft.functions.HashFuncs$.MODULE$"

  /** token_hashes(str) — poly_hash64 of every whitespace token, one tight
    * byte loop instead of transform(split(...)) (interpreted HOFs are
    * ~10× slower than this codegen path on the documents corpus). */
  case class TokenHashes(child: Expression) extends StringKernel {
    override def dataType: DataType = ArrayType(LongType, false)
    override def nullSafeEval(v: Any): Any =
      HashFuncs.tokenHashes(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$hk.tokenHashes($c)")
    override protected def withNewChildInternal(c: Expression): TokenHashes =
      copy(c)
  }

  /** word_shingle_hashes(str, k) — distinct poly_hash64 of word k-grams
    * (contiguous-span fold; see HashFuncs.wordShingleHashes). */
  case class WordShingleHashes(child: Expression, k: Int)
      extends StringKernel {
    override def dataType: DataType = ArrayType(LongType, false)
    override def nullSafeEval(v: Any): Any =
      HashFuncs.wordShingleHashes(v.asInstanceOf[UTF8String], k)
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$hk.wordShingleHashes($c, $k)")
    override protected def withNewChildInternal(
        c: Expression): WordShingleHashes = copy(child = c)
  }

  /** word_shingle_hashes_at(str, k) — positional word-k-gram hashes
    * (ordered, duplicates kept; HashFuncs.wordShingleHashesAt). */
  case class WordShingleHashesAt(child: Expression, k: Int)
      extends StringKernel {
    override def dataType: DataType = ArrayType(LongType, false)
    override def nullSafeEval(v: Any): Any =
      HashFuncs.wordShingleHashesAt(v.asInstanceOf[UTF8String], k)
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$hk.wordShingleHashesAt($c, $k)")
    override protected def withNewChildInternal(
        c: Expression): WordShingleHashesAt = copy(child = c)
  }

  /** gram_repetition(str, n) — Gopher-style repetition signals
    * [top_frac, dup_frac, n_grams] in one pass (HashFuncs doc). */
  case class GramRepetition(child: Expression, n: Int)
      extends StringKernel {
    override def dataType: DataType = ArrayType(DoubleType, false)
    override def nullSafeEval(v: Any): Any =
      HashFuncs.gramRepetition(v.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$hk.gramRepetition($c, $n)")
    override protected def withNewChildInternal(
        c: Expression): GramRepetition = copy(child = c)
  }

  /** normalize_text(str) — control/zero-width strip, then NFC, then
    * space collapse + trim, in one codegen pass (strip precedes
    * composition so the map is idempotent; HashFuncs.normalizeText). */
  case class NormalizeText(child: Expression) extends StringKernel {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      HashFuncs.normalizeText(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$hk.normalizeText($c)")
    override protected def withNewChildInternal(
        c: Expression): NormalizeText = copy(c)
  }

  /** strip_markup(str) — markup → text extraction (script/style/comment
    * drop, tag-to-space, core entity decode, whitespace collapse); the
    * exact chain HashFuncs.stripMarkup documents and the q163 oracle
    * replays. */
  case class StripMarkup(child: Expression) extends StringKernel {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      HashFuncs.stripMarkup(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$hk.stripMarkup($c)")
    override protected def withNewChildInternal(
        c: Expression): StripMarkup = copy(c)
  }

  /** script_profile(str) — 7-slot Unicode-script codepoint census
    * [latin, cyrillic, han, greek, arabic, hangul, other] in one
    * surrogate-aware pass (HashFuncs.scriptProfile); the q165 oracle
    * replays each slot with RE2 script classes. */
  case class ScriptProfile(child: Expression) extends StringKernel {
    override def dataType: DataType = ArrayType(LongType, false)
    override def nullSafeEval(v: Any): Any =
      HashFuncs.scriptProfile(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$hk.scriptProfile($c)")
    override protected def withNewChildInternal(
        c: Expression): ScriptProfile = copy(c)
  }

  /** simhash64(str) — whole-document 64-bit SimHash in one pass. */
  case class SimHash64(child: Expression) extends StringKernel {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      HashFuncs.simHash64(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$hk.simHash64($c)")
    override protected def withNewChildInternal(c: Expression): SimHash64 =
      copy(c)
  }

  /** minhash_sig(str, k, numHashes) — full MinHash signature in one pass
    * over the shingles; null when the document has < k tokens. */
  case class MinHashSig(child: Expression, k: Int, numHashes: Int)
      extends StringKernel {
    private lazy val (as, bs) = HashFuncs.mixConstants(numHashes)
    override def dataType: DataType = ArrayType(LongType, false)
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      HashFuncs.minHashSig(v.asInstanceOf[UTF8String], k, as, bs)
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val asRef = ctx.addReferenceObj("mhAs", as, "long[]")
      val bsRef = ctx.addReferenceObj("mhBs", bs, "long[]")
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = $hk.minHashSig($c, $k, $asRef, $bsRef);
        ${ev.isNull} = (${ev.value} == null);
      """)
    }
    override protected def withNewChildInternal(c: Expression): MinHashSig =
      copy(child = c)
  }

  /** srp_sketch64(array<double>, dim) — signed-random-projection sketch;
    * hyperplanes derived from splitmix64, shared with the DuckDB oracle
    * replay. */
  case class SrpSketch64(child: Expression, dim: Int)
      extends UnaryExpression {
    private lazy val signs = HashFuncs.srpSigns(64, dim)
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      HashFuncs.srpSketch64(v.asInstanceOf[ArrayData], signs)
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val signsRef = ctx.addReferenceObj("srpSigns", signs, "double[]")
      defineCodeGen(ctx, ev, c => s"$hk.srpSketch64($c, $signsRef)")
    }
    override protected def withNewChildInternal(c: Expression): SrpSketch64 =
      copy(child = c)
  }

  /** vec_dot(array<double>, array<double>) — sequential dot product as a
    * single codegen loop (bit-identical to the aggregate/zip_with fold it
    * replaces; see HashFuncs.vecDot). */
  case class VecDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      HashFuncs.vecDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$hk.vecDot($a, $b)")
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): VecDot = copy(left = l, right = r)
  }

  /** vec_cosine(array<double>, array<double>) — fused cosine similarity,
    * dot / (‖a‖·‖b‖) with sequential folds (HashFuncs.vecCosine). */
  case class VecCosine(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      HashFuncs.vecCosine(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$hk.vecCosine($a, $b)")
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): VecCosine = copy(left = l, right = r)
  }

  /** rolling_hash31(str) — Rabin-Karp base-31 mod 1e9+7 fingerprint as
    * one codegen byte loop. */
  case class RollingHash31(child: Expression) extends StringKernel {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      HashFuncs.rollingHash31(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$hk.rollingHash31($c)")
    override protected def withNewChildInternal(
        c: Expression): RollingHash31 = copy(c)
  }

  /** sorted_intersect_count(array<long>, array<long>) — merge-scan
    * intersection size of two sorted arrays as one codegen loop. */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any, b: Any): Any =
      HashFuncs.sortedIntersectCount(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$hk.sortedIntersectCount($a, $b)")
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): SortedIntersectCount = copy(left = l, right = r)
  }

  /** long_eq_frac(array<long>, array<long>) — MinHash signature
    * agreement fraction as one codegen loop. */
  case class LongEqFrac(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      HashFuncs.longEqFrac(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$hk.longEqFrac($a, $b)")
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): LongEqFrac = copy(left = l, right = r)
  }

  /** vec_sqdist(array<double>, array<double>) — squared Euclidean
    * distance, null elements contribute zero (DMR probe distance). */
  case class VecSqDist(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      HashFuncs.vecSqDist(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$hk.vecSqDist($a, $b)")
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): VecSqDist = copy(left = l, right = r)
  }

  /** zorder2(a, b, bits) — Morton interleave of the low `bits` bits
    * (HashFuncs.zorder2): the clustering key for Z-ordered data layout.
    * Codegen'd shift/mask loop; inputs cast to long at the column layer. */
  case class ZOrder2(left: Expression, right: Expression, bits: Int)
      extends BinaryExpression {
    require(bits >= 1 && bits <= 32,
      s"zorder2 bits must be in [1,32], got $bits (shift counts wrap " +
        "mod 64 above 32, silently corrupting the interleave)")
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any, b: Any): Any =
      HashFuncs.zorder2(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$hk.zorder2($a, $b, $bits)")
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): ZOrder2 = copy(left = l, right = r)
  }

  /** ahash64(levels, w, h) / dhash64(levels, w, h) — perceptual-hash
    * pooling kernels over array<long> pixel levels; see
    * HashFuncs.{aHash64,dHash64} for semantics and the divisibility /
    * non-null / ≤ 2^24 level contract. */
  abstract class PixelHashKernel extends UnaryExpression {
    def w: Int
    def h: Int
    override def dataType: DataType = LongType
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(LongType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult
            .TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult
            .TypeCheckFailure(
              s"$prettyName requires ARRAY<BIGINT>, got ${other.sql}")
      }
  }

  case class AHash64(child: Expression, w: Int, h: Int)
      extends PixelHashKernel {
    require(w % 8 == 0 && h % 8 == 0,
      s"ahash64 needs dimensions divisible by 8, got ${w}x$h")
    override def nullSafeEval(v: Any): Any =
      HashFuncs.aHash64(v.asInstanceOf[ArrayData], w, h)
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$hk.aHash64($c, $w, $h)")
    override protected def withNewChildInternal(c: Expression): AHash64 =
      copy(child = c)
  }

  case class DHash64(child: Expression, w: Int, h: Int)
      extends PixelHashKernel {
    require(w % 9 == 0 && h % 8 == 0,
      s"dhash64 needs width divisible by 9 and height by 8, got ${w}x$h")
    override def nullSafeEval(v: Any): Any =
      HashFuncs.dHash64(v.asInstanceOf[ArrayData], w, h)
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$hk.dHash64($c, $w, $h)")
    override protected def withNewChildInternal(c: Expression): DHash64 =
      copy(child = c)
  }

  /** energy_profile64(samples) — the 64-segment quantized audio energy
    * profile (HashFuncs.energyProfile64) as one codegen pass; accepts
    * ARRAY<FLOAT> (the decoder's native sample type) or ARRAY<DOUBLE>.
    * Null elements read as 0 amplitude (silence) — the decoder contract
    * never emits them. */
  case class EnergyProfile64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, false)
    private def isFloat: Boolean =
      child.dataType == ArrayType(FloatType, false) ||
        child.dataType == ArrayType(FloatType, true)
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult
            .TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult
            .TypeCheckFailure(
              s"$prettyName requires ARRAY<FLOAT> or ARRAY<DOUBLE>, " +
                s"got ${other.sql}")
      }
    override def nullSafeEval(v: Any): Any =
      HashFuncs.energyProfile64(v.asInstanceOf[ArrayData], isFloat)
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$hk.energyProfile64($c, $isFloat)")
    override protected def withNewChildInternal(
        c: Expression): EnergyProfile64 = copy(c)
  }

  import GraftBridge.{column, expression}

  /** Children are cast to double explicitly (the kernels are
    * double-only and don't participate in implicit coercion). */
  def toD(e: Expression): Expression =
    if (e.dataType == DoubleType) e else Cast(e, DoubleType)

  def erfc(c: Column): Column = column(Erfc(toD(expression(c))))
  def normLogSf(c: Column): Column = column(NormLogSf(toD(expression(c))))
  def normInv(c: Column): Column = column(NormInv(toD(expression(c))))
  def tTwoSidedP(t: Column, dof: Column): Column =
    column(TTwoSidedP(toD(expression(t)),
      Cast(expression(dof), IntegerType)))
  def polyHash64(c: Column): Column = column(PolyHash64(expression(c)))
  def tokenHashes(c: Column): Column = column(TokenHashes(expression(c)))
  def wordShingleHashes(c: Column, k: Int): Column =
    column(WordShingleHashes(expression(c), k))
  def wordShingleHashesAt(c: Column, k: Int): Column =
    column(WordShingleHashesAt(expression(c), k))
  def simHash64(c: Column): Column = column(SimHash64(expression(c)))
  def normalizeText(c: Column): Column =
    column(NormalizeText(expression(c)))
  def stripMarkup(c: Column): Column =
    column(StripMarkup(expression(c)))
  def scriptProfile(c: Column): Column =
    column(ScriptProfile(expression(c)))
  def gramRepetition(c: Column, n: Int): Column =
    column(GramRepetition(expression(c), n))
  def minHashSig(c: Column, k: Int, numHashes: Int): Column =
    column(MinHashSig(expression(c), k, numHashes))
  def srpSketch64(c: Column, dim: Int): Column =
    column(SrpSketch64(expression(c), dim))

  /** Cast a SQL argument to array<double> (the vector kernels are
    * double-only). */
  def toAD(e: Expression): Expression =
    if (e.dataType == ArrayType(DoubleType)) e
    else Cast(e, ArrayType(DoubleType))

  def vecDot(a: Column, b: Column): Column =
    column(VecDot(toAD(expression(a)), toAD(expression(b))))
  def vecCosine(a: Column, b: Column): Column =
    column(VecCosine(toAD(expression(a)), toAD(expression(b))))
  def longEqFrac(a: Column, b: Column): Column =
    column(LongEqFrac(expression(a), expression(b)))
  def rollingHash31(c: Column): Column =
    column(RollingHash31(expression(c)))
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
  def vecSqDist(a: Column, b: Column): Column =
    column(VecSqDist(toAD(expression(a)), toAD(expression(b))))

  /** `sorted` is passed uncast (EcdfCount checks it is array<double>):
    * a cast would copy the array on every row. */
  def ecdfCount(sorted: Column, v: Column): Column =
    column(EcdfCount(expression(sorted), Cast(expression(v), DoubleType)))

  /** Cast a SQL argument to long (the Z-order kernel is long-only). */
  def toL(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  def zorder2(a: Column, b: Column, bits: Int): Column =
    column(ZOrder2(toL(expression(a)), toL(expression(b)), bits))

  def aHash64(levels: Column, w: Int, h: Int): Column =
    column(AHash64(expression(levels), w, h))
  def dHash64(levels: Column, w: Int, h: Int): Column =
    column(DHash64(expression(levels), w, h))
  def energyProfile64(samples: Column): Column =
    column(EnergyProfile64(expression(samples)))

  /** One SQL function: its name, the expression class its
    * `ExpressionInfo` names, and the builder over the call's argument
    * expressions. */
  final case class SqlFunction(name: String, cls: Class[_ <: Expression],
      build: Seq[Expression] => Expression)

  /** graft's SQL surface, one entry per name. [[GraftExtensions]]
    * injects every entry into each session built with it. */
  val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("erfc", classOf[Erfc], es => Erfc(toD(es.head))),
    SqlFunction("norm_log_sf", classOf[NormLogSf],
      es => NormLogSf(toD(es.head))),
    SqlFunction("norm_inv", classOf[NormInv], es => NormInv(toD(es.head))),
    SqlFunction("poly_hash64", classOf[PolyHash64],
      es => PolyHash64(es.head)),
    SqlFunction("token_hashes", classOf[TokenHashes],
      es => TokenHashes(es.head)),
    SqlFunction("simhash64", classOf[SimHash64], es => SimHash64(es.head)),
    SqlFunction("normalize_text", classOf[NormalizeText],
      es => NormalizeText(es.head)),
    SqlFunction("strip_markup", classOf[StripMarkup],
      es => StripMarkup(es.head)),
    SqlFunction("script_profile", classOf[ScriptProfile],
      es => ScriptProfile(es.head)),
    SqlFunction("gram_repetition", classOf[GramRepetition],
      es => GramRepetition(es.head, litInt(es(1)))),
    SqlFunction("word_shingle_hashes", classOf[WordShingleHashes],
      es => WordShingleHashes(es.head, litInt(es(1)))),
    SqlFunction("minhash_sig", classOf[MinHashSig],
      es => MinHashSig(es.head, litInt(es(1)), litInt(es(2)))),
    SqlFunction("srp_sketch64", classOf[SrpSketch64],
      es => SrpSketch64(es.head, litInt(es(1)))),
    SqlFunction("top_k", classOf[TopKAgg],
      es => TopKAgg(es(0), es(1), litInt(es(2)))),
    SqlFunction("vec_dot", classOf[VecDot],
      es => VecDot(toAD(es(0)), toAD(es(1)))),
    SqlFunction("vec_cosine", classOf[VecCosine],
      es => VecCosine(toAD(es(0)), toAD(es(1)))),
    SqlFunction("rolling_hash31", classOf[RollingHash31],
      es => RollingHash31(es.head)),
    SqlFunction("long_eq_frac", classOf[LongEqFrac],
      es => LongEqFrac(es(0), es(1))),
    SqlFunction("vec_sqdist", classOf[VecSqDist],
      es => VecSqDist(toAD(es(0)), toAD(es(1)))),
    SqlFunction("zorder2", classOf[ZOrder2],
      es => ZOrder2(toL(es(0)), toL(es(1)), litInt(es(2)))),
    SqlFunction("ahash64", classOf[AHash64],
      es => AHash64(es.head, litInt(es(1)), litInt(es(2)))),
    SqlFunction("dhash64", classOf[DHash64],
      es => DHash64(es.head, litInt(es(1)), litInt(es(2)))),
    SqlFunction("energy_profile64", classOf[EnergyProfile64],
      es => EnergyProfile64(es.head)))

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
