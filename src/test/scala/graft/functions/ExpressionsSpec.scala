package graft.functions

import graft.SparkSpec
import org.apache.commons.math3.special.Erf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("Erfc expression evaluates via codegen and interpreted paths") {
    val df = Seq(-2.0, -0.3, 0.0, 0.5, 3.0).toDF("x")
      .withColumn("e", Expressions.erfc($"x"))
    val got = df.collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    for ((x, v) <- got)
      assert(math.abs(v - Erf.erfc(x)) < 1e-12, s"x=$x")
    // null propagates
    val n = Seq[Option[Double]](None).toDF("x")
      .select(Expressions.erfc($"x")).head()
    assert(n.isNullAt(0))
  }

  test("session-registered SQL functions") {
    val r = spark.sql(
      "SELECT erfc(0.5) AS a, norm_log_sf(2.0) AS b, norm_inv(0.975) AS c")
      .head()
    assert(math.abs(r.getDouble(0) - Erf.erfc(0.5)) < 1e-12)
    assert(math.abs(r.getDouble(1) - StatFuncs.normLogSf(2.0)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.959963984540054) < 1e-9)
  }

  test("GraftExtensions applies its injections without error") {
    // a fresh SparkSession can't be built while the shared test session
    // lives (getOrCreate reuses it), so exercise the injection callback
    // directly against a fresh extensions container
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must register all without throwing
  }

  test("SQL surface: one table entry per name, each one in the session") {
    val names = Expressions.sqlFunctions.map(_.name)
    assert(names.nonEmpty && names.distinct == names)
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
  }

  test("SQL surface: hash kernels + top_k callable from spark.sql") {
    val r = spark.sql("""
      SELECT poly_hash64('abc') AS ph,
             simhash64('a b c') AS sh,
             token_hashes('a b') AS th""").head()
    assert(r.getLong(0) === HashFuncs.polyHash64(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")))
    assert(r.getLong(1) === HashFuncs.simHash64(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b c")))
    assert(r.getSeq[Long](2).length === 2)
  }

  test("vec_dot / vec_cosine kernels are bit-equal to the HOF folds") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // pseudo-random but deterministic vectors, incl. a null row
    val df = spark.range(200).toDF("i")
      .withColumn("a", when($"i" === 199, lit(null)).otherwise(
        expr("transform(sequence(1, 64), d -> sin(i * 64 + d))")))
      .withColumn("b",
        expr("transform(sequence(1, 64), d -> cos(i * 37 + d))"))
    val hofDot = aggregate(zip_with($"a", $"b", (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val hofNorm = (c: org.apache.spark.sql.Column) =>
      sqrt(aggregate(transform(c, x => x * x), lit(0.0), (acc, x) => acc + x))
    val r = df.select(
      Expressions.vecDot($"a", $"b").as("kd"),
      hofDot.as("hd"),
      Expressions.vecCosine($"a", $"b").as("kc"),
      (hofDot / (hofNorm($"a") * hofNorm($"b"))).as("hc")).collect()
    assert(r.length === 200)
    r.foreach { row =>
      if (row.isNullAt(0)) assert(row.isNullAt(1) && row.isNullAt(2))
      else {
        assert(row.getDouble(0) === row.getDouble(1)) // bit-equal
        assert(row.getDouble(2) === row.getDouble(3))
      }
    }
    // SQL surface
    val s = spark.sql(
      "SELECT vec_cosine(array(1.0, 0.0), array(1.0, 0.0)) AS c").head()
    assert(s.getDouble(0) === 1.0)
  }

  test("long_eq_frac / vec_sqdist kernels match their HOF references") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = spark.range(100).toDF("i")
      .withColumn("la", expr("transform(sequence(1, 32), d -> (i * d) % 7)"))
      .withColumn("lb", expr("transform(sequence(1, 32), d -> (i + d) % 7)"))
      // double vectors with embedded nulls (the DMR beta-vector shape)
      .withColumn("va", expr(
        "transform(sequence(1, 8), d -> IF(d = 3, NULL, sin(i + d)))"))
      .withColumn("vb", expr(
        "transform(sequence(1, 8), d -> IF(d = 5, NULL, cos(i + d)))"))
    val r = df.select(
      Expressions.longEqFrac($"la", $"lb").as("kf"),
      expr("""size(filter(zip_with(la, lb, (x, y) -> x = y), v -> v))
              / CAST(size(la) AS DOUBLE)""").as("hf"),
      Expressions.vecSqDist($"va", $"vb").as("kd"),
      expr("""aggregate(zip_with(va, vb,
                (a, b) -> CASE WHEN a IS NULL OR b IS NULL THEN 0.0D
                          ELSE (a - b) * (a - b) END),
              0.0D, (acc, v) -> acc + v)""").as("hd")).collect()
    r.foreach { row =>
      assert(row.getDouble(0) === row.getDouble(1))
      assert(row.getDouble(2) === row.getDouble(3))
    }
  }

  test("normalize_text: NFC, control strip, collapse, trim, idempotent") {
    import spark.implicits._
    val cases = Seq(
      // decomposed e + combining acute composes to \u00e9 (NFC)
      "cafe\u0301  shop " -> "caf\u00e9 shop",
      // controls/zero-width/BOM removed; tab and newline KEPT
      "a\u0002b c\u200Bd\uFEFFe" -> "ab cde",
      "keep\tthis\nlines" -> "keep\tthis\nlines",
      // space runs collapse, ends trim (spaces only)
      "   x    y   " -> "x y",
      "" -> "",
      "   " -> "")
    val got = cases.map(_._1).toDF("raw")
      .select(Expressions.normalizeText($"raw")).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, e) =>
      assert(g == e, s"got '$g' expected '$e'")
    }
    // idempotence: normalizing a normalized string is a no-op
    val twice = got.toSeq.toDF("raw")
      .select(Expressions.normalizeText($"raw")).as[String].collect()
    assert(twice.toSeq == got.toSeq)
    // null passes through (UnaryExpression null semantics)
    val n = Seq[Option[String]](None).toDF("raw")
      .select(Expressions.normalizeText($"raw")).collect()
    assert(n.head.isNullAt(0))
    // and the SQL surface name resolves
    assert(spark.sql("SELECT normalize_text('  a   b ')").head.getString(0)
      == "a b")
  }

  test("script_profile: per-script codepoint counts, surrogate " +
      "awareness, regex cross-check") {
    import spark.implicits._
    // hand-counted mixed string: 5 latin, 6 cyrillic, 2 han, 4 greek,
    // 5 arabic, 2 hangul; spaces/digits/punct land in `other`
    val s0 = "Hello Привет 你好 γειά مرحبا 한글 123 .,!"
    val got = Seq(s0).toDF("raw")
      .select(Expressions.scriptProfile($"raw")).as[Seq[Long]].collect()
      .head
    assert(got == Seq(5L, 6L, 2L, 4L, 5L, 2L, 13L), got)
    assert(got.sum == s0.codePointCount(0, s0.length))
    // surrogate pairs advance ONCE: 3 emoji = 3 `other` codepoints,
    // not 6 UTF-16 units
    val emoji = Seq("😀😁😂").toDF("raw")
      .select(Expressions.scriptProfile($"raw")).as[Seq[Long]].collect()
      .head
    assert(emoji == Seq(0L, 0L, 0L, 0L, 0L, 0L, 3L))
    // empty string: all-zero profile; null passes through
    val empty = Seq("").toDF("raw")
      .select(Expressions.scriptProfile($"raw")).as[Seq[Long]].collect()
      .head
    assert(empty == Seq.fill(7)(0L))
    assert(Seq[Option[String]](None).toDF("raw")
      .select(Expressions.scriptProfile($"raw")).collect().head.isNullAt(0))
    // independent-formulation cross-check: the kernel's slots 0-5 must
    // equal Java-regex script-class counts (\p{IsX} matches the same
    // Unicode Script property) on randomized script-mixed strings
    val rnd = new scala.util.Random(42)
    val pools = Seq("abcXYZ", "привет", "你好漢字", "γειάΚμ",
      "مرحبال", "한글테스", " .,0189\t😀")
    val samples = (0 until 40).map { _ =>
      val n = rnd.nextInt(60)
      (0 until n).map { _ =>
        val p = pools(rnd.nextInt(pools.length))
        // pick a CODEPOINT, not a char, so the emoji stays paired
        val cps = p.codePoints().toArray
        new String(Character.toChars(cps(rnd.nextInt(cps.length))))
      }.mkString
    }
    val kernel = samples.toDF("raw")
      .select(Expressions.scriptProfile($"raw")).as[Seq[Long]].collect()
    val scripts = Seq("IsLatin", "IsCyrillic", "IsHan", "IsGreek",
      "IsArabic", "IsHangul")
    samples.zip(kernel).foreach { case (raw, prof) =>
      val exp = scripts.map(sc =>
        raw.replaceAll(s"[\\p{$sc}]", "").codePointCount(0,
          raw.replaceAll(s"[\\p{$sc}]", "").length))
        .map(rem => raw.codePointCount(0, raw.length).toLong - rem)
      assert(prof.take(6) == exp, s"'$raw'")
      assert(prof.sum == raw.codePointCount(0, raw.length))
    }
    // SQL surface resolves
    assert(spark.sql("SELECT script_profile('ab')").head
      .getSeq[Long](0) == Seq(2L, 0L, 0L, 0L, 0L, 0L, 0L))
  }

  test("strip_markup: script/style/comment drop, tag word boundaries, " +
      "entity decode order, bare math preserved") {
    import org.apache.spark.unsafe.types.UTF8String
    def strip(s: String): String =
      HashFuncs.stripMarkup(UTF8String.fromString(s)).toString
    // script content vanishes; the attribute's '>' decides the lazy
    // [^>]* boundary (the rest of the attribute becomes content)
    assert(strip("<SCRIPT a=\"x>y\">1 < 2\n</script >keep") == "keep")
    assert(strip("<style>.a{color:red}</style>t") == "t")
    assert(strip("a<!-- multi\nline -->b") == "a b")
    // tags are word boundaries, not deletions
    assert(strip("a<br>b") == "a b")
    assert(strip("<b>bold</b>text") == "bold text")
    // bare math text survives the tag class
    assert(strip("a < b and x > y") == "a < b and x > y")
    // decode-once: double-encoded entity yields the TEXT &lt;
    assert(strip("&amp;lt;") == "&lt;")
    // entities decode AFTER the tag pass — decoded <i> stays as text
    assert(strip("x&nbsp;&lt;i&gt;&#39;q&#39;") == "x <i>'q'")
    // unclosed script falls through to the tag pass: content survives
    assert(strip("<p>unclosed <script>var x;") == "unclosed var x;")
    assert(strip("") == "")
    // null passes through; the SQL surface resolves
    val n = Seq[Option[String]](None).toDF("raw")
      .select(Expressions.stripMarkup($"raw")).collect()
    assert(n.head.isNullAt(0))
    assert(spark.sql("SELECT strip_markup('<b>a</b> c')")
      .head.getString(0) == "a c")
  }

  test("rolling_hash31 kernel equals the per-character fold on ASCII") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .limit(50)
    val r = docs.select(
      Expressions.rollingHash31($"text").as("k"),
      aggregate(
        transform(split($"text", ""), c => ascii(c).cast("long")),
        lit(0L),
        (acc, c) => (acc * 31L + c) % 1000000007L).as("h")).collect()
    assert(r.nonEmpty)
    r.foreach(row => assert(row.getLong(0) === row.getLong(1)))
  }
}
