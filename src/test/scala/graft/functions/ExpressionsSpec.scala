package graft.functions

import graft.SparkSpec
import org.apache.commons.math3.special.Erf
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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

  /** Every kernel's Column helper, with the parity frame's columns it
    * takes: (kernel name, argument columns, call). zorder2 runs at both
    * `bits` bounds and energy_profile64 over both element types. */
  private val kernelCalls: Seq[(String, Seq[String], Seq[Column] => Column)] =
    Seq(
      ("erfc", Seq("x"), a => Expressions.erfc(a(0))),
      ("norm_log_sf", Seq("x"), a => Expressions.normLogSf(a(0))),
      ("norm_inv", Seq("x"), a => Expressions.normInv(a(0))),
      ("t_two_sided_p", Seq("d", "dof"),
        a => Expressions.tTwoSidedP(a(0), a(1))),
      ("ecdf_count", Seq("sorted", "d"),
        a => Expressions.ecdfCount(a(0), a(1))),
      ("poly_hash64", Seq("s"), a => Expressions.polyHash64(a(0))),
      ("token_hashes", Seq("s"), a => Expressions.tokenHashes(a(0))),
      ("word_shingle_hashes", Seq("s"),
        a => Expressions.wordShingleHashes(a(0), 2)),
      ("word_shingle_hashes_at", Seq("s"),
        a => Expressions.wordShingleHashesAt(a(0), 2)),
      ("gram_repetition", Seq("s"), a => Expressions.gramRepetition(a(0), 2)),
      ("normalize_text", Seq("s"), a => Expressions.normalizeText(a(0))),
      ("strip_markup", Seq("s"), a => Expressions.stripMarkup(a(0))),
      ("script_profile", Seq("s"), a => Expressions.scriptProfile(a(0))),
      ("simhash64", Seq("s"), a => Expressions.simHash64(a(0))),
      ("minhash_sig", Seq("s"), a => Expressions.minHashSig(a(0), 2, 8)),
      ("rolling_hash31", Seq("s"), a => Expressions.rollingHash31(a(0))),
      ("srp_sketch64", Seq("va"), a => Expressions.srpSketch64(a(0), 4)),
      ("vec_dot", Seq("va", "vb"), a => Expressions.vecDot(a(0), a(1))),
      ("vec_cosine", Seq("va", "vb"), a => Expressions.vecCosine(a(0), a(1))),
      ("vec_sqdist", Seq("va", "vb"), a => Expressions.vecSqDist(a(0), a(1))),
      ("long_eq_frac", Seq("la", "lb"),
        a => Expressions.longEqFrac(a(0), a(1))),
      ("sorted_intersect_count", Seq("la", "lb"),
        a => Expressions.sortedIntersectCount(a(0), a(1))),
      ("zorder2", Seq("za", "zb"), a => Expressions.zorder2(a(0), a(1), 1)),
      ("zorder2", Seq("za", "zb"), a => Expressions.zorder2(a(0), a(1), 32)),
      ("ahash64", Seq("lv64"), a => Expressions.aHash64(a(0), 8, 8)),
      ("dhash64", Seq("lv72"), a => Expressions.dHash64(a(0), 9, 8)),
      ("energy_profile64", Seq("f"), a => Expressions.energyProfile64(a(0))),
      ("energy_profile64", Seq("va"), a => Expressions.energyProfile64(a(0))))

  test("every kernel: codegen and interpreted rows are identical, " +
      "null in any argument gives null") {
    assert(kernelCalls.map(_._1).toSet ==
      Expressions.kernels.map(_.name).toSet)
    val schema = StructType(Seq(
      StructField("row", IntegerType, false),
      StructField("x", DoubleType), StructField("d", DoubleType),
      StructField("dof", IntegerType),
      StructField("s", StringType),
      StructField("va", ArrayType(DoubleType)),
      StructField("vb", ArrayType(DoubleType)),
      StructField("sorted", ArrayType(DoubleType)),
      StructField("la", ArrayType(LongType)),
      StructField("lb", ArrayType(LongType)),
      StructField("lv64", ArrayType(LongType)),
      StructField("lv72", ArrayType(LongType)),
      StructField("f", ArrayType(FloatType)),
      StructField("za", LongType), StructField("zb", LongType)))
    // x feeds erfc, norm_log_sf and norm_inv, d the others: x has no
    // NaN because StatFuncs.erfc(NaN) throws (erfcx's require)
    def longs(n: Int)(f: Int => Long): Seq[Long] = (0 until n).map(f)
    val rows = Seq(
      Row(0, 0.5, 0.5, 5, "the cat the cat sat", Seq(1.0, -2.0, 3.0),
        Seq(0.5, null, 2.0), Seq(-1.0, 0.0, 2.5, 2.5), Seq(1L, 3L, 5L, 7L),
        Seq(3L, 4L, 5L), longs(64)(i => i * 37 % 101),
        longs(72)(i => i * 53 % 97),
        (0 until 100).map(i => math.sin(i).toFloat), 5L, 9L),
      // empty string and arrays, NaN, the smallest dof, the deep tail
      Row(1, -40.0, Double.NaN, 1, "", Seq(), Seq(), Seq(), Seq(), Seq(),
        longs(64)(_ => 0L), longs(72)(_ => 7L), Seq(), -1L, 0L),
      Row(2, null, null, null, null, null, null, null, null, null, null,
        null, null, null, null),
      // markup, combining marks, scripts, a surrogate pair; NaN elements
      // (NaN sorts last); the long extremes; fewer samples than segments
      Row(3, -2.0, -2.0, 30, "<b>Cafe\u0301</b>  \u041f\u0440\u0438 " +
        "\u4f60\u597d \ud83d\ude00 a&amp;b", Seq(Double.NaN, 1.0),
        Seq(1.0, Double.NaN), Seq(1.0, Double.NaN),
        Seq(Long.MinValue, 0L), Seq(0L), longs(64)(i => i.toLong << 18),
        longs(72)(i => (71 - i).toLong << 18), Seq(0.1f, -0.2f, 0.3f),
        Long.MaxValue, Long.MinValue),
      // infinity, dof 0, controls and zero-widths, signed zeros, a
      // null in one argument only
      Row(4, Double.PositiveInfinity, Double.PositiveInfinity, 0,
        "a  b\u0000c\u200bd",
        Seq(0.0, -0.0), Seq(-0.0, 0.0), Seq(-0.0, 0.0), Seq(2L, 2L, 3L),
        Seq(2L, 3L, 3L), null, null, null, 0L, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema).cache()
    // an always-null input the optimizer cannot fold: a constant null
    // would be evaluated at planning time instead of in the plan
    def nulled(c: String): Column = when(col("row") < 0, col(c))
    val outs = kernelCalls.zipWithIndex.flatMap { case ((_, args, call), i) =>
      (s"k$i" -> call(args.map(col))) +: args.indices.map { p =>
        s"n${i}_$p" -> call(args.zipWithIndex.map { case (a, j) =>
          if (j == p) nulled(a) else col(a) })
      }
    }
    def under(confs: (String, String)*): Seq[Row] = {
      val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try df.select(col("row") +: outs.map { case (n, c) => c.as(n) }: _*)
        .collect().sortBy(_.getInt(0)).toSeq
      finally old.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    try {
      val gen = under("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false")
      val interp = under("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")
      assert(gen.length == rows.length)
      // toString keeps NaN == NaN and tells -0.0 from 0.0
      gen.zip(interp).foreach { case (g, n) =>
        assert(g.toString == n.toString)
      }
      for (r <- gen; (n, _) <- outs if n.startsWith("n"))
        assert(r.isNullAt(r.fieldIndex(n)), s"$n row ${r.getInt(0)}")
      // the all-null row gives null in every kernel column
      assert(gen(2).toSeq.tail.forall(_ == null))
    } finally df.unpersist()
    // result nullability: minhash_sig is nullable on a non-null input,
    // the other kernels follow their inputs
    val lits = spark.range(1).select(
      Expressions.minHashSig(lit("a b"), 2, 4),
      Expressions.polyHash64(lit("a")))
    assert(lits.schema.map(_.nullable) == Seq(true, false))
  }

  test("SQL surface: exactly the 23 names; a wrong-typed argument fails " +
      "analysis naming the function") {
    val names = Seq("ahash64", "dhash64", "energy_profile64", "erfc",
      "gram_repetition", "long_eq_frac", "minhash_sig", "norm_inv",
      "norm_log_sf", "normalize_text", "poly_hash64", "rolling_hash31",
      "script_profile", "simhash64", "srp_sketch64", "strip_markup",
      "token_hashes", "top_k", "vec_cosine", "vec_dot", "vec_sqdist",
      "word_shingle_hashes", "zorder2")
    assert(Expressions.sqlFunctions.map(_.name).sorted == names)
    Seq("ecdf_count", "t_two_sided_p", "word_shingle_hashes_at",
      "sorted_intersect_count").foreach(n =>
      assert(!spark.catalog.functionExists(n), n))
    Seq("poly_hash64" -> "poly_hash64(1L)",
      "token_hashes" -> "token_hashes(1L)",
      "ahash64" -> "ahash64(array(1, 2), 8, 8)",
      "energy_profile64" -> "energy_profile64(array('a'))").foreach {
      case (fn, call) =>
        val e = intercept[AnalysisException](spark.sql(s"SELECT $call"))
        assert(e.getMessage.contains(fn), e.getMessage)
    }
  }
}
