package graft

/** CI smoke for the ScaleBench machinery (the generator + the scaled
  * run path feed a judge-graded artifact, so they must not rot between
  * the rounds that execute the full 14-minute rung): generate x1/x2
  * replicas of sf0.001 into a temp dir, check the copy discipline —
  * exact 2× row counts, disjoint key ranges, caesar-shifted text that
  * is NOT a near-duplicate of its source copy — and run two registered
  * queries end-to-end on the replica to prove the scaled dirs satisfy
  * the `Q.t` table contract. The runner every mode shares is driven with
  * two stub shapes over `spark.range`, a stage that fails in one round and
  * one that always fails, and `command` must reject a malformed command
  * line before any work. */
class ScaleSmokeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = java.nio.file.Files
    .createTempDirectory("graft-scale-smoke").toString

  test("generate: x2 replica doubles rows, shifts keys, rotates text") {
    val base = sf("sf0.001")
    ScaleBench.generate(spark, base, s"$root/x2", 2)
    val b = spark.read.parquet(s"$base/lineitem.parquet")
    val g = spark.read.parquet(s"$root/x2/lineitem.parquet")
    assert(g.count() == 2 * b.count())
    // copy 1 shifted beyond copy 0's key domain — the join keys of the
    // two copies can never collide
    val maxBase = b.agg(org.apache.spark.sql.functions
      .max($"l_orderkey")).head.getLong(0)
    val n1 = g.filter($"l_orderkey" > maxBase).count()
    assert(n1 == b.count(), s"copy-1 rows: $n1 vs ${b.count()}")
    val d = spark.read.parquet(s"$root/x2/documents.parquet")
    val db = spark.read.parquet(s"$base/documents.parquet")
    assert(d.count() == 2 * db.count())
    // caesar rotation: copy-1 text differs from copy-0 but preserves
    // length (token/char distributions carry over)
    val pair = d.select($"doc_id" % 100000000L, $"text")
      .toDF("k", "text")
      .groupBy($"k")
      .agg(org.apache.spark.sql.functions.countDistinct($"text")
        .as("variants"),
        org.apache.spark.sql.functions.countDistinct(
          org.apache.spark.sql.functions.length($"text")).as("lens"))
    assert(pair.filter($"variants" =!= 2).count() == 0,
      "every doc must get a distinct rotated copy")
    assert(pair.filter($"lens" =!= 1).count() == 0,
      "rotation must preserve text length")
  }

  test("registered queries run on the generated replica dirs") {
    ScaleBench.generate(spark, sf("sf0.001"), s"$root/x2", 2)
    // one lineitem-derived and one documents-derived query
    assert(SparkEntry.queries("q82_masks_endtoend")(
      spark, s"$root/x2").count() > 0)
    assert(SparkEntry.queries("q124_dedup_eval")(
      spark, s"$root/x2").count() > 0)
    spark.catalog.clearCache()
  }

  test("runner: ABBA rounds, fastest round per stage, one JSON line " +
      "naming every stage") {
    import scala.collection.mutable.ArrayBuffer
    val calls = ArrayBuffer.empty[String]
    // one sleep per timed stage run, in run order: each stage's two
    // rounds differ, and the one that did not sleep is the faster
    val sleeps = Iterator(500, 0, 0, 500, 500, 0, 0, 500)
    var flakyRuns = 0
    val mode = ScaleBench.Mode("stub", Seq("a", "b"), 2,
      stages = (s, shape) => {
        calls += shape
        val n = if (shape == "b") 100000L else 10000L
        Seq("scan", "agg").map(name => ScaleBench.Stage(name, () => {
          if (shape == "warm") sys.error(s"warm-up of $name failed")
          Thread.sleep(sleeps.next().toLong)
          val df = s.range(n)
          Seq("rows" -> (if (name == "scan") df.count()
            else df.groupBy(df("id") % 7).count().count()))
        })) ++ Seq(
          // fails in the first timed round only
          ScaleBench.Stage("flaky", () => {
            if (shape != "warm") flakyRuns += 1
            if (flakyRuns <= 1) sys.error("flaky round")
            Seq("rows" -> s.range(10).count())
          }),
          ScaleBench.Stage("broken", () => sys.error("always broken")))
      },
      fields = run => Seq("value" -> run.ratio("agg")),
      warmShape = Some("warm"))
    val run = ScaleBench.run(spark, mode)
    assert(calls == Seq("warm", "a", "b", "b", "a"))
    assert(run.rounds.map(_._1) == Seq("a", "b", "b", "a"))
    for (shape <- Seq("a", "b"); stage <- Seq("scan", "agg")) {
      val walls = run.rounds.filter(_._1 == shape)
        .map(_._2.toMap.apply(stage).wall)
      assert(run.timing(shape, stage).wall == walls.min, s"$walls")
    }
    val r = run.timing("b", "agg").wall / run.timing("a", "agg").wall
    assert(run.ratio("agg") == r)
    assert(ScaleBench.exponent(r, 10) == math.log(r) / math.log(10))
    assert(run.timing("b", "agg").counts == Seq("rows" -> 7L))
    // the failed round is recorded, and best skips it
    val flaky = run.rounds.map(_._2.toMap.apply("flaky"))
    assert(flaky.map(_.error) ==
      Seq(Some("flaky round"), None, None, None), flaky)
    assert(flaky.head.counts.isEmpty)
    assert(run.timing("a", "flaky") == flaky(3))
    assert(run.timing("a", "flaky").counts == Seq("rows" -> 10L))
    Seq("a", "b").foreach { shape =>
      val t = run.timing(shape, "broken")
      assert(t.error.contains("always broken") && t.counts.isEmpty, t)
    }

    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(ScaleBench.line(mode, run))
    assert(json.get("metric").asText == "stub")
    assert(json.get("value").asDouble == r)
    for (shape <- Seq("a", "b"); stage <- Seq("scan", "agg")) {
      val e = json.get(shape).get(stage)
      assert(e != null, s"no $shape/$stage in $json")
      Seq("wall", "jobs", "shuffle_mb", "gc_s", "rows")
        .foreach(k => assert(e.get(k).isNumber, s"$shape/$stage/$k in $json"))
      assert(e.get("jobs").asInt >= 1, json)
      assert(e.get("warmup_error").asText.contains(s"warm-up of $stage"))
      assert(!e.has("error"), json)
    }
    for (shape <- Seq("a", "b")) {
      assert(!json.get(shape).get("flaky").has("error"), json)
      assert(json.get(shape).get("flaky").get("rows").asInt == 10, json)
      val broken = json.get(shape).get("broken")
      assert(broken.get("error").asText == "always broken", json)
      assert(!broken.has("rows") && broken.get("wall").isNumber, json)
    }
  }

  test("a malformed command line is rejected before any session exists") {
    intercept[IllegalArgumentException](ScaleBench.command(Seq("nope")))
    intercept[IllegalArgumentException](
      ScaleBench.command(Seq("domain", "extra")))
    intercept[IllegalArgumentException](ScaleBench.command(Seq("scale"),
      Map("SPARK_GRAFT_SCALE_ONLY" -> "q00_no_such_query")))
    Seq("scale", "domain", "domain-skew", "dedup-skew")
      .foreach(m => ScaleBench.command(Seq(m), Map.empty))
  }
}
