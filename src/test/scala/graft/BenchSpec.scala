package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.JsonNodeType
import com.fasterxml.jackson.databind.node.JsonNodeType._

/** [[Bench]] end to end on two light queries at sf0.001, one rep: both
  * output lines keep the record's schema (key order and JSON types, which
  * `tools/reseed_bench_ref.py` and every reader of the record parse), and
  * the outlier protocol fires on a reference entry the query cannot meet. */
class BenchSpec extends SparkSpec {
  private val (fast, unref) = ("q02_filter_project", "q03_filter_in")

  /** The full line's keys in order, with their JSON types. */
  private val fullSchema = Seq("metric" -> STRING, "value" -> NUMBER,
    "unit" -> STRING, "queries" -> OBJECT, "queries_min" -> OBJECT,
    "outliers" -> OBJECT, "outliers_failed" -> OBJECT,
    "outlier_telemetry" -> OBJECT, "telemetry" -> OBJECT, "failed" -> OBJECT,
    "storage_fraction" -> NUMBER, "ref_path" -> STRING,
    "ref_missing" -> ARRAY, "total_sec" -> NUMBER, "n_queries" -> NUMBER,
    "worst5_min_ratio" -> OBJECT, "n_outlier_reruns" -> NUMBER,
    "n_failed" -> NUMBER, "reps" -> NUMBER, "ref_loaded" -> BOOLEAN,
    "ref_queries" -> NUMBER, "sf" -> STRING)

  private val summarySchema = Seq("metric" -> STRING, "value" -> NUMBER,
    "unit" -> STRING, "summary" -> BOOLEAN, "n_queries" -> NUMBER,
    "worst5_min_ratio" -> OBJECT, "n_outlier_reruns" -> NUMBER,
    "n_failed" -> NUMBER, "reps" -> NUMBER, "ref_loaded" -> BOOLEAN,
    "ref_queries" -> NUMBER, "ref_missing_n" -> NUMBER,
    "record_bytes" -> NUMBER, "full_record" -> STRING, "sf" -> STRING)

  test("two queries, one rep: both lines keep the record's schema, a " +
      "query over its reference is re-run, one without is ref_missing") {
    val dir = Files.createTempDirectory("graft-bench")
    val ref = dir.resolve("ref.json")
    Files.writeString(ref, s"""{"$fast": 1e-6}""")
    val record = dir.resolve("bench.json")
    val (conf, cmd) = Bench.command(Map(
      "SPARK_GRAFT_BENCH_REPS" -> "1",
      "SPARK_GRAFT_BENCH_ONLY" -> s"$fast,$unref",
      "SPARK_GRAFT_BENCH_REF" -> ref.toString,
      "SPARK_GRAFT_SF_DIR" -> sf("sf0.001"),
      "SPARK_GRAFT_WARM_DIR" -> sf("sf0.001"),
      "SPARK_GRAFT_STORAGE_FRACTION" -> "0.5"), record)
    assert(conf == Map("spark.memory.storageFraction" -> "0.5"))
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(cmd(spark))
    val lines = out.toString("UTF-8").linesIterator
      .filter(_.startsWith("{")).toVector
    assert(lines.size == 2, lines)
    val mapper = new ObjectMapper
    val Seq(summary, full) = lines.map(mapper.readTree)

    def schema(n: com.fasterxml.jackson.databind.JsonNode)
        : Seq[(String, JsonNodeType)] =
      n.properties.asScala.toSeq.map(e => e.getKey -> e.getValue.getNodeType)
    assert(schema(full) == fullSchema)
    assert(schema(summary) == summarySchema)

    for (k <- Seq("queries", "queries_min", "telemetry"))
      assert(full.get(k).fieldNames.asScala.toSet == Set(fast, unref),
        s"$k: $full")
    Seq(fast, unref).foreach { q =>
      assert(full.get("queries").get(q).asDouble > 0, full)
      Seq("gc_ms", "spill_mb", "storage_mb_hwm").foreach(k =>
        assert(full.get("telemetry").get(q).get(k).isIntegralNumber, full))
    }
    assert(full.get("outliers").has(fast), full)
    assert(full.get("outlier_telemetry").has(fast), full)
    assert(full.get("ref_missing").elements.asScala.map(_.asText).toSeq ==
      Seq(unref), full)
    assert(full.get("ref_loaded").asBoolean && full.get("reps").asInt == 1)
    assert(full.get("n_failed").asInt == 0, full)
    assert(summary.get("record_bytes").asInt == lines(1).getBytes(UTF_8).length)
    assert(Files.readString(record) == lines(1) + "\n")
    assert(summary.get("full_record").asText == record.toString)
  }

  test("a missing or malformed reference record leaves the ref bound off") {
    val dir = Files.createTempDirectory("graft-bench")
    val bad = dir.resolve("bad.json")
    Files.writeString(bad, "{not json")
    Seq(bad, dir.resolve("missing.json")).foreach { ref =>
      val (_, cmd) = Bench.command(Map(
        "SPARK_GRAFT_BENCH_ONLY" -> "q00_no_such_query",
        "SPARK_GRAFT_BENCH_REF" -> ref.toString), dir.resolve("b.json"))
      val out = new java.io.ByteArrayOutputStream
      Console.withOut(out)(cmd(spark))
      val full = new ObjectMapper()
        .readTree(out.toString("UTF-8").linesIterator.toVector.last)
      assert(!full.get("ref_loaded").asBoolean, full)
      assert(full.get("ref_queries").asInt == 0, full)
      assert(full.get("n_queries").asInt == 0, full)
    }
  }
}
