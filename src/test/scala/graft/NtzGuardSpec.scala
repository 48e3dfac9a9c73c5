package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Regression guard for the r6 environment drift: `events.parquet`
  * regenerated as TIMESTAMP(MICROS) with `isAdjustedToUTC=false` surfaces
  * as TIMESTAMP_NTZ under default inference and broke every
  * `unix_micros(ts)` call site. This spec plants an explicitly-NTZ events
  * fixture and proves the ingestion boundary ([[Q.eventTs]] / [[Q.t]])
  * normalizes it so event-time operators still analyze — if a future
  * drift reintroduces the breakage, this fails loudly instead of oracle
  * rows silently vanishing. */
class NtzGuardSpec extends SparkSpec {

  test("events ingestion is NTZ-proof: unix_micros analyzes on an NTZ fixture") {
    val dir = java.nio.file.Files.createTempDirectory("ntz").toString
    // Plant a fixture whose on-disk ts is µs-without-timezone
    // (isAdjustedToUTC=false), written the way the regenerated testdata
    // was — by a non-Spark writer. A Spark-written file would also store
    // its Spark schema in the footer, which overrides timestamp inference
    // and would make the config path below read NTZ as well.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType("message events { " +
      "required int64 event_id; required int64 ts (TIMESTAMP(MICROS,false)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Q.t(spark, sf("sf0.001"), "events").limit(100)
      .select(col("event_id"), unix_micros(col("ts"))).collect()
      .foreach { r =>
        writer.write(rows.newGroup()
          .append("event_id", r.getLong(0)).append("ts", r.getLong(1)))
      }
    finally writer.close()

    // Read it the way the drifted environment did: NTZ inference ON.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      assert(raw.schema("ts").dataType == TimestampNTZType,
        "fixture must actually surface as NTZ for this guard to bite")
      // unix_micros is the exact call that failed analysis in r6
      val norm = Q.eventTs(raw)
      assert(norm.schema("ts").dataType == TimestampType)
      assert(norm.select(unix_micros(col("ts"))).count() == 100)
      // the table-loading boundary itself must be NTZ-proof too
      assert(Q.t(spark, dir, "events").schema("ts").dataType == TimestampType)
    } finally
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

    // Instants must agree between the config path (inference off → LTZ)
    // and the cast path (NTZ → LTZ in the UTC session): same µs values.
    // Both legs bypass Q.t, whose session view would serve the plan
    // resolved above under inference ON to both — comparing the cast
    // path to itself. The raw types prove the legs really differ.
    def micros(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), unix_micros(col("ts")).as("us"))
        .collect().toSet
    val rawConfig = spark.read.parquet(s"$dir/events.parquet")
    assert(rawConfig.schema("ts").dataType == TimestampType)
    val viaConfig = micros(rawConfig)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try {
      val rawCast = spark.read.parquet(s"$dir/events.parquet")
      assert(rawCast.schema("ts").dataType == TimestampNTZType)
      val viaCast = micros(Q.eventTs(rawCast))
      assert(viaConfig.size == 100 && viaConfig == viaCast)
    } finally
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  }

  test("events ingestion normalizes ISO-8601 STRING timestamps too") {
    val dir = java.nio.file.Files.createTempDirectory("tstr").toString
    val base = Q.t(spark, sf("sf0.001"), "events").limit(100)
    base
      .withColumn("ts",
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
      .write.parquet(s"$dir/events.parquet")
    val norm = Q.t(spark, dir, "events")
    assert(norm.schema("ts").dataType == TimestampType)
    // same instants as the native-timestamp read (UTC session)
    val want = base.select(col("event_id"),
      unix_micros(col("ts")).as("us"))
    val got = norm.select(col("event_id"),
      unix_micros(col("ts")).as("us"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }
}
