package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming dedup: exact-duplicate suppression with watermark-bounded
  * state (MemoryStream-driven micro-batches) and the stream-static
  * SimHash near-dup gate against a corpus band index. */
class DocumentStreamsSpec extends SparkSpec {
  import DocumentStreamsSpec.Doc
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  test("dedupStream keeps the first arrival per exact fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = DocumentStreams.dedupStream(in.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(
        Doc(1, ts(10), "alpha beta gamma"),
        Doc(2, ts(11), "delta epsilon zeta"),
        Doc(3, ts(12), "alpha beta gamma")) // exact dup of 1
      q.processAllAvailable()
      in.addData(Doc(4, ts(13), "alpha beta gamma")) // still within state
      q.processAllAvailable()
      val out = spark.table("dedup_out").select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(out == Seq(1L, 2L))
    } finally q.stop()
  }

  test("nearDupFlags joins arriving docs against the corpus band index") {
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "entirely different content about spark catalyst planning"))
      .toDF("doc_id", "text")
    val index = DocumentStreams.bandIndex(corpus)
    // batch frame drives the same plan the stream-static join runs
    val arriving = Seq(
      (200L, "the quick brown fox jumps over the lazy dog again and again"),
      (201L, "totally unrelated fresh material nothing shared here at all"))
      .toDF("doc_id", "text")
    val flags = DocumentStreams.nearDupFlags(arriving, index)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flags.contains((200L, 100L)))
    assert(!flags.exists(_._1 == 201L))
  }

  test("lmScoreStream equals the batch scorer; OOV docs smooth to " +
      "ln(1/V)") {
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "spark shuffles sort merge join"),
      (2L, "spark shuffles hash join"),
      (3L, "catalyst rewrites the plan"))
      .toDF("doc_id", "text")
    val (bc, cc, v) = TextAnalysis.trainBigramLm(corpus)
    val arriving = Seq(
      Doc(10, ts(10), "spark shuffles sort merge"),
      Doc(11, ts(11), "catalyst rewrites the plan"),
      Doc(12, ts(12), "zz qq yy")) // fully OOV
    val in = MemoryStream[Doc]
    val q = DocumentStreams.lmScoreStream(in.toDF(), bc, cc, v,
        watermark = "1 second", windowLen = "1 minute")
      .writeStream.format("memory").queryName("lm_out")
      .outputMode("append").start()
    try {
      in.addData(arriving: _*)
      q.processAllAvailable()
      // advance the watermark far enough to close the window
      in.addData(Doc(99, ts(1000), "flush flush flush"))
      q.processAllAvailable()
      val got = spark.table("lm_out")
        .select("doc_id", "n_bigrams", "log_prob")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getDouble(2))).toMap
      val batch = TextAnalysis.scoreBigramLm(
        arriving.map(dd => (dd.doc_id, dd.text)).toDF("doc_id", "text"),
        bc, cc, v)
        .collect().map(r => r.getLong(0) ->
          (r.getAs[Long]("n_bigrams"), r.getAs[Double]("log_prob")))
        .toMap
      for (id <- Seq(10L, 11L, 12L)) {
        assert(got(id)._1 == batch(id)._1, s"doc $id n_bigrams")
        assert(math.abs(got(id)._2 - batch(id)._2) < 1e-9, s"doc $id")
      }
      // fully-OOV doc: every bigram scores ln(1/V)
      assert(math.abs(got(12L)._2 - 2 * math.log(1.0 / v)) < 1e-12)
    } finally q.stop()
  }

  /** The accumulating-index ingest: three micro-batches flow through
    * incrementalDedupStream; each batch's candidate pairs must equal
    * the batch-mode q167 calls on the same splits (batch 0 = plain
    * self-join; batch k = incrementalCandidates against the index of
    * batches < k), and the on-disk index afterwards must equal the
    * offline minHashIndex over the whole corpus. Cross-batch near-dups
    * planted in every batch prove the vs_corpus path fires. */
  test("incrementalDedupStream: stream candidates equal batch-mode " +
      "incremental calls; index accumulates to the offline build") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val b0 = Seq(1L -> (base + " one"), 2L -> (base + " two"),
      3L -> "совершенно other content nothing shared at all here")
    val b1 = Seq(11L -> (base + " eleven"), // near-dup of 1/2
      12L -> "fresh unrelated middle batch text with new tokens only")
    val b2 = Seq(21L -> (base + " twentyone"), // near-dup of 1/2/11
      22L -> ("fresh unrelated middle batch text with new tokens only "
        + "plus a tail")) // near-dup of 12
    val dir = java.nio.file.Files
      .createTempDirectory("graft-incr-stream").toString + "/idx"
    val got = scala.collection.mutable.Map
      .empty[Long, Set[(Long, Long, String, Double)]]
    val in = MemoryStream[(Long, String)]
    val q = DocumentStreams.incrementalDedupStream(
        in.toDF().toDF("doc_id", "text"), dir) {
      (cands, id) =>
        got(id) = cands.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2), r.getDouble(3))).toSet
    }.start()
    try {
      Seq(b0, b1, b2).foreach { b =>
        in.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    def df(bs: Seq[(Long, String)]) = bs.toDF("doc_id", "text")
    def asSet(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSet
    val ref0 = asSet(Dedup.minHashCandidates(df(b0), "doc_id", "text")
      .select($"id_a", $"id_b", lit("vs_batch").as("kind"),
        $"est_jaccard"))
    val ref1 = asSet(Dedup.incrementalCandidates(
      Dedup.minHashIndex(df(b0), "doc_id", "text"), df(b1),
      "doc_id", "text"))
    val ref2 = asSet(Dedup.incrementalCandidates(
      Dedup.minHashIndex(df(b0).unionAll(df(b1)), "doc_id", "text"),
      df(b2), "doc_id", "text"))
    assert(got(0L) == ref0, s"batch 0: ${got(0L)} vs $ref0")
    assert(got(1L) == ref1, s"batch 1: ${got(1L)} vs $ref1")
    assert(got(2L) == ref2, s"batch 2: ${got(2L)} vs $ref2")
    // the planted cross-batch dups actually exercised the probe
    assert(got(1L).exists(_._3 == "vs_corpus"))
    assert(got(2L).exists(p => p._3 == "vs_corpus" && p._2 == 22L))
    spark.catalog.clearCache()
    // accumulated index ≡ offline build over the union
    val all = df(b0).unionAll(df(b1)).unionAll(df(b2))
    val offline = Dedup.minHashIndex(all, "doc_id", "text")
      .select($"id", $"band_idx", $"band_key".cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    val stored = spark.read.parquet(dir)
      .select($"id", $"band_idx", $"band_key".cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    assert(stored == offline,
      s"index drifted: ${stored.size} stored vs ${offline.size} offline")
  }

  /** Replay idempotency (foreachBatch is at-least-once): drive the
    * batch body directly — batch 0, batch 1, batch 1 AGAIN with the
    * same batchId (a replay), then batch 2 — and assert the replay
    * changed nothing: same candidate set handed to the sink, same
    * on-disk index row set, and the later batch still probes the
    * replayed batch's rows exactly once (no duplicated vs_corpus
    * pairs, final index ≡ the offline build). */
  test("processIndexBatch: replaying a batchId leaves the index and " +
      "candidates unchanged; later batches probe replayed rows once") {
    import graft.operators.Dedup
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val b0 = Seq(1L -> (base + " one"), 2L -> (base + " two"))
    val b1 = Seq(11L -> (base + " eleven"),
      12L -> "fresh unrelated middle batch text with new tokens only")
    val b2 = Seq(21L -> (base + " twentyone"),
      22L -> ("fresh unrelated middle batch text with new tokens only "
        + "plus a tail"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-replay").toString + "/idx"
    def df(bs: Seq[(Long, String)]) = bs.toDF("doc_id", "text")
    def run(bs: Seq[(Long, String)], id: Long) = {
      var got: Set[(Long, Long, String, Double)] = null
      DocumentStreams.processIndexBatch(df(bs), id, dir) { (c, _) =>
        got = c.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2), r.getDouble(3))).toSet
      }
      got
    }
    def indexRows() = spark.read.parquet(dir)
      .select($"id", $"band_idx", $"band_key".cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSeq.sorted
    run(b0, 0L)
    val cands1 = run(b1, 1L)
    val index1 = indexRows()
    // the replay: same batchId, same data — at-least-once delivery
    val cands1Replay = run(b1, 1L)
    assert(cands1Replay == cands1,
      "replayed batch handed the sink different candidates")
    assert(indexRows() == index1,
      "replayed batch changed the on-disk index row set")
    // a LATER batch probes the replayed batch's rows exactly once
    val cands2 = run(b2, 2L)
    val ref2 = Dedup.incrementalCandidates(
      Dedup.minHashIndex(df(b0).unionAll(df(b1)), "doc_id", "text"),
      df(b2), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSet
    assert(cands2 == ref2, s"post-replay batch 2: $cands2 vs $ref2")
    assert(cands2.exists(p => p._3 == "vs_corpus" &&
        (p._1 == 11L || p._2 == 11L)),
      "replayed batch's rows missing from the later probe")
    val offline = Dedup.minHashIndex(
      df(b0).unionAll(df(b1)).unionAll(df(b2)), "doc_id", "text")
      .select($"id", $"band_idx", $"band_key".cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSeq.sorted
    assert(indexRows() == offline,
      "index after replay+batch2 drifted from the offline build")
  }

  /** Full restart-from-checkpoint: run the REAL streaming pipeline,
    * crash it mid-batch (the sink throws AFTER recording, so the
    * offset is logged but the commit is not), restart from the same
    * checkpointLocation, and assert Spark's at-least-once replay of
    * that batch flows through unchanged — then a post-restart batch
    * still accumulates to exactly the offline index. */
  test("incrementalDedupStream recovers from a checkpoint restart " +
      "without duplicating index rows or candidates") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val b0 = Seq(1L -> (base + " one"), 2L -> (base + " two"))
    val b1 = Seq(11L -> (base + " eleven"),
      12L -> "fresh unrelated middle batch text with new tokens only")
    val b2 = Seq(21L -> (base + " twentyone"))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-restart").toString
    val dir = tmp + "/idx"
    val ckpt = tmp + "/ckpt"
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[(Long, Long, String, Double)])]
    @volatile var crashed = false
    def sink(c: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      seen += id -> c.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getDouble(3))).toSet
      if (id == 1L && !crashed) {
        crashed = true
        throw new RuntimeException("injected crash after sink, " +
          "before commit — forces an at-least-once replay")
      }
    }
    val in = MemoryStream[(Long, String)]
    def start() = DocumentStreams.incrementalDedupStream(
        in.toDF().toDF("doc_id", "text"), dir)(sink)
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    in.addData(b0: _*)
    q1.processAllAvailable()
    in.addData(b1: _*)
    // batch 1 crashes in the sink: offset logged, commit missing
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    // restart from the same checkpoint: Spark replays batch 1 with
    // the SAME batchId and offset range, then takes new data
    val q2 = start()
    try {
      q2.processAllAvailable()
      in.addData(b2: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val byId = seen.groupBy(_._1)
    assert(byId(1L).size == 2, s"expected batch 1 replay, saw $byId")
    assert(byId(1L).map(_._2).distinct.size == 1,
      "replayed batch 1 handed the sink different candidates")
    assert(byId(0L).size == 1 && byId(2L).size == 1)
    // post-restart batch probes batches 0 AND (replayed) 1 once each
    def df(bs: Seq[(Long, String)]) = bs.toDF("doc_id", "text")
    val ref2 = Dedup.incrementalCandidates(
      Dedup.minHashIndex(df(b0).unionAll(df(b1)), "doc_id", "text"),
      df(b2), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSet
    assert(byId(2L).head._2 == ref2)
    val offline = Dedup.minHashIndex(
      df(b0).unionAll(df(b1)).unionAll(df(b2)), "doc_id", "text")
      .select($"id", $"band_idx", $"band_key".cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    val stored = spark.read.parquet(dir)
      .select($"id", $"band_idx", $"band_key".cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    assert(stored == offline,
      s"restart duplicated or lost index rows: ${stored.size} vs " +
        s"${offline.size}")
  }

  /** Restart recovery of the EXACT-dedup state store: a duplicate
    * arriving after a clean checkpointed restart must still be
    * suppressed — the fingerprint state survives the restart. */
  test("dedupStream state store survives a checkpointed restart") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-dedup-restart").toString
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[Doc]
    def start() = DocumentStreams.dedupStream(in.toDF())
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp + "/ckpt")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          out.synchronized {
            out ++= b.select("doc_id").collect().map(_.getLong(0))
          }
          ()
      }.start()
    val q1 = start()
    try {
      in.addData(
        Doc(1, ts(10), "alpha beta gamma"),
        Doc(2, ts(11), "delta epsilon zeta"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      in.addData(
        Doc(3, ts(12), "alpha beta gamma"), // dup of pre-restart doc 1
        Doc(4, ts(13), "eta theta iota"))   // genuinely new
      q2.processAllAvailable()
    } finally q2.stop()
    assert(out.sorted == Seq(1L, 2L, 4L),
      s"state store did not survive the restart: $out")
  }

  test("redactPii composes with readStream (row-local, stateless)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = graft.operators.TextAnalysis.redactPii(in.toDF())
      .select("doc_id", "n_emails", "n_ips", "redacted")
      .writeStream.format("memory").queryName("pii_out")
      .outputMode("append").start()
    try {
      in.addData(
        Doc(1, ts(10), "write to a@b.io from 10.0.0.7"),
        Doc(2, ts(11), "nothing sensitive"))
      q.processAllAvailable()
      val out = spark.table("pii_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Int]("n_emails"), r.getAs[Int]("n_ips"),
            r.getAs[String]("redacted")))).toMap
      assert(out(1L) == ((1, 1, "write to <EMAIL> from <IP>")))
      assert(out(2L) == ((0, 0, "nothing sensitive")))
    } finally q.stop()
  }
}

object DocumentStreamsSpec {
  /** The streamed row. Declared here, not as a private member class of
    * the spec: there, the encoder's generated code found no usable
    * `doc_id()` accessor and Spark fell back to interpreted evaluation. */
  final case class Doc(doc_id: Long, ingest_ts: java.sql.Timestamp,
      text: String)
}
