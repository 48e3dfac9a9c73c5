package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Perceptual image hashing for multimodal near-dup curation: aHash
  * (average hash) and dHash (gradient hash) over decoded grayscale
  * pixels, paired by the 4×16-bit Hamming band discipline SimHash uses
  * ([[Dedup.simHashCandidates]]). A multimodal corpus dedups on
  * PERCEPTUAL hashes, not byte hashes — re-encoded/resized copies keep
  * their pooled-luma structure while `contentHash` changes completely.
  *
  * INTEGER-EXACT kernel: all pooling and comparisons run on integer
  * pixel LEVELS. Float pixels in [0,1] (the [[Multimodal]] decoder
  * contract) quantize via [[quantize24]] — multiplication by 2^24 is an
  * exponent shift, so `floor(px · 2^24)` involves NO float rounding and
  * any engine replays it bit-for-bit. Cell comparisons are pure integer
  * sum compares (equal-area grids), so a hash is a deterministic pure
  * function of the pixel array at any parallelism.
  *
  * Scale shape: both hashes are row-local Column expressions (one pass
  * over the pixel array per hash — each pixel is visited by exactly one
  * pooled cell); the only shuffle in the near-dup path is the inverted
  * band index. No similarity joins on raw pixels, ever.
  *
  * Gated by the q155 oracle row (both hash kernels + banding replayed
  * relationally in DuckDB, candidates ≡ brute-force Hamming) and
  * PhashSpec (hand-computed bits, pigeonhole edge cases, and the
  * perceptual end-to-end through the real image decoder: JPEG
  * re-encode and nearest-neighbour resize survive, unrelated images
  * separate).
  */
object Phash {

  /** Float pixels [0,1] → 24-bit integer levels, exactly. */
  def quantize24(pixels: Column): Column =
    transform(pixels, p =>
      floor(p.cast("double") * lit(16777216.0)).cast("long"))

  /** 64-bit aHash over `levelsCol` (array<long>, row-major, w×h with
    * w and h divisible by 8): average-pool to an 8×8 grid, bit
    * k = cy·8+cx set when cell (cy,cx)'s sum exceeds the global
    * per-cell average — `64·cell_sum > total_sum`, exact because all
    * 64 cells have equal area. Levels ≤ 2^24 keep every product far
    * from BIGINT range (total ≤ n·2^24, ×64 ≤ 2^36+log2 n).
    *
    * Runs as the codegen kernel [[graft.functions.Expressions.aHash64]]
    * (one tight pooling loop in generated code); [[aHash64Hof]] is the
    * same math as pure SQL higher-order functions — the formulation the
    * q155 DuckDB oracle replays relationally — and PhashSpec asserts
    * kernel ≡ HOF bit-for-bit on random images. */
  def aHash64(levelsCol: String, w: Int, h: Int): Column =
    graft.functions.Expressions.aHash64(col(levelsCol), w, h)

  /** [[aHash64]] as pure SQL HOFs (the spec/oracle cross-check). */
  private[operators] def aHash64Hof(levelsCol: String, w: Int,
      h: Int): Column = {
    require(w % 8 == 0 && h % 8 == 0,
      s"aHash64 needs dimensions divisible by 8, got ${w}x$h")
    val bw = w / 8; val bh = h / 8
    val cells = s"""transform(sequence(0, 63), c ->
        aggregate(sequence(0, ${bh * bw - 1}), 0L, (s, j) ->
          s + element_at(pxl, CAST(
            ((c div 8) * $bh + j div $bw) * $w
              + (c % 8) * $bw + (j % $bw) + 1 AS INT))))"""
    // TWO single-element transforms as let-bindings. Outer: bind the
    // levels column to `pxl` — when the caller's levels are a COMPUTED
    // projection, CollapseProject inlines that expression into every
    // reference, and the pooling pass below reads it w·h/64 times per
    // cell (observed: a 256-px array re-derived 256× per row, turning
    // a 200-row query into seconds). Inner: the 64-cell pooling pass
    // runs ONCE per row, shared by the total and the bit fold.
    expr(s"""element_at(transform(array($levelsCol), pxl ->
        aggregate(sequence(0, 63),
          element_at(transform(array($cells),
            cs -> named_struct('cs', cs,
              'tot', aggregate(cs, 0L, (s, x) -> s + x), 'h', 0L)), 1),
          (a, c) -> named_struct('cs', a.cs, 'tot', a.tot,
            'h', CASE WHEN 64 * element_at(a.cs, c + 1) > a.tot
                      THEN a.h | shiftleft(1L, c) ELSE a.h END),
          a -> a.h)), 1)""")
  }

  /** 64-bit dHash over `levelsCol` (array<long>, row-major, w×h with
    * w divisible by 9 and h by 8): average-pool to a 9×8 grid, bit
    * k = r·8+c set when pooled cell (r,c) > cell (r,c+1) — a pure
    * integer sum compare (the 72 cells share one area). The horizontal
    * luma gradient survives brightness shifts that flip aHash bits.
    * Codegen kernel + HOF cross-check, as [[aHash64]]. */
  def dHash64(levelsCol: String, w: Int, h: Int): Column =
    graft.functions.Expressions.dHash64(col(levelsCol), w, h)

  /** [[dHash64]] as pure SQL HOFs (the spec/oracle cross-check). */
  private[operators] def dHash64Hof(levelsCol: String, w: Int,
      h: Int): Column = {
    require(w % 9 == 0 && h % 8 == 0,
      s"dHash64 needs width divisible by 9 and height by 8, got ${w}x$h")
    val bw = w / 9; val bh = h / 8
    val cells = s"""transform(sequence(0, 71), c ->
        aggregate(sequence(0, ${bh * bw - 1}), 0L, (s, j) ->
          s + element_at(pxl, CAST(
            ((c div 9) * $bh + j div $bw) * $w
              + (c % 9) * $bw + (j % $bw) + 1 AS INT))))"""
    // outer let-binding against CollapseProject inlining, as in aHash64
    expr(s"""element_at(transform(array($levelsCol), pxl ->
        aggregate(sequence(0, 63),
          named_struct('cs', $cells, 'h', 0L),
          (a, k) -> named_struct('cs', a.cs,
            'h', CASE WHEN element_at(a.cs,
                             CAST((k div 8) * 9 + (k % 8) + 1 AS INT))
                           > element_at(a.cs,
                             CAST((k div 8) * 9 + (k % 8) + 2 AS INT))
                      THEN a.h | shiftleft(1L, k) ELSE a.h END),
          a -> a.h)), 1)""")
  }

  /** Video near-dup candidates via frame-sampled perceptual hashes —
    * the video analogue of document MinHash: sample every `stride`-th
    * frame ([[Multimodal.sampleFrames]]: real demux for GIF/MJPEG-AVI/
    * MJPEG-MP4 containers, deterministic chunking otherwise), decode
    * each frame as an image, resize to `w`×`h`, aHash it, and pair
    * VIDEOS whose frames collide in the Hamming band index. Two videos
    * match when at least `minShared` of their sampled frame pairs are
    * within `maxDist` bits — re-encoded or re-containered copies keep
    * their per-frame pooled-luma structure, so they pair even though
    * every byte (and thus `contentHash`) differs.
    *
    * Scale shape: one flatMap (demux) + one mapPartitions (decode) +
    * row-local hash columns; the only shuffles are the frame-hash band
    * index and the final (vid_a, vid_b) count — never a video×video or
    * frame×frame join. Frame identity packs as media_id·10^6+frame_idx
    * (frame index < 10^6 enforced), so the band index stays one LONG
    * column. Output: (vid_a, vid_b, n_shared_frames), vid_a < vid_b.
    *
    * `maxBucket` DEFAULTS ON (4096): film/scan corpora are full of
    * black/blank frames that appear in EVERY video, collide into one
    * band bucket and would pair all videos with all videos through
    * their fade-outs — the 100 TB-safe behavior is opt-out. Pass None
    * only when exact pigeonhole completeness over a curated frame set
    * is genuinely wanted. Decode aside, the whole post-decode chain is
    * [[frameLevelNearDup]], whose integer math the q161 oracle replays
    * relationally. */
  def videoNearDup(spark: SparkSession,
      media: Dataset[Multimodal.MediaRow], stride: Int = 2,
      w: Int = 16, h: Int = 16, maxDist: Int = 3,
      minShared: Int = 2,
      maxBucket: Option[Int] = Some(4096)): DataFrame = {
    import spark.implicits._
    val frames = Multimodal.sampleFrames(spark, media, stride)
      .map { f =>
        require(f.frame_idx >= 0 && f.frame_idx < 1000000,
          s"frame index ${f.frame_idx} overflows the packed frame id")
        // media_id must pack losslessly: negative ids would straddle
        // Long `div` truncation boundaries (frames of one video split
        // across two vids), large ids overflow the multiply
        require(f.media_id >= 0 && f.media_id < 9223372036854L,
          s"media_id ${f.media_id} outside the packable range " +
            "[0, 9.22e12) for frame-id packing")
        // pack the frame id BEFORE decode so the image pipeline treats
        // each frame as a standalone image keyed by one long
        Multimodal.MediaRow(f.media_id * 1000000L + f.frame_idx,
          "image", f.content, w, h, 0, 0)
      }
    val imgs = Multimodal.resize(spark,
      Multimodal.decodeImages(spark, frames), w, h)
    // unpack back to (media_id, frame_idx, lv): the hash/band/count
    // chain below is the q161-gated production function, which owns
    // the packing arithmetic
    val lvls = imgs.toDF().select(
      expr("media_id div 1000000").as("media_id"),
      expr("CAST(media_id % 1000000 AS INT)").as("frame_idx"),
      quantize24(col("pixels")).as("lv"))
    frameLevelNearDup(lvls, w, h, maxDist, minShared, maxBucket)
  }

  /** The post-decode half of [[videoNearDup]] — pack frame identity as
    * media_id·10^6+frame_idx (range-guarded row-locally), [[aHash64]]
    * each frame's integer levels, band-pair via [[hammingCandidates]],
    * unpack back to video ids and keep pairs sharing ≥ `minShared`
    * frames within `maxDist` bits. Pure integer arithmetic end-to-end:
    * the q161 DuckDB oracle replays packing, pooling bits, band
    * chunks, the hot-bucket census and the shared-frame count
    * relationally on synthetic frame levels. Input: one row per frame
    * with `media_id` (long), `frame_idx` (int) and `lv`
    * (array<long> w×h row-major levels, the [[quantize24]] contract).
    * Output: (vid_a, vid_b, n_shared_frames), vid_a < vid_b. */
  def frameLevelNearDup(frames: DataFrame, w: Int, h: Int,
      maxDist: Int = 3, minShared: Int = 2,
      maxBucket: Option[Int] = Some(4096)): DataFrame = {
    // assert_true is NULL on success, so the `when` keeps codegen and
    // out-of-range identities fail loudly instead of packing wrong
    val guarded = when(
      assert_true(col("frame_idx").between(0, 999999) &&
          col("media_id").between(0L, 9223372036853L),
        concat(lit("frame id packing out of range: media_id="),
          col("media_id").cast("string"),
          lit(" frame_idx="), col("frame_idx").cast("string"))).isNull,
      col("media_id") * 1000000L + col("frame_idx"))
    val hashed = frames.select(guarded.as("fid"),
      aHash64("lv", w, h).as("ph"))
    // frame ids sort like (video, frame), so id_a < id_b ⇒ vid_a ≤ vid_b
    hammingCandidates(hashed, "fid", "ph", maxDist, maxBucket)
      .select(expr("id_a div 1000000").as("vid_a"),
        expr("id_b div 1000000").as("vid_b"))
      .filter(col("vid_a") =!= col("vid_b"))
      .groupBy("vid_a", "vid_b")
      .agg(count(lit(1)).as("n_shared_frames"))
      .filter(col("n_shared_frames") >= minShared)
  }

  /** Audio perceptual fingerprint: the 64-segment mean-|amplitude|
    * energy profile of the decoded signal, hashed with [[aHash64]] as
    * an 8×8 grid (1 sample-bin per cell). Bit k = segment k's energy
    * exceeds the signal mean — VOLUME-INVARIANT by construction (a
    * gain multiplies every segment and the mean alike, so the compare
    * is unchanged up to quantization), and re-quantized copies (8-bit
    * vs 16-bit PCM of the same signal) stay within a small Hamming
    * radius while `contentHash` separates every container byte-wise.
    *
    * Energies are integer-quantized per segment (Σ|sample|·2^24 div
    * count — BIGINT throughout), so the fingerprint is a deterministic
    * pure function of the decoded samples at any parallelism. Row-local
    * except the decode mapPartitions; pair with [[hammingCandidates]].
    * Output: (media_id, n_samples, fingerprint).
    *
    * The profile runs as the codegen kernel
    * [[graft.functions.Expressions.energyProfile64]] (one pass, no
    * per-segment array copies); [[energyProfile64Hof]] keeps the same
    * math as pure SQL HOFs — the formulation the q162 DuckDB oracle
    * replays relationally — and PhashSpec asserts kernel ≡ HOF
    * bit-for-bit on random signals. */
  def audioFingerprint(spark: SparkSession,
      media: Dataset[Multimodal.MediaRow]): DataFrame = {
    val decoded = Multimodal.decodeAudio(spark, media).toDF()
    val energies = decoded.select(col("media_id"),
      size(col("samples")).cast("long").as("n_samples"),
      graft.functions.Expressions.energyProfile64(col("samples")).as("lv"))
    energies.select(col("media_id"), col("n_samples"),
      aHash64("lv", 8, 8).as("fingerprint"))
  }

  /** [[graft.functions.Expressions.energyProfile64]] as pure SQL HOFs
    * over a samples column — the spec/oracle cross-check. Interpreted
    * and O(64·n) in `slice()` copies; never on the production path. */
  private[operators] def energyProfile64Hof(samplesCol: String): Column =
    expr(s"""element_at(transform(array($samplesCol), smp ->
        transform(sequence(0, 63), s ->
          CASE WHEN (CAST(size(smp) AS BIGINT) * (s + 1)) div 64
                    - (CAST(size(smp) AS BIGINT) * s) div 64 = 0 THEN 0L
          ELSE aggregate(
            slice(smp,
              CAST((CAST(size(smp) AS BIGINT) * s) div 64 + 1 AS INT),
              CAST((CAST(size(smp) AS BIGINT) * (s + 1)) div 64
                   - (CAST(size(smp) AS BIGINT) * s) div 64 AS INT)),
            0L, (acc, x) ->
              acc + CAST(abs(CAST(x AS DOUBLE)) * 16777216.0 AS BIGINT))
            div ((CAST(size(smp) AS BIGINT) * (s + 1)) div 64
                 - (CAST(size(smp) AS BIGINT) * s) div 64)
          END)), 1)""")

  /** Near-dup candidates among 64-bit perceptual hashes with Hamming
    * distance ≤ maxDist (≤ 3), via the same 4×16-bit band pigeonhole
    * as [[Dedup.simHashCandidates]]: any pair within distance 3 shares
    * an exact 16-bit chunk, so the inverted (band, chunk) index yields
    * EXACTLY the qualifying pairs — no all-pairs compare. Input must
    * carry one hash per id. Output: (id_a, id_b, hamming), id_a < id_b.
    *
    * `maxBucket` is the hot-bucket guard (the [[Dedup.jaccardPairs]]
    * dfCap idea on band buckets): a real image corpus is FULL of
    * near-constant frames — blank pages, black frames, solid
    * backgrounds — whose hashes collide into one (band, chunk) bucket
    * that [[Dedup.expandPairs]] would expand quadratically. Buckets
    * larger than the cap are dropped: pairs whose ONLY shared chunk is
    * that hot lose their candidacy (the standard production trade;
    * None = exact pigeonhole completeness, the default). Pipeline
    * order matters either way: run [[Multimodal.exactDupGroups]] first
    * so byte-identical payloads never reach the band index at all. */
  def hammingCandidates(df: DataFrame, idCol: String, hashCol: String,
      maxDist: Int = 3, maxBucket: Option[Int] = None): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist ($maxDist) must be <= 3: 4 bands of 16 bits only " +
        "guarantee a shared exact chunk within Hamming distance 3")
    val hashes = df.select(col(idCol).as("id"), col(hashCol).as("ph"))
    Dedup.bandCandidates64(hashes, "ph", Seq("ph"), maxBucket)
      .select(col("a.id").as("id_a"), col("a.ph").as("h_a"),
        col("b.id").as("id_b"), col("b.ph").as("h_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming",
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
