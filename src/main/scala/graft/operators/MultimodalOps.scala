package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** §2.J — multimodal binary-column pipeline (query surface).
  *
  * The testdata carries no media blobs, so the blob here is the
  * document body as `binary`; the *plumbing* — binary column + typed
  * metadata struct + per-blob feature extraction — is exactly the
  * shape a real image/audio column takes. Decode is REAL for every
  * format the JVM can handle natively: RIFF/WAVE ([[graft.multimodal.Wav]],
  * byte-walked), BMP ([[graft.multimodal.Bmp]], byte-walked), PNG and
  * JPEG ([[graft.multimodal.Png]]/[[graft.multimodal.Jpeg]], the JDK's
  * built-in `javax.imageio` codecs). The [[graft.multimodal.Blob]]
  * stub boundary remains only for formats the JDK cannot decode
  * (H.264-class video).
  */
object MultimodalOps {

  /** (doc_id, text) payload frame for the codec walks. `wide = true`
    * routes it through the CONDITIONAL width barrier (r19): the bench
    * corpus is one parquet row group, so a per-blob byte walk
    * otherwise runs in ONE scan task; `widen` is a no-op whenever the
    * scan already has enough splits, preserving the family's "blob
    * bytes never shuffled" 100 TB contract on real layouts.
    *
    * r20 paired adjudication (INTERLEAVE_r20_widen_c{32,8}, both
    * widths): the barrier stays ONLY where the per-blob decode is
    * expensive enough to beat the payload exchange — the real-codec
    * walks (GIF LZW, AVI segment, PNG inflate, JPEG, motion-comp MC,
    * GOP recursion: 1.3–2.5x faster widened). The cheap single-pass
    * walks (RLE, WHT, Rice, WAV header, BMP rows, AVI demux) read
    * 0.55–0.91x WITHOUT the barrier at local[32] — for them the
    * exchange costs more than the serial decode, so they scan in
    * place at any width.
    */
  private def blobDocs(spark: SparkSession, dir: String, wide: Boolean): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    if (wide) widen(docs, col("doc_id")) else docs
  }

  /** Byte-level feature extraction over the blob column: size, content
    * signature, sampled byte values (a stand-in for frame sampling).
    */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        col("text").cast("binary").as("blob"),
        col("source"))
      .select(
        col("doc_id"),
        length(col("blob")).cast("long").as("n_bytes"),
        substring(md5(col("blob")), 1, 8).as("sig8"),
        ascii(substring(col("blob").cast("string"), 1, 1)).as("first_byte"),
        ascii(expr("substring(cast(blob as string), (length(blob) + 1) DIV 2, 1)")).as("mid_byte"),
        ascii(expr("substring(cast(blob as string), length(blob), 1)")).as("last_byte"),
        col("source"))

  private val FrameBytes = 64

  /** The DuckDB mirrors of the frame queries enumerate frames via
    * `range(0, 64)` — a blob longer than 64 × [[FrameBytes]] bytes
    * would silently lose tail frames in the ORACLE ONLY and surface
    * as an unexplained hash mismatch. Fail loudly at the source
    * instead (the adaptiveBitsSqlSafe discipline): a per-row
    * `assert_true` filter aborts the job naming the ceiling the
    * moment an over-long blob appears. Zero extra scans — the guard
    * rides the existing one.
    */
  private val OracleMaxFrames = 64
  private def guardFrameBound(df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.filter(assert_true(
      length(col(textCol)) <= OracleMaxFrames * FrameBytes,
      lit(s"blob exceeds ${OracleMaxFrames * FrameBytes} bytes: the DuckDB " +
        s"frame mirrors enumerate at most $OracleMaxFrames frames/blob " +
        "(range(0, 64)); widen the oracle range and this guard together"))
      .isNull)

  /** The non-empty blobs a GIF-family frame query decodes ([[blobDocs]],
    * `wide` as there), each at most [[GifOracleMaxFrames]] ×
    * `Gif.FramePx` bytes — the ceiling every DuckDB frame mirror of the
    * family (gif, avi, rle, mc, wht, rice, gop, demux) is sized for.
    * [[guardFrameBound]]'s discipline: a longer blob aborts the job
    * with a message naming the `mirror`, instead of losing tail frames
    * in the oracle only.
    */
  private def boundedBlobs(spark: SparkSession, dir: String, wide: Boolean,
      mirror: String): DataFrame = {
    val maxBytes = GifOracleMaxFrames * graft.multimodal.Gif.FramePx
    blobDocs(spark, dir, wide)
      .filter(length(col("text")) > 0)
      .filter(assert_true(length(col("text")) <= maxBytes,
        lit(s"blob exceeds $maxBytes bytes, the frame ceiling of the DuckDB $mirror " +
          "mirror; widen the oracle range and this guard together"))
        .isNull)
  }

  private val FrameStride = 3

  /** Frame sampling over the blob column (the video path): fixed-size
    * frames, every [[FrameStride]]-th decoded (stub byte-mean), one
    * row per sampled frame with its ordinal — runs through the real
    * mapPartitions batch boundary in graft.multimodal.Blob. The
    * corpus is ASCII, so the stub features are reproducible in the
    * oracle via per-character code points.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Blob.sampleFrames(
        spark,
        graft.multimodal.Blob.asMediaTable(
          guardFrameBound(Tables.documents(spark, dir)
            .select(col("doc_id"), col("text")), "text"), "doc_id", "text"),
        FrameBytes, FrameStride)
      .toDF()
      .select(col("id").as("doc_id"), col("frame_idx"), col("n_bytes"),
        round(col("byte_mean"), 4).as("byte_mean"))

  /** Per-source blob telemetry — the media-curation audit run BEFORE
    * any decode is paid for: volumes (count/total/max bytes) and the
    * byte-identical duplication rate via content signature (media
    * corpora are full of re-uploads). Cost model, honestly: ONE
    * streaming byte pass over the blob column (the md5 signature must
    * read every byte) with NO codec work and no shuffle of blob bytes
    * (only 32-char signatures ride the aggregation) — at 100 TB that
    * is a scan-bound pass, ~100-1000× cheaper than any decode stage,
    * and in a deployment where the ingest writer already stamps a
    * content hash the signature column replaces the md5 and the query
    * really does become metadata-only.
    */
  def blobStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("text").cast("binary").as("blob"))
      .select(col("source"),
        length(col("blob")).cast("long").as("n_bytes"), md5(col("blob")).as("sig"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_blobs"),
        sum(col("n_bytes")).as("total_bytes"),
        max(col("n_bytes")).as("max_bytes"),
        countDistinct(col("sig")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("sig"))).as("n_dup_blobs"))
      .orderBy("source")

  /** Cross-media duplicate-FRAME detection — the video-path dedup
    * audit (re-encoded uploads, spliced clips and black/intro frames
    * share byte-identical fixed-size frames even when whole blobs
    * differ): each blob is segmented into [[FrameBytes]]-aligned
    * frames, every frame is content-hashed, and a hash appearing in
    * ≥ 2 distinct blobs is reported with its duplication counts.
    * Fixed alignment is CORRECT here — video frames are fixed-size
    * units — while q_chunk_dedup's content-defined chunking remains
    * the right tool for byte streams with insertions.
    *
    * 100 TB shape: one scan, a generator expression fanning each blob
    * to length/FrameBytes rows carrying only (doc_id, idx, 32-char
    * hash) — blob bytes never ride the shuffle — then one hash-keyed
    * aggregation (map-side combined) whose output is bounded by the
    * number of DUPLICATED hashes, never the frame count.
    */
  def frameDedup(spark: SparkSession, dir: String): DataFrame =
    guardFrameBound(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")), "text")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, CAST(ceil(length(text) / $FrameBytes.0) AS INT) - 1, 1),
           |  i -> md5(CAST(substring(text, i * $FrameBytes + 1, $FrameBytes) AS BINARY)))"""
          .stripMargin)).as(Seq("frame_idx", "fh")))
      .groupBy("fh")
      .agg(
        count(lit(1)).as("n_frames"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        min(col("frame_idx").cast("long")).as("min_idx"))
      .filter(col("n_docs") >= 2)

  /** REAL audio decode (the de-stubbed half of the media path):
    * synthesize a PCM16 RIFF/WAVE blob per document, parse it back
    * through [[graft.multimodal.Wav]]'s chunk-walking `java.nio`
    * reader, emit header fields + signal stats. Build and decode both
    * genuinely run; the oracle recomputes the features from the same
    * text with plain arithmetic, so any header-offset/endianness bug
    * in the parser diverges the hash.
    */
  def wavFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Wav.features(spark,
        blobDocs(spark, dir, wide = false)
          .filter(length(col("text")) > 0))
      .toDF()
      .select(col("doc_id"), col("sample_rate"), col("n_channels"),
        col("bit_depth"), col("n_samples"),
        round(col("rms"), 4).as("rms"), col("peak"))

  /** §2.J q_bmp_features — the image half of the real (non-stub)
    * media path, the [[wavFeatures]] pattern applied to BMP: build a
    * real 24-bit bottom-up BMP from the document bytes, parse it back
    * through [[graft.multimodal.Bmp.parse]]'s header/row walker, emit
    * image-space features. The oracle recomputes every feature from
    * the SAME text with plain arithmetic, so a bottom-up, padding or
    * BGR-order bug in the parser diverges the hash (see Bmp's doc for
    * which column catches which bug).
    */
  def bmpFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Bmp.features(spark,
        blobDocs(spark, dir, wide = false)
          .filter(length(col("text")) > 0))
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("n_px"),
        round(col("mean_r"), 4).as("mean_r"),
        round(col("mean_g"), 4).as("mean_g"),
        round(col("mean_b"), 4).as("mean_b"),
        col("top_row_sum"), col("luma_sum"))

  /** §2.J q_png_features — REAL compressed-image decode via the JDK's
    * built-in ImageIO PNG codec (zlib inflate + scanline unfiltering),
    * the [[bmpFeatures]] pattern upgraded from hand-walked bytes to a
    * genuine codec: synthesize the SAME pixels as the BMP twin, encode
    * as real PNG, decode back, emit image-space features computed from
    * the DECODED pixels only. The oracle recomputes every feature from
    * the text; the feature set (first column, bottom row, max luma) is
    * chosen to catch transpose/row-flip/single-pixel bugs that channel
    * means alone would mask. See graft.multimodal.Png.
    */
  def pngFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Png.features(spark,
        blobDocs(spark, dir, wide = true)
          .filter(length(col("text")) > 0))
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("n_px"),
        col("col0_sum"), col("bottom_row_sum"), col("luma_max"), col("luma_sum"))

  /** §2.J q_jpeg_features — REAL lossy-image decode via the JDK's
    * built-in ImageIO JPEG codec. Lossy pixels are not arithmetic-
    * reproducible, so the registered surface is the honest split
    * documented in graft.multimodal.Jpeg: exact structure
    * (width/height/n_px) plus `decode_ok`, the fidelity verdict the
    * REAL decode computes (mean |decoded − source| < Jpeg.MaeBound) —
    * a garbage decode flips it and diverges the hash. JpegSpec pins
    * the quantitative half (MAE strictly positive somewhere, bounded
    * everywhere, FFD8 magic).
    */
  def jpegFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Jpeg.features(spark,
        blobDocs(spark, dir, wide = true)
          .filter(length(col("text")) > 0))
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("n_px"),
        col("decode_ok"))

  /** §2.J q_gif_frames — REAL multi-frame container decode via the
    * JDK's GIF sequence reader (graft.multimodal.Gif): the video-path
    * frame sampler upgraded from [[frameSample]]'s fixed-size byte
    * segmentation to a genuine container walk — the stream's own
    * frame count, every 3rd frame LZW-decoded through the explicit
    * 256-gray palette (lossless, no quantization caveat), features
    * from decoded pixels only.
    */
  private val GifOracleMaxFrames = 16

  /** MC scroll frames: ceil((1024−64)/16)+1 for the 1024-byte blob
    * ceiling the family shares — the DuckDB mirror's range bound. */
  private val McOracleMaxFrames = 61

  /** The shared recursive reconstruction CTE behind the q_gop_frames /
    * q_gop_seek oracles: a RECURSIVE CTE whose working row carries the
    * decoder's 64-pixel canvas as list state, replaying per frame the
    * full closed loop — source synthesis (scroll + ticker), two-
    * candidate motion search on SOURCE frames, prediction from the
    * RECONSTRUCTED previous canvas, residual WHT → biased quantize →
    * dequantize → inverse → clamp, and the exact Rice+mv bit count.
    * Base case is a virtual frame −1 with a zero canvas, so frame 0
    * (a keyframe) flows through the same transition expression.
    */
  private lazy val gopRecursiveCte: String = {
    val fp = graft.multimodal.Gif.FramePx // 64
    val w = graft.multimodal.Gif.FrameW // 16 (= the scroll step)
    val om = graft.multimodal.Mc.OverlayMod
    val ki = graft.multimodal.Gop.KeyInterval
    val q = graft.multimodal.Gop.Quant
    val rk = graft.multimodal.Gop.RiceK
    val ctr = graft.multimodal.Xf.riceCenter(q) // Rice centering at the registered Quant
    // synth rule: frame g's pixel p under scroll + ticker (the
    // q_mc_frames pix block, with the ≥0 guard for the virtual g−1=−1)
    def pix(pv: String, gv: String): String =
      s"(CASE WHEN ($pv) % $om = 0 THEN 128 + ((bsum + ($gv)) % 64) " +
        s"ELSE (CASE WHEN ($gv) * $w + ($pv) >= 0 AND ($gv) * $w + ($pv) < len " +
        s"THEN ord(substring(text, ($gv) * $w + ($pv) + 1, 1)) ELSE 0 END) END)"
    // 4-point WHT row selected by `v` % 4 (H is symmetric, so the same
    // CASE shape serves the forward transform and the inverse)
    def whtCase(v: String, a: String, b: String, c: String, d: String): String =
      s"(CASE ($v) % 4 WHEN 0 THEN ($a) + ($b) + ($c) + ($d) " +
        s"WHEN 1 THEN ($a) - ($b) + ($c) - ($d) " +
        s"WHEN 2 THEN ($a) + ($b) - ($c) - ($d) " +
        s"ELSE ($a) - ($b) - ($c) + ($d) END)"
    def rr(i: Int): String = s"resid[4 * (p // 4) + $i + 1]"
    def dq(i: Int): String = s"(tq[4 * (p // 4) + $i + 1] * $q - 2048)"
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, text, length(text) len,
       |         CASE WHEN length(text) <= $fp THEN 1
       |              ELSE (length(text) - $fp + ${w - 1}) // $w + 1 END nf,
       |         list_sum(list_transform(range(0, length(text)),
       |           i -> ord(substring(text, i + 1, 1)))) bsum
       |  FROM documents WHERE length(text) > 0
       |), rec AS (
       |  SELECT doc_id, -1 AS f, nf, len, text, bsum,
       |         list_transform(range(0, $fp), p -> 0) cv,
       |         0 AS px_sum, 0 AS n_mv, 0 AS n_bits, 0 AS sad
       |  FROM d
       |  UNION ALL
       |  SELECT doc_id, g AS f, nf, len, text, bsum, newcv AS cv,
       |         list_sum(newcv) AS px_sum,
       |         CASE WHEN g % $ki = 0 THEN 0 ELSE list_sum(dy) END AS n_mv,
       |         CASE WHEN g % $ki = 0 THEN 0 ELSE 12 END
       |           + list_sum(list_transform(tq, t ->
       |               (CASE WHEN t >= $ctr THEN 2 * (t - $ctr)
       |                     ELSE -2 * (t - $ctr) - 1 END) // ${1 << rk} + ${1 + rk}))
       |           AS n_bits,
       |         list_sum(list_transform(range(0, $fp),
       |           p -> abs(newcv[p + 1] - src[p + 1]))) AS sad
       |  FROM (
       |    SELECT *,
       |           list_transform(range(0, $fp), p -> greatest(least(
       |             pred[p + 1]
       |               + (${whtCase("p", dq(0), dq(1), dq(2), dq(3))} + 16386) // 4 - 4096,
       |             255), 0)) newcv
       |    FROM (
       |      SELECT *,
       |             list_transform(range(0, $fp),
       |               p -> ((${whtCase("p", rr(0), rr(1), rr(2), rr(3))}) + ${2048 + q / 2}) // $q) tq
       |      FROM (
       |        SELECT *,
       |               list_transform(range(0, $fp), p -> src[p + 1] - pred[p + 1]) resid
       |        FROM (
       |          SELECT *,
       |                 list_transform(range(0, $fp), p ->
       |                   CASE WHEN g % $ki = 0 OR p >= ${fp - w} THEN 0
       |                        ELSE cv[p + 16 * dy[p // 4 + 1] + 1] END) pred
       |          FROM (
       |            SELECT *,
       |                   list_transform(range(0, 16), b ->
       |                     CASE WHEN g % $ki = 0 OR b >= 12 THEN 0
       |                          WHEN list_sum(list_transform(range(0, 4), j ->
       |                                 CASE WHEN src[4 * b + j + 1] <> srcp[4 * b + 16 + j + 1]
       |                                      THEN 1 ELSE 0 END))
       |                             < list_sum(list_transform(range(0, 4), j ->
       |                                 CASE WHEN src[4 * b + j + 1] <> srcp[4 * b + j + 1]
       |                                      THEN 1 ELSE 0 END))
       |                          THEN 1 ELSE 0 END) dy
       |            FROM (
       |              SELECT doc_id, f + 1 AS g, nf, len, text, bsum, cv,
       |                     list_transform(range(0, $fp), p -> ${pix("p", "f + 1")}) src,
       |                     list_transform(range(0, $fp), p -> ${pix("p", "f")}) srcp
       |              FROM rec WHERE f + 1 < nf
       |            ) l1
       |          ) l2
       |        ) l3
       |      ) l4
       |    ) l5
       |  ) l6
       |)
       |""".stripMargin
  }


  def gifFrames(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Gif.features(spark, boundedBlobs(spark, dir, wide = true, mirror = "gif"))
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_frames"),
        col("px_sum"), col("px_max"))
      .orderBy("doc_id", "frame_idx")

  /** §2.J q_avi_frames — REAL MJPEG-in-AVI video decode
    * (graft.multimodal.Avi): the RIFF chunk walk of the WAV path
    * composed with the JPEG codec of the image path — a genuine AVI
    * container (hdrl/avih + strl, a JUNK chunk every walk must skip,
    * movi's per-frame `00dc` JPEG chunks, idx1) is built per document
    * and walked back; every 3rd frame is genuinely JPEG-decoded.
    * JPEG is lossy, so the registered surface is the q_jpeg_features
    * honesty split per SAMPLED frame: exact container structure
    * (frame ordinal, cross-checked frame count, decoded geometry)
    * plus `decode_ok`, the real decode's fidelity verdict — a chunk
    * walk, frame order, or codec bug flips it and diverges the hash.
    * AviSpec pins the quantitative half (per-frame MAE positive
    * somewhere / bounded everywhere at both gate SFs, frame order by
    * nearest-own-segment, corrupted-frame loud failure).
    */
  def aviFrames(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Avi.features(spark, boundedBlobs(spark, dir, wide = true, mirror = "avi"))
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_frames"),
        col("width"), col("height"), col("decode_ok"))
      .orderBy("doc_id", "frame_idx")

  /** §2.J q_rle_frames — REAL INTER-FRAME video decode
    * (graft.multimodal.Rle): Microsoft BI_RLE8 in AVI — keyframes
    * every 8 frames, DELTA frames between them whose skip opcodes
    * (delta moves, end-of-lines) inherit pixels from the PREVIOUS
    * frame, so the decoder carries one persistent canvas across the
    * stream (the temporal state MJPEG doesn't have). RLE8 is
    * lossless, so decoded pixels round-trip bit-exactly (px_sum /
    * px_max from DECODED pixels, the GIF stance), row0_sum is the
    * image-space top row (catches the bottom-up-storage flip bug the
    * orientation-blind sums would mask), and n_px_written — the
    * decoder's actual opcode-written count — equals 64 on keyframes
    * and the Hamming distance between consecutive frames on delta
    * frames, which the oracle recomputes in SQL: the inter-frame
    * coding itself is inside the hash gate.
    */
  def rleFrames(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Rle.features(spark, boundedBlobs(spark, dir, wide = false, mirror = "rle"))
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_frames"),
        col("px_sum"), col("px_max"), col("row0_sum"), col("n_px_written"))
      .orderBy("doc_id", "frame_idx")

  /** §2.J q_rle_seek — KEYFRAME-SEEK decode through the idx1 index
    * (graft.multimodal.Rle.decodeSeek): each document's LAST frame
    * decoded from the nearest flagged keyframe forward, never
    * touching the frames before it — the reason video keyframes
    * exist (decode cost per target bounded by the 8-frame cadence,
    * not by stream position; at corpus scale, sampling the tail of a
    * long stream must not cost the whole stream). `frames_decoded`
    * is the decoder's ACTUAL count — exactly (n−1) mod 8 + 1 for the
    * last frame, recomputed by the oracle, so a decoder that
    * secretly walks from frame 0 diverges the hash; pixel features
    * from the seek-decoded canvas catch a mis-seeked start. RleSpec
    * proves the skip is real by corrupting every pre-keyframe frame:
    * sequential decode fails loudly, seek decode still succeeds.
    */
  def rleSeek(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Rle.seekLast(spark, boundedBlobs(spark, dir, wide = false, mirror = "rle"))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("target_idx"),
        col("frames_decoded"), col("px_sum"), col("px_max"), col("row0_sum"))
      .orderBy("doc_id")

  /** §2.J q_mc_frames — MOTION-COMPENSATED video decode
    * (graft.multimodal.Mc): a block-motion P-frame codec (per-block
    * motion vector + sparse raw residual — the MPEG-1 P-frame idea
    * minus the DCT) through the SHARED AVI container path. The synth
    * is a credits-roll (the canvas scrolls up one row per frame) with
    * a non-scrolling ticker overlay, so P-frame blocks genuinely
    * REUSE pixels from a different location of the previous frame
    * (the mechanism BI_RLE8's skip-in-place cannot express) and
    * carry residuals exactly where the overlay occludes the motion.
    * The motion itself is hash-gated: per sampled frame the DECODER'S
    * n_mv_nonzero (blocks coded with a real displacement — the
    * two-candidate search's content-dependent choice), n_px_resid,
    * and resid_abs_sum (Σ|residual − the motion-compensated
    * prediction it overwrote|, measured against the decoder's own
    * canvas) plus the canvas px_sum, all four recomputed by the
    * oracle from the scroll + overlay rule — a decoder that ignores
    * vectors or a poisoned reference frame diverges. McSpec pins
    * temporal dependency (poison corrupts successors until the next
    * keyframe), idx1 seek parity, decoder generality on hand-crafted
    * exotic vectors, and encoder partiality (P-frames carry only the
    * uncovered row as literals).
    */
  def mcFrames(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Mc.features(spark, boundedBlobs(spark, dir, wide = true, mirror = "mc"))
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_frames"), col("px_sum"),
        col("n_mv_nonzero"), col("n_px_resid"), col("resid_abs_sum"))
      .orderBy("doc_id", "frame_idx")

  /** §2.J q_mc_seek — KEYFRAME-SEEK decode on the MOTION-COMPENSATED
    * codec (graft.multimodal.Mc.decodeSeek, the q_rle_seek contract):
    * each document's LAST frame decoded from the nearest
    * AVIIF_KEYFRAME-flagged idx1 entry forward — the seek bound
    * matters MORE under motion compensation than under RLE (every
    * P-frame needs a correct reference canvas, so without the index
    * the tail of a long stream costs the whole stream of vector
    * applications). `frames_decoded` = (n−1) mod 8 + 1 exactly,
    * oracle-recomputed; the seek-decoded canvas sum (under the
    * scroll + ticker rule) catches a mis-seeked start — a wrong
    * reference frame feeds wrong pixels through every copied block.
    */
  def mcSeek(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Mc.seekLast(spark, boundedBlobs(spark, dir, wide = true, mirror = "mc"))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("target_idx"),
        col("frames_decoded"), col("px_sum"))
      .orderBy("doc_id")

  /** §2.J q_wht_frames — TRANSFORM-CODED frames (graft.multimodal.Xf):
    * the declared media-stub boundary crossed — a real transform +
    * quantization codec (the JPEG/MPEG I-frame idea with the DCT's
    * integer sibling, the 4-point Walsh–Hadamard transform whose
    * forward/inverse are pure integer adds — the same reason H.264
    * uses an integer transform: bit-exact agreement everywhere,
    * including the DuckDB oracle). Per 4×1 block: c = H·x, biased
    * non-negative rounded quantization (DIV-portable), int16
    * coefficients through the SHARED AVI path (fourcc GWT1, all
    * frames intra/key). The RATE/DISTORTION trade-off itself is
    * hash-gated: per sampled frame the decoder's n_nz_ac (nonzero
    * quantized AC coefficients — what an entropy coder would spend
    * bits on) and sad (Σ|decoded − source| against the synth rule),
    * plus the reconstructed px_sum/px_max, all recomputed by the
    * oracle replaying transform → quantize → inverse → clamp in
    * closed-form SQL. XfSpec pins exact losslessness at Q=1 (the
    * transform is perfectly invertible), the Q=8 per-pixel error
    * bound, energy compaction (flat blocks = zero ACs), and loud
    * malformed-payload failure.
    */
  def whtFrames(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Xf.features(spark, boundedBlobs(spark, dir, wide = false, mirror = "wht"))
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_frames"), col("px_sum"),
        col("px_max"), col("n_nz_ac"), col("sad"))
      .orderBy("doc_id", "frame_idx")

  /** §2.J q_rice_frames — ENTROPY-CODED frames (graft.multimodal.Xf's
    * Rice/Golomb arm, the public FLAC/JPEG-LS family): the quantized
    * WHT coefficients centered, zigzag-mapped and coded as
    * unary(v >> k) + terminator + k raw bits (fixed k = 3) — a REAL
    * bit-level entropy decoder walks the stream back. The COMPRESSED
    * SIZE is inside the hash gate: Rice code lengths are closed-form
    * ((v >> k) + 1 + k), so the oracle recomputes the decoder's
    * actual consumed bit count per frame in SQL — one mis-parsed
    * unary run and every subsequent coefficient lands on the wrong
    * bit, diverging pixels AND the bit count. Reconstruction and
    * distortion are the q_wht_frames gate (same transform + quant).
    */
  def riceFrames(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Xf.riceFeatures(spark, boundedBlobs(spark, dir, wide = false, mirror = "rice"))
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_frames"), col("px_sum"),
        col("n_bits"), col("sad"))
      .orderBy("doc_id", "frame_idx")

  /** §2.J q_gop_frames — the CLOSED-LOOP codec assembly
    * (graft.multimodal.Gop): motion-compensated prediction (Mc's
    * two-candidate search) + WHT-transformed quantized residuals (Xf)
    * + Rice-coded coefficients and motion bits (Xf's entropy arm),
    * composed into one GOP codec (fourcc GGP1) whose encoder predicts
    * from its own DECODED reconstruction — the drift-free property
    * that separates a real hybrid video codec from stacked parts.
    * The loop itself is hash-gated: per sampled frame the decoder's
    * px_sum (reconstructed canvas), n_mv_nonzero (search choices),
    * n_bits (actual consumed Rice+mv bits — rate) and sad (distortion
    * vs the synth rule) are recomputed by a RECURSIVE-CTE oracle that
    * replays the reconstruction frame by frame with the 64-pixel
    * canvas as list state. GopSpec pins encoder-reference ≡
    * decoder-canvas bit-for-bit over a long GOP, the open-loop
    * counterexample (source-predicting encoder drifts until keyframe
    * re-sync), q=1 end-to-end losslessness, seek parity, and loud
    * malformed-stream failure.
    */
  def gopFrames(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Gop.features(spark, boundedBlobs(spark, dir, wide = true, mirror = "gop"))
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_frames"), col("px_sum"),
        col("n_mv_nonzero"), col("n_bits"), col("sad"))
      .orderBy("doc_id", "frame_idx")

  /** §2.J q_gop_seek — KEYFRAME-SEEK decode on the closed-loop GOP
    * codec (graft.multimodal.Gop.decodeSeek, the q_mc_seek contract):
    * each document's LAST frame decoded from the nearest
    * AVIIF_KEYFRAME-flagged idx1 entry forward. frames_decoded =
    * (n−1) mod 8 + 1 exactly; the canvas sum equals the FULL decode's
    * last frame (the closed-loop re-sync property: a keyframe fully
    * re-synchronizes the loop, so seeking loses nothing) — both
    * recomputed by the same recursive oracle.
    */
  def gopSeek(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Gop.seekLast(spark, boundedBlobs(spark, dir, wide = true, mirror = "gop"))
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("target_idx"),
        col("frames_decoded"), col("px_sum"))
      .orderBy("doc_id")

  /** §2.J q_avi_demux — MULTI-STREAM A/V demux
    * (graft.multimodal.Demux): a genuine two-stream AVI (avih
    * dwStreams = 2, an 'auds' strl with WAVEFORMATEX strf, movi
    * interleaved by time — each 00dc video chunk followed by its
    * frame's 01wb PCM block, idx1 covering both) built and walked
    * back per document; video decodes through the RLE8 inter-frame
    * codec, audio as PCM16. Both codecs are lossless, so every
    * column is hash-exact — and because audio block f carries frame
    * f's bytes, the A/V ALIGNMENT is inside the hash gate: a demuxer
    * that routes by position instead of stream id diverges.
    */
  def aviDemux(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Demux.features(spark, boundedBlobs(spark, dir, wide = false, mirror = "demux"))
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_frames"), col("px_sum"),
        col("audio_n"), col("audio_sum"), col("audio_peak"))
      .orderBy("doc_id", "frame_idx")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_avi_frames" -> (aviFrames _),
    "q_avi_demux" -> (aviDemux _),
    "q_rle_frames" -> (rleFrames _),
    "q_rle_seek" -> (rleSeek _),
    "q_mc_frames" -> (mcFrames _),
    "q_mc_seek" -> (mcSeek _),
    "q_wht_frames" -> (whtFrames _),
    "q_rice_frames" -> (riceFrames _),
    "q_gop_frames" -> (gopFrames _),
    "q_gop_seek" -> (gopSeek _),
    "q_gif_frames" -> (gifFrames _),
    "q_multimodal_features" -> (multimodalFeatures _),
    "q_bmp_features" -> (bmpFeatures _),
    "q_png_features" -> (pngFeatures _),
    "q_jpeg_features" -> (jpegFeatures _),
    "q_blob_stats" -> (blobStats _),
    "q_frame_sample" -> (frameSample _),
    "q_frame_dedup" -> (frameDedup _),
    "q_wav_features" -> (wavFeatures _))

  val oracle: Map[String, String] = Map(
    // container structure from the SAME text the Spark side encodes
    // into a real MJPEG AVI: n_frames = ceil(len/64), every 3rd frame
    // sampled, decoded geometry 16×4; decode_ok is TRUE for every row
    // — computed Spark-side from the REAL per-frame JPEG decode, so a
    // broken walk/decode diverges (the q_jpeg_features split,
    // per frame)
    "q_avi_frames" -> {
      val fp = graft.multimodal.Gif.FramePx
      s"""WITH d AS (
         |  SELECT doc_id, (length(text) + ${fp - 1}) // $fp AS nf
         |  FROM documents WHERE length(text) > 0
         |)
         |SELECT doc_id, CAST(t.i AS BIGINT) frame_idx, CAST(nf AS BIGINT) n_frames,
         |       CAST(${graft.multimodal.Gif.FrameW} AS BIGINT) width,
         |       CAST(${graft.multimodal.Gif.FrameH} AS BIGINT) height,
         |       TRUE AS decode_ok
         |FROM d, range(0, $GifOracleMaxFrames) t(i)
         |WHERE t.i < nf AND t.i % ${graft.multimodal.Gif.SampleStride} = 0
         |ORDER BY doc_id, frame_idx""".stripMargin
    },
    // ground-truth features from the SAME text the Spark side encodes
    // into a BI_RLE8 AVI (lossless ⇒ bit-exact, the GIF stance):
    // px_sum/px_max over frame f's pixels, row0_sum over its first 16
    // (the image-space top row — a bottom-up flip bug diverges it),
    // and n_px_written = 64 on keyframes (f % 8 = 0) else the Hamming
    // distance between frame f and f−1 under the byte rule — the
    // encoder emits exactly the changed pixels and the decoder counts
    // its actual opcode writes, so delta coding itself is hash-gated
    "q_rle_frames" -> {
      val fp = graft.multimodal.Gif.FramePx
      val w = graft.multimodal.Gif.FrameW
      val ki = graft.multimodal.Rle.KeyInterval
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) len,
         |         (length(text) + ${fp - 1}) // $fp AS nf
         |  FROM documents WHERE length(text) > 0
         |), fr AS (
         |  SELECT doc_id, len, nf, text, t.i f
         |  FROM d, range(0, $GifOracleMaxFrames) t(i)
         |  WHERE t.i < nf AND t.i % ${graft.multimodal.Gif.SampleStride} = 0
         |), px AS (
         |  SELECT doc_id, nf, f, len, text,
         |         list_transform(range(0, $fp),
         |           p -> CASE WHEN f * $fp + p < len
         |                     THEN ord(substring(text, f * $fp + p + 1, 1))
         |                     ELSE 0 END) vals,
         |         CASE WHEN f % $ki = 0 THEN $fp
         |              ELSE list_sum(list_transform(range(0, $fp),
         |                p -> CASE WHEN
         |                  (CASE WHEN f * $fp + p < len
         |                        THEN ord(substring(text, f * $fp + p + 1, 1)) ELSE 0 END)
         |                  <> (CASE WHEN (f - 1) * $fp + p < len
         |                        THEN ord(substring(text, (f - 1) * $fp + p + 1, 1)) ELSE 0 END)
         |                  THEN 1 ELSE 0 END)) END written
         |  FROM fr
         |)
         |SELECT doc_id, CAST(f AS BIGINT) frame_idx, CAST(nf AS BIGINT) n_frames,
         |       CAST(list_sum(vals) AS BIGINT) px_sum,
         |       CAST(list_max(vals) AS BIGINT) px_max,
         |       CAST(list_sum(vals[1:$w]) AS BIGINT) row0_sum,
         |       CAST(written AS BIGINT) n_px_written
         |FROM px ORDER BY doc_id, frame_idx""".stripMargin
    },
    // the MOTION recomputed end to end: the scroll + ticker rule gives
    // every pixel of frames f and f−1 in closed form, so the oracle
    // replays the encoder's two-candidate search per block (mismatch
    // counts at the zero vector vs the scroll predictor, ties to
    // zero), sums the chosen residual counts and |cur − prediction|
    // values, and the canvas pixel sum — a decoder that ignores
    // vectors, drops residuals, or decodes intra-only diverges
    "q_mc_frames" -> {
      val fp = graft.multimodal.Gif.FramePx // 64
      val w = graft.multimodal.Gif.FrameW // 16 (= the scroll step)
      val om = graft.multimodal.Mc.OverlayMod
      val ki = graft.multimodal.Mc.KeyInterval
      val st = graft.multimodal.Gif.SampleStride
      def pix(q: String, g: String): String =
        s"(CASE WHEN ($q) % $om = 0 THEN 128 + ((bsum + ($g)) % 64) " +
          s"ELSE (CASE WHEN ($g) * $w + ($q) < len " +
          s"THEN ord(substring(text, ($g) * $w + ($q) + 1, 1)) ELSE 0 END) END)"
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) len,
         |         CASE WHEN length(text) <= $fp THEN 1
         |              ELSE (length(text) - $fp + ${w - 1}) // $w + 1 END nf,
         |         list_sum(list_transform(range(0, length(text)),
         |           i -> ord(substring(text, i + 1, 1)))) bsum
         |  FROM documents WHERE length(text) > 0
         |), fr AS (
         |  SELECT doc_id, text, len, nf, bsum, t.i f
         |  FROM d, range(0, $McOracleMaxFrames) t(i)
         |  WHERE t.i < nf AND t.i % $st = 0
         |), px AS (
         |  SELECT doc_id, nf, f, t2.p p, t2.p // 4 b,
         |         ${pix("t2.p", "f")} cur,
         |         CASE WHEN f = 0 THEN 0 ELSE ${pix("t2.p", "f - 1")} END p0,
         |         CASE WHEN f = 0 OR t2.p >= ${fp - w} THEN 0
         |              ELSE ${pix(s"t2.p + $w", "f - 1")} END ps
         |  FROM fr, range(0, $fp) t2(p)
         |), blk AS (
         |  SELECT doc_id, nf, f, b, sum(cur) s_cur,
         |         sum(CASE WHEN cur <> p0 THEN 1 ELSE 0 END) c0,
         |         sum(CASE WHEN cur <> ps THEN 1 ELSE 0 END) cs,
         |         sum(abs(cur - p0)) s0,
         |         sum(abs(cur - ps)) ss
         |  FROM px GROUP BY doc_id, nf, f, b
         |)
         |SELECT doc_id, CAST(f AS BIGINT) frame_idx, CAST(nf AS BIGINT) n_frames,
         |       CAST(sum(s_cur) AS BIGINT) px_sum,
         |       CAST(CASE WHEN f % $ki = 0 THEN 0 ELSE
         |         sum(CASE WHEN b < 12 AND cs < c0 THEN 1 ELSE 0 END) END AS BIGINT)
         |         n_mv_nonzero,
         |       CAST(CASE WHEN f % $ki = 0 THEN 0 ELSE
         |         sum(CASE WHEN b < 12 THEN least(cs, c0) ELSE 0 END) END AS BIGINT)
         |         n_px_resid,
         |       CAST(CASE WHEN f % $ki = 0 THEN 0 ELSE
         |         sum(CASE WHEN b < 12 THEN
         |           CASE WHEN cs < c0 THEN ss ELSE s0 END ELSE 0 END) END AS BIGINT)
         |         resid_abs_sum
         |FROM blk GROUP BY doc_id, f, nf
         |ORDER BY doc_id, frame_idx""".stripMargin
    },
    // the RATE/DISTORTION of the transform codec recomputed end to
    // end: the oracle replays transform → quantize → inverse → clamp
    // in closed-form integer SQL (every division biased non-negative,
    // so floor and truncation agree across engines) and re-derives
    // n_nz_ac, sad, and the reconstructed pixel features
    "q_wht_frames" -> {
      val fp = graft.multimodal.Gif.FramePx
      val st = graft.multimodal.Gif.SampleStride
      val q = graft.multimodal.Xf.Quant
      def cq(c: String): String = s"((($c) + ${2048 + q / 2}) // $q) * $q - 2048"
      def xr(s: String): String = s"greatest(least((($s) + 16386) // 4 - 4096, 255), 0)"
      val (r0, r1, r2, r3) = (xr("cq0 + cq1 + cq2 + cq3"), xr("cq0 - cq1 + cq2 - cq3"),
        xr("cq0 + cq1 - cq2 - cq3"), xr("cq0 - cq1 - cq2 + cq3"))
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) len,
         |         (length(text) + ${fp - 1}) // $fp AS nf
         |  FROM documents WHERE length(text) > 0
         |), fr AS (
         |  SELECT doc_id, text, len, nf, t.i f
         |  FROM d, range(0, $GifOracleMaxFrames) t(i)
         |  WHERE t.i < nf AND t.i % $st = 0
         |), px AS (
         |  SELECT doc_id, nf, f, t2.p p, t2.p // 4 b,
         |         CASE WHEN f * $fp + t2.p < len
         |              THEN ord(substring(text, f * $fp + t2.p + 1, 1)) ELSE 0 END x
         |  FROM fr, range(0, $fp) t2(p)
         |), blk AS (
         |  SELECT doc_id, nf, f, b,
         |         sum(CASE WHEN p % 4 = 0 THEN x END) x0,
         |         sum(CASE WHEN p % 4 = 1 THEN x END) x1,
         |         sum(CASE WHEN p % 4 = 2 THEN x END) x2,
         |         sum(CASE WHEN p % 4 = 3 THEN x END) x3
         |  FROM px GROUP BY doc_id, nf, f, b
         |), co AS (
         |  SELECT doc_id, nf, f, x0, x1, x2, x3,
         |         ${cq("x0 + x1 + x2 + x3")} cq0,
         |         ${cq("x0 - x1 + x2 - x3")} cq1,
         |         ${cq("x0 + x1 - x2 - x3")} cq2,
         |         ${cq("x0 - x1 - x2 + x3")} cq3
         |  FROM blk
         |), rec AS (
         |  SELECT doc_id, nf, f,
         |         $r0 + $r1 + $r2 + $r3 bsum,
         |         greatest($r0, $r1, $r2, $r3) bmax,
         |         (cq1 <> 0)::INT + (cq2 <> 0)::INT + (cq3 <> 0)::INT bnz,
         |         abs($r0 - x0) + abs($r1 - x1) + abs($r2 - x2) + abs($r3 - x3) bsad
         |  FROM co
         |)
         |SELECT doc_id, CAST(f AS BIGINT) frame_idx, CAST(nf AS BIGINT) n_frames,
         |       CAST(sum(bsum) AS BIGINT) px_sum,
         |       CAST(max(bmax) AS BIGINT) px_max,
         |       CAST(sum(bnz) AS BIGINT) n_nz_ac,
         |       CAST(sum(bsad) AS BIGINT) sad
         |FROM rec GROUP BY doc_id, f, nf
         |ORDER BY doc_id, frame_idx""".stripMargin
    },
    // the COMPRESSED SIZE recomputed: Rice code lengths are closed
    // form ((v >> k) + 1 + k), so per frame the oracle re-derives the
    // decoder's actual consumed bit count, the reconstruction, and
    // the distortion — the whole rate/distortion/entropy triple
    "q_rice_frames" -> {
      val fp = graft.multimodal.Gif.FramePx
      val st = graft.multimodal.Gif.SampleStride
      val q = graft.multimodal.Xf.Quant
      val rk = graft.multimodal.Xf.RiceK
      val ctr = graft.multimodal.Xf.RiceCenter
      def tq(c: String): String = s"((($c) + ${2048 + q / 2}) // $q)"
      def cq(k: Int): String = s"tq$k * $q - 2048"
      def bits(k: Int): String =
        s"(CASE WHEN tq$k - $ctr >= 0 THEN 2 * (tq$k - $ctr) " +
          s"ELSE -2 * (tq$k - $ctr) - 1 END) // ${1 << rk} + ${1 + rk}"
      def xr(s: String): String = s"greatest(least((($s) + 16386) // 4 - 4096, 255), 0)"
      val (r0, r1, r2, r3) = (xr("cq0 + cq1 + cq2 + cq3"), xr("cq0 - cq1 + cq2 - cq3"),
        xr("cq0 + cq1 - cq2 - cq3"), xr("cq0 - cq1 - cq2 + cq3"))
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) len,
         |         (length(text) + ${fp - 1}) // $fp AS nf
         |  FROM documents WHERE length(text) > 0
         |), fr AS (
         |  SELECT doc_id, text, len, nf, t.i f
         |  FROM d, range(0, $GifOracleMaxFrames) t(i)
         |  WHERE t.i < nf AND t.i % $st = 0
         |), px AS (
         |  SELECT doc_id, nf, f, t2.p p, t2.p // 4 b,
         |         CASE WHEN f * $fp + t2.p < len
         |              THEN ord(substring(text, f * $fp + t2.p + 1, 1)) ELSE 0 END x
         |  FROM fr, range(0, $fp) t2(p)
         |), blk AS (
         |  SELECT doc_id, nf, f, b,
         |         sum(CASE WHEN p % 4 = 0 THEN x END) x0,
         |         sum(CASE WHEN p % 4 = 1 THEN x END) x1,
         |         sum(CASE WHEN p % 4 = 2 THEN x END) x2,
         |         sum(CASE WHEN p % 4 = 3 THEN x END) x3
         |  FROM px GROUP BY doc_id, nf, f, b
         |), tqs AS (
         |  SELECT doc_id, nf, f, x0, x1, x2, x3,
         |         ${tq("x0 + x1 + x2 + x3")} tq0,
         |         ${tq("x0 - x1 + x2 - x3")} tq1,
         |         ${tq("x0 + x1 - x2 - x3")} tq2,
         |         ${tq("x0 - x1 - x2 + x3")} tq3
         |  FROM blk
         |), co AS (
         |  SELECT doc_id, nf, f, x0, x1, x2, x3,
         |         ${cq(0)} cq0, ${cq(1)} cq1, ${cq(2)} cq2, ${cq(3)} cq3,
         |         ${bits(0)} + ${bits(1)} + ${bits(2)} + ${bits(3)} bbits
         |  FROM tqs
         |), rec AS (
         |  SELECT doc_id, nf, f,
         |         $r0 + $r1 + $r2 + $r3 bsum, bbits,
         |         abs($r0 - x0) + abs($r1 - x1) + abs($r2 - x2) + abs($r3 - x3) bsad
         |  FROM co
         |)
         |SELECT doc_id, CAST(f AS BIGINT) frame_idx, CAST(nf AS BIGINT) n_frames,
         |       CAST(sum(bsum) AS BIGINT) px_sum,
         |       CAST(sum(bbits) AS BIGINT) n_bits,
         |       CAST(sum(bsad) AS BIGINT) sad
         |FROM rec GROUP BY doc_id, f, nf
         |ORDER BY doc_id, frame_idx""".stripMargin
    },
    // the CLOSED LOOP recomputed: the oracle replays the codec's
    // recursive reconstruction — motion search on source frames
    // (closed-form, the q_mc_frames block), prediction from the
    // RECONSTRUCTED previous frame carried as 64-pixel list state in
    // a RECURSIVE CTE, residual transform → quantize → dequantize →
    // inverse → clamp per 4-pixel block, plus the exact Rice+mv bit
    // count — so rate, distortion, motion and the reconstruction are
    // all re-derived through the same drift-free loop the decoder runs
    "q_gop_frames" -> (gopRecursiveCte +
      s"""SELECT doc_id, CAST(f AS BIGINT) frame_idx, CAST(nf AS BIGINT) n_frames,
         |       CAST(px_sum AS BIGINT) px_sum, CAST(n_mv AS BIGINT) n_mv_nonzero,
         |       CAST(n_bits AS BIGINT) n_bits, CAST(sad AS BIGINT) sad
         |FROM rec WHERE f >= 0 AND f % ${graft.multimodal.Gif.SampleStride} = 0
         |ORDER BY doc_id, frame_idx""".stripMargin),
    // the GOP seek contract: frames_decoded = (n−1) mod 8 + 1, and the
    // seek-decoded canvas sum ≡ the FULL recursive decode's last frame
    // (closed-loop keyframe re-sync — the same recursive oracle, final
    // frame only)
    "q_gop_seek" -> (gopRecursiveCte +
      s"""SELECT doc_id, CAST(nf AS BIGINT) n_frames,
         |       CAST(nf - 1 AS BIGINT) target_idx,
         |       CAST((nf - 1) % ${graft.multimodal.Gop.KeyInterval} + 1 AS BIGINT) frames_decoded,
         |       CAST(px_sum AS BIGINT) px_sum
         |FROM rec WHERE f = nf - 1
         |ORDER BY doc_id""".stripMargin),
    // the MC seek contract recomputed: frames_decoded = (n−1) mod 8 + 1
    // (a decoder walking from frame 0 diverges) and the last frame's
    // canvas sum under the scroll + ticker rule (a mis-seeked start
    // feeds wrong reference pixels through every motion vector)
    "q_mc_seek" -> {
      val fp = graft.multimodal.Gif.FramePx
      val w = graft.multimodal.Gif.FrameW
      val om = graft.multimodal.Mc.OverlayMod
      val ki = graft.multimodal.Mc.KeyInterval
      def pix(q: String, g: String): String =
        s"(CASE WHEN ($q) % $om = 0 THEN 128 + ((bsum + ($g)) % 64) " +
          s"ELSE (CASE WHEN ($g) * $w + ($q) < len " +
          s"THEN ord(substring(text, ($g) * $w + ($q) + 1, 1)) ELSE 0 END) END)"
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) len,
         |         CASE WHEN length(text) <= $fp THEN 1
         |              ELSE (length(text) - $fp + ${w - 1}) // $w + 1 END nf,
         |         list_sum(list_transform(range(0, length(text)),
         |           i -> ord(substring(text, i + 1, 1)))) bsum
         |  FROM documents WHERE length(text) > 0
         |), s AS (
         |  SELECT doc_id, nf, sum(${pix("t.p", "nf - 1")}) ps
         |  FROM d, range(0, $fp) t(p) GROUP BY doc_id, nf
         |)
         |SELECT doc_id, CAST(nf AS BIGINT) n_frames,
         |       CAST(nf - 1 AS BIGINT) target_idx,
         |       CAST((nf - 1) % $ki + 1 AS BIGINT) frames_decoded,
         |       CAST(ps AS BIGINT) px_sum
         |FROM s ORDER BY doc_id""".stripMargin
    },
    // the demux query's ground truth: BOTH streams derive from the
    // same bytes — video frame f's pixel sum under the byte rule, and
    // audio block f = PCM16 of exactly frame f's bytes under the Wav
    // sample rule ((b − 96)·256): exact sample count, sum, and peak,
    // so a mis-paired block or a position-routed demux diverges
    "q_avi_demux" -> {
      val fp = graft.multimodal.Gif.FramePx
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) len,
         |         (length(text) + ${fp - 1}) // $fp AS nf
         |  FROM documents WHERE length(text) > 0
         |), fr AS (
         |  SELECT doc_id, len, nf, text, t.i f
         |  FROM d, range(0, $GifOracleMaxFrames) t(i)
         |  WHERE t.i < nf
         |), px AS (
         |  SELECT doc_id, nf, f, len,
         |         list_transform(range(0, $fp),
         |           p -> CASE WHEN f * $fp + p < len
         |                     THEN ord(substring(text, f * $fp + p + 1, 1))
         |                     ELSE 0 END) vals,
         |         list_transform(range(f * $fp + 1, least((f + 1) * $fp, len) + 1),
         |           i -> (ord(substring(text, i, 1)) - 96) * 256) smp
         |  FROM fr
         |)
         |SELECT doc_id, CAST(f AS BIGINT) frame_idx, CAST(nf AS BIGINT) n_frames,
         |       CAST(list_sum(vals) AS BIGINT) px_sum,
         |       CAST(len(smp) AS BIGINT) audio_n,
         |       CAST(list_sum(smp) AS BIGINT) audio_sum,
         |       CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) audio_peak
         |FROM px ORDER BY doc_id, frame_idx""".stripMargin
    },
    // the seek query's ground truth: the LAST frame's pixels under the
    // byte rule, plus frames_decoded = (nf−1) mod 8 + 1 — the exact
    // cost of decoding from the nearest keyframe forward; a decoder
    // that walks from frame 0 (or seeks to the wrong keyframe and
    // inherits wrong pixels) diverges the hash
    "q_rle_seek" -> {
      val fp = graft.multimodal.Gif.FramePx
      val w = graft.multimodal.Gif.FrameW
      val ki = graft.multimodal.Rle.KeyInterval
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) len,
         |         (length(text) + ${fp - 1}) // $fp AS nf
         |  FROM documents WHERE length(text) > 0
         |), px AS (
         |  SELECT doc_id, nf, nf - 1 AS f, len, text,
         |         list_transform(range(0, $fp),
         |           p -> CASE WHEN (nf - 1) * $fp + p < len
         |                     THEN ord(substring(text, (nf - 1) * $fp + p + 1, 1))
         |                     ELSE 0 END) vals
         |  FROM d
         |)
         |SELECT doc_id, CAST(nf AS BIGINT) n_frames, CAST(f AS BIGINT) target_idx,
         |       CAST(f % $ki + 1 AS BIGINT) frames_decoded,
         |       CAST(list_sum(vals) AS BIGINT) px_sum,
         |       CAST(list_max(vals) AS BIGINT) px_max,
         |       CAST(list_sum(vals[1:$w]) AS BIGINT) row0_sum
         |FROM px ORDER BY doc_id""".stripMargin
    },
    // ground-truth per-frame features from the SAME text the Spark
    // side encodes into an animated GIF: frame f's pixel p (row-major
    // on the 16×4 canvas) is text byte 64f+p (0 beyond the end);
    // every 3rd frame sampled; n_frames = ceil(len/64)
    "q_gif_frames" -> {
      val fp = graft.multimodal.Gif.FramePx
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) len,
         |         (length(text) + ${fp - 1}) // $fp AS nf
         |  FROM documents WHERE length(text) > 0
         |), fr AS (
         |  SELECT doc_id, len, nf, text, t.i f
         |  FROM d, range(0, $GifOracleMaxFrames) t(i)
         |  WHERE t.i < nf AND t.i % ${graft.multimodal.Gif.SampleStride} = 0
         |), px AS (
         |  SELECT doc_id, nf, f,
         |         list_transform(range(0, $fp),
         |           p -> CASE WHEN f * $fp + p < len
         |                     THEN ord(substring(text, f * $fp + p + 1, 1))
         |                     ELSE 0 END) vals
         |  FROM fr
         |)
         |SELECT doc_id, CAST(f AS BIGINT) frame_idx, CAST(nf AS BIGINT) n_frames,
         |       CAST(list_sum(vals) AS BIGINT) px_sum,
         |       CAST(list_max(vals) AS BIGINT) px_max
         |FROM px ORDER BY doc_id, frame_idx""".stripMargin
    },
    "q_bmp_features" ->
      // ground-truth image features from the SAME text the Spark side
      // synthesizes its BMP from: pixel p has R/G/B = text bytes
      // 3p/3p+1/3p+2 (0 beyond the end) on a 10-px-wide canvas
      """WITH d AS (
        |  SELECT doc_id, text, length(text) len,
        |         ((length(text) + 2) // 3 + 9) // 10 AS h
        |  FROM documents WHERE length(text) > 0
        |), px AS (
        |  SELECT doc_id, len, h, text, unnest(range(0, h * 10)) AS p FROM d
        |), b AS (
        |  SELECT doc_id, h, p,
        |    CASE WHEN 3*p     < len THEN ord(substring(text, 3*p + 1, 1)) ELSE 0 END r,
        |    CASE WHEN 3*p + 1 < len THEN ord(substring(text, 3*p + 2, 1)) ELSE 0 END g,
        |    CASE WHEN 3*p + 2 < len THEN ord(substring(text, 3*p + 3, 1)) ELSE 0 END bl
        |  FROM px
        |)
        |SELECT doc_id,
        |  CAST(10 AS BIGINT) width,
        |  CAST(max(h) AS BIGINT) height,
        |  CAST(count(*) AS BIGINT) n_px,
        |  round(sum(r) / count(*)::DOUBLE, 4) mean_r,
        |  round(sum(g) / count(*)::DOUBLE, 4) mean_g,
        |  round(sum(bl) / count(*)::DOUBLE, 4) mean_b,
        |  CAST(sum(CASE WHEN p < 10 THEN r + g + bl ELSE 0 END) AS BIGINT) top_row_sum,
        |  CAST(sum(299*r + 587*g + 114*bl) AS BIGINT) luma_sum
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_png_features" ->
      // ground-truth image features from the SAME text the Spark side
      // encodes into PNG: pixel p has R/G/B = text bytes 3p/3p+1/3p+2
      // (0 beyond the end) on a 10-px-wide canvas — identical pixel
      // rule to q_bmp_features, distinct feature set (see Png.scala)
      """WITH d AS (
        |  SELECT doc_id, text, length(text) len,
        |         ((length(text) + 2) // 3 + 9) // 10 AS h
        |  FROM documents WHERE length(text) > 0
        |), px AS (
        |  SELECT doc_id, len, h, text, unnest(range(0, h * 10)) AS p FROM d
        |), b AS (
        |  SELECT doc_id, h, p,
        |    CASE WHEN 3*p     < len THEN ord(substring(text, 3*p + 1, 1)) ELSE 0 END r,
        |    CASE WHEN 3*p + 1 < len THEN ord(substring(text, 3*p + 2, 1)) ELSE 0 END g,
        |    CASE WHEN 3*p + 2 < len THEN ord(substring(text, 3*p + 3, 1)) ELSE 0 END bl
        |  FROM px
        |)
        |SELECT doc_id,
        |  CAST(10 AS BIGINT) width,
        |  CAST(max(h) AS BIGINT) height,
        |  CAST(count(*) AS BIGINT) n_px,
        |  CAST(sum(CASE WHEN p % 10 = 0 THEN r + g + bl ELSE 0 END) AS BIGINT) col0_sum,
        |  CAST(sum(CASE WHEN p >= (h - 1) * 10 THEN r + g + bl ELSE 0 END) AS BIGINT) bottom_row_sum,
        |  CAST(max(299*r + 587*g + 114*bl) AS BIGINT) luma_max,
        |  CAST(sum(299*r + 587*g + 114*bl) AS BIGINT) luma_sum
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_jpeg_features" ->
      // structure is codec-exact (a decodable JPEG must reproduce its
      // dimensions); decode_ok is TRUE for every row — computed
      // Spark-side from the REAL decode, so a broken decode diverges
      """SELECT doc_id,
        |  CAST(10 AS BIGINT) width,
        |  CAST((length(text) + 9) // 10 AS BIGINT) height,
        |  CAST(((length(text) + 9) // 10) * 10 AS BIGINT) n_px,
        |  TRUE AS decode_ok
        |FROM documents WHERE length(text) > 0 ORDER BY doc_id""".stripMargin,
    "q_blob_stats" ->
      """SELECT source,
        |  CAST(count(*) AS BIGINT) n_blobs,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) total_bytes,
        |  CAST(max(octet_length(encode(text))) AS BIGINT) max_bytes,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) n_distinct,
        |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) n_dup_blobs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_multimodal_features" ->
      """SELECT doc_id,
        |  length(text) AS n_bytes,
        |  substr(md5(text), 1, 8) AS sig8,
        |  ascii(substr(text, 1, 1)) AS first_byte,
        |  ascii(substr(text, (length(text) + 1) // 2, 1)) AS mid_byte,
        |  ascii(substr(text, length(text), 1)) AS last_byte,
        |  source
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_frame_sample" ->
      // range(0, 64) bounds the frame count (max doc is ~600 bytes ≪
      // 64 × 64); the WHERE keeps only frames that exist and the
      // sampled stride. ord() = byte value because the corpus is ASCII.
      s"""SELECT doc_id, t.i frame_idx,
         |  CAST(least($FrameBytes, length(text) - t.i * $FrameBytes) AS BIGINT) n_bytes,
         |  round(
         |    CAST(list_sum(list_transform(
         |      range(t.i * $FrameBytes + 1,
         |            t.i * $FrameBytes + least($FrameBytes, length(text) - t.i * $FrameBytes) + 1),
         |      j -> ord(substring(text, j, 1)))) AS BIGINT)
         |    / least($FrameBytes, length(text) - t.i * $FrameBytes)::DOUBLE, 4) byte_mean
         |FROM documents, range(0, 64) t(i)
         |WHERE t.i * $FrameBytes < length(text) AND t.i % $FrameStride = 0
         |ORDER BY doc_id, frame_idx""".stripMargin,
    "q_frame_dedup" ->
      s"""WITH fr AS (
         |  SELECT doc_id, t.i frame_idx,
         |         md5(substring(text, t.i * $FrameBytes + 1, $FrameBytes)) fh
         |  FROM documents, range(0, 64) t(i)
         |  WHERE t.i * $FrameBytes < length(text)
         |)
         |SELECT fh, count(*) n_frames, count(DISTINCT doc_id) n_docs,
         |       min(doc_id) min_doc, CAST(min(frame_idx) AS BIGINT) min_idx
         |FROM fr GROUP BY fh HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY fh""".stripMargin,
    "q_wav_features" ->
      // ground-truth features from the SAME text the Spark side
      // synthesizes its WAV from: sample i = (ord(char_i) - 96) * 256
      // (the corpus is ASCII, so chars == bytes)
      """WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1),
        |                        i -> (ord(substring(text, i, 1)) - 96) * 256) smp
        |  FROM documents WHERE length(text) > 0
        |)
        |SELECT doc_id,
        |  CAST(16000 AS BIGINT) sample_rate,
        |  CAST(1 AS BIGINT) n_channels,
        |  CAST(16 AS BIGINT) bit_depth,
        |  CAST(len(smp) AS BIGINT) n_samples,
        |  round(sqrt(list_sum(list_transform(smp, x -> x * x)) / len(smp)::DOUBLE), 4) rms,
        |  CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) peak
        |FROM s""".stripMargin)
}
