package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Conf, Graft}
import graft.functions.Multimodal._

/** Multimodal-column queries over a synthetic media table derived from
  * `documents` (text bytes as the opaque payload — deterministic, so the
  * DuckDB oracle reproduces the fake decode exactly; see
  * [[graft.functions.Multimodal]] for the real-decoder swap point).
  */
object Media {

  private def media(s: SparkSession, dir: String): DataFrame =
    syntheticMedia(Graft.parquetSource(s, dir).table("documents"))

  private def bytesLit(xs: Int*): Column = lit(xs.map(_.toByte).toArray)

  /** Big-endian `bytes`-wide binary of a nonnegative long column. */
  private def be(c: Column, bytes: Int): Column =
    unhex(lpad(hex(c), bytes * 2, "0"))

  /** Little-endian 2-byte binary of a nonnegative long column. */
  private def le16(c: Column): Column = {
    val hx = lpad(hex(c), 4, "0")
    unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
  }

  /** Little-endian 4-byte binary of a nonnegative long column. */
  private def le32(c: Column): Column = {
    val hx = lpad(hex(c), 8, "0")
    unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
      substring(hx, 3, 2), substring(hx, 1, 2)))
  }

  /** Synthetic but VALID WAV/RIFF payloads from `documents` — real
    * canonical chunk layout (RIFF size, `fmt ` 16-byte PCM block with
    * consistent byte-rate/block-align, `data` with its declared byte
    * count actually present as zero samples), stream parameters a pure
    * formula of doc_id, deterministic byte-for-byte so the DuckDB
    * oracle constructs the same payloads and re-parses them
    * independently from hex. Every 11th doc (id % 11 == 3) ships a
    * TRUNCATED header instead — the malformed row the parser must
    * degrade to 'unknown', cross-checked on both engines.
    * (media_id, payload). */
  private[graft] def syntheticAudio(documents: DataFrame): DataFrame = {
    val id = col("doc_id")
    val ch = (id % 2 + 1).cast("long")              // 1..2 channels
    val rate = (lit(8000L) + (id % 5) * 1000L)      // 8..12 kHz
    val bits = when(id % 3 === 0, 8L).otherwise(16L)
    val nsamp = (id % 40 + 50).cast("long")         // 50..89 samples
    val stride = ch * (bits / 8L)
    val dataSize = nsamp * stride
    val wav = concat(
      encode(lit("RIFF"), "UTF-8"), le32(dataSize + 36L),
      encode(lit("WAVE"), "UTF-8"),
      encode(lit("fmt "), "UTF-8"), le32(lit(16L)),
      le16(lit(1L)),                                // PCM
      le16(ch), le32(rate),
      le32(rate * stride),                          // byte rate
      le16(stride),                                 // block align
      le16(bits),
      encode(lit("data"), "UTF-8"), le32(dataSize),
      unhex(expr("repeat('00', cast(" +
        "(doc_id % 40 + 50) * (doc_id % 2 + 1) * " +
        "(case when doc_id % 3 = 0 then 1 else 2 end) as int))")))
    documents
      .select(id.as("media_id"),
        when(id % 11 === 3, substring(wav, 1, 10)).otherwise(wav)
          .as("payload"))
  }

  /** Unity transformation matrix of an ISO-BMFF movie/track header —
    * 36 bytes, 16.16/2.30 fixed point (ISO/IEC 14496-12 §6.2.2). */
  private val UnityMatrixHex: String =
    "00010000" + "00000000" + "00000000" +
      "00000000" + "00010000" + "00000000" +
      "00000000" + "00000000" + "40000000"

  /** Synthetic but VALID MP4/ISO-BMFF payloads from `documents` — real
    * canonical box layout (`ftyp` with a doc-varying major brand, then
    * `moov` = `mvhd` v0 (movie timescale + duration, unity matrix) +
    * one `trak` holding a `tkhd` v0 with 16.16 fixed-point
    * dimensions), stream parameters a pure formula of doc_id,
    * deterministic byte-for-byte so the DuckDB oracle constructs the
    * same payloads and re-parses them independently from hex at the
    * box offsets. Every 11th doc (id % 11 == 7) ships a TRUNCATED
    * header instead — the malformed row the parser must degrade to
    * 'unknown', cross-checked on both engines. (media_id, payload). */
  private[graft] def syntheticVideo(documents: DataFrame): DataFrame = {
    val id = col("doc_id")
    val ts = lit(600L) + (id % 5) * 100L              // 600..1000 ticks/s
    val dur = (id % 86400 + 600).cast("long")         // ticks
    val w = (id % 1920 + 1).cast("long")
    val h = (id % 1080 + 1).cast("long")
    val brand = when(id % 2 === 0, "isom").otherwise(lit("mp42"))
    val ftyp = concat(
      be(lit(16L), 4), encode(lit("ftyp"), "UTF-8"),
      encode(brand, "UTF-8"), be(lit(0x200L), 4))     // minor version
    val mvhd = concat(
      be(lit(108L), 4), encode(lit("mvhd"), "UTF-8"),
      be(lit(0L), 4),                                 // version 0 + flags
      be(lit(0L), 4), be(lit(0L), 4),                 // creation, modification
      be(ts, 4), be(dur, 4),
      be(lit(0x00010000L), 4),                        // rate 1.0
      be(lit(0x0100L), 2),                            // volume 1.0
      be(lit(0L), 2), be(lit(0L), 8),                 // reserved
      unhex(lit(UnityMatrixHex)),
      unhex(lit("00" * 24)),                          // pre_defined
      be(lit(2L), 4))                                 // next_track_ID
    val tkhd = concat(
      be(lit(92L), 4), encode(lit("tkhd"), "UTF-8"),
      be(lit(7L), 4),                                 // v0 + enabled flags
      be(lit(0L), 4), be(lit(0L), 4),                 // creation, modification
      be(lit(1L), 4),                                 // track_ID
      be(lit(0L), 4),                                 // reserved
      be(dur, 4),
      be(lit(0L), 8),                                 // reserved
      be(lit(0L), 2), be(lit(0L), 2),                 // layer, alternate_group
      be(lit(0L), 2), be(lit(0L), 2),                 // volume, reserved
      unhex(lit(UnityMatrixHex)),
      be(w * 65536L, 4), be(h * 65536L, 4))           // 16.16 fixed
    val moov = concat(
      be(lit(216L), 4), encode(lit("moov"), "UTF-8"), mvhd,
      be(lit(100L), 4), encode(lit("trak"), "UTF-8"), tkhd)
    val mp4 = concat(ftyp, moov)
    documents
      .select(id.as("media_id"),
        when(id % 11 === 7, substring(mp4, 1, 12)).otherwise(mp4)
          .as("payload"))
  }

  /** Synthetic image-container payloads from `documents` — REAL format
    * headers (PNG signature+IHDR, GIF87a/89a logical screen descriptor,
    * JPEG SOI→APP0→COM→SOF0 segment list with a doc-varying COM length
    * so the marker walk covers variable distances), dimensions derived
    * from doc_id, deterministic byte-for-byte so the DuckDB oracle can
    * construct the same payloads and re-parse them independently.
    * (media_id, payload). */
  private[graft] def syntheticImages(documents: DataFrame): DataFrame = {
    val id = col("doc_id")
    val w = (id % 1920 + 1).cast("long")
    val h = (id % 1080 + 1).cast("long")
    val tail = encode(substring(col("text"), 1, 8), "UTF-8")
    val png = concat(
      bytesLit(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A), // signature
      bytesLit(0, 0, 0, 13), encode(lit("IHDR"), "UTF-8"),
      be(w, 4), be(h, 4),
      be(when(id % 2 === 0, 8L).otherwise(16L), 1), // bit depth
      bytesLit(2, 0, 0, 0),                         // color type RGB, comp/filter/interlace
      bytesLit(0xDE, 0xAD, 0xBE, 0xEF),             // placeholder CRC
      tail)
    val gif = concat(
      encode(concat(lit("GIF8"),
        when(id % 2 === 1, "7").otherwise(lit("9")), lit("a")), "UTF-8"),
      le16(w), le16(h),
      be(lit(128L) + id % 8, 1), // packed: GCT flag | (depth-1)
      bytesLit(0, 0), tail)
    val jpg = concat(
      bytesLit(0xFF, 0xD8),                          // SOI
      bytesLit(0xFF, 0xE0, 0x00, 0x10), encode(lit("JFIF"), "UTF-8"),
      unhex(lit("00010200000100010000")),            // APP0 body (len 16)
      bytesLit(0xFF, 0xFE), be(id % 7 + 2, 2),       // COM, varying length
      encode(expr("repeat('x', cast(doc_id % 7 as int))"), "UTF-8"),
      bytesLit(0xFF, 0xC0, 0x00, 0x0B, 0x08),        // SOF0, len 11, precision 8
      be(h, 2), be(w, 2),
      bytesLit(0x01, 0x01, 0x11, 0x00),              // 1 component
      bytesLit(0xFF, 0xD9))                          // EOI
    // null text would make the concat (and hence the payload) NULL —
    // the Spark side would emit a null-meta row while the oracle's
    // hex(NULL) parse drops it; filter on BOTH sides for row parity
    documents.where(col("text").isNotNull)
      .select(id.as("media_id"),
        when(id % 3 === 0, png).when(id % 3 === 1, gif).otherwise(jpg)
          .as("payload"))
  }

  /** Synthetic but VALID canonical WAVs whose PCM samples are a pure
    * formula of doc_id ([[graft.functions.SyntheticAudio]]), so the
    * q197 oracle verifies the real [[graft.functions.AudioPcmExpr]]
    * decode without DuckDB ever parsing a byte — the q179 discipline
    * on the audio side. (media_id, payload). */
  private[graft] def syntheticPcmAudio(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(ids => ids.map(id =>
        (id, graft.functions.SyntheticAudio.payload(id))))
      .toDF("media_id", "payload")
  }

  /** Synthetic but VALID MJPEG-in-AVI payloads from `documents` —
    * frame pixels a pure formula of (doc_id, frame, block)
    * ([[graft.functions.SyntheticVideo]]; every 11th doc truncated),
    * so the q200 oracle verifies the real container walk + JPEG frame
    * decode without DuckDB ever touching a byte. (media_id,
    * payload). */
  private[graft] def syntheticMjpegVideos(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(ids => ids.map(id =>
        (id, graft.functions.SyntheticVideo.payload(id))))
      .toDF("media_id", "payload")
  }

  /** Synthetic but VALID image payloads from `documents` — pixels are
    * a pure formula of doc_id ([[graft.functions.SyntheticImage]]), so
    * the q179 oracle verifies the real [[decodePixels]] decode without
    * DuckDB ever decoding a byte. Text plays no part: the payload is a
    * function of doc_id alone. (media_id, payload). */
  private[graft] def syntheticValidImages(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(ids => ids.map(id =>
        (id, graft.functions.SyntheticImage.payload(id))))
      .toDF("media_id", "payload")
  }

  /** The q207/q208 image-dedup fixture: [[syntheticValidImages]] plus
    * the [[graft.functions.SyntheticImage.dedupPayload]] plant grammar
    * — re-encodes (id % 13 == 4 carries id−4's exact pixels in a
    * different encoding: Sub-refiltered PNG for truecolor, PNG↔GIF
    * cross-codec for the single-channel formats) and near-dups
    * (id % 17 == 8 carries id−8's pixels with a sparse ±1
    * perturbation). Non-recursive, so both oracles stay
    * CASE-expressible. (media_id, payload). */
  private[graft] def syntheticDedupImages(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(ids => ids.map(id =>
        (id, graft.functions.SyntheticImage.dedupPayload(id))))
      .toDF("media_id", "payload")
  }

  /** Per-video content fingerprint over DECODED frames — the q202
    * signature: fp = Σ hash60(frame_idx : dims : pixel stats), one
    * map-side-combinable video-grain aggregate riding the
    * exchange-free decode. Truncated/undecodable payloads decode no
    * frames and emit no row. (media_id, fp, n_frames). */
  private[graft] def videoSig(media: DataFrame): DataFrame = {
    val frames = graft.functions.Multimodal.decodeVideoFrames(media)
    val h = graft.functions.TextFunctions.hash60(concat_ws(":",
      col("frame_idx"), col("width"), col("height"),
      col("p_sum"), col("p_min"), col("p_max")))
    frames.select(col("media_id"), h.as("h"))
      .groupBy(col("media_id"))
      .agg(sum(col("h")).as("fp"),
        count(lit(1)).cast("long").as("n_frames"))
  }

  /** Per-recording content fingerprint over DECODED PCM samples — the
    * q206 stat tuple (c1 nulls collapsed to a sentinel so grouping is
    * null-safe on both engines); truncated/unknown rows excluded.
    * (media_id, channels, bit_depth, n_frames, c0_sum, c0_min,
    * c0_max, k1, k2, k3). */
  private[graft] def audioStats(media: DataFrame): DataFrame = {
    val ap = graft.functions.Multimodal.audioPcmStats(col("payload"))
    val sent = lit(-999999999999L)
    media.select(col("media_id"), ap.as("m"))
      .where(col("m.format") === "wav_pcm")
      .select(col("media_id"),
        col("m.channels").as("channels"),
        col("m.bit_depth").as("bit_depth"),
        col("m.n_frames").as("n_frames"),
        col("m.c0_sum").as("c0_sum"),
        col("m.c0_min").as("c0_min"),
        col("m.c0_max").as("c0_max"),
        coalesce(col("m.c1_sum"), sent).as("k1"),
        coalesce(col("m.c1_min").cast("long"), sent).as("k2"),
        coalesce(col("m.c1_max").cast("long"), sent).as("k3"))
  }

  private[graft] val AudioKeys = Seq("channels", "bit_depth", "n_frames",
    "c0_sum", "c0_min", "c0_max", "k1", "k2", "k3")

  /** The q215 cross-modal fixture: [[syntheticValidImages]]'s grammar
    * plus the [[graft.functions.SyntheticImage.stillPayload]] plant —
    * every 23rd image is a REAL grayscale PNG whose raster is frame 0
    * of video id−7 (different codec, different bytes, same decoded
    * pixels). (media_id, payload). */
  private[graft] def syntheticStillImages(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(ids => ids.map(id =>
        (id, graft.functions.SyntheticImage.stillPayload(id))))
      .toDF("media_id", "payload")
  }

  /** Per-video DISTINCT content frame hashes WITHOUT the frame index
    * (time-shift-tolerant — the q205 signature): one row per (video,
    * distinct frame content), bounded by frame count. (media_id, h). */
  private[graft] def videoFrameHashes(media: DataFrame): DataFrame = {
    val frames = graft.functions.Multimodal.decodeVideoFrames(media)
    val h = graft.functions.TextFunctions.hash60(concat_ws(":",
      col("width"), col("height"),
      col("p_sum"), col("p_min"), col("p_max")))
    frames.select(col("media_id"), h.as("h")).distinct()
  }

  /** Per-image content fingerprint over the DECODED pixel sequence —
    * the q207 signature ([[graft.functions.Multimodal.fingerprintPixels]]
    * rolling hash; undecodable payloads emit no row). (media_id,
    * width, height, px_hash). */
  private[graft] def imageFp(media: DataFrame): DataFrame =
    graft.functions.Multimodal.fingerprintPixels(media)
      .where(col("format").isNotNull)
      .select(col("media_id"), col("width"), col("height"),
        col("px_hash"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- q32: metadata predicate + content-fingerprint features --------
    // The width filter is a plain column predicate — Catalyst prunes it
    // without touching payload bytes (the 100 TB contract). The 4-dim
    // fingerprint vector is emitted as four scalar double columns: the
    // driver's pandas compare cannot sort array-typed columns, and scalar
    // doubles compare exactly (same md5-derived arithmetic both engines).
    "q32_media_features" -> ((s, dir) => {
      val feats = contentFeatures(col("payload"))
      media(s, dir)
        .where(col("meta.width") >= 200)
        .select(
          col("media_id"),
          col("meta.media_type").as("media_type"),
          col("meta.width").as("width"),
          payloadBytes(col("payload")).as("n_bytes"),
          feats.getItem(0).as("f0"),
          feats.getItem(1).as("f1"),
          feats.getItem(2).as("f2"),
          feats.getItem(3).as("f3"),
          hex(thumbnail(col("payload"), 8)).as("thumb_hex"))
        .orderBy("media_id")
    }),

    // ---- q175: real image-container metadata parse ----------------------
    // [[graft.functions.ImageMetaExpr]] (SQL: graft_image_meta) over
    // synthetic-but-format-faithful PNG/GIF/JPEG payloads: the metadata
    // half of the decode step done with REAL byte parsing (fixed-offset
    // IHDR / LE screen descriptor / bounded SOF-marker walk) — no codec
    // library, one exchange-free scan-riding projection (plan-pinned).
    // The oracle constructs the same payloads and re-parses them with
    // independent hex arithmetic + a recursive-CTE marker walk.
    "q175_image_meta" -> ((s, dir) => {
      val m = imageMeta(col("payload"))
      syntheticImages(Graft.parquetSource(s, dir).table("documents"))
        .select(col("media_id"),
          m.getField("format").as("format"),
          m.getField("width").as("width"),
          m.getField("height").as("height"),
          m.getField("bit_depth").as("bit_depth"),
          payloadBytes(col("payload")).as("n_bytes"))
        .orderBy("media_id")
    }),

    // ---- q179: REAL pixel decode (javax.imageio) ------------------------
    // [[Multimodal.decodePixels]] over VALID synthetic PNG-RGB / PNG-gray
    // / GIF payloads ([[SyntheticImage]]): the engine decodes actual
    // rasters with the JDK's own ImageIO (one codec per partition,
    // exchange-free plan) and reduces to per-channel sums/extrema; the
    // oracle computes the same stats straight from the pixel formula —
    // encoder, container, LZW/zlib stream, and decoder all verified in
    // one cross-engine compare.
    "q179_pixel_stats" -> ((s, dir) => {
      val media = syntheticValidImages(
        Graft.parquetSource(s, dir).table("documents"))
      decodePixels(media).orderBy("media_id")
    }),

    // ---- q190: REAL audio-container metadata parse ----------------------
    // The audio leg of q175's discipline: [[syntheticAudio]] builds
    // VALID canonical WAV payloads (stream parameters a formula of
    // doc_id; every 11th doc truncated), the engine parses them with
    // the native codegen [[graft.functions.AudioMetaExpr]] chunk walk
    // (SQL: graft_audio_meta), and the oracle re-parses the identical
    // bytes independently from hex at the RIFF offsets. Malformed rows
    // degrade to 'unknown', never throw — cross-checked on both
    // engines.
    "q190_audio_meta" -> ((s, dir) => {
      val am = graft.functions.Multimodal.audioMeta(col("payload"))
      syntheticAudio(Graft.parquetSource(s, dir).table("documents"))
        .select(col("media_id"), am.as("m"))
        .select(col("media_id"),
          col("m.format").as("format"),
          col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.bit_depth").as("bit_depth"),
          col("m.n_samples").as("n_samples"))
        .orderBy("media_id")
    }),

    // ---- q191: REAL video-container metadata parse ----------------------
    // The video leg completing the q175/q190 metadata triad:
    // [[syntheticVideo]] builds VALID canonical MP4 payloads (box
    // parameters a formula of doc_id; every 11th doc truncated), the
    // engine parses them with the native codegen
    // [[graft.functions.VideoMetaExpr]] box walk (SQL:
    // graft_video_meta), and the oracle re-parses the identical bytes
    // independently from hex at the ISO-BMFF box offsets. duration_ms
    // is the derived playback length (ticks x 1000 / timescale,
    // integer division on both engines). Malformed rows degrade to
    // 'unknown', never throw.
    "q191_video_meta" -> ((s, dir) => {
      val vm = graft.functions.Multimodal.videoMeta(col("payload"))
      syntheticVideo(Graft.parquetSource(s, dir).table("documents"))
        .select(col("media_id"), vm.as("m"),
          payloadBytes(col("payload")).as("n_bytes"))
        .select(col("media_id"),
          col("m.format").as("format"),
          col("m.brand").as("brand"),
          col("m.width").as("width"),
          col("m.height").as("height"),
          col("m.timescale").as("timescale"),
          col("m.duration").as("duration"),
          // exact integer floor division (SQL div), never a double
          expr("(m.duration * 1000L) div m.timescale").as("duration_ms"),
          col("m.n_tracks").as("n_tracks"),
          col("n_bytes"))
        .orderBy("media_id")
    }),

    // ---- q197: REAL audio PCM sample decode ------------------------------
    // The audio analog of q179's real pixel decode, with ZERO codec
    // libraries (PCM samples ARE the bytes): [[syntheticPcmAudio]]
    // builds VALID canonical WAVs whose interleaved samples are a
    // pure formula of doc_id, the engine decodes them with the native
    // codegen [[graft.functions.AudioPcmExpr]] (SQL: graft_audio_pcm
    // — chunk walk, then per-channel sum/min/max over the RAW stored
    // values), and the oracle computes the same stats straight from
    // the sample formula without parsing a byte. Truncated rows (every
    // 11th doc) degrade to 'unknown', never throw.
    "q197_audio_pcm_stats" -> ((s, dir) => {
      val ap = graft.functions.Multimodal.audioPcmStats(col("payload"))
      syntheticPcmAudio(Graft.parquetSource(s, dir).table("documents"))
        .select(col("media_id"), ap.as("m"))
        .select(col("media_id"),
          col("m.format").as("format"),
          col("m.channels").as("channels"),
          col("m.bit_depth").as("bit_depth"),
          col("m.n_frames").as("n_frames"),
          col("m.c0_sum").as("c0_sum"),
          col("m.c0_min").as("c0_min"),
          col("m.c0_max").as("c0_max"),
          col("m.c1_sum").as("c1_sum"),
          col("m.c1_min").as("c1_min"),
          col("m.c1_max").as("c1_max"))
        .orderBy("media_id")
    }),

    // ---- q200: REAL video FRAME decode (MJPEG-in-AVI) --------------------
    // The triad's last leg closed (the r15 verdict's ask): the engine
    // walks the RIFF/AVI container itself
    // ([[graft.functions.Multimodal.decodeVideoFrames]] — LIST movi →
    // 00dc chunks, the AudioMetaExpr Long-cursor discipline), decodes
    // each MJPEG frame through the SAME per-partition javax.imageio
    // codec seam as q179, and reduces each frame to grayscale pixel
    // stats; [[graft.functions.Multimodal.videoMeta]]'s new AVI arm
    // supplies the container columns (brand = strh fccHandler,
    // duration in µs ticks). The fixture frames are constant-block
    // all-ones-quant grayscale JPEGs, which decode EXACTLY (DC-only
    // IDCT — PipelineSpec pins the bit-exactness against the JDK
    // decoder), so the oracle computes every column straight from the
    // (doc_id, frame, block) formula without touching a byte —
    // encoder, container walk, JPEG decoder, and metadata arm all in
    // one cross-engine compare. Truncated payloads (id % 11 == 5)
    // contribute no frame rows on either side.
    "q200_video_frame_stats" -> ((s, dir) => {
      val media = syntheticMjpegVideos(
          Graft.parquetSource(s, dir).table("documents"))
        .localCheckpoint() // read by the frame decode AND the meta arm
      val frames = graft.functions.Multimodal.decodeVideoFrames(media)
      val vm = graft.functions.Multimodal.videoMeta(col("payload"))
      val meta = media.select(col("media_id"), vm.as("m"))
        .select(col("media_id"),
          col("m.brand").as("brand"),
          col("m.width").as("c_width"),
          col("m.height").as("c_height"),
          col("m.duration").as("duration_us"),
          col("m.n_tracks").as("n_tracks"))
      frames.join(meta, Seq("media_id"))
        .select(col("media_id"), col("frame_idx"), col("format"),
          col("width"), col("height"), col("n_px"),
          col("p_sum"), col("p_min"), col("p_max"),
          col("brand"), col("c_width"), col("c_height"),
          col("duration_us"), col("n_tracks"))
        .orderBy("media_id", "frame_idx")
    }),

    // ---- q206: audio content dedup via decoded sample stats --------------
    // The q202 discipline on audio: a recording's fingerprint is the
    // exact per-channel PCM statistics over its DECODED samples, so
    // two containers with identical audio — the planted re-encodes
    // (id % 13 == 9 carries id−9's exact samples/channels/bit-depth/
    // frame-count in a fresh container with a DIFFERENT sample rate —
    // same audio, different mux) — group together while any sample
    // difference separates them. Grouping keys on the full stat tuple
    // (c1 nulls for mono collapsed to a sentinel so the join-back is
    // null-safe on both engines); truncated/unknown rows are excluded
    // on both sides (their all-null stats would otherwise bogusly
    // group). Scale: decode rides the scan, the fingerprint group and
    // join-back are audio-grain (one row per recording).
    "q206_audio_dedup" -> ((s, dir) => {
      val stats = audioStats(syntheticPcmAudio(
          Graft.parquetSource(s, dir).table("documents")))
        .localCheckpoint() // read by the groups AND the join-back
      val groups = stats.groupBy(AudioKeys.map(col): _*)
        .agg(min(col("media_id")).as("dup_of"),
          count(lit(1)).cast("long").as("grp_size"))
      stats.join(groups, AudioKeys)
        .select(col("media_id"), col("channels"), col("n_frames"),
          col("dup_of"), col("grp_size"),
          (col("media_id") > col("dup_of")).cast("int").as("is_dup"))
        .orderBy("media_id")
    }),

    // ---- q209: INCREMENTAL video content dedup ---------------------------
    // q202's crawl-loop square (the house {session, incremental} rule
    // for the media dedup family): per-video fingerprints of the
    // persisted corpus live in a SideTable artifact — built ONCE, so
    // a re-crawl epoch never re-decodes old media — and each batch
    // decodes only its own videos, probes the union, and reports
    // verdicts for BATCH videos against the FULL corpus. Epoch-N ≡
    // from-scratch is STRUCTURAL (the q203 argument): the fingerprint
    // is a pure function of decoded frame content, so artifact ∪
    // batch-delta IS the from-scratch fingerprint frame bit-for-bit.
    // The oracle replays the whole-corpus q202 dedup from the block
    // formula and filters to the batch — equality proves the append
    // path end-to-end. Scale: decode work is batch-proportional
    // (spec-asserted via the rebuilt-artifact guard); the group +
    // join-back shuffle video-grain rows only.
    "q209_incremental_video_dedup" -> ((s, dir) => {
      val docs = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, docs, "doc_id")
      val fp = Some(s"$dir/documents.parquet")
      val baseP = graft.sources.SideTable.ensure(s, "video_fp",
        s"$dir#$cut", fp) {
        videoSig(syntheticMjpegVideos(docs.where(col("doc_id") < cut)))
      }
      val batch = videoSig(syntheticMjpegVideos(
          docs.where(col("doc_id") >= cut)))
        .localCheckpoint() // read by the union AND the verdict join
      val sig = s.read.parquet(baseP).unionByName(batch)
      val groups = sig.groupBy(col("fp"))
        .agg(min(col("media_id")).as("dup_of"),
          count(lit(1)).cast("long").as("grp_size"))
      batch.join(groups, Seq("fp"))
        .select(col("media_id"), col("n_frames"), col("fp"),
          col("dup_of"), col("grp_size"),
          (col("media_id") > col("dup_of")).cast("int").as("is_dup"))
        .orderBy("media_id")
    }),

    // ---- q210: INCREMENTAL audio content dedup ---------------------------
    // q206's crawl-loop square — the q209 shape on the audio leg:
    // persisted stat-tuple fingerprints (SideTable), batch-only PCM
    // decode, verdicts for the batch against the full corpus, oracle
    // = whole-corpus replay filtered to the batch.
    "q210_incremental_audio_dedup" -> ((s, dir) => {
      val docs = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, docs, "doc_id")
      val fp = Some(s"$dir/documents.parquet")
      val baseP = graft.sources.SideTable.ensure(s, "audio_fp",
        s"$dir#$cut", fp) {
        audioStats(syntheticPcmAudio(docs.where(col("doc_id") < cut)))
      }
      val batch = audioStats(syntheticPcmAudio(
          docs.where(col("doc_id") >= cut)))
        .localCheckpoint() // read by the union AND the verdict join
      val stats = s.read.parquet(baseP).unionByName(batch)
      val groups = stats.groupBy(AudioKeys.map(col): _*)
        .agg(min(col("media_id")).as("dup_of"),
          count(lit(1)).cast("long").as("grp_size"))
      batch.join(groups, AudioKeys)
        .select(col("media_id"), col("channels"), col("n_frames"),
          col("dup_of"), col("grp_size"),
          (col("media_id") > col("dup_of")).cast("int").as("is_dup"))
        .orderBy("media_id")
    }),

    // ---- q204: REAL thumbnail — decode + exact NN downsample -------------
    // The resize leg of the multimodal quartet (decode q179 /
    // feature-extract q32 / resize HERE / frame-sample q33+q200),
    // retiring the byte-prefix thumbnail stub:
    // [[graft.functions.Multimodal.decodeThumbnails]] decodes the
    // q179 fixtures through the per-partition javax.imageio seam,
    // nearest-neighbor-downsamples to ≤ 4×3 with exact integer
    // coordinate mapping (sx = ⌊x'·w/tw'⌋, clamped so a thumbnail
    // never upsamples), and reduces the THUMB raster to per-channel
    // stats — the oracle reproduces every sampled pixel straight from
    // the (id, pixel-index) formula, so decoder AND resampler verify
    // in one compare. Exchange-free plan (the q179 shape).
    "q204_thumbnail_stats" -> ((s, dir) => {
      val media = syntheticValidImages(
        Graft.parquetSource(s, dir).table("documents"))
      graft.functions.Multimodal.decodeThumbnails(media, 4, 3)
        .orderBy("media_id")
    }),

    // ---- q202: video content dedup via frame signatures ------------------
    // The multimodal member of the dedup family: a video's content
    // fingerprint is the sum of per-frame hash60 signatures over the
    // DECODED frame stats (frame_idx : dims : pixel sum/min/max), so
    // two containers with identical frame content — the planted
    // re-encodes (id % 13 == 4 carries id−4's frames in a fresh
    // container with different frame timing) — collide exactly, while
    // any pixel-level difference separates them. Output per video:
    // fingerprint, the group representative (min media_id), group
    // size, and the is_dup verdict (the exact-dedup q26 shape lifted
    // to decoded video content). Scale shape: frame signatures ride
    // the exchange-free decode; the fingerprint is one
    // map-side-combinable per-video aggregate; grouping shuffles at
    // VIDEO grain (one row per video), never frame grain. Truncated
    // payloads decode no frames and drop out on both engines.
    "q202_video_dedup" -> ((s, dir) => {
      // fp = Σ frame hash60s: order-aware via frame_idx inside the
      // hash, commutative outside it (≤ 4 frames × 2^60 < 2^63)
      val sig = videoSig(syntheticMjpegVideos(
        Graft.parquetSource(s, dir).table("documents")))
      val groups = sig.groupBy(col("fp"))
        .agg(min(col("media_id")).as("dup_of"),
          count(lit(1)).cast("long").as("grp_size"))
      sig.join(groups, Seq("fp"))
        .select(col("media_id"), col("n_frames"), col("fp"),
          col("dup_of"), col("grp_size"),
          (col("media_id") > col("dup_of")).cast("int").as("is_dup"))
        .orderBy("media_id")
    }),

    // ---- q205: video CLIP detection (partial-overlap near-dup) -----------
    // q202 catches whole-content re-encodes; this member catches
    // PARTIAL containment — trailers, excerpts, stitched compilations:
    // frame signatures hashed WITHOUT the frame index (a clip may be
    // time-shifted), candidate pairs from the shared-frame-hash join
    // (bucketed by content hash — the LSH-band discipline at frame
    // grain), overlap = |shared| / min(|v1|, |v2|) in exact integer
    // ppm, reported at ≥ 50%. The fixture plants clips (id % 19 == 6
    // shares its first two frames + dims with the base video id − 6)
    // AND the q202 re-encodes surface here too at 100% overlap —
    // containment subsumes equality. Scale shape: per-video distinct
    // frame-hash rows (bounded by frame count), one hash-bucketed
    // self-join at shared-content grain (cap-guard discipline applies
    // where content duplication is heavy), video-grain aggregates
    // after.
    "q205_video_clip_detect" -> ((s, dir) => {
      val media = syntheticMjpegVideos(
        Graft.parquetSource(s, dir).table("documents"))
      val fh = videoFrameHashes(media)
        .localCheckpoint() // both sides of the self-join AND the counts
      val nf = fh.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // one row per video; joined twice
      // the house pairwise-surface cap: a frame hash shared by more
      // than maxBucket videos (degenerate content — black frames,
      // test cards) drops from candidate generation LOUDLY instead of
      // going quadratic; overlap denominators stay the full counts
      val capped = graft.ops.Dedup.capBuckets(fh, Seq("h"), s,
        "q205 frame-hash buckets", Conf.DedupMaxBucket(s))
      val a = capped.select(col("media_id").as("m1"), col("h"))
      val b = capped.select(col("media_id").as("m2"), col("h"))
      val shared = a.join(b, Seq("h")).where(col("m1") < col("m2"))
        .groupBy(col("m1"), col("m2"))
        .agg(count(lit(1)).cast("long").as("n_shared"))
      shared
        .join(nf.select(col("media_id").as("m1"), col("n").as("n1")),
          Seq("m1"))
        .join(nf.select(col("media_id").as("m2"), col("n").as("n2")),
          Seq("m2"))
        .select(col("m1"), col("m2"), col("n_shared"),
          col("n1"), col("n2"),
          expr("(n_shared * 1000000L) div least(n1, n2)")
            .as("overlap_ppm"))
        .where(col("overlap_ppm") >= 500000L)
        .orderBy("m1", "m2")
    }),

    // ---- q207: image content dedup via decoded-pixel fingerprints --------
    // The image corner of the media content-dedup triangle (video
    // q202, audio q206): an image's fingerprint is a polynomial
    // rolling hash over its FULL decoded (r,g,b) sequence
    // ([[graft.functions.Multimodal.fingerprintPixels]]) — a pure
    // function of decoded content, so the planted re-encodes (same
    // pixels, different bytes: Sub-refiltered PNG, PNG↔GIF
    // cross-codec) group together while any pixel change (including
    // the q208 ±1 perturbations) separates. Keys on (dims, px_hash);
    // the oracle folds the identical hash straight from the pixel
    // formula via list_reduce, never decoding a byte. Scale shape:
    // decode rides the exchange-free scan; the group + join-back
    // shuffle IMAGE-grain rows only (the q202/q206 discipline).
    "q207_image_dedup" -> ((s, dir) => {
      val media = syntheticDedupImages(
        Graft.parquetSource(s, dir).table("documents"))
      val fp = imageFp(media)
        .localCheckpoint() // read by the groups AND the join-back
      val keys = Seq("width", "height", "px_hash")
      val groups = fp.groupBy(keys.map(col): _*)
        .agg(min(col("media_id")).as("dup_of"),
          count(lit(1)).cast("long").as("grp_size"))
      fp.join(groups, keys)
        .select(col("media_id"), col("width"), col("height"),
          col("px_hash"), col("dup_of"), col("grp_size"),
          (col("media_id") > col("dup_of")).cast("int").as("is_dup"))
        .orderBy("media_id")
    }),

    // ---- q208: image perceptual near-dup (aHash, Hamming-banded) ---------
    // The near-dup rung over q207's exact fingerprints: aHash/dHash
    // over the 8×8 NN thumb raster
    // ([[graft.functions.Multimodal.perceptualHashes]]), candidate
    // pairs from the 4×16-bit band join (pigeonhole: Hamming ≤ 3 ⟹
    // some band matches exactly — the [[graft.ops.Dedup.simhashPairs]]
    // discipline, capBuckets-guarded with the cap MIRRORED in the
    // oracle), exact full-hash Hamming verify on candidates. The
    // planted ±1 perturbations (id % 17 == 8) move almost no
    // threshold bits, so near plants land at distance ≲ 1; re-encode
    // plants surface at distance 0 (containment subsumes equality).
    // Only images ≥ 8×8 participate (a perceptual raster needs a
    // minimum source — and sub-8×8 hashes would make everything
    // spuriously "near"). Scale shape: decode rides the scan;
    // pairwise work is band-bucketed and capped, never all-pairs.
    "q208_image_near_dup" -> ((s, dir) => {
      val media = syntheticDedupImages(
        Graft.parquetSource(s, dir).table("documents"))
      val ph = graft.functions.Multimodal.perceptualHashes(media, 8)
        .localCheckpoint() // band explode AND both pair-side joins
      val bands = ph.select(col("media_id"),
          explode(array((0 until 4).map(b => struct(lit(b).as("b"),
            shiftrightunsigned(col("ahash"), 16 * b)
              .bitwiseAND(lit(65535L)).as("bk"))): _*)).as("e"))
        .select(col("media_id"), col("e.b").as("b"), col("e.bk").as("bk"))
      val capped = graft.ops.Dedup.capBuckets(bands, Seq("b", "bk"), s,
        "q208 ahash bands", Conf.DedupMaxBucket(s))
      val cand = capped.select(col("media_id").as("m1"), col("b"),
          col("bk"))
        .join(capped.select(col("media_id").as("m2"), col("b"),
          col("bk")), Seq("b", "bk"))
        .where(col("m1") < col("m2"))
        .select(col("m1"), col("m2")).distinct()
      val h1 = ph.select(col("media_id").as("m1"),
        col("ahash").as("a1"), col("dhash").as("d1"))
      val h2 = ph.select(col("media_id").as("m2"),
        col("ahash").as("a2"), col("dhash").as("d2"))
      cand.join(h1, Seq("m1")).join(h2, Seq("m2"))
        .select(col("m1"), col("m2"),
          expr("bit_count(a1 ^ a2)").cast("long").as("ham_a"),
          expr("bit_count(d1 ^ d2)").cast("long").as("ham_d"))
        .where(col("ham_a") <= 3)
        .orderBy("m1", "m2")
    }),

    // ---- q211: INCREMENTAL image content dedup ---------------------------
    // q207's crawl-loop square (the q209 shape on the image leg, which
    // completes the house {session, incremental} rule for the media
    // content-dedup triangle): persisted per-image pixel fingerprints
    // (SideTable, decoded ONCE per corpus snapshot), batch-only image
    // decode, verdicts for BATCH images against the FULL corpus.
    // Epoch-N ≡ from-scratch is structural — px_hash is a pure
    // function of the decoded pixel sequence, so artifact ∪
    // batch-delta IS the from-scratch fingerprint frame (the q203
    // argument; lifecycle-spec-pinned). The oracle replays the
    // whole-corpus q207 grouping from the pixel formula and filters
    // to the batch. Scale: decode is batch-proportional; the group +
    // join-back shuffle IMAGE-grain rows only.
    "q211_incremental_image_dedup" -> ((s, dir) => {
      val docs = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, docs, "doc_id")
      val fpr = Some(s"$dir/documents.parquet")
      val baseP = graft.sources.SideTable.ensure(s, "image_fp",
        s"$dir#$cut", fpr) {
        imageFp(syntheticDedupImages(docs.where(col("doc_id") < cut)))
      }
      val batch = imageFp(syntheticDedupImages(
          docs.where(col("doc_id") >= cut)))
        .localCheckpoint() // read by the union AND the verdict join
      val fp = s.read.parquet(baseP).unionByName(batch)
      val keys = Seq("width", "height", "px_hash")
      val groups = fp.groupBy(keys.map(col): _*)
        .agg(min(col("media_id")).as("dup_of"),
          count(lit(1)).cast("long").as("grp_size"))
      batch.join(groups, keys)
        .select(col("media_id"), col("width"), col("height"),
          col("px_hash"), col("dup_of"), col("grp_size"),
          (col("media_id") > col("dup_of")).cast("int").as("is_dup"))
        .orderBy("media_id")
    }),

    // ---- q212: INCREMENTAL image perceptual near-dup ---------------------
    // q208's crawl-loop square: the persisted artifact is the
    // perceptual-hash frame (media_id, ahash, dhash) — 16 bytes per
    // image, decoded once — and each epoch decodes ONLY its batch.
    // Bands are a pure bit-projection of the persisted 64-bit ahash,
    // so the band index derives from the artifact at image-grain
    // narrow-row cost (zero decode) instead of being a second
    // artifact. Candidate probing is batch-proportional BY KEY SHAPE:
    // ids are cut-split, so any pair touching the batch has its
    // LARGER member ≥ cut — the m2 side joins only batch bands, the
    // m1 side the full index (old↔old pairs, already reported by
    // earlier epochs, never regenerate). capBuckets guards the full
    // union (mirrored in the oracle); verify = exact bit_count on
    // candidates, the q208 contract filtered to new pairs.
    "q212_incremental_image_near_dup" -> ((s, dir) => {
      val docs = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, docs, "doc_id")
      val fpr = Some(s"$dir/documents.parquet")
      val baseP = graft.sources.SideTable.ensure(s, "image_ph",
        s"$dir#$cut", fpr) {
        graft.functions.Multimodal.perceptualHashes(
          syntheticDedupImages(docs.where(col("doc_id") < cut)), 8)
      }
      val batch = graft.functions.Multimodal.perceptualHashes(
          syntheticDedupImages(docs.where(col("doc_id") >= cut)), 8)
        .localCheckpoint() // read by the union AND the m2 hash join
      val ph = s.read.parquet(baseP).unionByName(batch)
        .localCheckpoint() // bands AND the m1 hash join
      val bands = ph.select(col("media_id"),
          explode(array((0 until 4).map(b => struct(lit(b).as("b"),
            shiftrightunsigned(col("ahash"), 16 * b)
              .bitwiseAND(lit(65535L)).as("bk"))): _*)).as("e"))
        .select(col("media_id"), col("e.b").as("b"), col("e.bk").as("bk"))
      val capped = graft.ops.Dedup.capBuckets(bands, Seq("b", "bk"), s,
        "q212 ahash bands", Conf.DedupMaxBucket(s))
        .localCheckpoint() // probed by BOTH pair sides
      val cand = capped.select(col("media_id").as("m1"), col("b"),
          col("bk"))
        .join(capped.where(col("media_id") >= cut)
          .select(col("media_id").as("m2"), col("b"), col("bk")),
          Seq("b", "bk"))
        .where(col("m1") < col("m2"))
        .select(col("m1"), col("m2")).distinct()
      val h1 = ph.select(col("media_id").as("m1"),
        col("ahash").as("a1"), col("dhash").as("d1"))
      val h2 = batch.select(col("media_id").as("m2"),
        col("ahash").as("a2"), col("dhash").as("d2"))
      cand.join(h1, Seq("m1")).join(h2, Seq("m2"))
        .select(col("m1"), col("m2"),
          expr("bit_count(a1 ^ a2)").cast("long").as("ham_a"),
          expr("bit_count(d1 ^ d2)").cast("long").as("ham_d"))
        .where(col("ham_a") <= 3)
        .orderBy("m1", "m2")
    }),

    // ---- q213: INCREMENTAL video clip detection --------------------------
    // q205's crawl-loop square — the last media-dedup member without
    // one: the persisted artifact is the per-video DISTINCT frame-hash
    // set (media_id, h), frame-count-bounded rows decoded ONCE per
    // snapshot; each epoch decodes only its batch. Old videos' overlap
    // denominators (n = |distinct frames|) come from the ARTIFACT, so
    // no old-media byte is ever re-read. Batch-proportional probing by
    // the q212 cut-split key shape (the m2 side joins batch hashes
    // only; old↔old pairs never regenerate); capBuckets guards the
    // full union with the cap mirrored in the oracle; containment is
    // the same exact integer-ppm contract filtered to new pairs.
    "q213_incremental_clip_detect" -> ((s, dir) => {
      val docs = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, docs, "doc_id")
      val fpr = Some(s"$dir/documents.parquet")
      val baseP = graft.sources.SideTable.ensure(s, "video_fh",
        s"$dir#$cut", fpr) {
        videoFrameHashes(syntheticMjpegVideos(
          docs.where(col("doc_id") < cut)))
      }
      val batch = videoFrameHashes(syntheticMjpegVideos(
          docs.where(col("doc_id") >= cut)))
      val fh = s.read.parquet(baseP).unionByName(batch)
        .localCheckpoint() // counts AND both pair sides (batch-only
                           // decode still: the artifact side is a read)
      val nf = fh.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // one row per video; joined twice
      val capped = graft.ops.Dedup.capBuckets(fh, Seq("h"), s,
        "q213 frame-hash buckets", Conf.DedupMaxBucket(s))
      val a = capped.select(col("media_id").as("m1"), col("h"))
      val b = capped.where(col("media_id") >= cut)
        .select(col("media_id").as("m2"), col("h"))
      val shared = a.join(b, Seq("h")).where(col("m1") < col("m2"))
        .groupBy(col("m1"), col("m2"))
        .agg(count(lit(1)).cast("long").as("n_shared"))
      shared
        .join(nf.select(col("media_id").as("m1"), col("n").as("n1")),
          Seq("m1"))
        .join(nf.select(col("media_id").as("m2"), col("n").as("n2")),
          Seq("m2"))
        .select(col("m1"), col("m2"), col("n_shared"),
          col("n1"), col("n2"),
          expr("(n_shared * 1000000L) div least(n1, n2)")
            .as("overlap_ppm"))
        .where(col("overlap_ppm") >= 500000L)
        .orderBy("m1", "m2")
    }),

    // ---- q215: cross-modal containment — images that are video stills ---
    // The dedup family's CROSS-MODAL member: a training-data pipeline
    // ingesting images AND videos must catch an image that is a frame
    // of a corpus video (thumbnails, still exports, key-frame scrapes)
    // — neither q207 (image↔image) nor q205 (video↔video) sees it.
    // Signature = the SAME frame-content stat tuple the video family
    // keys on ((w, h, p_sum, p_min, p_max) — the q205 grain): the
    // image side decodes through decodePixels (gated to grayscale:
    // all three channel stat tuples equal — a color photo can't be a
    // grayscale MJPEG frame), the video side through the exchange-free
    // frame decode, and candidates are one hash join on the stat
    // tuple; the fixture plants REAL grayscale PNGs carrying frame-0
    // rasters of plant-free videos (different codec, same pixels).
    // Stats are order-insensitive, so the match is robust to block
    // scan order by construction. Scale: decode rides both scans;
    // the join shuffles image-grain + distinct-frame-grain rows only.
    "q215_cross_modal_stills" -> ((s, dir) => {
      val docs = Graft.parquetSource(s, dir).table("documents")
      val ist = graft.functions.Multimodal.decodePixels(
          syntheticStillImages(docs))
        .where(col("format").isNotNull &&
          col("r_sum") === col("g_sum") && col("r_min") === col("g_min") &&
          col("r_max") === col("g_max") &&
          col("r_sum") === col("b_sum") && col("r_min") === col("b_min") &&
          col("r_max") === col("b_max"))
        .select(col("media_id").as("img_id"), col("width").as("w"),
          col("height").as("h"), col("r_sum").as("ps"),
          col("r_min").as("pmn"), col("r_max").as("pmx"))
      val vf = graft.functions.Multimodal.decodeVideoFrames(
          syntheticMjpegVideos(docs))
        .select(col("media_id").as("video_id"), col("width").as("w"),
          col("height").as("h"), col("p_sum").as("ps"),
          col("p_min").as("pmn"), col("p_max").as("pmx"))
        .distinct()
      ist.join(vf, Seq("w", "h", "ps", "pmn", "pmx"))
        .select(col("img_id"), col("video_id"), col("w").as("width"),
          col("h").as("height"))
        .orderBy("img_id", "video_id")
    }),

    // ---- q216: INCREMENTAL cross-modal stills ----------------------------
    // q215's crawl square, and the artifact-sharing payoff: the
    // per-video distinct frame-hash artifact q213 persists (video_fh —
    // hash60 over the SAME (w:h:sum:min:max) tuple) IS the cross-modal
    // index, because a grayscale image's stat tuple hashes identically.
    // Each image batch decodes ONLY itself, hashes its tuple, and
    // probes the artifact — zero video re-decodes, zero new artifacts,
    // batch-proportional throughout. Output: batch images matched to
    // OLD-corpus videos (the crawl question: "is this incoming image a
    // still of something we already have?"). Oracle = the q215 join
    // filtered to img ≥ cut, video < cut.
    "q216_incremental_cross_modal" -> ((s, dir) => {
      val docs = Graft.parquetSource(s, dir).table("documents")
      val cut = BatchCut.cut(s, docs, "doc_id")
      val fpr = Some(s"$dir/documents.parquet")
      val baseP = graft.sources.SideTable.ensure(s, "video_fh",
        s"$dir#$cut", fpr) {
        videoFrameHashes(syntheticMjpegVideos(
          docs.where(col("doc_id") < cut)))
      }
      val ist = graft.functions.Multimodal.decodePixels(
          syntheticStillImages(docs.where(col("doc_id") >= cut)))
        .where(col("format").isNotNull &&
          col("r_sum") === col("g_sum") && col("r_min") === col("g_min") &&
          col("r_max") === col("g_max") &&
          col("r_sum") === col("b_sum") && col("r_min") === col("b_min") &&
          col("r_max") === col("b_max"))
        .select(col("media_id").as("img_id"),
          col("width"), col("height"),
          graft.functions.TextFunctions.hash60(concat_ws(":",
            col("width"), col("height"), col("r_sum"), col("r_min"),
            col("r_max"))).as("h"))
      ist.join(s.read.parquet(baseP)
          .select(col("media_id").as("video_id"), col("h")), Seq("h"))
        .select(col("img_id"), col("video_id"), col("width"),
          col("height"))
        .orderBy("img_id", "video_id")
    }),

    // ---- q33: frame sampling — every 4th 16-byte frame -----------------
    "q33_frame_sample" -> ((s, dir) => {
      val frames = sampleFrames(col("payload"), 16, 4)
      media(s, dir)
        .select(
          col("media_id"),
          size(frames).as("n_frames"),
          hex(element_at(frames, 1)).as("first_frame_hex"),
          hex(element_at(frames, -1)).as("last_frame_hex"))
        .orderBy("media_id")
    })
  )

  /** The shared audio-formula CTEs (q197/q206 oracles): the planted
    * re-encode source (id % 13 == 9 carries id−9's samples, channels,
    * bit depth and frame count in a fresh container — non-recursive),
    * then the per-channel sample lists straight from the
    * SyntheticAudio formulas. Ends with `as_` = (media_id, ch, bits,
    * nf, trunc, c0, c1). */
  private[graft] val audioSrcCtes: String =
    """WITH ap AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 13 = 9 AND doc_id >= 9 AND
      |              NOT ((doc_id-9) % 13 = 9 AND doc_id-9 >= 9)
      |         THEN doc_id - 9 ELSE doc_id END AS src,
      |    (doc_id % 11 = 3) AS trunc
      |  FROM documents
      |), ad AS (
      |  SELECT media_id, src, trunc,
      |    (src % 2 + 1)::INT AS ch,
      |    (CASE WHEN src % 3 = 0 THEN 8 ELSE 16 END)::INT AS bits,
      |    (src % 40 + 50)::BIGINT AS nf
      |  FROM ap
      |), as_ AS (
      |  SELECT media_id, ch, bits, nf, trunc,
      |    list_transform(range(0, nf), f -> CASE WHEN bits = 8
      |      THEN (src*7 + (f*ch + 0)*13) % 256
      |      ELSE ((src*11 + (f*ch + 0)*17) % 65536) - 32768
      |      END) AS c0,
      |    CASE WHEN ch = 2 THEN list_transform(range(0, nf),
      |      f -> CASE WHEN bits = 8
      |        THEN (src*7 + (f*ch + 1)*13) % 256
      |        ELSE ((src*11 + (f*ch + 1)*17) % 65536) - 32768
      |        END)
      |    END AS c1
      |  FROM ad
      |)""".stripMargin

  /** The shared video-formula CTEs (q200/q202/q205 oracles): plant
    * flags (re-encode / clip, non-recursive — plants only source from
    * BASE videos), dims/frame-count via dimSrc, per-frame content via
    * frameSrc, block values per frame — the SyntheticVideo formulas
    * verbatim. Ends with `vs` = (media_id, us, w, h, nf, frame_idx,
    * bv list). */
  private[graft] val videoSrcCtes: String =
    """WITH vsrc AS (
      |  SELECT doc_id AS media_id,
      |    (40000 + (doc_id % 7) * 5000)::BIGINT AS us,
      |    CASE WHEN doc_id % 13 = 4 AND doc_id >= 4 AND
      |              NOT ((doc_id-4) % 13 = 4 AND doc_id-4 >= 4) AND
      |              NOT ((doc_id-4) % 19 = 6 AND doc_id-4 >= 6)
      |         THEN 1 ELSE 0 END AS reenc
      |  FROM documents WHERE doc_id % 11 <> 5
      |), vclip AS (
      |  SELECT media_id, us, reenc,
      |    CASE WHEN media_id % 19 = 6 AND media_id >= 6 AND reenc = 0
      |              AND NOT ((media_id-6) % 13 = 4 AND media_id-6 >= 4)
      |              AND NOT ((media_id-6) % 19 = 6 AND media_id-6 >= 6)
      |         THEN 1 ELSE 0 END AS clip
      |  FROM vsrc
      |), vd AS (
      |  SELECT media_id, us, reenc, clip,
      |    ((dsrc % 3 + 1) * 8)::BIGINT AS w,
      |    ((dsrc % 2 + 1) * 8)::BIGINT AS h,
      |    (dsrc % 3 + 2)::BIGINT AS nf
      |  FROM (SELECT *, CASE WHEN reenc = 1 THEN media_id - 4
      |                       WHEN clip = 1 THEN media_id - 6
      |                       ELSE media_id END AS dsrc FROM vclip)
      |), vs AS (
      |  SELECT media_id, us, w, h, nf, t.f::BIGINT AS frame_idx,
      |    list_transform(range(0, (w // 8) * (h // 8)), b ->
      |      ((CASE WHEN reenc = 1 THEN media_id - 4
      |             WHEN clip = 1 AND t.f < 2 THEN media_id - 6
      |             ELSE media_id END) * 7 + t.f * 31 + b * 3) % 256)
      |      AS bv
      |  FROM vd, unnest(range(0, nf)) AS t(f)
      |)""".stripMargin

  /** One decoded channel value at pixel index `i` under the q207/q208
    * plant grammar: base value (src·m + 3i) mod 256, with the sparse
    * ±1 near-dup perturbation (v ⊕ 1 = v + 1 − 2·(v%2) on every 7th
    * pixel) when `nearp` — the SyntheticImage formulas verbatim. */
  private def imgChan(m: String, i: String = "i"): String =
    s"CASE WHEN nearp = 1 AND ($i) % 7 = 3 THEN " +
      s"((src*($m) + 3*($i)) % 256) + 1 - 2*(((src*($m) + 3*($i)) % 256) % 2) " +
      s"ELSE (src*($m) + 3*($i)) % 256 END"

  /** The shared image-plant CTEs (q207/q208 oracles): plant flags
    * (re-encode id%13==4 / near-dup id%17==8, non-recursive — plants
    * only source from residue-plant-free ids, re-encode wins ties)
    * and dims/format-class via src. Ends with `idm` = (media_id,
    * nearp, src, w, h, sfmt). */
  private val imgPlantCtes: String =
    s"""WITH isrc AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 13 = 4 AND doc_id >= 4 AND
      |              NOT ((doc_id-4) % 13 = 4 AND doc_id-4 >= 4) AND
      |              NOT ((doc_id-4) % 17 = 8 AND doc_id-4 >= 8)
      |         THEN 1 ELSE 0 END AS reenc
      |  FROM documents
      |), inear AS (
      |  SELECT media_id, reenc,
      |    CASE WHEN media_id % 17 = 8 AND media_id >= 8 AND reenc = 0
      |              AND NOT ((media_id-8) % 13 = 4 AND media_id-8 >= 4)
      |              AND NOT ((media_id-8) % 17 = 8 AND media_id-8 >= 8)
      |         THEN 1 ELSE 0 END AS nearp
      |  FROM isrc
      |), idd AS (
      |  SELECT media_id, nearp,
      |    CASE WHEN reenc = 1 THEN media_id - 4
      |         WHEN nearp = 1 THEN media_id - 8
      |         ELSE media_id END AS src
      |  FROM inear
      |), idm AS (
      |  SELECT media_id, nearp, src,
      |    (src % 13 + 1)::BIGINT AS w, (src % 11 + 1)::BIGINT AS h,
      |    (src % 3)::INT AS sfmt
      |  FROM idd
      |)""".stripMargin

  /** The shared q215/q216 still-image stat CTEs (expects a preceding
    * `sdocs(doc_id)` CTE selecting the image ids in scope): the
    * [[graft.functions.SyntheticImage.stillSourceOf]] plant grammar —
    * near plant id−7 (id % 23 == 7), FAR plant id/2 (id % 29 == 11,
    * near wins ties; the multiplicative back-reference that stays
    * below every 4/5 cut) — then per-image (w, h, ps, pmn, pmx) stat
    * tuples: still plants from the source video's frame-0 block
    * formula, base images from the pixel formula under the grayscale
    * gate. Ends with `istat`. */
  private val stillStatCtes: String =
    """, sp AS (
      |  SELECT media_id,
      |    CASE WHEN nearp = 1 THEN media_id - 7
      |         WHEN media_id % 29 = 11 AND nearp = 0
      |              AND (media_id // 2) % 11 <> 5
      |              AND NOT ((media_id // 2) % 13 = 4
      |                       AND media_id // 2 >= 4)
      |              AND NOT ((media_id // 2) % 19 = 6
      |                       AND media_id // 2 >= 6)
      |         THEN media_id // 2
      |         ELSE -1 END AS svid
      |  FROM (SELECT doc_id AS media_id,
      |          CASE WHEN doc_id % 23 = 7 AND doc_id >= 7
      |                    AND (doc_id-7) % 11 <> 5
      |                    AND NOT ((doc_id-7) % 13 = 4 AND doc_id-7 >= 4)
      |                    AND NOT ((doc_id-7) % 19 = 6 AND doc_id-7 >= 6)
      |               THEN 1 ELSE 0 END AS nearp
      |        FROM sdocs)
      |), sdim AS (
      |  SELECT media_id, svid,
      |    (CASE WHEN svid >= 0 THEN (svid % 3 + 1) * 8
      |          ELSE media_id % 13 + 1 END)::BIGINT AS w,
      |    (CASE WHEN svid >= 0 THEN (svid % 2 + 1) * 8
      |          ELSE media_id % 11 + 1 END)::BIGINT AS h
      |  FROM sp
      |), ibase AS (
      |  SELECT media_id, w, h,
      |    list_transform(range(0, w*h), i -> (media_id*7 + 3*i) % 256)
      |      AS lr,
      |    list_transform(range(0, w*h), i -> (media_id*mg + 3*i) % 256)
      |      AS lg,
      |    list_transform(range(0, w*h), i -> (media_id*mb + 3*i) % 256)
      |      AS lb
      |  FROM (SELECT media_id, w, h,
      |          CASE WHEN media_id % 3 = 0 THEN 11 ELSE 7 END AS mg,
      |          CASE WHEN media_id % 3 = 0 THEN 13 ELSE 7 END AS mb
      |        FROM sdim WHERE svid < 0)
      |), istat AS (
      |  SELECT media_id, w, h,
      |    list_sum(lr)::BIGINT AS ps, list_min(lr)::BIGINT AS pmn,
      |    list_max(lr)::BIGINT AS pmx
      |  FROM ibase
      |  WHERE list_sum(lr) = list_sum(lg)
      |    AND list_min(lr) = list_min(lg)
      |    AND list_max(lr) = list_max(lg)
      |    AND list_sum(lr) = list_sum(lb)
      |    AND list_min(lr) = list_min(lb)
      |    AND list_max(lr) = list_max(lb)
      |  UNION ALL
      |  SELECT media_id, w, h,
      |    (64 * list_sum(sv))::BIGINT, list_min(sv)::BIGINT,
      |    list_max(sv)::BIGINT
      |  FROM (SELECT media_id, w, h,
      |          list_transform(range(0, (w // 8) * (h // 8)),
      |            b -> (svid*7 + b*3) % 256) AS sv
      |        FROM sdim WHERE svid >= 0)
      |)""".stripMargin

  /** [[imgPlantCtes]] + the per-channel decoded pixel lists straight
    * from the SyntheticImage formulas (R multiplier 7 always; G/B are
    * 11/13 for truecolor, 7 for the single-channel formats where
    * decoded r = g = b). Ends with `ipx` = (media_id, nearp, src, w,
    * h, sfmt, pr, pg, pb). */
  private val imgSrcCtes: String =
    imgPlantCtes + s""", ipx AS (
      |  SELECT media_id, nearp, src, w, h, sfmt,
      |    list_transform(range(0, w*h), i -> ${imgChan("7")}) AS pr,
      |    list_transform(range(0, w*h), i ->
      |      ${imgChan("CASE WHEN sfmt = 0 THEN 11 ELSE 7 END")}) AS pg,
      |    list_transform(range(0, w*h), i ->
      |      ${imgChan("CASE WHEN sfmt = 0 THEN 13 ELSE 7 END")}) AS pb
      |  FROM idm
      |)""".stripMargin

  /** The 0-based source pixel index sampled by thumb cell k of the
    * 8×8 NN raster — the decodeThumbnails/phash integer map. */
  private val ThumbSi: String =
    "(((k // 8) * h // 8) * w + ((k % 8) * w // 8))"

  val oracles: Map[String, String] = Map(
    // payload == UTF-8 text bytes; documents are pure ASCII (verified), so
    // varchar substring == byte slicing and md5(text) == md5(payload).
    "q32_media_features" ->
      """SELECT doc_id AS media_id,
        |  'image' AS media_type,
        |  (length(text) % 1920)::int AS width,
        |  octet_length(text::blob) AS n_bytes,
        |  (('0x'||substr(md5(text),1,8))::bigint % 997)::double / 997.0 AS f0,
        |  (('0x'||substr(md5(text),9,8))::bigint % 991)::double / 991.0 AS f1,
        |  (('0x'||substr(md5(text),17,8))::bigint % 983)::double / 983.0 AS f2,
        |  octet_length(text::blob)::double AS f3,
        |  hex(substring(text, 1, 8)) AS thumb_hex
        |FROM documents
        |WHERE (length(text) % 1920) >= 200
        |ORDER BY media_id""".stripMargin,

    // Constructs the same format-faithful payloads from documents, then
    // RE-PARSES them with independent arithmetic over hex(payload):
    // byte i (1-based) = ('0x' || substr(h, 2*i-1, 2))::INT. PNG/GIF are
    // fixed-offset; JPEG is a recursive-CTE marker walk whose step adds
    // 2 + the declared big-endian segment length until a SOF marker
    // (C0-CF minus C4/C8/CC) is reached.
    // the q175 hx discipline on the audio side: construct the SAME
    // canonical WAV hex (parameters re-derived from doc_id), then
    // re-parse it independently at the RIFF byte offsets — marker
    // checks, little-endian field assembly, stride division; truncated
    // rows fail the marker/length gate and report 'unknown'
    "q190_audio_meta" -> {
      def le16h(e: String) =
        s"substr(lpad(hex($e),4,'0'),3,2) || substr(lpad(hex($e),4,'0'),1,2)"
      def le32h(e: String) =
        s"substr(lpad(hex($e),8,'0'),7,2) || substr(lpad(hex($e),8,'0'),5,2)" +
          s" || substr(lpad(hex($e),8,'0'),3,2) || substr(lpad(hex($e),8,'0'),1,2)"
      def leInt(positions: Seq[Int]) =
        positions.zipWithIndex.map { case (p, i) =>
          s"('0x' || substr(h, $p, 2))::BIGINT * ${1L << (8 * i)}"
        }.mkString(" + ")
      s"""WITH p AS (
        |  SELECT doc_id, (doc_id % 2 + 1)::BIGINT AS ch,
        |    (8000 + (doc_id % 5) * 1000)::BIGINT AS rate,
        |    (CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END)::BIGINT AS bits,
        |    (doc_id % 40 + 50)::BIGINT AS ns
        |  FROM documents
        |), q AS (
        |  SELECT doc_id, ch, rate, bits, ns,
        |    ch * (bits // 8) AS stride,
        |    ns * ch * (bits // 8) AS ds
        |  FROM p
        |), hx AS MATERIALIZED (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 11 = 3 THEN substr(full_h, 1, 20)
        |         ELSE full_h END AS h
        |  FROM (
        |    SELECT doc_id,
        |      '52494646' || ${le32h("ds + 36")} || '57415645' ||
        |      '666D7420' || '10000000' || '0100' ||
        |      ${le16h("ch")} || ${le32h("rate")} ||
        |      ${le32h("rate * stride")} || ${le16h("stride")} ||
        |      ${le16h("bits")} || '64617461' || ${le32h("ds")} ||
        |      repeat('00', ds::INT) AS full_h
        |    FROM q
        |  )
        |), par AS (
        |  SELECT media_id, h,
        |    CASE WHEN length(h) >= 88 THEN
        |      (substr(h, 1, 8) = '52494646' AND
        |       substr(h, 17, 8) = '57415645' AND
        |       substr(h, 25, 8) = '666D7420' AND
        |       substr(h, 73, 8) = '64617461' AND
        |       (${leInt(Seq(41, 43))}) = 1)
        |    ELSE false END AS ok
        |  FROM hx
        |), f AS (
        |  SELECT media_id, ok,
        |    CASE WHEN ok THEN (${leInt(Seq(45, 47))}) END AS ch2,
        |    CASE WHEN ok THEN (${leInt(Seq(49, 51, 53, 55))}) END AS rate2,
        |    CASE WHEN ok THEN (${leInt(Seq(69, 71))}) END AS bits2,
        |    CASE WHEN ok THEN (${leInt(Seq(81, 83, 85, 87))}) END AS ds2
        |  FROM par
        |)
        |SELECT media_id,
        |  CASE WHEN ok AND ch2 * (bits2 // 8) > 0 THEN 'wav_pcm'
        |       ELSE 'unknown' END AS format,
        |  CASE WHEN ok THEN ch2::INT ELSE NULL END AS channels,
        |  CASE WHEN ok THEN rate2::INT ELSE NULL END AS sample_rate,
        |  CASE WHEN ok THEN bits2::INT ELSE NULL END AS bit_depth,
        |  CASE WHEN ok AND ch2 * (bits2 // 8) > 0
        |       THEN (ds2 // (ch2 * (bits2 // 8)))::BIGINT
        |       ELSE NULL END AS n_samples
        |FROM f ORDER BY media_id""".stripMargin
    },

    // Never parses a byte: evaluates the SyntheticAudio sample formula
    // directly (the q179 discipline on the audio side) — interleaved
    // sample s = f·ch + c is (id·7 + s·13) % 256 at 8-bit and
    // ((id·11 + s·17) % 65536) − 32768 at 16-bit; truncated rows
    // (id % 11 = 3) report 'unknown' with null stats.
    "q197_audio_pcm_stats" ->
      (audioSrcCtes + """
        |SELECT media_id,
        |  CASE WHEN trunc THEN 'unknown' ELSE 'wav_pcm' END AS format,
        |  CASE WHEN trunc THEN NULL ELSE ch END AS channels,
        |  CASE WHEN trunc THEN NULL ELSE bits END AS bit_depth,
        |  CASE WHEN trunc THEN NULL ELSE nf END AS n_frames,
        |  CASE WHEN trunc THEN NULL
        |       ELSE list_sum(c0)::BIGINT END AS c0_sum,
        |  CASE WHEN trunc THEN NULL
        |       ELSE list_min(c0)::INT END AS c0_min,
        |  CASE WHEN trunc THEN NULL
        |       ELSE list_max(c0)::INT END AS c0_max,
        |  CASE WHEN trunc OR ch = 1 THEN NULL
        |       ELSE list_sum(c1)::BIGINT END AS c1_sum,
        |  CASE WHEN trunc OR ch = 1 THEN NULL
        |       ELSE list_min(c1)::INT END AS c1_min,
        |  CASE WHEN trunc OR ch = 1 THEN NULL
        |       ELSE list_max(c1)::INT END AS c1_max
        |FROM as_ ORDER BY media_id""".stripMargin),

    // the q190 hx discipline on the video side: construct the SAME
    // canonical MP4 hex (box parameters re-derived from doc_id), then
    // re-parse it independently at the ISO-BMFF byte offsets — box-type
    // marker checks, big-endian field assembly, 16.16 integer parts;
    // truncated rows fail the marker/length gate and report 'unknown'
    "q191_video_meta" ->
      s"""WITH p AS (
        |  SELECT doc_id,
        |    (600 + (doc_id % 5) * 100)::BIGINT AS ts,
        |    (doc_id % 86400 + 600)::BIGINT AS dur,
        |    (doc_id % 1920 + 1)::BIGINT AS w,
        |    (doc_id % 1080 + 1)::BIGINT AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN '69736F6D'
        |         ELSE '6D703432' END AS brand_hex
        |  FROM documents
        |), hx AS MATERIALIZED (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 11 = 7 THEN substr(full_h, 1, 24)
        |         ELSE full_h END AS h
        |  FROM (
        |    SELECT doc_id,
        |      '00000010' || '66747970' || brand_hex || '00000200' ||
        |      '000000D8' || '6D6F6F76' ||
        |      '0000006C' || '6D766864' || '00000000' ||
        |      '00000000' || '00000000' ||
        |      lpad(hex(ts), 8, '0') || lpad(hex(dur), 8, '0') ||
        |      '00010000' || '01000000' || '0000000000000000' ||
        |      '$UnityMatrixHex' || repeat('00', 24) || '00000002' ||
        |      '00000064' || '7472616B' ||
        |      '0000005C' || '746B6864' || '00000007' ||
        |      '00000000' || '00000000' || '00000001' || '00000000' ||
        |      lpad(hex(dur), 8, '0') || '0000000000000000' ||
        |      '00000000' || '00000000' ||
        |      '$UnityMatrixHex' ||
        |      lpad(hex(w * 65536), 8, '0') ||
        |      lpad(hex(h * 65536), 8, '0') AS full_h
        |    FROM p
        |  )
        |), par AS (
        |  SELECT media_id, h,
        |    (length(h) >= 464 AND
        |     substr(h, 9, 8) = '66747970' AND
        |     substr(h, 41, 8) = '6D6F6F76' AND
        |     substr(h, 57, 8) = '6D766864' AND
        |     substr(h, 273, 8) = '7472616B' AND
        |     substr(h, 289, 8) = '746B6864') AS ok
        |  FROM hx
        |), f AS (
        |  SELECT media_id, ok, h,
        |    CASE WHEN ok THEN decode(unhex(substr(h, 17, 8))) END AS brand2,
        |    CASE WHEN ok THEN ('0x' || substr(h, 89, 8))::BIGINT END AS ts2,
        |    CASE WHEN ok THEN ('0x' || substr(h, 97, 8))::BIGINT END AS dur2,
        |    CASE WHEN ok THEN ('0x' || substr(h, 449, 4))::BIGINT END AS w2,
        |    CASE WHEN ok THEN ('0x' || substr(h, 457, 4))::BIGINT END AS h2
        |  FROM par
        |)
        |SELECT media_id,
        |  CASE WHEN ok AND ts2 > 0 THEN 'mp4' ELSE 'unknown' END AS format,
        |  CASE WHEN ok THEN brand2 END AS brand,
        |  CASE WHEN ok AND w2 > 0 THEN w2::INT END AS width,
        |  CASE WHEN ok AND w2 > 0 THEN h2::INT END AS height,
        |  CASE WHEN ok AND ts2 > 0 THEN ts2 END AS timescale,
        |  CASE WHEN ok AND ts2 > 0 THEN dur2 END AS duration,
        |  CASE WHEN ok AND ts2 > 0 THEN dur2 * 1000 // ts2 END
        |    AS duration_ms,
        |  CASE WHEN ok THEN 1::INT END AS n_tracks,
        |  (length(h) // 2)::INT AS n_bytes
        |FROM f ORDER BY media_id""".stripMargin,

    "q175_image_meta" ->
      """WITH img AS (
        |  SELECT doc_id AS media_id,
        |    CASE doc_id % 3
        |      WHEN 0 THEN
        |        unhex('89504E470D0A1A0A') || unhex('0000000D') || encode('IHDR') ||
        |        unhex(lpad(hex(doc_id % 1920 + 1), 8, '0')) ||
        |        unhex(lpad(hex(doc_id % 1080 + 1), 8, '0')) ||
        |        unhex(lpad(hex(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END), 2, '0')) ||
        |        unhex('02000000') || unhex('DEADBEEF') ||
        |        encode(substring(text, 1, 8))
        |      WHEN 1 THEN
        |        encode('GIF8' || CASE WHEN doc_id % 2 = 1 THEN '7' ELSE '9' END || 'a') ||
        |        unhex(substring(lpad(hex(doc_id % 1920 + 1), 4, '0'), 3, 2)) ||
        |        unhex(substring(lpad(hex(doc_id % 1920 + 1), 4, '0'), 1, 2)) ||
        |        unhex(substring(lpad(hex(doc_id % 1080 + 1), 4, '0'), 3, 2)) ||
        |        unhex(substring(lpad(hex(doc_id % 1080 + 1), 4, '0'), 1, 2)) ||
        |        unhex(lpad(hex(128 + (doc_id % 8)), 2, '0')) ||
        |        unhex('0000') || encode(substring(text, 1, 8))
        |      ELSE
        |        unhex('FFD8') || unhex('FFE00010') || encode('JFIF') ||
        |        unhex('00010200000100010000') ||
        |        unhex('FFFE') || unhex(lpad(hex(doc_id % 7 + 2), 4, '0')) ||
        |        encode(repeat('x', (doc_id % 7)::INT)) ||
        |        unhex('FFC0000B08') ||
        |        unhex(lpad(hex(doc_id % 1080 + 1), 4, '0')) ||
        |        unhex(lpad(hex(doc_id % 1920 + 1), 4, '0')) ||
        |        unhex('01011100') || unhex('FFD9')
        |    END AS payload
        |  FROM documents WHERE text IS NOT NULL
        |), hx AS MATERIALIZED (
        |  SELECT media_id, hex(payload) AS h,
        |    octet_length(payload)::INT AS nb
        |  FROM img
        |), png AS (
        |  SELECT media_id, 'png' AS format,
        |    ('0x' || substr(h, 33, 8))::INT AS width,
        |    ('0x' || substr(h, 41, 8))::INT AS height,
        |    ('0x' || substr(h, 49, 2))::INT AS bit_depth
        |  FROM hx
        |  WHERE substr(h, 1, 16) = '89504E470D0A1A0A'
        |    AND substr(h, 25, 8) = hex('IHDR')
        |), gif AS (
        |  SELECT media_id, 'gif' AS format,
        |    ('0x' || substr(h, 13, 2))::INT + 256 * ('0x' || substr(h, 15, 2))::INT AS width,
        |    ('0x' || substr(h, 17, 2))::INT + 256 * ('0x' || substr(h, 19, 2))::INT AS height,
        |    (('0x' || substr(h, 21, 2))::INT % 8) + 1 AS bit_depth
        |  FROM hx
        |  WHERE substr(h, 1, 8) = hex('GIF8') AND substr(h, 11, 2) = hex('a')
        |), jw AS (
        |  WITH RECURSIVE walk AS (
        |    SELECT media_id, h, nb, 3 AS pos, 0 AS steps
        |    FROM hx WHERE substr(h, 1, 4) = 'FFD8'
        |    UNION ALL
        |    SELECT media_id, h, nb,
        |      pos + 2 + ('0x' || substr(h, 2*(pos+2)-1, 4))::INT AS pos,
        |      steps + 1
        |    FROM walk
        |    WHERE steps < 64 AND pos + 3 <= nb
        |      AND substr(h, 2*pos-1, 2) = 'FF'
        |      AND NOT (('0x' || substr(h, 2*pos+1, 2))::INT BETWEEN 192 AND 207
        |               AND ('0x' || substr(h, 2*pos+1, 2))::INT NOT IN (196, 200, 204))
        |      AND ('0x' || substr(h, 2*pos+1, 2))::INT NOT IN (217, 218)
        |  )
        |  SELECT media_id, 'jpeg' AS format,
        |    ('0x' || substr(h, 2*(pos+7)-1, 4))::INT AS width,
        |    ('0x' || substr(h, 2*(pos+5)-1, 4))::INT AS height,
        |    ('0x' || substr(h, 2*(pos+4)-1, 2))::INT AS bit_depth
        |  FROM walk
        |  WHERE pos + 8 <= nb AND substr(h, 2*pos-1, 2) = 'FF'
        |    AND ('0x' || substr(h, 2*pos+1, 2))::INT BETWEEN 192 AND 207
        |    AND ('0x' || substr(h, 2*pos+1, 2))::INT NOT IN (196, 200, 204)
        |)
        |SELECT m.media_id, m.format, m.width, m.height, m.bit_depth, hx.nb AS n_bytes
        |FROM (SELECT * FROM png UNION ALL SELECT * FROM gif
        |      UNION ALL SELECT * FROM jw) m
        |JOIN hx USING (media_id)
        |ORDER BY media_id""".stripMargin,

    // Never decodes a byte: evaluates the SyntheticImage pixel formula
    // directly (dimensions w = id%13+1, h = id%11+1; channel value
    // (id*m + 3i) % 256 with m = 7/11/13 for RGB-PNG and m = 7 for the
    // single gray/palette channel of PNG-gray and GIF). Engine-side,
    // ImageIO resolves gray and palette pixels to sRGB r = g = b.
    "q179_pixel_stats" ->
      """WITH d AS (
        |  SELECT doc_id AS media_id, doc_id % 3 AS fmt,
        |    doc_id % 13 + 1 AS width, doc_id % 11 + 1 AS height
        |  FROM documents
        |), s AS (
        |  SELECT media_id, fmt, width, height,
        |    list_transform(range(0, width*height),
        |      i -> (media_id*7 + i*3) % 256) AS pr,
        |    list_transform(range(0, width*height), i ->
        |      (media_id * (CASE WHEN fmt = 0 THEN 11 ELSE 7 END) + i*3) % 256) AS pg,
        |    list_transform(range(0, width*height), i ->
        |      (media_id * (CASE WHEN fmt = 0 THEN 13 ELSE 7 END) + i*3) % 256) AS pb
        |  FROM d
        |)
        |SELECT media_id,
        |  CASE WHEN fmt = 2 THEN 'gif' ELSE 'png' END AS format,
        |  width::BIGINT AS width, height::BIGINT AS height,
        |  (width*height)::BIGINT AS n_px,
        |  list_sum(pr)::BIGINT AS r_sum, list_min(pr)::BIGINT AS r_min,
        |  list_max(pr)::BIGINT AS r_max,
        |  list_sum(pg)::BIGINT AS g_sum, list_min(pg)::BIGINT AS g_min,
        |  list_max(pg)::BIGINT AS g_max,
        |  list_sum(pb)::BIGINT AS b_sum, list_min(pb)::BIGINT AS b_min,
        |  list_max(pb)::BIGINT AS b_max
        |FROM s ORDER BY media_id""".stripMargin,

    // Never touches a byte: evaluates the SyntheticVideo block formula
    // directly (the q179/q197 discipline on the video side) — frame f's
    // block b is (id·7 + f·31 + b·3) % 256, each block 64 constant
    // pixels; container columns re-derived from the same id formulas.
    // Truncated payloads (id % 11 = 5) contribute no rows.
    "q200_video_frame_stats" ->
      (videoSrcCtes + """
        |SELECT media_id, frame_idx,
        |  CASE WHEN media_id % 5 = 1 THEN 'dib' ELSE 'jpeg' END AS format,
        |  w AS width, h AS height, (w * h)::BIGINT AS n_px,
        |  (64 * list_sum(bv))::BIGINT AS p_sum,
        |  list_min(bv)::BIGINT AS p_min, list_max(bv)::BIGINT AS p_max,
        |  CASE WHEN media_id % 5 = 1 THEN 'DIB ' ELSE 'MJPG' END AS brand,
        |  w::INT AS c_width, h::INT AS c_height,
        |  (us * nf)::BIGINT AS duration_us, 1::INT AS n_tracks
        |FROM vs ORDER BY media_id, frame_idx""".stripMargin),

    // exact stat-tuple grouping straight from the sample formulas; the
    // re-encode src mapping makes planted pairs collide by construction
    "q206_audio_dedup" ->
      (audioSrcCtes + """, st AS (
        |  SELECT media_id,
        |    ch AS channels, bits AS bit_depth, nf AS n_frames,
        |    list_sum(c0)::BIGINT AS c0_sum,
        |    list_min(c0)::INT AS c0_min,
        |    list_max(c0)::INT AS c0_max,
        |    coalesce(list_sum(c1)::BIGINT, -999999999999) AS k1,
        |    coalesce(list_min(c1)::BIGINT, -999999999999) AS k2,
        |    coalesce(list_max(c1)::BIGINT, -999999999999) AS k3
        |  FROM as_ WHERE NOT trunc
        |), grp AS (
        |  SELECT channels, bit_depth, n_frames, c0_sum, c0_min, c0_max,
        |    k1, k2, k3, min(media_id) AS dup_of,
        |    count(*)::BIGINT AS grp_size
        |  FROM st GROUP BY ALL
        |)
        |SELECT st.media_id, st.channels, st.n_frames,
        |  g.dup_of, g.grp_size,
        |  (st.media_id > g.dup_of)::INT AS is_dup
        |FROM st JOIN grp g USING (channels, bit_depth, n_frames,
        |  c0_sum, c0_min, c0_max, k1, k2, k3)
        |ORDER BY st.media_id""".stripMargin),

    // every thumb pixel straight from the SyntheticImage formula (the
    // q179 discipline): thumb (x', y') samples source index
    // i = (y'·h // th')·w + (x'·w // tw'), channel (id·m + 3i) % 256
    // with m = 7/11/13 for RGB-PNG, m = 7 for gray/palette
    "q204_thumbnail_stats" ->
      """WITH d AS (
        |  SELECT doc_id AS media_id, doc_id % 3 AS fmt,
        |    (doc_id % 13 + 1)::BIGINT AS w,
        |    (doc_id % 11 + 1)::BIGINT AS h
        |  FROM documents
        |), c AS (
        |  SELECT media_id, fmt, w, h,
        |    least(4, w) AS tw, least(3, h) AS th
        |  FROM d
        |), s AS (
        |  SELECT media_id, fmt, w, h, tw, th,
        |    list_transform(range(0, tw * th), k ->
        |      (((k // tw) * h // th) * w + ((k % tw) * w // tw))) AS si
        |  FROM c
        |), px AS (
        |  SELECT media_id, fmt, w, h, tw, th,
        |    list_transform(si, i -> (media_id * 7 + i * 3) % 256) AS pr,
        |    list_transform(si, i -> (media_id *
        |      (CASE WHEN fmt = 0 THEN 11 ELSE 7 END) + i * 3) % 256) AS pg,
        |    list_transform(si, i -> (media_id *
        |      (CASE WHEN fmt = 0 THEN 13 ELSE 7 END) + i * 3) % 256) AS pb
        |  FROM s
        |)
        |SELECT media_id,
        |  CASE WHEN fmt = 2 THEN 'gif' ELSE 'png' END AS format,
        |  w AS src_w, h AS src_h, tw, th, (tw * th)::BIGINT AS n_px,
        |  list_sum(pr)::BIGINT AS r_sum, list_min(pr)::BIGINT AS r_min,
        |  list_max(pr)::BIGINT AS r_max,
        |  list_sum(pg)::BIGINT AS g_sum, list_min(pg)::BIGINT AS g_min,
        |  list_max(pg)::BIGINT AS g_max,
        |  list_sum(pb)::BIGINT AS b_sum, list_min(pb)::BIGINT AS b_min,
        |  list_max(pb)::BIGINT AS b_max
        |FROM px ORDER BY media_id""".stripMargin,

    // frame signatures straight from the block formula (the q200
    // discipline), hash60 = ('0x'||substr(md5,1,15))::BIGINT — the
    // house cross-engine hash; planted re-encodes (id % 13 = 4 read
    // content through id−4) collide by construction
    "q202_video_dedup" ->
      (videoSrcCtes + """, fh AS (
        |  SELECT media_id,
        |    ('0x' || substr(md5(
        |      frame_idx::VARCHAR || ':' || w::VARCHAR || ':' ||
        |      h::VARCHAR || ':' ||
        |      (64 * list_sum(bv))::BIGINT::VARCHAR || ':' ||
        |      list_min(bv)::BIGINT::VARCHAR || ':' ||
        |      list_max(bv)::BIGINT::VARCHAR), 1, 15))::BIGINT AS hh
        |  FROM vs
        |), sig AS (
        |  SELECT media_id, sum(hh)::BIGINT AS fp,
        |    count(*)::BIGINT AS n_frames
        |  FROM fh GROUP BY media_id
        |), grp AS (
        |  SELECT fp, min(media_id) AS dup_of, count(*)::BIGINT AS grp_size
        |  FROM sig GROUP BY fp
        |)
        |SELECT s.media_id, s.n_frames, s.fp, g.dup_of, g.grp_size,
        |  (s.media_id > g.dup_of)::INT AS is_dup
        |FROM sig s JOIN grp g USING (fp)
        |ORDER BY s.media_id""".stripMargin),

    // whole-corpus replay of the q202 grouping, filtered to the batch
    // (doc_id >= max·4/5, the BatchCut default) — equality proves the
    // artifact-append path reproduces from-scratch verdicts exactly
    "q209_incremental_video_dedup" ->
      (videoSrcCtes + """, fh AS (
        |  SELECT media_id,
        |    ('0x' || substr(md5(
        |      frame_idx::VARCHAR || ':' || w::VARCHAR || ':' ||
        |      h::VARCHAR || ':' ||
        |      (64 * list_sum(bv))::BIGINT::VARCHAR || ':' ||
        |      list_min(bv)::BIGINT::VARCHAR || ':' ||
        |      list_max(bv)::BIGINT::VARCHAR), 1, 15))::BIGINT AS hh
        |  FROM vs
        |), sig AS (
        |  SELECT media_id, sum(hh)::BIGINT AS fp,
        |    count(*)::BIGINT AS n_frames
        |  FROM fh GROUP BY media_id
        |), grp AS (
        |  SELECT fp, min(media_id) AS dup_of, count(*)::BIGINT AS grp_size
        |  FROM sig GROUP BY fp
        |)
        |SELECT s.media_id, s.n_frames, s.fp, g.dup_of, g.grp_size,
        |  (s.media_id > g.dup_of)::INT AS is_dup
        |FROM sig s JOIN grp g USING (fp)
        |WHERE s.media_id >= (SELECT (max(doc_id) * 4) // 5 FROM documents)
        |ORDER BY s.media_id""".stripMargin),

    // whole-corpus replay of the q206 grouping, filtered to the batch
    "q210_incremental_audio_dedup" ->
      (audioSrcCtes + """, st AS (
        |  SELECT media_id,
        |    ch AS channels, bits AS bit_depth, nf AS n_frames,
        |    list_sum(c0)::BIGINT AS c0_sum,
        |    list_min(c0)::INT AS c0_min,
        |    list_max(c0)::INT AS c0_max,
        |    coalesce(list_sum(c1)::BIGINT, -999999999999) AS k1,
        |    coalesce(list_min(c1)::BIGINT, -999999999999) AS k2,
        |    coalesce(list_max(c1)::BIGINT, -999999999999) AS k3
        |  FROM as_ WHERE NOT trunc
        |), grp AS (
        |  SELECT channels, bit_depth, n_frames, c0_sum, c0_min, c0_max,
        |    k1, k2, k3, min(media_id) AS dup_of,
        |    count(*)::BIGINT AS grp_size
        |  FROM st GROUP BY ALL
        |)
        |SELECT st.media_id, st.channels, st.n_frames,
        |  g.dup_of, g.grp_size,
        |  (st.media_id > g.dup_of)::INT AS is_dup
        |FROM st JOIN grp g USING (channels, bit_depth, n_frames,
        |  c0_sum, c0_min, c0_max, k1, k2, k3)
        |WHERE st.media_id >= (SELECT (max(doc_id) * 4) // 5 FROM documents)
        |ORDER BY st.media_id""".stripMargin),

    // frame hashes WITHOUT the index (time-shift-tolerant), per-video
    // distinct sets, shared-hash pair counts, integer-ppm containment.
    // The hb CTE mirrors the engine's Dedup.capBuckets guard (default
    // graft.dedup.maxBucket = 2000): a frame hash shared by more
    // videos drops from candidate generation on BOTH engines, so the
    // verify gate stays valid at corpus sizes where a degenerate
    // frame class (black frames, test cards) exceeds the cap
    "q205_video_clip_detect" ->
      (videoSrcCtes + s""", fh AS (
        |  SELECT DISTINCT media_id,
        |    ('0x' || substr(md5(
        |      w::VARCHAR || ':' || h::VARCHAR || ':' ||
        |      (64 * list_sum(bv))::BIGINT::VARCHAR || ':' ||
        |      list_min(bv)::BIGINT::VARCHAR || ':' ||
        |      list_max(bv)::BIGINT::VARCHAR), 1, 15))::BIGINT AS hh
        |  FROM vs
        |), nf AS (
        |  SELECT media_id, count(*)::BIGINT AS n FROM fh GROUP BY 1
        |), hb AS (
        |  SELECT hh FROM fh GROUP BY hh HAVING count(*) <= ${Conf.DedupMaxBucket.default}
        |), pr AS (
        |  SELECT a.media_id AS m1, b.media_id AS m2,
        |    count(*)::BIGINT AS n_shared
        |  FROM fh a JOIN fh b ON a.hh = b.hh AND a.media_id < b.media_id
        |  JOIN hb ON hb.hh = a.hh
        |  GROUP BY 1, 2
        |)
        |SELECT m1, m2, n_shared, na.n AS n1, nb.n AS n2,
        |  ((n_shared * 1000000) // least(na.n, nb.n))::BIGINT
        |    AS overlap_ppm
        |FROM pr JOIN nf na ON na.media_id = m1
        |JOIN nf nb ON nb.media_id = m2
        |WHERE (n_shared * 1000000) // least(na.n, nb.n) >= 500000
        |ORDER BY m1, m2""".stripMargin),

    // folds the identical rolling hash straight from the pixel-formula
    // lists (interleaved r,g,b per pixel; base 31 mod 1e9+7, seed 7 via
    // list_prepend before the reduce) — never decodes a byte; the
    // plant src mapping makes re-encode pairs collide by construction
    "q207_image_dedup" ->
      (imgSrcCtes + """, iph AS (
        |  SELECT media_id, w, h,
        |    list_reduce(list_prepend(7, flatten(
        |      list_transform(range(0, w*h),
        |        i -> [pr[i+1], pg[i+1], pb[i+1]]))),
        |      (a, x) -> (a*31 + x) % 1000000007) AS px_hash
        |  FROM ipx
        |), grp AS (
        |  SELECT w, h, px_hash, min(media_id) AS dup_of,
        |    count(*)::BIGINT AS grp_size
        |  FROM iph GROUP BY 1, 2, 3
        |)
        |SELECT i.media_id, i.w AS width, i.h AS height, i.px_hash,
        |  g.dup_of, g.grp_size, (i.media_id > g.dup_of)::INT AS is_dup
        |FROM iph i JOIN grp g ON i.w = g.w AND i.h = g.h
        |  AND i.px_hash = g.px_hash
        |ORDER BY i.media_id""".stripMargin),

    // aHash/dHash bits straight from the sampled-pixel formula (R
    // multiplier is 7 for every format class), the SAME 4×16-bit band
    // join the engine runs (pigeonhole recall for Hamming ≤ 3, hb
    // mirroring graft.dedup.maxBucket's default), exact bit-count verify
    // on candidates
    "q208_image_near_dup" ->
      (imgPlantCtes +
        s""", pth AS (
        |  SELECT media_id,
        |    list_transform(range(0, 64), k ->
        |      ${imgChan("7", ThumbSi)}) AS v
        |  FROM idm WHERE w >= 8 AND h >= 8
        |), ah AS (
        |  SELECT media_id,
        |    list_transform(range(0, 64), k ->
        |      CASE WHEN v[k+1] * 64 > list_sum(v) THEN 1 ELSE 0 END) AS ab,
        |    list_transform(range(0, 64), k ->
        |      CASE WHEN v[k+1] > v[(k // 8) * 8 + ((k % 8) + 1) % 8 + 1]
        |           THEN 1 ELSE 0 END) AS db
        |  FROM pth
        |), bnd AS (
        |  SELECT media_id, t.b AS b,
        |    list_sum(list_transform(range(0, 16),
        |      j -> ab[t.b * 16 + j + 1] * (1 << j)))::BIGINT AS bk
        |  FROM ah, unnest([0, 1, 2, 3]) AS t(b)
        |), hb AS (
        |  SELECT b, bk FROM bnd GROUP BY b, bk HAVING count(*) <= ${Conf.DedupMaxBucket.default}
        |), cand AS (
        |  SELECT DISTINCT x.media_id AS m1, y.media_id AS m2
        |  FROM bnd x JOIN hb USING (b, bk) JOIN bnd y USING (b, bk)
        |  WHERE x.media_id < y.media_id
        |), ham AS (
        |  SELECT c.m1, c.m2,
        |    list_sum(list_transform(range(0, 64), k ->
        |      CASE WHEN a1.ab[k+1] <> a2.ab[k+1] THEN 1 ELSE 0 END
        |      ))::BIGINT AS ham_a,
        |    list_sum(list_transform(range(0, 64), k ->
        |      CASE WHEN a1.db[k+1] <> a2.db[k+1] THEN 1 ELSE 0 END
        |      ))::BIGINT AS ham_d
        |  FROM cand c JOIN ah a1 ON a1.media_id = c.m1
        |  JOIN ah a2 ON a2.media_id = c.m2
        |)
        |SELECT m1, m2, ham_a, ham_d FROM ham
        |WHERE ham_a <= 3 ORDER BY m1, m2""".stripMargin),

    // whole-corpus replay of the q207 grouping, filtered to the batch
    "q211_incremental_image_dedup" ->
      (imgSrcCtes + """, iph AS (
        |  SELECT media_id, w, h,
        |    list_reduce(list_prepend(7, flatten(
        |      list_transform(range(0, w*h),
        |        i -> [pr[i+1], pg[i+1], pb[i+1]]))),
        |      (a, x) -> (a*31 + x) % 1000000007) AS px_hash
        |  FROM ipx
        |), grp AS (
        |  SELECT w, h, px_hash, min(media_id) AS dup_of,
        |    count(*)::BIGINT AS grp_size
        |  FROM iph GROUP BY 1, 2, 3
        |)
        |SELECT i.media_id, i.w AS width, i.h AS height, i.px_hash,
        |  g.dup_of, g.grp_size, (i.media_id > g.dup_of)::INT AS is_dup
        |FROM iph i JOIN grp g ON i.w = g.w AND i.h = g.h
        |  AND i.px_hash = g.px_hash
        |WHERE i.media_id >= (SELECT (max(doc_id) * 4) // 5 FROM documents)
        |ORDER BY i.media_id""".stripMargin),

    // whole-corpus replay of the q208 band join + verify, filtered to
    // pairs touching the batch: ids are cut-split, so m2 >= cut is
    // EXACTLY "at least one side in the batch" under m1 < m2
    "q212_incremental_image_near_dup" ->
      (imgPlantCtes +
        s""", pth AS (
        |  SELECT media_id,
        |    list_transform(range(0, 64), k ->
        |      ${imgChan("7", ThumbSi)}) AS v
        |  FROM idm WHERE w >= 8 AND h >= 8
        |), ah AS (
        |  SELECT media_id,
        |    list_transform(range(0, 64), k ->
        |      CASE WHEN v[k+1] * 64 > list_sum(v) THEN 1 ELSE 0 END) AS ab,
        |    list_transform(range(0, 64), k ->
        |      CASE WHEN v[k+1] > v[(k // 8) * 8 + ((k % 8) + 1) % 8 + 1]
        |           THEN 1 ELSE 0 END) AS db
        |  FROM pth
        |), bnd AS (
        |  SELECT media_id, t.b AS b,
        |    list_sum(list_transform(range(0, 16),
        |      j -> ab[t.b * 16 + j + 1] * (1 << j)))::BIGINT AS bk
        |  FROM ah, unnest([0, 1, 2, 3]) AS t(b)
        |), hb AS (
        |  SELECT b, bk FROM bnd GROUP BY b, bk HAVING count(*) <= ${Conf.DedupMaxBucket.default}
        |), cand AS (
        |  SELECT DISTINCT x.media_id AS m1, y.media_id AS m2
        |  FROM bnd x JOIN hb USING (b, bk) JOIN bnd y USING (b, bk)
        |  WHERE x.media_id < y.media_id
        |), ham AS (
        |  SELECT c.m1, c.m2,
        |    list_sum(list_transform(range(0, 64), k ->
        |      CASE WHEN a1.ab[k+1] <> a2.ab[k+1] THEN 1 ELSE 0 END
        |      ))::BIGINT AS ham_a,
        |    list_sum(list_transform(range(0, 64), k ->
        |      CASE WHEN a1.db[k+1] <> a2.db[k+1] THEN 1 ELSE 0 END
        |      ))::BIGINT AS ham_d
        |  FROM cand c JOIN ah a1 ON a1.media_id = c.m1
        |  JOIN ah a2 ON a2.media_id = c.m2
        |)
        |SELECT m1, m2, ham_a, ham_d FROM ham
        |WHERE ham_a <= 3
        |  AND m2 >= (SELECT (max(doc_id) * 4) // 5 FROM documents)
        |ORDER BY m1, m2""".stripMargin),

    // whole-corpus replay of the q205 containment, filtered to pairs
    // touching the batch (cut-split ids: m2 >= cut ⟺ some side new)
    "q213_incremental_clip_detect" ->
      (videoSrcCtes + s""", fh AS (
        |  SELECT DISTINCT media_id,
        |    ('0x' || substr(md5(
        |      w::VARCHAR || ':' || h::VARCHAR || ':' ||
        |      (64 * list_sum(bv))::BIGINT::VARCHAR || ':' ||
        |      list_min(bv)::BIGINT::VARCHAR || ':' ||
        |      list_max(bv)::BIGINT::VARCHAR), 1, 15))::BIGINT AS hh
        |  FROM vs
        |), nf AS (
        |  SELECT media_id, count(*)::BIGINT AS n FROM fh GROUP BY 1
        |), hb AS (
        |  SELECT hh FROM fh GROUP BY hh HAVING count(*) <= ${Conf.DedupMaxBucket.default}
        |), pr AS (
        |  SELECT a.media_id AS m1, b.media_id AS m2,
        |    count(*)::BIGINT AS n_shared
        |  FROM fh a JOIN fh b ON a.hh = b.hh AND a.media_id < b.media_id
        |  JOIN hb ON hb.hh = a.hh
        |  GROUP BY 1, 2
        |)
        |SELECT m1, m2, n_shared, na.n AS n1, nb.n AS n2,
        |  ((n_shared * 1000000) // least(na.n, nb.n))::BIGINT
        |    AS overlap_ppm
        |FROM pr JOIN nf na ON na.media_id = m1
        |JOIN nf nb ON nb.media_id = m2
        |WHERE (n_shared * 1000000) // least(na.n, nb.n) >= 500000
        |  AND m2 >= (SELECT (max(doc_id) * 4) // 5 FROM documents)
        |ORDER BY m1, m2""".stripMargin),

    // both sides from the formulas: distinct per-video frame stat
    // tuples vs per-image channel stats (still plants use the source
    // video's frame-0 block formula; base images the pixel formula
    // with the grayscale gate) — the join replays the engine's exactly
    "q215_cross_modal_stills" ->
      (videoSrcCtes +
        ", sdocs AS (SELECT doc_id FROM documents)" +
        stillStatCtes + """, vfd AS (
        |  SELECT DISTINCT media_id AS video_id, w, h,
        |    (64 * list_sum(bv))::BIGINT AS ps,
        |    list_min(bv)::BIGINT AS pmn,
        |    list_max(bv)::BIGINT AS pmx
        |  FROM vs
        |)
        |SELECT i.media_id AS img_id, v.video_id,
        |  i.w AS width, i.h AS height
        |FROM istat i JOIN vfd v ON i.w = v.w AND i.h = v.h
        |  AND i.ps = v.ps AND i.pmn = v.pmn AND i.pmx = v.pmx
        |ORDER BY img_id, video_id""".stripMargin),

    // the q215 join filtered to batch images vs old-corpus videos
    "q216_incremental_cross_modal" ->
      (videoSrcCtes +
        """, sdocs AS (SELECT doc_id FROM documents
          |  WHERE doc_id >= (SELECT (max(doc_id) * 4) // 5
          |                   FROM documents))""".stripMargin +
        stillStatCtes + """, vfd AS (
        |  SELECT DISTINCT media_id AS video_id, w, h,
        |    (64 * list_sum(bv))::BIGINT AS ps,
        |    list_min(bv)::BIGINT AS pmn,
        |    list_max(bv)::BIGINT AS pmx
        |  FROM vs
        |  WHERE media_id < (SELECT (max(doc_id) * 4) // 5 FROM documents)
        |)
        |SELECT i.media_id AS img_id, v.video_id,
        |  i.w AS width, i.h AS height
        |FROM istat i JOIN vfd v ON i.w = v.w AND i.h = v.h
        |  AND i.ps = v.ps AND i.pmn = v.pmn AND i.pmx = v.pmx
        |ORDER BY img_id, video_id""".stripMargin),

    "q33_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |    list_transform(range(0, greatest((octet_length(text::blob)-1)//64, 0) + 1),
        |      i -> substring(text, (i*64+1)::int, 16)) frames
        |  FROM documents
        |)
        |SELECT media_id, len(frames) AS n_frames,
        |  hex(frames[1]) AS first_frame_hex,
        |  hex(frames[-1]) AS last_frame_hex
        |FROM f ORDER BY media_id""".stripMargin
  )
}
