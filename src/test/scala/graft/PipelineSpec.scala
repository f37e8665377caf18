package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{EmbeddingFunctions, Multimodal, TextFunctions}

/** Unit tests for the training-data pipeline functions (TextFunctions,
  * EmbeddingFunctions, Multimodal) — semantics on hand-built rows, checked
  * against values computed by hand. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-pipeline-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import TextFunctions._

  private def one(df: DataFrame): Seq[Any] = df.collect().head.toSeq

  private def textDf(s: String): DataFrame = {
    import spark.implicits._
    Seq(s).toDF("t")
  }

  test("word/char/token counts") {
    val r = one(textDf("Hello, wonderful  world 42!").select(
      wordCount(col("t")), charCount(col("t")), bpeTokenCount(col("t"))))
    assert(r(0) == 4)   // Hello, | wonderful | world | 42!
    assert(r(1) == 27)
    // BPE-ish: Hell,o | , | wond,erfu,l | worl,d | 4 | 2 | ! => 11
    assert(r(2) == 11)
  }

  test("punct ratio and mean word length") {
    val r = one(textDf("ab, cd!").select(
      punctRatio(col("t")), meanWordLen(col("t"))))
    assert(r(0) == 2.0 / 7.0) // ',' and '!'
    assert(r(1) == 3.0)       // 6 non-space chars / 2 words
  }

  test("empty-ish text does not divide by zero") {
    val r = one(textDf(" ").select(
      punctRatio(col("t")), meanWordLen(col("t")), fingerprint(col("t"))))
    assert(r(0) == 0.0 && r(1) == 0.0)
  }

  test("shingles and shingle hashes") {
    val r = one(textDf("a b c d").select(shingles(col("t"), 3)))
    assert(r(0) == Seq("a b c", "b c d"))
    val short = one(textDf("a b").select(shingles(col("t"), 3)))
    assert(short(0) == Seq())
  }

  test("fingerprint is order-sensitive") {
    val fp1 = one(textDf("a b c").select(fingerprint(col("t"))))
    val fp2 = one(textDf("c b a").select(fingerprint(col("t"))))
    assert(fp1 != fp2)
  }

  test("hash60 matches the DuckDB-side definition") {
    // md5('hello') = 5d41402abc4b2a76...; first 15 hex = 0x5d41402abc4b2a7
    val r = one(textDf("hello").select(hash60(col("t"))))
    assert(r(0) == 0x5d41402abc4b2a7L)
  }

  test("native hash60 == built-in conv(substring(md5)) chain") {
    import spark.implicits._
    val df = Seq("", "hello", "a b c", "ünïcödé ẞtring", "x" * 5000,
      "tab\tnewline\n", "0123456789abcdef").toDF("t")
    val got = df.select(hash60(col("t")),
      conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // and via SQL through the extension registry
    graft.GraftExtensions.register(spark)
    df.createOrReplaceTempView("h60_probe")
    val sql = spark.sql(
      "SELECT graft_hash60(t) = CAST(conv(substring(md5(t),1,15),16,10) AS BIGINT) FROM h60_probe")
      .collect()
    assert(sql.forall(_.getBoolean(0)))
  }

  test("minhash signature: identical sets agree, disjoint sets differ") {
    import spark.implicits._
    val df = Seq("x y z w q r s t", "x y z w q r s t", "a b c d e f g h")
      .toDF("t")
    val sigs = df.select(minhashes(shingleHashes(col("t"), 3), 16)).collect()
    assert(sigs(0).getSeq[Long](0) == sigs(1).getSeq[Long](0))
    assert(sigs(0).getSeq[Long](0) != sigs(2).getSeq[Long](0))
  }

  test("simhash: near-identical texts are close, different texts far") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = a.replace("dog", "cat")
    val c = "completely unrelated words about spark catalyst tungsten rows"
    val df = Seq(a, b, c).toDF("t")
    val hs = df.select(simhash48(shingleHashes(col("t"), 3))).collect()
      .map(_.getLong(0))
    def ham(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    assert(ham(hs(0), hs(1)) < ham(hs(0), hs(2)))
  }

  test("jaccard of hash sets") {
    import spark.implicits._
    val df = Seq(("a b c d", "b c d e")).toDF("x", "y")
    // 2-gram sets: {ab,bc,cd} vs {bc,cd,de}: |∩|=2, |∪|=4
    val r = df.select(jaccard(
      shingleHashes(col("x"), 2), shingleHashes(col("y"), 2))).collect()
    assert(r.head.getDouble(0) == 0.5)
  }

  test("embedding dot/norm/cosine left-fold") {
    import spark.implicits._
    val df = Seq((Seq(3.0, 4.0), Seq(3.0, 4.0)), (Seq(1.0, 0.0), Seq(0.0, 1.0)))
      .toDF("a", "b")
    val r = df.select(
      EmbeddingFunctions.dot(col("a"), col("b")),
      EmbeddingFunctions.norm(col("a")),
      EmbeddingFunctions.cosine(col("a"), col("b"))).collect()
    assert(r(0).getDouble(0) == 25.0)
    assert(r(0).getDouble(1) == 5.0)
    assert(r(0).getDouble(2) == 1.0)
    assert(r(1).getDouble(2) == 0.0)
  }

  test("native dot expression ≡ fold dot, and registers as SQL function") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.5, -2.25, 3.125), Seq(0.5, 4.0, -1.75)),
      (Seq(0.1, 0.2, 0.3), Seq(0.3, 0.2, 0.1))).toDF("a", "b")
    val rows = df.select(
      EmbeddingFunctions.dot(col("a"), col("b")).as("fold"),
      EmbeddingFunctions.dotNative(col("a"), col("b")).as("native"))
      .collect()
    rows.foreach { r =>
      // bit-identical, not approximately equal — same IEEE op sequence
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // SQL registration path (SparkSessionExtensions function table)
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "select graft_dot(array(3.0D, 4.0D), array(3.0D, 4.0D))")
      .collect().head.getDouble(0)
    assert(viaSql == 25.0)
  }

  test("native max-abs/quantize ≡ lambda forms, bit-identical") {
    import spark.implicits._
    // Deterministic pseudorandom vectors across magnitudes (1e-12…1e12),
    // signs, exact-half rounding points, and a zero vector — the codegen
    // expressions must reproduce the interpreted HOF lambdas bit-for-bit
    // (the q82/q90 oracle hash depends on it).
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)
    val vecs: Seq[Seq[Double]] = (0 until 200).map { i =>
      val dim = 1 + (i % 9)
      val mag = math.pow(10.0, (i % 25) - 12)
      lcg(i * 7919L + 1).take(dim).map { r =>
        val u = (r >>> 11).toDouble / (1L << 53).toDouble // [0,1)
        (u - 0.5) * 2.0 * mag
      }.toSeq
    } :+ Seq(0.0, 0.0) :+ Seq(63.5, -63.5, 1.0) // exact .5 grid points
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val rows = df.select(col("id"), col("v"),
        array_max(transform(col("v"), x => abs(x))).as("mx_hof"),
        EmbeddingFunctions.maxAbsNative(col("v")).as("mx_nat"))
      .withColumn("qv_hof",
        when(col("mx_hof") > 0, transform(col("v"),
          x => floor((x * (lit(127.0d) / col("mx_hof"))) + lit(0.5d))
            .cast("double"))))
      .withColumn("qv_nat",
        when(col("mx_nat") > 0,
          EmbeddingFunctions.quantizeNative(col("v"), col("mx_nat"))))
      .collect()
    assert(rows.length == vecs.length)
    rows.foreach { r =>
      def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
      assert(bits(r.getDouble(2)) == bits(r.getDouble(3)),
        s"max-abs mismatch on id ${r.getLong(0)}")
      val (h, n) = (r.getSeq[Double](4), r.getSeq[Double](5))
      if (h == null) assert(n == null)
      else {
        assert(h.length == n.length)
        h.indices.foreach(i => assert(bits(h(i)) == bits(n(i)),
          s"quantize mismatch on id ${r.getLong(0)} elem $i: ${h(i)} vs ${n(i)}"))
      }
    }
    // empty array → null (array_max parity)
    val empty = Seq((1L, Seq.empty[Double])).toDF("id", "v")
      .select(EmbeddingFunctions.maxAbsNative(col("v"))).collect().head
    assert(empty.isNullAt(0))
    // SQL registration path
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "select graft_quantize(array(1.0D, -0.5D), graft_max_abs(array(1.0D, -0.5D)))")
      .collect().head.getSeq[Double](0)
    assert(viaSql == Seq(127.0, -63.0)) // floor(-63.5+0.5) = -63
  }

  test("hyperplanes are deterministic ±1 and reproducible") {
    val p1 = EmbeddingFunctions.hyperplanes(16, 64)
    val p2 = EmbeddingFunctions.hyperplanes(16, 64)
    assert(p1 == p2)
    assert(p1.flatten.forall(v => v == 1.0 || v == -1.0))
    // not degenerate: both signs present in every plane's first half
    assert(p1.forall(p => p.distinct.size == 2))
  }

  test("multimodal: payload plumbing, content fingerprint, frame sampling") {
    import spark.implicits._
    val docs = Seq((7L, "0123456789abcdef0123456789abcdef0123456789",
      "en", "src", 42L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.syntheticMedia(docs)
    assert(media.schema("payload").dataType.typeName == "binary")
    val r = media.select(
      Multimodal.payloadBytes(col("payload")),
      Multimodal.contentFeatures(col("payload")),
      Multimodal.sampleFrames(col("payload"), 16, 2),
      Multimodal.thumbnail(col("payload"), 4)).collect().head
    assert(r.getInt(0) == 42)
    val features = r.getSeq[Double](1)
    assert(features.length == 4 && features(3) == 42.0)
    val frames = r.getSeq[Array[Byte]](2)
    // stride 2 × 16 bytes over 42 bytes → offsets 0 and 32 → 2 frames
    assert(frames.length == 2)
    assert(new String(frames.head) == "0123456789abcdef")
    assert(new String(r.getAs[Array[Byte]](3)) == "0123")
  }

  test("image metadata: real container headers parse; malformed " +
      "payloads degrade to unknown, never throw") {
    import graft.functions.ImageMetaExpr.parse
    import org.apache.spark.unsafe.types.UTF8String
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def tup(b: Array[Byte]) = {
      val r = parse(b)
      (r.getUTF8String(0).toString,
        if (r.isNullAt(1)) -1 else r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3))
    }
    // a REAL 1×1 RGBA PNG header (the exact bytes `pngcrush` emits)
    val png = bytes(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
      0x00, 0x00, 0x00, 0x0D, 0x49, 0x48, 0x44, 0x52,
      0x00, 0x00, 0x00, 0x01, 0x00, 0x00, 0x00, 0x01,
      0x08, 0x06, 0x00, 0x00, 0x00, 0x1F, 0x15, 0xC4, 0x89)
    assert(tup(png) === (("png", 1, 1, 8)))
    // a REAL GIF89a screen descriptor: 3×2, GCT depth 7 (packed 0xF6)
    val gif = bytes('G', 'I', 'F', '8', '9', 'a',
      0x03, 0x00, 0x02, 0x00, 0xF6, 0x00, 0x00)
    assert(tup(gif) === (("gif", 3, 2, 7)))
    assert(tup(bytes('G', 'I', 'F', '8', '7', 'a',
      0x01, 0x01, 0x01, 0x00, 0x80, 0x00, 0x00))._1 === "gif")
    // a camera-style JPEG: SOI, APP1(EXIF) skipped by length, DQT
    // skipped, progressive SOF2 carries precision 8, h=2, w=3
    val jpg = bytes(0xFF, 0xD8,
      0xFF, 0xE1, 0x00, 0x08, 'E', 'x', 'i', 'f', 0x00, 0x00,
      0xFF, 0xDB, 0x00, 0x04, 0x00, 0x00,
      0xFF, 0xC2, 0x00, 0x0B, 0x08, 0x00, 0x02, 0x00, 0x03,
      0x01, 0x01, 0x11, 0x00)
    assert(tup(jpg) === (("jpeg", 3, 2, 8)))
    // 0xFF fill padding between segments is legal JPEG — the walker
    // must skip it, not desync
    val jpgPad = bytes(0xFF, 0xD8, 0xFF, 0xFF, 0xFF, 0xFF,
      0xFF, 0xC0, 0x00, 0x0B, 0x08, 0x00, 0x05, 0x00, 0x06,
      0x01, 0x01, 0x11, 0x00)
    assert(tup(jpgPad) === (("jpeg", 6, 5, 8)))
    // degradation contract: truncated, desynced, and alien payloads
    // all yield ("unknown", null, null, null)
    assert(tup(png.take(20))._1 === "unknown") // truncated mid-IHDR
    assert(tup(bytes(0xFF, 0xD8, 0x00, 0x00))._1 === "unknown") // desync
    assert(tup(bytes(0xFF, 0xD8, 0xFF, 0xD9))._1 === "unknown") // EOI first
    assert(tup("plain text".getBytes("UTF-8"))._1 === "unknown")
    assert(tup(Array.empty[Byte])._1 === "unknown")
    // SQL surface: registered as graft_image_meta
    GraftExtensions.register(spark)
    import spark.implicits._
    val viaSql = Seq(png).toDF("b")
      .selectExpr("graft_image_meta(b) AS m")
      .selectExpr("m.format", "m.width", "m.height", "m.bit_depth")
      .collect().head
    assert((viaSql.getString(0), viaSql.getInt(1), viaSql.getInt(2),
      viaSql.getInt(3)) === (("png", 1, 1, 8)))
    // null payload → null struct
    val nullRow = Seq(Option.empty[Array[Byte]]).toDF("b")
      .selectExpr("graft_image_meta(b) AS m").collect().head
    assert(nullRow.isNullAt(0))
  }

  test("audio metadata: the RIFF chunk walk parses real layouts; " +
      "malformed payloads degrade to unknown, never throw") {
    import graft.functions.AudioMetaExpr.parse
    def tup(b: Array[Byte]) = {
      val r = parse(b)
      (r.getUTF8String(0).toString,
        if (r.isNullAt(1)) -1 else r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))
    }
    def le16(x: Int) = Array((x & 0xFF).toByte, ((x >> 8) & 0xFF).toByte)
    def le32(x: Int) = Array((x & 0xFF).toByte, ((x >> 8) & 0xFF).toByte,
      ((x >> 16) & 0xFF).toByte, ((x >> 24) & 0xFF).toByte)
    def chunk(id: String, body: Array[Byte]) =
      id.getBytes("ASCII") ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def fmtBody(code: Int, ch: Int, rate: Int, bits: Int) =
      le16(code) ++ le16(ch) ++ le32(rate) ++
        le32(rate * ch * bits / 8) ++ le16(ch * bits / 8) ++ le16(bits)
    def wav(chunks: Array[Byte]*) = {
      val body = "WAVE".getBytes("ASCII") ++ chunks.flatten
      "RIFF".getBytes("ASCII") ++ le32(body.length) ++ body
    }
    // canonical PCM: stereo 44.1 kHz 16-bit, 100 samples
    val pcm = wav(chunk("fmt ", fmtBody(1, 2, 44100, 16)),
      chunk("data", new Array[Byte](400)))
    assert(tup(pcm) === (("wav_pcm", 2, 44100, 16, 100L)))
    // NON-canonical layout the oracle's fixed offsets never see: a
    // LIST metadata chunk with an ODD size (exercising the even-pad
    // rule) BEFORE fmt, and data AFTER a fact chunk — the walk must
    // find both regardless of position
    val listed = wav(
      chunk("LIST", Array.fill(7)(0x41.toByte)), // odd → padded
      chunk("fmt ", fmtBody(3, 1, 8000, 32)),    // IEEE float mono
      chunk("fact", le32(25)),
      chunk("data", new Array[Byte](100)))
    assert(tup(listed) === (("wav_float", 1, 8000, 32, 25L)))
    // headers-only contract: data's DECLARED size counts even when
    // the audio bytes are absent (a truncated blob past the header)
    val headerOnly = wav(chunk("fmt ", fmtBody(1, 1, 8000, 8))) ++
      "data".getBytes("ASCII") ++ le32(12345)
    assert(tup(headerOnly) === (("wav_pcm", 1, 8000, 8, 12345L)))
    // degradation: truncation, alien bytes, zero stride, unknown codec
    assert(tup(pcm.take(10))._1 === "unknown")
    assert(tup("plain text not audio".getBytes)._1 === "unknown")
    assert(tup(Array.empty[Byte])._1 === "unknown")
    assert(tup(wav(chunk("fmt ", fmtBody(1, 0, 8000, 16)),
      chunk("data", new Array[Byte](4))))._1 === "unknown") // 0 channels
    assert(tup(wav(chunk("fmt ", fmtBody(85, 2, 44100, 16)),
      chunk("data", new Array[Byte](4))))._1 === "unknown") // MP3-in-WAV
    // adversarial declared size near Int.MaxValue: the chunk-walk cursor
    // must not wrap negative (would AIOOBE); the walk just terminates
    val hugeChunk = wav(
      "JUNK".getBytes("ASCII") ++ le32(0x7FFFFFF0),
      chunk("fmt ", fmtBody(1, 1, 8000, 8)))
    assert(tup(hugeChunk)._1 === "unknown")
    // SQL surface + null contract
    GraftExtensions.register(spark)
    import spark.implicits._
    val viaSql = Seq(pcm).toDF("b")
      .selectExpr("graft_audio_meta(b) AS m")
      .selectExpr("m.format", "m.channels", "m.sample_rate",
        "m.bit_depth", "m.n_samples").collect().head
    assert((viaSql.getString(0), viaSql.getInt(1), viaSql.getInt(2),
      viaSql.getInt(3), viaSql.getLong(4)) ===
      (("wav_pcm", 2, 44100, 16, 100L)))
    val nullRow = Seq(Option.empty[Array[Byte]]).toDF("b")
      .selectExpr("graft_audio_meta(b) AS m").collect().head
    assert(nullRow.isNullAt(0))
  }

  test("audio PCM decode: real sample stats from the data chunk; " +
      "truncated blobs decode complete frames, never throw") {
    import graft.functions.AudioPcmExpr.parse
    def le16(x: Int) = Array((x & 0xFF).toByte, ((x >> 8) & 0xFF).toByte)
    def le32(x: Int) = Array((x & 0xFF).toByte, ((x >> 8) & 0xFF).toByte,
      ((x >> 16) & 0xFF).toByte, ((x >> 24) & 0xFF).toByte)
    def chunk(id: String, body: Array[Byte]) =
      id.getBytes("ASCII") ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def fmtBody(code: Int, ch: Int, rate: Int, bits: Int) =
      le16(code) ++ le16(ch) ++ le32(rate) ++
        le32(rate * ch * bits / 8) ++ le16(ch * bits / 8) ++ le16(bits)
    def wav(chunks: Array[Byte]*) = {
      val body = "WAVE".getBytes("ASCII") ++ chunks.flatten
      "RIFF".getBytes("ASCII") ++ le32(body.length) ++ body
    }
    def tup(b: Array[Byte]) = {
      val r = parse(b)
      (r.getUTF8String(0).toString,
        if (r.isNullAt(3)) -1L else r.getLong(3),   // n_frames
        if (r.isNullAt(4)) -1L else r.getLong(4),   // c0_sum
        if (r.isNullAt(5)) -1 else r.getInt(5),     // c0_min
        if (r.isNullAt(6)) -1 else r.getInt(6),     // c0_max
        if (r.isNullAt(7)) -1L else r.getLong(7))   // c1_sum
    }
    // stereo 16-bit, 3 frames: L = 100,-200,300; R = -1,2,-3
    val st = wav(chunk("fmt ", fmtBody(1, 2, 8000, 16)),
      chunk("data", Seq(100, -1, -200, 2, 300, -3)
        .flatMap(v => le16(v & 0xFFFF)).toArray))
    assert(tup(st) === (("wav_pcm", 3L, 200L, -200, 300, -2L)))
    // mono 8-bit (unsigned domain): 0, 128, 255
    val mono = wav(chunk("fmt ", fmtBody(1, 1, 8000, 8)),
      chunk("data", Array(0, 128, 255).map(_.toByte)))
    assert(tup(mono) === (("wav_pcm", 3L, 383L, 0, 255, -1L)))
    // data BEFORE fmt (non-canonical order the oracle never sees)
    val rev = wav(
      chunk("data", Array[Byte](7, 9)),
      chunk("fmt ", fmtBody(1, 1, 8000, 8)))
    assert(tup(rev) === (("wav_pcm", 2L, 16L, 7, 9, -1L)))
    // truncated mid-data: stereo 16-bit declares 4 frames (16 bytes),
    // only 10 bytes present → 2 complete frames decode
    val full = wav(chunk("fmt ", fmtBody(1, 2, 8000, 16)),
      chunk("data", Seq(1, 2, 3, 4, 5, 6, 7, 8)
        .flatMap(le16).toArray))
    val cut = full.take(full.length - 6)
    assert(tup(cut) === (("wav_pcm", 2L, 4L, 1, 3, 6L)))
    // headers-only: declared size, zero data bytes present
    val hdr = wav(chunk("fmt ", fmtBody(1, 1, 8000, 8))) ++
      "data".getBytes("ASCII") ++ le32(100)
    assert(tup(hdr) === (("wav_pcm", 0L, -1L, -1, -1, -1L)))
    // degrade: float PCM, 24-bit, junk, empty
    assert(tup(wav(chunk("fmt ", fmtBody(3, 1, 8000, 32)),
      chunk("data", new Array[Byte](8))))._1 === "unknown")
    assert(tup(wav(chunk("fmt ", fmtBody(1, 1, 8000, 24)),
      chunk("data", new Array[Byte](6))))._1 === "unknown")
    assert(tup("not audio at all".getBytes)._1 === "unknown")
    assert(tup(Array.empty[Byte])._1 === "unknown")
    // adversarial declared size near Int.MaxValue before fmt/data: the
    // cursor must not wrap negative (would AIOOBE); walk terminates
    assert(tup(wav("JUNK".getBytes("ASCII") ++ le32(0x7FFFFFF0),
      chunk("fmt ", fmtBody(1, 1, 8000, 8))))._1 === "unknown")
    // SQL surface + null contract
    GraftExtensions.register(spark)
    import spark.implicits._
    val viaSql = Seq(st).toDF("b")
      .selectExpr("graft_audio_pcm(b) AS m")
      .selectExpr("m.format", "m.n_frames", "m.c0_sum", "m.c1_sum")
      .collect().head
    assert((viaSql.getString(0), viaSql.getLong(1), viaSql.getLong(2),
      viaSql.getLong(3)) === (("wav_pcm", 3L, 200L, -2L)))
    val nullRow = Seq(Option.empty[Array[Byte]]).toDF("b")
      .selectExpr("graft_audio_pcm(b) AS m").collect().head
    assert(nullRow.isNullAt(0))
  }

  test("video metadata: the ISO-BMFF box walk parses real layouts; " +
      "malformed payloads degrade to unknown, never throw") {
    import graft.functions.VideoMetaExpr.parse
    def tup(b: Array[Byte]) = {
      val r = parse(b)
      (r.getUTF8String(0).toString,
        if (r.isNullAt(1)) "" else r.getUTF8String(1).toString,
        if (r.isNullAt(2)) -1 else r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) -1 else r.getInt(6))
    }
    def be16(x: Int) = Array(((x >> 8) & 0xFF).toByte, (x & 0xFF).toByte)
    def be32(x: Long) = Array(((x >> 24) & 0xFF).toByte,
      ((x >> 16) & 0xFF).toByte, ((x >> 8) & 0xFF).toByte,
      (x & 0xFF).toByte)
    def be64(x: Long) = be32(x >>> 32) ++ be32(x & 0xFFFFFFFFL)
    def box(tp: String, body: Array[Byte]) =
      be32(body.length + 8L) ++ tp.getBytes("ASCII") ++ body
    val matrix = new Array[Byte](36)
    def ftyp(brand: String) =
      box("ftyp", brand.getBytes("ASCII") ++ be32(0x200))
    def mvhd0(ts: Long, dur: Long) = box("mvhd",
      be32(0) ++ be32(0) ++ be32(0) ++ be32(ts) ++ be32(dur) ++
        be32(0x00010000L) ++ be16(0x100) ++ be16(0) ++ new Array[Byte](8) ++
        matrix ++ new Array[Byte](24) ++ be32(2))
    def mvhd1(ts: Long, dur: Long) = box("mvhd",
      Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++ be32(ts) ++
        be64(dur) ++ be32(0x00010000L) ++ be16(0x100) ++ be16(0) ++
        new Array[Byte](8) ++ matrix ++ new Array[Byte](24) ++ be32(2))
    def tkhd0(w: Int, h: Int) = box("tkhd",
      be32(7) ++ be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++ be32(500) ++
        new Array[Byte](8) ++ be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++
        matrix ++ be32(w.toLong << 16) ++ be32(h.toLong << 16))
    def tkhd1(w: Int, h: Int) = box("tkhd",
      Array[Byte](1, 0, 0, 7) ++ be64(0) ++ be64(0) ++ be32(1) ++
        be32(0) ++ be64(500) ++ new Array[Byte](8) ++ be16(0) ++ be16(0) ++
        be16(0) ++ be16(0) ++ matrix ++
        be32(w.toLong << 16) ++ be32(h.toLong << 16))
    def trak(tkhd: Array[Byte]) = box("trak", tkhd)
    // canonical: ftyp + moov(mvhd v0 + one video trak)
    val canon = ftyp("isom") ++
      box("moov", mvhd0(600, 1200) ++ trak(tkhd0(640, 480)))
    assert(tup(canon) === (("mp4", "isom", 640, 480, 600L, 1200L, 1)))
    // NON-canonical layouts the oracle's fixed offsets never see:
    // a free box before moov, an AUDIO trak (zero width) FIRST, the
    // video trak second, mvhd v1 with a 64-bit duration, and an mdat
    // whose declared size runs past the blob (headers-only contract)
    val fancy = ftyp("mp42") ++ box("free", new Array[Byte](5)) ++
      box("moov", mvhd1(1000, 5000000000L) ++
        trak(tkhd0(0, 0)) ++ trak(tkhd1(1920, 1080))) ++
      be32(1000000L) ++ "mdat".getBytes("ASCII")
    assert(tup(fancy) === (("mp4", "mp42", 1920, 1080, 1000L,
      5000000000L, 2)))
    // mdat BEFORE moov (declared size skips it), 64-bit largesize box
    val late = ftyp("isom") ++
      (be32(1) ++ "mdat".getBytes("ASCII") ++ be64(16L)) ++
      box("moov", mvhd0(600, 60) ++ trak(tkhd0(16, 16)))
    assert(tup(late) === (("mp4", "isom", 16, 16, 600L, 60L, 1)))
    // audio-only movie: tracks counted, dimensions null
    val audioOnly = ftyp("M4A ") ++
      box("moov", mvhd0(44100, 441000) ++ trak(tkhd0(0, 0)))
    assert(tup(audioOnly) === (("mp4", "M4A ", -1, -1, 44100L,
      441000L, 1)))
    // degradation: truncation, no ftyp, no moov, zero timescale, junk
    assert(tup(canon.take(12))._1 === "unknown")
    assert(tup(canon.drop(16))._1 === "unknown")  // moov but no ftyp
    assert(tup(ftyp("isom"))._1 === "unknown")    // ftyp but no moov
    assert(tup(ftyp("isom") ++ box("moov", mvhd0(0, 0) ++
      trak(tkhd0(1, 1))))._1 === "unknown")       // timescale 0
    assert(tup("plain text not a movie".getBytes)._1 === "unknown")
    assert(tup(Array.empty[Byte])._1 === "unknown")
    // adversarial: an 8-byte (headerless-body) mvhd ending exactly at
    // the blob end — the version-byte read must be guarded, not AIOOBE
    assert(tup(ftyp("isom") ++
      box("moov", be32(8L) ++ "mvhd".getBytes("ASCII")))._1 === "unknown")
    // same for tkhd at the end of its trak: valid mvhd, then a bare
    // 8-byte tkhd at blob end → track counted, dimensions null
    assert(tup(ftyp("isom") ++ box("moov", mvhd0(600, 60) ++
      box("trak", be32(8L) ++ "tkhd".getBytes("ASCII")))) ===
      (("mp4", "isom", -1, -1, 600L, 60L, 1)))
    // SQL surface + null contract
    GraftExtensions.register(spark)
    import spark.implicits._
    val viaSql = Seq(canon).toDF("b")
      .selectExpr("graft_video_meta(b) AS m")
      .selectExpr("m.format", "m.brand", "m.width", "m.height",
        "m.timescale", "m.duration", "m.n_tracks").collect().head
    assert((viaSql.getString(0), viaSql.getString(1), viaSql.getInt(2),
      viaSql.getInt(3), viaSql.getLong(4), viaSql.getLong(5),
      viaSql.getInt(6)) === (("mp4", "isom", 640, 480, 600L, 1200L, 1)))
    val nullRow = Seq(Option.empty[Array[Byte]]).toDF("b")
      .selectExpr("graft_video_meta(b) AS m").collect().head
    assert(nullRow.isNullAt(0))
  }

  test("topk aggregator: bounded, ordered, merge-associative") {
    import graft.functions.TopK._
    val agg = new TopKAgg(3)
    val rows = (1 to 10).map(i => Scored(i.toDouble, i, 0, 0, 0))
    // reduce in one pass
    val all = rows.foldLeft(agg.zero)(agg.reduce)
    assert(all.map(_.score) == Seq(10.0, 9.0, 8.0))
    // merge of arbitrary splits gives the same result
    val (l, r) = rows.splitAt(4)
    val merged = agg.merge(
      l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(merged == all)
    // ties break on the key, ascending
    val ties = Seq(Scored(5.0, 2, 0, 0, 0), Scored(5.0, 1, 0, 0, 0),
      Scored(5.0, 3, 0, 0, 0), Scored(5.0, 0, 0, 0, 0))
    val t = ties.foldLeft(agg.zero)(agg.reduce)
    assert(t.map(_.k1) == Seq(0L, 1L, 2L))
  }

  test("arrow sink: batches cut at maxRecordsPerBatch rows per partition; " +
      "0 gives one") {
    val key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    val df = spark.range(0, 25000, 1, 2).toDF("id")
    val schema = org.apache.spark.sql.TestArrowBridge.arrowSchema(spark, df.schema)
    def batchRows = ArrowIpc.decode(schema,
      graft.sources.ArrowSink.collectIpcBatches(df).toSeq).map(_.size)
    // the default cap is 10,000 rows: 12,500 rows per partition cut in two
    spark.conf.unset(key)
    assert(batchRows == Seq(10000, 2500, 10000, 2500))
    spark.conf.set(key, "0")
    try assert(batchRows == Seq(12500, 12500))
    finally spark.conf.unset(key)
  }

  test("real pixel decode: ImageIO round-trips the synthetic PNG-RGB/" +
      "PNG-gray/GIF payloads to formula-exact per-channel stats") {
    import graft.functions.Multimodal._
    import spark.implicits._
    // ids chosen to hit every format (id%3), width (id%13) and height
    // (id%11) residue class at least once, plus 0 (1×1) and a big id
    val ids = (0L to 40L) ++ Seq(1000003L, 987654321L)
    val media = graft.queries.Media.syntheticValidImages(
      ids.toDF("doc_id")).repartition(4)
    val got = decodePixels(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == ids.toSet)
    // independent replica of the oracle formula — no SyntheticImage
    // code reuse beyond the payloads under test
    for (id <- ids) {
      val w = (id % 13 + 1).toInt; val h = (id % 11 + 1).toInt
      val fmt = if (id % 3 == 2) "gif" else "png"
      def chan(mult: Long): (Long, Long, Long) = {
        val vals = (0 until w * h).map(i => (id * mult + 3L * i) % 256)
        (vals.sum, vals.min, vals.max)
      }
      val (rm, gm, bm) =
        if (id % 3 == 0) (chan(7), chan(11), chan(13))
        else (chan(7), chan(7), chan(7))
      val r = got(id)
      assert(r.getString(1) == fmt, s"id $id format")
      assert(r.getLong(2) == w && r.getLong(3) == h, s"id $id dims")
      assert(r.getLong(4) == w.toLong * h, s"id $id n_px")
      assert((r.getLong(5), r.getLong(6), r.getLong(7)) == rm, s"id $id R")
      assert((r.getLong(8), r.getLong(9), r.getLong(10)) == gm, s"id $id G")
      assert((r.getLong(11), r.getLong(12), r.getLong(13)) == bm, s"id $id B")
    }
  }

  test("synthetic MJPEG exactness: the JDK JPEG decoder reconstructs " +
      "every constant-block grayscale frame bit-for-bit") {
    // the q200 oracle's licence to verify a LOSSY codec from a pure
    // formula: constant 8x8 blocks + all-ones quant tables decode
    // exactly (DC-only IDCT). Pin it against the actual JDK decoder
    // over every (width, height, frames) residue class and a big id.
    import graft.functions.SyntheticVideo._
    System.setProperty("java.awt.headless", "true")
    val ids = (0L to 30L) ++ Seq(987654321L)
    for (id <- ids; f <- 0 until framesOf(id)) {
      val w = widthOf(id); val h = heightOf(id); val bw = w / 8
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(frameJpeg(id, f)))
      assert(img != null, s"id=$id f=$f did not decode")
      assert(img.getWidth == w && img.getHeight == h, s"id=$id f=$f dims")
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w) {
        val b = (y / 8) * bw + (x / 8)
        val want = blockVal(id, f, b)
        val got = raster.getSample(x, y, 0)
        assert(got == want, s"id=$id f=$f px($x,$y): got $got want $want")
      }
    }
  }

  test("synthetic MJPEG exactness holds for ARBITRARY block values " +
      "and grid shapes (randomized, beyond the fixture formulas)") {
    // the q200 oracle's licence must not depend on the fixture's
    // particular (id, f, b) formula: any constant-block grayscale
    // raster under the all-ones tables must decode bit-exactly —
    // including the DC-difference extremes (0 and 255 adjacent, all
    // equal, alternating) a formula-driven fixture may never hit
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    System.setProperty("java.awt.headless", "true")
    val caseGen = for {
      bw <- Gen.choose(1, 5)
      bh <- Gen.choose(1, 4)
      blocks <- Gen.listOfN(bw * bh, Gen.choose(0, 255))
    } yield (bw, bh, blocks.toArray)
    val hand = Seq(
      (2, 1, Array(0, 255)), (2, 1, Array(255, 0)),
      (3, 2, Array(0, 255, 0, 255, 0, 255)),
      (1, 1, Array(128)), (2, 2, Array(0, 0, 0, 0)),
      (2, 2, Array(255, 255, 255, 255)))
    val rnd = (0 until 20).flatMap(i =>
      caseGen.apply(Gen.Parameters.default, Seed(77L + i)))
    (hand ++ rnd).foreach { case (bw, bh, blocks) =>
      val jpg = graft.functions.SyntheticVideo.jpegGray(bw, bh, blocks)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(jpg))
      assert(img != null, s"${bw}x$bh ${blocks.toSeq} did not decode")
      assert(img.getWidth == bw * 8 && img.getHeight == bh * 8)
      val raster = img.getRaster
      for (y <- 0 until bh * 8; x <- 0 until bw * 8) {
        val want = blocks((y / 8) * bw + (x / 8))
        val got = raster.getSample(x, y, 0)
        assert(got == want,
          s"${bw}x$bh px($x,$y): got $got want $want (${blocks.toSeq})")
      }
    }
  }

  test("video frame decode: the AVI movi walk extracts frames in " +
      "order; malformed containers yield no frames, never throw") {
    import graft.functions.Multimodal.aviFrames
    import graft.functions.SyntheticVideo
    // valid container: frames come back in stream order, each a JPEG
    val id = 7L
    val fs = aviFrames(SyntheticVideo.payload(id))
    assert(fs.length === SyntheticVideo.framesOf(id))
    fs.foreach { case (_, j) =>
      assert((j(0) & 0xFF) == 0xFF && (j(1) & 0xFF) == 0xD8, "not a JPEG")
    }
    assert(fs.map { case (f, j) => (f, j.toSeq) } ===
      (0 until fs.length).map(f =>
        (f, SyntheticVideo.frameJpeg(id, f).toSeq)))
    // container-grain sampling: stride 2 keeps stream indices 0, 2, …
    // (position-faithful) and never copies the skipped frames' bytes
    val s2 = aviFrames(SyntheticVideo.payload(id), stride = 2)
    assert(s2.map(_._1) === (0 until SyntheticVideo.framesOf(id) by 2))
    s2.foreach { case (f, j) =>
      assert(j.toSeq === SyntheticVideo.frameJpeg(id, f).toSeq) }
    // truncated fixture rows (id % 11 == 5) yield no frames
    assert(aviFrames(SyntheticVideo.payload(5L)).isEmpty)
    // degradation: junk, empty, WAV (RIFF but not AVI), huge chunk size
    assert(aviFrames("not a movie".getBytes).isEmpty)
    assert(aviFrames(Array.emptyByteArray).isEmpty)
    assert(aviFrames(graft.functions.SyntheticAudio.payload(1L)).isEmpty)
    val huge = "RIFF".getBytes ++ Array[Byte](100, 0, 0, 0) ++
      "AVI JUNK".getBytes ++ Array[Byte](-16, -1, -1, 127) // ~Int.MaxValue
    assert(aviFrames(huge).isEmpty) // Long cursor: terminates, no wrap
    // end-to-end decode: per-frame stats match the block formula —
    // id 11 is the uncompressed BI_RGB variant (id % 5 == 1): raw
    // '00db' frames decode through pure byte arithmetic, zero codecs
    import spark.implicits._
    assert(SyntheticVideo.isDib(11L) && !SyntheticVideo.isDib(3L))
    val media = graft.queries.Media.syntheticMjpegVideos(
      Seq(3L, 5L, 11L, 14L).toDF("doc_id")).repartition(2)
    val rows = graft.functions.Multimodal.decodeVideoFrames(media)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(!rows.keys.exists(_._1 == 5L), "truncated row decoded frames")
    for (mid <- Seq(3L, 11L, 14L);
        f <- 0 until SyntheticVideo.framesOf(mid)) {
      val r = rows((mid, f.toLong))
      val w = SyntheticVideo.widthOf(mid)
      val h = SyntheticVideo.heightOf(mid)
      val vals = (0 until (w / 8) * (h / 8))
        .map(b => SyntheticVideo.blockVal(mid, f, b))
      assert(r.getString(2) == (if (mid == 11L) "dib" else "jpeg"))
      assert(r.getLong(3) == w && r.getLong(4) == h)
      assert(r.getLong(6) == 64L * vals.sum, s"$mid/$f p_sum")
      assert(r.getLong(7) == vals.min && r.getLong(8) == vals.max)
    }
    // a desynced raw frame (wrong byte count for the dims) degrades
    import graft.functions.Multimodal.dibFrameStats
    assert(dibFrameStats(1L, 0, new Array[Byte](10), 8, 8).isEmpty)
    assert(dibFrameStats(1L, 0, new Array[Byte](8 * 8 * 3), -1, 8).isEmpty)
  }

  test("video metadata AVI arm: avih fields map into the shared " +
      "schema; the MP4 path is untouched") {
    import graft.functions.{SyntheticVideo, VideoMetaExpr}
    val id = 9L
    val r = VideoMetaExpr.parse(SyntheticVideo.payload(id))
    assert(r.getUTF8String(0).toString === "avi")
    assert(r.getUTF8String(1).toString === "MJPG")
    assert(r.getInt(2) === SyntheticVideo.widthOf(id))
    assert(r.getInt(3) === SyntheticVideo.heightOf(id))
    assert(r.getLong(4) === 1000000L) // µs ticks
    val us = 40000L + (id % 7) * 5000L
    assert(r.getLong(5) === us * SyntheticVideo.framesOf(id))
    assert(r.getInt(6) === 1)
    // truncated AVI degrades to unknown
    val t = VideoMetaExpr.parse(SyntheticVideo.payload(5L))
    assert(t.getUTF8String(0).toString === "unknown")
  }

  test("real thumbnail: NN downsample matches the formula, clamps " +
      "instead of upsampling, degrades on junk") {
    import graft.functions.Multimodal
    import spark.implicits._
    // id 30: 5x9 RGB-PNG (id%3==0) — downsamples to 4x3;
    // id 27: 2x6 RGB-PNG — width clamps to 2 (never upsample);
    // id 26: 1x5 gif — clamps to 1x3
    val ids = Seq(30L, 27L, 26L)
    val media = graft.queries.Media.syntheticValidImages(
      ids.toDF("doc_id"))
    val got = Multimodal.decodeThumbnails(media, 4, 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- ids) {
      val w = (id % 13 + 1).toInt; val h = (id % 11 + 1).toInt
      val twc = math.min(4, w); val thc = math.min(3, h)
      val r = got(id)
      assert(r.getLong(4) == twc && r.getLong(5) == thc, s"id $id clamp")
      // replicate the NN map + formula independently
      def chan(m: Long) = for (y <- 0 until thc; x <- 0 until twc)
        yield (id * m + 3L * ((y * h / thc) * w + (x * w / twc))) % 256
      val (rm, gm, bm) =
        if (id % 3 == 0) (chan(7), chan(11), chan(13))
        else (chan(7), chan(7), chan(7))
      assert((r.getLong(7), r.getLong(8), r.getLong(9)) ==
        ((rm.sum, rm.min, rm.max)), s"id $id R")
      assert((r.getLong(10), r.getLong(11), r.getLong(12)) ==
        ((gm.sum, gm.min, gm.max)), s"id $id G")
      assert((r.getLong(13), r.getLong(14), r.getLong(15)) ==
        ((bm.sum, bm.min, bm.max)), s"id $id B")
    }
    // junk degrades to the all-null row
    val junk = Seq((9L, "not an image".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val jr = Multimodal.decodeThumbnails(junk, 4, 3).collect().head
    (1 until 16).foreach(i => assert(jr.isNullAt(i), s"col $i"))
  }

  test("real pixel decode: undecodable payloads degrade to an all-null " +
      "stats row, never throw") {
    import graft.functions.Multimodal._
    import spark.implicits._
    val junk = Seq(
      (1L, Array.emptyByteArray),
      (2L, "not an image at all".getBytes("UTF-8")),
      // a PNG signature with a truncated body — recognized then fails
      (3L, Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A,
        0x0A, 0, 0)),
      (4L, Array.fill[Byte](64)(0x7F))
    ).toDF("media_id", "payload")
    val rows = decodePixels(junk).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(!r.isNullAt(0))
      (1 until 14).foreach(i => assert(r.isNullAt(i), s"col $i of $r"))
    }
  }

  test("incremental media dedup: persisted fingerprint artifacts are " +
      "reused (no old-media re-decode) and artifact ∪ batch-delta ≡ " +
      "from-scratch bit-for-bit") {
    import spark.implicits._
    import graft.sources.SideTable
    val s = spark
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_medialifecycle_").toFile
    val prev = s.conf.getOption("graft.artifacts.dir")
    s.conf.set("graft.artifacts.dir", tmp.getAbsolutePath)
    try {
      // base 0..59, batch 60..79 — the batch includes planted
      // re-encodes whose SOURCE lives in the base corpus (cross-epoch
      // dups, the case the incremental square exists for)
      val base = (0L until 60L).toDF("doc_id")
      val batch = (60L until 80L).toDF("doc_id")
      val all = (0L until 80L).toDF("doc_id")
      def check(name: String, sig: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame,
          mk: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame,
          sortCols: Seq[String] = Seq("media_id")): Unit = {
        val p0 = SideTable.ensure(s, name, "snap0") { sig(mk(base)) }
        // the batch-proportional decode claim: a second epoch touching
        // the same snapshot must NOT re-decode the old corpus
        val p1 = SideTable.ensure(s, name, "snap0")(
          fail(s"$name: old media re-decoded"))
        assert(p0 == p1)
        val incr = s.read.parquet(p0).unionByName(sig(mk(batch)))
        val scratch = sig(mk(all))
        // fingerprint = pure function of decoded content ⇒ append is
        // the from-scratch frame exactly (the q203 structural claim)
        assert(incr.orderBy(sortCols.head, sortCols.tail: _*)
          .collect().toSeq ==
          scratch.orderBy(sortCols.head, sortCols.tail: _*)
            .collect().toSeq, s"$name drift")
      }
      check("ml_video_fp", graft.queries.Media.videoSig,
        graft.queries.Media.syntheticMjpegVideos)
      check("ml_audio_fp", graft.queries.Media.audioStats,
        graft.queries.Media.syntheticPcmAudio)
      // the image legs (q211/q212): pixel fingerprints and perceptual
      // hashes are pure functions of decoded content too
      check("ml_image_fp", graft.queries.Media.imageFp,
        graft.queries.Media.syntheticDedupImages)
      check("ml_image_ph",
        m => graft.functions.Multimodal.perceptualHashes(m, 8),
        graft.queries.Media.syntheticDedupImages)
      // the clip-detection leg (q213): distinct frame-hash SETS are a
      // pure function of decoded content too (multi-row per video, so
      // the drift compare sorts on the full key)
      check("ml_video_fh", graft.queries.Media.videoFrameHashes,
        graft.queries.Media.syntheticMjpegVideos,
        sortCols = Seq("media_id", "h"))
    } finally {
      prev match {
        case Some(v) => s.conf.set("graft.artifacts.dir", v)
        case None => s.conf.unset("graft.artifacts.dir")
      }
    }
  }

  test("image content fingerprint: re-encode plants collide with their " +
      "source, near plants separate, hash is formula-exact") {
    import graft.functions.{Multimodal, SyntheticImage}
    import spark.implicits._
    val reenc = (0L to 500L).filter(SyntheticImage.isReencPlant)
    val near = (0L to 500L).filter(SyntheticImage.isNearPlant)
    assert(reenc.nonEmpty && near.nonEmpty)
    val ids = ((0L to 60L) ++ reenc.take(6) ++ reenc.take(6).map(_ - 4) ++
      near.take(6) ++ near.take(6).map(_ - 8)).distinct
    val media = graft.queries.Media.syntheticDedupImages(
      ids.toDF("doc_id")).repartition(3)
    val fp = Multimodal.fingerprintPixels(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(fp.keySet == ids.toSet)
    // independent replica of the plant grammar + rolling-hash formula
    // (the q207 oracle's arithmetic, no SyntheticImage code reuse)
    def replica(id: Long): (Long, Long, Long) = {
      val src = if (SyntheticImage.isReencPlant(id)) id - 4
        else if (SyntheticImage.isNearPlant(id)) id - 8 else id
      val prt = SyntheticImage.isNearPlant(id)
      val w = (src % 13 + 1).toInt; val h = (src % 11 + 1).toInt
      def v(m: Long, i: Int): Long = {
        val b = (src * m + 3L * i) % 256
        if (prt && i % 7 == 3) b + 1 - 2 * (b % 2) else b
      }
      val (mr, mg, mb) =
        if (src % 3 == 0) (7L, 11L, 13L) else (7L, 7L, 7L)
      val P = 1000000007L
      var acc = 7L
      for (i <- 0 until w * h) {
        acc = (acc * 31 + v(mr, i)) % P
        acc = (acc * 31 + v(mg, i)) % P
        acc = (acc * 31 + v(mb, i)) % P
      }
      (w.toLong, h.toLong, acc)
    }
    for (id <- ids) {
      val r = fp(id); val (w, h, hash) = replica(id)
      assert(r.getLong(2) == w && r.getLong(3) == h, s"id $id dims")
      assert(r.getLong(4) == hash, s"id $id px_hash")
    }
    // plant semantics on the DECODED content: every re-encode (Sub
    // refilter / PNG↔GIF cross-codec) collides with its source even
    // though the bytes differ; every ±1 perturbation separates
    for (id <- reenc.take(6)) {
      assert(!java.util.Arrays.equals(SyntheticImage.dedupPayload(id),
        SyntheticImage.dedupPayload(id - 4)), s"plant $id bytes differ")
      assert(fp(id).getLong(4) == fp(id - 4).getLong(4), s"plant $id")
    }
    // separation needs a perturbed pixel to EXIST (index 3 — absent
    // in <= 3-pixel images, whose near plant is legitimately exact)
    for (id <- near.take(6)) {
      val src = id - 8
      val npx = (src % 13 + 1) * (src % 11 + 1)
      if (npx > 3)
        assert(fp(id).getLong(4) != fp(src).getLong(4), s"near $id")
      else
        assert(fp(id).getLong(4) == fp(src).getLong(4), s"tiny near $id")
    }
  }

  test("perceptual hash: sub-8x8 images emit nothing, near plants stay " +
      "Hamming-close, 4x16-bit banding has exhaustive recall at " +
      "distance <= 3") {
    import graft.functions.{Multimodal, SyntheticImage}
    import spark.implicits._
    def dimsOf(id: Long): (Long, Long) = {
      val src = if (SyntheticImage.isReencPlant(id)) id - 4
        else if (SyntheticImage.isNearPlant(id)) id - 8 else id
      (src % 13 + 1, src % 11 + 1)
    }
    val all = (0L to 1200L)
    val big = all.filter(id => dimsOf(id)._1 >= 8 && dimsOf(id)._2 >= 8)
    val small = all.filter(id => dimsOf(id)._1 < 8 || dimsOf(id)._2 < 8)
    val ids = (big.take(150) ++ big.take(150).map(i =>
      if (SyntheticImage.isNearPlant(i)) i - 8 else i) ++
      small.take(6)).distinct
    val media = graft.queries.Media.syntheticDedupImages(
      ids.toDF("doc_id")).repartition(3)
    val ph = Multimodal.perceptualHashes(media, 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // only >= 8x8 sources emit (near/reenc plants inherit src dims)
    assert(ph.keySet == ids.filter(i =>
      dimsOf(i)._1 >= 8 && dimsOf(i)._2 >= 8).toSet)
    // near plants: the sparse ±1 perturbation moves almost no
    // threshold bits — every planted pair lands within distance 3
    val nearPairs = ph.keySet.filter(id =>
      SyntheticImage.isNearPlant(id) && ph.contains(id - 8))
    assert(nearPairs.nonEmpty)
    for (id <- nearPairs) {
      val d = java.lang.Long.bitCount(ph(id)._1 ^ ph(id - 8)._1)
      assert(d <= 3, s"near plant $id ahash distance $d")
    }
    // pigeonhole: every pair at ahash distance <= 3 shares one of the
    // four 16-bit bands — the q208 candidate join's recall guarantee
    val ks = ph.keys.toIndexedSeq.sorted
    for (i <- ks.indices; j <- (i + 1) until ks.size) {
      val (a1, a2) = (ph(ks(i))._1, ph(ks(j))._1)
      if (java.lang.Long.bitCount(a1 ^ a2) <= 3) {
        val shares = (0 until 4).exists(b =>
          ((a1 >>> (16 * b)) & 0xFFFFL) == ((a2 >>> (16 * b)) & 0xFFFFL))
        assert(shares, s"pair ${ks(i)},${ks(j)} missed by banding")
      }
    }
  }

  test("video frame decode: the DIB arm is gated on the container's " +
      "declared codec, and the movi walk has no frame-count cap") {
    import graft.functions.Multimodal
    import spark.implicits._
    val o = new java.io.ByteArrayOutputStream()
    def fourcc(s: String): Unit = s.foreach(c => o.write(c.toInt))
    def le32(v: Long): Unit = { o.write((v & 0xFF).toInt)
      o.write(((v >> 8) & 0xFF).toInt); o.write(((v >> 16) & 0xFF).toInt)
      o.write(((v >> 24) & 0xFF).toInt) }
    def chunk(id: String, body: Array[Byte]): Unit = {
      fourcc(id); le32(body.length.toLong); o.write(body, 0, body.length)
      if (body.length % 2 == 1) o.write(0)
    }
    // an 8x8 24-bit frame chunk of exactly rowBytes*h bytes whose
    // payload is NOT JPEG — under an 'XVID' fccHandler this must
    // decode to NOTHING (the old byte-sniff would misread it as DIB)
    val w = 8; val h = 8; val rowBytes = (w * 3 + 3) & ~3
    val fake = Array.fill[Byte](rowBytes * h)(0x41)
    def strh(codec: String): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      def l32(v: Long): Unit = { b.write((v & 0xFF).toInt)
        b.write(((v >> 8) & 0xFF).toInt); b.write(((v >> 16) & 0xFF).toInt)
        b.write(((v >> 24) & 0xFF).toInt) }
      "vids".foreach(c => b.write(c.toInt)); codec.foreach(c => b.write(c.toInt))
      (1 to 12).foreach(_ => l32(0L))
      b.toByteArray
    }
    def avi(codec: String, frames: Int): Array[Byte] = {
      o.reset()
      val avih = new Array[Byte](56) // usPerFrame=0 is fine for frames
      avih(0) = 1 // dwMicroSecPerFrame = 1 (avih parse wants > 0)
      avih(16) = (frames & 0xFF).toByte // dwTotalFrames (low byte)
      avih(24) = 1 // dwStreams
      avih(32) = w.toByte; avih(36) = h.toByte
      val hb = new java.io.ByteArrayOutputStream()
      def sub(id: String, body: Array[Byte]): Array[Byte] = {
        val s = new java.io.ByteArrayOutputStream()
        id.foreach(c => s.write(c.toInt))
        val n = body.length.toLong
        s.write((n & 0xFF).toInt); s.write(((n >> 8) & 0xFF).toInt)
        s.write(((n >> 16) & 0xFF).toInt); s.write(((n >> 24) & 0xFF).toInt)
        s.write(body, 0, body.length)
        if (body.length % 2 == 1) s.write(0)
        s.toByteArray
      }
      def lst(st: String, body: Array[Byte]): Array[Byte] = {
        val s = new java.io.ByteArrayOutputStream()
        "LIST".foreach(c => s.write(c.toInt))
        val n = body.length + 4L
        s.write((n & 0xFF).toInt); s.write(((n >> 8) & 0xFF).toInt)
        s.write(((n >> 16) & 0xFF).toInt); s.write(((n >> 24) & 0xFF).toInt)
        st.foreach(c => s.write(c.toInt))
        s.write(body, 0, body.length)
        s.toByteArray
      }
      val hdrl = lst("hdrl", sub("avih", avih) ++
        lst("strl", sub("strh", strh(codec))))
      val movi = lst("movi",
        (0 until frames).map(_ => sub("00dc", fake)).reduce(_ ++ _))
      val body = hdrl ++ movi
      fourcc("RIFF"); le32(body.length + 4L); fourcc("AVI ")
      o.write(body, 0, body.length)
      o.toByteArray
    }
    val xvid = avi("XVID", 2)
    val rows = Multimodal.decodeVideoFrames(
      Seq((1L, xvid)).toDF("media_id", "payload")).collect()
    assert(rows.isEmpty, "non-DIB codec misread as raw pixels")
    // same bytes under a declared 'DIB ' handler DO decode
    val dib = avi("DIB ", 2)
    val rows2 = Multimodal.decodeVideoFrames(
      Seq((1L, dib)).toDF("media_id", "payload")).collect()
    assert(rows2.length == 2 && rows2.forall(_.getString(2) == "dib"))
    // the movi walk keeps EVERY frame of a long container (the old
    // 4096-chunk desync guard silently dropped the tail)
    val many = Multimodal.aviFrames(avi("DIB ", 5000))
    assert(many.length == 5000)
    assert(many.last._1 == 4999)
  }
}
