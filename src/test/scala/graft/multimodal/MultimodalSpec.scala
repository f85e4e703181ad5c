package graft.multimodal

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.functions.TextOps

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** (width, height, channels, n_frames) of the reference JDK reader. */
  private def decoded(bytes: Array[Byte]): (Int, Int, Int, Int) = {
    val r = JvmCodec.decode(bytes)
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
  }

  test("payload plumbing: binary column + byte length") {
    val df = Multimodal.withPayload(Seq((1L, "abc"), (2L, "ab€")).toDF("id", "src"), "src")
    val rows = df.select("id", "byte_len").as[(Long, Int)].collect().toMap
    assert(rows(1L) == 3 && rows(2L) == 5) // € is 3 bytes in UTF-8
    assert(df.schema("payload").dataType.typeName == "binary")
  }

  test("MediaHeaders parses real PNG / GIF / WAV header bytes") {
    // Ground-truth fixtures built byte-for-byte from the specs:
    // 97x59 PNG IHDR, 320x200 GIF89a screen, stereo 44.1 kHz WAV fmt.
    val png = Array[Int](0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
      0x00, 0x00, 0x00, 0x0D, 0x49, 0x48, 0x44, 0x52,
      0x00, 0x00, 0x00, 0x61, 0x00, 0x00, 0x00, 0x3B).map(_.toByte)
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Int](0x40, 0x01, 0xC8, 0x00).map(_.toByte) // 320 LE, 200 LE
    val wav = "RIFF".getBytes("US-ASCII") ++
      Array[Int](0x24, 0x08, 0x00, 0x00).map(_.toByte) ++
      "WAVEfmt ".getBytes("US-ASCII") ++
      Array[Int](0x10, 0x00, 0x00, 0x00, 0x01, 0x00, 0x02, 0x00,
        0x44, 0xAC, 0x00, 0x00).map(_.toByte) // PCM, 2 ch, 44100 LE
    val txt = "just text".getBytes("US-ASCII")
    val df = Seq((1L, png), (2L, gif), (3L, wav), (4L, txt)).toDF("id", "payload")
    val got = df.select(col("id"),
        MediaHeaders.kind(col("payload")).as("kind"),
        MediaHeaders.width(col("payload")).as("w"),
        MediaHeaders.height(col("payload")).as("h"),
        MediaHeaders.channels(col("payload")).as("ch"),
        MediaHeaders.sampleRate(col("payload")).as("sr"))
      .orderBy("id")
      .as[(Long, String, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    assert(got == Seq(
      (1L, "png", Some(97L), Some(59L), None, None),
      (2L, "gif", Some(320L), Some(200L), None, None),
      (3L, "wav", None, None, Some(2L), Some(44100L)),
      (4L, "unknown", None, None, None, None)))
  }

  /** Real fixture bytes, generated by the JDK itself so the spec needs no
    * binary resources: a 97x59 RGB PNG, a 320x200 indexed GIF, and a
    * stereo 44.1 kHz 500-sample WAV. */
  private def realPng(w: Int = 97, h: Int = 59): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until h).foreach(y => (0 until w).foreach(x =>
      img.setRGB(x, y, (x * 31 + y * 7) & 0xFFFFFF)))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def realGif(w: Int = 320, h: Int = 200): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", out)
    out.toByteArray
  }

  private def realWav(sampleRate: Float = 44100f, channels: Int = 2,
                      nSamples: Int = 500): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(sampleRate, 16, channels, true, false)
    val pcm = Array.tabulate[Byte](nSamples * channels * 2)(i => (i % 127).toByte)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  private def realJpeg(w: Int = 97, h: Int = 59): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  private def realBmp(w: Int = 40, h: Int = 30): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", out)
    out.toByteArray
  }

  private def realAiff(sampleRate: Float = 22050f, channels: Int = 1,
                       nSamples: Int = 300): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(sampleRate, 16, channels, true, true)
    val pcm = Array.tabulate[Byte](nSamples * channels * 2)(i => (i % 113).toByte)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.AIFF, out)
    out.toByteArray
  }

  /** The full fixture matrix — six container formats × (intact + three
    * corruption modes) — pinning that the Column-level header parse and
    * the real JvmCodec reader AGREE where both can read, and DEGRADE
    * CONSISTENTLY (header fields null / codec stub fallback, never a
    * crash) where they can't:
    *  - `magic`: payload cut to exactly its magic bytes — kind still
    *    detected, every fixed-offset field must be null (not a misparse),
    *    codec falls back to the stub;
    *  - `dims`: payload cut MID-FIELD (inside or just before a dims/rate
    *    field) — fields whose last byte survived still parse exactly,
    *    fields cut short are null (the has() gate; an ungated conv()
    *    would read a PARTIAL width as a small wrong number);
    *  - `garbage`: bytes matching no magic — kind unknown, all null,
    *    codec stub. */
  test("six-format corruption matrix: header parse and JvmCodec agree or degrade together") {
    // (kind, intact bytes, magic-only cut, mid-dims cut)
    val fixtures = Seq(
      ("png", realPng(), 8, 18),   // dims at 17-24: cut inside width
      ("gif", realGif(), 6, 9),    // width 7-8 survives, height 9-10 cut
      ("jpeg", realJpeg(), 3, 6),  // no fixed-offset dims at all
      ("bmp", realBmp(), 2, 20),   // dims at 19-26: cut inside width
      ("wav", realWav(), 12, 26),  // channels 23-24 survive, rate 25-28 cut
      ("aiff", realAiff(), 12, 16))
    val garbage = Array.tabulate[Byte](16)(i => ((i * 37 + 11) % 251).toByte)
    val cases = fixtures.flatMap { case (k, bytes, magicLen, dimsLen) =>
      Seq((s"$k/intact", bytes), (s"$k/magic", bytes.take(magicLen)),
        (s"$k/dims", bytes.take(dimsLen)), (s"$k/garbage", garbage))
    }
    val df = cases.toDF("case_id", "payload")
    val hdrs = df.select(col("case_id"),
        MediaHeaders.kind(col("payload")).as("kind"),
        MediaHeaders.width(col("payload")).as("w"),
        MediaHeaders.height(col("payload")).as("h"),
        MediaHeaders.channels(col("payload")).as("ch"),
        MediaHeaders.sampleRate(col("payload")).as("sr"))
      .as[(String, String, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    val codec = cases.map { case (id, bytes) => id -> decoded(bytes) }.toMap

    // Kind detection: magic survives every truncation; garbage never matches.
    for ((k, _, _, _) <- fixtures; mode <- Seq("intact", "magic", "dims"))
      assert(hdrs(s"$k/$mode")._1 == k, s"$k/$mode: kind=${hdrs(s"$k/$mode")._1}")
    for ((k, _, _, _) <- fixtures)
      assert(hdrs(s"$k/garbage")._1 == "unknown")

    // Intact: both paths read the SAME ground truth where both parse.
    assert(hdrs("png/intact") == (("png", Some(97L), Some(59L), None, None)))
    assert(codec("png/intact") == ((97, 59, 3, 1)))
    assert(hdrs("gif/intact") == (("gif", Some(320L), Some(200L), None, None)))
    assert(codec("gif/intact") == ((320, 200, 3, 1)))
    assert(hdrs("bmp/intact") == (("bmp", Some(40L), Some(30L), None, None)))
    assert(codec("bmp/intact") == ((40, 30, 3, 1)))
    // JPEG: header path is kind-only BY DESIGN (SOF dims are not fixed-
    // offset); the real reader supplies the dims.
    assert(hdrs("jpeg/intact") == (("jpeg", None, None, None, None)))
    assert(codec("jpeg/intact") == ((97, 59, 3, 1)))
    assert(hdrs("wav/intact") == (("wav", None, None, Some(2L), Some(44100L))))
    assert(codec("wav/intact") == ((44100, 0, 2, 500)))
    // AIFF: kind-only header path (80-bit extended-float rate); real
    // reader rides the audio meta shape (rate, 0, channels, frames).
    assert(hdrs("aiff/intact") == (("aiff", None, None, None, None)))
    assert(codec("aiff/intact") == ((22050, 0, 1, 300)))

    // Stub-shaped degrade: channels pinned 3, synthesized width ≥ 64 —
    // and NOT the real container fields (the fabrication the matrix
    // exists to catch).
    def stubShaped(id: String): Unit = {
      val (w, _, ch, nf) = codec(id)
      assert(ch == 3 && w >= 64 && nf >= 1, s"$id: codec=${codec(id)}")
    }
    // Magic-only truncation: EVERY fixed-offset field is null; codec stubs.
    for ((k, _, _, _) <- fixtures) {
      assert(hdrs(s"$k/magic") == ((k, None, None, None, None)),
        s"$k/magic leaked a field: ${hdrs(s"$k/magic")}")
      stubShaped(s"$k/magic")
    }
    // Mid-dims truncation: fields whose last byte survived still parse
    // EXACTLY; cut fields are null, never a partial-bytes misparse.
    assert(hdrs("png/dims") == (("png", None, None, None, None)))
    assert(hdrs("gif/dims") == (("gif", Some(320L), None, None, None)))
    assert(hdrs("bmp/dims") == (("bmp", None, None, None, None)))
    assert(hdrs("wav/dims") == (("wav", None, None, Some(2L), None)))
    assert(hdrs("jpeg/dims") == (("jpeg", None, None, None, None)))
    assert(hdrs("aiff/dims") == (("aiff", None, None, None, None)))
    for ((k, _, _, _) <- fixtures) stubShaped(s"$k/dims")
    // Garbage: unknown + all-null headers, stub codec — consistent refusal.
    for ((k, _, _, _) <- fixtures) {
      assert(hdrs(s"$k/garbage") == (("unknown", None, None, None, None)))
      stubShaped(s"$k/garbage")
    }
  }

  test("JvmCodec really decodes PNG/GIF/WAV payloads and agrees with MediaHeaders") {
    val png = realPng(); val gif = realGif(); val wav = realWav()
    val df = Seq((1L, png), (2L, gif), (3L, wav),
        (4L, "undecodable text".getBytes("US-ASCII")))
      .toDF("id", "payload")
    val meta = Seq(png, gif, wav, "undecodable text".getBytes("US-ASCII"))
      .map(decoded)
    assert(meta(0) == ((97, 59, 3, 1)), s"png decoded as ${meta(0)}")
    assert(meta(1) == ((320, 200, 3, 1)), s"gif decoded as ${meta(1)}")
    // Audio rides the image-shaped meta as (sample_rate, 0, channels, n).
    assert(meta(2) == ((44100, 0, 2, 500)), s"wav decoded as ${meta(2)}")
    // Non-media payload degrades to the deterministic stub, not a crash.
    assert(meta(3)._1 >= 64 && meta(3)._3 == 3)

    // Cross-check: the Column-level header parse agrees with the real
    // codec on the same bytes (kind, dims, channels, sample rate).
    val hdr = df.select(col("id"),
        MediaHeaders.kind(col("payload")).as("kind"),
        MediaHeaders.width(col("payload")).as("w"),
        MediaHeaders.height(col("payload")).as("h"),
        MediaHeaders.channels(col("payload")).as("ch"),
        MediaHeaders.sampleRate(col("payload")).as("sr"))
      .orderBy("id")
      .as[(Long, String, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    assert(hdr(0) == ((1L, "png", Some(97L), Some(59L), None, None)))
    assert(hdr(1) == ((2L, "gif", Some(320L), Some(200L), None, None)))
    assert(hdr(2) == ((3L, "wav", None, None, Some(2L), Some(44100L))))
    assert(hdr(3)._2 == "unknown")
  }

  test("frame sampling explodes every stride-th index without shuffling") {
    val df = Multimodal.withPayload(
        Seq((1L, "a short clip payload"), (2L, "x")).toDF("id", "src"), "src")
      .withColumn("n_frames", lit(10))
    val sampled = Multimodal.sampleFrameIndexes(df, "n_frames", stride = 4)
    val idx = sampled.where(col("id") === 1)
      .select("frame_idx").as[Int].collect().toSeq
    assert(idx == Seq(0, 4, 8))
    sampled.queryExecution.toRdd
    val plan = sampled.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), s"frame sampling shuffled:\n$plan")
  }

  test("zero-frame and null/empty-payload rows degrade, never crash") {
    // n_frames = 0 (corrupt clip): sequence(0, -1, stride) would THROW at
    // runtime — the guard must drop the clip instead.
    val zero = Multimodal.withPayload(Seq((1L, "x")).toDF("id", "src"), "src")
      .withColumn("n_frames", lit(0))
    assert(Multimodal.sampleFrameIndexes(zero, "n_frames", 2).count() == 0)
    // Null n_frames likewise contributes no frames.
    val nul = Multimodal.withPayload(Seq((1L, "x")).toDF("id", "src"), "src")
      .withColumn("n_frames", lit(null).cast("int"))
    assert(Multimodal.sampleFrameIndexes(nul, "n_frames", 2).count() == 0)
    // Empty and null payloads pass through the sampler untouched.
    val edgy = Seq((1L, Array.empty[Byte]), (2L, null: Array[Byte]))
      .toDF("id", "payload").withColumn("n_frames", lit(1))
    assert(Multimodal.sampleFrameIndexes(edgy, "n_frames", 1).count() == 2)
  }

  test("resizeMetaTo fits the long side with exact integer scaling") {
    val df = Seq((1, 1024, 512), (2, 100, 300), (3, 64, 64))
      .toDF("id", "width", "height")
    val got = Multimodal.resizeMetaTo(df, 256).orderBy("id")
      .select("resized_width", "resized_height").as[(Int, Int)].collect().toSeq
    // 1024x512: fit=ceil(1024/256)=4 -> 256x128; 100x300: fit=ceil(300/256)=2
    // -> 50x150; 64x64 under target -> unchanged.
    assert(got == Seq((256, 128), (50, 150), (64, 64)))
  }

  test("repetitionStats counts total vs distinct tokens and 2-grams") {
    val df = Seq(
      (1L, "a a a"),            // toks 3/1; 2-grams "a a","a a" → 2/1
      (2L, "x y x y x"),        // toks 5/2; 2-grams "x y","y x","x y","y x" → 4/2
      (3L, "one two three"),    // all distinct: 3/3, 2/2
      (4L, "solo")              // 1/1, 0 2-grams
    ).toDF("id", "text")
    val got = df.select(col("id"),
        TextOps.repetitionStats(col("text"), 1).as("s1"),
        TextOps.repetitionStats(col("text"), 2).as("s2"))
      .select(col("id"), col("s1.total"), col("s1.distinct"),
        col("s2.total"), col("s2.distinct"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 1L, 2L, 1L), (2L, 5L, 2L, 4L, 2L),
      (3L, 3L, 3L, 2L, 2L), (4L, 1L, 1L, 0L, 0L)))
  }

  test("langId picks the language whose markers dominate") {
    val df = Seq(
      (1L, "the cat sat on a mat full of the best wool"),
      (2L, "der hund und die katze und der vogel"),
      (3L, "el perro que ladra y los gatos que corren")
    ).toDF("id", "text")
    val preds = df.select(col("id"), TextOps.langId(col("text")).as("p"))
      .as[(Long, String)].collect().toMap
    assert(preds(1L) == "en")
    assert(preds(2L) == "de")
    assert(preds(3L) == "es")
  }
}
