package graft

import org.apache.spark.sql.functions._
import graft.functions.Multimodal
import graft.functions.Multimodal.{MediaRow, MediaFeatures}

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private val pngMagic = Array(0x89, 0x50, 0x4e, 0x47).map(_.toByte)
  // fakeDecode reads w = 1 + b4*256 + b5, h = 1 + b6*256 + b7
  private def payload(magic: Array[Byte], w: Int, h: Int): Array[Byte] =
    magic ++ Array(((w - 1) / 256).toByte, ((w - 1) % 256).toByte,
      ((h - 1) / 256).toByte, ((h - 1) % 256).toByte) ++
      Array.fill(16)(0x42.toByte)

  test("sniffMime recognizes container magic bytes") {
    val rows = Seq(
      (1L, pngMagic ++ Array.fill(8)(0.toByte)),
      (2L, Array(0xff, 0xd8, 0x01, 0x02).map(_.toByte)),
      (3L, "RIFF1234".getBytes),
      (4L, "plainbytes".getBytes)
    ).toDF("id", "payload")
    val out = rows.select(col("id"), Multimodal.sniffMime(col("payload")).as("mime"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "image/png")
    assert(out(2L) == "image/jpeg")
    assert(out(3L) == "audio/wav")
    assert(out(4L) == "application/octet-stream")
  }

  test("decodeFeatures runs per-partition and reads fake header dims") {
    val media = Seq(
      MediaRow(1L, payload(pngMagic, 640, 481), "image/png"),
      MediaRow(2L, payload(pngMagic, 1280, 721), "image/png")
    ).toDS().repartition(2)
    val feats = Multimodal.decodeFeatures(media).collect().sortBy(_.id)
    assert(feats.map(_.width).toSeq == Seq(640, 1280))
    assert(feats.map(_.height).toSeq == Seq(481, 721))
    assert(feats.forall(_.n_bytes == 24))
    // checksum deterministic across runs
    val again = Multimodal.decodeFeatures(media).collect().sortBy(_.id)
    assert(feats.map(_.checksum).toSeq == again.map(_.checksum).toSeq)
  }

  // --- real container headers (bit-valid per the format specs) ---

  private def realPng(w: Int, h: Int): Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      Array[Byte](0, 0, 0, 13) ++ "IHDR".getBytes("US-ASCII") ++
      Array((w >> 24).toByte, (w >> 16).toByte, (w >> 8).toByte, w.toByte,
        (h >> 24).toByte, (h >> 16).toByte, (h >> 8).toByte, h.toByte,
        8.toByte, 6.toByte, 0.toByte, 0.toByte, 0.toByte)

  private def realGif(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes("US-ASCII") ++
      Array((w & 0xff).toByte, (w >> 8).toByte,
        (h & 0xff).toByte, (h >> 8).toByte, 0.toByte, 0.toByte, 0.toByte)

  private def realWav(channels: Int, rate: Int, bits: Int): Array[Byte] = {
    def le16(v: Int) = Array((v & 0xff).toByte, (v >> 8).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    "RIFF".getBytes ++ le32(36) ++ "WAVEfmt ".getBytes ++ le32(16) ++
      le16(1) ++ le16(channels) ++ le32(rate) ++
      le32(rate * channels * bits / 8) ++ le16(channels * bits / 8) ++ le16(bits)
  }

  test("pngDims/gifDims/wavFormat parse real fixed-offset headers, NULL otherwise") {
    val rows = Seq(
      (1L, realPng(640, 481)),
      (2L, realGif(320, 200)),
      (3L, realWav(2, 44100, 16)),
      (4L, "not a media file at all....".getBytes)
    ).toDF("id", "payload")
    val out = rows.select(col("id"),
      Multimodal.pngDims(col("payload")).as("png"),
      Multimodal.gifDims(col("payload")).as("gif"),
      Multimodal.wavFormat(col("payload")).as("wav")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getStruct(1).getInt(0) == 640 && out(1L).getStruct(1).getInt(1) == 481)
    assert(out(1L).isNullAt(2) && out(1L).isNullAt(3))
    assert(out(2L).getStruct(2).getInt(0) == 320 && out(2L).getStruct(2).getInt(1) == 200)
    assert(out(3L).getStruct(3).getInt(0) == 2)
    assert(out(3L).getStruct(3).getInt(1) == 44100)
    assert(out(3L).getStruct(3).getInt(2) == 16)
    assert(out(4L).isNullAt(1) && out(4L).isNullAt(2) && out(4L).isNullAt(3))
  }

  private def realJpeg(w: Int, h: Int): Array[Byte] = {
    def be16(v: Int) = Array((v >> 8).toByte, (v & 0xff).toByte)
    Array(0xff, 0xd8).map(_.toByte) ++ // SOI
      Array(0xff, 0xe0).map(_.toByte) ++ be16(16) ++ // APP0 JFIF
      "JFIF".getBytes ++ Array[Byte](0, 1, 1, 0) ++ be16(1) ++ be16(1) ++
      Array[Byte](0, 0) ++
      Array(0xff, 0xdb).map(_.toByte) ++ be16(5) ++ Array[Byte](0, 1, 2) ++ // DQT stub
      Array(0xff, 0xc2).map(_.toByte) ++ be16(11) ++ // SOF2 (progressive)
      Array[Byte](8) ++ be16(h) ++ be16(w) ++ Array[Byte](1, 1, 0x11, 0)
  }

  test("jpeg_dims walks the segment chain to SOF; NULL for non-JPEG / no-SOF") {
    val rows = Seq(
      (1L, realJpeg(1024, 768)),
      (2L, realJpeg(65500, 1)), // dims are unsigned 16-bit
      (3L, Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)), // SOI then EOI: no frame
      (4L, realPng(640, 480)), // not a JPEG
      (5L, Array(0xff, 0xd8).map(_.toByte)) // truncated
    ).toDF("id", "payload")
    val out = rows.select(col("id"), Multimodal.jpegDims(col("payload")).as("d"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1))).toMap
    assert(out(1L).exists(s => s.getInt(0) == 1024 && s.getInt(1) == 768))
    assert(out(2L).exists(s => s.getInt(0) == 65500 && s.getInt(1) == 1))
    assert(out(3L).isEmpty && out(4L).isEmpty && out(5L).isEmpty)
    // typed path agrees with the native expression
    assert(Multimodal.headerDims(realJpeg(1024, 768)).contains((1024, 768)))
  }

  test("JpegDecode.dims never throws on arbitrary bytes (fuzz)") {
    // the scanner indexes into the payload while walking segment
    // lengths it read from the payload itself — any missing bounds
    // check is an ArrayIndexOutOfBounds on adversarial input
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 2000) {
      val len = rnd.nextInt(64)
      val p = Array.fill(len)(rnd.nextInt(256).toByte)
      if (rnd.nextBoolean() && len >= 2) { p(0) = 0xff.toByte; p(1) = 0xd8.toByte }
      val v = graft.functions.JpegDecode.dims(p) // must not throw
      assert(v == -1L || ((v >> 32) >= 0 && (v & 0xffffffffL) >= 0))
    }
  }

  test("decodeFeatures prefers the real header over the fake for parseable payloads") {
    val media = Seq(
      MediaRow(1L, realPng(1920, 1080), "image/png"),
      MediaRow(2L, realGif(320, 200), "image/gif"),
      MediaRow(3L, payload(pngMagic, 640, 481), "image/png") // 4-byte magic only: falls back
    ).toDS()
    val feats = Multimodal.decodeFeatures(media).collect().sortBy(_.id)
    assert(feats(0).width == 1920 && feats(0).height == 1080)
    assert(feats(1).width == 320 && feats(1).height == 200)
    assert(feats(2).width == 640 && feats(2).height == 481) // fakeDecode path intact
  }

  test("sampleFrames keeps every stride-th fixed-size chunk") {
    val bin = Array.tabulate(100)(_.toByte)
    val df = Seq(Tuple1(bin)).toDF("payload")
      .select(Multimodal.sampleFrames(col("payload"), frameBytes = 10, stride = 2).as("frames"))
    val frames = df.collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(frames.length == 5) // 10 frames, every 2nd
    assert(frames.map(_.getLong(0)).toSeq == Seq(0L, 2L, 4L, 6L, 8L))
    assert(frames.forall(_.getAs[Array[Byte]]("frame").length == 10))
  }

  test("sampleFrames on empty and sub-frame payloads") {
    val df = Seq(
      (1L, Array.empty[Byte]),            // sequence(0,-1) trap: must be []
      (2L, Array.tabulate(3)(_.toByte))   // one partial frame
    ).toDF("id", "payload")
      .select(col("id"),
        Multimodal.sampleFrames(col("payload"), frameBytes = 10, stride = 2).as("frames"))
    val out = df.collect().map(r =>
      r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(out(1L).isEmpty, s"empty payload must yield no frames, got ${out(1L)}")
    assert(out(2L).map(_.getLong(0)) == Seq(0L))
    assert(out(2L).head.getAs[Array[Byte]]("frame").length == 3)
  }
}
