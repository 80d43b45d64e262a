package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media payloads travel as opaque
  * `binary` columns with typed metadata alongside. The Spark-side
  * mechanics — schema, magic-byte sniffing, batched per-partition
  * decode, frame sampling — are real and tested, and so is the
  * CONTAINER-HEADER decode for fixed-offset formats (PNG IHDR / GIF
  * logical screen / WAV fmt: [[pngDims]]/[[gifDims]]/[[wavFormat]],
  * pure byte arithmetic, codegen'd). Only the pixel/audio ENTROPY
  * decode is stubbed with a deterministic fake (codec libraries are
  * not in this container) — swap `fakeDecode` for a real decoder
  * (e.g. javacv) without touching the plumbing.
  */
object Multimodal {

  /** (id, payload, meta) — the canonical multimodal row. */
  case class MediaRow(id: Long, payload: Array[Byte], mime: String)

  /** Decoded features; in production width/height/duration come from
    * the codec, here from the fake header. */
  case class MediaFeatures(
      id: Long,
      mime: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      checksum: Long)

  /** Magic-byte container sniffing on the binary column — a codegen'd
    * expression, runs at scan speed. */
  def sniffMime(bin: Column): Column = {
    val head = hex(substring(bin, 1, 4))
    when(head.startsWith("89504E47"), "image/png")
      .when(head.startsWith("FFD8"), "image/jpeg")
      .when(head.startsWith("52494646"), "audio/wav") // RIFF
      .when(head.startsWith("00000018") || head.startsWith("00000020"), "video/mp4")
      .otherwise("application/octet-stream")
  }

  // -------------------------------------------------------------------
  // REAL container-header decode: fixed-offset formats (PNG IHDR,
  // GIF logical screen, canonical WAV fmt chunk) are pure byte
  // arithmetic — no codec library — expressible both as codegen'd
  // column expressions (hex/conv/substring, scan speed) and in the
  // typed per-partition path. Only the pixel/audio ENTROPY decode
  // remains stubbed ([[fakeDecode]], for payloads with no parseable
  // container header).
  // -------------------------------------------------------------------

  /** Big-endian unsigned int of `n` bytes at 1-based offset `pos`. */
  private def beBytes(bin: Column, pos: Int, n: Int): Column =
    conv(hex(substring(bin, pos, n)), 16, 10).cast("long")

  /** Little-endian unsigned int: per-byte hex re-assembled reversed. */
  private def leBytes(bin: Column, pos: Int, n: Int): Column =
    conv(concat((pos + n - 1 to pos by -1)
      .map(p => hex(substring(bin, p, 1))): _*), 16, 10).cast("long")

  /** (width, height) from a real PNG: 8-byte signature + IHDR chunk
    * type validated, dimensions big-endian at bytes 17-24. NULL for
    * non-PNG payloads. */
  def pngDims(bin: Column): Column =
    // the length guard matches the typed headerDims bound: substring
    // silently truncates, so a cut-off header would otherwise decode
    // to a wrong non-NULL value instead of NULL
    when(length(bin) >= 24 &&
         hex(substring(bin, 1, 8)) === "89504E470D0A1A0A" &&
         hex(substring(bin, 13, 4)) === "49484452", // "IHDR"
      struct(beBytes(bin, 17, 4).cast("int").as("width"),
             beBytes(bin, 21, 4).cast("int").as("height")))

  /** (width, height) from a real GIF87a/89a logical screen descriptor
    * (little-endian u16 at bytes 7-10). NULL for non-GIF payloads. */
  def gifDims(bin: Column): Column =
    when(length(bin) >= 10 &&
         hex(substring(bin, 1, 4)) === "47494638", // "GIF8"
      struct(leBytes(bin, 7, 2).cast("int").as("width"),
             leBytes(bin, 9, 2).cast("int").as("height")))

  /** (channels, sample_rate, bits_per_sample) from a canonical WAV
    * RIFF/fmt header (little-endian fields at fixed offsets). NULL
    * for non-WAV payloads. */
  def wavFormat(bin: Column): Column =
    when(length(bin) >= 36 &&
         hex(substring(bin, 1, 4)) === "52494646" && // "RIFF"
         hex(substring(bin, 9, 8)) === "57415645666D7420", // "WAVEfmt "
      struct(leBytes(bin, 23, 2).cast("int").as("channels"),
             leBytes(bin, 25, 4).cast("int").as("sample_rate"),
             leBytes(bin, 35, 2).cast("int").as("bits_per_sample")))

  /** (width, height) from a real JPEG via the native SOF-scan
    * expression ([[graft.plans.JpegDimsStructExpr]] — variable marker
    * walk, one static call per row in every evaluation mode; the
    * struct-producing form exists so the scan is never repeated for
    * the null guard + field unpack). NULL for non-JPEG payloads. */
  def jpegDims(bin: Column): Column =
    call_function("jpeg_dims_wh", bin)

  /** Typed-path mirror of [[pngDims]]/[[gifDims]]/[[jpegDims]] for
    * the batched per-partition decoder. */
  private[graft] def headerDims(payload: Array[Byte]): Option[(Int, Int)] = {
    def u8(i: Int): Int = payload(i) & 0xff
    val pngMagic = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (payload.length >= 24 && payload.startsWith(pngMagic) &&
        new String(payload.slice(12, 16), "US-ASCII") == "IHDR")
      Some((
        (u8(16) << 24) | (u8(17) << 16) | (u8(18) << 8) | u8(19),
        (u8(20) << 24) | (u8(21) << 16) | (u8(22) << 8) | u8(23)))
    else if (payload.length >= 10 &&
        payload.startsWith("GIF8".getBytes("US-ASCII")))
      Some((u8(6) | (u8(7) << 8), u8(8) | (u8(9) << 8)))
    else {
      val packed = JpegDecode.dims(payload)
      if (packed >= 0L) Some(((packed >> 32).toInt, (packed & 0xffffffffL).toInt))
      else None
    }
  }

  /** DETERMINISTIC FAKE DECODE (stub) for payloads with no parseable
    * container header: "dimensions" are read from payload bytes 5..8
    * the way a real decoder reads a header. In production this body is
    * the only thing that changes. */
  private def fakeDecode(payload: Array[Byte]): (Int, Int) = {
    def b(i: Int): Int = if (payload.length > i) payload(i) & 0xff else 0
    (1 + b(4) * 256 + b(5), 1 + b(6) * 256 + b(7))
  }

  /** Per-partition batched decode — the Scala analog of mapInPandas:
    * one iterator pass per partition, constant memory, no shuffle.
    * Partition count (and thus decode parallelism) is whatever the
    * upstream source provides; repartition upstream for wider decode
    * fan-out at cluster scale. */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (w, h) = headerDims(r.payload).getOrElse(fakeDecode(r.payload))
        val checksum = r.payload.foldLeft(0L)((a, x) => (a * 31 + (x & 0xff)) & 0x7fffffffL)
        MediaFeatures(r.id, r.mime, r.payload.length.toLong, w, h, checksum)
      }
    }
  }

  /** Frame sampling: split a payload into fixed-size chunks ("frames")
    * and keep every `stride`-th — pure array expression, no UDF.
    * The upper bound is clamped to >= 0 and frames past the payload end
    * are filtered, because Spark's sequence(0, -1) yields [0, -1] (two
    * bogus frames) on an empty payload instead of an empty array. */
  def sampleFrames(bin: Column, frameBytes: Int, stride: Int): Column =
    filter(
      transform(
        sequence(lit(0L), greatest(lit(0L), floor((length(bin) - 1) / frameBytes))),
        i => struct(i.as("frame_id"), substring_dyn(bin, i * frameBytes + 1, frameBytes).as("frame"))),
      f => pmod(f.getField("frame_id"), lit(stride)) === 0 &&
        f.getField("frame_id") * frameBytes < length(bin))

  private def substring_dyn(bin: Column, pos: Column, len: Int): Column =
    call_function("substring", bin, pos, lit(len))
}
