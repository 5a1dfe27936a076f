package graft.operators

import graft.Tables
import graft.functions.Hashing
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat media payloads as opaque `binary`
  * columns with typed metadata and run a per-partition "decode / feature
  * extract" stage.
  *
  * The container ships no image/audio codec libraries, so full pixel decode
  * is out of reach — but header decode is pure JVM, and that is what this
  * stage genuinely does: [[synthesizeMedia]] wraps each document's bytes in
  * a REAL container format (PNG / BMP / JPEG cycling by doc_id mod 3:
  * a valid PNG signature + IHDR chunk with a correct CRC-32, a
  * BITMAPINFOHEADER BMP, or a JFIF prelude with a baseline SOF0 frame
  * header), and [[decodeMedia]] recovers format and dimensions by parsing
  * those bytes — big-endian IHDR fields behind a verified CRC for PNG,
  * little-endian DIB fields for BMP, and a marker-segment walk to SOF0
  * for JPEG. Nothing is threaded around the payload: if an offset,
  * endianness, or checksum is wrong the oracle hash-gate fails, because the
  * DuckDB oracle predicts the dimensions from the doc_id formula alone and
  * never sees the binary.
  *
  * Pipeline shape is the 100 TB one: a `binary` payload column, a typed
  * `Dataset[MediaFeature]`, and `mapPartitions` with per-partition decoder
  * initialization (where a codec/model handle would be opened once per
  * task — the Scala analogue of a batched `mapInPandas` UDF). Narrow
  * end-to-end: partitioning is inherited from the scan, so at scale the
  * decode parallelizes with the input splits and shuffles nothing.
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  /** Typed feature row produced by the decode stage. */
  final case class MediaFeature(
      doc_id: Long, format: String, n_bytes: Long, width: Long, height: Long,
      fingerprint: String)

  /** Fixture dimensions, derived from the id; the oracle uses the same
    * formulas. Real-world analogue: whatever the original media carried. */
  def widthOf(id: Long): Int = (16 + (id * 7) % 480).toInt
  def heightOf(id: Long): Int = (16 + (id * 13) % 360).toInt

  private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
  private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >>> 8).toByte)

  /** A valid 33-byte PNG prelude (signature + IHDR chunk, CRC-32 computed
    * for real) followed by the content bytes standing in for IDAT. */
  def pngBytes(width: Int, height: Int, content: Array[Byte]): Array[Byte] = {
    val ihdr = "IHDR".getBytes("US-ASCII") ++ be32(width) ++ be32(height) ++
      Array[Byte](8, 2, 0, 0, 0) // bit depth, color type RGB, compression, filter, interlace
    val crc = new java.util.zip.CRC32()
    crc.update(ihdr)
    PngSig ++ be32(13) ++ ihdr ++ be32(crc.getValue.toInt) ++ content
  }

  /** A valid 54-byte BMP header (BITMAPFILEHEADER + BITMAPINFOHEADER,
    * little-endian throughout) followed by the content bytes. */
  def bmpBytes(width: Int, height: Int, content: Array[Byte]): Array[Byte] = {
    val total = 54 + content.length
    "BM".getBytes("US-ASCII") ++ le32(total) ++ le32(0) ++ le32(54) ++ // file header
      le32(40) ++ le32(width) ++ le32(height) ++ le16(1) ++ le16(24) ++ // DIB: size, w, h, planes, bpp
      le32(0) ++ le32(content.length) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ content
  }

  /** A genuine JPEG/JFIF prelude: SOI, a JFIF APP0 segment, and a
    * baseline SOF0 frame header carrying the big-endian dimensions —
    * 39 bytes total, followed by the content bytes standing in for the
    * entropy-coded data. */
  def jpegBytes(width: Int, height: Int, content: Array[Byte]): Array[Byte] = {
    def be16(v: Int): Array[Byte] = Array((v >>> 8).toByte, v.toByte)
    val soi = Array(0xff, 0xd8).map(_.toByte)
    val app0 = Array(0xff, 0xe0).map(_.toByte) ++ be16(16) ++
      "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0) ++
      be16(1) ++ be16(1) ++ Array[Byte](0, 0)
    val sof0 = Array(0xff, 0xc0).map(_.toByte) ++ be16(17) ++ Array[Byte](8) ++
      be16(height) ++ be16(width) ++ Array[Byte](3) ++
      Array[Byte](1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1) // 3 components
    soi ++ app0 ++ sof0 ++ content
  }

  /** Media synthesis: (doc_id, payload) with a genuine container header.
    * Stands in for the lake's binary column; ids cycle PNG / BMP / JPEG
    * by doc_id mod 3. */
  def synthesizeMedia(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, content) =>
        val payload = (id % 3) match {
          case 0 => pngBytes(widthOf(id), heightOf(id), content)
          case 1 => bmpBytes(widthOf(id), heightOf(id), content)
          case _ => jpegBytes(widthOf(id), heightOf(id), content)
        }
        (id, payload)
      }
      .toDF("doc_id", "payload")
  }

  private def u8(b: Byte): Int = b & 0xff
  private def readBe32(a: Array[Byte], off: Int): Int =
    (u8(a(off)) << 24) | (u8(a(off + 1)) << 16) | (u8(a(off + 2)) << 8) | u8(a(off + 3))
  private def readLe32(a: Array[Byte], off: Int): Int =
    u8(a(off)) | (u8(a(off + 1)) << 8) | (u8(a(off + 2)) << 16) | (u8(a(off + 3)) << 24)
  private def readLe16(a: Array[Byte], off: Int): Int =
    u8(a(off)) | (u8(a(off + 1)) << 8)

  // ---- audio: RIFF/WAVE (canonical 44-byte PCM header) ----

  /** Typed feature row produced by the audio decode stage. */
  final case class AudioFeature(
      doc_id: Long, sample_rate: Long, n_channels: Long, bits_per_sample: Long,
      n_samples: Long, duration_ms: Long, n_bytes: Long, fingerprint: String)

  /** Fixture audio params from the id; the oracle uses the same formulas. */
  def rateOf(id: Long): Int = (8000 + (id * 31) % 40000).toInt
  def channelsOf(id: Long): Int = (1 + id % 2).toInt

  /** A valid canonical 44-byte WAV header (RIFF + fmt + data chunks, PCM
    * 16-bit, little-endian throughout) followed by the content bytes as the
    * data chunk. */
  def wavBytes(rate: Int, channels: Int, content: Array[Byte]): Array[Byte] = {
    val blockAlign = channels * 2
    "RIFF".getBytes("US-ASCII") ++ le32(36 + content.length) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(channels) ++
      le32(rate) ++ le32(rate * blockAlign) ++ le16(blockAlign) ++ le16(16) ++
      "data".getBytes("US-ASCII") ++ le32(content.length) ++ content
  }

  /** Real WAV header decode: verify the RIFF/WAVE/fmt/data tags and the
    * PCM byte-rate consistency, then derive sample count and duration from
    * the parsed fields with integer (floor) arithmetic — the oracle
    * reproduces both with `//` floor division and never sees the binary. */
  def decodeWav(id: Long, bytes: Array[Byte]): AudioFeature = {
    require(bytes.length >= 44, s"payload too short for WAV: ${bytes.length}")
    require(new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
      new String(bytes, 8, 4, "US-ASCII") == "WAVE", "WAV: bad RIFF/WAVE tags")
    require(new String(bytes, 12, 4, "US-ASCII") == "fmt " && readLe32(bytes, 16) == 16,
      "WAV: missing canonical fmt chunk")
    require(readLe16(bytes, 20) == 1, "WAV: not PCM")
    val channels = readLe16(bytes, 22)
    val rate = readLe32(bytes, 24)
    val blockAlign = readLe16(bytes, 32)
    val bits = readLe16(bytes, 34)
    require(blockAlign == channels * bits / 8, "WAV: inconsistent block align")
    require(readLe32(bytes, 28) == rate * blockAlign, "WAV: inconsistent byte rate")
    require(new String(bytes, 36, 4, "US-ASCII") == "data", "WAV: missing data chunk")
    val dataLen = readLe32(bytes, 40)
    require(dataLen == bytes.length - 44, "WAV: data length mismatch")
    val nSamples = dataLen.toLong / blockAlign
    val durationMs = nSamples * 1000L / rate
    AudioFeature(id, rate.toLong, channels.toLong, bits.toLong, nSamples, durationMs,
      bytes.length.toLong, Hashing.md5Hex(bytes, 44, dataLen))
  }

  /** Audio synthesis + decode pipeline twin of [[synthesizeMedia]] /
    * [[decodeFeatures]]: same narrow per-partition shape, WAV container. */
  def audioFeatures(spark: SparkSession, docs: DataFrame): Dataset[AudioFeature] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, content) =>
        decodeWav(id, wavBytes(rateOf(id), channelsOf(id), content))
      })
  }

  // ---- video: ISO-BMFF / MP4 (ftyp + moov[mvhd, trak[tkhd]] + mdat) ----

  /** Typed feature row produced by the video decode stage. */
  final case class VideoFeature(
      doc_id: Long, major_brand: String, timescale: Long, duration_ticks: Long,
      duration_ms: Long, width: Long, height: Long, n_bytes: Long, fingerprint: String)

  /** Fixture video params from the id; the oracle uses the same formulas. */
  def vTimescaleOf(id: Long): Int = (600 * (1 + id % 4)).toInt
  def vDurTicksOf(id: Long): Int = (vTimescaleOf(id) + (id * 41) % 100000).toInt
  def vWidthOf(id: Long): Int = (128 + (id * 23) % 1792).toInt
  def vHeightOf(id: Long): Int = (96 + (id * 29) % 984).toInt

  private def boxHeader(size: Int, tag: String): Array[Byte] =
    be32(size) ++ tag.getBytes("US-ASCII")

  /** A minimal VALID ISO-BMFF file: `ftyp` (major brand isom), `moov`
    * containing a version-0 `mvhd` (timescale + duration) and one `trak`
    * whose version-0 `tkhd` carries 16.16 fixed-point dimensions, then the
    * content bytes as the `mdat` payload. Box sizes are real and
    * big-endian throughout, exactly as the spec lays them out. */
  def mp4Bytes(timescale: Int, durTicks: Int, width: Int, height: Int,
      content: Array[Byte]): Array[Byte] = {
    val ftyp = boxHeader(24, "ftyp") ++ "isom".getBytes("US-ASCII") ++ be32(0) ++
      "isom".getBytes("US-ASCII") ++ "mp41".getBytes("US-ASCII")
    val mvhd = boxHeader(108, "mvhd") ++ be32(0) /* v0 + flags */ ++
      be32(0) ++ be32(0) /* creation, modification */ ++
      be32(timescale) ++ be32(durTicks) ++
      be32(0x00010000) /* rate 1.0 */ ++ Array[Byte](1, 0) /* volume 1.0 */ ++
      new Array[Byte](2 + 8) /* reserved */ ++
      unityMatrix ++ new Array[Byte](24) /* pre_defined */ ++ be32(2) /* next track */
    val tkhd = boxHeader(92, "tkhd") ++ be32(3) /* v0 + enabled|in-movie */ ++
      be32(0) ++ be32(0) /* creation, modification */ ++
      be32(1) /* track_id */ ++ be32(0) /* reserved */ ++ be32(durTicks) ++
      new Array[Byte](8) /* reserved */ ++
      new Array[Byte](8) /* layer, alt_group, volume (0 for video), reserved */ ++
      unityMatrix ++ be32(width << 16) ++ be32(height << 16)
    val trak = boxHeader(8 + tkhd.length, "trak") ++ tkhd
    val moov = boxHeader(8 + mvhd.length + trak.length, "moov") ++ mvhd ++ trak
    val mdat = boxHeader(8 + content.length, "mdat") ++ content
    ftyp ++ moov ++ mdat
  }

  private def unityMatrix: Array[Byte] =
    be32(0x00010000) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000)

  /** Real ISO-BMFF decode: walk the top-level box sequence by declared
    * sizes, then the `moov` children, extracting movie timescale/duration
    * from `mvhd`, dimensions from the first `trak`'s `tkhd` (16.16 fixed →
    * integer part), the major brand from `ftyp`, and the content
    * fingerprint from the `mdat` payload. Every box size and version byte
    * is validated — a mis-walked offset fails loudly rather than reading
    * garbage, and the oracle hash-gate would catch any silent skew because
    * it predicts every field from doc_id alone. */
  def decodeMp4(id: Long, bytes: Array[Byte]): VideoFeature = {
    var brand: String = null
    var timescale = -1L; var durTicks = -1L
    var width = -1L; var height = -1L
    var mdatOff = -1; var mdatLen = -1
    var off = 0
    while (off < bytes.length) {
      require(off + 8 <= bytes.length, s"MP4: truncated box header at $off")
      val size = readBe32(bytes, off)
      val tag = new String(bytes, off + 4, 4, "US-ASCII")
      require(size >= 8 && off + size <= bytes.length, s"MP4: bad box size $size at $off")
      tag match {
        case "ftyp" =>
          brand = new String(bytes, off + 8, 4, "US-ASCII")
        case "moov" =>
          var c = off + 8
          while (c < off + size) {
            val cs = readBe32(bytes, c)
            val ct = new String(bytes, c + 4, 4, "US-ASCII")
            require(cs >= 8 && c + cs <= off + size, s"MP4: bad moov child size at $c")
            if (ct == "mvhd") {
              require(bytes(c + 8) == 0, "MP4: mvhd version != 0")
              timescale = readBe32(bytes, c + 20).toLong
              durTicks = readBe32(bytes, c + 24).toLong
            } else if (ct == "trak" && width < 0) {
              val ts = readBe32(bytes, c + 8)
              val tt = new String(bytes, c + 12, 4, "US-ASCII")
              require(tt == "tkhd" && ts >= 92, "MP4: trak does not start with tkhd")
              require(bytes(c + 16) == 0, "MP4: tkhd version != 0")
              width = (readBe32(bytes, c + 8 + 84) >>> 16).toLong
              height = (readBe32(bytes, c + 8 + 88) >>> 16).toLong
            }
            c += cs
          }
        case "mdat" =>
          mdatOff = off + 8; mdatLen = size - 8
        case _ => () // unknown top-level boxes are legal; sizes skip them
      }
      off += size
    }
    require(brand != null && timescale > 0 && durTicks >= 0 && width >= 0 && mdatOff >= 0,
      "MP4: missing required box")
    VideoFeature(id, brand, timescale, durTicks, durTicks * 1000L / timescale,
      width, height, bytes.length.toLong, Hashing.md5Hex(bytes, mdatOff, mdatLen))
  }

  /** Video synthesis + decode pipeline twin of [[audioFeatures]]: same
    * narrow per-partition shape, ISO-BMFF container. */
  def videoFeatures(spark: SparkSession, docs: DataFrame): Dataset[VideoFeature] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, content) =>
        decodeMp4(id, mp4Bytes(vTimescaleOf(id), vDurTicksOf(id),
          vWidthOf(id), vHeightOf(id), content))
      })
  }

  /** Container parse shared by [[decodeMedia]] and [[phashes]]: sniff the
    * magic, validate the header, and return (format, width, height,
    * content offset). */
  def parseContainer(bytes: Array[Byte]): (String, Int, Int, Int) = {
    require(bytes.length >= 33, s"payload too short: ${bytes.length}")
      if (bytes.startsWith(PngSig)) {
        require(new String(bytes, 12, 4, "US-ASCII") == "IHDR", "PNG: missing IHDR")
        val crc = new java.util.zip.CRC32()
        crc.update(bytes, 12, 17)
        require(crc.getValue.toInt == readBe32(bytes, 29), "PNG: IHDR CRC mismatch")
        ("png", readBe32(bytes, 16), readBe32(bytes, 20), 33)
      } else if (bytes(0) == 'B' && bytes(1) == 'M') {
        require(bytes.length >= 54 && readLe32(bytes, 14) == 40, "BMP: not a BITMAPINFOHEADER")
        ("bmp", readLe32(bytes, 18), readLe32(bytes, 22), 54)
      } else if (u8(bytes(0)) == 0xff && u8(bytes(1)) == 0xd8) {
        // JPEG: walk the marker segments (each FF xx + big-endian length
        // that includes its own two bytes) until a baseline/progressive
        // SOF frame header, then read precision + BE16 dims from it
        var off = 2
        var dims: (Int, Int, Int) = null
        while (dims == null) {
          require(off + 4 <= bytes.length && u8(bytes(off)) == 0xff,
            s"JPEG: bad marker at $off")
          val marker = u8(bytes(off + 1))
          // RST/TEM/SOI/EOI carry no length — a header walk must never hit
          // one before SOF; misreading its next bytes as a length would
          // silently skew the parse, so fail loudly instead
          require(marker != 0x01 && (marker < 0xd0 || marker > 0xd9),
            f"JPEG: length-less marker 0x$marker%02x before SOF")
          val len = (u8(bytes(off + 2)) << 8) | u8(bytes(off + 3))
          require(len >= 2 && off + 2 + len <= bytes.length, "JPEG: bad segment length")
          if (marker >= 0xc0 && marker <= 0xc3) {
            require(len >= 7, "JPEG: truncated SOF segment")
            require(u8(bytes(off + 4)) == 8, "JPEG: unsupported precision")
            val h = (u8(bytes(off + 5)) << 8) | u8(bytes(off + 6))
            val w = (u8(bytes(off + 7)) << 8) | u8(bytes(off + 8))
            dims = (w, h, off + 2 + len)
          } else off += 2 + len
        }
        ("jpeg", dims._1, dims._2, dims._3)
      } else throw new IllegalArgumentException("unknown media container")
  }

  /** Real header decode: parse format + dimensions out of the payload bytes
    * ([[parseContainer]]: PNG verifies the 8-byte signature, the IHDR tag
    * and the chunk CRC-32 then reads big-endian dims; BMP verifies the
    * magic and BITMAPINFOHEADER size then reads little-endian dims; JPEG
    * walks the marker segments to SOF). The fingerprint is an md5 of the
    * content region (the bytes after the container header). */
  def decodeMedia(id: Long, bytes: Array[Byte]): MediaFeature = {
    val (format, w, h, contentOff) = parseContainer(bytes)
    MediaFeature(id, format, bytes.length.toLong, w.toLong, h.toLong,
      Hashing.md5Hex(bytes, contentOff, bytes.length - contentOff))
  }

  /** The decode pipeline: binary payload column → per-partition decoder →
    * typed features. Narrow (no shuffle); partitioning is inherited from
    * the scan, so at scale it parallelizes with the input splits. */
  def decodeFeatures(spark: SparkSession, payloads: DataFrame): Dataset[MediaFeature] = {
    import spark.implicits._
    payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeMedia(id, bytes) })
  }

  /** dHash perceptual signature over the decoded content region: sample an
    * 8×8 "luma" grid at fraction-of-length byte positions, emit one bit per
    * horizontally-adjacent comparison (8 rows × 7 = 56 bits — fits a
    * positive BIGINT, so band arithmetic stays sign-free in both engines).
    * The real thing runs on a resized luma plane; the sampling grid here IS
    * that resize for the synthetic byte "images", and the Spark-side
    * plumbing (binary decode → fixed-width signature → banded self-join) is
    * exactly the production shape. */
  def dHash56(bytes: Array[Byte], off: Int): Long = {
    val len = bytes.length - off
    require(len >= 1, "empty content region")
    val s = new Array[Int](64)
    var k = 0
    while (k < 64) {
      s(k) = u8(bytes(off + ((k.toLong * len) / 64).toInt))
      k += 1
    }
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 7) {
        if (s(r * 8 + c) < s(r * 8 + c + 1)) h |= 1L << (r * 7 + c)
        c += 1
      }
      r += 1
    }
    h
  }

  /** (doc_id, ph) for every payload — the same narrow per-partition decode
    * as [[decodeFeatures]], emitting the 56-bit [[dHash56]] signature. */
  def phashes(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          (id, dHash56(bytes, parseContainer(bytes)._4))
        }
      }
      .toDF("doc_id", "ph")
  }

  /** Accept a candidate pair as a perceptual duplicate at or under this
    * Hamming distance. 0–6 ≈ "the same image bytes, possibly re-contained";
    * the appended-tail near-copies in the dedup corpus land at ≥16 because
    * the fraction-of-length grid shifts with content length — those are the
    * text family's catch, not the perceptual hash's. */
  val PhashMaxHamming = 6L

  /** Band width/count for the LSH-style candidate stage: 4 bands × 14 bits
    * of the 56-bit signature; identical-signature pairs share all four,
    * pairs within small Hamming distance share at least one with high
    * probability. */
  val PhashBandBits = 14

  private def features(spark: SparkSession, sfDir: String): DataFrame =
    decodeFeatures(spark,
      synthesizeMedia(spark, Tables.load(spark, sfDir, "documents"))).toDF()

  /** Aspect-preserving thumbnail geometry: the scale factor that fits the
    * decoded frame inside `box`×`box` without upscaling, and the resulting
    * dimensions. Exact integer arithmetic (floor of a scaled ratio), so the
    * oracle reproduces it; a real resize stage would apply this geometry to
    * the pixel buffer in the same per-partition decoder. */
  val ThumbBox = 64L
  // scale = min(box, max(w,h)) / max(w,h) (never upscale):
  // thumb = max(1, floor(d * scale)); exact-parity double arithmetic
  private def thumbDim(d: org.apache.spark.sql.Column, w: org.apache.spark.sql.Column,
      h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    greatest(lit(1L),
      floor(d * least(lit(ThumbBox), greatest(w, h)) / greatest(w, h)).cast("long"))

  /** Frame-chunk width (bytes) for mdat frame fingerprints. */
  val FrameChunk = 64

  /** Boilerplate cap: (frame_idx, fh) buckets holding more videos than
    * this are dropped before the candidate self-join — the same bucket
    * discipline as the text chunk-overlap family. */
  val FrameBucketCap = 20L

  /** Minimum shared aligned frames for a video-overlap pair. */
  val MinSharedFrames = 2L

  /** Locate the `mdat` content region via the same validated top-level box
    * walk as [[decodeMp4]] — fails loudly on a mis-walk. */
  def mdatRegion(bytes: Array[Byte]): (Int, Int) = {
    var off = 0; var mdatOff = -1; var mdatLen = -1
    while (off < bytes.length) {
      require(off + 8 <= bytes.length, s"MP4: truncated box header at $off")
      val size = readBe32(bytes, off)
      val tag = new String(bytes, off + 4, 4, "US-ASCII")
      require(size >= 8 && off + size <= bytes.length, s"MP4: bad box size $size at $off")
      if (tag == "mdat") { mdatOff = off + 8; mdatLen = size - 8 }
      off += size
    }
    require(mdatOff >= 0, "MP4: missing mdat")
    (mdatOff, mdatLen)
  }

  /** Typed row of the frame-fingerprint stage. */
  final case class FrameHash(doc_id: Long, frame_idx: Long, fh: String)

  /** Aligned [[FrameChunk]]-byte fingerprints over each video's REAL
    * `mdat` region (container built, then parsed back — the oracle
    * predicts the hashes from text alone, so a region mis-walk fails the
    * gate). Narrow 1:N, no shuffle. */
  def videoFrameHashes(spark: SparkSession, docs: DataFrame): Dataset[FrameHash] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, content) =>
        val bytes = mp4Bytes(vTimescaleOf(id), vDurTicksOf(id),
          vWidthOf(id), vHeightOf(id), content)
        val (mo, ml) = mdatRegion(bytes)
        (0 until ml / FrameChunk).map { k =>
          FrameHash(id, k.toLong,
            Hashing.md5Hex(bytes, mo + k * FrameChunk, FrameChunk).substring(0, 15))
        }
      })
  }

  val queries: Map[String, Q] = Map(
    "mm_decode_features" -> ((spark, sfDir) => features(spark, sfDir)),
    // downstream geometry stage over the decoded dims — narrow, codegen'd
    "mm_thumbnail_geometry" -> ((spark, sfDir) => {
      val f = features(spark, sfDir)
      f.select(col("doc_id"), col("format"), col("width"), col("height"),
        thumbDim(col("width"), col("width"), col("height")).as("thumb_w"),
        thumbDim(col("height"), col("width"), col("height")).as("thumb_h"))
    }),
    // audio twin of mm_decode_features: WAV header parse, floor-derived
    // sample count and duration
    "mm_audio_features" -> ((spark, sfDir) =>
      audioFeatures(spark, Tables.load(spark, sfDir, "documents")).toDF()),
    // video twin: real ISO-BMFF box walk (ftyp brand, mvhd movie timescale
    // + duration, tkhd 16.16 fixed-point dims, mdat fingerprint); the
    // oracle predicts every field from doc_id alone, so a mis-walked
    // offset or endianness slip fails the hash gate
    "mm_video_features" -> ((spark, sfDir) =>
      videoFeatures(spark, Tables.load(spark, sfDir, "documents")).toDF()),
    // Frame sampling (the video-pipeline stage, exercised over the parsed
    // WAV timeline): explode each media row into up to 8 sampled frames at
    // one per 50 ms, each carrying its timestamp, sample index, and byte
    // offset into the payload — all derived from the REAL header parse
    // (sample_rate / n_channels / duration_ms), while the oracle predicts
    // them from the synthesis formulas alone. 1:N row generation is a
    // narrow explode: no shuffle, scales with the input splits.
    "mm_frame_sample" -> ((spark, sfDir) => {
      val f = audioFeatures(spark, Tables.load(spark, sfDir, "documents")).toDF()
      f.select(col("doc_id"), col("sample_rate"), col("n_channels"),
          explode(expr("sequence(0L, least(duration_ms div 50, 7L))")).as("frame_idx"))
        .withColumn("ts_ms", col("frame_idx") * 50)
        .withColumn("sample_idx", expr("(ts_ms * sample_rate) div 1000"))
        .select(col("doc_id"), col("frame_idx"), col("ts_ms"), col("sample_idx"),
          (lit(44L) + col("sample_idx") * 2L * col("n_channels")).as("byte_offset"))
    }),
    // the graft_frames TABLE function ([[graft.GraftExtensions]]) joined
    // against a real table from plain SQL — exercises the injected TVF
    // end-to-end through the oracle gate
    "mm_frames_tvf" -> ((spark, sfDir) => {
      Tables.load(spark, sfDir, "documents").createOrReplaceTempView("documents")
      spark.sql(
        """SELECT d.doc_id, f.frame_idx, f.ts_ms
          |FROM documents d CROSS JOIN graft_frames(200, 50, 4) f
          |WHERE d.doc_id < 10""".stripMargin)
    }),
    // Cross-format image dedup by perceptual hash: decode every payload's
    // content region through the REAL container parse, signature it with
    // [[dHash56]], generate candidates by 14-bit band buckets (no all-pairs
    // stage — the same banding discipline as every text dedup), verify by
    // exact Hamming distance. The planted exact twins sit at doc_id +
    // 1e8 ≡ a DIFFERENT container format (1e8 % 3 = 1), so every emitted
    // hamming-0 pair is a genuine PNG↔BMP↔JPEG re-containment catch.
    "mm_phash_dedup" -> ((spark, sfDir) => {
      val media = synthesizeMedia(spark, DedupQueries.corpus(spark, sfDir))
      val ph = graft.CacheScope.pinned(phashes(spark, media)) // banded self-join
      val bands = ph
        .select(col("doc_id"), col("ph"),
          explode(expr("sequence(0, 3)")).as("band"))
        .withColumn("v",
          expr(s"shiftright(ph, $PhashBandBits * band) & ${(1 << PhashBandBits) - 1}"))
      val cand = bands
        .select(col("band"), col("v"), col("doc_id").as("doc_a"), col("ph").as("pa"))
        .join(bands.select(col("band"), col("v"), col("doc_id").as("doc_b"),
          col("ph").as("pb")), Seq("band", "v"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))
        .distinct()
      cand
        .withColumn("hamming", expr("bit_count(pa ^ pb)").cast("long"))
        .filter(col("hamming") <= PhashMaxHamming)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }),
    // Video PARTIAL-content overlap by shared aligned frames: fingerprint
    // every 64-byte mdat frame chunk through the real container
    // build+parse, join videos on (frame position, fingerprint) under a
    // boilerplate bucket cap, and keep pairs sharing >= 2 aligned frames —
    // catches the re-delivered video with an appended tail that a
    // whole-file fingerprint misses, with per-video frame counts for the
    // overlap fraction. Candidates come only from co-bucketed frames
    // (never all-pairs), the cap bounds per-bucket fan-out, and the frame
    // stage is a narrow explode — the text chunk-overlap discipline,
    // applied through the media decode path.
    "mm_video_shared_frames" -> ((spark, sfDir) => {
      // pinned: feeds the bucket-cap window, both self-join sides and the
      // per-video counts — the concurrent-consumer rule for shared frames
      val fh = videoFrameHashes(spark, DedupQueries.corpus(spark, sfDir)).toDF()
        .transform(graft.CacheScope.pinned)
      val nf = fh.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
        .transform(graft.CacheScope.pinned) // joined on both pair sides
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("frame_idx"), col("fh"))
      val capped = fh.withColumn("bn", count(lit(1)).over(w))
        .filter(col("bn") <= FrameBucketCap)
        .select(col("frame_idx"), col("fh"), col("doc_id"))
        .transform(graft.CacheScope.pinned) // both candidate self-join sides
      val pairs = capped.select(col("frame_idx"), col("fh"), col("doc_id").as("doc_a"))
        .join(capped.select(col("frame_idx"), col("fh"), col("doc_id").as("doc_b")),
          Seq("frame_idx", "fh"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= MinSharedFrames)
      pairs
        .join(nf.select(col("doc_id").as("doc_a"), col("nf").as("n_frames_a")), "doc_a")
        .join(nf.select(col("doc_id").as("doc_b"), col("nf").as("n_frames_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          col("n_frames_a"), col("n_frames_b"))
    }),
    // metadata aggregation over the decoded features (typed Dataset → agg)
    "mm_feature_stats" -> ((spark, sfDir) =>
      features(spark, sfDir)
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_bytes")).as("total_bytes"),
          max(col("width")).as("max_width"),
          max(col("height")).as("max_height")))
  )

  /** The oracle predicts every decoded field from doc_id/text alone — it
    * never sees the binary, so it cross-checks the real parse. */
  val oracleSql: Map[String, String] = Map(
    // the mdat content IS the document text (the synthesis contract), so
    // the oracle predicts each aligned frame fingerprint straight from a
    // text substring — a region mis-walk or off-by-one in the engine's
    // byte slicing diverges the hashes
    "mm_video_shared_frames" ->
      s"""WITH corpus AS (
         |${DedupQueries.corpusSql}
         |),
         |fr AS (
         |  SELECT doc_id, unnest(range(len(text) // $FrameChunk)) AS frame_idx, text
         |  FROM corpus),
         |fhh AS (
         |  SELECT doc_id, frame_idx,
         |    substr(md5(substr(text, 1 + frame_idx * $FrameChunk, $FrameChunk)), 1, 15) AS fh
         |  FROM fr),
         |nf AS (SELECT doc_id, COUNT(*) AS nf FROM fhh GROUP BY doc_id),
         |capped AS (
         |  SELECT doc_id, frame_idx, fh FROM (
         |    SELECT doc_id, frame_idx, fh,
         |           COUNT(*) OVER (PARTITION BY frame_idx, fh) AS bn
         |    FROM fhh) t
         |  WHERE bn <= $FrameBucketCap),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |  FROM capped a JOIN capped b
         |    ON a.frame_idx = b.frame_idx AND a.fh = b.fh AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |  HAVING COUNT(*) >= $MinSharedFrames)
         |SELECT p.doc_a, p.doc_b, p.n_shared,
         |  na.nf AS n_frames_a, nb.nf AS n_frames_b
         |FROM p JOIN nf na ON na.doc_id = p.doc_a
         |       JOIN nf nb ON nb.doc_id = p.doc_b""".stripMargin,
    "mm_thumbnail_geometry" ->
      s"""SELECT doc_id, format, width, height,
         |  GREATEST(1, CAST(floor(width * LEAST($ThumbBox, GREATEST(width, height))
         |      / GREATEST(width, height)) AS BIGINT)) AS thumb_w,
         |  GREATEST(1, CAST(floor(height * LEAST($ThumbBox, GREATEST(width, height))
         |      / GREATEST(width, height)) AS BIGINT)) AS thumb_h
         |FROM (
         |  SELECT doc_id,
         |         CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'jpeg' END AS format,
         |         16 + (doc_id * 7) % 480 AS width,
         |         16 + (doc_id * 13) % 360 AS height
         |  FROM documents) t""".stripMargin,
    "mm_decode_features" ->
      """SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'jpeg' END AS format,
        |       CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 54 ELSE 39 END
        |         + octet_length(encode(text)) AS n_bytes,
        |       16 + (doc_id * 7) % 480 AS width,
        |       16 + (doc_id * 13) % 360 AS height,
        |       md5(text) AS fingerprint
        |FROM documents""".stripMargin,
    "mm_audio_features" ->
      """SELECT doc_id,
        |       8000 + (doc_id * 31) % 40000 AS sample_rate,
        |       1 + doc_id % 2 AS n_channels,
        |       CAST(16 AS BIGINT) AS bits_per_sample,
        |       octet_length(encode(text)) // (2 * (1 + doc_id % 2)) AS n_samples,
        |       (octet_length(encode(text)) // (2 * (1 + doc_id % 2)) * 1000)
        |         // (8000 + (doc_id * 31) % 40000) AS duration_ms,
        |       44 + octet_length(encode(text)) AS n_bytes,
        |       md5(text) AS fingerprint
        |FROM documents""".stripMargin,
    "mm_video_features" ->
      """SELECT doc_id,
        |       'isom' AS major_brand,
        |       600 * (1 + doc_id % 4) AS timescale,
        |       600 * (1 + doc_id % 4) + (doc_id * 41) % 100000 AS duration_ticks,
        |       ((600 * (1 + doc_id % 4) + (doc_id * 41) % 100000) * 1000)
        |         // (600 * (1 + doc_id % 4)) AS duration_ms,
        |       128 + (doc_id * 23) % 1792 AS width,
        |       96 + (doc_id * 29) % 984 AS height,
        |       248 + octet_length(encode(text)) AS n_bytes,
        |       md5(text) AS fingerprint
        |FROM documents""".stripMargin,
    "mm_frame_sample" ->
      """WITH a AS (
        |  SELECT doc_id,
        |         8000 + (doc_id * 31) % 40000 AS sample_rate,
        |         1 + doc_id % 2 AS n_channels,
        |         (octet_length(encode(text)) // (2 * (1 + doc_id % 2)) * 1000)
        |           // (8000 + (doc_id * 31) % 40000) AS duration_ms
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, sample_rate, n_channels,
        |         unnest(range(0, least(duration_ms // 50, 7) + 1)) AS frame_idx
        |  FROM a)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(frame_idx * 50 AS BIGINT) AS ts_ms,
        |  CAST((frame_idx * 50 * sample_rate) // 1000 AS BIGINT) AS sample_idx,
        |  CAST(44 + ((frame_idx * 50 * sample_rate) // 1000) * 2 * n_channels AS BIGINT)
        |    AS byte_offset
        |FROM fr""".stripMargin,
    "mm_frames_tvf" ->
      """SELECT d.doc_id, CAST(f.i AS BIGINT) AS frame_idx,
        |  CAST(f.i * 50 AS BIGINT) AS ts_ms
        |FROM documents d CROSS JOIN range(0, 4) f(i)
        |WHERE d.doc_id < 10""".stripMargin,
    "mm_feature_stats" ->
      """SELECT format, COUNT(*) AS n, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |       MAX(width) AS max_width, MAX(height) AS max_height
        |FROM (
        |  SELECT CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'jpeg' END AS format,
        |         CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 54 ELSE 39 END
        |           + octet_length(encode(text)) AS n_bytes,
        |         16 + (doc_id * 7) % 480 AS width,
        |         16 + (doc_id * 13) % 360 AS height
        |  FROM documents) t
        |GROUP BY format""".stripMargin,
    // The oracle never parses a byte of the containers: it recomputes the
    // dHash straight from the text (the content region IS the text bytes —
    // the md5 fingerprint gate proves that equivalence), then replays the
    // same band bucketing and Hamming verify. A mis-parsed content offset
    // on ANY format shifts every sampled byte and fails the hash gate.
    "mm_phash_dedup" -> {
      val mask = (1 << PhashBandBits) - 1
      s"""WITH corpus AS (
         |${DedupQueries.corpusSql}
         |),
         |samp AS (
         |  SELECT doc_id, list_transform(range(64), k ->
         |    ascii(substr(text, 1 + CAST((k * len(text)) // 64 AS INTEGER), 1))) AS s
         |  FROM corpus),
         |h AS (
         |  SELECT doc_id, CAST(list_sum(list_transform(range(56), j ->
         |    CASE WHEN s[CAST((j // 7) * 8 + (j % 7) + 1 AS INTEGER)]
         |           < s[CAST((j // 7) * 8 + (j % 7) + 2 AS INTEGER)]
         |         THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
         |         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS ph
         |  FROM samp),
         |bands AS (
         |  SELECT doc_id, ph, b,
         |         (ph >> CAST($PhashBandBits * b AS INTEGER)) & $mask AS v
         |  FROM h CROSS JOIN (SELECT unnest(range(4)) AS b) bb),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.ph AS pa, b.ph AS pb
         |  FROM bands a JOIN bands b
         |    ON b.b = a.b AND b.v = a.v AND b.doc_id > a.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(pa, pb)) <= $PhashMaxHamming""".stripMargin
    }
  )
}
