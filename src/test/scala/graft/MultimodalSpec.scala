package graft

import graft.operators.Multimodal

/** Pins the real header codecs: byte-exact layout, endianness, and CRC
  * verification — independent of the doc_id formulas the oracle uses. */
class MultimodalSpec extends SparkTestBase {

  private val md = java.security.MessageDigest.getInstance("MD5")
  private val content = "hello, multimodal world".getBytes("UTF-8")

  test("PNG round-trip: signature, big-endian IHDR dims, verified CRC") {
    val bytes = Multimodal.pngBytes(640, 480, content)
    // spot-pin the big-endian encoding: width 640 = 0x00000280 at offset 16
    assert((bytes(16), bytes(17), bytes(18), bytes(19)) == (0x00.toByte, 0x00.toByte, 0x02.toByte, 0x80.toByte))
    val f = Multimodal.decodeMedia(42L, bytes)
    assert(f.format == "png" && f.width == 640 && f.height == 480)
    assert(f.n_bytes == 33 + content.length)
  }

  test("BMP round-trip: little-endian DIB dims") {
    val bytes = Multimodal.bmpBytes(640, 480, content)
    // little-endian: width 640 = 80 02 00 00 at offset 18
    assert((bytes(18), bytes(19), bytes(20), bytes(21)) == (0x80.toByte, 0x02.toByte, 0x00.toByte, 0x00.toByte))
    val f = Multimodal.decodeMedia(43L, bytes)
    assert(f.format == "bmp" && f.width == 640 && f.height == 480)
    assert(f.n_bytes == 54 + content.length)
  }

  test("phash is container-invariant: same content hashes equal across PNG/BMP/JPEG") {
    def ph(bytes: Array[Byte]): Long =
      Multimodal.dHash56(bytes, Multimodal.parseContainer(bytes)._4)
    val png = ph(Multimodal.pngBytes(20, 20, content))
    val bmp = ph(Multimodal.bmpBytes(640, 480, content))
    val jpg = ph(Multimodal.jpegBytes(64, 64, content))
    assert(png == bmp && bmp == jpg, "re-containment must not change the signature")
    assert(png >= 0L && png < (1L << 56), "56-bit positive signature")
    // a single flipped content byte moves few bits, never the whole hash
    val mutated = content.clone(); mutated(3) = (mutated(3) + 1).toByte
    val png2 = ph(Multimodal.pngBytes(20, 20, mutated))
    assert(java.lang.Long.bitCount(png ^ png2) <= 8)
  }

  test("phash dedup finds every planted twin as a cross-format hamming-0 pair") {
    val B = graft.operators.DedupQueries.DeltaBase
    val rows = SparkEntry.queries("mm_phash_dedup")(spark, Sf).collect()
    val pairs = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
      r.getAs[Long]("hamming")))
    val planted = Tables.load(spark, Sf, "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 50 === 0)
      .select("doc_id").collect().map(_.getLong(0))
    planted.foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + B && p._3 == 0L),
        s"planted twin ($id, ${id + B}) missing")
    }
    pairs.foreach(p => assert(p._3 <= Multimodal.PhashMaxHamming))
  }

  test("content fingerprint is md5 of the bytes after the header, either container") {
    val expected = md.digest(content).map("%02x".format(_)).mkString
    assert(Multimodal.decodeMedia(1L, Multimodal.pngBytes(20, 20, content)).fingerprint == expected)
    assert(Multimodal.decodeMedia(2L, Multimodal.bmpBytes(20, 20, content)).fingerprint == expected)
  }

  test("corrupted PNG dims are rejected by the CRC check") {
    val bytes = Multimodal.pngBytes(640, 480, content)
    bytes(19) = 0x81.toByte // flip a width bit without fixing the CRC
    val e = intercept[IllegalArgumentException](Multimodal.decodeMedia(44L, bytes))
    assert(e.getMessage.contains("CRC"))
  }

  test("truncated or unknown payloads are rejected") {
    intercept[IllegalArgumentException](Multimodal.decodeMedia(45L, Array.fill[Byte](80)(0x7f)))
    intercept[IllegalArgumentException](
      Multimodal.decodeMedia(46L, Multimodal.pngBytes(20, 20, content).take(20)))
  }

  test("JPEG decode walks markers to SOF0 and rejects corrupt segments") {
    val content = Array.fill[Byte](100)(7)
    val f = Multimodal.decodeMedia(2L, Multimodal.jpegBytes(496, 360, content))
    assert(f.format == "jpeg" && f.width == 496 && f.height == 360)
    assert(f.n_bytes == 39 + 100)
    val corrupt = Multimodal.jpegBytes(496, 360, content)
    corrupt(20) = 0x00 // break the SOF0 marker's FF prefix
    intercept[IllegalArgumentException] {
      Multimodal.decodeMedia(2L, corrupt)
    }
  }

  test("MP4 round-trip: box walk recovers brand, timescale/duration, 16.16 dims") {
    val bytes = Multimodal.mp4Bytes(1200, 90000, 1280, 720, content)
    val f = Multimodal.decodeMp4(7L, bytes)
    assert(f.major_brand == "isom")
    assert(f.timescale == 1200 && f.duration_ticks == 90000)
    assert(f.duration_ms == 90000L * 1000 / 1200)
    assert(f.width == 1280 && f.height == 720)
    assert(f.n_bytes == 248 + content.length)
    assert(f.fingerprint == md.digest(content).map("%02x".format(_)).mkString)
  }

  test("MP4 decode fails loudly on a corrupted box size or missing moov") {
    val bytes = Multimodal.mp4Bytes(600, 600, 320, 240, content)
    bytes(3) = 99.toByte // ftyp's declared size no longer matches the walk
    intercept[IllegalArgumentException](Multimodal.decodeMp4(8L, bytes))
    // an mdat-only stream parses no moov → must be rejected, not defaulted
    val mdatOnly = Multimodal.mp4Bytes(600, 600, 320, 240, content).drop(24 + 216)
    intercept[IllegalArgumentException](Multimodal.decodeMp4(9L, mdatOnly))
  }
}
