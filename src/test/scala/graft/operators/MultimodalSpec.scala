package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf001/documents.parquet").limit(50)
  private lazy val media = Multimodal.asMedia(docs, "doc_id", "text", "text", "source")

  test("asMedia: binary payload with typed metadata") {
    val r = media.head()
    assert(r.modality == "text")
    assert(r.byte_len == r.bytes.length.toLong && r.byte_len > 0)
  }

  test("extractFeatures: histogram sums to ~1, deterministic hash, stubbed dims bounded") {
    val f = Multimodal.extractFeatures(media).collect()
    assert(f.length == 50)
    f.foreach { x =>
      assert(math.abs(x.histogram.sum - 1.0) < 1e-9)
      assert(x.width >= 64 && x.width < 64 + 1024)
      assert(x.n_frames >= 1)
    }
    // determinism across runs
    val again = Multimodal.extractFeatures(media).collect()
    assert(f.map(_.content_hash).toSeq == again.map(_.content_hash).toSeq)
  }

  /** Handcraft a minimal 24-bit BMP: 14-byte file header + 40-byte
    * BITMAPINFOHEADER + pixel rows padded to 4 bytes. Every field is
    * written little-endian exactly as an encoder would. */
  private def bmpBytes(w: Int, h: Int): Array[Byte] = {
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val pixelBytes = rowBytes * math.abs(h)
    val size = 54 + pixelBytes
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size)
      .putShort(0).putShort(0).putInt(54)         // reserved, pixel offset
    b.putInt(40).putInt(w).putInt(h).putShort(1)  // dib, width, height, planes
      .putShort(24).putInt(0).putInt(pixelBytes)  // bpp, no compression
      .putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 dpi, palette
    (0 until pixelBytes).foreach(i => b.put((i % 251).toByte))
    b.array()
  }

  /** Handcrafted WAV/RIFF bytes: canonical PCM layout, optionally with
    * a LIST chunk inserted before "fmt " (real encoders emit those). */
  private def wavBytes(rate: Int, channels: Int, bits: Int, frames: Int,
      audioTag: Int = 1, listChunk: Boolean = false): Array[Byte] = {
    val align = channels * (bits / 8)
    val dataSize = frames * align
    val listBytes = if (listChunk) 12 else 0
    val riffSize = 4 + listBytes + 24 + 8 + dataSize
    val b = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(riffSize).put("WAVE".getBytes)
    if (listChunk) b.put("LIST".getBytes).putInt(4).put("INFO".getBytes)
    b.put("fmt ".getBytes).putInt(16)
      .putShort(audioTag.toShort).putShort(channels.toShort)
      .putInt(rate).putInt(rate * align)
      .putShort(align.toShort).putShort(bits.toShort)
    b.put("data".getBytes).putInt(dataSize)
    (0 until dataSize).foreach(i => b.put((i % 251).toByte))
    b.array()
  }

  test("decodeWav: REAL bytes decode to (sample_rate, channels, n_frames) — " +
      "PCM, float, LIST-prefixed, with malformed payloads rejected") {
    assert(Multimodal.decodeWav(wavBytes(44100, 2, 16, 100))
      .contains((44100, 2, 100)))
    assert(Multimodal.decodeWav(wavBytes(8000, 1, 8, 37))
      .contains((8000, 1, 37)))
    // IEEE-float format tag, 32-bit
    assert(Multimodal.decodeWav(wavBytes(48000, 4, 32, 5, audioTag = 3))
      .contains((48000, 4, 5)))
    // a LIST/INFO chunk before fmt must be walked over, not rejected
    assert(Multimodal.decodeWav(wavBytes(22050, 1, 16, 64, listChunk = true))
      .contains((22050, 1, 64)))
    // malformed: text, wrong magic, inconsistent block align, bad
    // format tag, zero channels, truncated data (frame count clamps)
    assert(Multimodal.decodeWav(
      ("RIFF is mentioned in this text but it is not a wave container " +
        "padded to length").getBytes("UTF-8")).isEmpty)
    val badMagic = wavBytes(44100, 2, 16, 10); badMagic(8) = 'X'.toByte
    assert(Multimodal.decodeWav(badMagic).isEmpty)
    val badAlign = wavBytes(44100, 2, 16, 10)
    badAlign(32) = 7 // block_align != channels*bits/8
    assert(Multimodal.decodeWav(badAlign).isEmpty)
    val badTag = wavBytes(44100, 2, 16, 10, audioTag = 85)
    assert(Multimodal.decodeWav(badTag).isEmpty)
    val truncated = wavBytes(44100, 2, 16, 100).take(44 + 40) // 10 frames left
    assert(Multimodal.decodeWav(truncated).contains((44100, 2, 10)))
  }

  test("decodeWav: a legal ZERO-size chunk before fmt is walked over " +
      "(only negative/overflowed sizes abort the walk)") {
    // real encoders emit empty pad/LIST chunks; the walk still makes
    // 8-byte header progress on size = 0, so it must not be treated
    // as corrupt
    val align = 2 * 2
    val dataSize = 12 * align
    val riffSize = 4 + 8 + 24 + 8 + dataSize // empty chunk + fmt + data
    val b = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(riffSize).put("WAVE".getBytes)
    b.put("PAD ".getBytes).putInt(0) // zero-size chunk, no payload
    b.put("fmt ".getBytes).putInt(16)
      .putShort(1.toShort).putShort(2.toShort)
      .putInt(44100).putInt(44100 * align)
      .putShort(align.toShort).putShort(16.toShort)
    b.put("data".getBytes).putInt(dataSize)
    (0 until dataSize).foreach(i => b.put((i % 251).toByte))
    assert(Multimodal.decodeWav(b.array()).contains((44100, 2, 12)))
    // a size that overflows to a large negative int must abort the
    // walk (o jumps far behind body), not scan on or loop
    val neg = b.array().clone()
    neg(16) = 0x00.toByte; neg(17) = 0x00.toByte
    neg(18) = 0x00.toByte; neg(19) = 0x80.toByte // PAD size = 2^31
    assert(Multimodal.decodeWav(neg).isEmpty)
  }

  test("decodeGif: REAL bytes — frame-count walk over color tables, " +
      "extensions and LZW sub-blocks; malformed payloads rejected") {
    // handcrafted GIF89a: logical screen 7×5, global color table of
    // 2 entries, one graphic-control extension, `frames` image
    // descriptors (odd ones with a 2-entry local color table), trailer
    def gif(frames: Int, trailer: Boolean = true): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write("GIF89a".getBytes("US-ASCII"))
      b.write(Array[Byte](7, 0, 5, 0)) // LE u16 width=7, height=5
      b.write(0x80) // global color table flag, size bits 0 -> 2 entries
      b.write(0); b.write(0) // bg index, aspect ratio
      b.write(Array[Byte](0, 0, 0, -1, -1, -1)) // 2 RGB entries
      // graphic control extension: introducer, label, one 4-byte
      // sub-block, terminator
      b.write(Array[Byte](0x21, 0xF9.toByte, 4, 0, 0, 0, 0, 0))
      (0 until frames).foreach { f =>
        b.write(0x2C) // image descriptor introducer
        b.write(Array[Byte](0, 0, 0, 0, 7, 0, 5, 0)) // pos + size
        if (f % 2 == 1) {
          b.write(0x80) // local color table, 2 entries
          b.write(Array[Byte](1, 1, 1, 2, 2, 2))
        } else b.write(0)
        b.write(2) // LZW minimum code size
        b.write(Array[Byte](3, 9, 9, 9)) // one 3-byte data sub-block
        b.write(0) // sub-block terminator
      }
      if (trailer) b.write(0x3B)
      b.toByteArray
    }
    assert(Multimodal.decodeGif(gif(1)).contains((7, 5, 1)))
    assert(Multimodal.decodeGif(gif(3)).contains((7, 5, 3)))
    // truncated after the last complete frame: parsed frames survive
    assert(Multimodal.decodeGif(gif(2, trailer = false)).contains((7, 5, 2)))
    // cut INSIDE the second frame's descriptor header: frame 1 survives
    // (the clamping rule applies to header cuts too, not just data cuts)
    val two = gif(2, trailer = false)
    val secondIntro = two.lastIndexOf(0x2C.toByte)
    assert(Multimodal.decodeGif(two.take(secondIntro + 5)).contains((7, 5, 1)))
    // malformed: bad magic, zero dimensions, invalid block introducer,
    // zero frames, and plain text
    val badMagic = gif(1); badMagic(4) = '7'.toByte; badMagic(5) = 'x'.toByte
    assert(Multimodal.decodeGif(badMagic).isEmpty)
    val zeroW = gif(1); zeroW(6) = 0; zeroW(7) = 0
    assert(Multimodal.decodeGif(zeroW).isEmpty)
    val badBlock = gif(1)
    // first block introducer: header 6 + screen descriptor 7 + global
    // color table 6 = offset 19 (the 0x21 extension introducer)
    badBlock(19) = 0x55
    assert(Multimodal.decodeGif(badBlock).isEmpty)
    val noFrames = gif(0)
    assert(Multimodal.decodeGif(noFrames).isEmpty)
    assert(Multimodal.decodeGif(
      "GIF in text but not a container padded out to some length".getBytes("UTF-8")).isEmpty)
  }

  test("decodeJpeg: REAL bytes — marker walk over APP/DQT segments to " +
      "SOF0; standalone and fill markers skipped; malformed rejected") {
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array(0xFF.toByte, marker.toByte,
        (((payload.length + 2) >> 8) & 0xFF).toByte,
        ((payload.length + 2) & 0xFF).toByte) ++ payload
    def jpeg(precision: Int = 8, comps: Int = 3, sof: Int = 0xC0,
        withSof: Boolean = true): Array[Byte] = {
      val sofPayload = Array[Byte](precision.toByte,
        0, 5, // height 5 (BE)
        0, 7, // width 7 (BE)
        comps.toByte) ++ Array.fill(comps * 3)(1.toByte)
      Array(0xFF.toByte, 0xD8.toByte) ++            // SOI
        seg(0xE0, "JFIF".getBytes ++ Array[Byte](0, 1, 1)) ++ // APP0
        Array(0xFF.toByte, 0x01.toByte) ++          // standalone TEM
        seg(0xDB, Array.fill(4)(9.toByte)) ++       // DQT junk
        (if (withSof) seg(sof, sofPayload) else Array[Byte]()) ++
        seg(0xDA, Array[Byte](1, 1)) ++             // SOS (stops the walk)
        Array(0xFF.toByte, 0xD9.toByte)             // EOI
    }
    assert(Multimodal.decodeJpeg(jpeg()).contains((7, 5, 1)))
    assert(Multimodal.decodeJpeg(jpeg(precision = 12, comps = 1, sof = 0xC2))
      .contains((7, 5, 1)))
    // SOS reached before any SOF → reject
    assert(Multimodal.decodeJpeg(jpeg(withSof = false)).isEmpty)
    // bad precision / component count / magic / text
    assert(Multimodal.decodeJpeg(jpeg(precision = 7)).isEmpty)
    assert(Multimodal.decodeJpeg(jpeg(comps = 2)).isEmpty)
    val badMagic = jpeg(); badMagic(1) = 0x00
    assert(Multimodal.decodeJpeg(badMagic).isEmpty)
    assert(Multimodal.decodeJpeg(
      "plain text that is long enough to scan but has no JPEG structure"
        .getBytes("UTF-8")).isEmpty)
  }

  test("decodeTiff: REAL bytes — both byte orders, SHORT and LONG dims, " +
      "multi-page IFD chain; cycles and malformed payloads rejected") {
    // little-endian, single page, SHORT dims 7×5
    val le = java.nio.ByteBuffer.allocate(8 + 2 + 2 * 12 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    le.put('I'.toByte).put('I'.toByte).putShort(42.toShort).putInt(8)
    le.putShort(2.toShort)
    le.putShort(256.toShort).putShort(3.toShort).putInt(1)
      .putShort(7.toShort).putShort(0.toShort)
    le.putShort(257.toShort).putShort(3.toShort).putInt(1)
      .putShort(5.toShort).putShort(0.toShort)
    le.putInt(0)
    assert(Multimodal.decodeTiff(le.array()).contains((7, 5, 1)))
    // big-endian, LONG dims 300×200, three-page chain
    def beIfd(b: java.nio.ByteBuffer, next: Int): Unit = {
      b.putShort(2.toShort)
      b.putShort(256.toShort).putShort(4.toShort).putInt(1).putInt(300)
      b.putShort(257.toShort).putShort(4.toShort).putInt(1).putInt(200)
      b.putInt(next)
    }
    val ifdLen = 2 + 2 * 12 + 4
    val be = java.nio.ByteBuffer.allocate(8 + 3 * ifdLen)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    be.put('M'.toByte).put('M'.toByte).putShort(42.toShort).putInt(8)
    beIfd(be, 8 + ifdLen)
    beIfd(be, 8 + 2 * ifdLen)
    beIfd(be, 0)
    assert(Multimodal.decodeTiff(be.array()).contains((300, 200, 3)))
    // a next-IFD offset revisiting a SEEN offset must reject (cycle
    // guard), never loop
    val cyc = be.array().clone()
    // last IFD's next pointer (last 4 bytes) → back to the first IFD
    val np = cyc.length - 4
    cyc(np) = 0; cyc(np + 1) = 0; cyc(np + 2) = 0; cyc(np + 3) = 8
    assert(Multimodal.decodeTiff(cyc).isEmpty)
    // but a DECREASING offset to an UNSEEN IFD is a valid layout the
    // spec permits (ADVICE r13: IFDs may sit at arbitrary offsets) —
    // header → page 1 at the HIGHER offset, its next → page 2 at the
    // lower one
    val nm = java.nio.ByteBuffer.allocate(8 + 2 * ifdLen)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    nm.put('M'.toByte).put('M'.toByte).putShort(42.toShort)
      .putInt(8 + ifdLen) // first IFD is the LATER one in the file
    beIfd(nm, 0)          // page 2 (at offset 8): chain ends here
    beIfd(nm, 8)          // page 1 (at offset 8 + ifdLen): next → 8
    assert(Multimodal.decodeTiff(nm.array()).contains((300, 200, 2)))
    // missing dimension tags / zero entries / text all reject
    val zeroN = le.array().clone(); zeroN(8) = 0; zeroN(9) = 0
    assert(Multimodal.decodeTiff(zeroN).isEmpty)
    assert(Multimodal.decodeTiff(
      "II* looks like a magic but is just text padding here"
        .getBytes("UTF-8")).isEmpty)
  }

  test("decodeWebp: REAL bytes — VP8 lossy sync, VP8L packed bits, VP8X " +
      "canvas with ANMF frame count; malformed payloads rejected") {
    def webp(chunks: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(12 + chunks.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(4 + chunks.length).put("WEBP".getBytes)
      b.put(chunks)
      b.array()
    }
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + payload.length + (payload.length & 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(id.getBytes).putInt(payload.length).put(payload)
      b.array()
    }
    // VP8 lossy: frame tag ×3, sync 9D 01 2A, u14le dims 7×5
    val vp8 = chunk("VP8 ", Array[Byte](0, 0, 0, 0x9D.toByte, 0x01, 0x2A,
      7, 0, 5, 0))
    assert(Multimodal.decodeWebp(webp(vp8)).contains((7, 5, 1)))
    // VP8L lossless: 0x2F then (w−1) | (h−1)<<14 for 7×5
    val bits = (7 - 1) | ((5 - 1) << 14)
    val vp8l = chunk("VP8L", Array[Byte](0x2F,
      (bits & 0xFF).toByte, ((bits >> 8) & 0xFF).toByte,
      ((bits >> 16) & 0xFF).toByte, ((bits >> 24) & 0xFF).toByte))
    assert(Multimodal.decodeWebp(webp(vp8l)).contains((7, 5, 1)))
    // VP8X animated canvas 640×480 with 3 ANMF chunks
    val vp8x = chunk("VP8X", Array[Byte](0x02, 0, 0, 0,
      ((640 - 1) & 0xFF).toByte, (((640 - 1) >> 8) & 0xFF).toByte, 0,
      ((480 - 1) & 0xFF).toByte, (((480 - 1) >> 8) & 0xFF).toByte, 0))
    val anim = webp(vp8x ++ chunk("ANMF", Array[Byte](1, 2)) ++
      chunk("ANMF", Array[Byte](3, 4)) ++ chunk("ANMF", Array[Byte](5, 6)))
    assert(Multimodal.decodeWebp(anim).contains((640, 480, 3)))
    // still VP8X (no animation flag) stays 1 frame
    val still = vp8x.clone(); still(8) = 0x00
    assert(Multimodal.decodeWebp(webp(still)).contains((640, 480, 1)))
    // bad sync code / WAVE-not-WEBP / text all reject
    val badSync = webp(vp8.clone()); badSync(12 + 8 + 3) = 0x00
    assert(Multimodal.decodeWebp(badSync).isEmpty)
    assert(Multimodal.decodeWebp(
      "RIFFxxxxWAVE this is the audio container, not webp".getBytes("UTF-8"))
      .isEmpty)
    assert(Multimodal.decodeWebp(
      "plain text long enough to scan but with no container structure"
        .getBytes("UTF-8")).isEmpty)
  }

  test("extractFeatures routes WAV payloads through the REAL audio " +
      "decoder: dims slots carry (sample_rate, channels, n_frames)") {
    val rows = Seq(
      Multimodal.MediaRecord(1L, "audio", wavBytes(16000, 2, 16, 25), "s", 0L),
      Multimodal.MediaRecord(2L, "audio",
        "not audio at all - just a plain text payload of decent length!!"
          .getBytes("UTF-8"), "s", 0L))
    val f = Multimodal.extractFeatures(spark.createDataset(rows)).collect()
      .map(x => x.media_id -> x).toMap
    assert(f(1L).width == 16000 && f(1L).height == 2 && f(1L).n_frames == 25)
    assert(f(2L).width >= 64 && f(2L).width < 64 + 1024) // stub envelope
    assert(math.abs(f(1L).histogram.sum - 1.0) < 1e-9)
  }

  /** Handcrafted PNG bytes: signature + IHDR (width/height BE u32,
    * bit depth, color type) — header-only, which is all the decoder
    * reads. */
  private def pngBytes(w: Int, h: Int, bitDepth: Int = 8,
      colorType: Int = 2): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(33)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    b.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    b.putInt(13).put("IHDR".getBytes)
      .putInt(w).putInt(h)
      .put(bitDepth.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte) // compr/filter/interlace
    b.array()
  }

  test("decodePng: REAL bytes decode to their true dimensions; network " +
      "byte order respected; malformed payloads rejected") {
    assert(Multimodal.decodePng(pngBytes(640, 480)).contains((640, 480, 1)))
    assert(Multimodal.decodePng(pngBytes(3, 7, bitDepth = 1, colorType = 0))
      .contains((3, 7, 1)))
    // BE width 0x00000102 = 258 — a LE misread would give 0x02010000
    assert(Multimodal.decodePng(pngBytes(258, 2)).contains((258, 2, 1)))
    assert(Multimodal.decodePng(
      "definitely not a png image, just some text of sufficient length"
        .getBytes("UTF-8")).isEmpty)
    val badDepth = pngBytes(4, 4, bitDepth = 3)
    assert(Multimodal.decodePng(badDepth).isEmpty)
    val badColor = pngBytes(4, 4, colorType = 5)
    assert(Multimodal.decodePng(badColor).isEmpty)
    val zeroW = pngBytes(0, 4)
    assert(Multimodal.decodePng(zeroW).isEmpty)
    assert(Multimodal.decodePng(pngBytes(4, 4).take(30)).isEmpty)
    // extractFeatures routes PNG through the real decoder
    val f = Multimodal.extractFeatures(spark.createDataset(Seq(
      Multimodal.MediaRecord(1L, "image", pngBytes(12, 34), "s", 0L)))).head()
    assert(f.width == 12 && f.height == 34 && f.n_frames == 1)
  }

  test("decodeBmp: REAL bytes decode to their true dimensions — " +
      "bottom-up and top-down DIBs, with malformed payloads rejected") {
    assert(Multimodal.decodeBmp(bmpBytes(2, 3)).contains((2, 3, 1)))
    assert(Multimodal.decodeBmp(bmpBytes(640, 480)).contains((640, 480, 1)))
    // top-down DIB: negative height, magnitude is the pixel height
    assert(Multimodal.decodeBmp(bmpBytes(7, -5)).contains((7, 5, 1)))
    // malformed: wrong magic, truncated header, zero width, 2 planes
    assert(Multimodal.decodeBmp("not a bitmap at all, just text padding!!!"
      .getBytes("UTF-8") ++ new Array[Byte](20)).isEmpty)
    assert(Multimodal.decodeBmp(bmpBytes(2, 3).take(40)).isEmpty)
    val zeroW = bmpBytes(2, 3); zeroW(18) = 0; zeroW(19) = 0
    assert(Multimodal.decodeBmp(zeroW).isEmpty)
    val twoPlanes = bmpBytes(2, 3); twoPlanes(26) = 2
    assert(Multimodal.decodeBmp(twoPlanes).isEmpty)
  }

  test("extractFeatures routes BMP payloads through the REAL decoder " +
      "and everything else through the stub") {
    val rows = Seq(
      Multimodal.MediaRecord(1L, "image", bmpBytes(9, 4), "s", 0L),
      Multimodal.MediaRecord(2L, "image",
        "plain text payload that is long enough to clear fifty-four bytes"
          .getBytes("UTF-8"), "s", 0L))
    val ds = spark.createDataset(rows)
    val f = Multimodal.extractFeatures(ds).collect()
      .map(x => x.media_id -> x).toMap
    assert(f(1L).width == 9 && f(1L).height == 4 && f(1L).n_frames == 1)
    // the text payload keeps the stub's hash-derived envelope
    assert(f(2L).width >= 64 && f(2L).width < 64 + 1024)
    // the histogram is computed from the REAL bytes in both paths
    assert(math.abs(f(1L).histogram.sum - 1.0) < 1e-9)
  }

  test("fingerprintDup pairs docs with identical content fingerprints") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "THE QUICK  brown fox jumps over the lazy dog again"), // normalizes equal
      (3L, "completely different content that matches nothing else here"))
      .toDF("doc_id", "text")
    val pairs = TextAnalysis.fingerprintDup(d)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("decodeMp4: REAL ISO-BMFF bytes decode to (duration_ms, n_tracks, " +
      "timescale) for mvhd v0 and v1; malformed payloads reject") {
    import java.nio.ByteBuffer
    // box helper: size(u32 BE) + 4cc + body
    def box(t: String, body: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + body.length)
      b.putInt(8 + body.length).put(t.getBytes("US-ASCII")).put(body)
      b.array()
    }
    def mvhdV0(timescale: Int, duration: Int): Array[Byte] = {
      val body = ByteBuffer.allocate(100) // v0 mvhd body is 100 bytes
      body.putInt(0)                      // version 0 + flags
      body.putInt(111).putInt(222)        // creation, modification
      body.putInt(timescale).putInt(duration)
      box("mvhd", body.array())
    }
    def mvhdV1(timescale: Int, duration: Long): Array[Byte] = {
      val body = ByteBuffer.allocate(112) // v1: 64-bit times
      body.put(1.toByte).put(Array[Byte](0, 0, 0)) // version 1 + flags
      body.putLong(111L).putLong(222L)    // creation, modification
      body.putInt(timescale).putLong(duration)
      box("mvhd", body.array())
    }
    val ftyp = box("ftyp", "isom0000".getBytes("US-ASCII"))
    val trak = box("trak", Array.empty[Byte])
    // v0: 90000 ticks/s, 450000 ticks = 5000 ms, 2 tracks
    val v0 = ftyp ++ box("moov", mvhdV0(90000, 450000) ++ trak ++ trak) ++
      box("mdat", Array[Byte](1, 2, 3))
    assert(Multimodal.decodeMp4(v0).contains((5000, 2, 90000)))
    // v1: 600 ticks/s, 1234 ticks = 2056 ms (floor), 1 track
    val v1 = ftyp ++ box("moov", mvhdV1(600, 1234L) ++ trak)
    assert(Multimodal.decodeMp4(v1).contains((2056, 1, 600)))
    // mdat BEFORE moov (streaming layout) still decodes
    val late = ftyp ++ box("mdat", Array[Byte](9)) ++
      box("moov", mvhdV0(1000, 1500) ++ trak)
    assert(Multimodal.decodeMp4(late).contains((1500, 1, 1000)))
    // rejects: text payload, no ftyp-first, no trak, corrupt box size,
    // zero timescale
    assert(Multimodal.decodeMp4(
      ("an ftyp mention inside plain text long enough to walk")
        .getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeMp4(
      box("mdat", Array[Byte](1)) ++ v0).isEmpty) // ftyp not first
    assert(Multimodal.decodeMp4(
      ftyp ++ box("moov", mvhdV0(1000, 10))).isEmpty) // zero tracks
    val corrupt = v0.clone()
    corrupt(ftyp.length) = 0x7F.toByte // moov size huge → out of bounds
    assert(Multimodal.decodeMp4(corrupt).isEmpty)
    assert(Multimodal.decodeMp4(
      ftyp ++ box("moov", mvhdV0(0, 10) ++ trak)).isEmpty)
  }

  test("perceptualHash: hand-computed dHash bits; phashNearDup finds the Hamming-≤2 pairs") {
    // ascii%32: 'a'→1, 'b'→2. "aab": h[1]=2 > h[2]=1 → bit1; h[2]=1 >
    // h[3]=0 → bit2 ⇒ phash 6. "abb": h[1]=1 ≯ h[2]=2; h[2]=2 > h[3]
    // → bit2 ⇒ phash 4. hamming(6,4)=1.
    val d = Seq((1L, "aab"), (2L, "aab"), (3L, "abb")).toDF("doc_id", "text")
    val hashes = Multimodal.perceptualHash(
      Multimodal.asMedia(d.withColumn("source", lit("s")),
        "doc_id", "text", "text", "source"))
    assert(hashes.collect().map(h => h.media_id -> h.phash).toMap ==
      Map(1L -> 6L, 2L -> 6L, 3L -> 4L))
    val pairs = Multimodal.phashNearDup(hashes, maxHamming = 2)
      .as[(Long, Long, Int)].collect().sortBy(p => (p._1, p._2))
    assert(pairs.toSeq == Seq((1L, 2L, 0), (1L, 3L, 1), (2L, 3L, 1)))
  }

  // a minimal embedded-EXIF TIFF block: header + 1-entry IFD0 with
  // orientation `v` (optionally mistyped), in either byte order
  private def exifTiff(v: Int, le: Boolean, typ: Int = 3): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8 + 2 + 12 + 4).order(
      if (le) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    if (le) b.put('I'.toByte).put('I'.toByte).putShort(42.toShort)
    else b.put('M'.toByte).put('M'.toByte).putShort(42.toShort)
    b.putInt(8) // IFD0 at offset 8 from the TIFF base
    b.putShort(1.toShort)
    b.putShort(0x0112.toShort).putShort(typ.toShort).putInt(1)
      .putShort(v.toShort).putShort(0.toShort)
    b.putInt(0)
    b.array()
  }

  private def jpegWithApp1(tiff: Array[Byte], extraAppFirst: Boolean): Array[Byte] = {
    val app1Len = 2 + 6 + tiff.length
    val pre = if (extraAppFirst)
      // an APP0/JFIF segment before the Exif APP1 (the common layout)
      Array[Byte](0xFF.toByte, 0xE0.toByte, 0, 4, 'J', 'F')
    else Array.empty[Byte]
    val b = java.nio.ByteBuffer.allocate(2 + pre.length + 4 + 6 + tiff.length + 2)
    b.put(0xFF.toByte).put(0xD8.toByte).put(pre)
    b.put(0xFF.toByte).put(0xE1.toByte)
      .put((app1Len >> 8).toByte).put((app1Len & 0xFF).toByte)
    b.put("Exif".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
    b.put(tiff)
    b.put(0xFF.toByte).put(0xD9.toByte)
    b.array()
  }

  test("decodeExifOrientation: REAL bytes — JPEG APP1 both byte orders, " +
      "bare TIFF, EXIF defaults and malformed values") {
    // JPEG + little-endian Exif APP1, orientation 6 (rotate 90 CW)
    assert(Multimodal.decodeExifOrientation(
      jpegWithApp1(exifTiff(6, le = true), extraAppFirst = false)).contains(6))
    // APP0 before the APP1; big-endian TIFF; orientation 8
    assert(Multimodal.decodeExifOrientation(
      jpegWithApp1(exifTiff(8, le = false), extraAppFirst = true)).contains(8))
    // bare TIFF payload: IFD0 read directly
    assert(Multimodal.decodeExifOrientation(exifTiff(3, le = true)).contains(3))
    assert(Multimodal.decodeExifOrientation(exifTiff(3, le = false)).contains(3))
    // out-of-range value (9) and a mistyped entry (LONG, not SHORT)
    // are malformed per EXIF: None, never a fabricated code
    assert(Multimodal.decodeExifOrientation(
      jpegWithApp1(exifTiff(9, le = true), extraAppFirst = false)).isEmpty)
    assert(Multimodal.decodeExifOrientation(
      jpegWithApp1(exifTiff(6, le = true, typ = 4), extraAppFirst = false)).isEmpty)
    // JPEG with no APP1 at all, and a non-media text payload
    assert(Multimodal.decodeExifOrientation(
      Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xD9.toByte)).isEmpty)
    assert(Multimodal.decodeExifOrientation("plain text".getBytes).isEmpty)
  }

  test("extractFeatures surfaces orientation: JPEG-with-EXIF rows carry the " +
      "decoded code, every other payload defaults to 1 (upright)") {
    import spark.implicits._
    val jpeg = jpegWithApp1(exifTiff(6, le = true), extraAppFirst = false)
    val rows = Seq(
      Multimodal.MediaRecord(1L, "image", jpeg, "s", jpeg.length.toLong),
      Multimodal.MediaRecord(2L, "text", "hello".getBytes, "s", 5L))
    val f = Multimodal.extractFeatures(spark.createDataset(rows))
      .collect().sortBy(_.media_id)
    assert(f.map(_.orientation).toSeq == Seq(6, 1))
  }
}
