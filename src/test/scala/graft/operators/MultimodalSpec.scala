package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Multimodal._
import graft.sources.Tables

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = syntheticMedia(Tables.documents(spark, sf001)).cache()

  test("blobStats: byte length and digest match the payload") {
    val one = media.join(
      Tables.documents(spark, sf001).select("doc_id", "text"), "doc_id")
      .limit(1).select("text", "doc_id").as[(String, Long)].head()
    val stats = blobStats(media).filter($"doc_id" === one._2)
      .as[(Long, Int, String)].head()
    assert(stats._2 == one._1.getBytes("UTF-8").length)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(one._1.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(stats._3 == hex)
  }

  test("extractMeta: deterministic stub decode, full coverage, sane ranges") {
    val meta = extractMeta(media, () => new StubDecoder).cache()
    assert(meta.count() == media.count())
    val m = meta.agg(min("width"), max("width"), min("n_frames")).head()
    assert(m.getInt(0) >= 64 && m.getInt(2) >= 1)
    // deterministic: second run produces identical rows
    val a = meta.orderBy("doc_id").collect().toSeq
    val b = extractMeta(media, () => new StubDecoder).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  private def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)

  /** Canonical PCM WAV: given rate/channels/bits with n frames of data. */
  private def wavBytes(rate: Int, channels: Int, bits: Int, frames: Int,
      audioFormat: Int = 1): Array[Byte] = {
    val dataBytes = frames * channels * bits / 8
    "RIFF".getBytes ++ le32(36 + dataBytes) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(audioFormat) ++ le16(channels) ++
      le32(rate) ++ le32(rate * channels * bits / 8) ++
      le16(channels * bits / 8) ++ le16(bits) ++
      "data".getBytes ++ le32(dataBytes) ++
      Array.tabulate[Byte](dataBytes)(i => i.toByte)
  }

  private def bmpBytes(w: Int, h: Int, dibSize: Int = 40): Array[Byte] =
    "BM".getBytes ++ Array.fill[Byte](12)(0) ++ le32(dibSize) ++
      le32(w) ++ le32(h) ++ Array.fill[Byte](4)(0)

  test("HeaderDecoder parses canonical PCM WAV and BMP, falls back otherwise") {
    val dec = new HeaderDecoder
    assert(dec.probe(wavBytes(16000, 1, 16, 32)) == ("wav", 16000, 1, 32))
    assert(dec.probe(bmpBytes(640, 480)) == ("bmp", 640, 480, 1))
    // top-down bitmap: negative height normalizes to magnitude
    assert(dec.probe(bmpBytes(640, -480)) == ("bmp", 640, 480, 1))
    // non-PCM (ADPCM) and unknown DIB headers must NOT be misparsed
    val adpcm = wavBytes(16000, 1, 4, 32, audioFormat = 0x11)
    assert(dec.probe(adpcm) == new StubDecoder().probe(adpcm))
    val coreBmp = bmpBytes(100, 50, dibSize = 12)
    assert(dec.probe(coreBmp) == new StubDecoder().probe(coreBmp))
    // arbitrary text starting with "BM" is not a bitmap
    val bmText = "BMW drivers love spark".getBytes("UTF-8")
    assert(dec.probe(bmText) == new StubDecoder().probe(bmText))
    val other = "just text bytes".getBytes("UTF-8")
    assert(dec.probe(other) == new StubDecoder().probe(other))
  }

  test("HeaderDecoder frame() extracts the real idx-th PCM sample frame") {
    val wav = wavBytes(8000, 2, 16, 10) // 4 bytes per frame
    val dec = new HeaderDecoder
    // frame 3 starts at byte 44 + 3*4 = 56; data bytes are tabulated 0,1,2,…
    assert(dec.frame(wav, 3).toSeq == Seq[Byte](12, 13, 14, 15))
  }

  test("extractMeta with HeaderDecoder over a mixed-media frame") {
    val mixed = Seq((1L, bmpBytes(100, 50)), (2L, "opaque".getBytes("UTF-8")))
      .toDF("doc_id", "blob")
    val meta = extractMeta(mixed, () => new HeaderDecoder)
      .collect().map(m => m.doc_id -> m).toMap
    assert(meta(1L).format == "bmp" && meta(1L).width == 100 && meta(1L).height == 50)
    assert(meta(2L).format != "bmp") // stub-decoded
  }

  test("sampleFrames bounds per-doc output (long media can't explode rows)") {
    val wav = wavBytes(8000, 1, 16, 5000)
    val n = sampleFrames(Seq((1L, wav)).toDF("doc_id", "blob"),
      () => new HeaderDecoder, stride = 1, maxSamples = 100).count()
    assert(n == 100)
  }

  test("sampleFrames: stride sampling produces ceil(frames/stride) rows per doc") {
    val meta = extractMeta(media, () => new StubDecoder)
      .select($"doc_id", $"n_frames").as[(Long, Int)].collect().toMap
    val frames = sampleFrames(media, () => new StubDecoder, stride = 30)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    meta.foreach { case (id, nf) =>
      val expect = (nf + 29) / 30
      assert(frames(id) == expect, s"doc $id: frames=$nf sampled=${frames(id)}")
    }
  }

  /** Full 24-bit BMP with pixel data. `pixels` are RGB triples in
    * row-major TOP-DOWN image order; storage honours `topDown`.
    */
  private def bmp24(w: Int, h: Int, pixels: Seq[(Int, Int, Int)],
      topDown: Boolean = false): Array[Byte] = {
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val data = new Array[Byte](rowBytes * h)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = pixels(y * w + x)
      val row = if (topDown) y else h - 1 - y
      val base = row * rowBytes + x * 3
      data(base) = b.toByte; data(base + 1) = g.toByte; data(base + 2) = r.toByte
    }
    "BM".getBytes ++ le32(54 + data.length) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(w) ++ le32(if (topDown) -h else h) ++
      le16(1) ++ le16(24) ++ le32(0) ++ le32(data.length) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ data
  }

  test("resize: real nearest-neighbour decode for 24-bit BMP (both row orders)") {
    val dec = new HeaderDecoder
    val px = Seq((255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0))
    // identity resize returns the exact image, RGB, top-down row-major —
    // proving the bottom-up storage flip and BGR→RGB swap both happen
    val id = dec.resize(bmp24(2, 2, px), 2, 2)
    assert(id.toSeq == px.flatMap(p => Seq(p._1.toByte, p._2.toByte, p._3.toByte)))
    // top-down storage yields the same image
    assert(dec.resize(bmp24(2, 2, px, topDown = true), 2, 2).toSeq == id.toSeq)
    // 1×1 downsample floor-samples the top-left pixel
    assert(dec.resize(bmp24(2, 2, px), 1, 1).toSeq ==
      Seq(255.toByte, 0.toByte, 0.toByte))
    // 4×4 → 2×2 picks source columns/rows 0 and 2
    val px4 = (0 until 16).map(i => (i * 3, i * 3 + 1, i * 3 + 2))
    val down = dec.resize(bmp24(4, 4, px4), 2, 2)
    val expectIdx = Seq(0, 2, 8, 10)
    assert(down.toSeq == expectIdx.flatMap(i =>
      Seq((i * 3).toByte, (i * 3 + 1).toByte, (i * 3 + 2).toByte)))
    // non-BMP payloads fall back to the stub's deterministic fake
    val txt = "not a bitmap".getBytes("UTF-8")
    assert(dec.resize(txt, 3, 3).toSeq == new StubDecoder().resize(txt, 3, 3).toSeq)
    assert(dec.resize(txt, 3, 3).length == 27)
    // malformed negative WIDTH (legal only for height) must take the
    // fallback, not index the payload with a negative row stride
    val negW = bmp24(2, 2, px)
    System.arraycopy(le32(-2), 0, negW, 18, 4)
    assert(dec.resize(negW, 2, 2).toSeq == new StubDecoder().resize(negW, 2, 2).toSeq)
  }

  test("resizeMedia: fixed-size RGB tensors per doc through the partition-wise path") {
    val mixed = Seq(
      (1L, bmp24(2, 2, Seq((1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)))),
      (2L, "opaque payload".getBytes("UTF-8"))).toDF("doc_id", "blob")
    val out = resizeMedia(mixed, () => new HeaderDecoder, 4, 2)
      .as[(Long, Array[Byte])].collect().toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out.values.forall(_.length == 4 * 2 * 3))
  }

  /** Encode a w×h image with the syntheticImages pixel formula through
    * the JDK writer for `fmt`.
    */
  private def imageBytes(w: Int, h: Int, id: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((37 * x + 101 * y + id) & 0xFF) << 16 |
        ((7 * x) & 0xFF) << 8 | ((13 * y) & 0xFF))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no JDK writer for $fmt")
    bos.toByteArray
  }

  test("ImageIODecoder: real header probe for PNG/JPEG/GIF; non-images fall back") {
    val dec = new ImageIODecoder
    assert(dec.probe(imageBytes(20, 11, 5, "png")) == ("png", 20, 11, 1))
    assert(dec.probe(imageBytes(33, 9, 5, "jpeg")) == ("jpeg", 33, 9, 1))
    assert(dec.probe(imageBytes(12, 12, 5, "gif")) == ("gif", 12, 12, 1))
    // WAV keeps the HeaderDecoder path through the fallback chain
    assert(dec.probe(wavBytes(16000, 1, 16, 32)) == ("wav", 16000, 1, 32))
    // text blobs reach the stub unchanged
    val txt = "just text".getBytes("UTF-8")
    assert(dec.probe(txt) == new StubDecoder().probe(txt))
  }

  test("ImageIODecoder: PNG decode round-trip is pixel-exact; JPEG is shape-exact") {
    val dec = new ImageIODecoder
    val png = imageBytes(4, 3, 9, "png")
    // identity resize = the exact source pixels, row-major top-down RGB
    val got = dec.resize(png, 4, 3)
    val want = for (y <- 0 until 3; x <- 0 until 4;
                    c <- Seq((37 * x + 101 * y + 9) & 0xFF, (7 * x) & 0xFF, (13 * y) & 0xFF))
      yield c.toByte
    assert(got.toSeq == want)
    // frame 0 of a single-image format is the same full decode
    assert(dec.frame(png, 0).toSeq == want)
    // downsample floor-samples the same grid as HeaderDecoder.resize:
    // 4×3 → 2×1 picks source pixels (0,0) and (2,0)
    val down = dec.resize(png, 2, 1)
    assert(down.toSeq == want.slice(0, 3) ++ want.slice(6, 9))
    // lossy JPEG: exact dims, right tensor size (pixels approximate)
    assert(dec.resize(imageBytes(10, 10, 9, "jpeg"), 5, 5).length == 5 * 5 * 3)
  }

  test("ImageIODecoder: corrupt image payloads fall back instead of throwing") {
    val dec = new ImageIODecoder
    // valid PNG magic, garbage body — a poisoned blob in a 100 TB scan
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
      Array.fill[Byte](64)(0x42)
    assert(dec.probe(corrupt) == new StubDecoder().probe(corrupt))
    assert(dec.resize(corrupt, 2, 2).toSeq == new StubDecoder().resize(corrupt, 2, 2).toSeq)
  }

  test("syntheticImages + extractMeta: dims/format replay the id arithmetic") {
    val docs = Tables.documents(spark, sf001).limit(40)
    val meta = extractMeta(syntheticImages(docs), () => new ImageIODecoder)
      .collect()
    assert(meta.length == 40)
    meta.foreach { m =>
      assert(m.format == (if (m.doc_id % 2 == 0) "png" else "jpeg"), m.toString)
      assert(m.width == 8 + (m.doc_id % 24).toInt, m.toString)
      assert(m.height == 8 + (m.doc_id % 17).toInt, m.toString)
      assert(m.n_frames == 1)
    }
  }

  test("histogramFeatures: exact L1-normalized byte histogram, scalar-safe") {
    val blob = Array[Byte](0, 31, 32, 64.toByte, 255.toByte, 255.toByte)
    val feats = histogramFeatures(Seq((7L, blob)).toDF("doc_id", "blob"), bins = 8)
      .collect().head
    assert(feats.doc_id == 7L)
    assert(feats.f.toSeq == Seq(2 / 6.0, 1 / 6.0, 1 / 6.0, 0, 0, 0, 0, 2 / 6.0))
    assert(math.abs(feats.f.sum - 1.0) < 1e-12)
    // empty payload: zero vector, no division blow-up
    val empty = histogramFeatures(
      Seq((8L, Array.empty[Byte])).toDF("doc_id", "blob"), bins = 8)
      .collect().head
    assert(empty.f.forall(_ == 0.0))
  }
}
