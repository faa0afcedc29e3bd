package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video ride through the engine
  * as opaque `binary` columns with a typed metadata struct. The Spark
  * side — schema, partition-wise batch processing, column contracts — is
  * real and tested. Decode is REAL for the formats this container can
  * open: PNG/JPEG/GIF via the JDK's `javax.imageio`
  * ([[ImageIODecoder]]), PCM-WAV and BMP via direct header/pixel
  * parsing ([[HeaderDecoder]]); formats with no bundled codec (MP4 …)
  * fall through to a deterministic [[StubDecoder]] fake, so swapping in
  * a real codec is a one-class change that touches no plan shape.
  *
  * Scale notes: decode runs as `mapPartitions` so a real decoder
  * amortizes its init per partition (not per row), mirroring how a
  * Python pipeline would use mapInPandas with batch-level model setup.
  * Binary payloads stay columnar parquet; metadata extraction is
  * projection-only and never forces payload reads when pruned.
  */
object Multimodal {

  /** Typed metadata extracted from a media payload. */
  final case class MediaMeta(
      doc_id: Long,
      format: String,
      byte_len: Long,
      width: Int,
      height: Int,
      n_frames: Int
  )

  final case class MediaRow(doc_id: Long, blob: Array[Byte])

  /** Decoder contract: byte payload → typed metadata + frame bytes +
    * resized pixels. Real implementations (JPEG/PNG/WAV/MP4) plug in
    * here.
    */
  trait MediaDecoder extends Serializable {
    def init(): Unit // heavyweight setup, once per partition
    def probe(blob: Array[Byte]): (String, Int, Int, Int) // format, w, h, frames
    def frame(blob: Array[Byte], idx: Int): Array[Byte]
    /** Decode + resample to outW×outH; returns packed row-major RGB
      * triples (the tensor-shaped payload a vision preprocessor wants).
      */
    def resize(blob: Array[Byte], outW: Int, outH: Int): Array[Byte]
  }

  /** Deterministic stub: "decodes" metadata from a stable hash of the
    * payload so tests are reproducible. A real codec replaces this class
    * only.
    */
  final class StubDecoder extends MediaDecoder {
    def init(): Unit = ()
    def probe(blob: Array[Byte]): (String, Int, Int, Int) = {
      val h = java.util.Arrays.hashCode(blob)
      val fmts = Array("jpeg", "png", "wav", "mp4")
      (fmts(math.floorMod(h, fmts.length)),
        64 + math.floorMod(h >> 2, 1920),
        64 + math.floorMod(h >> 4, 1080),
        1 + math.floorMod(h >> 6, 300))
    }
    def frame(blob: Array[Byte], idx: Int): Array[Byte] =
      blob.slice(idx, math.min(idx + 16, blob.length))
    /** Fake pixels: payload bytes cycled to fill the output tensor. */
    def resize(blob: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
      val out = new Array[Byte](outW * outH * 3)
      if (blob.nonEmpty) {
        var i = 0
        while (i < out.length) { out(i) = blob(i % blob.length); i += 1 }
      }
      out
    }
  }

  /** Header-parsing decoder for container formats that need no codec
    * library: RIFF/WAVE (PCM audio) and BMP (bitmap). Anything else
    * falls through to `fallback` (the stub by default) — so the decode
    * stage is REAL for these formats and deterministic-fake for the ones
    * whose codecs aren't in this container (JPEG/MP4).
    *
    * probe() tuple semantics per format:
    *   wav → ("wav", sampleRate, channels, sampleFrames)
    *   bmp → ("bmp", widthPx, heightPx, 1)
    */
  final class HeaderDecoder(fallback: MediaDecoder = new StubDecoder)
      extends MediaDecoder {
    def init(): Unit = fallback.init()

    private def leInt(b: Array[Byte], off: Int): Int =
      (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
        ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
    private def leShort(b: Array[Byte], off: Int): Int =
      (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
    private def ascii(b: Array[Byte], off: Int, len: Int): String =
      new String(b, off, len, "US-ASCII")

    /** Canonical-PCM WAV only: 16-byte fmt chunk, audioFormat=1, `data`
      * chunk immediately after — anything else (WAVE_FORMAT_EX, ADPCM,
      * LIST chunks) deliberately falls back rather than misparse.
      */
    private def isPcmWav(b: Array[Byte]): Boolean =
      b.length >= 44 && ascii(b, 0, 4) == "RIFF" && ascii(b, 8, 4) == "WAVE" &&
        ascii(b, 12, 4) == "fmt " && leInt(b, 16) == 16 &&
        leShort(b, 20) == 1 && ascii(b, 36, 4) == "data" &&
        leInt(b, 40) >= 0 && leInt(b, 40) <= b.length - 44

    /** BMP with a known DIB header (INFO/V4/V5); CORE headers have
      * different field widths and fall back.
      */
    private def isBmp(b: Array[Byte]): Boolean =
      b.length >= 26 && b(0) == 'B' && b(1) == 'M' &&
        Set(40, 108, 124).contains(leInt(b, 14))

    private def wavBytesPerFrame(b: Array[Byte]): Int =
      math.max(1, leShort(b, 22) * leShort(b, 34) / 8)

    def probe(blob: Array[Byte]): (String, Int, Int, Int) = {
      if (isPcmWav(blob)) {
        ("wav", leInt(blob, 24), leShort(blob, 22),
          leInt(blob, 40) / wavBytesPerFrame(blob))
      } else if (isBmp(blob)) {
        // height is negative for top-down bitmaps — magnitude is the size
        ("bmp", math.abs(leInt(blob, 18)), math.abs(leInt(blob, 22)), 1)
      } else fallback.probe(blob)
    }

    def frame(blob: Array[Byte], idx: Int): Array[Byte] =
      if (isPcmWav(blob)) {
        // the real idx-th sample frame from the data chunk
        val bpf = wavBytesPerFrame(blob)
        val start = 44 + idx * bpf
        blob.slice(start, math.min(start + bpf, blob.length))
      } else fallback.frame(blob, idx)

    /** Uncompressed 24-bit bottom-up/top-down BMP with complete pixel
      * data — the only layout the codec-free resize handles.
      */
    private def isBmp24(b: Array[Byte]): Boolean =
      isBmp(b) && b.length >= 34 && leShort(b, 28) == 24 && leInt(b, 30) == 0 && {
        // negative HEIGHT is the legal top-down convention; negative
        // WIDTH is malformed and must fall back (resize uses the raw
        // signed width, so admitting it would index out of bounds)
        val w = leInt(b, 18); val h = math.abs(leInt(b, 22))
        val rowBytes = ((w.toLong * 3 + 3) / 4) * 4
        val off = leInt(b, 10)
        w > 0 && h > 0 && off >= 54 &&
          off.toLong + rowBytes * h <= b.length
      }

    /** REAL nearest-neighbour resize for 24-bit BMPs: handles bottom-up
      * row order and 4-byte row padding, emits row-major top-down RGB.
      * Non-BMP payloads delegate to the fallback decoder.
      */
    def resize(blob: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
      require(outW > 0 && outH > 0, "output dims must be positive")
      if (!isBmp24(blob)) return fallback.resize(blob, outW, outH)
      val off = leInt(blob, 10)
      val w = leInt(blob, 18)
      val hRaw = leInt(blob, 22)
      val h = math.abs(hRaw)
      val topDown = hRaw < 0
      val rowBytes = ((w * 3 + 3) / 4) * 4
      val out = new Array[Byte](outW * outH * 3)
      var y = 0
      while (y < outH) {
        val sy = (y.toLong * h / outH).toInt // floor sample, never == h
        val srcRow = if (topDown) sy else h - 1 - sy
        val rowOff = off + srcRow * rowBytes
        var x = 0
        while (x < outW) {
          val s = rowOff + (x.toLong * w / outW).toInt * 3
          val dIdx = (y * outW + x) * 3
          // BMP stores BGR; emit RGB
          out(dIdx) = blob(s + 2); out(dIdx + 1) = blob(s + 1); out(dIdx + 2) = blob(s)
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /** Codec-format decoder via the JDK's `javax.imageio` — real decode
    * for the readers every Java 17 runtime bundles (PNG/JPEG/GIF/BMP).
    * Only payloads whose magic bytes identify one of those formats go
    * through ImageIO, so the probe cost for non-image blobs stays a
    * few-byte compare before delegating to `fallback` (WAV/BMP headers,
    * then the stub). Corrupt image payloads also fall back rather than
    * throw — a poisoned blob must not kill a 100 TB scan.
    *
    * probe() → (formatName, widthPx, heightPx, nImages): width/height
    * come from the reader's header parse (no pixel decode); nImages
    * walks the stream only for GIF, the one bundled multi-image format.
    */
  /** ImageIO's stream factories default to DISK-backed caches (a temp
    * file per createImage{Input,Output}Stream call): at 32 concurrent
    * decode tasks the tmpfs round-trips serialize and the image ops go
    * super-linear (measured 13-14× time at 10× images before this
    * switch). Media blobs here are in-memory byte arrays — force the
    * memory-cached stream implementations, once per JVM.
    */
  private[operators] lazy val imageIoMemCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  final class ImageIODecoder(fallback: MediaDecoder = new HeaderDecoder)
      extends MediaDecoder {
    def init(): Unit = { imageIoMemCache; fallback.init() }

    private def isPng(b: Array[Byte]) =
      b.length >= 8 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'
    private def isJpeg(b: Array[Byte]) =
      b.length >= 3 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8 && (b(2) & 0xFF) == 0xFF
    private def isGif(b: Array[Byte]) =
      b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8'
    private def isImage(b: Array[Byte]) = isPng(b) || isJpeg(b) || isGif(b)

    /** None when no reader claims the stream or the header is corrupt —
      * callers fall back instead of propagating the IOException.
      */
    private def withReader[A](blob: Array[Byte])(
        f: javax.imageio.ImageReader => A): Option[A] = {
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(blob))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(in)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try { r.setInput(in); Some(f(r)) }
          catch { case _: java.io.IOException | _: RuntimeException => None }
          finally r.dispose()
        }
      } finally in.close()
    }

    def probe(blob: Array[Byte]): (String, Int, Int, Int) =
      if (!isImage(blob)) fallback.probe(blob)
      else withReader(blob) { r =>
        val frames = if (isGif(blob)) r.getNumImages(true) else 1
        (r.getFormatName.toLowerCase(java.util.Locale.ROOT),
          r.getWidth(0), r.getHeight(0), frames)
      }.getOrElse(fallback.probe(blob))

    /** idx-th image (GIF frame) decoded to packed row-major RGB. */
    def frame(blob: Array[Byte], idx: Int): Array[Byte] =
      if (!isImage(blob)) fallback.frame(blob, idx)
      else withReader(blob) { r =>
        val img = r.read(r.getMinIndex + idx)
        val out = new Array[Byte](img.getWidth * img.getHeight * 3)
        copyRgb(img, out, img.getWidth, img.getHeight)
        out
      }.getOrElse(fallback.frame(blob, idx))

    /** REAL decode + nearest-neighbour resample for ImageIO formats;
      * same sampling grid as [[HeaderDecoder.resize]] so the PNG and
      * BMP paths of one corpus produce comparable tensors.
      */
    def resize(blob: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
      require(outW > 0 && outH > 0, "output dims must be positive")
      if (!isImage(blob)) return fallback.resize(blob, outW, outH)
      withReader(blob) { r =>
        val img = r.read(r.getMinIndex)
        val out = new Array[Byte](outW * outH * 3)
        copyRgb(img, out, outW, outH)
        out
      }.getOrElse(fallback.resize(blob, outW, outH))
    }

    /** Nearest-neighbour sample of `img` onto an outW×outH RGB grid
      * (identity copy when dims match). getRGB returns sRGB packed
      * 0xRRGGBB regardless of the source raster layout.
      */
    private def copyRgb(img: java.awt.image.BufferedImage,
        out: Array[Byte], outW: Int, outH: Int): Unit = {
      val w = img.getWidth; val h = img.getHeight
      var y = 0
      while (y < outH) {
        val sy = (y.toLong * h / outH).toInt
        var x = 0
        while (x < outW) {
          val rgb = img.getRGB((x.toLong * w / outW).toInt, sy)
          val d = (y * outW + x) * 3
          out(d) = ((rgb >> 16) & 0xFF).toByte
          out(d + 1) = ((rgb >> 8) & 0xFF).toByte
          out(d + 2) = (rgb & 0xFF).toByte
          x += 1
        }
        y += 1
      }
    }
  }

  implicit private val metaEnc: Encoder[MediaMeta] = Encoders.product[MediaMeta]
  implicit private val rowEnc: Encoder[MediaRow] = Encoders.product[MediaRow]

  /** Partition-wise metadata extraction: one decoder init per partition,
    * then a streapmed per-row probe — the batch shape a real codec needs.
    */
  def extractMeta(media: DataFrame, decoder: () => MediaDecoder): Dataset[MediaMeta] = {
    val ds = media.select(col("doc_id"), col("blob")).as[MediaRow](rowEnc)
    ds.mapPartitions { it =>
      val d = decoder(); d.init()
      it.map { r =>
        val (fmt, w, h, frames) = d.probe(r.blob)
        MediaMeta(r.doc_id, fmt, r.blob.length.toLong, w, h, frames)
      }
    }(metaEnc)
  }

  /** Frame sampling: every `stride`-th frame index up to the probed frame
    * count, emitted as (doc_id, frame_idx, frame_bytes). `maxSamples`
    * bounds output per document — a long PCM WAV probes millions of
    * sample frames and an unbounded flatMap would turn one row into
    * them all.
    */
  def sampleFrames(
      media: DataFrame, decoder: () => MediaDecoder, stride: Int,
      maxSamples: Int = 1000): DataFrame = {
    val ds = media.select(col("doc_id"), col("blob")).as[MediaRow](rowEnc)
    ds.mapPartitions { it =>
      val d = decoder(); d.init()
      it.flatMap { r =>
        val (_, _, _, frames) = d.probe(r.blob)
        (0 until frames by stride).take(maxSamples)
          .map(i => (r.doc_id, i, d.frame(r.blob, i)))
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt, Encoders.BINARY))
      .toDF("doc_id", "frame_idx", "frame_bytes")
  }

  final case class MediaFeatures(doc_id: Long, f: Array[Double])
  implicit private val featEnc: Encoder[MediaFeatures] =
    Encoders.product[MediaFeatures]

  /** Codec-free feature extraction: an L1-normalized histogram of raw
    * byte values in `bins` equal-width buckets — a cheap content
    * signature usable for media dedup/clustering before any decode.
    * Runs partition-wise over the binary column (one tight per-row byte
    * loop, no per-byte rows anywhere), so at corpus scale it is a pure
    * map stage shuffling only (doc_id, bins×8B).
    */
  def histogramFeatures(media: DataFrame, bins: Int = 8): Dataset[MediaFeatures] = {
    require(bins > 0 && 256 % bins == 0, "bins must divide 256")
    val width = 256 / bins
    val ds = media.select(col("doc_id"), col("blob")).as[MediaRow](rowEnc)
    ds.mapPartitions { it =>
      it.map { r =>
        val counts = new Array[Long](bins)
        var i = 0
        while (i < r.blob.length) { counts((r.blob(i) & 0xFF) / width) += 1; i += 1 }
        val n = math.max(1L, r.blob.length.toLong).toDouble
        MediaFeatures(r.doc_id, counts.map(_ / n))
      }
    }(featEnc)
  }

  /** Partition-wise resize: (doc_id, outW×outH×3 RGB bytes). Decoder
    * init amortizes per partition; output tensors are fixed-size, so
    * downstream batching (e.g. into training examples) needs no
    * per-row shape metadata.
    */
  def resizeMedia(
      media: DataFrame, decoder: () => MediaDecoder,
      outW: Int, outH: Int): DataFrame = {
    val ds = media.select(col("doc_id"), col("blob")).as[MediaRow](rowEnc)
    ds.mapPartitions { it =>
      val d = decoder(); d.init()
      it.map(r => (r.doc_id, d.resize(r.blob, outW, outH)))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .toDF("doc_id", "pixels")
  }

  /** Pure-column metadata that needs no codec: payload size and a content
    * digest (dedup key for media). Oracle-expressible.
    */
  def blobStats(media: DataFrame): DataFrame =
    media.select(col("doc_id"), length(col("blob")).as("byte_len"),
      sha2(col("blob"), 256).as("content_sha"))

  /** Test/bench media table derived from `documents`: the text bytes act
    * as the opaque payload (deterministic, non-trivial sizes).
    */
  def syntheticMedia(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("text").cast("binary").as("blob"))

  /** Test/bench IMAGE table: one real encoded PNG (even ids) or JPEG
    * (odd ids) per document, whose dimensions and — for the lossless
    * PNGs — exact pixel values derive arithmetically from the id. An
    * oracle can therefore predict the probe/resize output without being
    * able to open the container, which makes the [[ImageIODecoder]]
    * path oracle-checkable end to end. Pixel (x, y) of image `id` is
    * RGB ((37x + 101y + id) mod 256, 7x mod 256, 13y mod 256).
    * Encoding runs partition-wise with the writers the JDK bundles —
    * a narrow map stage, like any real decode/encode would be.
    */
  def syntheticImages(documents: DataFrame): DataFrame = {
    val ds = documents.select(col("doc_id")).as[Long](Encoders.scalaLong)
    ds.mapPartitions { it =>
      imageIoMemCache // encoder side pays the same disk-cache tax
      // ONE registry lookup per (partition, format): the ImageIO service
      // registry is a shared synchronized structure, and a per-row
      // `ImageIO.write` (which looks the writer up per call) serializes
      // every encode thread on it — measured as a flat multi-second
      // floor on the media tables once the row count passes ~50k.
      // writer.write(img) produces byte-identical output to the
      // ImageIO.write shorthand (same null-param IIOImage path).
      val png = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      val jpeg = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      it.map { id =>
        val w = 8 + (id % 24).toInt
        val h = 8 + (id % 17).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y,
              ((37 * x + 101 * y + id.toInt) & 0xFF) << 16 |
                ((7 * x) & 0xFF) << 8 | ((13 * y) & 0xFF))
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        val writer = if (id % 2 == 0) png else jpeg
        writer.reset()
        writer.setOutput(ios)
        writer.write(img)
        ios.close()
        (id, bos.toByteArray)
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)).toDF("doc_id", "blob")
  }

  /** Test/bench ANIMATED-GIF table: one multi-frame GIF per document,
    * 2 + id mod 4 frames of the id's image dims. Frame `f`, row `y` is
    * the solid-striped RGB ((37f + id) mod 256, 7y mod 256,
    * (13y + f) mod 256) — at most `h` ≤ 24 distinct colors per frame,
    * written as TYPE_BYTE_INDEXED over an explicit palette so the GIF
    * encoder stores them LOSSLESSLY (an RGB frame would be re-quantized
    * by the JDK writer and break pixel prediction). An oracle can
    * therefore recompute any frame's checksum arithmetically, which
    * makes [[ImageIODecoder.frame]]'s multi-image indexing
    * oracle-checkable end to end.
    */
  def syntheticGifs(documents: DataFrame): DataFrame = {
    val ds = documents.select(col("doc_id")).as[Long](Encoders.scalaLong)
    ds.mapPartitions { it =>
      imageIoMemCache
      // one registry lookup per partition, reset per row (see
      // [[syntheticImages]] — the per-row lookup serialized all encode
      // threads on the shared IIORegistry)
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("gif").next()
      it.map { id =>
      val w = 8 + (id % 24).toInt
      val h = 8 + (id % 17).toInt
      val nFrames = 2 + (id % 4).toInt
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.reset()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        // one palette entry per row stripe
        val pr = new Array[Byte](h); val pg = new Array[Byte](h); val pb = new Array[Byte](h)
        var y = 0
        while (y < h) {
          pr(y) = ((37 * f + id.toInt) & 0xFF).toByte
          pg(y) = ((7 * y) & 0xFF).toByte
          pb(y) = ((13 * y + f) & 0xFF).toByte
          y += 1
        }
        val cm = new java.awt.image.IndexColorModel(8, h, pr, pg, pb)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        val raster = img.getRaster
        y = 0
        while (y < h) {
          var x = 0
          while (x < w) { raster.setSample(x, y, 0, y); x += 1 }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
      ios.close()
      (id, bos.toByteArray)
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)).toDF("doc_id", "blob")
  }

  /** Checksum per sampled frame of a [[sampleFrames]] output:
    * (doc_id, frame_idx, unsigned byte sum, byte count) — the
    * frame-indexed analog of [[pixelChecksum]].
    */
  def frameChecksum(frames: DataFrame): DataFrame = {
    val ds = frames.select(col("doc_id"), col("frame_idx"), col("frame_bytes"))
      .as[(Long, Int, Array[Byte])](
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt, Encoders.BINARY))
    ds.map { case (id, idx, bytes) =>
      var s = 0L; var i = 0
      while (i < bytes.length) { s += bytes(i) & 0xFF; i += 1 }
      (id, idx, s, bytes.length.toLong)
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt,
      Encoders.scalaLong, Encoders.scalaLong))
      .toDF("doc_id", "frame_idx", "px_sum", "px_len")
  }

  /** Integer checksum over a [[resizeMedia]] output: (doc_id, unsigned
    * byte sum, byte count). Narrow partition-wise map — the cheap way
    * to oracle-check a decoded tensor without hauling pixels anywhere.
    */
  def pixelChecksum(resized: DataFrame): DataFrame = {
    val ds = resized.select(col("doc_id"), col("pixels").as("blob"))
      .as[MediaRow](rowEnc)
    ds.map { r =>
      var s = 0L; var i = 0
      while (i < r.blob.length) { s += r.blob(i) & 0xFF; i += 1 }
      (r.doc_id, s, r.blob.length.toLong)
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      .toDF("doc_id", "px_sum", "px_len")
  }
}
