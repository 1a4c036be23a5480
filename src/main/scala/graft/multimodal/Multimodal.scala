package graft.multimodal

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media (image/audio/video) travel as opaque
  * `binary` columns with typed metadata; decode / feature-extraction runs
  * per-partition over batches so a real decoder (JNI/FFI or Arrow-based
  * Python via `mapInArrow`) drops in without touching the pipeline shape.
  *
  * Header decode is REAL: [[decode]] parses PNG (IHDR), JPEG (SOFn
  * segment scan), and GIF (logical screen descriptor) headers for format /
  * width / height — pure JVM byte inspection, no codec dependency — on top
  * of the deterministic byte features (length, first byte, 16-byte
  * checksum).
  *
  * Pixel decode is REAL too: [[decodeImage]] / [[pixelFeatures]] /
  * [[imageThumbnail]] run the JDK's own `javax.imageio` readers (PNG,
  * JPEG, GIF, BMP, WBMP — present in every JRE, no external library),
  * [[audioMeta]] parses RIFF/WAVE audio headers, [[videoMeta]] walks
  * ISO-BMFF (mp4/mov) boxes for container metadata, and [[imageHeader]]
  * additionally reads webp dimensions (VP8/VP8L/VP8X bitstream headers).
  * Only pixel/frame CONTENT of formats the JRE has no reader for (webp
  * pixels, video frames) falls back to deterministic byte features — a
  * JNI/FFI codec for those drops into the same one-record→features
  * `mapPartitions` without touching the pipeline shape.
  */
object Multimodal {

  /** A media row: id + opaque payload (as a real pipeline would carry). */
  final case class MediaRecord(id: Long, data: Array[Byte])

  /** Extracted features: byte stats + the parsed image header (format is
    * "png"/"jpeg"/"gif"/"unknown"; width/height are -1 when no header
    * parses). A full decoder would add duration/channels/…. */
  final case class MediaFeatures(id: Long, n_bytes: Long, first_byte: Int,
      checksum16: Long, format: String, width: Int, height: Int)

  private def be16(d: Array[Byte], i: Int): Int =
    ((d(i) & 0xff) << 8) | (d(i + 1) & 0xff)

  private def be32(d: Array[Byte], i: Int): Int =
    ((d(i) & 0xff) << 24) | ((d(i + 1) & 0xff) << 16) |
      ((d(i + 2) & 0xff) << 8) | (d(i + 3) & 0xff)

  /** Parse an image header: (format, width, height), or
    * ("unknown", -1, -1). Reads only the leading bytes — safe on arbitrary
    * (including truncated or non-image) payloads. */
  def imageHeader(d: Array[Byte]): (String, Int, Int) = {
    val PngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (d.length >= 24 && d.take(8).sameElements(PngSig) &&
        d(12) == 'I' && d(13) == 'H' && d(14) == 'D' && d(15) == 'R')
      ("png", be32(d, 16), be32(d, 20))
    else if (d.length >= 4 && (d(0) & 0xff) == 0xff && (d(1) & 0xff) == 0xd8) {
      // scan JPEG segments for the first SOFn (C0-CF minus C4/C8/CC),
      // which carries precision(1) height(2) width(2) after the length
      var i = 2
      while (i + 9 <= d.length && (d(i) & 0xff) == 0xff) {
        val m = d(i + 1) & 0xff
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
          return ("jpeg", be16(d, i + 7), be16(d, i + 5))
        if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2
        else i += 2 + be16(d, i + 2) // segment length includes its own 2 bytes
      }
      ("jpeg", -1, -1) // JPEG signature but no SOF within the payload
    } else if (d.length >= 10 && d(0) == 'G' && d(1) == 'I' && d(2) == 'F' &&
        d(3) == '8' && (d(4) == '7' || d(4) == '9') && d(5) == 'a')
      ("gif",
        (d(6) & 0xff) | ((d(7) & 0xff) << 8),   // little-endian
        (d(8) & 0xff) | ((d(9) & 0xff) << 8))
    else if (d.length >= 16 && d(0) == 'R' && d(1) == 'I' && d(2) == 'F' &&
        d(3) == 'F' && d(8) == 'W' && d(9) == 'E' && d(10) == 'B' && d(11) == 'P') {
      // WEBP is a RIFF container; dims live in the first chunk's bitstream
      // header — VP8X (extended: 24-bit canvas-1), VP8L (lossless: packed
      // 14+14 bits after the 0x2F signature), VP8 (lossy: 14-bit LE pair
      // after the 9D 01 2A sync). No JRE decoder exists, but the header is
      // plain bytes like the others.
      val ct = new String(d, 12, 4, "US-ASCII")
      def u8(i: Int) = d(i) & 0xff
      ct match {
        case "VP8X" if d.length >= 30 =>
          ("webp", 1 + (u8(24) | (u8(25) << 8) | (u8(26) << 16)),
            1 + (u8(27) | (u8(28) << 8) | (u8(29) << 16)))
        case "VP8L" if d.length >= 25 && u8(20) == 0x2f =>
          val bits = u8(21).toLong | (u8(22).toLong << 8) |
            (u8(23).toLong << 16) | (u8(24).toLong << 24)
          ("webp", (bits & 0x3fff).toInt + 1, ((bits >> 14) & 0x3fff).toInt + 1)
        case "VP8 " if d.length >= 30 && u8(23) == 0x9d && u8(24) == 0x01 &&
            u8(25) == 0x2a =>
          ("webp", (u8(26) | (u8(27) << 8)) & 0x3fff, (u8(28) | (u8(29) << 8)) & 0x3fff)
        case _ => ("webp", -1, -1)
      }
    } else ("unknown", -1, -1)
  }

  /** The decoder: byte stats + real header parse. A full pixel decoder
    * replaces this body (keep the signature). */
  def decode(records: Iterator[MediaRecord]): Iterator[MediaFeatures] =
    records.map { r =>
      val head = r.data.take(16)
      val (fmt, w, h) = imageHeader(r.data)
      MediaFeatures(
        id = r.id,
        n_bytes = r.data.length.toLong,
        first_byte = if (r.data.nonEmpty) r.data(0) & 0xff else -1,
        checksum16 = head.foldLeft(0L)((acc, b) => acc + (b & 0xff)),
        format = fmt, width = w, height = h)
    }

  /** Feature-extract a DataFrame with (idCol: long, binCol: binary).
    * Partition-parallel `mapPartitions` over the typed Dataset: batches of
    * binary payloads stream through the decoder without collecting. */
  def mediaFeatures(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val ds: Dataset[MediaRecord] = df
      .select(col(idCol).cast("long").as("id"), col(binCol).as("data"))
      .as(Encoders.product[MediaRecord])
    ds.mapPartitions(decode)(Encoders.product[MediaFeatures]).toDF()
  }

  // ------------------------------------------------------------ real codecs

  /** REAL pixel decode via the JDK's own `javax.imageio` readers (PNG,
    * JPEG, GIF, BMP, WBMP ship with every JRE — no external codec). Returns
    * None for payloads no installed reader accepts. Headless-safe;
    * `ImageIO` disk caching is disabled so executors never write temp
    * files. */
  def decodeImage(data: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    if (data == null || data.length == 0) return None
    try {
      javax.imageio.ImageIO.setUseCache(false)
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data)))
    } catch { case NonFatal(_) => None }
  }

  /** Pixel-level features: `decoded` says whether a real reader accepted
    * the payload; format/width/height come from the (cheap, always-run)
    * header parse so undecodable-but-recognizable payloads keep their
    * metadata; `rgb_sum` is the EXACT integer sum of r+g+b over all pixels
    * (deterministic for lossless formats — an oracle can state it as a
    * constant) and None when undecodable. */
  final case class PixelFeatures(id: Long, decoded: Boolean, format: String,
      width: Int, height: Int, rgb_sum: Option[Long])

  def pixelFeatures(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("data"))
      .as(Encoders.product[MediaRecord])
    ds.mapPartitions(_.map { r =>
      val (fmt, w, h) = imageHeader(r.data)
      decodeImage(r.data) match {
        case Some(img) =>
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val p = img.getRGB(x, y)
              sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              x += 1
            }
            y += 1
          }
          PixelFeatures(r.id, decoded = true, fmt, img.getWidth, img.getHeight, Some(sum))
        case None =>
          PixelFeatures(r.id, decoded = false, fmt, w, h, None)
      }
    })(Encoders.product[PixelFeatures]).toDF()
  }

  /** REAL decode + resize: payloads that decode become a `w`×`h` grayscale
    * thumbnail (area-averaging rescale via the JDK raster pipeline, no
    * native/display dependency), emitted as a flat `array<float>` in
    * [0, 1] row-major — the fixed-dim contract the
    * [[graft.functions.Similarity]] operators consume. Undecodable
    * payloads fall back to the deterministic byte-bucket pooling of
    * [[resizeToVector]] at the same dimension, so the column is total. */
  def imageThumbnail(df: DataFrame, idCol: String, binCol: String,
      w: Int = 8, h: Int = 8): DataFrame = {
    require(w > 0 && h > 0)
    val dim = w * h
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("data"))
      .as(Encoders.product[MediaRecord])
    ds.mapPartitions(_.map { r =>
      decodeImage(r.data) match {
        case Some(img) =>
          val gray = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val g = gray.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, w, h, null)
          } finally g.dispose()
          val px = gray.getRaster.getPixels(0, 0, w, h, new Array[Int](dim))
          MediaVec(r.id, px.map(_ / 255.0f))
        case None => byteBucketVector(r, dim)
      }
    })(Encoders.product[MediaVec]).toDF()
  }

  /** WAV (RIFF/WAVE) header parse — the audio modality's real metadata
    * path, pure byte inspection like [[imageHeader]]: channels, sample
    * rate, bits per sample, and the data-chunk byte length (→ frame count
    * = data_bytes / (channels × bits/8)). Returns None unless the payload
    * leads with a well-formed RIFF/WAVE fmt chunk. */
  final case class WavHeader(channels: Int, sampleRate: Int,
      bitsPerSample: Int, dataBytes: Long) {
    def frames: Long =
      if (channels > 0 && bitsPerSample >= 8)
        dataBytes / (channels.toLong * (bitsPerSample / 8)) else -1L
  }

  def wavHeader(d: Array[Byte]): Option[WavHeader] = {
    def le16(i: Int) = (d(i) & 0xff) | ((d(i + 1) & 0xff) << 8)
    def le32(i: Int) = (d(i) & 0xff).toLong | ((d(i + 1) & 0xff).toLong << 8) |
      ((d(i + 2) & 0xff).toLong << 16) | ((d(i + 3) & 0xff).toLong << 24)
    def tag(i: Int, s: String) = d.length >= i + 4 &&
      d(i) == s(0).toByte && d(i + 1) == s(1).toByte &&
      d(i + 2) == s(2).toByte && d(i + 3) == s(3).toByte
    if (d.length < 12 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    // walk chunks: fmt carries the layout, data carries the samples.
    // The offset is a Long: le32 sizes are unsigned 32-bit, and a malformed
    // size near 2^31 would wrap an Int offset negative — the guard would
    // still pass and d(i) would crash the task on one corrupt record. With
    // Long arithmetic an oversized chunk just walks past d.length and the
    // loop ends with whatever was parsed so far.
    var i = 12L
    var fmt: Option[(Int, Int, Int)] = None
    var dataBytes = -1L
    while (i + 8 <= d.length) {
      val at = i.toInt // safe: i + 8 <= d.length <= Int.MaxValue
      val size = le32(at + 4)
      if (tag(at, "fmt ") && i + 24 <= d.length)
        fmt = Some((le16(at + 10), le32(at + 12).toInt, le16(at + 22)))
      else if (tag(at, "data")) dataBytes = size
      i += 8L + size + (size & 1L) // chunks are word-aligned
    }
    fmt.map { case (c, sr, b) => WavHeader(c, sr, b, dataBytes) }
  }

  /** Audio metadata over a binary column: (id, is_wav, channels,
    * sample_rate, bits_per_sample, n_frames) — real values for WAV
    * payloads, -1 sentinels otherwise. */
  final case class AudioMeta(id: Long, is_wav: Boolean, channels: Int,
      sample_rate: Int, bits_per_sample: Int, n_frames: Long)

  def audioMeta(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("data"))
      .as(Encoders.product[MediaRecord])
    ds.mapPartitions(_.map { r =>
      wavHeader(r.data) match {
        case Some(wh) =>
          AudioMeta(r.id, is_wav = true, wh.channels, wh.sampleRate,
            wh.bitsPerSample, wh.frames)
        case None => AudioMeta(r.id, is_wav = false, -1, -1, -1, -1L)
      }
    })(Encoders.product[AudioMeta]).toDF()
  }

  /** ISO-BMFF (MP4/MOV) container metadata — the video modality's real
    * metadata path, pure byte inspection like [[wavHeader]]: major brand
    * from the leading `ftyp` box, movie timescale + duration from
    * `moov/mvhd` (versions 0 and 1, 64-bit `largesize` boxes included),
    * and the `trak` count. Offsets are Longs throughout, so a malformed
    * box size walks past the payload and parsing ends cleanly instead of
    * wrapping negative. */
  final case class Mp4Header(majorBrand: String, timescale: Long,
      durationTicks: Long, nTracks: Int) {
    def durationSeconds: Double =
      if (timescale > 0) durationTicks.toDouble / timescale else -1.0
  }

  def mp4Header(d: Array[Byte]): Option[Mp4Header] = {
    def be32(i: Int): Long = ((d(i) & 0xffL) << 24) | ((d(i + 1) & 0xffL) << 16) |
      ((d(i + 2) & 0xffL) << 8) | (d(i + 3) & 0xffL)
    def be64(i: Int): Long =
      (0 until 8).foldLeft(0L)((a, j) => (a << 8) | (d(i + j) & 0xffL))
    def typ(i: Int): String = new String(d, i, 4, "US-ASCII")
    // (box size, header length) at offset i, or None when malformed /
    // truncated; size==0 means "to end of enclosure", size==1 carries a
    // 64-bit largesize after the type
    def box(i: Long, end: Long): Option[(Long, Long)] = {
      if (i + 8 > end) return None
      val sz0 = be32(i.toInt)
      if (sz0 == 1L) {
        if (i + 16 > end) None
        else {
          val sz = be64(i.toInt + 8)
          if (sz < 16L) None else Some((sz, 16L))
        }
      } else if (sz0 == 0L) Some((end - i, 8L))
      else if (sz0 < 8L) None
      else Some((sz0, 8L))
    }
    if (d.length < 12 || typ(4) != "ftyp") return None
    val brand = typ(8)
    // top level: find moov
    var i = 0L
    var moov: Option[(Long, Long)] = None // payload [start, end)
    while (i + 8 <= d.length && moov.isEmpty) {
      box(i, d.length.toLong) match {
        case Some((size, hdr)) =>
          if (typ(i.toInt + 4) == "moov")
            moov = Some((i + hdr, math.min(i + size, d.length.toLong)))
          i += size
        case None => return None
      }
    }
    moov.flatMap { case (s0, e0) =>
      var ts = -1L
      var dur = -1L
      var tracks = 0
      var j = s0
      var ok = true
      while (ok && j + 8 <= e0) {
        box(j, e0) match {
          case Some((size, hdr)) =>
            val p = (j + hdr).toInt // payload start
            typ(j.toInt + 4) match {
              case "mvhd" if j + hdr + 4 <= e0 =>
                val version = d(p) & 0xff
                if (version == 0 && j + hdr + 20 <= e0) {
                  ts = be32(p + 12); dur = be32(p + 16)
                } else if (version == 1 && j + hdr + 32 <= e0) {
                  ts = be32(p + 20); dur = be64(p + 24)
                }
              case "trak" => tracks += 1
              case _ => ()
            }
            j += size
          case None => ok = false
        }
      }
      if (ts > 0) Some(Mp4Header(brand, ts, dur, tracks)) else None
    }
  }

  /** Video metadata over a binary column: (id, is_mp4, major_brand,
    * timescale, duration_ticks, n_tracks) — real values for ISO-BMFF
    * payloads, sentinels otherwise. */
  final case class VideoMeta(id: Long, is_mp4: Boolean, major_brand: String,
      timescale: Long, duration_ticks: Long, n_tracks: Int)

  def videoMeta(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("data"))
      .as(Encoders.product[MediaRecord])
    ds.mapPartitions(_.map { r =>
      mp4Header(r.data) match {
        case Some(h) =>
          VideoMeta(r.id, is_mp4 = true, h.majorBrand, h.timescale,
            h.durationTicks, h.nTracks)
        case None => VideoMeta(r.id, is_mp4 = false, "", -1L, -1L, -1)
      }
    })(Encoders.product[VideoMeta]).toDF()
  }

  /** One sampled frame: source id, frame index, byte offset, stub payload. */
  final case class Frame(id: Long, frame_idx: Int, offset: Long, frame_bytes: Array[Byte])

  /** Frame sampling (the video shape): each payload fans OUT to up to
    * `maxFrames` rows, taking every `stride`-th fixed-size chunk. The
    * chunking is the STUB — a real container parser (mp4 boxes, mkv
    * clusters) drops into the same one-row→many-rows `flatMap` without
    * changing schema or partitioning. Output rows stay on the input's
    * partitions: no shuffle until the caller aggregates. */
  def frameSample(df: DataFrame, idCol: String, binCol: String,
      chunkBytes: Int = 256, stride: Int = 4, maxFrames: Int = 8): DataFrame = {
    require(chunkBytes > 0 && stride > 0 && maxFrames > 0)
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("data"))
      .as(Encoders.product[MediaRecord])
    ds.mapPartitions(_.flatMap { r =>
      val nChunks = (r.data.length + chunkBytes - 1) / chunkBytes
      (0 until nChunks by stride).take(maxFrames).zipWithIndex.map { case (c, i) =>
        val off = c.toLong * chunkBytes
        Frame(r.id, i, off,
          r.data.slice(off.toInt, math.min(off.toInt + chunkBytes, r.data.length)))
      }
    })(Encoders.product[Frame]).toDF()
  }

  /** Resize-to-embedding (the image shape): payload bytes pooled into a
    * fixed `dim`-length float array (mean of each byte bucket, scaled to
    * [0, 1]); empty payloads give the zero vector. The pooling is the STUB
    * for a real decode+resize, but the contract is the load-bearing part:
    * a fixed-dim `array<float>` column that feeds straight into the
    * [[graft.functions.Similarity]] operators (ANN top-k, cosine near-dup)
    * — media dedup becomes the embedding pipeline with a different front. */
  /** A media-derived embedding row (matches the `embeddings` table shape). */
  final case class MediaVec(id: Long, embedding: Array[Float])

  def resizeToVector(df: DataFrame, idCol: String, binCol: String,
      dim: Int = 64): DataFrame = {
    require(dim > 0)
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("data"))
      .as(Encoders.product[MediaRecord])
    ds.mapPartitions(_.map(byteBucketVector(_, dim)))(Encoders.product[MediaVec]).toDF()
  }

  /** Deterministic byte-bucket pooling: position-spread mean of each byte
    * bucket, scaled to [0, 1]; the zero vector for empty payloads. */
  private def byteBucketVector(r: MediaRecord, dim: Int): MediaVec = {
    val out = new Array[Float](dim)
    if (r.data.nonEmpty) {
      val counts = new Array[Int](dim)
      var i = 0
      while (i < r.data.length) {
        // fixed bucket mapping: byte position spread evenly over dim
        val b = ((i.toLong * dim) / r.data.length).toInt
        out(b) += (r.data(i) & 0xff) / 255.0f
        counts(b) += 1
        i += 1
      }
      var j = 0
      while (j < dim) { if (counts(j) > 0) out(j) /= counts(j); j += 1 }
    }
    MediaVec(r.id, out)
  }
}
