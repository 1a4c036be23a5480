package graft.queries

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import QueryFixtures._

/** Multimodal queries: image, audio and video payload decoding. */
private[graft] object MultimodalQueries {

  /** A real 3x2 PNG with fixed pixels rgb(x,y) = (10+40x+100y, 7x, 3y);
    * r+g+b sums to 651 over the six pixels (the q62 oracle constant).
    * Encoded once driver-side with the JDK encoder — lossless, so decode
    * is exact regardless of encoder byte choices. */
  private lazy val testPng: Array[Byte] = {
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3)
      img.setRGB(x, y, ((10 + 40 * x + 100 * y) << 16) | ((7 * x) << 8) | (3 * y))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** A minimal ISO-BMFF (mp4) container: ftyp major brand `isom`, moov
    * holding an mvhd v0 with timescale 1000 and duration 5000 ticks, and
    * two empty trak boxes (the q68 oracle constants). */
  private lazy val testMp4: Array[Byte] = {
    val mvhd = java.nio.ByteBuffer.allocate(28)
    mvhd.putInt(28).put("mvhd".getBytes("US-ASCII"))
      .putInt(0).putInt(0).putInt(0).putInt(1000).putInt(5000)
    val moovSize = 8 + 28 + 8 * 2
    val bb = java.nio.ByteBuffer.allocate(16 + moovSize)
    bb.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0x200)
    bb.putInt(moovSize).put("moov".getBytes("US-ASCII")).put(mvhd.array())
    (0 until 2).foreach(_ => bb.putInt(8).put("trak".getBytes("US-ASCII")))
    bb.array()
  }

  /** A canonical PCM WAV: 2 channels, 16 kHz, 16-bit, 320 data bytes
    * (= 80 frames — the q63 oracle constants). */
  private lazy val testWav: Array[Byte] = {
    val dataBytes = 320
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1).putShort(2)                    // PCM, 2 channels
    bb.putInt(16000).putInt(16000 * 2 * 2)        // rate, byte rate
    bb.putShort(4).putShort(16)                   // block align, bits
    bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    (0 until dataBytes).foreach(i => bb.put((i % 251).toByte))
    bb.array()
  }

  val defs: Seq[QueryDef] = Seq(
    // Multimodal: binary payloads -> partition-parallel decode with REAL
    // image-header parsing. Every 10th doc gets a synthetic PNG IHDR
    // prepended and every (10k+5)th a JPEG SOF0, so the oracle verifies the
    // actual parsed width/height (640x480) — not just the unknown-format
    // fall-through — against header constants it can replay.
    QueryDef("q18_multimodal", (sp, dir) => {
      val pngHdr = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
        0, 0, 0, 13, 'I', 'H', 'D', 'R', 0, 0, 2, 0x80, 0, 0, 1, 0xE0)
        .map(_.toByte)
      val jpegHdr = Array(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x0B, 0x08,
        0x01, 0xE0, 0x02, 0x80).map(_.toByte)
      val d = table(sp, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10L)) === 0L,
          concat(lit(pngHdr), col("text").cast("binary")))
          .when(pmod(col("doc_id"), lit(10L)) === 5L,
            concat(lit(jpegHdr), col("text").cast("binary")))
          .otherwise(col("text").cast("binary")).as("data"))
      Multimodal.mediaFeatures(d, "doc_id", "data")
    },
      // The prepended-header rows reduce to constants the oracle states
      // directly: the PNG header is 24 bytes summing 733 over its first 16;
      // the JPEG SOF0 header is 11 bytes summing 1292, so its checksum16
      // adds the first 5 payload bytes. Both encode 640x480.
      """SELECT doc_id AS id,
        |       octet_length(encode(text))
        |         + CASE WHEN doc_id % 10 = 0 THEN 24
        |                WHEN doc_id % 10 = 5 THEN 11 ELSE 0 END AS n_bytes,
        |       CASE WHEN doc_id % 10 = 0 THEN 137
        |            WHEN doc_id % 10 = 5 THEN 255
        |            WHEN len(text) > 0 THEN unicode(substr(text, 1, 1))
        |            ELSE -1 END AS first_byte,
        |       CAST(CASE WHEN doc_id % 10 = 0 THEN 733
        |            WHEN doc_id % 10 = 5 THEN 1292 + COALESCE(list_sum(
        |              list_transform(range(1, least(len(text), 5)+1),
        |                             i -> unicode(substr(text, CAST(i AS INT), 1)))), 0)
        |            ELSE COALESCE(list_sum(
        |              list_transform(range(1, least(len(text), 16)+1),
        |                             i -> unicode(substr(text, CAST(i AS INT), 1)))), 0)
        |            END AS BIGINT) AS checksum16,
        |       CASE WHEN doc_id % 10 = 0 THEN 'png'
        |            WHEN doc_id % 10 = 5 THEN 'jpeg' ELSE 'unknown' END AS format,
        |       CASE WHEN doc_id % 10 IN (0, 5) THEN 640 ELSE -1 END AS width,
        |       CASE WHEN doc_id % 10 IN (0, 5) THEN 480 ELSE -1 END AS height
        |FROM documents""".stripMargin),

    // Multimodal: REAL pixel decode via the JDK's own javax.imageio PNG
    // reader. Every 5th doc carries an actual 3x2 PNG (deterministic
    // pixels, encoded at plan-build time — PNG is lossless, so the decoded
    // values are exact constants the oracle states; the bytes the encoder
    // emits don't matter, only what they decode back to). Other docs carry
    // text bytes, which no JRE reader accepts -> the undecodable path.
    QueryDef("q62_image_decode", (sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5L)) === 0L, lit(testPng))
          .otherwise(col("text").cast("binary")).as("data"))
      Multimodal.pixelFeatures(d, "doc_id", "data")
    },
      // Lossless decode of a fixed-pixel PNG -> the oracle states the exact
      // decoded constants (3x2, r+g+b total 651); text payloads hit the
      // undecodable sentinel row.
      """SELECT doc_id AS id,
        |       doc_id % 5 = 0 AS decoded,
        |       CASE WHEN doc_id % 5 = 0 THEN 'png' ELSE 'unknown' END AS format,
        |       CAST(CASE WHEN doc_id % 5 = 0 THEN 3 ELSE -1 END AS INTEGER) AS width,
        |       CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE -1 END AS INTEGER) AS height,
        |       CAST(CASE WHEN doc_id % 5 = 0 THEN 651 END AS BIGINT) AS rgb_sum
        |FROM documents""".stripMargin),

    // Multimodal: audio metadata from real RIFF/WAVE headers. Every 7th
    // doc carries a canonical 44-byte WAV header (PCM, 2 ch, 16 kHz,
    // 16-bit) + 320 data bytes -> 80 frames; the rest are the sentinel row.
    QueryDef("q63_audio_meta", (sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7L)) === 0L, lit(testWav))
          .otherwise(col("text").cast("binary")).as("data"))
      Multimodal.audioMeta(d, "doc_id", "data")
    },
      """SELECT doc_id AS id,
        |       doc_id % 7 = 0 AS is_wav,
        |       CAST(CASE WHEN doc_id % 7 = 0 THEN 2 ELSE -1 END AS INTEGER) AS channels,
        |       CAST(CASE WHEN doc_id % 7 = 0 THEN 16000 ELSE -1 END AS INTEGER) AS sample_rate,
        |       CAST(CASE WHEN doc_id % 7 = 0 THEN 16 ELSE -1 END AS INTEGER) AS bits_per_sample,
        |       CAST(CASE WHEN doc_id % 7 = 0 THEN 80 ELSE -1 END AS BIGINT) AS n_frames
        |FROM documents""".stripMargin),

    // Multimodal: video container metadata from a real ISO-BMFF box walk.
    // Every 6th doc carries a minimal mp4 (ftyp isom + moov/mvhd v0 with
    // timescale 1000, duration 5000 ticks, 2 trak boxes); the rest are
    // text bytes -> the sentinel row.
    QueryDef("q68_video_meta", (sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(6L)) === 0L, lit(testMp4))
          .otherwise(col("text").cast("binary")).as("data"))
      Multimodal.videoMeta(d, "doc_id", "data")
    },
      """SELECT doc_id AS id,
        |       doc_id % 6 = 0 AS is_mp4,
        |       CASE WHEN doc_id % 6 = 0 THEN 'isom' ELSE '' END AS major_brand,
        |       CAST(CASE WHEN doc_id % 6 = 0 THEN 1000 ELSE -1 END AS BIGINT) AS timescale,
        |       CAST(CASE WHEN doc_id % 6 = 0 THEN 5000 ELSE -1 END AS BIGINT) AS duration_ticks,
        |       CAST(CASE WHEN doc_id % 6 = 0 THEN 2 ELSE -1 END AS INTEGER) AS n_tracks
        |FROM documents""".stripMargin)
  )
}
