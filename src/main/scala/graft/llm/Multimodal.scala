package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata, processed per-partition in bounded batches.
  *
  * Metadata decode is REAL: container headers carry their dimensions in
  * fixed-layout fields — PNG's IHDR chunk (width/height as big-endian
  * u32 at offsets 16/20, per the PNG spec §11.2.2), JPEG's SOF frame
  * segments (height/width as big-endian u16 behind a marker walk, per
  * ITU T.81 §B.2.2), GIF's logical screen descriptor (little-endian u16
  * at 6/8) — so [[parseDims]] reads them from the raw bytes with no
  * codec dependency. Full pixel decode (which WOULD need an image
  * library this container doesn't ship) is out of scope: everything a
  * metadata/filter/partition stage needs comes from the header.
  *
  * At 100 TB: payloads stay in their source files; only the columns a
  * stage needs are projected (parquet column pruning keeps the binary
  * column unread for metadata-only queries), and decode parallelism is
  * partition-level with no driver involvement — the `mapPartitions`
  * shape below (batch iterator in, batch iterator out, decoder state
  * per partition) is exactly the Pandas-UDF batch contract.
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  case class DecodedMeta(media_id: Long, kind: String, byte_len: Long,
                         width: Int, height: Int, content_hash: String)

  /** Wrap a text table as a binary media table (test stand-in: the
    * documents fixture has no real media, so UTF-8 bytes play the blob). */
  def asMediaTable(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      lit("application/octet-stream").as("kind"),
      encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** Parse (width, height, mime) from an image container header, or None
    * for anything unrecognized/truncated. Pure JVM byte arithmetic:
    *  - PNG: 8-byte signature, then the IHDR chunk is REQUIRED first
    *    (length at 8, type "IHDR" at 12), width/height big-endian u32 at
    *    16/20.
    *  - JPEG: SOI (FF D8), then a marker walk — each non-standalone
    *    segment is FF <marker> <u16 len incl. itself>; dimensions live in
    *    the first SOFn segment (C0–CF minus C4/C8/CC): precision u8,
    *    height u16, width u16 at data offsets 0/1/3. The walk is needed
    *    because APPn/COM/DQT segments of arbitrary length precede SOF.
    *  - GIF: "GIF87a"/"GIF89a", then LITTLE-endian u16 width/height at
    *    6/8.
    *  - WEBP (extended/VP8X only): RIFF container fourccs, then the
    *    canvas size as (value−1) little-endian u24 fields — a third
    *    byte-order/width combination, all pinned by the golden-fixture
    *    spec.
    */
  def parseDims(b: Array[Byte]): Option[(Int, Int, String)] = {
    def u8(i: Int): Int = b(i) & 0xff
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)

    if (b.length >= 24 &&
        u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G' &&
        u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a) {
      if (b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        Some((be32(16), be32(20), "image/png"))
      else None
    } else if (b.length >= 10 &&
        (u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == '8' &&
          (u8(4) == '7' || u8(4) == '9') && u8(5) == 'a')) {
      Some((le16(6), le16(8), "image/gif"))
    } else if (b.length >= 30 &&
        u8(0) == 'R' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == 'F' &&
        u8(8) == 'W' && u8(9) == 'E' && u8(10) == 'B' && u8(11) == 'P' &&
        u8(12) == 'V' && u8(13) == 'P' && u8(14) == '8' && u8(15) == 'X') {
      // WEBP extended header: canvas (width-1, height-1) as LE u24 at
      // chunk-data offsets 4/7 (RIFF 12 + chunk header 8 + flags/reserved 4)
      def le24(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)
      Some((1 + le24(24), 1 + le24(27), "image/webp"))
    } else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      var i = 2
      var out: Option[(Int, Int, String)] = None
      var bad = false
      while (out.isEmpty && !bad && i + 3 < b.length) {
        if (u8(i) != 0xff) bad = true
        else {
          val m = u8(i + 1)
          // standalone markers (no length field): TEM, RSTn, another SOI
          if (m == 0x01 || (m >= 0xd0 && m <= 0xd7) || m == 0xd8) i += 2
          else if (m == 0xd9) bad = true // EOI before any SOF
          else {
            val len = be16(i + 2)
            if (len < 2) bad = true
            else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
              // SOFn data: [precision u8][height u16][width u16]...
              if (i + 8 < b.length) out = Some((be16(i + 7), be16(i + 5), "image/jpeg"))
              else bad = true
            } else i += 2 + len
          }
        }
      }
      out
    } else None
  }

  /** Parse (sample_rate, channels, bits_per_sample, duration_ms) from a
    * RIFF/WAVE header: chunk walk to "fmt " (channels LE u16 at data+2,
    * rate LE u32 at +4, bits LE u16 at +14) and "data" (payload size →
    * duration = bytes·1000 / byte-rate). Fixed-offset little-endian
    * fields, same no-codec posture as [[parseDims]]. */
  def parseWav(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u8(i: Int): Int = b(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) |
      (u8(i + 3).toLong << 24)) & 0xffffffffL
    def cc(i: Int, s: String): Boolean = s.indices.forall(j => u8(i + j) == s(j))
    if (b.length < 44 || !cc(0, "RIFF") || !cc(8, "WAVE")) None
    else {
      var i = 12
      var fmt: Option[(Int, Int, Int)] = None
      var dataLen = -1L
      while ((fmt.isEmpty || dataLen < 0) && i + 8 <= b.length) {
        val size = le32(i + 4)
        if (cc(i, "fmt ") && i + 8 + 16 <= b.length)
          fmt = Some((le32(i + 12).toInt, le16(i + 10), le16(i + 22)))
        else if (cc(i, "data")) dataLen = size
        // chunks pad to even; a corrupt 4 GB size field must end the walk,
        // not wrap the Int cursor into an infinite loop
        val step = 8L + size + (size & 1L)
        if (step > b.length - i) i = b.length else i += step.toInt
      }
      fmt.collect { case (rate, ch, bits)
          if dataLen >= 0 && rate > 0 && ch > 0 && bits > 0 =>
        (rate, ch, bits, dataLen * 8000L / (rate.toLong * ch * bits))
      }
    }
  }

  /** Parse the presentation duration (ms) from an MP4/ISO-BMFF header: a
    * top-level box walk (size BE u32 + fourcc) to `moov`, an inner walk
    * to `mvhd`, then timescale/duration at the version-dependent fixed
    * offsets (v0: u32s at +12/+16; v1: u32/u64 at +20/+24). */
  def parseMp4DurationMs(b: Array[Byte]): Option[Long] = {
    def u8(i: Int): Int = b(i) & 0xff
    def be32(i: Int): Long = ((u8(i).toLong << 24) | (u8(i + 1) << 16) |
      (u8(i + 2) << 8) | u8(i + 3)) & 0xffffffffL
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def cc(i: Int, s: String): Boolean = s.indices.forall(j => u8(i + j) == s(j))
    var i = 0
    var out: Option[Long] = None
    while (out.isEmpty && i + 8 <= b.length) {
      val size = be32(i)
      if (size < 8 || i + size > b.length) return None
      if (cc(i + 4, "moov")) {
        var j = i + 8
        val end = i + size.toInt
        while (out.isEmpty && j + 8 <= end) {
          val isize = be32(j)
          if (isize < 8 || j + isize > end) return None
          // v0 reads through j+28 (u32 duration), v1 through j+40 (u64)
          if (cc(j + 4, "mvhd") && j + 28 <= end) {
            val (ts, dur) =
              if (u8(j + 8) == 1 && j + 40 <= end) (be32(j + 28), be64(j + 32))
              else (be32(j + 20), be32(j + 24))
            if (ts > 0) out = Some(dur * 1000L / ts)
          }
          j += isize.toInt
        }
      }
      i += size.toInt
    }
    out
  }

  /** Build a minimal-but-valid PNG header (signature + IHDR with a real
    * CRC32) followed by `body`. 33 header bytes; [[parseDims]] and any
    * standards-conforming reader agree on the dimensions. */
  def pngPayload(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(33 + body.length)
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    val chunk = java.nio.ByteBuffer.allocate(17)
    chunk.put("IHDR".getBytes("US-ASCII"))
    chunk.putInt(width).putInt(height)
    // bit depth 8, truecolor, deflate, adaptive filter, no interlace
    chunk.put(Array[Byte](8, 2, 0, 0, 0))
    val crc = new java.util.zip.CRC32
    crc.update(chunk.array())
    out.write(java.nio.ByteBuffer.allocate(4).putInt(13).array(), 0, 4)
    out.write(chunk.array(), 0, 17)
    out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array(), 0, 4)
    out.write(body, 0, body.length)
    out.toByteArray
  }

  /** Build a minimal JPEG header — SOI, a JFIF APP0 (so the parser's
    * marker walk is actually exercised), and a grayscale baseline SOF0 —
    * followed by `body`. 33 header bytes, same as [[pngPayload]], which
    * keeps byte-length oracles uniform across kinds. */
  def jpegPayload(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(33 + body.length)
    buf.put(Array[Byte](0xff.toByte, 0xd8.toByte))            // SOI
    buf.put(Array[Byte](0xff.toByte, 0xe0.toByte))            // APP0
    buf.putShort(16)                                          // len incl. itself
    buf.put("JFIF".getBytes("US-ASCII")).put(0.toByte)        // identifier
    buf.put(Array[Byte](1, 1, 0))                             // v1.1, no units
    buf.putShort(1).putShort(1)                               // density 1x1
    buf.put(Array[Byte](0, 0))                                // no thumbnail
    buf.put(Array[Byte](0xff.toByte, 0xc0.toByte))            // SOF0
    buf.putShort((8 + 3 * 1).toShort)                         // len: 1 component
    buf.put(8.toByte)                                         // precision
    buf.putShort(height.toShort).putShort(width.toShort)      // dims, BE
    buf.put(Array[Byte](1, 1, 0x11, 0))                       // 1 comp, 1:1, q0
    buf.put(body)
    buf.array()
  }

  /** Build a complete PCM WAV file (44-byte canonical header + silent
    * sample data) — [[parseWav]] and any conforming reader agree on the
    * format fields and duration. */
  def wavPayload(sampleRate: Int, channels: Int, bitsPerSample: Int,
                 nSamples: Int): Array[Byte] = {
    val dataLen = nSamples * channels * (bitsPerSample / 8)
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
    buf.putShort(1)                                  // PCM
    buf.putShort(channels.toShort).putInt(sampleRate)
    buf.putInt(sampleRate * channels * (bitsPerSample / 8)) // byte rate
    buf.putShort((channels * (bitsPerSample / 8)).toShort)  // block align
    buf.putShort(bitsPerSample.toShort)
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    buf.array()                                      // samples stay zero
  }

  /** Build a minimal ISO-BMFF header — `ftyp` plus a `moov` holding one
    * spec-complete 108-byte v0 `mvhd` — carrying the given movie
    * timescale/duration. 132 bytes. */
  def mp4Payload(timescale: Int, durationUnits: Long): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(16 + 8 + 108) // big-endian default
    buf.putInt(16).put("ftyp".getBytes("US-ASCII"))
    buf.put("isom".getBytes("US-ASCII")).putInt(0)
    buf.putInt(8 + 108).put("moov".getBytes("US-ASCII"))
    buf.putInt(108).put("mvhd".getBytes("US-ASCII"))
    buf.putInt(0)                                    // version 0 + flags
    buf.putInt(0).putInt(0)                          // creation/modification
    buf.putInt(timescale).putInt(durationUnits.toInt)
    buf.putInt(0x00010000).putShort(0x0100.toShort)  // rate 1.0, volume 1.0
    buf.array()                                      // reserved/matrix stay zero
  }

  case class AvMeta(media_id: Long, kind: String, byte_len: Long,
                    sample_rate: Int, channels: Int, duration_ms: Long)

  /** Audio/video metadata decode — the [[decodeMeta]] shape for the
    * time-based containers: WAV format fields + duration, MP4 movie
    * duration (no per-stream fields without a codec; -1 marks absence,
    * never a synthesized value). */
  def decodeAvMeta(media: Dataset[MediaRow]): Dataset[AvMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val len = r.payload.length.toLong
        parseWav(r.payload) match {
          case Some((rate, ch, _, dur)) =>
            AvMeta(r.media_id, "audio/wav", len, rate, ch, dur)
          case None => parseMp4DurationMs(r.payload) match {
            case Some(dur) => AvMeta(r.media_id, "video/mp4", len, -1, -1, dur)
            case None => AvMeta(r.media_id, r.kind, len, -1, -1, -1L)
          }
        }
      }
    }
  }

  /** Decode per-partition: real header parse ([[parseDims]]) for
    * dimensions and detected mime, md5 over the full payload for the
    * content hash. Unrecognized payloads keep their declared kind and
    * report -1 x -1 — absence is explicit, never synthesized. */
  def decodeMeta(media: Dataset[MediaRow]): Dataset[DecodedMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      // one decoder instance per partition (the Pandas-UDF batch shape)
      val digest = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        digest.reset()
        val hash = digest.digest(r.payload).map("%02x".format(_)).mkString
        val (w, h, kind) = parseDims(r.payload).getOrElse((-1, -1, r.kind))
        DecodedMeta(
          media_id = r.media_id,
          kind = kind,
          byte_len = r.payload.length.toLong,
          width = w,
          height = h,
          content_hash = hash)
      }
    }
  }
}
