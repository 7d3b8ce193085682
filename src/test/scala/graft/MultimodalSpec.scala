package graft

import graft.core.Tables
import graft.llm.Multimodal

class MultimodalSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  // ---- golden fixtures: hand-written literals straight from the specs.
  // These exist because q97's oracle is a build->parse round trip and
  // cannot see a bug symmetric in builder and parser (e.g. both sides
  // little-endian). The literals below encode the byte order and layout
  // the PNG spec (§11.2.2) and ITU T.81 (§B.2.2) mandate.

  test("golden PNG: IHDR big-endian u32 dims at offsets 16/20") {
    val png = bytes(
      0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0x00, 0x00, 0x00, 0x0d,                      // IHDR length 13
      'I', 'H', 'D', 'R',
      0x00, 0x00, 0x07, 0x80,                      // width  1920
      0x00, 0x00, 0x04, 0x38,                      // height 1080
      0x08, 0x06, 0x00, 0x00, 0x00,                // depth/color/etc
      0xde, 0xad, 0xbe, 0xef)                      // CRC (unchecked)
    assert(Multimodal.parseDims(png) === Some((1920, 1080, "image/png")))
  }

  test("golden JPEG: marker walk over APP0+COM reaches SOF0, BE u16 dims") {
    val jpeg = bytes(
      0xff, 0xd8,                                   // SOI
      0xff, 0x01,                                   // TEM (standalone)
      0xff, 0xe0, 0x00, 0x04, 0x00, 0x00,           // APP0, len 4
      0xff, 0xfe, 0x00, 0x05, 'h', 'i', '!',        // COM, len 5
      0xff, 0xc0, 0x00, 0x0b,                       // SOF0, len 11
      0x08,                                         // precision
      0x01, 0x00,                                   // height 256
      0x02, 0x01,                                   // width  513
      0x01, 0x01, 0x11, 0x00)                       // 1 component
    assert(Multimodal.parseDims(jpeg) === Some((513, 256, "image/jpeg")))
  }

  test("golden JPEG: progressive SOF2 also carries dims; C4/C8/CC skipped") {
    val jpeg = bytes(
      0xff, 0xd8,
      0xff, 0xc4, 0x00, 0x04, 0x00, 0x00,           // DHT (C4): NOT a SOF
      0xff, 0xc2, 0x00, 0x11,                       // SOF2, len 17
      0x08,
      0x04, 0x38,                                   // height 1080
      0x07, 0x80,                                   // width  1920
      0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
    assert(Multimodal.parseDims(jpeg) === Some((1920, 1080, "image/jpeg")))
  }

  test("golden GIF: LITTLE-endian u16 dims at offsets 6/8") {
    val gif = bytes(
      'G', 'I', 'F', '8', '9', 'a',
      0x40, 0x01,                                   // width  320 (LE)
      0xc8, 0x00,                                   // height 200 (LE)
      0xf7, 0x00, 0x00)
    assert(Multimodal.parseDims(gif) === Some((320, 200, "image/gif")))
  }

  test("golden WEBP: VP8X canvas as (value-1) LE u24 fields") {
    val webp = bytes(
      'R', 'I', 'F', 'F', 0x20, 0x00, 0x00, 0x00,   // RIFF, size (unchecked)
      'W', 'E', 'B', 'P',
      'V', 'P', '8', 'X', 0x0a, 0x00, 0x00, 0x00,   // VP8X chunk, len 10
      0x00, 0x00, 0x00, 0x00,                       // flags + reserved
      0x7f, 0x07, 0x00,                             // width-1  = 1919 (LE24)
      0x37, 0x04, 0x00)                             // height-1 = 1079 (LE24)
    assert(Multimodal.parseDims(webp) === Some((1920, 1080, "image/webp")))
    // a lossy-only (VP8 ) RIFF is not parsed — dims live in the bitstream
    val vp8 = bytes(
      'R', 'I', 'F', 'F', 0x20, 0x00, 0x00, 0x00, 'W', 'E', 'B', 'P',
      'V', 'P', '8', ' ', 0x0a, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    assert(Multimodal.parseDims(vp8) === None)
  }

  test("golden WAV: canonical 44-byte LE header yields format + duration") {
    val wav = bytes(
      'R', 'I', 'F', 'F', 0xa4, 0x3e, 0x00, 0x00,   // size 16036 (LE)
      'W', 'A', 'V', 'E',
      'f', 'm', 't', ' ', 0x10, 0x00, 0x00, 0x00,   // fmt, len 16
      0x01, 0x00,                                   // PCM
      0x01, 0x00,                                   // mono
      0x40, 0x1f, 0x00, 0x00,                       // 8000 Hz (LE)
      0x80, 0x3e, 0x00, 0x00,                       // byte rate 16000
      0x02, 0x00, 0x10, 0x00,                       // block align 2, 16 bit
      'd', 'a', 't', 'a', 0x80, 0x3e, 0x00, 0x00)   // data len 16000
    // 16000 bytes at 16000 B/s = exactly one second
    assert(Multimodal.parseWav(wav) === Some((8000, 1, 16, 1000L)))
  }

  test("golden MP4: mvhd v0 and v1 box walks yield the movie duration") {
    val v0 = bytes(
      0x00, 0x00, 0x00, 0x10, 'f', 't', 'y', 'p',   // ftyp, size 16
      'i', 's', 'o', 'm', 0x00, 0x00, 0x00, 0x00,
      0x00, 0x00, 0x00, 0x24, 'm', 'o', 'o', 'v',   // moov, size 36
      0x00, 0x00, 0x00, 0x1c, 'm', 'v', 'h', 'd',   // mvhd, size 28 (thru duration)
      0x00, 0x00, 0x00, 0x00,                       // version 0 + flags
      0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, // ctime, mtime
      0x00, 0x00, 0x02, 0x58,                       // timescale 600 (BE)
      0x00, 0x00, 0x04, 0xb0)                       // duration 1200
    assert(Multimodal.parseMp4DurationMs(v0) === Some(2000L))
    val v1 = bytes(
      0x00, 0x00, 0x00, 0x30, 'm', 'o', 'o', 'v',   // moov, size 48
      0x00, 0x00, 0x00, 0x28, 'm', 'v', 'h', 'd',   // mvhd, size 40 (thru duration)
      0x01, 0x00, 0x00, 0x00,                       // version 1
      0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, // 64-bit times
      0x00, 0x00, 0x03, 0xe8,                       // timescale 1000
      0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x13, 0x88) // duration u64 5000
    assert(Multimodal.parseMp4DurationMs(v1) === Some(5000L))
  }

  test("WAV/MP4 builders round-trip; decodeAvMeta marks opaque blobs -1") {
    import spark.implicits._
    assert(Multimodal.parseWav(Multimodal.wavPayload(44100, 2, 16, 44100))
      === Some((44100, 2, 16, 1000L)))
    assert(Multimodal.parseMp4DurationMs(Multimodal.mp4Payload(500, 1234L))
      === Some(2468L))
    val rows = Seq(
      Multimodal.MediaRow(1L, "media/raw", Multimodal.wavPayload(8000, 1, 16, 800)),
      Multimodal.MediaRow(2L, "media/raw", Multimodal.mp4Payload(600, 1200L)),
      Multimodal.MediaRow(3L, "text/plain", "no container here".getBytes("UTF-8")))
    val meta = Multimodal.decodeAvMeta(rows.toDS()).collect()
      .map(m => m.media_id -> m).toMap
    assert((meta(1L).kind, meta(1L).sample_rate, meta(1L).channels,
      meta(1L).duration_ms) === (("audio/wav", 8000, 1, 100L)))
    assert((meta(2L).kind, meta(2L).duration_ms) === (("video/mp4", 2000L)))
    assert((meta(3L).kind, meta(3L).sample_rate, meta(3L).duration_ms)
      === (("text/plain", -1, -1L)))
  }

  test("unparseable payloads are None, never synthesized") {
    assert(Multimodal.parseDims("just some text".getBytes("UTF-8")) === None)
    assert(Multimodal.parseDims(Array.empty[Byte]) === None)
    // PNG signature but truncated before IHDR
    assert(Multimodal.parseDims(bytes(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)) === None)
    // PNG signature but first chunk is not IHDR
    assert(Multimodal.parseDims(bytes(
      0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0x00, 0x00, 0x00, 0x0d, 'n', 'o', 'p', 'e',
      0, 0, 0, 1, 0, 0, 0, 1, 8, 6, 0, 0, 0)) === None)
    // JPEG SOI but EOI before any SOF
    assert(Multimodal.parseDims(bytes(0xff, 0xd8, 0xff, 0xd9)) === None)
    // JPEG segment stream corrupted (no FF where a marker must be)
    assert(Multimodal.parseDims(bytes(0xff, 0xd8, 0x00, 0xc0, 0x00, 0x0b, 0, 0, 0, 0, 0)) === None)
  }

  test("builders round-trip through the parser, incl. >255 and u16-max dims") {
    val body = "payload body".getBytes("UTF-8")
    for ((w, h) <- Seq((1, 1), (16, 16), (640, 480), (513, 257), (65535, 65535))) {
      assert(Multimodal.parseDims(Multimodal.pngPayload(w, h, body))
        === Some((w, h, "image/png")))
      assert(Multimodal.parseDims(Multimodal.jpegPayload(w, h, body))
        === Some((w, h, "image/jpeg")))
    }
    // PNG u32 width survives past the u16 range
    assert(Multimodal.parseDims(Multimodal.pngPayload(1 << 20, 3, body))
      === Some((1 << 20, 3, "image/png")))
    // both builders emit the same 33 header bytes ahead of the body
    assert(Multimodal.pngPayload(4, 4, body).length === 33 + body.length)
    assert(Multimodal.jpegPayload(4, 4, body).length === 33 + body.length)
  }

  test("decodeMeta parses real headers and reports -1x-1 for opaque blobs") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, "media/raw", Multimodal.pngPayload(800, 600, Array[Byte](1, 2, 3))),
      Multimodal.MediaRow(2L, "media/raw", Multimodal.jpegPayload(320, 240, Array.empty[Byte])),
      Multimodal.MediaRow(3L, "application/octet-stream", "not an image".getBytes("UTF-8")))
    val meta = Multimodal.decodeMeta(rows.toDS()).collect().map(m => m.media_id -> m).toMap
    assert((meta(1L).width, meta(1L).height, meta(1L).kind) === ((800, 600, "image/png")))
    assert(meta(1L).byte_len === 36L)
    assert((meta(2L).width, meta(2L).height, meta(2L).kind) === ((320, 240, "image/jpeg")))
    assert((meta(3L).width, meta(3L).height) === ((-1, -1)))
    assert(meta(3L).kind === "application/octet-stream") // declared kind kept
    meta.values.foreach(m => assert(m.content_hash.length === 32))
  }

  test("binary payload table decodes deterministic hash/len per partition") {
    val docs = Tables.load(spark, sf, "documents").limit(50)
    val media = Multimodal.asMediaTable(docs)
    val meta = Multimodal.decodeMeta(media).collect()
    assert(meta.length === 50)
    val expected = docs.collect().map { r =>
      val bytes = r.getAs[String]("text").getBytes("UTF-8")
      r.getAs[Long]("doc_id") -> bytes.length.toLong
    }.toMap
    meta.foreach { m =>
      assert(m.byte_len === expected(m.media_id))
      assert(m.content_hash.length === 32)
      assert(m.width === -1) // text blobs are not images; nothing synthesized
    }
  }

  test("decode runs distributed (partition count > 1, no driver collect)") {
    val docs = Tables.load(spark, sf, "documents").repartition(4)
    val meta = Multimodal.decodeMeta(Multimodal.asMediaTable(docs))
    assert(meta.rdd.getNumPartitions === 4)
    assert(meta.count() === 500)
  }

  test("decodeMeta runs unchanged on a stream (typed mapPartitions is stream-capable)") {
    val dir = java.nio.file.Files.createTempDirectory("media-stream-in").toString
    val docs = Tables.load(spark, sf, "documents").limit(40)
    Multimodal.asMediaTable(docs).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    import spark.implicits._
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir).as[Multimodal.MediaRow]
    val q = Multimodal.decodeMeta(stream).writeStream
      .format("memory").queryName("media_meta").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("media-ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("media_meta").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(5))).toSet
    val batch = Multimodal.decodeMeta(Multimodal.asMediaTable(docs)).collect()
      .map(m => (m.media_id, m.byte_len, m.content_hash)).toSet
    assert(streamed === batch)
  }

  test("metadata-only projection never reads the binary payload column") {
    val dir = java.nio.file.Files.createTempDirectory("media-prune").toString
    val docs = Tables.load(spark, sf, "documents").limit(40)
    Multimodal.decodeMeta(Multimodal.asMediaTable(docs))
      .join(Multimodal.asMediaTable(docs), Seq("media_id", "kind"))
      .write.mode("overwrite").parquet(dir)
    // the docstring's 100 TB claim, measured: a stage that needs only the
    // typed metadata must leave the payload bytes on disk
    val metaOnly = spark.read.parquet(dir).select("media_id", "width", "height")
    metaOnly.collect()
    val plan = metaOnly.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("payload"),
      s"payload must be pruned from the scan:\n$plan")
  }
}
