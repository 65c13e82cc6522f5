package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.geo.GeoJson
import graft.io.{ErddapUrl, Sinks}
import graft.operators.{Multimodal, TextStats}
import graft.streaming.StreamDedup

/** Round-2 surface: KML/HTML sinks (S15/S16), graph-image URLs (S17's
  * `.png` half), real ImageIO decode behind the multimodal stub seam, and
  * streaming dedup. */
class SinksStreamSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("image aHash: re-encode-stable perceptual dedup; banded pairs " +
    "find the twins, distinct images stay apart") {
    // a gradient image and its re-encode (PNG vs BMP of the SAME pixels
    // → identical aHash, Hamming 0); a slightly corrupted copy (one
    // corner block flipped → few bits); an unrelated inverse gradient
    def gradient(invert: Boolean, corrupt: Boolean): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v0 = (x + y) * 2
        val v = if (invert) 255 - math.min(v0, 255) else math.min(v0, 255)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      if (corrupt)
        for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, 0xFFFFFF)
      img
    }
    def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val base = gradient(invert = false, corrupt = false)
    val df = Seq(
      (1L, enc(base, "png")),
      (2L, enc(base, "bmp")),                                  // re-encode
      (3L, enc(gradient(invert = false, corrupt = true), "png")), // near-dup
      (4L, enc(gradient(invert = true, corrupt = false), "png")), // unrelated
      (5L, "not an image".getBytes("UTF-8"))                   // undecodable
    ).toDF("media_id", "media")
    val hashes = Multimodal.imageHashes(df).collect()
      .map(r => r.getAs[Long]("media_id") ->
        Option(r.getAs[java.lang.Long]("ahash"))).toMap
    assert(hashes(1L).isDefined && hashes(1L) == hashes(2L),
      "re-encode must hash identically (pixel-defined, format-free)")
    assert(hashes(5L).isEmpty, "undecodable payload → null hash")
    val pairs = Multimodal.imageNearDups(df, maxHamming = 3).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs.get((1L, 2L)).contains(0L), s"twins at Hamming 0: $pairs")
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) >= 1L,
      s"corrupted copy within budget: $pairs")
    assert(!pairs.keys.exists(k => k._1 == 4L || k._2 == 4L),
      s"inverse gradient must not pair: $pairs")
  }

  test("image near-dups over 3 verbatim copies of 40 constructed images: " +
    "exactly the 40 * C(3,2) copy pairs, all at Hamming 0") {
    // 8x8 uniform blocks of a 64-bit pattern make the aHash the pattern
    // itself; patterns pairwise more than 6 bits apart cannot pair at 3
    val rnd = new scala.util.Random(14)
    val patterns = Iterator.continually(rnd.nextLong())
      .filter(p => java.lang.Long.bitCount(p) > 4 && java.lang.Long.bitCount(p) < 60)
      .distinct.take(40).toSeq
    for (i <- patterns.indices; j <- 0 until i)
      assert(java.lang.Long.bitCount(patterns(i) ^ patterns(j)) > 6, s"patterns $i, $j")
    def png(pattern: Long): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = if ((pattern & (1L << ((y / 8) * 8 + x / 8))) != 0L) 255 else 0
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Scale.copies(patterns.zipWithIndex
      .map { case (p, i) => (i.toLong, png(p)) }.toDF("media_id", "media"), "media_id", 3)
    val pairs = Multimodal.imageNearDups(media, maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.length == 40 * 3, s"${pairs.length} pairs")
    val stray = pairs.filterNot { case (a, b, h) => a % Scale.Salt == b % Scale.Salt && h == 0L }
    assert(stray.isEmpty, stray.take(3).toSeq)
  }

  test("multimodal decode: real PNG decoded to pixel features; fallback intact") {
    val white = pngBytes(4, 3, 0xFFFFFF)
    val black = pngBytes(2, 2, 0x000000)
    val junk = "not an image at all".getBytes("UTF-8")
    val df = Seq((1L, white), (2L, black), (3L, junk)).toDF("media_id", "media")
      .withColumn("meta", struct(lit("fake/raw").as("format"),
        lit(0).as("width"), lit(0).as("height"),
        length(col("media")).cast("long").as("n_bytes")))
    val feats = Multimodal.extractFeatures(df, dim = 8)
      .select("media_id", "features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // white pixels → luminance 255 → last bucket; black → first bucket
    assert(feats(1L).last == 1.0f && feats(1L).sum == 1.0f)
    assert(feats(2L).head == 1.0f)
    assert(math.abs(feats(3L).sum - 1.0f) < 1e-3) // byte-histogram fallback
    val meta = Multimodal.decodeImageMeta(df)
      .select(col("media_id"), col("meta.format"), col("meta.width"),
        col("meta.height"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(meta(1L) == (("image/png", 4, 3)))
    assert(meta(2L) == (("image/png", 2, 2)))
    assert(meta(3L) == (("fake/raw", 0, 0))) // undecodable: meta untouched
  }

  private def wavBytes(rate: Int, bits: Int, channels: Int,
                       frames: Array[Array[Double]]): Array[Byte] = {
    val bps = bits / 8
    val dataLen = frames.length * channels * bps
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(channels.toShort); bb.putInt(rate)
    bb.putInt(rate * channels * bps); bb.putShort((channels * bps).toShort)
    bb.putShort(bits.toShort)
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
    frames.foreach(_.foreach(v =>
      if (bits == 16) bb.putShort(math.round(v * 32767).toShort)
      else bb.put((math.round(v * 127) + 128).toByte)))
    bb.array()
  }

  test("multimodal audio: real PCM WAV decode — envelope, meta, physics") {
    // 440 Hz sine, 8 kHz, 0.1 s, amplitude 0.5, 16-bit mono
    val n = 800
    val sine = Array.tabulate(n)(i =>
      Array(0.5 * math.sin(2 * math.Pi * 440 * i / 8000.0)))
    // stereo with opposite-phase channels mono-mixes to silence
    val anti = Array.tabulate(n) { i =>
      val v = 0.5 * math.sin(2 * math.Pi * 440 * i / 8000.0); Array(v, -v)
    }
    val eight = Array.tabulate(n)(i =>
      Array(0.5 * math.sin(2 * math.Pi * 440 * i / 8000.0)))
    // crafted header: a data chunk declaring ~Int.MaxValue bytes would
    // wrap an int bounds check and attempt a multi-GB allocation — the
    // long-compare guard must make it undecodable instead
    val evil = {
      val bb = java.nio.ByteBuffer.allocate(60)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFFxxxxWAVEfmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(1); bb.putInt(8000); bb.putInt(16000)
      bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(2147483640)
      bb.array()
    }
    val df = Seq(
      (1L, wavBytes(8000, 16, 1, sine)),
      (2L, wavBytes(8000, 16, 2, anti)),
      (3L, wavBytes(8000, 8, 1, eight)),
      (4L, "RIFFjunk".getBytes("US-ASCII")),
      (5L, evil)).toDF("media_id", "media")
    val meta = Multimodal.decodeAudioMeta(df)
      .select("media_id", "audio_meta.*").collect()
      .map(r => r.getLong(0) -> r).toMap
    // steady sine: RMS = A/√2, ZCR = 2f/rate, duration = n/rate
    assert(meta(1L).getInt(1) == 8000 && meta(1L).getInt(2) == 1)
    assert(math.abs(meta(1L).getDouble(5) - 0.1) < 1e-9, "duration")
    assert(math.abs(meta(1L).getDouble(6) - 0.5 / math.sqrt(2)) < 0.01, "rms")
    assert(math.abs(meta(1L).getDouble(7) - 2.0 * 440 / 8000) < 0.01, "zcr")
    assert(meta(2L).getDouble(6) < 1e-4, "anti-phase stereo mixes to silence")
    assert(math.abs(meta(3L).getDouble(6) - 0.5 / math.sqrt(2)) < 0.01,
      "8-bit branch")
    assert(meta(4L).isNullAt(1), "truncated RIFF → null meta, no crash")
    assert(meta(5L).isNullAt(1), "overflow-length data chunk → null, no OOM")
    // energy envelope: steady sine → all 8 windows equal (±quantization)
    val env = Multimodal.extractFeatures(df.where(col("media_id") === 1L), dim = 8)
      .select("features").head().getSeq[Float](0)
    assert(env.size == 8 && env.forall(w => math.abs(w - env.head) < 0.01),
      s"steady-tone envelope must be flat: $env")
  }

  test("multimodal golden fixtures: each ImageIO codec decodes to literal features") {
    def fixture(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/media/$name")
      try in.readAllBytes() finally in.close()
    }
    // committed fixtures with hand-computable expectations (dim = 8
    // luminance histogram, bucket = lum*8/256, lum = (299r+587g+114b)/1000
    // in integer math):
    //  - wb_4x3.png: 6 white px (lum 255 → bucket 7) + 6 black (→ 0)
    //  - red_2x2.gif: solid 0xFF0000, lum 76 → bucket 2
    //  - gray_3x1.bmp: solid 0x808080, lum 128 → bucket 4
    //  - gray_4x4.jpg: solid gray is DC-only in JPEG — decodes back to
    //    exactly 128 → bucket 4 (no quantization error on a solid block)
    val cases = Seq(
      ("wb_4x3.png", "image/png", 4, 3, Seq(0.5f, 0f, 0f, 0f, 0f, 0f, 0f, 0.5f)),
      ("red_2x2.gif", "image/gif", 2, 2, Seq(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f)),
      ("gray_3x1.bmp", "image/bmp", 3, 1, Seq(0f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)),
      ("gray_4x4.jpg", "image/jpeg", 4, 4, Seq(0f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)))
    val df = cases.zipWithIndex
      .map { case ((n, _, _, _, _), i) => (i.toLong, fixture(n)) }
      .toDF("media_id", "media")
      .withColumn("meta", struct(lit("fake/raw").as("format"),
        lit(0).as("width"), lit(0).as("height"),
        length(col("media")).cast("long").as("n_bytes")))
    val feats = Multimodal.extractFeatures(df, dim = 8)
      .select("media_id", "features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val meta = Multimodal.decodeImageMeta(df)
      .select(col("media_id"), col("meta.format"), col("meta.width"),
        col("meta.height"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    cases.zipWithIndex.foreach { case ((name, fmt, w, h, expected), i) =>
      assert(feats(i.toLong) == expected,
        s"$name: features ${feats(i.toLong)} != golden $expected")
      assert(meta(i.toLong) == ((fmt, w, h)),
        s"$name: meta ${meta(i.toLong)} != golden ($fmt, $w, $h)")
    }
  }

  test("multimodal frame sampling: animated GIF decodes real frames; stub flagged") {
    def fixture(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/media/$name")
      try in.readAllBytes() finally in.close()
    }
    // anim_4x4x4.gif: 4 full-size 4x4 frames — black, white, red, gray
    // (committed fixture; writer/reader round-trip verified at creation).
    // dim-8 luminance buckets: black→0, white→7, red(lum 76)→2, gray→4.
    val gif = fixture("anim_4x4x4.gif")
    val junk = "no codec for this payload, use the stub".getBytes("UTF-8")
    val df = Seq((1L, gif), (2L, junk)).toDF("media_id", "media")
      .withColumn("meta", struct(lit("fake/raw").as("format"),
        lit(0).as("width"), lit(0).as("height"),
        length(col("media")).cast("long").as("n_bytes")))
    // everyN=1: all four frames, real decode, full dims, exact histograms
    val all = Multimodal.frameSampleDecoded(df.where(col("media_id") === 1L),
        everyN = 1, dim = 8)
      .select("frame_no", "width", "height", "features", "decoded")
      .collect().sortBy(_.getInt(0))
    assert(all.length == 4)
    val golden = Seq(0 -> 0, 1 -> 7, 2 -> 2, 3 -> 4) // frame_no -> hot bucket
    golden.foreach { case (i, bucket) =>
      val r = all(i)
      assert(r.getInt(0) == i && r.getInt(1) == 4 && r.getInt(2) == 4 &&
        r.getBoolean(4), s"frame $i not a real 4x4 decode: $r")
      val feats = r.getSeq[Float](3)
      assert(feats(bucket) == 1.0f && feats.sum == 1.0f,
        s"frame $i: expected solid bucket $bucket, got $feats")
    }
    // everyN=2 keeps ORIGINAL frame indices 0 and 2 (black, red)
    val sampled = Multimodal.frameSampleDecoded(
        df.where(col("media_id") === 1L), everyN = 2, dim = 8)
      .select("frame_no").collect().map(_.getInt(0)).sorted
    assert(sampled.toSeq == Seq(0, 2))
    // non-GIF payload: stub slices, no dims, decoded=false
    val stub = Multimodal.frameSampleDecoded(df.where(col("media_id") === 2L),
        everyN = 2, dim = 8, frameBytes = 10)
      .select("frame_no", "width", "decoded").collect()
    assert(stub.nonEmpty && stub.forall(r => r.isNullAt(1) && !r.getBoolean(2)))
  }

  test("frame-sampling encoder codegens cleanly: no ERROR CodeGenerator events") {
    // Round-8 regression pinned: SampledFrame as a `private` class nested
    // in the object compiled to private bytecode, so Janino could not see
    // its accessors — every frame batch logged `ERROR CodeGenerator:
    // Failed to compile … SampledFrame.decoded()` and fell back to the
    // interpreted deserializer. Capture that logger at ERROR while the
    // pipeline runs and require silence.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.LogEvent
    val codegenLogger =
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val errors = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val probe = new AbstractAppender("graft-codegen-probe", null, null,
        false, Array.empty) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == codegenLogger &&
            e.getLevel.isMoreSpecificThan(Level.ERROR))
          errors.add(e.getMessage.getFormattedMessage)
    }
    probe.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(probe, Level.ERROR, null)
    ctx.updateLoggers()
    try {
      def fixture(name: String): Array[Byte] = {
        val in = getClass.getResourceAsStream(s"/media/$name")
        try in.readAllBytes() finally in.close()
      }
      val df = Seq((1L, fixture("anim_4x4x4.gif")),
          (2L, "stub payload".getBytes("UTF-8")))
        .toDF("media_id", "media")
        .withColumn("meta", struct(lit("fake/raw").as("format"),
          lit(0).as("width"), lit(0).as("height"),
          length(col("media")).cast("long").as("n_bytes")))
      val rows = Multimodal.frameSampleDecoded(df, everyN = 1, dim = 8)
        .collect()
      assert(rows.length >= 5) // 4 real GIF frames + >=1 stub slice
    } finally {
      root.removeAppender("graft-codegen-probe")
      ctx.updateLoggers()
      probe.stop()
    }
    assert(errors.isEmpty,
      s"CodeGenerator logged errors during frame sampling:\n" +
        String.join("\n---\n", errors))
  }

  test("container sniffing: mp4/mp3/webm headers parse without any codec") {
    // hand-assembled minimal containers, every field pinned — the headers
    // are REAL (a demuxer would accept the same structure), only payloads
    // are absent, which is exactly what header-only sniffing never reads
    val bo = new java.io.ByteArrayOutputStream()
    def i32(v: Long): Unit = { bo.write((v >> 24).toInt & 0xff)
      bo.write((v >> 16).toInt & 0xff); bo.write((v >> 8).toInt & 0xff)
      bo.write(v.toInt & 0xff) }
    def tag(s: String): Unit = bo.write(s.getBytes("US-ASCII"))
    // mp4: ftyp(isom) + moov{ mvhd v0 (timescale 1000, duration 5000),
    // trak{ tkhd v0 (width 320, height 240 as 16.16 fixed) } }
    i32(16); tag("ftyp"); tag("isom"); i32(0)
    i32(8 + 28 + 100); tag("moov")
    i32(28); tag("mvhd"); i32(0); i32(0); i32(0); i32(1000); i32(5000)
    i32(100); tag("trak")
    i32(92); tag("tkhd"); (0 until 19).foreach(_ => i32(0)) // v0 + 72 bytes
    i32(320L << 16); i32(240L << 16)
    val mp4 = bo.toByteArray; bo.reset()
    // mp3: empty ID3v2 tag + MPEG1 Layer III frame header (128 kbps,
    // 44100 Hz) + 1000 payload bytes → CBR estimate 1000*8/128000 s
    tag("ID3"); bo.write(3); bo.write(0); bo.write(0)
    (0 until 4).foreach(_ => bo.write(0))
    bo.write(0xFF); bo.write(0xFB); bo.write(0x90); bo.write(0)
    (0 until 996).foreach(_ => bo.write(0xAA))
    val mp3 = bo.toByteArray; bo.reset()
    // webm: EBML magic + size vint + DocType(0x4282) "webm"
    Seq(0x1A, 0x45, 0xDF, 0xA3, 0x9F).foreach(bo.write)
    Seq(0x42, 0x82, 0x84).foreach(bo.write); tag("webm")
    val webm = bo.toByteArray; bo.reset()
    val junk = "not a container at all".getBytes("UTF-8")
    val df = Seq((1L, mp4), (2L, mp3), (3L, webm), (4L, junk))
      .toDF("media_id", "media")
    val out = Multimodal.sniffContainerMeta(df)
      .select("media_id", "container_meta.*")
      .collect().map(r => r.getLong(0) -> r).toMap
    val m4 = out(1L)
    assert(m4.getString(1) == "video/mp4" && m4.getString(2) == "isom")
    assert(m4.getDouble(3) == 5.0, s"mvhd duration: $m4")
    assert(m4.getInt(4) == 320 && m4.getInt(5) == 240, s"tkhd dims: $m4")
    val m3 = out(2L)
    assert(m3.getString(1) == "audio/mpeg" && m3.getString(2) == "mpeg1-layer3")
    assert(m3.getDouble(3) == 1000 * 8.0 / 128000.0, s"mp3 duration: $m3")
    assert(m3.getInt(6) == 44100 && m3.getInt(7) == 128, s"mp3 rates: $m3")
    val wb = out(3L)
    assert(wb.getString(1) == "video/webm" && wb.getString(2) == "webm")
    assert(wb.isNullAt(3), "webm duration is honestly null (no EBML walk)")
    assert(out(4L).isNullAt(1), "junk must sniff to null")
  }

  test("KML sink renders placemarks from GeoJSON tracks (S15)") {
    val obs = Seq(
      ("ds1", Timestamp.valueOf("2024-01-01 00:00:00"), 39.5, -74.2),
      ("ds1", Timestamp.valueOf("2024-01-01 01:00:00"), 39.6, -74.1),
      ("ds2", Timestamp.valueOf("2024-02-01 00:00:00"), 10.0, 20.0)
    ).toDF("dataset_id", "ts", "lat", "lon")
    val tracks = GeoJson.trackFeatureCollections(obs, "dataset_id", "ts", "lat", "lon")
    val kml = Sinks.kmlDocument(tracks, "dataset_id", "geojson", "graft <tracks>",
      statusUrlTemplate = "https://example.test/status?dataset_id={id}")
    assert(kml.contains("<name>graft &lt;tracks&gt;</name>"))
    assert(kml.contains("<name>ds1</name>") && kml.contains("<name>ds2</name>"))
    assert(kml.contains("-74.2,39.5,0 -74.1,39.6,0")) // lon,lat,alt, time-ordered
    assert(kml.contains("https://example.test/status?dataset_id=ds1"))
    assert(kml.contains("2024-01-01T00:00:00Z - 2024-01-01T01:00:00Z"))
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(kml.getBytes("UTF-8")))
    assert(doc.getElementsByTagName("Placemark").getLength == 2)
    val tmp = java.nio.file.Files.createTempDirectory("kml").resolve("t.kml")
    Sinks.kml(tracks, "dataset_id", "geojson", tmp.toString, "tracks")
    assert(new String(java.nio.file.Files.readAllBytes(tmp), "UTF-8")
      .contains("<Placemark>"))
  }

  test("KML sink degrades a malformed GeoJSON row instead of failing (ANSI)") {
    // an empty features array would make element_at(features, 1) throw
    // under ANSI mode — the row must render with a null timestamp range
    // (concat_ws drops it), not abort the whole document
    val rows = Seq(
      ("ok", """{"track":{"geometry":{"coordinates":[[1.0,2.0]]}},""" +
        """"features":[{"properties":{"ts":"2024-01-01T00:00:00Z"}}]}"""),
      ("bad", """{"track":{"geometry":{"coordinates":[]}},"features":[]}""")
    ).toDF("dataset_id", "geojson")
    val kml = Sinks.kmlDocument(rows, "dataset_id", "geojson", "mixed")
    assert(kml.contains("<name>ok</name>") && kml.contains("<name>bad</name>"))
    assert(kml.contains("2024-01-01T00:00:00Z - 2024-01-01T00:00:00Z"))
  }

  test("HTML table sink escapes and caps (S16)") {
    val html = Sinks.htmlTable(Seq((1, "a<b"), (2, "c&d")).toDF("id", "s"))
    assert(html.contains("<th>id</th><th>s</th>"))
    assert(html.contains("<td>a&lt;b</td>") && html.contains("<td>c&amp;d</td>"))
    val capped = Sinks.htmlTable(spark.range(100).toDF("id"), maxRows = 7)
    assert("<tr>".r.findAllIn(capped).length == 1 + 7) // header + capped rows
  }

  test("graph-image URL matches the reference request shape (S17)") {
    val url = ErddapUrl.graphUrl("https://srv/erddap", "ru29-20210630T1343",
      x = "time", y = "depth", c = Some("temperature"),
      constraints = Seq("time>=2021-06-30T00:00:00Z"))
    assert(url ==
      "https://srv/erddap/tabledap/ru29-20210630T1343.png?" +
        "time,depth,temperature&time>=2021-06-30T00%3A00%3A00Z" +
        "&.bgColor=0xFFFFFF&.color=0x000000" +
        "&.colorBar=Rainbow2%7CC%7CLinear%7C%7C%7C&.draw=markers" +
        "&.legend=Bottom&.marker=6%7C5&.xRange=%7C%7Ctrue%7CLinear" +
        "&.yRange=%7C%7Cfalse%7CLinear")
    // setter-style overrides keep the reference's param grammar
    val custom = ErddapUrl.graphUrl("https://srv/erddap", "ds", "time", "temp",
      plotParams = ErddapUrl.defaultPlotParams ++ Seq(
        ErddapUrl.markerParam("Filled Circle", 7),
        ErddapUrl.rangeParam("y", ascending = false, scale = "Log"),
        ".draw" -> "lines",
        ".color" -> s"0x${ErddapUrl.colorCodes("red")}"),
      response = "largePng")
    assert(custom.contains("/tabledap/ds.largePng?time,temp&"))
    assert(custom.contains(".marker=7%7C7"))
    assert(custom.contains(".yRange=%7C%7Cfalse%7CLog"))
    assert(custom.contains(".draw=lines"))
    assert(custom.contains(".color=0xFF0000"))
    assert(!custom.contains(".draw=markers")) // override replaced in place
    intercept[IllegalArgumentException] {
      ErddapUrl.graphUrl("s", "d", "x", "y", response = "csv")
    }
    intercept[IllegalArgumentException] { ErddapUrl.markerParam("Star") }
  }

  test("deterministic sampling: pure function of id, no shuffle, caps hold") {
    import graft.operators.Sampling
    val df = spark.range(0, 2000).toDF("id")
      .withColumn("grp", (col("id") % 4).cast("string"))
    // split is a pure function of id: two evaluations agree exactly
    val s1 = Sampling.withSplit(df, "id", 0.25).where(col("split") === "test")
      .select("id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.withSplit(df, "id", 0.25).where(col("split") === "test")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.nonEmpty)
    assert(math.abs(s1.size / 2000.0 - 0.25) < 0.05) // ~binomial tolerance
    // sample is a subset and a plain map-side filter (no exchange at all)
    val sample = Sampling.sampleByHash(df, "id", 0.1)
    assert(!sample.queryExecution.optimizedPlan.toString.contains("Exchange"))
    assert(sample.count() > 0 && sample.count() < 2000)
    // different salts give (near-)independent draws
    val a = Sampling.sampleByHash(df, "id", 0.5, "saltA")
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.sampleByHash(df, "id", 0.5, "saltB")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a != b)
    // capPerGroup: exactly n per group, equals the windowed reference
    val capped = Sampling.capPerGroup(df, "grp", "id", n = 7)
    val byGrp = capped.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp.values.forall(_ == 7L) && byGrp.size == 4)
    import org.apache.spark.sql.expressions.Window
    val ref = df.withColumn("h", Sampling.hash24(col("id"), "graft"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("grp").orderBy(col("h"), col("id"))))
      .where(col("rn") <= 7).select("grp", "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(capped.collect().map(r => (r.getString(0), r.getLong(1))).toSet == ref)
  }

  test("CountMin sketch: never underestimates, heavy keys within eps*N") {
    import graft.functions.CountMin
    // skewed stream: two heavy keys over a long uniform tail, spread over
    // partitions so map-side partial sketches must merge
    val data = (Seq.fill(500)(1L) ++ Seq.fill(200)(2L) ++
      (0L until 5000L).map(i => 1000L + i))
    val df = data.toDF("k").repartition(8).select(xxhash64(col("k")).as("h"))
    val depth = 4; val width = 1024
    val table = df.select(CountMin.sketch(depth, width)(col("h")).as("t"))
      .collect()(0).getSeq[Long](0).toArray
    val n = data.size
    val hashes = Seq(1L, 2L, 999999L).toDF("k")
      .select(col("k"), xxhash64(col("k")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def est(k: Long) = CountMin.estimate(table, depth, width, hashes(k))
    assert(est(1L) >= 500L && est(1L) <= 500L + (0.02 * n).toLong)
    assert(est(2L) >= 200L && est(2L) <= 200L + (0.02 * n).toLong)
    assert(est(999999L) <= (0.02 * n).toLong) // absent key: only collision mass
    assert(table.grouped(width).map(_.sum).toSet == Set(n.toLong)) // each row sums to N
  }

  test("CountMin sketch aggregates over a stream (complete mode)") {
    import graft.functions.CountMin
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val sdf = mem.toDF().select(xxhash64(col("value")).as("h"))
    val agg = sdf.agg(CountMin.sketch(2, 256)(col("h")).as("t"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("cms_out").start()
    try {
      mem.addData(Seq.fill(50)(7L): _*)
      q.processAllAvailable()
      mem.addData(Seq.fill(30)(7L) ++ (0L until 100L): _*)
      q.processAllAvailable()
      val table = spark.table("cms_out").collect()(0)
        .getSeq[Long](0).toArray
      val h7 = Seq(7L).toDF("k").select(xxhash64(col("k")))
        .collect()(0).getLong(0)
      val est = CountMin.estimate(table, 2, 256, h7)
      // true count of 7L = 50 + 30 + one more inside 0..99 = 81
      assert(est >= 81L && est <= 81L + 100L) // >= true count, bounded noise
    } finally q.stop()
  }

  test("facade: tracksKml renders the DAC weekly KML; graphUrl delegates") {
    import graft.api.GliderAnalytics
    val obs = Seq(
      ("ds1", Timestamp.valueOf("2024-01-01 00:00:00"), 39.5, -74.2),
      ("ds1", Timestamp.valueOf("2024-01-01 01:00:00"), 39.6, -74.1)
    ).toDF("dataset_id", "time", "latitude", "longitude")
    val ga = GliderAnalytics(obs)
    val tmp = java.nio.file.Files.createTempDirectory("kml2").resolve("w.kml")
    ga.tracksKml(tmp.toString, "weekly",
      statusUrlTemplate = "https://x.test/s?id={id}")
    val kml = new String(java.nio.file.Files.readAllBytes(tmp), "UTF-8")
    assert(kml.contains("<name>weekly</name>") && kml.contains("<name>ds1</name>"))
    assert(kml.contains("https://x.test/s?id=ds1"))
    assert(ga.graphUrl("https://srv/e", "ds1", "time", "depth")
      .startsWith("https://srv/e/tabledap/ds1.png?time,depth&"))
  }

  test("BM25: term-rich docs rank first, non-matching docs excluded") {
    import graft.operators.Ranking
    val df = Seq(
      (1L, "spark spark spark join window fast engine"),
      (2L, "spark join appears here once only today friend"),
      (3L, "completely unrelated text with no query words"),
      (4L, "window window functions in a query engine")
    ).toDF("doc_id", "text")
    val r = Ranking.bm25(df, "doc_id", "text", Seq("spark", "join", "window"))
      .collect()
    assert(r.map(_.getLong(0)).toSet == Set(1L, 2L, 4L)) // doc 3 excluded
    assert(r.head.getLong(0) == 1L) // most matches ranks first
    assert(r.map(_.getAs[Double]("score")).sliding(2).forall(p => p(0) >= p(1)))
    val top1 = Ranking.bm25(df, "doc_id", "text", Seq("spark"), topK = 1)
    assert(top1.count() == 1 && top1.collect()(0).getLong(0) == 1L)
  }

  test("BM25 over 3 verbatim copies of sf0.001: the top 15 are the 1x top " +
    "5's docs, each as 3 copies tied at one score") {
    import graft.operators.Ranking
    val d1 = graft.sources.Tables.documents(spark, Sf0001)
      .select("doc_id", "text")
    val terms = Seq("spark", "join", "window")
    val top5 = Ranking.bm25(d1, "doc_id", "text", terms, topK = 5)
      .select("doc_id").as[Long].collect().toSet
    // tf and avgdl stay, N and every df triple: idf keeps its order
    val byBase = Ranking.bm25(Scale.copies(d1, "doc_id", 3), "doc_id", "text", terms,
        topK = 15)
      .select((col("doc_id") % Scale.Salt).as("base"), col("score")).as[(Long, Double)]
      .collect().groupBy(_._1)
    assert(top5.size == 5 && byBase.keySet == top5, s"${byBase.keySet} vs $top5")
    assert(byBase.values.forall(rs => rs.length == 3 && rs.map(_._2).distinct.length == 1))
  }

  test("PII scrub replaces emails and phones, counts match") {
    import graft.operators.TextStats
    val df = Seq(
      (1L, "mail me at jane.doe+spam@corp.example.org or call +1 (555) 010-4242 now"),
      (2L, "no pii here at all")
    ).toDF("id", "text")
    val out = df.select(col("id"), TextStats.scrubPii(col("text")).as("clean"),
        TextStats.emailCount(col("text")).as("ne"),
        TextStats.phoneCount(col("text")).as("np"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("clean") ==
      "mail me at <EMAIL> or call <PHONE> now")
    assert(out(1L).getAs[Long]("ne") == 1L && out(1L).getAs[Long]("np") == 1L)
    assert(out(2L).getAs[String]("clean") == "no pii here at all")
    assert(out(2L).getAs[Long]("ne") == 0L && out(2L).getAs[Long]("np") == 0L)
  }

  test("streaming training-data pipeline: scrub -> quality gate -> dedup") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val sdf = mem.toDF().toDF("ts", "text")
    // the batch operators compose unchanged on a stream: PII scrub and
    // quality scoring are stateless projections, dedup is watermark-bounded
    val cleaned = sdf
      .withColumn("clean", graft.operators.TextStats.scrubPii(col("text")))
      .withColumn("quality", graft.operators.TextStats.qualityScore(col("clean")))
      .where(col("quality") >= 0.3)
    val out = StreamDedup.dedupByFingerprint(cleaned, "clean", "ts", "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("pipe_out").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"),
          "the quick brown fox is a perfectly good training document"),
        (Timestamp.valueOf("2024-01-01 10:01:00"),
          "The QUICK brown fox is a perfectly good training document"), // dup
        (Timestamp.valueOf("2024-01-01 10:02:00"), "!!!! ### $$$ 123"), // junk
        (Timestamp.valueOf("2024-01-01 10:03:00"),
          "a clean doc but mail me at a.b@c.example please today"))
      q.processAllAvailable()
      val got = spark.table("pipe_out").collect()
      assert(got.length == 2) // dup suppressed, junk quality-gated
      val texts = got.map(_.getAs[String]("clean"))
      assert(texts.exists(_.contains("<EMAIL>")) &&
        !texts.exists(_.contains("a.b@c.example")))
    } finally q.stop()
  }

  test("streaming dedup: within-watermark duplicates dropped (q_d1 semantics)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val sdf = mem.toDF().toDF("ts", "text")
    val out = StreamDedup.dedupByFingerprint(sdf, "text", "ts", "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), "The quick brown fox!"),
        (Timestamp.valueOf("2024-01-01 10:01:00"), "the QUICK brown fox"),
        (Timestamp.valueOf("2024-01-01 10:02:00"), "something else"))
      q.processAllAvailable()
      // later micro-batch, still within the watermark horizon → suppressed
      mem.addData((Timestamp.valueOf("2024-01-01 10:03:00"), "the quick brown fox"))
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect()
      assert(got.length == 2)
      assert(got.map(_.getAs[String]("text")).toSet ==
        Set("The quick brown fox!", "something else"))
      // batch equivalence: distinct normalized fingerprints == survivors
      val batchDistinct = Seq("The quick brown fox!", "the QUICK brown fox",
          "something else", "the quick brown fox").toDF("text")
        .select(TextStats.fingerprint(col("text"))).distinct().count()
      assert(batchDistinct == got.length)
    } finally q.stop()
  }
}
