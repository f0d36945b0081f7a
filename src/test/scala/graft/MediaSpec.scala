package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BmpCodec, WavCodec}

/** Byte-level coverage of the real media codecs and their committed
  * fixtures — the PdfSpec discipline: the fixtures on disk must equal
  * the deterministic generator's bytes, and the codecs must land on the
  * hand-computed decode of those bytes.
  */
class MediaSpec extends AnyFunSuite {

  test("committed media fixtures are byte-identical to the generator") {
    MediaFixtures.all.foreach { case (name, bytes) =>
      val p = java.nio.file.Paths.get(Checkout.fixture(s"media/$name"))
      assert(java.nio.file.Files.exists(p),
        s"missing fixture $name — run Test/runMain graft.GenMediaFixtures fixtures/media")
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(p), bytes),
        s"fixture $name drifted from the generator")
    }
  }

  test("WavCodec probes PCM16 mono/stereo and PCM8 exactly") {
    val tone = WavCodec.probe(MediaFixtures.toneWav)
    assert(tone == WavCodec.WavInfo(1, 8000, 16, 16, 2, 0.5, 0.5))
    val st = WavCodec.probe(MediaFixtures.stereoWav)
    assert(st == WavCodec.WavInfo(2, 4000, 16, 8, 2, 0.25, 0.25))
    val b8 = WavCodec.probe(MediaFixtures.byteWav)
    assert(b8 == WavCodec.WavInfo(1, 8000, 8, 8, 1, 0.5, 0.5))
    assert(WavCodec.windowRms(MediaFixtures.toneWav, 4).toSeq ==
      Seq(0.5, 0.5, 0.5, 0.5))
  }

  test("BmpCodec decodes 24bpp with row padding and bottom-up order") {
    val (info, px) = BmpCodec.pixels(MediaFixtures.halvesBmp)
    assert(info.width == 4 && info.height == 2)
    assert(info.meanR == 127.5 && info.meanG == 127.5 && info.meanB == 127.5)
    // top-left pixel must be the TOP row's (bottom-up storage inverted)
    assert(px(0) == ((0, 0, 0)) && px(3) == ((255, 255, 255)))
    assert(BmpCodec.gridLuma(MediaFixtures.halvesBmp, 2).toSeq ==
      Seq(0.0, 255.0, 0.0, 255.0))
    val (rgb, rpx) = BmpCodec.pixels(MediaFixtures.rgbBmp)
    assert(rgb.width == 3 && rgb.height == 1)
    assert(rpx.toSeq == Seq((255, 0, 0), (0, 255, 0), (0, 0, 255)))
    assert(rgb.meanR == 85.0 && rgb.meanG == 85.0 && rgb.meanB == 85.0)
  }

  test("CodecDecoder plugs the real codecs into the multimodal pipeline") {
    import TestSpark._
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val media = Seq(
      ("a1", "audio", MediaFixtures.toneWav),
      ("i1", "image", MediaFixtures.halvesBmp)
    ).toDF("media_id", "kind", "bytes")
    val feats = graft.ops.Multimodal
      .extractFeatures(media, graft.ops.Multimodal.CodecDecoder(4))
      .collect().map(r => r.getString(0) ->
        ((r.getSeq[Float](2), r.getMap[String, String](3)))).toMap
    assert(feats("a1")._1 == Seq(0.5f, 0.5f, 0.5f, 0.5f))
    assert(feats("a1")._2("sample_rate") == "8000" &&
      feats("a1")._2("duration_ms") == "2")
    assert(feats("i1")._1 == Seq(0f, 1f, 0f, 1f))
    assert(feats("i1")._2("width") == "4" && feats("i1")._2("height") == "2")
  }

  test("property: random PCM16/PCM8 round-trips generator -> codec exactly") {
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 20) {
      val channels = 1 + rnd.nextInt(2)
      val rate = 1000 + rnd.nextInt(47000)
      val frames = 1 + rnd.nextInt(64)
      val samples = Array.fill(frames * channels)(rnd.nextInt(65536) - 32768)
      val (info, decoded) = WavCodec.samples(
        MediaFixtures.wav16(channels, rate, samples))
      assert(info.channels == channels && info.sampleRate == rate &&
        info.bitsPerSample == 16 && info.nFrames == frames, s"trial $trial")
      assert(decoded.toSeq == samples.map(_ / 32768.0).toSeq, s"trial $trial")
      val s8 = Array.fill(frames)(rnd.nextInt(256))
      val (i8, d8) = WavCodec.samples(MediaFixtures.wav8(1, rate, s8))
      assert(i8.bitsPerSample == 8 && i8.nFrames == frames)
      assert(d8.toSeq == s8.map(v => (v - 128) / 128.0).toSeq, s"trial $trial")
    }
    // random 24bpp BMPs round-trip pixels through padding at every width
    for (w <- 1 to 6; h <- 1 to 3) {
      val px = Seq.tabulate(w * h)(i =>
        (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      val (info, got) = BmpCodec.pixels(MediaFixtures.bmp24(w, h, px))
      assert(info.width == w && info.height == h)
      assert(got.toSeq == px, s"dims ${w}x$h")
    }
  }

  test("dHash64: invariant to uniform brightness, sensitive to structure") {
    // brightness shift changes every raw byte but no gradient DIRECTION:
    // identical dHash; transposing the pattern flips many comparisons
    def gray(f: (Int, Int) => Int, w: Int = 18, h: Int = 16): Array[Byte] =
      MediaFixtures.bmp24(w, h, Seq.tabulate(w * h) { i =>
        val v = f(i % w, i / w); (v, v, v)
      })
    val base = gray((x, y) => ((x / 2 + y / 2) % 4) * 60)
    val brighter = gray((x, y) => ((x / 2 + y / 2) % 4) * 60 + 15)
    assert(BmpCodec.dHash64(base) == BmpCodec.dHash64(brighter))
    val ramp = gray((x, _) => x * 14)       // strictly increasing rows
    val rampRev = gray((x, _) => (17 - x) * 14)
    // monotone-decreasing rows: every within-row comparison flips
    assert(BmpCodec.dHash64(ramp) == 0L)
    assert(java.lang.Long.bitCount(BmpCodec.dHash64(rampRev)) == 64)
    // the committed near-dup plant: 2 bits of 64
    val d = java.lang.Long.bitCount(
      BmpCodec.dHash64(MediaFixtures.patternBmp) ^
        BmpCodec.dHash64(MediaFixtures.pattern2Bmp))
    assert(d == 2)
  }

  test("ImageCodec: magic-byte sniff, cross-format dHash identity, JPEG decode facts") {
    import graft.sources.ImageCodec
    // sniff decides the decoder — the payload, never the filename
    assert(ImageCodec.format(MediaFixtures.patternBmp) == "bmp")
    assert(ImageCodec.format(MediaFixtures.patternPng) == "png")
    assert(ImageCodec.format(MediaFixtures.photoJpg) == "jpeg")
    assert(ImageCodec.format("not an image".getBytes) == "unknown")
    intercept[IllegalArgumentException] { ImageCodec.dHash64("nope".getBytes) }
    // BMP payloads route through BmpCodec bit-for-bit
    assert(ImageCodec.dHash64(MediaFixtures.patternBmp) ==
      BmpCodec.dHash64(MediaFixtures.patternBmp))
    assert(ImageCodec.gridLuma(MediaFixtures.halvesBmp, 2).toSeq ==
      BmpCodec.gridLuma(MediaFixtures.halvesBmp, 2).toSeq)
    // a lossless PNG re-encode is the IDENTICAL hash — cross-format dedup
    assert(ImageCodec.dHash64(MediaFixtures.patternPng) ==
      BmpCodec.dHash64(MediaFixtures.patternBmp))
    assert(ImageCodec.probe(MediaFixtures.patternPng) ==
      ImageCodec.ImageInfo("png", 18, 16))
    // the planted JPEG near-dup: decode through javax.imageio lands on
    // exactly the 4 flipped top-left-cell bits (stripes align to JPEG
    // blocks, so decode noise is DC-quantization only)
    assert(ImageCodec.probe(MediaFixtures.photoJpg) ==
      ImageCodec.ImageInfo("jpeg", 144, 128))
    val d = java.lang.Long.bitCount(
      ImageCodec.dHash64(MediaFixtures.photoJpg) ^
        ImageCodec.dHash64(MediaFixtures.photo2Jpg))
    assert(d == 4, s"planted JPEG pair drifted to Hamming $d")
    // committed rendered fixtures decode to the same facts as the
    // generator's output (bytes may differ across encoder versions —
    // the semantic pin is what must hold)
    MediaFixtures.rendered.foreach { case (name, gen) =>
      val p = java.nio.file.Paths.get(Checkout.fixture(s"media/$name"))
      assert(java.nio.file.Files.exists(p),
        s"missing fixture $name — run Test/runMain graft.GenMediaFixtures fixtures/media")
      val committed = java.nio.file.Files.readAllBytes(p)
      assert(ImageCodec.dHash64(committed) == ImageCodec.dHash64(gen) &&
        ImageCodec.probe(committed) == ImageCodec.probe(gen),
        s"fixture $name decodes differently from the generator")
    }
  }

  test("activity: silence gate finds the active half of quiet.wav") {
    assert(WavCodec.activity(MediaFixtures.quietWav, 8, 0.01) == ((8, 4, 4, 4)))
    assert(WavCodec.activity(MediaFixtures.toneWav, 4, 0.01) == ((4, 4, 4, 0)))
    // fully silent: no active window, firstActive = -1
    val silent = MediaFixtures.wav16(1, 8000, Array.fill(8)(0))
    assert(WavCodec.activity(silent, 4, 0.01) == ((4, 0, 0, -1)))
    // threshold above the tone's amplitude: everything is "silence"
    assert(WavCodec.activity(MediaFixtures.toneWav, 4, 0.9) == ((4, 0, 0, -1)))
  }

  test("fingerprint64: exact volume invariance, spectral + envelope sensitivity") {
    def d(a: Array[Byte], b: Array[Byte]): Int =
      java.lang.Long.bitCount(
        WavCodec.fingerprint64(a) ^ WavCodec.fingerprint64(b))
    // gain scaling cancels exactly in every sign bit — Hamming 0, and
    // the stereo re-layout of the same waveform lands there too
    assert(d(MediaFixtures.toneWav, MediaFixtures.toneHalfWav) == 0)
    assert(d(MediaFixtures.toneWav, MediaFixtures.stereoWav) == 0)
    // the same tone with its first half silenced is NEAR (envelope
    // moved), the half-frequency square and the DC constant are FAR
    // (spectrum moved) — the separation the activity gate cannot see
    // (all three are 100% active at the 0.01 threshold)
    assert(d(MediaFixtures.toneWav, MediaFixtures.quietWav) == 5)
    assert(d(MediaFixtures.toneWav, MediaFixtures.sweepWav) == 25)
    assert(d(MediaFixtures.toneWav, MediaFixtures.byteWav) == 38)
    // arbitrary-gain property: scaling all samples by any positive
    // factor reproduces the fingerprint bit for bit
    val rnd = new scala.util.Random(11)
    val base = Array.tabulate(40)(_ => rnd.nextInt(8000) - 4000)
    val fp1 = WavCodec.fingerprint64(MediaFixtures.wav16(1, 8000, base))
    val fp3 = WavCodec.fingerprint64(MediaFixtures.wav16(1, 8000, base.map(_ * 3)))
    assert(fp1 == fp3)
  }

  test("audioFingerprintPairs: banded join lands the planted clusters") {
    import TestSpark._
    import spark.implicits._
    val media = graft.ops.Multimodal
      .readMediaDir(spark, Checkout.fixture("media/*.wav"), "audio")
    val exact = graft.ops.Multimodal
      .audioFingerprintPairs(media, "media_id", "bytes", maxHamming = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(exact == Set(("stereo.wav", "tone.wav", 0),
      ("stereo.wav", "tone_half.wav", 0), ("tone.wav", "tone_half.wav", 0)))
    // widening to 6 admits the half-silenced near-dups, nothing else
    val wide = graft.ops.Multimodal
      .audioFingerprintPairs(media, "media_id", "bytes", maxHamming = 6)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(wide.size == 6 && wide.count(_._3 == 5) == 3)
  }

  test("imageDHashPairs: banded join finds exactly the planted pair") {
    import TestSpark._
    import spark.implicits._
    val media = graft.ops.Multimodal
      .readMediaDir(spark, Checkout.fixture("media/*.bmp"), "image")
    val got = graft.ops.Multimodal
      .imageDHashPairs(media, "media_id", "bytes", maxHamming = 4, bands = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toList
    assert(got == List(("pattern.bmp", "pattern2.bmp", 2)))
    // widening the gate admits the hamming-5 low-detail pair too
    val wide = graft.ops.Multimodal
      .imageDHashPairs(media, "media_id", "bytes", maxHamming = 5, bands = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(wide.contains(("halves.bmp", "rgb.bmp", 5)) && wide.size == 2)
  }

  test("malformed payloads refuse loudly, never decode garbage") {
    intercept[IllegalArgumentException] {
      WavCodec.probe("not a wav at all".getBytes)
    }
    intercept[IllegalArgumentException] {
      BmpCodec.probe(Array[Byte](1, 2, 3))
    }
    // a float-format wav (format 3) must refuse, not misread PCM
    val f32 = MediaFixtures.wav16(1, 8000, Array(0, 0))
    f32(20) = 3 // audioFormat = 3 (IEEE float)
    val e = intercept[IllegalArgumentException] { WavCodec.probe(f32) }
    assert(e.getMessage.contains("PCM"))
    // an OVERSTATED data-chunk size (truncated download; also the u32 >=
    // 2^31 wrap that once looped the chunk walk) clamps and decodes the
    // available samples — the documented tolerance, and it terminates
    val trunc = MediaFixtures.wav16(1, 8000, Array.fill(8)(16384))
    java.util.Arrays.fill(trunc, 40, 44, 0xff.toByte) // data size = 2^32-1
    val info = WavCodec.probe(trunc)
    assert(info.nFrames == 8 && info.peak == 0.5)
  }

  test("PNG text chunks: tEXt latin-1, iTXt utf-8 both flags, zTXt, junk tolerated") {
    val p = java.nio.file.Paths.get(Checkout.fixture("pngmeta/meta.png"))
    assert(java.nio.file.Files.exists(p),
      "run Test/runMain graft.GenPngMetaFixtures fixtures/pngmeta")
    assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(p),
      MediaFixtures.metaPng), "fixture drifted from the generator")
    val tags = graft.sources.PngMeta.parse(MediaFixtures.metaPng)
    assert(tags == Seq("Title" -> "Diagonal ramp pattern",
      "Software" -> "graft png24", "Comment" -> "café ✓ utf-8 comment",
      "Description" -> "deflate compressed latin-1 æøå description",
      "Annotation" -> "compressed utf-8 ✓ annotation"))
    // the metadata splice never touches pixels: dHash is bit-identical
    assert(graft.sources.ImageCodec.dHash64(MediaFixtures.metaPng) ==
      graft.sources.ImageCodec.dHash64(MediaFixtures.patternPng))
    // chunk-free PNG and junk both yield no tags, never a throw
    assert(graft.sources.PngMeta.parse(MediaFixtures.patternPng).isEmpty)
    assert(graft.sources.PngMeta.parse("junk".getBytes).isEmpty)
    assert(graft.sources.PngMeta.parse(
      java.util.Arrays.copyOf(MediaFixtures.metaPng, 50)).length <= 1)
    // decompression-bomb guard: a zTXt inflating past the 1 MiB cap is
    // skipped (2 MiB of zeros deflates to ~2 KB — cheap to plant)
    val d = new java.util.zip.Deflater()
    d.setInput(new Array[Byte](2 << 20)); d.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!d.finished()) zbuf.write(tmp, 0, d.deflate(tmp))
    d.end()
    val payload = "Bomb".getBytes("ISO-8859-1") ++ Array[Byte](0, 0) ++
      zbuf.toByteArray
    val be = (v: Int) => Array(((v >>> 24) & 0xff).toByte,
      ((v >>> 16) & 0xff).toByte, ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    val crc = new java.util.zip.CRC32()
    crc.update("zTXt".getBytes("US-ASCII")); crc.update(payload)
    val bomb = be(payload.length) ++ "zTXt".getBytes("US-ASCII") ++
      payload ++ be(crc.getValue.toInt)
    val base = MediaFixtures.patternPng
    assert(graft.sources.PngMeta.parse(
      base.take(33) ++ bomb ++ base.drop(33)).isEmpty)
  }

  test("GIF/TIFF structural probes: frames, loop count, multi-page IFD chain") {
    import graft.sources.{GifCodec, ImageCodec, TiffCodec}
    val g = GifCodec.probe(MediaFixtures.animGif)
    assert(g == GifCodec.GifInfo(2, 1, 2, animated = true, loopCount = 3))
    assert(ImageCodec.format(MediaFixtures.animGif) == "gif")
    assert(ImageCodec.probe(MediaFixtures.animGif) ==
      ImageCodec.ImageInfo("gif", 2, 1))
    val t = TiffCodec.probe(MediaFixtures.twoPageTiff)
    assert(t == TiffCodec.TiffInfo("II", 8, 4, 2))
    assert(ImageCodec.format(MediaFixtures.twoPageTiff) == "tiff")
    assert(ImageCodec.probe(MediaFixtures.twoPageTiff) ==
      ImageCodec.ImageInfo("tiff", 8, 4))
    // malformed inputs are loud, never silent garbage
    intercept[IllegalArgumentException] {
      GifCodec.probe(java.util.Arrays.copyOf(MediaFixtures.animGif, 20))
    }
    intercept[IllegalArgumentException] { GifCodec.probe("junk".getBytes) }
    // TIFF IFD cycle: next-IFD pointing back at IFD0 must not loop
    val cyc = MediaFixtures.twoPageTiff.clone()
    // IFD0's next pointer sits at 8 + 2 + 8*12 = 106; point it at 8
    cyc(106) = 8; cyc(107) = 0; cyc(108) = 0; cyc(109) = 0
    val e = intercept[IllegalArgumentException] { TiffCodec.probe(cyc) }
    assert(e.getMessage.contains("cycle"))
  }

  test("EXIF: APP1 TIFF walk — IFD0, Exif IFD, GPS IFD, exact rationals") {
    val tags = graft.sources.ExifCodec.parse(MediaFixtures.photoExifJpg).toMap
    assert(tags("make") == "GraftCam" && tags("model") == "Mark II")
    assert(tags("orientation") == "6")
    assert(tags("exposure_time") == "1/250" && tags("f_number") == "28/10")
    assert(tags("iso") == "200")
    assert(tags("gps_latitude") == "48/1,51/1,2979/100")
    assert(tags("gps_longitude_ref") == "E")
    assert(graft.sources.ExifCodec.hasGps(MediaFixtures.photoExifJpg))
    // JFIF-only JPEGs (the JDK encoder's output) carry no EXIF
    assert(graft.sources.ExifCodec.parse(MediaFixtures.photoJpg).isEmpty)
    assert(!graft.sources.ExifCodec.hasGps(MediaFixtures.photoJpg))
  }

  test("EXIF strip: APP1 gone, pixels untouched, non-JPEG pass-through, junk tolerated") {
    val src = MediaFixtures.photoExifJpg
    val stripped = graft.sources.ExifCodec.stripExif(src)
    assert(graft.sources.ExifCodec.parse(stripped).isEmpty)
    assert(stripped.length < src.length)
    // the entropy-coded data never moved: decode is pixel-identical
    assert(graft.sources.ImageCodec.dHash64(stripped) ==
      graft.sources.ImageCodec.dHash64(src))
    assert(graft.sources.ImageCodec.probe(stripped).width ==
      graft.sources.ImageCodec.probe(src).width)
    // a no-EXIF JPEG strips to itself byte-for-byte
    assert(java.util.Arrays.equals(
      graft.sources.ExifCodec.stripExif(MediaFixtures.photoJpg),
      MediaFixtures.photoJpg))
    // non-JPEG payloads pass through; junk never throws
    val bmp = MediaFixtures.patternBmp
    assert(graft.sources.ExifCodec.stripExif(bmp) eq bmp)
    assert(graft.sources.ExifCodec.parse("junk".getBytes).isEmpty)
    val cut = java.util.Arrays.copyOf(src, 40) // truncated mid-APP1
    assert(graft.sources.ExifCodec.parse(cut).isEmpty)
    // stripExif honors the same contract: a segment length field that
    // overruns the buffer returns the ORIGINAL bytes, never throws
    assert(graft.sources.ExifCodec.stripExif(cut) eq cut)
    val badLen = src.clone() // corrupt the first segment's length field
    badLen(4) = 0xff.toByte; badLen(5) = 0xff.toByte
    assert(graft.sources.ExifCodec.stripExif(badLen) eq badLen)
  }
}
