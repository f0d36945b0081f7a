package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Mp3Codec, Mp4Codec}

/** MP3 frame-walk and MP4 box-walk probes against the committed
  * deterministic fixtures — the MediaSpec discipline.
  */
class AvSpec extends AnyFunSuite {

  test("committed av fixtures are byte-identical to the generator") {
    AvFixtures.all.foreach { case (name, bytes) =>
      val p = java.nio.file.Paths.get(Checkout.fixture(s"av/$name"))
      assert(java.nio.file.Files.exists(p),
        s"missing fixture $name — run Test/runMain graft.GenAvFixtures fixtures/av")
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(p), bytes),
        s"fixture $name drifted from the generator")
    }
  }

  test("mp3: CBR stream — version/layer/bitrate/rate/channels/frames/duration") {
    assert(Mp3Codec.probe(AvFixtures.cbrMp3) ==
      Mp3Codec.Mp3Info("MPEG1", 3, 128, 44100, 2, 10, 261, vbr = false))
  }

  test("mp3: ID3v2 tag skipped, VBR detected, first-frame nominal bitrate") {
    assert(Mp3Codec.probe(AvFixtures.vbrMp3) ==
      Mp3Codec.Mp3Info("MPEG1", 3, 128, 44100, 2, 6, 156, vbr = true))
  }

  test("mp3: MPEG2 mono half-rate frame geometry (576 samples/frame)") {
    assert(Mp3Codec.probe(AvFixtures.mono2Mp3) ==
      Mp3Codec.Mp3Info("MPEG2", 3, 64, 22050, 1, 8, 208, vbr = false))
  }

  test("mp3: trailing garbage after valid frames is tolerated, not counted") {
    val withTail = AvFixtures.cbrMp3 ++ "TAG-like trailer".getBytes("US-ASCII")
    assert(Mp3Codec.probe(withTail).frames == 10)
  }

  test("mp3: corrupt first frame raises loudly") {
    val e = intercept[IllegalArgumentException](
      Mp3Codec.probe("RIFFnot an mpeg stream".getBytes("US-ASCII")))
    assert(e.getMessage.contains("no MPEG audio frame"))
    // reserved version bits (0xE8 = sync + version 01) must not parse
    assert(intercept[IllegalArgumentException](
      Mp3Codec.probe(Array(0xff.toByte, 0xe8.toByte, 0x90.toByte, 0x00.toByte)))
      .getMessage.contains("no MPEG audio frame"))
  }

  test("mp3 sniff: ID3 prefix or frame sync, not WAV/random bytes") {
    assert(Mp3Codec.looksLikeMp3(AvFixtures.cbrMp3))
    assert(Mp3Codec.looksLikeMp3(AvFixtures.vbrMp3))
    assert(!Mp3Codec.looksLikeMp3(MediaFixtures.toneWav))
    assert(!Mp3Codec.looksLikeMp3("plain text".getBytes("US-ASCII")))
  }

  test("mp4: two-track v0 headers — brand, movie/track durations, handlers, codecs") {
    val i = Mp4Codec.probe(AvFixtures.clipMp4)
    assert(i.brand == "isom" && i.durationMs == 5000)
    assert(i.tracks == Seq(
      Mp4Codec.Mp4Track("soun", "mp4a", 5000),
      Mp4Codec.Mp4Track("vide", "avc1", 5000)))
  }

  test("mp4: version-1 (64-bit) mvhd/mdhd parse") {
    val i = Mp4Codec.probe(AvFixtures.clip2Mp4)
    assert(i.brand == "mp42" && i.durationMs == 2000)
    assert(i.tracks == Seq(Mp4Codec.Mp4Track("vide", "hvc1", 2000)))
  }

  test("mp4: non-BMFF payloads raise loudly; sniff rejects them") {
    val e = intercept[IllegalArgumentException](
      Mp4Codec.probe(AvFixtures.cbrMp3))
    assert(e.getMessage.contains("ftyp") || e.getMessage.contains("bad size"))
    assert(Mp4Codec.looksLikeMp4(AvFixtures.clipMp4))
    assert(!Mp4Codec.looksLikeMp4(AvFixtures.cbrMp3))
  }

  test("CodecDecoder.probe routes mp3 under audio and mp4 under video") {
    val dec = graft.ops.Multimodal.CodecDecoder()
    val m3 = dec.probe("audio", AvFixtures.vbrMp3)
    assert(m3("format") == "mp3" && m3("vbr") == "true" &&
      m3("duration_ms") == "156" && m3("bitrate_kbps") == "128")
    val wav = dec.probe("audio", MediaFixtures.toneWav)
    assert(wav("format") == "wav" && wav("sample_rate") == "8000")
    val m4 = dec.probe("video", AvFixtures.clipMp4)
    assert(m4("format") == "mp4" && m4("brand") == "isom" &&
      m4("tracks") == "soun:mp4a:5000,vide:avc1:5000")
  }
}
