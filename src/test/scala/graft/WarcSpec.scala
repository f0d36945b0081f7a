package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocumentSources, WarcCodec}

/** Byte-level coverage of the WARC parser and its committed fixtures —
  * the MediaSpec discipline: fixtures on disk must equal the generator's
  * bytes, and the codec must land on the hand-computed parse.
  */
class WarcSpec extends AnyFunSuite {
  import WarcFixtures._

  test("committed warc fixtures are byte-identical to the generator") {
    all.foreach { case (name, bytes) =>
      val p = java.nio.file.Paths.get(Checkout.fixture(s"warc/$name"))
      assert(java.nio.file.Files.exists(p),
        s"missing fixture $name — run Test/runMain graft.GenWarcFixtures fixtures/warc")
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(p), bytes),
        s"fixture $name drifted from the generator")
    }
  }

  test("revisit records: payload digest, bracket-stripped refers-to, empty body") {
    val p = java.nio.file.Paths.get(Checkout.fixture("warc-revisit/revisit.warc"))
    assert(java.nio.file.Files.exists(p),
      "missing fixture — run Test/runMain graft.GenWarcFixtures fixtures/warc")
    assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(p),
      WarcFixtures.revisitWarc), "revisit fixture drifted from the generator")
    val rs = graft.sources.WarcCodec.parseAll(WarcFixtures.revisitWarc)
    assert(rs.length == 4)
    assert(rs(0).recordType == "response" &&
      rs(0).payloadDigest == WarcFixtures.DigestA && rs(0).refersTo == "")
    assert(rs(1).payloadDigest == WarcFixtures.DigestB)
    val rv = rs(2)
    assert(rv.recordType == "revisit" && rv.body.isEmpty)
    assert(rv.payloadDigest == WarcFixtures.DigestA)
    assert(rv.refersTo == "urn:uuid:00000000-0000-0000-0000-0000000000a0")
    assert(rs(3).targetUri == "http://example.com/page") // unchanged recrawl
  }

  test("plain warc: record framing, types, bracket-stripped URI, HTTP split") {
    val rs = WarcCodec.parseAll(sampleWarc)
    assert(rs.map(_.recordType) ==
      Seq("warcinfo", "request", "response", "response", "resource", "response"))
    // warcinfo: no HTTP parse, WARC-level content type, whole block as body
    assert(rs(0).httpStatus == -1)
    assert(rs(0).contentType == "application/warc-fields")
    assert(new String(rs(0).body, "UTF-8") == WarcinfoBody)
    assert(rs(0).targetUri == "")
    // request: bracketed URI stripped; block kept whole (msgtype=request
    // blocks are not HTTP responses)
    assert(rs(1).targetUri == "http://example.com/index.html")
    assert(rs(1).httpStatus == -1)
    assert(new String(rs(1).body, "UTF-8") == RequestBody)
    // 200 HTML response: status + HTTP Content-Type win, body = HTTP body
    assert(rs(2).httpStatus == 200)
    assert(rs(2).contentType == "text/html; charset=UTF-8")
    assert(new String(rs(2).body, "UTF-8") == HtmlBody)
    // 404 keeps its parse
    assert(rs(3).httpStatus == 404)
    assert(new String(rs(3).body, "UTF-8") == NotFoundBody)
    // resource: WARC-level type, raw block
    assert(rs(4).httpStatus == -1)
    assert(rs(4).contentType == "text/plain")
    assert(new String(rs(4).body, "UTF-8") == ResourceBody)
    // non-text payload parses like any response
    assert(rs(5).httpStatus == 200)
    assert(rs(5).contentType == "image/png")
    assert(new String(rs(5).body, "UTF-8") == FakePngBody)
    // record ids surface
    assert(rs(2).recordId == "<urn:uuid:00000000-0000-0000-0000-000000000002>")
    assert(rs(2).warcDate == "2026-08-01T00:00:01Z")
  }

  test("gzip warc: concatenated members decompress; bare-LF HTTP headers parse") {
    val rs = WarcCodec.parseAll(sample2WarcGz)
    assert(rs.length == 2)
    assert(rs(0).httpStatus == 200)
    assert(rs(0).contentType == "text/plain; charset=utf-8")
    assert(new String(rs(0).body, "UTF-8") == GzTextBody)
    assert(rs(1).httpStatus == 200)
    assert(rs(1).contentType == "text/html")
    assert(new String(rs(1).body, "UTF-8") == GzHtmlBody)
  }

  test("HTTP wire decodings: chunked, gzip, chunked-over-gzip") {
    val rs = WarcCodec.parseAll(sample3Warc)
    assert(rs.map(_.httpStatus) == Seq(200, 200, 200))
    assert(new String(rs(0).body, "UTF-8") == ChunkedBody)
    assert(new String(rs(1).body, "UTF-8") == GzEncBody)
    assert(new String(rs(2).body, "UTF-8") == BothEncBody)
  }

  test("corrupt encoded bodies fall back to raw bytes, never throw") {
    val raw = "not actually gzip".getBytes("UTF-8")
    val rec = ("WARC/1.1\r\nWARC-Type: response\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${("HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n").length + raw.length}\r\n\r\n" +
      "HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n").getBytes("UTF-8") ++
      raw ++ "\r\n\r\n".getBytes("UTF-8")
    val rs = WarcCodec.parseAll(rec)
    assert(rs.length == 1 && new String(rs.head.body, "UTF-8") == "not actually gzip")
    // malformed chunk framing likewise keeps the raw bytes
    val badChunk = "zz\r\nbody".getBytes("UTF-8")
    val rec2 = ("WARC/1.1\r\nWARC-Type: response\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n").length + badChunk.length}\r\n\r\n" +
      "HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n").getBytes("UTF-8") ++
      badChunk ++ "\r\n\r\n".getBytes("UTF-8")
    assert(new String(WarcCodec.parseAll(rec2).head.body, "UTF-8") == "zz\r\nbody")
  }

  test("framing is Content-Length driven: a body containing WARC/1.1 lines does not split") {
    val tricky = "WARC/1.1\r\nWARC-Type: response\r\n\r\nnot a real record"
    val rec = ("WARC/1.1\r\nWARC-Type: resource\r\nContent-Type: text/plain\r\n" +
      s"Content-Length: ${tricky.getBytes("UTF-8").length}\r\n\r\n" +
      tricky + "\r\n\r\n").getBytes("UTF-8")
    val rs = WarcCodec.parseAll(rec)
    assert(rs.length == 1)
    assert(new String(rs.head.body, "UTF-8") == tricky)
  }

  test("truncated record (Content-Length overrun) raises loudly") {
    val rec = ("WARC/1.1\r\nWARC-Type: resource\r\nContent-Length: 100\r\n\r\nshort")
      .getBytes("UTF-8")
    val e = intercept[IllegalArgumentException](WarcCodec.parseAll(rec))
    assert(e.getMessage.contains("overruns"))
  }

  test("missing Content-Length raises loudly") {
    val rec = "WARC/1.1\r\nWARC-Type: resource\r\n\r\nbody".getBytes("UTF-8")
    val e = intercept[IllegalArgumentException](WarcCodec.parseAll(rec))
    assert(e.getMessage.contains("Content-Length"))
  }

  test("readWarc lands one row per record with stable provenance") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = DocumentSources.readWarc(spark, Checkout.fixture("warc/*"))
      .orderBy($"warc_file", $"record_idx")
    val rows = df.select($"warc_file", $"record_idx", $"record_type",
      $"http_status").as[(String, Long, String, Long)].collect().toSeq
    assert(rows == Seq(
      ("sample", 0L, "warcinfo", -1L), ("sample", 1L, "request", -1L),
      ("sample", 2L, "response", 200L), ("sample", 3L, "response", 404L),
      ("sample", 4L, "resource", -1L), ("sample", 5L, "response", 200L),
      ("sample2", 0L, "response", 200L), ("sample2", 1L, "response", 200L),
      ("sample3", 0L, "response", 200L), ("sample3", 1L, "response", 200L),
      ("sample3", 2L, "response", 200L),
      ("sample4", 0L, "response", 200L), ("sample4", 1L, "response", 200L),
      ("sample4", 2L, "response", 200L), ("sample4", 3L, "response", 200L),
      ("sample4", 4L, "response", 200L), ("sample5", 0L, "response", 200L)))
  }

  test("readWarcDocuments mainContent=true: chrome dropped, short pages fall back") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = DocumentSources
      .readWarcDocuments(spark, Checkout.fixture("warc/*"), mainContent = true)
      .select($"doc_id", $"text").as[(String, String)].collect().toMap
    // the chrome page keeps only the article (title/nav/banner/footer gone)
    assert(docs("sample5_r0") ==
      "Widget care guide A widget lasts for decades when it is cleaned " +
        "gently, stored dry, and kept away from direct sunlight at all " +
        "times. Never oil the bearing.")
    // short pages with no qualifying block keep their full flatten
    assert(docs("sample_r2") == "T Crawl Doc First &amp; second.")
    assert(docs("sample4_r0") == "Café naïve déjà vu à Zürich ©1999")
    // non-HTML payloads are untouched
    assert(docs("sample3_r0") == "Wikipedia in chunks.")
  }

  test("charset resolution: declared, meta prescan, utf-8 sniff, 1252 fallback") {
    val rs = WarcCodec.parseAll(sample4Warc)
    assert(WarcCodec.decodeBody(rs(0).contentType, rs(0).body) == Latin1Body)
    assert(WarcCodec.decodeBody(rs(1).contentType, rs(1).body) == Cp1252Body)
    assert(WarcCodec.decodeBody(rs(2).contentType, rs(2).body) == Utf8SniffBody)
    assert(WarcCodec.decodeBody(rs(3).contentType, rs(3).body) == FallbackBody)
    // declared charset wins over any sniff
    assert(WarcCodec.resolveCharset("text/plain; charset=utf-8",
      Array[Byte]()).name == "UTF-8")
    // the iso-8859-1 label maps to windows-1252 (WHATWG)
    assert(WarcCodec.resolveCharset("text/html; charset=ISO-8859-1",
      Array[Byte]()).name == "windows-1252")
    // unknown label falls through to the content sniff
    assert(WarcCodec.resolveCharset("text/plain; charset=bogus-enc",
      "plain".getBytes("UTF-8")).name == "UTF-8")
    // meta prescan only applies to HTML-ish payloads
    val metaBytes = "<meta charset=\"utf-8\">café".getBytes("ISO-8859-1")
    assert(WarcCodec.resolveCharset("text/html", metaBytes).name == "UTF-8")
    assert(WarcCodec.resolveCharset("text/plain", metaBytes).name == "windows-1252")
    // malformed bytes under the RESOLVED charset replace, never throw
    val bad = Array[Byte](0x41, 0xC3.toByte) // truncated UTF-8, declared utf-8
    assert(WarcCodec.decodeBody("text/plain; charset=utf-8", bad) == "A�")
    // a BOM outranks even the declared charset (WHATWG step 0) and is
    // consumed, not emitted
    val rs4 = WarcCodec.parseAll(sample4Warc)
    assert(rs4(4).contentType == "text/plain; charset=iso-8859-1")
    assert(WarcCodec.decodeBody(rs4(4).contentType, rs4(4).body) == BomBody)
    val utf8bom = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      "bom stripped".getBytes("UTF-8")
    assert(WarcCodec.decodeBody("text/html; charset=windows-1252", utf8bom) ==
      "bom stripped")
    val utf16be = Array(0xFE.toByte, 0xFF.toByte) ++
      "big".getBytes("UTF-16BE")
    assert(WarcCodec.decodeBody(null, utf16be) == "big")
  }

  test("parseStream reads records incrementally off a gzip stream") {
    // the decompressed archive is never buffered whole: parseStream
    // consumes a GZIPInputStream directly (concatenated members)
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(sample2WarcGz))
    val rs = WarcCodec.parseStream(in)
    assert(rs.map(_.targetUri) ==
      Seq("https://example.org/a", "https://example.org/b"))
  }

  test("streaming WARC ingest: drop-directory archives merge into the store, stream ≡ batch") {
    val spark = TestSpark.spark
    import java.nio.file.Files
    val in = Files.createTempDirectory("warc-in").toString
    val store = Files.createTempDirectory("warc-store").toString + "/t"
    val ckpt = Files.createTempDirectory("warc-ckpt").toString
    val emb = graft.embed.HashEmbedder(16)
    val q = graft.streaming.IncrementalIngest.startWarcIngest(
      spark, in, store, emb, 64, 0, ckpt)
    try {
      // batch 1: the plain archive arrives
      Files.write(java.nio.file.Paths.get(in, "sample.warc"), sampleWarc)
      q.processAllAvailable()
      val n1 = graft.ops.VersionedStore.read(spark, store).get.count()
      assert(n1 > 0)
      // batch 2: the gz archive + a RE-DELIVERED copy of batch 1's
      // archive (crawlers re-deliver on retry; content dedup holds)
      Files.write(java.nio.file.Paths.get(in, "sample2.warc.gz"), sample2WarcGz)
      Files.write(java.nio.file.Paths.get(in, "resend.warc"), sampleWarc)
      q.processAllAvailable()
      val got = graft.ops.VersionedStore.read(spark, store).get
        .select("text").collect().map(_.getString(0)).toSet
      // ≡ batch: the same chunks the batch front door + splitter produce
      val batchDocs = graft.sources.DocumentSources.readWarcDocuments(
        spark, s"$in/*")
      val expected = graft.ops.Split.chunkDocs(batchDocs, "doc_id", "text",
          t => graft.ops.Split.recursive(t, 64, 0))
        .select("chunk_text").collect().map(_.getString(0)).toSet
      assert(got == expected, "streamed store content must equal the batch extraction")
    } finally q.stop()
  }

  test("readWarcDocuments: 2xx text/html records only, readHtml flattening") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = DocumentSources
      .readWarcDocuments(spark, Checkout.fixture("warc/*"))
      .orderBy($"doc_id")
    val got = docs.select($"doc_id", $"text", $"metadata"("url"))
      .as[(String, String, String)].collect().toSeq
    assert(got == Seq(
      ("sample2_r0", "gzip member one payload — naïve café ✓", "https://example.org/a"),
      ("sample2_r1", "LF-header parsing ok", "https://example.org/b"),
      ("sample3_r0", "Wikipedia in chunks.", "https://example.org/chunked"),
      ("sample3_r1", "gzipped body", "https://example.org/gzipped"),
      ("sample3_r2", "both encodings survive", "https://example.org/both"),
      ("sample4_r0", "Café naïve déjà vu à Zürich ©1999",
        "http://latin1.example.net/menu"),
      ("sample4_r1", "“Smart quotes” cost €99 — dash",
        "http://cp1252.example.net/quotes"),
      ("sample4_r2", "UTF-8 sniffed → café ✓", "http://utf8.example.net/plain"),
      ("sample4_r3", "résumé façade", "http://fallback.example.net/resume"),
      ("sample4_r4", "BOM wins übermäßig ✓", "http://bom.example.net/utf16"),
      ("sample5_r0", "Widget Portal Home Shop FAQ Accept our cookie policy " +
        "OK Widget care guide A widget lasts for decades when it is cleaned " +
        "gently, stored dry, and kept away from direct sunlight at all " +
        "times. Never oil the bearing. Copyright 2026 Widget Portal. Terms " +
        "of use apply worldwide.", "http://portal.example.com/widgets"),
      ("sample_r2", "T Crawl Doc First &amp; second.", "http://example.com/index.html"),
      ("sample_r4", "Plain resource text. Second line.", "http://example.com/readme.txt")))
  }
}
