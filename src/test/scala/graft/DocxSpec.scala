package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocumentSources, DocxCodec}

class DocxSpec extends AnyFunSuite {

  test("committed docx fixtures are byte-identical to the generator") {
    DocxFixtures.all.foreach { case (name, bytes) =>
      val p = java.nio.file.Paths.get(Checkout.fixture(s"docx/$name"))
      assert(java.nio.file.Files.exists(p),
        s"missing fixture $name — run Test/runMain graft.GenDocxFixtures fixtures/docx")
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(p), bytes),
        s"fixture $name drifted from the generator")
    }
  }

  test("paragraph extraction: runs merge, tab-stop defs ignored, entities, tables") {
    val ps = DocxCodec.extractParagraphs(DocxFixtures.manualDocx)
    assert(ps == Seq(
      0 -> "Title of the doc", // w:tabs tab-STOP def must not emit \t
      1 -> "Bold and plain & entities <ok>", // run split invisible, entities decoded
      // idx 2 is the empty <w:p/> — dropped, index gap stays
      3 -> "Col A\tCol B\nline two", // in-run w:tab / w:br are chars
      4 -> "Café résumé", // decimal + hex character references
      5 -> "cell one", 6 -> "cell two")) // table-cell paragraphs
  }

  test("non-docx zip and non-zip payloads raise loudly") {
    // a valid zip without word/document.xml (e.g. an epub or plain
    // archive mislabeled .docx)
    val bo = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bo)
    z.putNextEntry(new java.util.zip.ZipEntry("foo.txt"))
    z.write("hello".getBytes("UTF-8")); z.closeEntry(); z.close()
    val e = intercept[IllegalArgumentException](
      DocxCodec.extractParagraphs(bo.toByteArray))
    assert(e.getMessage.contains("word/document.xml"))
    val e2 = intercept[IllegalArgumentException](
      DocxCodec.extractParagraphs("not a zip".getBytes("UTF-8")))
    assert(e2.getMessage.contains("word/document.xml"))
  }

  test("readDocx lands paragraph rows with stable provenance ids") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = DocumentSources.readDocx(spark, Checkout.fixture("docx/*.docx"))
      .orderBy($"doc_id")
      .select($"doc_id", $"text").as[(String, String)].collect().toSeq
    assert(rows == Seq(
      "manual_p0" -> "Title of the doc",
      "manual_p1" -> "Bold and plain & entities <ok>",
      "manual_p3" -> "Col A\tCol B\nline two",
      "manual_p4" -> "Café résumé",
      "manual_p5" -> "cell one",
      "manual_p6" -> "cell two",
      "report_p0" -> "Quarterly report."))
  }
}
