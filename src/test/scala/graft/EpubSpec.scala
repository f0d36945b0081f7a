package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocumentSources, EpubCodec}

class EpubSpec extends AnyFunSuite {

  test("committed epub fixture is byte-identical to the generator") {
    EpubFixtures.all.foreach { case (name, bytes) =>
      val p = java.nio.file.Paths.get(Checkout.fixture(s"epub/$name"))
      assert(java.nio.file.Files.exists(p),
        s"missing fixture $name — run Test/runMain graft.GenEpubFixtures fixtures/epub")
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(p), bytes),
        s"fixture $name drifted from the generator")
    }
  }

  test("spine order drives extraction; nav/images in manifest only are skipped") {
    val s = EpubCodec.extractSections(EpubFixtures.epub())
    assert(s == Seq(
      (0, "text/chapter2.xhtml", "Chapter Two",
        "Two Second chapter comes first in the spine & proves order."),
      (1, "text/chapter1.xhtml", "Chapter One", "First chapter text.")))
  }

  test("missing container raises loudly") {
    val bo = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bo)
    z.putNextEntry(new java.util.zip.ZipEntry("mimetype"))
    z.write("application/epub+zip".getBytes("US-ASCII")); z.closeEntry(); z.close()
    val e = intercept[IllegalArgumentException](
      EpubCodec.extractSections(bo.toByteArray))
    assert(e.getMessage.contains("container.xml"))
  }

  test("readEpub lands spine rows with title/href metadata") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = DocumentSources.readEpub(spark, Checkout.fixture("epub/*.epub"))
      .orderBy($"doc_id")
      .select($"doc_id", $"text", $"metadata"("title"), $"metadata"("href"))
      .as[(String, String, String, String)].collect().toSeq
    assert(rows == Seq(
      ("book_s0", "Two Second chapter comes first in the spine & proves order.",
        "Chapter Two", "text/chapter2.xhtml"),
      ("book_s1", "First chapter text.", "Chapter One", "text/chapter1.xhtml")))
  }
}
