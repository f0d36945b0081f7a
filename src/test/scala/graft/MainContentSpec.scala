package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MainContent

class MainContentSpec extends AnyFunSuite {

  test("committed htmlmain fixtures are byte-identical to the generator") {
    HtmlMainFixtures.all.foreach { case (name, text) =>
      val p = java.nio.file.Paths.get(Checkout.fixture(s"htmlmain/$name"))
      assert(java.nio.file.Files.exists(p),
        s"missing fixture $name — run Test/runMain graft.GenHtmlMainFixtures fixtures/htmlmain")
      assert(new String(java.nio.file.Files.readAllBytes(p), "UTF-8") == text,
        s"fixture $name drifted from the generator")
    }
  }

  test("portal page: chrome dropped, article kept, headings belong to sections") {
    val got = MainContent.extractBlocks(HtmlMainFixtures.PortalHtml)
    assert(got == Seq(
      "The Migration of Monarch Butterflies",
      "Every autumn millions of monarch butterflies leave their breeding " +
        "grounds in southern Canada and fly nearly five thousand kilometres " +
        "to the oyamel fir forests of central Mexico.",
      "Short aside.",
      "The navigation skills of the monarch remain an active research " +
        "topic; the butterflies combine a time compensated sun compass with " +
        "a magnetic backup sense, and no single individual survives the " +
        "full round trip.",
      "Conservation status",
      "Logging pressure on the wintering forests &amp; the loss of milkweed " +
        "corridors along the migration route have reduced the eastern " +
        "population by more than eighty percent since the nineteen nineties."))
  }

  test("blocks: segmentation, link density, chrome flags") {
    val bs = MainContent.blocks(HtmlMainFixtures.PortalHtml)
    // header/nav/aside/footer content is flagged chrome
    assert(bs.filter(_.chrome).map(_.text).exists(_.contains("MegaCorp Portal")))
    assert(bs.filter(_.chrome).exists(_.text.contains("Copyright 2026")))
    // the cookie banner is NOT chrome (a plain div) but is link-heavy+short
    val banner = bs.find(_.text.startsWith("We use cookies")).get
    assert(!banner.chrome && banner.words < 8 && banner.linkWords > 0)
    // the related-stories list items carry 100% link density
    val li = bs.find(_.text == "Related story one").get
    assert(li.linkWords == li.words)
  }

  test("head/script/style/comment subtrees never leak text") {
    val html = "<html><head><title>T</title></head><body><!-- c --><script>" +
      "var h = \"<h1>no</h1>\";</script><p>Real paragraph with more than " +
      "eight words inside it for the gate.</p></body></html>"
    assert(MainContent.extract(html) ==
      "Real paragraph with more than eight words inside it for the gate.")
  }

  test("pages with no qualifying block extract to empty (caller falls back)") {
    assert(MainContent.extract("<p>Too short.</p>") == "")
    assert(MainContent.extract("") == "")
    // all-chrome page
    assert(MainContent.extract(
      "<nav>A very long navigation bar with far more than eight words of " +
        "link text inside it</nav>") == "")
  }

  test("close-tag boundary: </styles> does not terminate a <style> subtree") {
    val html = "<body><style>.c{}</styles> p{color:red}</style>" +
      "<p>Honest article text with well over eight words of real " +
      "content for the block gate.</p></body>"
    val out = MainContent.extract(html)
    assert(out.contains("Honest article text"))
    assert(!out.contains("color:red") && !out.contains("</styles>"))
  }

  test("unquoted attr ending in slash is not self-closing: anchor depth holds") {
    // <a href=/x/> must still open the anchor — its text is link text
    val html = "<body><p><a href=/news/>Read the rest of this story on " +
      "our portal pages now</a></p><p>Second paragraph has more than " +
      "eight honest words of plain article content here.</p></body>"
    val bs = MainContent.blocks(html)
    val linky = bs.find(_.text.startsWith("Read the rest")).get
    assert(linky.linkWords == linky.words) // all words inside the <a>
    // XML-style voids still self-close: <br/> must not push depth
    val voids = MainContent.blocks("<body><p>alpha<br/>beta gamma</p></body>")
    assert(voids.exists(_.text.contains("beta")))
  }

  test("malformed markup is tolerated: unbalanced tags, stray <, missing close") {
    val html = "<div>An unclosed paragraph that still has more than eight " +
      "words of honest text in it <p>and a stray < angle plus another " +
      "dozen words to keep the block mass high enough"
    val out = MainContent.extract(html)
    assert(out.contains("unclosed paragraph"))
    assert(out.contains("< angle"))
  }
}
