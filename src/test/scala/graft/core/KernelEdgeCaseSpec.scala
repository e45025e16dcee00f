package graft.core

import graft.core.assemble.TextAssembler
import graft.core.html.{BlockSegmenter, HtmlTokenizer}
import graft.core.html.HtmlTokenizer.{EndTag, StartTag, Text}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.scalatest.funsuite.AnyFunSuite

/** Corner cases of the kernel's fast paths, pinned to the behaviour of the
  * straightforward implementations they replaced: tag names that are not
  * plain ASCII, Unicode case folding in close tags, text that leaves
  * Latin-1 mid-block, link runs at the fission threshold, blocks that
  * normalize to nothing, and the charset sniff's regex semantics. */
class KernelEdgeCaseSpec extends AnyFunSuite {

  private def seg(html: String) = BlockSegmenter.segmentDirect(html)

  test("non-ASCII tag names are lowercased copies; inline, so they do not split blocks") {
    assert(HtmlTokenizer.tokenize("<CAF\u00C9 class=x>hi</caf\u00E9>") ==
      Seq(StartTag("caf\u00E9", Map("class" -> "x"), selfClosing = false), Text("hi"), EndTag("caf\u00E9")))
    assert(seg("<p>one <CAF\u00C9>two</caf\u00E9> three</p>").map(_.text) == Vector("one two three"))
  }

  test("tag names that case-fold onto a known tag are that tag; a foreign first char is not") {
    // regionMatches(ignoreCase) folds İ (U+0130) onto i
    assert(HtmlTokenizer.tokenize("<D\u0130V>a</d\u0130v>") == Seq(StartTag("div", Map.empty, false), Text("a"), EndTag("div")))
    assert(seg("<p>one</p><d\u0130v>two</d\u0130v>").map(_.text) == Vector("one", "two"))
    // the first char picks the table cell by Character.toLowerCase: ſ (U+017F) stays ſ
    assert(HtmlTokenizer.tokenize("<\u017Fcript>x</\u017Fcript>") ==
      Seq(StartTag("\u017Fcript", Map.empty, false), Text("x"), EndTag("\u017Fcript")))
  }

  test("</\u017Fcript> and </scr\u0130pt> close a script (Unicode case folding)") {
    Seq("</\u017Fcript>", "</scr\u0130pt>", "</SCR\u0130PT >").foreach { close =>
      val html = s"<p>before words</p><script>var secret = 1;$close<p>after words</p>"
      assert(HtmlTokenizer.tokenize(html).collect { case Text(t) => t } == Seq("before words", "after words"), close)
      assert(seg(html).map(_.text) == Vector("before words", "after words"), close)
    }
  }

  test("an entity that turns a Latin-1 block into UTF-16 mid-block keeps text and spans") {
    val html = "<p>one two three four five six &mdash; seven eight \uFB01ne\u00A0nine ten eleven</p>"
    val b = seg(html)
    assert(b.map(_.text) == Vector("one two three four five six \u2014 seven eight \uFB01ne\u00A0nine ten eleven"))
    assert(b.head.words == 12) // NBSP is not whitespace to the word count
    val r = Extractor.default.extract("u", html.getBytes(UTF_8), "en")
    val want = "one two three four five six \u2014 seven eight fine nine ten eleven"
    assert(r.text == want + "\n")
    assert(r.spans == Vector(Span(0, want.length, BlockKind.Content)))
  }

  test("a link run of exactly fissionMinLinkRun words splits out; one word fewer does not") {
    val text = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val four = seg(s"<p>$text <a href=x>l1 l2 l3 l4</a> w11 w12</p>")
    assert(four.map(b => (b.text, b.words, b.linkWords)) ==
      Vector((text, 10, 0), ("l1 l2 l3 l4", 4, 4), ("w11 w12", 2, 0)))
    val three = seg(s"<p>$text <a href=x>l1 l2 l3</a> w11 w12</p>")
    assert(three.map(b => (b.words, b.linkWords)) == Vector((15, 3)))
    // a word is a link word when any of its chars is inside the anchor
    val partial = seg(s"<p>$text x<a href=x>l1 l2 l3 l4</a>y w11</p>")
    assert(partial.map(b => (b.text, b.words, b.linkWords)) ==
      Vector((text, 10, 0), ("xl1 l2 l3 l4y", 4, 4), ("w11", 1, 0)))
  }

  test("a block that normalizes to empty adds no separator and no span") {
    def block(t: String) = Block(t, 1, 0, "p", 1, isHeading = false, isLi = false, inBoilerContainer = false)
    val cfg = ExtractorConfig.default
    val kept = Seq(
      block("\u00AD \u200B") -> "content", // leading empty
      block("alpha  beta\n") -> "content",
      block(" \u00AD\u200C\uFEFF ") -> "content",
      block("ga\u00ADmma \uFB02\u2009x") -> BlockKind.Heading,
      block("\u200D") -> "content") // trailing empty
    assert(TextAssembler.assembleBlocks(kept, cfg, "en") ==
      ("alpha beta\n\ngamma fl x\n", Vector(Span(0, 10, "content"), Span(12, 22, BlockKind.Heading))))
    val rtl = Seq(block("\u200B") -> "content", block("\u05E9\u05DC\u05D5\u05DD  abc") -> "content")
    val vis = TextAssembler.bidiVisual("\u05E9\u05DC\u05D5\u05DD abc", rtlBase = true)
    assert(TextAssembler.assembleBlocks(rtl, cfg, "he") == (vis + "\n", Vector(Span(0, vis.length, "content"))))
    assert(TextAssembler.assembleBlocks(kept.take(1), cfg, "en") == ("", Vector.empty))
  }

  private def decoded(head: String, tail: Array[Byte]): String =
    Extractor.decode(head.getBytes(ISO_8859_1) ++ tail)

  private val quoteBytes = Array[Byte](0x93.toByte, 'x', 0x94.toByte)
  private val Cp1252 = "\u201Cx\u201D"
  private val Utf8 = "\uFFFDx\uFFFD"

  test("charset sniff: case, labels, whitespace and quotes") {
    assert(decoded("<meta CHARSET=\"WINDOWS-1252\">", quoteBytes).endsWith(Cp1252))
    assert(decoded("<meta ChArSeT='Latin1'>", quoteBytes).endsWith(Cp1252))
    assert(decoded("<meta charset=latin-1>", quoteBytes).endsWith(Cp1252))
    assert(decoded("<meta charset=iso-8859-1>", quoteBytes).endsWith(Cp1252))
    assert(decoded("<meta charset \t\n\u000B\f\r= \"windows-1252\">", quoteBytes).endsWith(Cp1252))
    assert(decoded("<meta charset=\"utf-8\">", quoteBytes).endsWith(Utf8))
    assert(decoded("<meta charset=\"koi8-r\">", quoteBytes).endsWith(Utf8))
    // \s is ASCII only: NBSP and U+001C do not separate
    assert(decoded("<meta charset\u00A0=latin1>", quoteBytes).endsWith(Utf8))
    assert(decoded("<meta charset\u001C=latin1>", quoteBytes).endsWith(Utf8))
    // one optional quote, then the label at once
    assert(decoded("<meta charset=\" latin1\">", quoteBytes).endsWith(Utf8))
    assert(decoded("<meta charset=\"\"latin1\">", quoteBytes).endsWith(Utf8))
    // the label is the maximal [A-Za-z0-9_:.-] run
    assert(decoded("<meta charset=latin1;x>", quoteBytes).endsWith(Cp1252))
    assert(decoded("<meta charset=latin1x>", quoteBytes).endsWith(Utf8))
  }

  test("charset sniff: the first full match wins; a charset without a label does not stop the search") {
    assert(decoded("<meta name=\"charset\"><meta charset=\"latin1\">", quoteBytes).endsWith(Cp1252))
    assert(decoded("<meta content=\"text/html; charset=\"><meta charset=latin1>", quoteBytes).endsWith(Cp1252))
    assert(decoded("<meta charset=utf-8><meta charset=latin1>", quoteBytes).endsWith(Utf8))
    assert(decoded("<meta charset=windows-1252><meta charset=utf-8>", quoteBytes).endsWith(Cp1252))
  }

  test("charset sniff: only the first 1024 bytes count, and the label is cut there") {
    val decl = "charset=windows-1252"
    def at(pad: Int) = decoded(" " * pad + decl, quoteBytes)
    assert(at(1024 - decl.length).endsWith(Cp1252)) // ends exactly at byte 1024
    assert(at(1024 - decl.length + 2).endsWith(Utf8)) // label cut to "windows-12"
    assert(at(1024).endsWith(Utf8))
  }

  test("a UTF-8 BOM wins over any declared charset") {
    val bom = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)
    val s = Extractor.decode(bom ++ "<meta charset=windows-1252><p>caf\u00E9</p>".getBytes(UTF_8))
    assert(s == "<meta charset=windows-1252><p>caf\u00E9</p>")
  }

  test("charset sniff == the (?i) regex over the Latin-1 decoded head (5000 samples)") {
    val regex = java.util.regex.Pattern.compile("(?i)charset\\s*=\\s*[\"']?([A-Za-z0-9_:.-]+)")
    def reference(bytes: Array[Byte]): String = {
      val m = regex.matcher(new String(bytes, 0, math.min(bytes.length, 1024), ISO_8859_1))
      if (m.find()) m.group(1) else null
    }
    val parts = Array("charset", "CHARSET", "ChArSeT", "charse", "chars\u00E9t", "=", " ", "\t",
      "\n", "\u000B", "\f", "\r", "\u00A0", "\u001C", "\"", "'", "latin1", "LATIN-1", "iso-8859-1",
      "windows-1252", "utf-8", "x", ";", "_:.", "<meta ", ">", "\u0093", "\u00FF")
    val rng = new scala.util.Random(1024)
    (1 to 5000).foreach { k =>
      val sb = new StringBuilder(" " * (if (rng.nextInt(4) == 0) 990 + rng.nextInt(40) else 0))
      (0 until rng.nextInt(16)).foreach(_ => sb ++= parts(rng.nextInt(parts.length)))
      val bytes = sb.toString.getBytes(ISO_8859_1) ++ quoteBytes
      val label = reference(bytes)
      val cp1252 = label != null &&
        Set("iso-8859-1", "latin1", "latin-1", "windows-1252")(label.toLowerCase)
      assert(Extractor.decode(bytes) ==
        new String(bytes, if (cp1252) java.nio.charset.Charset.forName("windows-1252") else UTF_8),
        s"sample $k: label=$label")
    }
  }
}
