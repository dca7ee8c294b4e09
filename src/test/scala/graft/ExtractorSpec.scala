package graft

import graft.extract.{Blocks, Classifier, Extractor, Spans, PayloadException}
import graft.fixtures.PageHtml
import graft.html.Tokenizer
import graft.model.Span
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Pure-core unit tests — the analog of the reference's
  * test/test_ocr_engine.py + test/test_kafka_models.py: pinned golden
  * strings for the extraction operator, tolerance/totality contracts,
  * 3-way error routing.
  */
class ExtractorSpec extends AnyFunSuite {

  private def checkProp(p: Prop, n: Int = 300): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def extractText(html: String): String =
    Extractor.extract("https://x/1", bytes(html), "en").toOption.get.extracted_text

  // --- reference behavior mirrors ------------------------------------

  test("multi-block join with single space, detector order (ocr_engine.py:63-64)") {
    val html = PageHtml.build(1, "alpha beta gamma", "en")
    assert(extractText(html) == "alpha beta gamma")
  }

  test("single word → no separator (test_ocr_engine.py:114-139)") {
    val html = PageHtml.build(2, "solo", "en")
    assert(extractText(html) == "solo")
  }

  test("garbage bytes → empty string, not error (test_ocr_engine.py:52-67)") {
    val r = Extractor.extract("https://x/g", PageHtml.garbageBytes(42), "en")
    assert(r == Right(graft.model.ExtractedDoc("https://x/g", "", Nil)))
  }

  test("empty input → empty string (test_ocr_engine.py:69-112)") {
    assert(Extractor.extract("https://x/e", Array.emptyByteArray, "en")
      .toOption.get.extracted_text == "")
    assert(extractText("<html><body></body></html>") == "")
  }

  test("null html → validation error; null/empty url → validation error") {
    assert(Extractor.extract("https://x/v", null, "en").swap.toOption.get.reason == "validation")
    assert(Extractor.extract(null, bytes("<p>x</p>"), "en").swap.toOption.get.reason == "validation")
    assert(Extractor.extract("", bytes("<p>x</p>"), "en").swap.toOption.get.reason == "validation")
  }

  test("corrupt payload → payload error (s3 fetch-failure analog)") {
    val html = PageHtml.build(19, "some words here", "en", corruptPayload = true)
    assert(Extractor.extract("https://x/p", bytes(html), "en").swap.toOption.get.reason == "payload")
  }

  test("lang-keyed stopword rescue: short prose kept iff it matches the page language") {
    val prose = "<p>this is the end of the story and it is good</p>"
    def withLang(html: String, lang: String): String =
      Extractor.extract("https://x/sw", bytes(html), lang).toOption.get.extracted_text
    // en prose + lang=en: rescued (stopword ratio 6/11 >= 1/6)
    assert(withLang(prose, "en") == "this is the end of the story and it is good")
    // same bytes, lang=de: de stopword table has no hits → dropped
    assert(withLang(prose, "de") == "")
    // unsupported lang: no table, densometric rules only → dropped
    assert(withLang(prose, "xx") == "")
    // de prose + lang=de: rescued
    assert(withLang("<p>das ist der anfang und das ende hier gut</p>", "de")
      == "das ist der anfang und das ende hier gut")
    // short stopword-free block: never rescued
    assert(withLang("<p>alpha beta gamma delta epsilon zeta eta</p>", "en") == "")
    // rescue is KEEP-only: a link-dense block with stopwords stays dropped
    assert(withLang("""<div><a href="/x">the end of the story is a good one and the rest</a></div>""", "en") == "")
  }

  test("well-formed payload with NUL text → unexpected error (3rd reason code)") {
    // valid base64 + valid magic, so NOT "payload" — the NUL trips the
    // span-text integrity invariant (reference's unexpected-error route,
    // /root/reference/test/test_kafka_consumer.py:160-195)
    val html = PageHtml.build(3, "some words here", "en", poisonPayload = true)
    assert(Extractor.extract("https://x/u", bytes(html), "en").swap.toOption.get.reason == "unexpected")
  }

  // --- span extractor -------------------------------------------------

  test("embedded pdf payload: text and byte offsets") {
    val html = PageHtml.build(10, "ten words of body text for the payload page ok", "en", withPayload = true)
    val raw = bytes(html)
    val doc = Extractor.extract("https://x/s", raw, "en").toOption.get
    assert(doc.spans.length == 1)
    val Span(kind, start, end, text) = doc.spans.head
    assert(kind == "pdf")
    assert(text == "embedded payload 10")
    // offsets point at the base64 body in the raw bytes
    val body = new String(java.util.Arrays.copyOfRange(raw, start.toInt, end.toInt), "US-ASCII")
    assert(new String(java.util.Base64.getDecoder.decode(body), "UTF-8") == "%GPDF\nembedded payload 10")
  }

  test("layout payload kind and multiple spans sorted by offset") {
    val b1 = PageHtml.payloadB64("pdf", "first")
    val b2 = PageHtml.payloadB64("layout", "second")
    val html = s"""<p>twenty words body ${Seq.fill(20)("w").mkString(" ")}</p>
      <object data="data:application/pdf;base64,$b1"></object>
      <embed src="data:application/x-layout;base64,$b2">"""
    val spans = Spans.extract(bytes(html))
    assert(spans.map(_.kind) == Seq("pdf", "layout"))
    assert(spans.map(_.text) == Seq("first", "second"))
    assert(spans(0).start < spans(1).start)
  }

  // --- tokenizer / dom tolerance --------------------------------------

  test("entities decoded; unknown entities left verbatim") {
    assert(Tokenizer.decodeEntities("a &amp; b &lt;c&gt; &#65; &#x42; &bogus; &uuml;") ==
      "a & b <c> A B &bogus; ü")
  }

  test("malformed markup degrades, never throws") {
    val cases = Seq(
      "<p>unclosed paragraph",
      "<p><b>nested <i>unclosed</p>",
      "plain < 5 stray angle",
      "<p attr=>empty attr</p>",
      "<p class='x\" id=y>quote soup</p>",
      "<<<>>><p>ok</p>",
      "<!-- unterminated comment <p>hidden</p>",
      "<script>var a = '<p>not text</p>';</script><p>" + Seq.fill(20)("w").mkString(" ") + "</p>")
    cases.foreach { c => Extractor.extract("https://x/m", bytes(c), "en") } // must not throw
    val kept = extractText("<script>var a = '<p>not text</p>';</script><p>" + Seq.fill(20)("w").mkString(" ") + "</p>")
    assert(kept == Seq.fill(20)("w").mkString(" "))
  }

  test("script/style/head content never leaks into text") {
    val html = PageHtml.build(3, Seq.fill(30)("tok").mkString(" "), "de")
    val out = extractText(html)
    assert(!out.contains("docId"))
    assert(!out.contains("color"))
    assert(!out.contains("Document"))
  }

  test("boilerplate nav/footer dropped, content kept (classifier golden)") {
    val text = (1 to 60).map(i => s"w$i").mkString(" ")
    val html = PageHtml.build(4, text, "en")
    assert(extractText(html) == text) // exact round trip, 3 paragraphs
    val out = extractText(html)
    assert(!out.contains("Navigation"))
    assert(!out.contains("imprint"))
    assert(!out.contains("copyright"))
  }

  test("br-run splits blocks; single br is a soft space") {
    val words = Seq.fill(20)("x").mkString(" ")
    assert(extractText(s"<p>$words<br>$words</p>") == s"$words $words")
    assert(extractText(s"<p>$words<br><br>$words</p>") == s"$words $words")
  }

  test("whitespace canonicalization: runs collapse, trimmed") {
    val html = "<p>  a\t\tb\n\nc   " + Seq.fill(17)("w").mkString(" ") + " </p>"
    assert(extractText(html) == "a b c " + Seq.fill(17)("w").mkString(" "))
  }

  test("charset sniff: meta charset latin-1 honored; utf-8 bom stripped content") {
    val latin = ("<html><head><meta charset=\"iso-8859-1\"></head><body><p>" +
      "café " + Seq.fill(20)("w").mkString(" ") + "</p></body></html>")
      .getBytes("ISO-8859-1")
    assert(Extractor.extract("u", latin, "fr").toOption.get.extracted_text.startsWith("café"))
  }

  // --- totality (E1 contract): never throw on arbitrary bytes ---------

  test("tokenizer+extractor total on arbitrary byte arrays (ScalaCheck)") {
    checkProp(Prop.forAll(Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bs =>
      val r = Extractor.extract("https://x/f", bs, "en")
      r.isRight || r.swap.toOption.get.reason != null
    })
  }

  test("extractor total on arbitrary strings rendered as html") {
    checkProp(Prop.forAll { (s: String) =>
      Extractor.extract("https://x/f2", bytes("<p>" + s + "</p>"), "en")
      true
    })
  }

  test("idempotence: extracting the extraction output (as html) is stable") {
    val text = (1 to 40).map(i => s"t$i").mkString(" ")
    val once = extractText(PageHtml.build(5, text, "en"))
    val twice = extractText(PageHtml.build(5, once, "en"))
    assert(once == twice && once == text)
  }
}
