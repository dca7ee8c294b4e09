package graft

import graft.extract.{Blocks, BlocksReference}
import graft.fixtures.{GoldenCases, PageHtml}
import graft.html.Tokenizer
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Differential gate for the fused hot path: Blocks.fromHtml must be
  * observationally identical to the test-scope tree reference
  * (BlocksReference: DOM build, then tree walk) — on the golden corpus,
  * the fixture templates, and arbitrary fuzzed markup.
  */
class BlocksFusionSpec extends AnyFunSuite {

  private def assertSame(s: String): Unit =
    assert(Blocks.fromHtml(s) == BlocksReference.blocks(s), s"fromHtml != tree for input: ${s.take(200)}")

  test("identical on all golden cases and fixture variants") {
    GoldenCases.cases.foreach { case (_, html, _) =>
      Tokenizer.decode(html).foreach(assertSame)
    }
    for (v <- 0 to 3; id <- Seq(0L, 7L, 40L, 999L))
      assertSame(PageHtml.build(id, (1 to 60).map("w" + _).mkString(" "), "en",
        withPayload = id % 10 == 0, variant = v))
  }

  test("identical on handcrafted br/implicit-close/skip edge cases") {
    Seq(
      "<p>a<br></p><br>b",                       // br run across an end tag
      "<br><br>x",
      "<p>a<br><script>s</script><br>b</p>",     // skip element between brs
      "<table><tr><td>x<td>y<tr><td>z</table>",  // implicit tr/td closes
      "<ul><li>a<li>b</ul>",
      "<p>a<p>b<div>c",                          // p implicit closes + unclosed
      "<select><option>x<option>y</select>after",
      "<a href='/'>l1 <div>block in anchor</div> l2</a>",
      "<hr>top<hr>",
      "<p/>self<p/>",
      "</div></p>stray ends",
      "<dl><dt>t<dd>d<dt>t2</dl>").foreach(assertSame)
  }

  test("identical on arbitrary fuzzed markup (ScalaCheck)") {
    val tagGen = Gen.oneOf("p", "div", "a", "br", "li", "ul", "td", "tr",
      "table", "script", "select", "option", "b", "span", "h1", "hr", "dt", "dd")
    val piece = Gen.oneOf(
      tagGen.map(t => s"<$t>"),
      tagGen.map(t => s"</$t>"),
      Gen.alphaNumStr.map(_.take(12)),
      Gen.const(" "),
      Gen.const("<br>"),
      Gen.const("&amp;"))
    val docGen = Gen.listOf(piece).map(_.mkString)
    val prop = Prop.forAll(docGen)(s => Blocks.fromHtml(s) == BlocksReference.blocks(s))
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }
}
