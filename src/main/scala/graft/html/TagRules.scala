package graft.html

/** Tree-shape rules of the tolerant HTML scan: which elements never open
  * (void) and which start tags implicitly close the element on top of the
  * open stack. The one definition read by the fused block builder
  * (`Blocks.fromHtml`) and by its test-scope tree reference.
  */
object TagRules {

  /** HTML void elements — never pushed on the open stack. */
  private val Void = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr")

  /** Implicit-close tolerance (HTML5-ish): when `incoming` starts while
    * `open` is on top of the stack, `open` is closed first.
    */
  private val pLike = Set("p")
  private val closesP = Set(
    "p", "div", "section", "article", "aside", "header", "footer", "nav",
    "main", "ul", "ol", "li", "h1", "h2", "h3", "h4", "h5", "h6",
    "table", "blockquote", "pre", "form", "figure", "dl", "dd", "dt")

  def isVoid(tag: String): Boolean = Void.contains(tag)

  def impliesClose(open: String, incoming: String): Boolean =
    (pLike.contains(open) && closesP.contains(incoming)) ||
      (open == "li" && incoming == "li") ||
      (open == "dd" && (incoming == "dd" || incoming == "dt")) ||
      (open == "dt" && (incoming == "dd" || incoming == "dt")) ||
      ((open == "td" || open == "th") && (incoming == "td" || incoming == "th" || incoming == "tr")) ||
      (open == "tr" && incoming == "tr") ||
      (open == "option" && incoming == "option")
}
