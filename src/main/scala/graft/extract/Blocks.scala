package graft.extract

import graft.html.{TagRules, Tokenizer}
import scala.collection.mutable.ArrayBuffer

/** A contiguous text block with the shallow features the classifier needs.
  * The analog of one detected OCR line (/root/reference/src/ocr_engine.py:63
  * keeps `(text, confidence)` per line; we keep text + density features).
  */
final case class Block(
    idx: Int,
    text: String,
    words: Int,
    linkedWords: Int,
    chars: Int,
    anchorChars: Int,
    depth: Int) {
  def linkDensity: Double = if (chars == 0) 0.0 else anchorChars.toDouble / chars.toDouble
}

/** Block segmentation + normalization (ops E2b/E3 in SURVEY.md §2.3):
  * cut the token events into a block array at block-level boundaries, with
  * whitespace canonicalization (ASCII ws runs → single space, trimmed) and
  * entity decoding. Normalization policy is FROZEN — golden files depend
  * on it byte-for-byte (SURVEY.md §4.3).
  */
object Blocks {

  /** Subtrees that never contribute text (head & friends). */
  private[extract] val Skip = Set(
    "head", "script", "style", "noscript", "template", "iframe",
    "svg", "math", "object", "select", "option", "button", "datalist")

  /** Elements that open/close a block boundary. */
  private[extract] val BlockTags = Set(
    "p", "div", "section", "article", "aside", "header", "footer", "nav",
    "main", "ul", "ol", "li", "h1", "h2", "h3", "h4", "h5", "h6",
    "table", "thead", "tbody", "tfoot", "tr", "td", "th", "caption",
    "blockquote", "pre", "form", "figure", "figcaption", "dl", "dd", "dt",
    "hr", "address", "fieldset", "legend", "details", "summary", "body", "html")

  /** Text normalization + block accumulation, shared with the test-scope
    * tree reference so both builders agree on text by construction and
    * differ only in how they find block boundaries.
    */
  private[extract] final class Builder {
    val out = ArrayBuffer.empty[Block]
    private val sb = new java.lang.StringBuilder(256)
    private var lastWasSpace = true
    private var words = 0
    private var linkedWords = 0
    private var anchorChars = 0
    private var depth = 0
    private var depthSet = false

    def append(run: String, inAnchor: Boolean, elDepth: Int): Unit = {
      val s = Tokenizer.decodeEntities(run)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
        if (isWs) {
          if (!lastWasSpace) { sb.append(' '); if (inAnchor) anchorChars += 1 }
          lastWasSpace = true
        } else {
          if (lastWasSpace) { words += 1; if (inAnchor) linkedWords += 1 }
          if (!depthSet) { depth = elDepth; depthSet = true }
          sb.append(c)
          if (inAnchor) anchorChars += 1
          lastWasSpace = false
        }
        i += 1
      }
    }

    /** A soft break (single <br>) separates words without flushing. */
    def softBreak(): Unit = {
      if (!lastWasSpace) { sb.append(' ') }
      lastWasSpace = true
    }

    def flush(): Unit = {
      var len = sb.length
      var ac = anchorChars
      if (len > 0 && sb.charAt(len - 1) == ' ') { len -= 1; if (ac > len) ac = len }
      if (len > 0) {
        val text = sb.substring(0, len)
        out += Block(out.length, text, words, linkedWords, len, math.min(ac, len), depth)
      }
      sb.setLength(0)
      lastWasSpace = true
      words = 0; linkedWords = 0; anchorChars = 0; depth = 0; depthSet = false
    }
  }

  /** Single-pass block segmentation as a streaming token handler — the
    * hot path. Replicates a tree build followed by a tree walk exactly
    * (same stack discipline, same flush points, br-run semantics preserved
    * across end tags); BlocksFusionSpec differential-tests it against the
    * test-scope tree reference (`BlocksReference`) on golden cases and
    * arbitrary fuzz input.
    */
  private final class BlockHandler extends Tokenizer.TokenHandler {
    private val b = new Builder
    // stack of open tag names; parallel per-frame flags packed as bits:
    // bit0 = isAnchor, bit1 = isSkip, bit2 = isBlock
    private val tags = new ArrayBuffer[String](32)
    private val flags = new ArrayBuffer[Int](32)
    private var anchorDepth = 0
    private var skipDepth = 0
    private var brRun = 0

    @inline private def flagsOf(tag: String): Int =
      (if (tag == "a") 1 else 0) | (if (Skip.contains(tag)) 2 else 0) |
        (if (BlockTags.contains(tag)) 4 else 0)

    private def pop(): Unit = {
      val i = tags.length - 1
      val f = flags(i)
      if ((f & 1) != 0) anchorDepth -= 1
      if ((f & 2) != 0) skipDepth -= 1
      if ((f & 4) != 0 && skipDepth == 0) b.flush()
      tags.remove(i); flags.remove(i)
    }

    override def onText(s: String): Unit = {
      brRun = 0
      if (skipDepth == 0) b.append(s, anchorDepth > 0, tags.length)
    }

    override def onStartTag(name: String, attrs: List[(String, String)], selfClosing: Boolean): Unit = {
      if (name == "br") {
        if (skipDepth == 0) {
          brRun += 1
          if (brRun >= 2) b.flush() else b.softBreak()
        }
      } else {
        brRun = 0
        // implicit-close tolerance — same rule set as the tree reference
        while (tags.nonEmpty && TagRules.impliesClose(tags(tags.length - 1), name)) pop()
        val f = flagsOf(name)
        if ((f & 4) != 0 && skipDepth == 0) b.flush()
        if (!selfClosing && !TagRules.isVoid(name)) {
          tags += name
          flags += f
          if ((f & 1) != 0) anchorDepth += 1
          if ((f & 2) != 0) skipDepth += 1
        } else if ((f & 4) != 0 && skipDepth == 0) {
          // void/self-closing block tag (e.g. <hr>): boundary both sides
          b.flush()
        }
      }
    }

    override def onEndTag(name: String): Unit = {
      // NO brRun reset: the tree walk never sees end events, so a br run
      // straddling an end tag still counts (differential-tested)
      var idx = tags.length - 1
      while (idx >= 0 && tags(idx) != name) idx -= 1
      if (idx >= 0) {
        while (tags.length > idx) pop()
      }
    }

    def finish(): Vector[Block] = {
      while (tags.nonEmpty) pop()
      b.flush()
      b.out.toVector
    }
  }

  /** Fully-fused hot path: decoded string → blocks, no token or tree
    * materialization, no attr-list allocation.
    */
  def fromHtml(s: String): Vector[Block] = {
    val h = new BlockHandler
    Tokenizer.scan(s, h)
    h.finish()
  }
}
