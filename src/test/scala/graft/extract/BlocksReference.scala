package graft.extract

import graft.html.{TagRules, Tokenizer}
import scala.collection.mutable.ArrayBuffer

/** Test-scope oracle for the fused block builder ([[Blocks.fromHtml]]):
  * the unfused form of block segmentation — build a lightweight DOM from
  * the token events, then walk the tree into blocks. It shares with the
  * hot path only the scan events, [[TagRules]] and the text [[Blocks.Builder]],
  * so a difference means the fused stack discipline (flush points,
  * implicit closes, skip subtrees, br runs) drifted from the tree form.
  */
object BlocksReference {

  private sealed trait DomNode
  private final case class DomText(s: String) extends DomNode
  private final class DomElement(val tag: String, val depth: Int) extends DomNode {
    val children: ArrayBuffer[DomNode] = ArrayBuffer.empty
  }

  /** Tree builder over the scan events. Tolerant: unmatched end tags are
    * ignored; unclosed elements are closed at EOF; never throws.
    */
  private final class TreeBuilder extends Tokenizer.TokenHandler {
    val root = new DomElement("#root", 0)
    private val stack = ArrayBuffer[DomElement](root)

    private def top: DomElement = stack(stack.length - 1)

    override def onText(s: String): Unit = top.children += DomText(s)

    override def onStartTag(name: String, attrs: List[(String, String)], selfClosing: Boolean): Unit = {
      while (stack.length > 1 && TagRules.impliesClose(top.tag, name)) stack.remove(stack.length - 1)
      val el = new DomElement(name, stack.length)
      top.children += el
      if (!selfClosing && !TagRules.isVoid(name)) stack += el
    }

    override def onEndTag(name: String): Unit = {
      // pop to the nearest matching open element; ignore if none
      var idx = stack.length - 1
      while (idx >= 1 && stack(idx).tag != name) idx -= 1
      if (idx >= 1) stack.remove(idx, stack.length - idx)
    }
  }

  private def buildDom(s: String): DomElement = {
    val b = new TreeBuilder
    Tokenizer.scan(s, b)
    b.root
  }

  /** Flatten a DOM into classifier-ready blocks, document order. */
  private def fromDom(root: DomElement): Vector[Block] = {
    val b = new Blocks.Builder
    var brRun = 0

    def walk(el: DomElement, inAnchor: Boolean): Unit = {
      el.children.foreach {
        case DomText(s) =>
          brRun = 0
          b.append(s, inAnchor, el.depth)
        case child: DomElement =>
          val tag = child.tag
          if (tag == "br") {
            brRun += 1
            if (brRun >= 2) b.flush() else b.softBreak()
          } else if (Blocks.Skip.contains(tag)) {
            brRun = 0
          } else if (Blocks.BlockTags.contains(tag)) {
            brRun = 0
            b.flush()
            walk(child, inAnchor)
            b.flush()
          } else {
            brRun = 0
            walk(child, inAnchor || tag == "a")
          }
      }
    }

    walk(root, inAnchor = false)
    b.flush()
    b.out.toVector
  }

  def blocks(s: String): Vector[Block] = fromDom(buildDom(s))
}
