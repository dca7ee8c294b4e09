package graft.extract

import graft.html.Tokenizer
import scala.collection.mutable.ArrayBuffer

/** Outlink extraction — the web-graph operator of a Common-Crawl-style
  * pipeline: the per-page anchor inventory that feeds host graphs,
  * PageRank-style quality signals, and crawl-frontier scoring.
  *
  * Single streaming pass over the Tokenizer.scan events (no DOM, no token
  * allocation), same tolerance contract as the extraction path (E1,
  * /root/reference/src/ocr_engine.py:54-56): undecodable bytes yield an
  * empty link list, never an exception.
  */
object Links {

  /** `href` values of `<a>` tags in document order (entity-decoded, as
    * the Tokenizer hands them out); Nil for null/undecodable bytes.
    */
  def outlinks(html: Array[Byte]): Seq[String] =
    Tokenizer.decode(html) match {
      case None => Nil
      case Some(s) =>
        val out = ArrayBuffer.empty[String]
        Tokenizer.scan(s, new Tokenizer.TokenHandler {
          override def wantAttrs: Boolean = true
          def onText(t: String): Unit = ()
          def onStartTag(name: String, attrs: List[(String, String)], sc: Boolean): Unit =
            if (name == "a") {
              var a = attrs
              var found = false
              while (!found && a.nonEmpty) {
                if (a.head._1 == "href") { out += a.head._2; found = true }
                a = a.tail
              }
            }
          def onEndTag(name: String): Unit = ()
        })
        out.toSeq
    }
}
