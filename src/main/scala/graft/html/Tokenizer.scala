package graft.html

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import java.nio.ByteBuffer

/** Byte-level, HTML5-tolerant streaming scanner: charset sniff + decode,
  * then one pass that hands token events to a [[Tokenizer.TokenHandler]]
  * (no token objects are built).
  *
  * Totality contract mirrors the reference's tolerant decode
  * (/root/reference/src/ocr_engine.py:51-56): NEVER throws on arbitrary
  * bytes — malformed markup degrades to best-effort text; non-text inputs
  * are rejected up front by [[decode]] returning None (the analog of
  * cv2.imdecode returning None on undecodable bytes, which the reference
  * routes to "" — /root/reference/test/test_ocr_engine.py:52-67).
  *
  * Everything here is pure, allocation-conscious Scala: it runs inside the
  * hot per-row path of the Spark map stage, so no regexes on the main scan
  * loop and a single pass over the char array.
  */
object Tokenizer {

  /** Elements whose raw content is consumed verbatim until the matching
    * close tag and then dropped (never part of extracted text).
    */
  private val RawText = Set("script", "style")
  /** RCDATA elements: consumed to close tag, content dropped for
    * main-content purposes (head content is not main content).
    */
  private val RcData = Set("title", "textarea")

  /** Charset sniff: BOM, then `<meta charset=...>` /
    * `<meta http-equiv="content-type" content="...charset=...">` within the
    * first 1024 bytes, else UTF-8. Deterministic; unknown charsets fall
    * back to UTF-8.
    */
  def sniffCharset(bytes: Array[Byte]): Charset = {
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf)
      return StandardCharsets.UTF_8
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
      return StandardCharsets.UTF_16BE
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe)
      return StandardCharsets.UTF_16LE
    // meta charset scan over the ASCII head
    val n = math.min(bytes.length, 1024)
    val head = new String(bytes, 0, n, StandardCharsets.ISO_8859_1).toLowerCase
    val idx = head.indexOf("charset")
    if (idx >= 0) {
      var i = idx + "charset".length
      while (i < head.length && (head(i) == ' ' || head(i) == '=' || head(i) == '"' || head(i) == '\'')) i += 1
      val sb = new StringBuilder
      while (i < head.length && (head(i).isLetterOrDigit || head(i) == '-' || head(i) == '_')) {
        sb.append(head(i)); i += 1
      }
      val name = sb.result()
      if (name.nonEmpty) {
        try { if (Charset.isSupported(name)) return Charset.forName(name) }
        catch { case _: Exception => () }
      }
    }
    StandardCharsets.UTF_8
  }

  /** Decode bytes to text, or None if the payload is not text at all.
    * Rejection rule (frozen — golden files depend on it):
    *  - any NUL byte in the first 512 bytes, or
    *  - more than 10% replacement characters after a tolerant decode.
    * Matches the E1 contract: undecodable input → "" row, never an error.
    */
  def decode(bytes: Array[Byte]): Option[String] = {
    if (bytes == null) return None
    if (bytes.isEmpty) return Some("")
    // UTF-16 BOMs first: UTF-16 text is full of NUL bytes by design, so
    // the binary-reject heuristic below must not see it
    val utf16 = bytes.length >= 2 &&
      (((bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff) ||
        ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe))
    if (!utf16) {
      val sniffN = math.min(bytes.length, 512)
      var i = 0
      while (i < sniffN) { if (bytes(i) == 0) return None; i += 1 }
      // pure-ASCII fast path (the common web case): identical output to
      // the decoder path, skips decoder + replacement scan
      var ascii = true
      i = 0
      while (ascii && i < bytes.length) { if (bytes(i) < 0) ascii = false; i += 1 }
      if (ascii) return Some(new String(bytes, StandardCharsets.US_ASCII))
    }
    val cs = sniffCharset(bytes)
    val dec = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    val out = try dec.decode(ByteBuffer.wrap(bytes)).toString
    catch { case _: Exception => return None }
    var bad = 0
    var j = 0
    while (j < out.length) { if (out.charAt(j) == '�') bad += 1; j += 1 }
    if (out.nonEmpty && bad.toLong * 10 > out.length.toLong) None
    // strip a leading BOM (UTF-8 BOM decodes to U+FEFF; it is markup
    // plumbing, never content)
    else if (out.nonEmpty && out.charAt(0) == '\uFEFF') Some(out.substring(1))
    else Some(out)
  }

  /** Decode HTML entities in a text run. Named subset + numeric forms;
    * unknown entities are left verbatim (tolerance). Frozen policy.
    */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 12) {
          val name = s.substring(i + 1, semi)
          val rep: String =
            if (name.startsWith("#x") || name.startsWith("#X")) {
              try {
                val cp = Integer.parseInt(name.substring(2), 16)
                if (cp >= 0 && cp <= 0x10ffff && Character.isValidCodePoint(cp))
                  new String(Character.toChars(cp)) else null
              } catch { case _: Exception => null }
            } else if (name.startsWith("#")) {
              try {
                val cp = Integer.parseInt(name.substring(1))
                if (cp >= 0 && cp <= 0x10ffff && Character.isValidCodePoint(cp))
                  new String(Character.toChars(cp)) else null
              } catch { case _: Exception => null }
            } else name match {
              case "amp"   => "&"
              case "lt"    => "<"
              case "gt"    => ">"
              case "quot"  => "\""
              case "apos"  => "'"
              case "nbsp"  => " "
              case "copy"  => "©"
              case "mdash" => "—"
              case "ndash" => "–"
              case "hellip" => "…"
              case "auml"  => "ä"
              case "ouml"  => "ö"
              case "uuml"  => "ü"
              case "szlig" => "ß"
              case "Auml"  => "Ä"
              case "Ouml"  => "Ö"
              case "Uuml"  => "Ü"
              case "euro"  => "€"
              case "eacute" => "é"
              case "egrave" => "è"
              case "agrave" => "à"
              case "acirc"  => "â"
              case "ecirc"  => "ê"
              case "ccedil" => "ç"
              case "ntilde" => "ñ"
              case "aacute" => "á"
              case "iacute" => "í"
              case "oacute" => "ó"
              case "uacute" => "ú"
              case "deg"    => "°"
              case "sect"   => "§"
              case "middot" => "·"
              case "laquo"  => "«"
              case "raquo"  => "»"
              case "trade"  => "™"
              case "reg"    => "®"
              case _       => null
            }
          if (rep != null) { sb.append(rep); i = semi + 1 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  @inline private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == ':'
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  /** Streaming consumer of the token events — the allocation-free hot
    * path (no token objects, and attr lists are skipped unless asked for).
    */
  trait TokenHandler {
    def onText(s: String): Unit
    def onStartTag(name: String, attrs: List[(String, String)], selfClosing: Boolean): Unit
    def onEndTag(name: String): Unit
    /** build attr lists? false ⇒ onStartTag receives Nil (cheaper) */
    def wantAttrs: Boolean = false
  }

  /** Single-pass event-driven tokenization; never throws. */
  def scan(s: String, h: TokenHandler): Unit = {
    val n = s.length
    var i = 0
    var textStart = 0

    def flushText(until: Int): Unit =
      if (until > textStart) h.onText(s.substring(textStart, until))

    // jump between '<' markers with the intrinsified (SIMD) indexOf —
    // text runs between tags are the bulk of a page, and a per-char state
    // loop pays ~10× more per byte than the vectorized scan. Semantics
    // are identical to the per-char walk: only a '<' followed by a name
    // start, '/', '!' or '?' opens markup; any other '<' is literal text.
    while (i < n) {
      val lt = s.indexOf('<', i)
      if (lt < 0 || lt + 1 >= n) {
        i = n // no further markup; the tail (incl. a trailing '<') is text
      } else {
        val d = s.charAt(lt + 1)
        if (isNameStart(d)) {
          flushText(lt)
          i = parseStartTag(s, lt, h)
          textStart = i
        } else if (d == '/') {
          flushText(lt)
          val (nm, jj) = parseEndTag(s, lt)
          if (nm.nonEmpty) h.onEndTag(nm)
          i = jj
          textStart = i
        } else if (d == '!') {
          flushText(lt)
          i = skipDeclaration(s, lt)
          textStart = i
        } else if (d == '?') {
          flushText(lt)
          val gt = s.indexOf('>', lt + 1)
          i = if (gt < 0) n else gt + 1
          textStart = i
        } else {
          i = lt + 1 // stray '<' is literal text
        }
      }
    }
    flushText(n)
  }

  /** Parse `</name ...>` returning (lowercased name, index after '>').
    * Unterminated → consume to EOF with empty name.
    */
  private def parseEndTag(s: String, start: Int): (String, Int) = {
    var i = start + 2
    val n = s.length
    val sb = new java.lang.StringBuilder(8)
    while (i < n && isNameChar(s.charAt(i))) { sb.append(Character.toLowerCase(s.charAt(i))); i += 1 }
    val gt = s.indexOf('>', i)
    if (gt < 0) ("", n) else (sb.toString, gt + 1)
  }

  /** Parse a start tag with attributes; emit onStartTag (plus swallow raw
    * content for script/style/title/textarea). Returns index after the tag
    * (and after raw content for raw elements). Attr lists are built only
    * when the handler asks (hot path skips the allocation + entity decode).
    */
  private def parseStartTag(s: String, start: Int, h: TokenHandler): Int = {
    val n = s.length
    val keepAttrs = h.wantAttrs
    var i = start + 1
    val nameSb = new java.lang.StringBuilder(8)
    while (i < n && isNameChar(s.charAt(i))) { nameSb.append(Character.toLowerCase(s.charAt(i))); i += 1 }
    val name = nameSb.toString
    var attrs: List[(String, String)] = Nil
    var selfClosing = false
    var done = false
    while (!done && i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i >= n) done = true
      else s.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          if (i + 1 < n && s.charAt(i + 1) == '>') { selfClosing = true; i += 2; done = true }
          else i += 1
        case _ =>
          // attribute name
          val an = if (keepAttrs) new java.lang.StringBuilder(8) else null
          while (i < n && !isWs(s.charAt(i)) && s.charAt(i) != '=' && s.charAt(i) != '>' && s.charAt(i) != '/') {
            if (keepAttrs) an.append(Character.toLowerCase(s.charAt(i)))
            i += 1
          }
          while (i < n && isWs(s.charAt(i))) i += 1
          var av = ""
          if (i < n && s.charAt(i) == '=') {
            i += 1
            while (i < n && isWs(s.charAt(i))) i += 1
            if (i < n && (s.charAt(i) == '"' || s.charAt(i) == '\'')) {
              val q = s.charAt(i); i += 1
              val e = s.indexOf(q, i)
              if (e < 0) { if (keepAttrs) av = s.substring(i, n); i = n }
              else { if (keepAttrs) av = s.substring(i, e); i = e + 1 }
            } else {
              val vs = i
              while (i < n && !isWs(s.charAt(i)) && s.charAt(i) != '>') i += 1
              if (keepAttrs) av = s.substring(vs, i)
            }
          }
          if (keepAttrs && an.length > 0) attrs = (an.toString, decodeEntities(av)) :: attrs
      }
    }
    h.onStartTag(name, if (keepAttrs) attrs.reverse else Nil, selfClosing)
    // raw / rcdata elements: swallow content up to the matching close tag
    if (!selfClosing && (RawText.contains(name) || RcData.contains(name))) {
      val close = "</" + name
      val lower = { // case-insensitive search without regex
        var j = i
        var found = -1
        while (found < 0 && j <= n - close.length) {
          var k = 0
          var ok = true
          while (ok && k < close.length) {
            if (Character.toLowerCase(s.charAt(j + k)) != close.charAt(k)) ok = false
            k += 1
          }
          if (ok) found = j else j += 1
        }
        found
      }
      if (lower < 0) { h.onEndTag(name); return n }
      val gt = s.indexOf('>', lower)
      h.onEndTag(name)
      return if (gt < 0) n else gt + 1
    }
    i
  }

  /** Skip `<!-- ... -->`, `<!DOCTYPE ...>`, `<![CDATA[ ... ]]>`. */
  private def skipDeclaration(s: String, start: Int): Int = {
    val n = s.length
    if (start + 3 < n && s.charAt(start + 2) == '-' && s.charAt(start + 3) == '-') {
      val e = s.indexOf("-->", start + 4)
      if (e < 0) n else e + 3
    } else if (s.regionMatches(true, start + 2, "[CDATA[", 0, 7)) {
      val e = s.indexOf("]]>", start + 9)
      if (e < 0) n else e + 3
    } else {
      val gt = s.indexOf('>', start + 2)
      if (gt < 0) n else gt + 1
    }
  }
}
