package graft.core.html

import scala.collection.mutable.ArrayBuffer

/** Minimal, deterministic HTML tokenizer (no external deps).
  *
  * The analog of the reference's page reader + binarizer (S1/S2,
  * main/readPicture.c:36-117): raw payload bytes in, a clean token stream
  * out. Deliberately forgiving — real Common-Crawl HTML is malformed, and
  * like the reference (which never aborts on a bad page, it emits the
  * failure sentinel instead, main/ocr.h:208) the tokenizer never throws on
  * malformed markup; worst case it degrades to text.
  *
  * Handles: tags with quoted/unquoted attributes (only id/class are
  * materialized — the only attributes consumed downstream), self-closing
  * tags, comments, doctype, CDATA, raw-text elements (script/style/
  * noscript/textarea — consumed until the matching close tag), and
  * character references (named subset + numeric).
  *
  * The ONE scanning implementation is [[scan]], which drives a [[TokenSink]]
  * — the extraction kernel's hottest loop. Text regions are passed as
  * offsets and known tag names resolve to interned names with one
  * [[TagTable]] probe, neither allocating; unknown tag names and id/class
  * values are copied out. [[tokenize]] is a collecting sink kept for
  * tests/tools.
  */
object HtmlTokenizer {

  sealed trait Token
  final case class StartTag(name: String, attrs: Map[String, String], selfClosing: Boolean) extends Token
  final case class EndTag(name: String) extends Token
  final case class Text(value: String) extends Token

  /** Streaming consumer of the scan. `text` regions are RAW (entities not
    * decoded — decode lazily with [[decodeEntitiesInto]]). */
  trait TokenSink {
    /** @param id/cls null when the attribute is absent */
    def startTag(name: String, id: String, cls: String, selfClosing: Boolean): Unit
    def endTag(name: String): Unit
    def text(html: String, start: Int, end: Int): Unit
  }

  /** `Character.isWhitespace`, deciding ASCII without the table lookup. */
  private[html] def isSpace(c: Char): Boolean =
    if (c > ' ') c >= '\u0080' && Character.isWhitespace(c)
    else c == ' ' || (c >= '\t' && c <= '\r') || c >= '\u001c'

  /** `Character.isLetterOrDigit`, deciding ASCII without the table lookup. */
  private def isNameChar(c: Char): Boolean =
    if (c < '\u0080') (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
    else Character.isLetterOrDigit(c)

  /** Canonical lowercase tag name for html[start, start+len) and its
    * [[TagTable]] bits: the table's interned name for known tags (no
    * allocation), a lowercased copy with no bits otherwise. */
  private def canonicalName(html: String, start: Int, len: Int, res: TagResult): Unit = {
    val e = TagTable.lookup(html, start, len)
    if (e != null) { res.name = e.name; res.flags = e.flags }
    else { res.name = html.substring(start, start + len).toLowerCase; res.flags = 0 }
  }

  /** Named character references we decode (the long tail falls through as
    * literal text, which is deterministic and harmless for extraction). */
  private val namedEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> "\u00A0", "shy" -> "\u00AD", "mdash" -> "\u2014",
    "ndash" -> "\u2013", "hellip" -> "\u2026", "copy" -> "\u00A9",
    "reg" -> "\u00AE", "trade" -> "\u2122", "laquo" -> "\u00AB",
    "raquo" -> "\u00BB", "ldquo" -> "\u201C", "rdquo" -> "\u201D",
    "lsquo" -> "\u2018", "rsquo" -> "\u2019", "middot" -> "\u00B7",
    "bull" -> "\u2022", "deg" -> "\u00B0", "times" -> "\u00D7",
    "eacute" -> "\u00E9", "egrave" -> "\u00E8", "agrave" -> "\u00E0",
    "uuml" -> "\u00FC", "ouml" -> "\u00F6", "auml" -> "\u00E4",
    "szlig" -> "\u00DF", "ccedil" -> "\u00E7")

  /** WHATWG 13.2.5.80 numeric-character-reference end state: code points
    * 0x80–0x9F map through the windows-1252 table (same table the charset
    * decoder uses); entries the spec leaves unmapped keep their value. */
  private val c1RefMap: Array[Int] = Array(
    0x20AC, 0x81, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
    0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, 0x8D, 0x017D, 0x8F,
    0x90, 0x2018, 0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014,
    0x02DC, 0x2122, 0x0161, 0x203A, 0x0153, 0x9D, 0x017E, 0x0178)

  /** Decode character references in a text run. */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    decodeEntitiesInto(sb, s, 0, s.length)
    sb.toString
  }

  /** Decode character references of s[start,end) APPENDING into `sb` —
    * the allocation-free variant the kernel uses. Segments between '&'s are
    * bulk-copied (intrinsified), not iterated char by char. */
  def decodeEntitiesInto(sb: java.lang.StringBuilder, s: String, start: Int, end: Int): Unit = {
    var i = start
    while (i < end) {
      // both searches stay inside the region: String.indexOf would scan on
      // to the document's next '&' or ';'
      var amp = i
      while (amp < end && s.charAt(amp) != '&') amp += 1
      if (amp == end) { sb.append(s, i, end); return }
      if (amp > i) sb.append(s, i, amp)
      i = amp
      val c = s.charAt(i)
      val semiLimit = math.min(end, i + 13)
      var semi = i + 1
      while (semi < semiLimit && s.charAt(semi) != ';') semi += 1
      if (semi < semiLimit) {
        val body = s.substring(i + 1, semi)
        // HTML5 numeric-reference policy: surrogate code points (U+D800–
        // U+DFFF) and out-of-range values map to U+FFFD — appendCodePoint
        // would otherwise emit a LONE surrogate, ill-formed UTF-16 that
        // mutates through UTF8String/parquet round trips and breaks the
        // byte-identity/resume contract (ADVICE r1).
        // ...plus (ADVICE r2, WHATWG 13.2.5.80): NUL (&#0;) and
        // out-of-range values (> 0x10FFFF) also map to U+FFFD instead of
        // falling through as literal text.
        // cp is a Long: the 12-char body cap bounds digits well inside Long
        // range, so overflowing values (e.g. &#x110000000;) take the FFFD
        // branch instead of a parse exception's literal passthrough. A
        // syntactically non-numeric body (`&#-1;`, `&#zz;`) is NOT a
        // character reference per WHATWG and stays literal.
        // ...and (round-4 review, same WHATWG section): numeric references
        // in the C1 range (&#128;\u2013&#159;) map through the windows-1252
        // table (0x93 \u2192 U+201C "curly quote", etc.) \u2014 legacy-CMS pages use
        // these constantly, and emitting the raw C1 control put invisible
        // control chars in the corpus where punctuation belongs. Refs the
        // table leaves unmapped (0x81/0x8D/0x8F/0x90/0x9D) pass through.
        def appendRef(cp: Long): Unit =
          if (cp == 0 || cp > Character.MAX_CODE_POINT ||
              (cp >= Character.MIN_SURROGATE.toLong && cp <= Character.MAX_SURROGATE.toLong))
            sb.append('\uFFFD')
          else if (cp >= 0x80 && cp <= 0x9F)
            sb.appendCodePoint(c1RefMap((cp - 0x80).toInt))
          else sb.appendCodePoint(cp.toInt)
        def allDec(d: String): Boolean =
          d.nonEmpty && d.forall(ch => ch >= '0' && ch <= '9')
        def allHex(d: String): Boolean =
          d.nonEmpty && d.forall(ch => (ch >= '0' && ch <= '9') ||
            (ch >= 'a' && ch <= 'f') || (ch >= 'A' && ch <= 'F'))
        if (body.startsWith("#x") || body.startsWith("#X")) {
          val digits = body.substring(2)
          if (allHex(digits)) { appendRef(java.lang.Long.parseLong(digits, 16)); i = semi + 1 }
          else { sb.append(c); i += 1 }
        } else if (body.startsWith("#")) {
          val digits = body.substring(1)
          if (allDec(digits)) { appendRef(java.lang.Long.parseLong(digits)); i = semi + 1 }
          else { sb.append(c); i += 1 }
        } else namedEntities.get(body) match {
          case Some(rep) => sb.append(rep); i = semi + 1
          case None => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
  }

  /** Tokenize into a materialized sequence (tests/tools; the kernel drives
    * [[scan]] directly through the segmenter's sink). */
  def tokenize(html: String, maxTokens: Int = Int.MaxValue): IndexedSeq[Token] = {
    val out = new ArrayBuffer[Token](64)
    scan(html, maxTokens, new TokenSink {
      override def startTag(name: String, id: String, cls: String, selfClosing: Boolean): Unit = {
        var attrs = Map.empty[String, String]
        if (id != null) attrs += ("id" -> id)
        if (cls != null) attrs += ("class" -> cls)
        out += StartTag(name, attrs, selfClosing)
      }
      override def endTag(name: String): Unit = out += EndTag(name)
      override def text(html: String, start: Int, end: Int): Unit =
        out += Text(html.substring(start, end))
    })
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out.toArray)
  }

  /** THE scanner. Emits at most `maxTokens` sink events (the analog of the
    * reference's size caps, main/ocr.h:53-56); excess input is dropped. */
  def scan(html: String, maxTokens: Int, sink: TokenSink): Unit = {
    val n = html.length
    var i = 0
    var textStart = 0
    var emitted = 0
    val tag = new TagResult

    def emitText(until: Int): Unit =
      if (until > textStart && emitted < maxTokens) {
        sink.text(html, textStart, until); emitted += 1
      }
    def emitStart(name: String, id: String, cls: String, selfClosing: Boolean): Unit =
      if (emitted < maxTokens) { sink.startTag(name, id, cls, selfClosing); emitted += 1 }
    def emitEnd(name: String): Unit =
      if (emitted < maxTokens) { sink.endTag(name); emitted += 1 }

    while (i < n && emitted < maxTokens) {
      val lt = html.indexOf('<', i)
      if (lt < 0) { emitText(n); i = n; textStart = n }
      else {
        if (lt + 1 >= n) { emitText(n); i = n; textStart = n }
        else {
          val next = html.charAt(lt + 1)
          if (next == '!') {
            emitText(lt)
            if (html.startsWith("<!--", lt)) {
              // WHATWG abrupt closing: <!--> and <!---> are complete
              // (empty) comments — the generic scan starts at lt+4, past
              // the closer's own dashes, and would otherwise swallow the
              // rest of the document when no later "-->" exists
              // (round-4 review)
              if (lt + 4 < n && html.charAt(lt + 4) == '>') i = lt + 5
              else if (lt + 5 < n && html.charAt(lt + 4) == '-' &&
                       html.charAt(lt + 5) == '>') i = lt + 6
              else {
                val end = html.indexOf("-->", lt + 4)
                i = if (end < 0) n else end + 3
              }
            } else if (html.regionMatches(true, lt, "<![CDATA[", 0, 9)) {
              val end = html.indexOf("]]>", lt + 9)
              i = if (end < 0) n else end + 3
            } else { // doctype / other declaration
              val end = html.indexOf('>', lt + 1)
              i = if (end < 0) n else end + 1
            }
            textStart = i
          } else if (next == '?') { // processing instruction
            emitText(lt)
            val end = html.indexOf('>', lt + 1)
            i = if (end < 0) n else end + 1
            textStart = i
          } else if (next == '/') {
            emitText(lt)
            val end = html.indexOf('>', lt + 2)
            if (end < 0) { i = n; textStart = n }
            else {
              // name = trimmed content; only letter/digit names are tags
              var s0 = lt + 2
              var e0 = end
              while (s0 < e0 && isSpace(html.charAt(s0))) s0 += 1
              while (e0 > s0 && isSpace(html.charAt(e0 - 1))) e0 -= 1
              var ok = e0 > s0
              var k = s0
              while (ok && k < e0) { if (!isNameChar(html.charAt(k))) ok = false; k += 1 }
              if (ok) { canonicalName(html, s0, e0 - s0, tag); emitEnd(tag.name) }
              i = end + 1; textStart = i
            }
          } else if (Character.isLetter(next)) {
            emitText(lt)
            val after = parseStartTag(html, lt, tag)
            if (after < 0) {
              // not a real tag; the '<' stays in the text run
              i = lt + 1
            } else {
              // for raw-text elements the scanner below CONSUMES to the
              // close tag regardless of a trailing "/" (HTML5 ignores it
              // on non-void elements), so the start token must not claim
              // self-closing either — <title/> otherwise skipped the
              // segmenter's element push and leaked the title text into
              // content blocks (round-4 review)
              val rawText = (tag.flags & TagTable.RawText) != 0
              emitStart(tag.name, tag.id, tag.cls, tag.selfClosing && !rawText)
              i = after
              // raw-text elements: skip to the matching close tag.
              // HTML5 IGNORES a trailing "/" on non-void elements, so
              // <script/> still opens script data — honoring selfClosing
              // here leaked JS source into the text stream (round-3 review)
              if (rawText) {
                val name = tag.name
                val close = indexOfCloseTag(html, i, name)
                if (name == "title") {
                  val end = if (close < 0) n else close
                  if (end > i) { if (emitted < maxTokens) { sink.text(html, i, end); emitted += 1 } }
                }
                if (close < 0) { i = n }
                else {
                  emitEnd(name)
                  val gtc = html.indexOf('>', close)
                  i = if (gtc < 0) n else gtc + 1
                }
              }
              textStart = i
            }
          } else { // stray '<'
            i = lt + 1
          }
        }
      }
    }
  }

  /** Per-scan mutable tag-parse result (one per scan call — thread-safe). */
  private final class TagResult {
    var name: String = null
    var flags: Int = 0
    var id: String = null
    var cls: String = null
    var selfClosing: Boolean = false
  }

  /** Case-insensitive search for `</name` at a token boundary. */
  private def indexOfCloseTag(html: String, from: Int, name: String): Int = {
    val n = html.length
    val nameLen = name.length
    var i = from
    while (i <= n - nameLen - 2) {
      if (html.charAt(i) == '<' && html.charAt(i + 1) == '/' &&
          html.regionMatches(true, i + 2, name, 0, nameLen)) {
        val after = i + 2 + nameLen
        if (after >= n) return i
        val c = html.charAt(after)
        if (c == '>' || isSpace(c) || c == '/') return i
      }
      i += 1
    }
    -1
  }

  /** Parse a start tag beginning at `lt` ('<') into `res`; returns index
    * just past '>', or -1 if malformed. Only id/class attribute values are
    * materialized. */
  private def parseStartTag(html: String, lt: Int, res: TagResult): Int = {
    val n = html.length
    var i = lt + 1
    val nameStart = i
    while (i < n && isNameChar(html.charAt(i))) i += 1
    if (i == nameStart) return -1
    canonicalName(html, nameStart, i - nameStart, res)
    var id: String = null
    var cls: String = null
    var selfClosing = false
    var done = false
    var ended = false
    while (!done && i < n) {
      while (i < n && isSpace(html.charAt(i))) i += 1
      if (i >= n) { done = true }
      else {
        val c = html.charAt(i)
        if (c == '>') { i += 1; done = true; ended = true }
        else if (c == '/' && i + 1 < n && html.charAt(i + 1) == '>') {
          selfClosing = true; i += 2; done = true; ended = true
        } else if (c == '<') {
          // malformed: new tag opens before this one closes — end it here
          done = true; ended = true
        } else {
          // attribute
          val aStart = i
          while (i < n && { val ch = html.charAt(i); !isSpace(ch) && ch != '=' && ch != '>' && ch != '/' }) i += 1
          val aLen = i - aStart
          val isId = aLen == 2 && html.regionMatches(true, aStart, "id", 0, 2)
          val isCls = aLen == 5 && html.regionMatches(true, aStart, "class", 0, 5)
          while (i < n && isSpace(html.charAt(i))) i += 1
          if (i < n && html.charAt(i) == '=') {
            i += 1
            while (i < n && isSpace(html.charAt(i))) i += 1
            if (i < n) {
              val q = html.charAt(i)
              if (q == '"' || q == '\'') {
                val vEnd = html.indexOf(q, i + 1)
                if (vEnd < 0) { // unterminated: consume to '>'
                  val gt = html.indexOf('>', i)
                  if (isId) id = decodeEntities(html.substring(i + 1, if (gt < 0) n else gt))
                  if (isCls) cls = decodeEntities(html.substring(i + 1, if (gt < 0) n else gt))
                  i = if (gt < 0) n else gt
                } else {
                  if (isId) id = decodeEntities(html.substring(i + 1, vEnd))
                  if (isCls) cls = decodeEntities(html.substring(i + 1, vEnd))
                  i = vEnd + 1
                }
              } else {
                val vStart = i
                while (i < n && { val ch = html.charAt(i); !isSpace(ch) && ch != '>' }) i += 1
                if (isId) id = decodeEntities(html.substring(vStart, i))
                if (isCls) cls = decodeEntities(html.substring(vStart, i))
              }
            }
          } else if (aLen == 0) i += 1 // stray char; never stall
        }
      }
    }
    // unterminated tag at EOF is still emitted (old behavior)
    res.id = id
    res.cls = cls
    res.selfClosing = selfClosing
    if (ended) i else n
  }
}
