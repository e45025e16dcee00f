package graft.core.html

import graft.core.Block
import graft.core.html.HtmlTokenizer.isSpace
import scala.collection.mutable.ArrayBuffer

/** Token stream → candidate text blocks.
  *
  * The analog of the reference's recursive XY-cut segmentation
  * (findCells, main/segment.c:278-352): where the reference splits a page at
  * blank pixel rows, we split the document at block-level tag boundaries;
  * inline tags (b, i, span, a, em, ...) do NOT split — that is the analog of
  * the horizontal-overlap glyph combine (overlapHorizontal,
  * main/segment.c:384-409). A run of 2+ <br> is the fallback split when no
  * block boundary exists (findLinesHarder analog, main/segment.c:354-382).
  *
  * Containers nav/header/footer/aside/form — or any element whose id/class
  * matches the boilerplate pattern — taint all nested blocks (feature, not a
  * drop: classification happens later, like the reference which labels
  * low-confidence glyphs rather than deleting them, main/kd.c:210-251).
  *
  * Implemented as a [[HtmlTokenizer.TokenSink]]: the kernel path
  * ([[segmentDirect]]) streams the scan straight into block accumulation —
  * no token objects, no intermediate piece strings; text decodes directly
  * into the per-block buffer with a parallel link-flag BitSet.
  */
object BlockSegmenter {

  /** id/class substrings that mark a container as boilerplate — the
    * readability/trafilatura-class heuristic. */
  private val boilerIdClass =
    java.util.regex.Pattern.compile(
      "(?i)\\b(comment|sidebar|side-bar|footer|header|navbar|nav|menu|related|share|social|widget|promo|advert|ad-|banner|breadcrumb|cookie|subscribe|newsletter|pagination|masthead)")

  /** Elements allowed inside <head>: anything ELSE implicitly closes an
    * open head (HTML5 optional-end-tag rule — </head> may be omitted;
    * without this, the head's skip state swallowed the whole body of a
    * conforming page; round-3 review finding). */
  private val headContentTags = Set(
    "base", "basefont", "bgsound", "link", "meta", "title", "noscript",
    "noframes", "style", "script", "template")

  /** Word run inside a block: [begin,end) chars, link flag, word count. */
  private final case class Run(begin: Int, end: Int, isLink: Boolean, words: Int)

  /** The streaming segmenter. Collect blocks, then call [[result]]. */
  final class SegmentSink(fissionMinLinkRun: Int, fissionMinTextWords: Int)
      extends HtmlTokenizer.TokenSink {
    import TagTable.{Anchor, BlockLevel, BoilerTag, Head, Heading, Li, Skip, Void}

    private val blocks = new ArrayBuffer[Block](32)
    // open elements: names and TagTable bits (boiler-by-id/class folded
    // into BoilerTag), as parallel arrays
    private var stackNames = new Array[String](16)
    private var stackFlags = new Array[Int](16)
    private var stackLen = 0
    private val sb = new java.lang.StringBuilder(256)
    private val linkBits = new java.util.BitSet(256)
    private var blockHasLink = false // fast path: skip BitSet when no <a> text
    private var pendingBr = 0

    // maintained depth counters — O(1) per token (hottest loop in kernel)
    private var anchorDepthC = 0
    private var boilerDepthC = 0
    private var skipDepthC = 0
    private var blockDepthC = 0
    private var headingDepthC = 0
    private var liDepthC = 0
    private var headDepthC = 0

    // "/"-joined open block elements; rebuilt on the first emit after a
    // block element was pushed or popped
    private var tagPathCache = ""
    private var tagPathStale = false

    private def tagPath: String = {
      if (tagPathStale) {
        val path = new java.lang.StringBuilder
        var k = 0
        while (k < stackLen) {
          if ((stackFlags(k) & BlockLevel) != 0) {
            if (path.length > 0) path.append('/')
            path.append(stackNames(k))
          }
          k += 1
        }
        tagPathCache = path.toString
        tagPathStale = false
      }
      tagPathCache
    }

    private def adjustDepths(flags: Int, d: Int): Unit = {
      if ((flags & Anchor) != 0) anchorDepthC += d
      if ((flags & BoilerTag) != 0) boilerDepthC += d
      if ((flags & Skip) != 0) skipDepthC += d
      if ((flags & BlockLevel) != 0) { blockDepthC += d; tagPathStale = true }
      if ((flags & Heading) != 0) headingDepthC += d
      if ((flags & Li) != 0) liDepthC += d
      if ((flags & Head) != 0) headDepthC += d
    }

    private def push(name: String, flags: Int): Unit = {
      if (stackLen == stackNames.length) {
        stackNames = java.util.Arrays.copyOf(stackNames, stackLen * 2)
        stackFlags = java.util.Arrays.copyOf(stackFlags, stackLen * 2)
      }
      stackNames(stackLen) = name
      stackFlags(stackLen) = flags
      stackLen += 1
      adjustDepths(flags, 1)
    }

    private def popFrom(idx: Int): Unit =
      while (stackLen > idx) {
        stackLen -= 1
        adjustDepths(stackFlags(stackLen), -1)
        stackNames(stackLen) = null
      }

    private def lastIndexOf(name: String): Int = {
      var k = stackLen - 1
      while (k >= 0 && stackNames(k) != name) k -= 1
      k
    }

    private def emit(text: String, words: Int, linkWords: Int): Unit =
      blocks += Block(
        text = text,
        words = words,
        linkWords = linkWords,
        tagPath = tagPath,
        depth = blockDepthC,
        isHeading = headingDepthC > 0,
        isLi = liDepthC > 0,
        inBoilerContainer = boilerDepthC > 0)

    private def flush(): Unit = {
      if (sb.length > 0) {
        val raw = sb.toString
        if (blockHasLink) flushLinked(raw)
        else {
          // no anchor text: every word is a text word and fission cannot
          // fire — only the word count is needed. An all-whitespace buffer
          // has no words and emits nothing.
          var words = 0
          var inWord = false
          var i = 0
          while (i < raw.length) {
            val word = !isSpace(raw.charAt(i))
            if (word && !inWord) words += 1
            inWord = word
            i += 1
          }
          if (words > 0) emit(raw, words, 0)
        }
        sb.setLength(0)
        if (blockHasLink) { linkBits.clear(); blockHasLink = false }
      }
      pendingBr = 0
    }

    /** A block that saw anchor text, as word runs: a word is a link word
      * when any of its chars came from inside an <a>, and a run is a
      * maximal sequence of words with the same link flag. */
    private def flushLinked(raw: String): Unit = {
      val runs = ArrayBuffer.empty[Run]
      val n = raw.length
      var i = 0
      var runBegin = -1
      var runEnd = 0
      var runWords = 0
      var runLink = false
      while (i < n) {
        while (i < n && isSpace(raw.charAt(i))) i += 1
        if (i < n) {
          val b = i
          while (i < n && !isSpace(raw.charAt(i))) i += 1
          val bit = linkBits.nextSetBit(b)
          val link = bit >= 0 && bit < i
          if (runBegin >= 0 && runLink == link) { runWords += 1; runEnd = i }
          else {
            if (runBegin >= 0) runs += Run(runBegin, runEnd, runLink, runWords)
            runBegin = b; runEnd = i; runWords = 1; runLink = link
          }
        }
      }
      if (runBegin >= 0) runs += Run(runBegin, runEnd, runLink, runWords)
      var words = 0
      var linkWords = 0
      var bigLinkRun = false
      var r = 0
      while (r < runs.length) {
        val run = runs(r)
        words += run.words
        if (run.isLink) {
          linkWords += run.words
          if (run.words >= fissionMinLinkRun) bigLinkRun = true
        }
        r += 1
      }
      val textWords = words - linkWords
      if (fissionMinLinkRun > 0 && bigLinkRun && textWords > 0 && textWords >= fissionMinTextWords)
        fission(raw, runs)
      else if (words > 0) emit(raw, words, linkWords)
    }

    /** Fission: big link runs inside a mixed block become own blocks
      * (wide-glyph split analog, splitWideGlyphs main/segment.c:1224-1386);
      * the runs between them stay together. */
    private def fission(raw: String, runs: ArrayBuffer[Run]): Unit = {
      var segBegin = 0
      var segEnd = 0
      var segWords = 0
      var segLinkWords = 0
      def flushSeg(): Unit = if (segWords > 0) {
        emit(raw.substring(segBegin, segEnd), segWords, segLinkWords)
        segWords = 0; segLinkWords = 0
      }
      runs.foreach { r =>
        if (r.isLink && r.words >= fissionMinLinkRun) {
          flushSeg()
          emit(raw.substring(r.begin, r.end), r.words, r.words)
        } else {
          if (segWords == 0) segBegin = r.begin
          segEnd = r.end
          segWords += r.words
          if (r.isLink) segLinkWords += r.words
        }
      }
      flushSeg()
    }

    private def append(piece: String, isLink: Boolean): Unit = {
      val b = sb.length
      sb.append(piece)
      if (isLink && sb.length > b) { linkBits.set(b, sb.length); blockHasLink = true }
    }

    override def startTag(name: String, id: String, cls: String, selfClosing: Boolean): Unit = {
      if (name == "br") {
        pendingBr += 1
        if (pendingBr >= 2) flush() // <br><br> = paragraph break (G4 analog)
        else append("\n", anchorDepthC > 0)
      } else if (name == "hr") {
        flush()
      } else {
        // implicit </head> (guarded by the counter — zero cost once closed)
        if (headDepthC > 0 && name != "head" && !headContentTags.contains(name)) {
          val hi = lastIndexOf("head")
          if (hi >= 0) popFrom(hi)
        }
        val flags = TagTable.flags(name)
        if ((flags & BlockLevel) != 0) flush()
        if (!selfClosing && (flags & Void) == 0) {
          // short-circuit: a tag-level boiler container never pays the
          // id/class regex scan
          val boilerById = (flags & BoilerTag) == 0 && (id != null || cls != null) && {
            val idClass = (if (id == null) "" else id) + " " + (if (cls == null) "" else cls)
            idClass.trim.nonEmpty && boilerIdClass.matcher(idClass).find()
          }
          push(name, if (boilerById) flags | BoilerTag else flags)
        }
        pendingBr = 0
      }
    }

    override def endTag(name: String): Unit = {
      // a stray end tag with NO matching open element is IGNORED, as in
      // browser tree construction (round-4 review: a never-opened </div>
      // flushed mid-paragraph, splitting one block into fragments that
      // each fell under minContentWords and were dropped)
      val idx = lastIndexOf(name)
      if (idx >= 0) {
        if ((stackFlags(idx) & BlockLevel) != 0) flush()
        popFrom(idx)
        pendingBr = 0
      }
    }

    override def text(html: String, start: Int, end: Int): Unit = {
      if (skipDepthC > 0) return
      var hasContent = false
      var i = start
      while (!hasContent && i < end) {
        if (!isSpace(html.charAt(i))) hasContent = true
        i += 1
      }
      if (hasContent) {
        val b = sb.length
        HtmlTokenizer.decodeEntitiesInto(sb, html, start, end)
        if (anchorDepthC > 0 && sb.length > b) { linkBits.set(b, sb.length); blockHasLink = true }
        pendingBr = 0
      } else if (sb.length > 0) {
        // inter-word whitespace still separates words
        sb.append(' ')
      }
    }

    def result(): Vector[Block] = {
      flush()
      blocks.toVector
    }
  }

  /** Kernel fast path: scan straight into block accumulation. */
  def segmentDirect(
      html: String,
      fissionMinLinkRun: Int = 4,
      fissionMinTextWords: Int = 10,
      maxTokens: Int = Int.MaxValue): Vector[Block] = {
    val sink = new SegmentSink(fissionMinLinkRun, fissionMinTextWords)
    HtmlTokenizer.scan(html, maxTokens, sink)
    sink.result()
  }

  /** Compat path over materialized tokens (tests/tools). */
  def segment(
      tokens: IndexedSeq[HtmlTokenizer.Token],
      fissionMinLinkRun: Int = 4,
      fissionMinTextWords: Int = 10): Vector[Block] = {
    import HtmlTokenizer._
    val sink = new SegmentSink(fissionMinLinkRun, fissionMinTextWords)
    var i = 0
    while (i < tokens.length) {
      tokens(i) match {
        case StartTag(name, attrs, selfClosing) =>
          sink.startTag(name, attrs.getOrElse("id", null), attrs.getOrElse("class", null), selfClosing)
        case EndTag(name) => sink.endTag(name)
        case Text(value) => sink.text(value, 0, value.length)
      }
      i += 1
    }
    sink.result()
  }
}
