package graft.core.assemble

import graft.core.{Block, ExtractorConfig, Span}

/** Text + span assembly — THIS FILE OWNS THE BYTE CONTRACT.
  *
  * The analog of the reference's text emitter (collectText + displayText,
  * main/gtkDisplay.c:202-365) and its post-processing normalizer battery
  * (fixutf8.pl). Every rule here is order-sensitive and pinned by unit tests;
  * the FixtureGen oracle calls these same pure functions on its known
  * source-of-truth content strings, so segmentation+classification are tested
  * against an independently assembled expectation.
  *
  * Output contract:
  *   - kept blocks, document order, each normalized by [[normalizeBlock]];
  *   - blocks joined by "\n\n";
  *   - non-empty output always ends with exactly one "\n" (the reference
  *     ensures a trailing newline, main/gtkDisplay.c:326-332);
  *   - spans(i) = [begin, end) of block i's text in the output, kind = block
  *     kind; the trailing "\n" and the "\n\n" separators are outside spans.
  */
object TextAssembler {

  /** Ordered character-level normalizations (P1 analog, fixutf8.pl:16-45).
    * ORDER MATTERS; applied before whitespace collapse. */
  def normalizeChars(s: String): String = {
    if (s.isEmpty) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        // 1. soft hyphen stripped (fixutf8.pl soft-hyphen rule)
        case '\u00AD' =>
        // 2. zero-width chars stripped (ZWSP, ZWNJ, ZWJ, BOM)
        case '\u200B' | '\u200C' | '\u200D' | '\uFEFF' =>
        // 3. latin ligatures expanded
        case '\uFB00' => sb.append("ff")
        case '\uFB01' => sb.append("fi")
        case '\uFB02' => sb.append("fl")
        case '\uFB03' => sb.append("ffi")
        case '\uFB04' => sb.append("ffl")
        // 4. NBSP family -> plain space (NBSP, NNBSP, THIN SPACE)
        case '\u00A0' | '\u202F' | '\u2009' => sb.append(' ')
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Collapse every whitespace run to a single space and trim. */
  def collapseWhitespace(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    var started = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
        started = true
      }
      i += 1
    }
    sb.toString
  }

  /** Full per-block normalization for the HTML branch. Semantically
    * IDENTICAL to `collapseWhitespace(normalizeChars(s))` (property-tested)
    * but fused into one pass — this runs once per block per document and the
    * intermediate copy showed up in kernel profiles. */
  def normalizeBlock(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var started = false
    def emit(c: Char): Unit = {
      if (c.isWhitespace) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
        started = true
      }
    }
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      c match {
        case '\u00AD' | '\u200B' | '\u200C' | '\u200D' | '\uFEFF' => // stripped
        case '\uFB00' => emit('f'); emit('f')
        case '\uFB01' => emit('f'); emit('i')
        case '\uFB02' => emit('f'); emit('l')
        case '\uFB03' => emit('f'); emit('f'); emit('i')
        case '\uFB04' => emit('f'); emit('f'); emit('l')
        case '\u00A0' | '\u202F' | '\u2009' => emit(' ')
        case other => emit(other)
      }
      i += 1
    }
    sb.toString
  }

  /** BiDi visual reordering for RTL documents (T4 analog: fribidi
    * log2vis with RTL base direction, main/gtkDisplay.c:306-337), via
    * java.text.Bidi. Applied per block (blocks are single logical lines
    * after whitespace collapse). Returns the input unchanged when no BiDi
    * processing is required. */
  def bidiVisual(line: String, rtlBase: Boolean): String = {
    if (line.isEmpty) return line
    if (!rtlBase) {
      // fast path: every RTL-directional code unit (Hebrew/Arabic blocks,
      // RLM/RLE/RLO marks, presentation forms) is >= U+0590, so a line of
      // smaller chars can never require BiDi — skips the toCharArray copy
      // + directionality scan for the (dominant) latin case
      var i = 0
      val nn = line.length
      while (i < nn && line.charAt(i) < '\u0590') i += 1
      if (i == nn) return line
      if (!java.text.Bidi.requiresBidi(line.toCharArray, 0, line.length)) return line
    }
    val base =
      if (rtlBase) java.text.Bidi.DIRECTION_DEFAULT_RIGHT_TO_LEFT
      else java.text.Bidi.DIRECTION_DEFAULT_LEFT_TO_RIGHT
    val bidi = new java.text.Bidi(line, base)
    if (bidi.isLeftToRight) return line
    val rc = bidi.getRunCount
    val levels = new Array[Byte](rc)
    val runs = new Array[AnyRef](rc)
    var i = 0
    while (i < rc) {
      levels(i) = bidi.getRunLevel(i).toByte
      val s = line.substring(bidi.getRunStart(i), bidi.getRunLimit(i))
      // odd (RTL) runs render right-to-left: reverse their clusters
      runs(i) = if ((bidi.getRunLevel(i) & 1) == 1) reverseRun(s) else s
      i += 1
    }
    java.text.Bidi.reorderVisually(levels, 0, runs, 0, rc)
    runs.mkString
  }

  /** Reverse an RTL run VISUALLY: combining marks stay attached after
    * their base (fribidi keeps clusters intact — the reference's reorder,
    * main/gtkDisplay.c:306-337) and surrogate pairs are never split. A
    * naive per-char reverse emitted mark-before-base sequences (breaking
    * the downstream yi-utf8/fixspell rules that match base+mark) and
    * ill-formed UTF-16 for supplementary-plane RTL scripts (round-3
    * review finding). */
  private def reverseRun(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var end = s.length
    var i = s.length
    while (i > 0) {
      val cp = s.codePointBefore(i)
      i -= Character.charCount(cp)
      val t = Character.getType(cp)
      val isMark = t == Character.NON_SPACING_MARK ||
        t == Character.COMBINING_SPACING_MARK || t == Character.ENCLOSING_MARK
      if (!isMark) { sb.append(s, i, end); end = i }
    }
    if (end > 0) sb.append(s, 0, end) // leading orphan marks: visual end
    sb.toString
  }

  /** Assemble kept blocks into (text, spans). */
  def assemble(kept: Seq[(String, String)]): (String, Vector[Span]) = {
    if (kept.isEmpty) return ("", Vector.empty)
    val sb = new java.lang.StringBuilder
    val spans = Vector.newBuilder[Span]
    var first = true
    kept.foreach { case (text, kind) =>
      if (!first) sb.append("\n\n")
      val begin = sb.length
      sb.append(text)
      spans += Span(begin, sb.length, kind)
      first = false
    }
    sb.append('\n')
    (sb.toString, spans.result())
  }

  /** End-to-end assembly of classified blocks for the HTML branch: the same
    * (text, spans) as [[assemble]] over each block's [[normalizeBlock]]
    * (then [[bidiVisual]] for RTL languages), blocks that normalize to
    * empty dropped. Non-RTL blocks normalize straight into one output
    * buffer, with no string built per block. */
  def assembleBlocks(
      classified: Seq[(Block, String)],
      cfg: ExtractorConfig,
      lang: String): (String, Vector[Span]) = {
    val rtl = cfg.rtlLangs.contains(lang)
    var capacity = 1
    classified.foreach { case (b, _) => capacity += b.text.length + 2 }
    val out = new Output(capacity)
    val spans = Vector.newBuilder[Span]
    classified.foreach { case (b, kind) =>
      val mark = out.length
      if (mark > 0) { out.put('\n'); out.put('\n') }
      val begin = out.length
      if (rtl) out.put(bidiVisual(normalizeBlock(b.text), rtlBase = true))
      else normalizeBlockInto(out, b.text)
      if (out.length == begin) out.length = mark
      else spans += Span(begin, out.length, kind)
    }
    if (out.length == 0) return ("", Vector.empty)
    out.put('\n')
    (out.result, spans.result())
  }

  /** One document's assembled text: a char array sized for the blocks'
    * raw text, grown only when ligatures expand it. */
  private final class Output(capacity: Int) {
    private var chars = new Array[Char](capacity)
    var length = 0
    private var started = false
    private var pendingSpace = false

    def put(c: Char): Unit = {
      if (length == chars.length) chars = java.util.Arrays.copyOf(chars, length * 2)
      chars(length) = c
      length += 1
    }

    def put(s: String): Unit = {
      var i = 0
      while (i < s.length) { put(s.charAt(i)); i += 1 }
    }

    def startBlock(): Unit = { started = false; pendingSpace = false }

    /** [[normalizeBlock]]'s whitespace rule: runs collapse to one space,
      * none leading or trailing. */
    def emit(c: Char): Unit =
      if ((c > ' ' && c < '\u0080') || !Character.isWhitespace(c)) {
        if (pendingSpace) { put(' '); pendingSpace = false }
        put(c)
        started = true
      } else if (started) pendingSpace = true

    def result: String = new String(chars, 0, length)
  }

  /** [[normalizeBlock]] of `s`, written to `out`. */
  private def normalizeBlockInto(out: Output, s: String): Unit = {
    out.startBlock()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < '\u00A0') out.emit(c) // below every char the normalization rewrites
      else c match {
        case '\u00AD' | '\u200B' | '\u200C' | '\u200D' | '\uFEFF' => // stripped
        case '\uFB00' => out.emit('f'); out.emit('f')
        case '\uFB01' => out.emit('f'); out.emit('i')
        case '\uFB02' => out.emit('f'); out.emit('l')
        case '\uFB03' => out.emit('f'); out.emit('f'); out.emit('i')
        case '\uFB04' => out.emit('f'); out.emit('f'); out.emit('l')
        case '\u00A0' | '\u202F' | '\u2009' => out.emit(' ')
        case other => out.emit(other)
      }
      i += 1
    }
  }
}
