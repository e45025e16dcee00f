package graft.core

import graft.core.assemble.TextAssembler
import graft.core.classify.{BlockClassifier, HeuristicClassifier}
import graft.core.html.{BlockSegmenter, HtmlTokenizer}
import graft.core.pdf.PdfTextExtractor
import java.nio.charset.{Charset, StandardCharsets}

/** The extraction kernel: one pure function `PageRow → ExtractedRow`.
  *
  * The whole-document analog of the reference's per-page pipeline
  * (main/main.c:233-297: read → binarize → deskew → segment → features →
  * classify → assemble). Pure and deterministic — Spark task retries and
  * speculation are safe; byte-identity per url is achievable.
  *
  * Failure is data, not exceptions (reference sentinels ▮/·/XX,
  * main/ocr.h:208, main/kd.c:233-238 → `failure` taxonomy column).
  */
final class Extractor(
    cfg: ExtractorConfig = ExtractorConfig.default,
    classifier: BlockClassifier = HeuristicClassifier) extends Serializable {

  // one corrector per Extractor instance (per task) — its memo cache is the
  // fixspell `%corrected` analog and must outlive single documents. The
  // "yi" profile is the VERBATIM fixspell.pl pipeline (regex corrections,
  // exact-match ok words); anything else is the generalized latin mechanism.
  // the LOSSLESS variant: the repairer runs per block slice, and a block
  // boundary is not a document EOF — a trailing word+maqaf must survive
  @transient private lazy val spellRepairer: String => String =
    if (cfg.spellProfile == "yi")
      new graft.core.assemble.FixspellRepair(cfg.dictionary).correctTextLossless _
    else new graft.core.assemble.SpellRepair(cfg.dictionary).correctText _

  def extract(url: String, bytes: Array[Byte], lang: String): ExtractedRow = {
    val nIn = if (bytes == null) 0L else bytes.length.toLong
    def row(text: String, spans: Seq[Span], failure: String, nBlocks: Int): ExtractedRow =
      ExtractedRow(url, text, spans, failure, nBlocks, text.length, nIn, lang)

    try {
      if (bytes == null || bytes.length == 0) row("", Nil, Failure.Empty, 0)
      else if (bytes.length > cfg.maxPayloadBytes) row("", Nil, Failure.Oversize, 0)
      else if (Extractor.isPdf(bytes)) {
        PdfTextExtractor.extract(bytes, cfg, rtl = cfg.rtlLangs.contains(lang)) match {
          case Some((text0, spans0)) if text0.exists(!_.isWhitespace) =>
            // the post pipeline runs on the PDF branch too (round-4
            // review): the reference pipe these passes port (fixutf8 |
            // fixspell) is the OCR/print-document pipeline, so a Yiddish
            // PDF under the `yi` profile must get the same normalization
            // + repair the HTML branch gets — previously it silently
            // skipped both and identical content diverged by payload kind
            val (text1, spans1) = assemble.PostNormalizer.applyWithSpans(text0, spans0, lang)
            val (text, spans) =
              if (cfg.spellRepair && cfg.dictionary.nonEmpty)
                Spans.rewrite(text1, spans1)(spellRepairer)
              else (text1, spans1)
            if (text.exists(!_.isWhitespace)) row(text, spans, Failure.Ok, spans.length)
            else row("", Nil, Failure.Empty, 0)
          case Some(_) => row("", Nil, Failure.Empty, 0)
          case None => row("", Nil, Failure.ParseError, 0)
        }
      } else if (Extractor.looksLikeHtml(bytes)) {
        val decoded = Extractor.decode(bytes)
        // fast path: scan streams straight into block accumulation
        val blocks = BlockSegmenter.segmentDirect(
          decoded, cfg.fissionMinLinkRun, cfg.fissionMinTextWords, cfg.maxTokens)
        if (blocks.isEmpty) row("", Nil, Failure.Empty, 0)
        else {
          val kept = classifier.classify(blocks, cfg)
          val (text0, spans0) = TextAssembler.assembleBlocks(kept, cfg, lang)
          // language-keyed post passes (P3-P5 analog); no-op unless `lang`
          // has a registered rule set
          val (text1, spans1) = assemble.PostNormalizer.applyWithSpans(text0, spans0, lang)
          // optional dictionary spell repair (P2 analog), span-preserving
          val (text, spans) =
            if (cfg.spellRepair && cfg.dictionary.nonEmpty)
              Spans.rewrite(text1, spans1)(spellRepairer)
            else (text1, spans1)
          if (text.isEmpty) row("", Nil, Failure.Empty, 0)
          else row(text, spans, Failure.Ok, spans.length)
        }
      } else row("", Nil, Failure.Unsupported, 0)
    } catch {
      case scala.util.control.NonFatal(_) => row("", Nil, Failure.ParseError, 0)
    }
  }

  def extract(page: PageRow): ExtractedRow = extract(page.url, page.html, page.lang)

  /** Per-block classifier diagnostics (S9 `-T` parity, main/kd.c:225-235):
    * one [[BlockDiag]] per CANDIDATE block of the HTML branch, in document
    * order, labeled with the classifier's decision ("dropped" when not
    * kept). Non-HTML payloads (PDF/garbage/empty/oversize) yield no rows —
    * the feature dump is a classifier-debugging surface and the PDF branch
    * has no classifier. Same gating as [[extract]]; parse errors yield
    * no rows rather than throwing. */
  def diagnostics(url: String, bytes: Array[Byte], lang: String): Seq[BlockDiag] = {
    if (bytes == null || bytes.length == 0 || bytes.length > cfg.maxPayloadBytes ||
        Extractor.isPdf(bytes) || !Extractor.looksLikeHtml(bytes)) return Nil
    try {
      val decoded = Extractor.decode(bytes)
      val blocks = BlockSegmenter.segmentDirect(
        decoded, cfg.fissionMinLinkRun, cfg.fissionMinTextWords, cfg.maxTokens)
      val kept = classifier.classify(blocks, cfg)
      // classify returns the SAME instances in document order — a single
      // forward walk labels every candidate by reference identity
      var k = 0
      val out = Vector.newBuilder[BlockDiag]
      var i = 0
      while (i < blocks.length) {
        val b = blocks(i)
        val label =
          if (k < kept.length && (kept(k)._1 eq b)) { val l = kept(k)._2; k += 1; l }
          else null
        out += BlockDiag(url, i, if (label == null) "dropped" else label,
          label != null, b.words, b.linkWords, b.tagPath, b.depth)
        i += 1
      }
      out.result()
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }
}

object Extractor {
  val default: Extractor = new Extractor()

  /** %PDF magic (reference sniffs TIFF-vs-PDF upstream, main/Makefile:70-93). */
  def isPdf(bytes: Array[Byte]): Boolean =
    bytes.length >= 5 && bytes(0) == '%' && bytes(1) == 'P' &&
      bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-'

  /** HTML sniff: a '<' among the first non-whitespace bytes and mostly
    * text-looking content (no NUL in the first 512 bytes). */
  def looksLikeHtml(bytes: Array[Byte]): Boolean = {
    val n = math.min(bytes.length, 512)
    var i = 0
    var sawLt = false
    while (i < n) {
      val b = bytes(i)
      if (b == 0) return false
      if (!sawLt) {
        if (b == '<') sawLt = true
        else if (!Character.isWhitespace(b.toChar) && i > 64) return false
      }
      i += 1
    }
    sawLt
  }

  /** windows-1252 — the real JVM charset, NOT ISO-8859-1: bytes 0x80–0x9F
    * are smart quotes / dashes / bullets in cp1252 but C1 controls in
    * latin-1, and a large slice of the web declares one while meaning the
    * other. Following the WHATWG encoding standard, latin-1 labels are
    * decoded AS windows-1252 (VERDICT r1 fix #3). */
  private val cp1252: Charset = Charset.forName("windows-1252")

  /** Charset detection: BOM, else meta-charset sniff over the first 1024
    * bytes, else UTF-8. Bad bytes decode to U+FFFD (fixed policy — SURVEY
    * §7.4.2). */
  def decode(bytes: Array[Byte]): String = {
    if (bytes.length >= 3 && (bytes(0) & 0xFF) == 0xEF && (bytes(1) & 0xFF) == 0xBB && (bytes(2) & 0xFF) == 0xBF)
      return new String(bytes, 3, bytes.length - 3, StandardCharsets.UTF_8)
    val name = declaredCharset(bytes, math.min(bytes.length, 1024))
    val cs: Charset =
      if (name != null) {
        val lower = name.toLowerCase
        if (lower == "iso-8859-1" || lower == "latin1" || lower == "latin-1" || lower == "windows-1252")
          cp1252
        else StandardCharsets.UTF_8
      } else StandardCharsets.UTF_8
    new String(bytes, cs) // CharsetDecoder default REPLACE via String ctor
  }

  /** The label of the first `charset\s*=\s*["']?([A-Za-z0-9_:.-]+)` in
    * bytes[0, limit), matched case-insensitively for ASCII letters only,
    * with `\s` = [ \t\n\x0B\f\r]; null when there is none. A `charset`
    * without a label after it does not end the search, and the label is
    * cut at `limit`. */
  private def declaredCharset(bytes: Array[Byte], limit: Int): String = {
    def isSpace(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
    def isLabel(b: Byte): Boolean =
      (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9') ||
        b == '_' || b == ':' || b == '.' || b == '-'
    var p = 0
    while (p + 9 <= limit) { // "charset=x" is the shortest match
      if ((bytes(p) | 0x20) == 'c' && (bytes(p + 1) | 0x20) == 'h' && (bytes(p + 2) | 0x20) == 'a' &&
          (bytes(p + 3) | 0x20) == 'r' && (bytes(p + 4) | 0x20) == 's' && (bytes(p + 5) | 0x20) == 'e' &&
          (bytes(p + 6) | 0x20) == 't') {
        var i = p + 7
        while (i < limit && isSpace(bytes(i))) i += 1
        if (i < limit && bytes(i) == '=') {
          i += 1
          while (i < limit && isSpace(bytes(i))) i += 1
          if (i < limit && (bytes(i) == '"' || bytes(i) == '\'')) i += 1
          val start = i
          while (i < limit && isLabel(bytes(i))) i += 1
          if (i > start) return new String(bytes, start, i - start, StandardCharsets.ISO_8859_1)
        }
      }
      p += 1
    }
    null
  }
}
