package graftbench

import graft.core.{Extractor, ExtractorConfig, Failure, Span}
import graft.core.assemble.{PostNormalizer, TextAssembler}
import graft.core.classify.HeuristicClassifier
import graft.core.html.{BlockSegmenter, HtmlTokenizer}
import graft.core.pdf.PdfTextExtractor

/** The `core` layer, split into the kernel's public functions and timed on
  * one thread over a workload's own documents.
  *
  * The chain below calls the same public functions, in the same branch
  * order, as `Extractor.extract`, one function at a time over all documents
  * (with a timer around every per-document call, the parts summed to 10-15%
  * more than the whole kernel). Its drift guard fails loudly when, for
  * any timed document, the chain's (text, spans, failure) differs from
  * `Extractor.extract`'s, or when the timed parts do not sum to within 10%
  * of the whole kernel: then the chain no longer times the path production
  * takes, and its numbers must not be reported. */
object CoreChain {
  final case class Doc(url: String, html: Array[Byte], lang: String)

  private val Chunk = 250
  private val Parts = Seq("decode", "tokenize", "segment", "classify", "assemble", "postnorm", "pdf")
  private val Decode = 0; private val Tokenize = 1; private val Segment = 2; private val Classify = 3
  private val Assemble = 4; private val PostNorm = 5; private val Pdf = 6

  private object NoSink extends HtmlTokenizer.TokenSink {
    override def startTag(name: String, id: String, cls: String, selfClosing: Boolean): Unit = ()
    override def endTag(name: String): Unit = ()
    override def text(html: String, start: Int, end: Int): Unit = ()
  }

  private def kind(b: Array[Byte], cfg: ExtractorConfig): String =
    if (b == null || b.isEmpty || b.length > cfg.maxPayloadBytes) "other"
    else if (Extractor.isPdf(b)) "pdf"
    else if (Extractor.looksLikeHtml(b)) "html"
    else "other"

  private type Out = (String, Seq[Span], String)
  private val Empty: Out = ("", Nil, Failure.Empty)
  private val ParseError: Out = ("", Nil, Failure.ParseError)

  /** Runs `f` on every element as one timed stage, adding its nanoseconds
    * to `ns(part)`. An element whose call throws becomes a parse error, as
    * a throw anywhere in `Extractor.extract` does; failed elements skip
    * later stages. */
  private def stage[A, B](ns: Array[Long], part: Int, in: Array[Either[Out, A]])(f: A => Either[Out, B])
      : Array[Either[Out, B]] = {
    val t0 = System.nanoTime()
    val out = in.map {
      case Right(a) =>
        try f(a) catch { case scala.util.control.NonFatal(_) => Left(ParseError) }
      case Left(done) => Left(done)
    }
    ns(part) += System.nanoTime() - t0
    out
  }

  /** One chained pass over all documents, one public function at a time,
    * in `Extractor.extract`'s branch order; adds each part's nanoseconds
    * to `ns` and returns every document's (text, spans, failure). */
  private def chain(docs: Array[Doc], cfg: ExtractorConfig, ns: Array[Long]): Array[Out] = {
    val kinds = docs.map(d => kind(d.html, cfg))
    def ofKind(k: String): Array[Either[Out, Doc]] = docs.indices.filter(kinds(_) == k).map(i => Right(docs(i))).toArray
    val html = ofKind("html")
    val decoded = stage(ns, Decode, html) { d =>
      Right((d, Extractor.decode(d.html)))
    }
    stage(ns, Tokenize, decoded) { case (_, text) => Right(HtmlTokenizer.scan(text, cfg.maxTokens, NoSink)) }
    val blocks = stage(ns, Segment, decoded) { case (d, text) =>
      val b = BlockSegmenter.segmentDirect(text, cfg.fissionMinLinkRun, cfg.fissionMinTextWords, cfg.maxTokens)
      if (b.isEmpty) Left(Empty) else Right((d, b))
    }
    val kept = stage(ns, Classify, blocks) { case (d, b) => Right((d, HeuristicClassifier.classify(b, cfg))) }
    val assembled = stage(ns, Assemble, kept) { case (d, k) => Right((d, TextAssembler.assembleBlocks(k, cfg, d.lang))) }
    val htmlOut = stage(ns, PostNorm, assembled) { case (d, (t0, s0)) =>
      val (t1, s1) = PostNormalizer.applyWithSpans(t0, s0, d.lang)
      if (t1.isEmpty) Left(Empty) else Right((t1, s1, Failure.Ok): Out)
    }

    val pdfText = stage(ns, Pdf, ofKind("pdf")) { d =>
      PdfTextExtractor.extract(d.html, cfg, rtl = cfg.rtlLangs.contains(d.lang)) match {
        case Some((t0, s0)) if t0.exists(!_.isWhitespace) => Right((d, t0, s0))
        case Some(_) => Left(Empty)
        case None => Left(ParseError)
      }
    }
    val pdfOut = stage(ns, PostNorm, pdfText) { case (d, t0, s0) =>
      val (t1, s1) = PostNormalizer.applyWithSpans(t0, s0, d.lang)
      if (t1.exists(!_.isWhitespace)) Right((t1, s1, Failure.Ok): Out) else Left(Empty)
    }

    val fromHtml = htmlOut.iterator.map(_.merge)
    val fromPdf = pdfOut.iterator.map(_.merge)
    docs.indices.map { i =>
      val b = docs(i).html
      kinds(i) match {
        case "html" => fromHtml.next()
        case "pdf" => fromPdf.next()
        case _ =>
          if (b == null || b.isEmpty) Empty
          else if (b.length > cfg.maxPayloadBytes) ("", Nil, Failure.Oversize): Out
          else ("", Nil, Failure.Unsupported): Out
      }
    }.toArray
  }

  /** Times the chain and the whole kernel over `docs` and returns the
    * `core.*` metrics. The two alternate chunk by chunk for `rounds` passes,
    * so that collector pauses and contention from other processes fall on
    * both alike and cannot trip the drift guard. */
  def profile(docs: Seq[Doc], rounds: Int = 3): Map[String, Metric] = {
    val cfg = ExtractorConfig.default
    require(!(cfg.spellRepair && cfg.dictionary.nonEmpty),
      "the production-default config enables spell repair, which the core chain does not time")
    require(docs.nonEmpty, "core chain has no documents to time")
    val ex = new Extractor(cfg)

    // drift guard, part 1: the chain must reproduce the kernel on every doc
    val all = docs.toArray
    val reference = docs.map(d => ex.extract(d.url, d.html, d.lang))
    docs.iterator.zip(chain(all, cfg, new Array[Long](Parts.length)).iterator).zip(reference.iterator).foreach {
      case ((d, (text, spans, failure)), r) =>
      if (text != r.text || spans != r.spans || failure != r.failure)
        throw new IllegalStateException(
          s"core chain drifted from Extractor.extract on ${d.url}: " +
            s"failure $failure vs ${r.failure}, ${text.length} vs ${r.text.length} chars, " +
            s"${spans.length} vs ${r.spans.length} spans")
    }

    val ns = new Array[Long](Parts.length)
    var whole = 0L
    for (_ <- 1 to rounds; chunk <- all.grouped(Chunk)) {
      chain(chunk, cfg, ns)
      val t0 = System.nanoTime()
      chunk.foreach(d => ex.extract(d.url, d.html, d.lang))
      whole += System.nanoTime() - t0
    }
    ns(Segment) -= ns(Tokenize) // segmentDirect runs the tokenizer inside
    val n = docs.length.toDouble * rounds
    def usPerDoc(ns: Double): Double = ns / 1e3 / n
    val parts = ns.toSeq.map(_.toDouble)
    val unattributed = whole - parts.sum

    // drift guard, part 2: the parts must account for the kernel's time
    if (math.abs(unattributed) > 0.10 * whole)
      throw new IllegalStateException(
        f"core chain parts sum to ${usPerDoc(parts.sum)}%.2f us/doc against " +
          f"${usPerDoc(whole)}%.2f us/doc for Extractor.extract (more than 10%% apart)")

    val kinds = docs.groupBy(d => kind(d.html, cfg)).map { case (k, v) => k -> v.length }
    val ok = reference.count(_.failure == Failure.Ok)
    Parts.zip(parts).map { case (p, v) => s"core.$p.us_per_doc" -> Metric(usPerDoc(v), "us") }.toMap ++ Map(
      "core.extract.us_per_doc" -> Metric(usPerDoc(whole), "us"),
      "core.unattributed.us_per_doc" -> Metric(usPerDoc(unattributed), "us"),
      "core.docs.html" -> Metric(kinds.getOrElse("html", 0).toDouble, "count"),
      "core.docs.pdf" -> Metric(kinds.getOrElse("pdf", 0).toDouble, "count"),
      "core.docs.other" -> Metric(kinds.getOrElse("other", 0).toDouble, "count"),
      "core.ok_ratio" -> Metric(ok.toDouble / docs.length, "ratio"),
      "core.bytes_in" -> Metric(docs.map(d => if (d.html == null) 0L else d.html.length.toLong).sum.toDouble, "bytes"),
      "core.chars_out" -> Metric(reference.map(_.n_chars.toLong).sum.toDouble, "chars"))
  }
}
