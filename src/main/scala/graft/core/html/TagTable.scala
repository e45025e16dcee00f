package graft.core.html

/** The tag names the kernel knows, with their element categories, in one
  * flat table indexed by (lowercased ASCII first char, length).
  *
  * One probe serves both consumers: [[HtmlTokenizer]] turns a tag name in
  * the source into the interned canonical name (and learns whether it opens
  * raw text), and [[BlockSegmenter]] reads the category bits of that name.
  * Names outside the table are lowercased copies with no category bits.
  */
private[html] object TagTable {

  final val BlockLevel = 1
  final val BoilerTag = 2
  final val Skip = 4
  final val Heading = 8
  final val Li = 16
  final val Void = 32
  final val RawText = 64
  final val Anchor = 128
  final val Head = 256

  /** A known tag: its interned lowercase name and category bits. */
  final class Entry(val name: String, val flags: Int)

  private val knownNames: Seq[String] = Seq(
    "p", "div", "section", "article", "main", "aside", "nav", "header",
    "footer", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li",
    "table", "thead", "tbody", "tfoot", "tr", "td", "th", "blockquote",
    "pre", "figure", "figcaption", "form", "fieldset", "dl", "dt", "dd",
    "address", "hr", "body", "html", "head", "a", "b", "i", "em", "strong",
    "span", "small", "sub", "sup", "code", "label", "time", "abbr", "cite",
    "q", "s", "u", "mark", "br", "img", "script", "style", "noscript",
    "textarea", "title", "meta", "link", "input", "button", "select",
    "option", "iframe", "svg", "font", "center", "wbr", "source", "video",
    "audio", "picture", "canvas", "datalist", "base", "area", "col",
    "embed", "param", "track", "caption", "colgroup", "details", "summary",
    "dialog", "kbd", "samp", "var", "ins", "del", "big", "tt", "ruby")

  private val categories: Seq[(Int, Set[String])] = Seq(
    BlockLevel -> Set(
      "p", "div", "section", "article", "main", "aside", "nav", "header",
      "footer", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li",
      "table", "thead", "tbody", "tfoot", "tr", "td", "th", "blockquote",
      "pre", "figure", "figcaption", "form", "fieldset", "dl", "dt", "dd",
      "address", "hr", "body", "html", "head"),
    BoilerTag -> Set("nav", "header", "footer", "aside", "form"),
    // non-content subtrees the segmenter skips entirely
    Skip -> Set("script", "style", "noscript", "textarea", "head",
      "title", "svg", "iframe", "select", "option", "button", "datalist"),
    Heading -> Set("h1", "h2", "h3", "h4", "h5", "h6"),
    Li -> Set("li"),
    Void -> Set("area", "base", "br", "col", "embed", "hr", "img", "input",
      "link", "meta", "param", "source", "track", "wbr"),
    // consumed by the tokenizer up to the matching close tag
    RawText -> Set("script", "style", "noscript", "textarea", "title"),
    Anchor -> Set("a"),
    Head -> Set("head"))

  private val MaxLen = 10

  private val cells: Array[Array[Entry]] = {
    val all = knownNames.distinct
    categories.foreach { case (_, names) =>
      require(names.subsetOf(all.toSet), s"categorised tags outside the table: ${names -- all}")
    }
    val cs = new Array[Array[Entry]](26 * (MaxLen + 1))
    all.foreach { n =>
      val flags = categories.collect { case (bit, names) if names(n) => bit }.sum
      val k = (n.charAt(0) - 'a') * (MaxLen + 1) + n.length
      cs(k) = (if (cs(k) == null) Array.empty[Entry] else cs(k)) :+ new Entry(n, flags)
    }
    cs
  }

  /** The known tag that html[start, start+len) names, or null. Matching is
    * `String.regionMatches(ignoreCase = true)`, so Unicode case folding
    * applies (`<scrİpt>` is script); the first char picks the cell by
    * `Character.toLowerCase`. */
  def lookup(html: String, start: Int, len: Int): Entry = {
    if (len < 1 || len > MaxLen) return null
    val c0 = Character.toLowerCase(html.charAt(start))
    if (c0 < 'a' || c0 > 'z') return null
    val cell = cells((c0 - 'a') * (MaxLen + 1) + len)
    if (cell == null) return null
    var k = 0
    while (k < cell.length) {
      val e = cell(k)
      if (matches(html, start, e.name)) return e
      k += 1
    }
    null
  }

  /** `html.regionMatches(true, start, name, 0, name.length)`, deciding
    * plain ASCII directly: an ASCII char folds onto a known name's char
    * only by being it or its uppercase. */
  private def matches(html: String, start: Int, name: String): Boolean = {
    var j = 0
    while (j < name.length) {
      val c = html.charAt(start + j)
      if (c >= '\u0080') return html.regionMatches(true, start, name, 0, name.length)
      if (c != name.charAt(j) && (c < 'A' || c > 'Z' || c + 32 != name.charAt(j))) return false
      j += 1
    }
    true
  }

  /** Category bits of a canonical tag name (0 for unknown names). The
    * tokenizer hands out the table's own String instances, so `equals`
    * usually settles on its identity check. */
  def flags(name: String): Int = {
    val len = name.length
    if (len < 1 || len > MaxLen) return 0
    val c0 = name.charAt(0)
    if (c0 < 'a' || c0 > 'z') return 0
    val cell = cells((c0 - 'a') * (MaxLen + 1) + len)
    if (cell == null) return 0
    var k = 0
    while (k < cell.length) {
      if (cell(k).name == name) return cell(k).flags
      k += 1
    }
    0
  }
}
