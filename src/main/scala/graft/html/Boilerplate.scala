package graft.html

import graft.core.{ExtractResult, Span}

/** Main-content extraction for HTML payloads — the north rule's non-PDF branch.
  * No reference counterpart (pdfrust is PDF-only); this is our own deterministic
  * line-wise tag-density / text-density classification in the spirit of the public
  * boilerpipe / readability algorithms (Kohlschuetter et al., WSDM 2010).
  *
  * Rules (fixed, documented, golden-gated by our own fixtures):
  *  1. <script>/<style>/<template>/<noscript> contents and comments are dropped.
  *  2. Blocks are delimited by block-level tags (p, div, h1..h6, li, br, tr, ...).
  *  3. Text inside <nav>/<header>/<footer>/<aside> containers is always boilerplate.
  *  4. A remaining block is MAIN CONTENT iff it has >= 4 words and its link density
  *     (words inside <a> / words) is <= 0.5.
  *  5. Block texts are whitespace-normalized (runs -> single space, trimmed) and
  *     joined with "\n"; one span ("html") per retained block.
  */
object HtmlBoilerplate {

  private val blockTags = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "br", "tr",
    "td", "th", "table", "article", "section", "main", "blockquote", "pre",
    "header", "footer", "nav", "aside", "form", "hr", "figure", "figcaption",
    "dl", "dt", "dd", "body", "html", "title", "head")

  private val boilerplateContainers = Set("nav", "header", "footer", "aside")
  private val skipContentTags = Set("script", "style", "template", "noscript")

  private final case class Block(text: String, words: Int, linkWords: Int, boiler: Boolean) {
    def linkDensity: Double = if (words == 0) 0.0 else linkWords.toDouble / words
  }

  private def isContent(b: Block): Boolean =
    !b.boiler && b.words >= 4 && b.linkDensity <= 0.5

  def extract(html: String): ExtractResult = {
    val bs = blocks(html).filter(isContent)
    val sb = new StringBuilder
    val spans = Vector.newBuilder[Span]
    bs.foreach { b =>
      if (sb.nonEmpty) sb.append('\n')
      val start = sb.length
      sb.append(b.text)
      spans += Span("html", start, sb.length)
    }
    ExtractResult(sb.toString, spans.result())
  }

  /** Tokenize + segment. Hand-rolled scanner: no external parser dependencies. */
  private def blocks(html: String): Vector[Block] = {
    val out = Vector.newBuilder[Block]
    val text = new StringBuilder
    var words = 0
    var linkWords = 0
    var linkDepth = 0
    var boilerDepth = 0

    def flush(): Unit = {
      val t = normalize(text.toString)
      if (t.nonEmpty) out += Block(t, words, linkWords, boilerDepth > 0)
      text.clear(); words = 0; linkWords = 0
    }

    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else {
          val close = html.indexOf('>', i + 1)
          if (close < 0) { i = n }
          else {
            val rawTag = html.substring(i + 1, close)
            val isEnd = rawTag.startsWith("/")
            val body = if (isEnd) rawTag.substring(1) else rawTag
            val nameEnd = body.indexWhere(ch => ch.isWhitespace || ch == '/')
            val name = (if (nameEnd < 0) body else body.substring(0, nameEnd)).toLowerCase
            i = close + 1
            if (skipContentTags.contains(name) && !isEnd) {
              // skip to matching close tag (no nesting of same raw-text tags in HTML);
              // case-insensitive regionMatches scan — O(n) total, no per-tag
              // whole-document toLowerCase allocation (script-heavy pages are O(n^2)
              // otherwise)
              val endTag = s"</$name"
              val idx = indexOfIgnoreCase(html, endTag, i)
              if (idx < 0) i = n
              else {
                val gt = html.indexOf('>', idx)
                i = if (gt < 0) n else gt + 1
              }
            } else if (blockTags.contains(name)) {
              flush()
              if (boilerplateContainers.contains(name)) {
                if (isEnd) boilerDepth = math.max(0, boilerDepth - 1)
                else boilerDepth += 1
              }
            } else if (name == "a") {
              if (isEnd) linkDepth = math.max(0, linkDepth - 1) else linkDepth += 1
            }
          }
        }
      } else {
        // text run until next '<'
        val next = html.indexOf('<', i)
        val end = if (next < 0) n else next
        val runRaw = html.substring(i, end)
        val run = decodeEntities(runRaw)
        val w = countWords(run)
        words += w
        if (linkDepth > 0) linkWords += w
        text.append(run)
        i = end
      }
    }
    flush()
    out.result()
  }

  /** First index of `needle` in `hay` at or after `from`, ASCII case-insensitive. */
  private def indexOfIgnoreCase(hay: String, needle: String, from: Int): Int = {
    val n = hay.length
    val m = needle.length
    var i = math.max(0, from)
    while (i + m <= n) {
      if (hay.regionMatches(true, i, needle, 0, m)) return i
      i += 1
    }
    -1
  }

  def normalize(s: String): String = {
    val sb = new StringBuilder
    var inWs = true // drop leading ws
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) { if (!inWs) { sb.append(' '); inWs = true } }
      else { sb.append(c); inWs = false }
      i += 1
    }
    // drop trailing space
    if (sb.nonEmpty && sb.charAt(sb.length - 1) == ' ') sb.deleteCharAt(sb.length - 1)
    sb.toString
  }

  private def countWords(s: String): Int = {
    var count = 0
    var inWord = false
    var i = 0
    while (i < s.length) {
      val ws = s.charAt(i).isWhitespace
      if (!ws && !inWord) { count += 1; inWord = true }
      else if (ws) inWord = false
      i += 1
    }
    count
  }

  private val entities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–", "hellip" -> "…")

  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val name = s.substring(i + 1, semi)
          if (name.startsWith("#x") || name.startsWith("#X")) {
            try { sb.appendAll(Character.toChars(Integer.parseInt(name.substring(2), 16))); i = semi + 1 }
            catch { case _: Exception => sb.append(c); i += 1 }
          } else if (name.startsWith("#")) {
            try { sb.appendAll(Character.toChars(Integer.parseInt(name.substring(1)))); i = semi + 1 }
            catch { case _: Exception => sb.append(c); i += 1 }
          } else entities.get(name) match {
            case Some(rep) => sb.append(rep); i = semi + 1
            case None      => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Escape text for embedding into an HTML fixture (SynthGen uses this). */
  def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
}
