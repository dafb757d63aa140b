package graft.pipeline

import java.nio.charset.StandardCharsets.ISO_8859_1

/** Deterministic PDF writer behind every synthetic document in the repo: the
  * transcript generator's corpus, the benchmark corpora, the PDF queries,
  * the fuzz bases and the round-trip gates.
  *
  * Every shape builds a list of [[Obj]]s and hands it to ONE byte writer:
  * [[classic]] for the header / `N 0 obj … endobj` / one-subsection xref /
  * trailer layout, or the same object writer followed by the shape's own
  * cross-reference section (xref stream, object streams, incremental
  * updates). Text is encoded ISO-8859-1 (a char outside Latin-1 becomes one
  * `?` byte), and every xref offset, `/Prev` and `startxref` is the byte
  * count of the output written so far — never a char count, which a
  * supplementary-plane char (two UTF-16 chars, one byte) would throw off.
  *
  * The standard page is the classic shape of the reference's helloworld
  * fixture: catalog -> pages -> page -> contents with a single
  * `BT .. Tj .. ET`, so a synthesized PDF round-trips byte-exactly through
  * the extraction engine.
  */
object MiniPdf {

  /** One indirect object: a dictionary, followed by `stream` bytes when set.
    * A stream is framed as `dict \n stream \n bytes \n endstream`.
    */
  private[graft] final case class Obj(dict: String, stream: Array[Byte] = null)

  /** Stream object whose dictionary is `<< /Length n$extra >>`. */
  private[graft] def stream(data: Array[Byte], extra: String = ""): Obj =
    Obj(s"<< /Length ${data.length}$extra >>", data)

  private def latin1(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  /** Append-only byte sink: offsets are `size`, i.e. bytes written so far. */
  private final class Out {
    private val out = new java.io.ByteArrayOutputStream()
    def size: Int = out.size()
    def write(b: Array[Byte]): Unit = out.write(b, 0, b.length)
    def write(s: String): Unit = write(latin1(s))

    /** Write object `num` at the current offset and return that offset. */
    def obj(num: Int, o: Obj, gen: Int = 0): Int = {
      val off = size
      write(s"$num $gen obj\n"); write(o.dict)
      if (o.stream != null) { write("\nstream\n"); write(o.stream); write("\nendstream") }
      write("\nendobj\n")
      off
    }
    def bytes: Array[Byte] = out.toByteArray
  }

  /** Classic single-revision document: header, objects 1..n in order, one
    * xref subsection `0 n+1`, and the trailer
    * `<< /Size n+1 /Root 1 0 R$trailerExtra >>`.
    */
  private[graft] def classic(objects: Seq[Obj], trailerExtra: String,
                             version: String = "1.4"): Array[Byte] = {
    val out = new Out
    out.write(s"%PDF-$version\n")
    val offsets = objects.zipWithIndex.map { case (o, i) => out.obj(i + 1, o) }
    val xrefOff = out.size
    out.write(s"xref\n0 ${objects.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(off => out.write(f"$off%010d 00000 n \n"))
    out.write(s"trailer\n<< /Size ${objects.length + 1} /Root 1 0 R$trailerExtra >>\n")
    out.write(s"startxref\n$xrefOff\n%%EOF")
    out.bytes
  }

  /** zlib (level 6) of `data`, drained until the deflater finishes: a single
    * `deflate` call into a fixed buffer silently truncates incompressible
    * input. Deterministic: JDK Deflater with a fixed level on fixed input.
    */
  private[graft] def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    try {
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](data.length + 64)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Escape a literal string payload: backslash and parens (PDF 1.7 table 3.2). */
  def escapeLiteral(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '('  => sb.append("\\(")
      case ')'  => sb.append("\\)")
      case c    => sb.append(c)
    }
    sb.toString
  }

  /** The document Info title is the first 24 chars of the text (escaped). */
  def titleOf(text: String): String = text.take(24)

  /** The standard text block around `shows` (Tj lines ending in '\n'). */
  private def textBlock(shows: String): String = s"BT\n70 50 TD\n/F1 12 Tf\n${shows}ET\n"

  /** The standard content string: `text` as one Tj. */
  private def showText(text: String): String = textBlock(s"(${escapeLiteral(text)}) Tj\n")

  private def info(title: String, author: String = "graft", creator: String = "minipdf"): String =
    s"<< /Title ($title) /Author ($author) /Creator ($creator) >>"

  private def infoOf(text: String): String = info(escapeLiteral(titleOf(text)))

  private def pageDict(fontObj: Int, contentsObj: Int, xobject: String = ""): String =
    s"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 $fontObj 0 R >> $xobject>> " +
      s"/Contents $contentsObj 0 R >>"

  private def helvetica(extra: String = ""): String =
    s"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica$extra >>"

  /** The standard six-object page: 1 catalog, 2 pages, 3 page, 4 `content`,
    * 5 font, 6 info. `fontExtra` and `xobject` splice into the font and the
    * page resources; objects from 7 on are the caller's.
    */
  private def pageObjects(content: Obj, info: String, fontExtra: String = "",
                          xobject: String = ""): Seq[Obj] = Seq(
    Obj("<< /Type /Catalog /Pages 2 0 R >>"),
    Obj("<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
    Obj(pageDict(5, 4, xobject)),
    content,
    Obj(helvetica(fontExtra)),
    Obj(info))

  /** [[classic]] over the standard page, Info at object 6. */
  private def onePage(content: Obj, text: String): Array[Byte] =
    classic(pageObjects(content, infoOf(text)), " /Info 6 0 R")

  /** Single-page document around an ARBITRARY raw content stream (round 6 —
    * the quirk-differential harness crafts operator-level constructs: octal
    * escapes, NUL whitespace, arity quirks, TJ kerning) with the same
    * scaffolding as [[synthesize]]. The content travels byte-preserving
    * (ISO-8859-1), so NUL and high bytes survive.
    */
  def synthesizeRawContent(content: String): Array[Byte] =
    onePage(stream(latin1(content)), "raw content probe")

  /** Build a complete PDF whose Extract::Text equals `text` (modulo the per-page
    * leading '\n'/' ' trim — content.rs:950 semantics) for printable-ASCII
    * text. Newlines in `text` pass through Tj byte-as-char.
    */
  def synthesize(text: String): Array[Byte] = onePage(stream(latin1(showText(text))), text)

  /** Single-page document whose font carries an UNCOMPRESSED /ToUnicode CMap
    * stream (round 7 — cmap-edge differential probes). `bf` is spliced
    * verbatim after the codespace range (e.g.
    * `"1 beginbfchar <41> <0042> endbfchar"`); `twoByte` selects the
    * one-vs-two-byte codespace (is_two_bytes — cmap.rs:41-45). Content shows
    * glyphs through the CMap'd TJ path with hex strings; Tj stays
    * byte-as-char (the reference quirk this contrasts against).
    */
  def synthesizeWithCMap(content: String, bf: String, twoByte: Boolean = false): Array[Byte] = {
    val range = if (twoByte) "<0000> <FFFF>" else "<00> <FF>"
    val cmap = "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
      s"1 begincodespacerange\n$range\nendcodespacerange\n$bf\nendcmap\nend\nend"
    classic(pageObjects(stream(latin1(content)), info("cmap probe"), fontExtra = " /ToUnicode 7 0 R")
      :+ stream(latin1(cmap)), " /Info 6 0 R")
  }

  def synthesizeBase64(text: String): String =
    java.util.Base64.getEncoder.encodeToString(synthesize(text))

  /** INCREMENTAL-UPDATE document (round 7, VERDICT r6 #6): the [[synthesize]]
    * base revision showing `texts.head`, followed by one classic append-only
    * update per remaining element — each update rewrites the CONTENT STREAM
    * object (4) to show its text, then appends a single-subsection xref table
    * covering the rewritten slot, a trailer whose /Prev points at the previous
    * revision's table (xref.rs:123-129 recursion), and a fresh
    * startxref/%%EOF. The reference resolves 4 0 R through the NEWEST table
    * first, so the extracted text is texts.last — unless shadowing is defeated
    * (below).
    *
    * `overrideGen`: generation written on the rewritten object AND its xref
    * entry in every update. The reference keys its table by the entry's OWN
    * generation (xref.rs:219 `(object_idx, o.generation)`), so a bumped-gen
    * update (gen=1) does NOT shadow the (4,0) key the page's `/Contents 4 0 R`
    * looks up — lookup falls through /Prev to the ORIGINAL object and the
    * update is silently invisible (reference quirk, replicated).
    *
    * `freeObj5Gen`: when >= 0, the FINAL update's subsection widens to `4 2`
    * and marks object 5 (the font) freed with that generation. Gen 0 registers
    * key (5,0): the font lookup hits the freed entry and the reference PANICS
    * ("XReftable object was freed") the moment a Tj needs the font. Gen 65535
    * registers key (5,65535): invisible to the (5,0) lookup, which falls
    * through /Prev to the live font — the standard freed-entry convention is a
    * no-op in the reference (quirk, replicated).
    */
  def synthesizeIncremental(
      texts: Seq[String],
      overrideGen: Int = 0,
      freeObj5Gen: Int = -1
  ): Array[Byte] = {
    require(texts.nonEmpty, "need at least the base revision")
    val base = synthesize(texts.head)
    val out = new Out
    out.write(base)
    // byte offset of the newest xref table (the base scaffold writes it right
    // before "trailer"); tracked across updates for the /Prev chain
    var prevXref = new String(base, ISO_8859_1).lastIndexOf("xref\n0 7\n")
    require(prevXref > 0, "base xref table not found")
    texts.drop(1).zipWithIndex.foreach { case (text, i) =>
      val isLast = i == texts.length - 2
      out.write("\n")
      val objOff = out.obj(4, stream(latin1(showText(text))), overrideGen)
      val xrefOff = out.size
      val freeHere = isLast && freeObj5Gen >= 0
      out.write(if (freeHere) "xref\n4 2\n" else "xref\n4 1\n")
      out.write(f"$objOff%010d $overrideGen%05d n \n")
      if (freeHere) out.write(f"${0}%010d $freeObj5Gen%05d f \n")
      out.write(s"trailer\n<< /Size 7 /Root 1 0 R /Info 6 0 R /Prev $prevXref >>\n")
      out.write(s"startxref\n$xrefOff\n%%EOF")
      prevXref = xrefOff
    }
    out.bytes
  }

  /** Variant whose content stream shows the text as MULTIPLE consecutive Tj
    * instructions, one per `chunk`-char slice — a multi-span page. Consecutive
    * Tjs share the text matrix (Tj never advances tm — content.rs:752-765
    * quirk), so ty is unchanged and no newline is inferred between them: the
    * extracted text still equals `text`, but the span sidecar carries one Tj
    * span per non-empty chunk at offsets (i*chunk, min((i+1)*chunk, len)).
    * Empty text produces zero Tj instructions and zero spans.
    */
  def synthesizeMultiTj(text: String, chunk: Int): Array[Byte] = {
    val tjs = text.grouped(chunk).map(c => s"(${escapeLiteral(c)}) Tj\n").mkString
    onePage(stream(latin1(textBlock(tjs))), text)
  }

  /** MULTI-PAGE variant: the text is split into `chunk`-char slices, one PAGE
    * (own content stream, one Tj) per slice under a single Pages node. Page
    * outputs join with "\n" at every tree level (body.rs:413-419) and each
    * page trims its leading ' '/'\n' run (content.rs:950), so
    * extractText == chunks.map(trimLeading).mkString("\n"). Empty text yields
    * one empty page.
    */
  def synthesizeMultiPage(text: String, chunk: Int): Array[Byte] = {
    val chunks = if (text.isEmpty) Seq("") else text.grouped(chunk).toSeq
    val n = chunks.length
    // object numbering: 1 catalog, 2 pages node, 3..2+n pages, 3+n..2+2n
    // contents, 3+2n font, 4+2n info
    val fontObj = 3 + 2 * n
    val infoObj = 4 + 2 * n
    val kids = (0 until n).map(i => s"${3 + i} 0 R").mkString(" ")
    val objects = Seq(
      Obj("<< /Type /Catalog /Pages 2 0 R >>"),
      Obj(s"<< /Type /Pages /Kids [$kids] /Count $n >>")) ++
      (0 until n).map(i => Obj(pageDict(fontObj, 3 + n + i))) ++
      chunks.map(c => stream(latin1(showText(c)))) ++
      Seq(Obj(helvetica()), Obj(infoOf(text)))
    classic(objects, s" /Info $infoObj 0 R")
  }

  /** PDF 1.5-shaped variant: same document, but the cross-reference is a
    * /Type /XRef STREAM (W [1 3 1]: 5-byte rows whose 3-byte offsets carry
    * payloads up to ~16MB) whose data is PNG-Up predictor-encoded
    * (/DecodeParms << /Predictor 12 /Columns 5 >>) and flate-compressed — the
    * modern layout the reference cannot open (xref.rs:331-333, 368-376). Only
    * the LENIENT engine mode (core/Lenient.scala) extracts these; strict mode
    * replicates the reference panic. Deterministic.
    */
  def synthesizeXrefStream(text: String): Array[Byte] = {
    val out = new Out
    out.write("%PDF-1.5\n")
    val objects = pageObjects(stream(latin1(showText(text))), infoOf(text))
    val offsets = objects.zipWithIndex.map { case (o, i) => out.obj(i + 1, o) }
    val xrefOff = out.size // the xref stream object itself (obj 7)
    require(xrefOff <= 0xffffff, "W [1 3 1] caps offsets at ~16MB; payload too large")
    // rows (W [1 3 1] -> 5 bytes; 3-byte offsets carry payloads up to 16MB):
    // obj0 free, objs 1..7 type-1 at their offsets
    val rows = Array[Byte](0, 0, 0, 0, -1) +: (offsets :+ xrefOff).map { off =>
      Array[Byte](1, ((off >> 16) & 0xff).toByte, ((off >> 8) & 0xff).toByte,
        (off & 0xff).toByte, 0)
    }
    // PNG Up filter per 5-byte row (filter byte 2; row[i] - prevRow[i])
    val encoded = new java.io.ByteArrayOutputStream()
    var prev = new Array[Byte](5)
    rows.foreach { row =>
      encoded.write(2)
      var i = 0
      while (i < 5) { encoded.write((row(i) - prev(i)) & 0xff); i += 1 }
      prev = row
    }
    val compressed = deflate(encoded.toByteArray)
    out.obj(7, Obj("<< /Type /XRef /Size 8 /Index [0 8] /W [1 3 1] /Root 1 0 R /Info 6 0 R " +
      "/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 5 >> " +
      s"/Length ${compressed.length} >>", compressed))
    out.write(s"startxref\n$xrefOff\n%%EOF")
    out.bytes
  }

  def synthesizeXrefStreamBase64(text: String): String =
    java.util.Base64.getEncoder.encodeToString(synthesizeXrefStream(text))

  /** PLAIN (unencrypted) modern 1.5 layout for the lenient ObjStm fuzz axis
    * (VERDICT r7 #8): catalog/pages/page/font/info live as /Type /ObjStm
    * members, the content stream is a classic object, and the cross-reference
    * is an uncompressed xref STREAM whose type-2 rows point into the
    * container. Parameterized so a seeded sweep can vary the layout degrees
    * of freedom the spec leaves open:
    *  - `memberOrder`: permutation of the five members' PAIR order (the
    *    header pair index need not be offset order; the lenient decoder
    *    slices by offset order and emits by pair order — Lenient.scala)
    *  - `sep`: inter-body separator bytes ("" is legal: offsets alone
    *    delimit members)
    *  - `firstPad`: extra spaces between the pair header and the first body
    *    (offsets are relative to /First, so padding shifts them all)
    *  - `compress`: /Filter /FlateDecode on the container, or raw
    * Strict mode refuses the xref-stream catalog exactly like the reference
    * (xref.rs:331-333 stubs it to 0); only Pdf.lenient extracts. No binary
    * twin exists for the lenient layer — the gate is the round-trip property.
    */
  def synthesizeObjStm(
      text: String,
      memberOrder: Seq[Int] = 0 until 5,
      sep: String = "\n",
      firstPad: Int = 0,
      compress: Boolean = true,
      containers: Int = 1,
      wWidths: (Int, Int, Int) = (1, 3, 1)
  ): Array[Byte] = {
    require(memberOrder.sorted == (0 until 5), s"memberOrder must permute 0..4: $memberOrder")
    require(containers >= 1 && containers <= 5, s"containers=$containers out of 1..5")
    // w1 >= 1 (type-2 member rows can't use the implied-type-1 zero width);
    // w2 must hold the byte offsets, w3 the pair indexes
    require(wWidths._1 >= 1 && wWidths._1 <= 4 && wWidths._2 >= 2 && wWidths._2 <= 4
      && wWidths._3 >= 1 && wWidths._3 <= 4, s"unsupported /W $wWidths")
    // the standard page's objects; all but the content stream (4) are members
    val page = pageObjects(stream(latin1(showText(text))), infoOf(text))
    val baseMembers = Seq(1, 2, 3, 5, 6).map(num => num -> page(num - 1).dict)
    val members = memberOrder.map(baseMembers)
    // round-robin the (already permuted) members across N containers — real
    // producers split type-2 objects over several /Type /ObjStm streams
    val byContainer: Seq[Seq[(Int, String)]] =
      (0 until containers).map(c => members.zipWithIndex.collect {
        case (m, i) if i % containers == c => m
      })
    def buildStm(ms: Seq[(Int, String)]): (Array[Byte], Int) = {
      val bodies = ms.map(_._2.getBytes(ISO_8859_1))
      val rel = bodies.scanLeft(firstPad)(_ + _.length + sep.length).init
      val header = ms.zip(rel).map { case ((num, _), off) => s"$num $off" }.mkString(" ") + "\n"
      val data = header.getBytes(ISO_8859_1) ++ (" " * firstPad).getBytes(ISO_8859_1) ++
        bodies.flatMap(b => b ++ sep.getBytes(ISO_8859_1))
      (if (compress) deflate(data) else data, header.length)
    }
    val out = new Out
    out.write("%PDF-1.5\n")
    val off4 = out.obj(4, page(3))
    // containers are objects 7 .. 6+N; the xref stream is 7+N
    val containerObjs = (0 until containers).map(7 + _)
    val containerOffs = byContainer.zip(containerObjs).map { case (ms, objNum) =>
      val (stm, first) = buildStm(ms)
      out.obj(objNum, Obj(s"<< /Type /ObjStm /N ${ms.length} /First $first " +
        (if (compress) "/Filter /FlateDecode " else "") + s"/Length ${stm.length} >>", stm))
    }
    val xrefObj = 7 + containers
    val offXref = out.size
    // (container, pair index) of each member object under the chosen layout
    val where: Map[Int, (Int, Int)] = byContainer.zipWithIndex.flatMap {
      case (ms, c) => ms.map(_._1).zipWithIndex.map { case (num, i) => num -> ((containerObjs(c), i)) }
    }.toMap
    val rows = new java.io.ByteArrayOutputStream()
    def field(v: Int, width: Int): Unit = {
      require(width == 4 || v < (1 << (8 * width)), s"value $v overflows /W field width $width")
      var k = width - 1
      while (k >= 0) { rows.write((v >>> (8 * k)) & 0xff); k -= 1 }
    }
    def row(t: Int, mid: Int, lo: Int): Unit = {
      field(t, wWidths._1); field(mid, wWidths._2); field(lo, wWidths._3)
    }
    def memberRow(num: Int): Unit = { val (c, i) = where(num); row(2, c, i) }
    memberRow(1); memberRow(2); memberRow(3)
    row(1, off4, 0) // 4
    memberRow(5); memberRow(6)
    containerOffs.foreach(off => row(1, off, 0)) // 7 .. 6+N
    row(1, offXref, 0) // the xref stream itself
    val rb = rows.toByteArray
    out.obj(xrefObj, Obj(s"<< /Type /XRef /Size ${xrefObj + 1} /Index [1 $xrefObj] " +
      s"/W [${wWidths._1} ${wWidths._2} ${wWidths._3}] " +
      s"/Root 1 0 R /Info 6 0 R /Length ${rb.length} >>", rb))
    out.write(s"startxref\n$offXref\n%%EOF")
    out.bytes
  }

  /** Variant whose content stream is ASCIIHexDecode- or LZWDecode-encoded —
    * filters the reference panics on (body.rs:42-54) and strict mode panics on
    * identically; only the LENIENT engine mode (core/Filters.scala decoders,
    * admitted through the Ctx.lenient flag) extracts these. Classic xref
    * otherwise — the document is strict-shaped except for the filter name.
    * Deterministic: both encoders are pure functions.
    */
  def synthesizeFiltered(text: String, filterName: String,
                         lzwEarlyChange: Int = 1): Array[Byte] = {
    val content = latin1(showText(text))
    val encoded = filterName match {
      case "ASCIIHexDecode" => graft.core.LenientFilters.asciiHexEncode(content)
      case "LZWDecode"      => graft.core.LenientFilters.lzwEncode(content, lzwEarlyChange)
      case other            => throw new IllegalArgumentException(s"no encoder for $other")
    }
    // /DecodeParms /EarlyChange 0 declares the non-default width timing
    val parms = if (filterName == "LZWDecode" && lzwEarlyChange == 0)
      " /DecodeParms << /EarlyChange 0 >>" else ""
    onePage(stream(encoded, s" /Filter /$filterName$parms"), text)
  }

  def synthesizeFilteredBase64(text: String, filterName: String): String =
    java.util.Base64.getEncoder.encodeToString(synthesizeFiltered(text, filterName))

  /** A document with a TEXT content stream and a /DCTDecode image XObject
    * (`jpegBytes` must be a real JPEG — e.g. Multimodal.jpegGray). The content
    * paints the image via `/Im1 Do` (an unknown operator to the reference's
    * content machine — content.rs:624-628 ignores it — so STRICT text
    * extraction still returns `text` unchanged); the image itself is reachable
    * only through the lenient `Pdf.listImages` surface, because strict mode
    * keeps the reference's DCTDecode panic (body.rs:42-54) if anything tries
    * to decode the stream.
    */
  def synthesizeImagePdf(text: String, jpegBytes: Array[Byte], width: Int,
                         height: Int): Array[Byte] =
    synthesizeImagePdfFiltered(text, jpegBytes, width, height, "DCTDecode")

  /** Same document shape with a FLATE-compressed raw grayscale bitmap instead
    * of a JPEG — the other image-encoding path `Pdf.listImages` validates
    * (decoded length must equal w*h for the dims to be confirmed).
    */
  def synthesizeFlateImagePdf(text: String, gray: Array[Byte], width: Int,
                              height: Int): Array[Byte] = {
    require(gray.length == width * height, "gray bitmap must be w*h bytes")
    synthesizeImagePdfFiltered(text, deflate(gray), width, height, "FlateDecode")
  }

  private def synthesizeImagePdfFiltered(text: String, imgBytes: Array[Byte],
                                         width: Int, height: Int,
                                         filterName: String): Array[Byte] = {
    val content = showText(text) + s"q\n$width 0 0 $height 10 10 cm\n/Im1 Do\nQ\n"
    val image = Obj(s"<< /Type /XObject /Subtype /Image /Width $width /Height $height " +
      s"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /$filterName " +
      s"/Length ${imgBytes.length} >>", imgBytes)
    classic(pageObjects(stream(latin1(content)), infoOf(text), xobject = "/XObject << /Im1 7 0 R >> ")
      :+ image, " /Info 6 0 R")
  }

  /** Variant whose content stream uses the LENIENT-TEXT operators: the text is
    * split into `chunk`-char lines shown with `'` (move-show) and `"`
    * (spacing + move-show) after a TL leading set, plus Tw/Tz/Ts state ops —
    * all operators the reference routes through its unknown-op path
    * (content.rs:624-628). Only `Pdf.lenientText` / the pdf-b64-lenient-text
    * route extracts these (each `'`/`"` moves ty, so every line gets a
    * newline); STRICT mode panics reference-faithfully (the retained Tw/TL
    * operands corrupt the first Tj's operand buffer). Expected lenient-text
    * extraction: the chunks joined with "\n" (page leading-trim applies).
    */
  def synthesizeTextOps(text: String, chunk: Int): Array[Byte] = {
    val chunks = text.grouped(chunk).toSeq
    val shows = chunks.zipWithIndex.map { case (c, i) =>
      if (i == 0) s"(${escapeLiteral(c)}) Tj\n"
      else if (i % 2 == 1) s"(${escapeLiteral(c)}) '\n"
      else s"0.7 0.1 (${escapeLiteral(c)}) \"\n"
    }.mkString
    val content = s"BT\n70 700 TD\n/F1 12 Tf\n14 TL\n0.5 Tw\n110 Tz\n3 Ts\n${shows}ET\n"
    onePage(stream(latin1(content)), text)
  }

  def synthesizeTextOpsBase64(text: String, chunk: Int): String =
    java.util.Base64.getEncoder.encodeToString(synthesizeTextOps(text, chunk))

  /** The tokenizer's nextN skips LEADING WHITESPACE (replicated reference
    * quirk, tokenizer.rs:173-185), so raw encrypted stream bytes must not
    * start with a whitespace-class byte.
    */
  private def isWs(b: Byte): Boolean =
    b == 0x00 || b == 0x09 || b == 0x0a || b == 0x0c || b == 0x0d || b == 0x20

  private def hx(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02X").mkString

  /** The standard page with an encrypted content stream, `encDict` as object
    * 7, and `/Encrypt 7 0 R` plus a doubled `/ID` in the trailer.
    */
  private def encryptedDoc(encBytes: Array[Byte], useFlate: Boolean, info: String,
                           encDict: String, id0: Array[Byte], version: String): Array[Byte] =
    classic(pageObjects(stream(encBytes, if (useFlate) " /Filter /FlateDecode" else ""), info)
      :+ Obj(encDict), s" /Info 6 0 R /Encrypt 7 0 R /ID [<${hx(id0)}> <${hx(id0)}>]", version)

  /** ENCRYPTED variant (standard security handler; empty OR supplied
    * user/owner passwords, r=2 -> V1/RC4-40, r=3 -> V2/RC4-128, r=4 -> V4
    * crypt filter /AESV2 = AES-128-CBC, r=6 -> V5/AES-256): the content
    * stream is deflated then encrypted with the per-object key (encryption
    * wraps OUTSIDE the filters; AES prepends its 16-byte IV), /O and /U
    * computed with the real Algorithms 2-5 (core/Crypt.scala), deterministic
    * /ID = MD5(text). For r<=3 (V1/V2, which have no /StrF escape) the Info
    * STRINGS are RC4-encrypted with the object-6 key so the fixture is
    * self-consistent for conforming external readers; V4 declares
    * /StrF /Identity and keeps them plaintext. The reference ignores
    * /Encrypt entirely (xref.rs:136-146) and inflates ciphertext — strict
    * mode fails identically; only `Pdf.lenient` derives+verifies the key and
    * extracts (and decrypts the Info strings at readInfo).
    */
  def synthesizeEncrypted(text: String, r: Int = 2, useFlate: Boolean = true,
                          userPwd: Array[Byte] = Array.emptyByteArray,
                          ownerPwd: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    import graft.core.Crypt
    require((r >= 2 && r <= 4) || r == 6, "standard handler revisions 2-4 and 6 only")
    val content = latin1(showText(text))
    val filtered = if (useFlate) deflate(content) else content
    if (r == 6) return synthesizeEncryptedV5(text, filtered, useFlate, userPwd, ownerPwd)
    val n = if (r == 2) 5 else 16
    val o =
      if (userPwd.isEmpty && ownerPwd.isEmpty) Crypt.ownerEntryCached(n, r)
      else Crypt.ownerEntryFor(n, r, ownerPwd, userPwd)
    val p = -1
    // RC4 ciphertext / the AES IV are pseudorandom, so ~2.3% of them start
    // with a whitespace byte ([[isWs]]): salt-search the deterministic /ID
    // until the first stream byte is safe (same workaround the raw
    // xref-stream fixtures use).
    // V1/V2 additionally encrypt the Info STRINGS (no /StrF escape hatch
    // exists there — an external conforming reader decrypts every string, so
    // plaintext Info would read as garbage): same salt search keeps the
    // string ciphertexts free of CR/LF/NUL so they survive the literal-string
    // lexer byte-exactly under escapeLiteral's \\ \( \) escapes.
    def strSafe(b: Array[Byte]): Boolean = {
      if (b.exists(x => x == 0x00 || x == 0x0a || x == 0x0d)) false
      else if (b.forall(_ >= 0)) true // pure ASCII round-trips under any decode
      else
        // a VALID multibyte-UTF-8 ciphertext would strict-decode to chars that
        // ISO-8859-1 can't round-trip back to bytes — salt past it (rare)
        try { graft.core.Utf8.strict(b); false }
        catch { case _: graft.core.PdfParseException => true }
    }
    val infoPlain = Seq(titleOf(text), "graft", "minipdf").map(latin1)
    val encStrings = r <= 3
    var salt = 0
    var id0: Array[Byte] = null
    var key: Array[Byte] = null
    var encBytes: Array[Byte] = null
    var infoEnc: Seq[Array[Byte]] = null
    var ok = false
    while (!ok) {
      id0 = Crypt.md5(text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        Array(salt.toByte, (salt >> 8).toByte))
      key = Crypt.fileKey(o, p, id0, n, r, password = userPwd)
      encBytes =
        if (r == 4) Crypt.aesEncrypt(Crypt.objectKey(key, 4, 0, aes = true),
          Crypt.md5(id0, "iv".getBytes).take(16), filtered)
        else Crypt.rc4(Crypt.objectKey(key, 4, 0), filtered)
      infoEnc =
        if (encStrings) infoPlain.map(s => Crypt.rc4(Crypt.objectKey(key, 6, 0), s))
        else infoPlain
      ok = (encBytes.isEmpty || !isWs(encBytes(0))) && infoEnc.forall(strSafe)
      salt += 1
    }
    val u = Crypt.userEntry(key, id0, r)
    val encDict =
      if (r == 4)
        // /StrF /Identity: the fixture's Info strings ARE plaintext, so the
        // declaration must say so — a conforming external reader then reads
        // this document correctly too (declaring StdCF for strings while
        // writing them plaintext would make the fixture self-inconsistent)
        "<< /Filter /Standard /V 4 /R 4 /Length 128 " +
          "/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >> " +
          s"/StmF /StdCF /StrF /Identity /O <${hx(o)}> /U <${hx(u)}> /P $p >>"
      else
        s"<< /Filter /Standard /V ${if (r == 2) 1 else 2} /R $r " +
          (if (r == 3) "/Length 128 " else "") +
          s"/O <${hx(o)}> /U <${hx(u)}> /P $p >>"
    def lit(b: Array[Byte]) = escapeLiteral(new String(b, ISO_8859_1))
    encryptedDoc(encBytes, useFlate, info(lit(infoEnc(0)), lit(infoEnc(1)), lit(infoEnc(2))),
      encDict, id0, "1.4")
  }

  /** V5/R6 (PDF 2.0, AES-256/AESV3) variant: SHA-2-derived /U verification
    * entries (Algorithm 2.B), the 256-bit file key wrapped in /UE, streams
    * AES-256-CBC with IV prefix and NO per-object key derivation. All key
    * material derives deterministically from the text.
    */
  private def synthesizeEncryptedV5(text: String, filtered: Array[Byte], useFlate: Boolean,
                                    userPwd: Array[Byte], ownerPwd: Array[Byte]): Array[Byte] = {
    import graft.core.Crypt
    val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val fileKey = Crypt.md5(tb, "fk1".getBytes) ++ Crypt.md5(tb, "fk2".getBytes) // 32 bytes
    val valSalt = Crypt.md5(tb, "vs".getBytes).take(8)
    val keySalt = Crypt.md5(tb, "ks".getBytes).take(8)
    val (u, ue) = Crypt.v5UserEntries(fileKey, valSalt, keySalt, userPwd)
    val (o, oe) = Crypt.v5OwnerEntries(fileKey, u,
      Crypt.md5(tb, "ovs".getBytes).take(8), Crypt.md5(tb, "oks".getBytes).take(8),
      if (ownerPwd.isEmpty) userPwd else ownerPwd)
    // ws-guard on the stream's first byte (= the IV's first byte)
    var salt = 0
    var encBytes: Array[Byte] = null
    while (encBytes == null || isWs(encBytes(0))) {
      val iv = Crypt.md5(tb, Array(salt.toByte, 'i'.toByte)).take(16)
      encBytes = Crypt.aesEncrypt(fileKey, iv, filtered)
      salt += 1
    }
    val encDict = "<< /Filter /Standard /V 5 /R 6 /Length 256 " +
      "/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >> " +
      s"/StmF /StdCF /StrF /Identity /O <${hx(o)}> /U <${hx(u)}> " +
      s"/OE <${hx(oe)}> /UE <${hx(ue)}> /P -1 >>"
    encryptedDoc(encBytes, useFlate, infoOf(text), encDict, Crypt.md5(tb, "id".getBytes), "2.0")
  }

  def synthesizeEncryptedBase64(text: String, r: Int = 2): String =
    java.util.Base64.getEncoder.encodeToString(synthesizeEncrypted(text, r))

  /** Variant with a FlateDecode-compressed content stream — exercises the filter
    * path (body.rs:103-109 + filters.rs semantics) end-to-end.
    */
  def synthesizeFlate(text: String): Array[Byte] =
    onePage(stream(deflate(latin1(showText(text))), " /Filter /FlateDecode"), text)
}
