package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.ISO_8859_1

/** Gates for the flag-gated lenient xref layer (engine extension beyond the
  * reference): PNG/TIFF predictor decode, predictor-encoded xref streams, and
  * multi-subsection classic tables — all on synthetic hermetic PDFs (the
  * reference's own pdflatex fixture covers the ObjStm path in IntegrationSpec).
  */
class LenientSpec extends AnyFunSuite {

  // --- predictor unit gates ----------------------------------------------------

  private def pngFilter(rows: Array[Array[Byte]], filterType: Int, bpp: Int): Array[Byte] = {
    val rowLen = rows(0).length
    val out = new java.io.ByteArrayOutputStream()
    var prev = new Array[Byte](rowLen)
    rows.foreach { row =>
      out.write(filterType)
      var i = 0
      while (i < rowLen) {
        val x = row(i) & 0xff
        val left = if (i >= bpp) row(i - bpp) & 0xff else 0
        val up = prev(i) & 0xff
        val ul = if (i >= bpp) prev(i - bpp) & 0xff else 0
        val pred = filterType match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        out.write((x - pred) & 0xff)
        i += 1
      }
      prev = row
    }
    out.toByteArray
  }

  test("PNG predictors round-trip: None/Sub/Up/Average/Paeth at bpp=1") {
    val rnd = new scala.util.Random(99)
    val rows = Array.fill(7)(Array.fill(5)(rnd.nextInt(256).toByte))
    val flat = rows.flatten
    for (ft <- 0 to 4) {
      val encoded = pngFilter(rows, ft, bpp = 1)
      val decoded = Lenient.unpredict(encoded, predictor = 10 + ft, columns = 5, colors = 1, bpc = 8)
      assert(decoded.toSeq == flat.toSeq, s"PNG filter $ft")
    }
  }

  test("TIFF predictor 2 round-trip at 8 bpc") {
    val raw = Array[Byte](10, 20, 25, 5, 9, 14)
    // encode: per 3-byte row, horizontal difference
    val enc = Array[Byte](10, 10, 5, 5, 4, 5)
    assert(Lenient.unpredict(enc, predictor = 2, columns = 3, colors = 1, bpc = 8).toSeq == raw.toSeq)
  }

  // --- synthetic xref-stream PDF with PNG Up predictor (MiniPdf builder) --------

  test("lenient: predictor-encoded xref stream resolves and extracts; strict replicates the reference stub") {
    val pdf = graft.pipeline.MiniPdf.synthesizeXrefStream("Predictor says hi")
    assert(Pdf.lenient(pdf).extract(ExtractText) == "Predictor says hi")
    // readInfo flows through the same facade
    assert(Pdf.lenient(pdf).readInfo.flatMap(_.author).contains("graft"))
    // strict mode replicates the reference's DecodeParms panic (xref.rs:368-376)
    intercept[PdfParseException](Pdf(pdf).extract(ExtractText))
  }

  // --- hybrid-reference file (/XRefStm in a classic trailer) ---------------------

  /** Hybrid PDF (PDF 32000-1 7.5.8.4): the classic table marks EVERY object
    * free, so only a reader that honors the trailer's /XRefStm (whose stream
    * carries the real type-1 entries) can resolve anything — proves the
    * stream's entries take precedence over the classic section's.
    */
  private def synthesizeHybridPdf(text: String): Array[Byte] = {
    val content = s"BT\n70 50 TD\n/F1 12 Tf\n($text) Tj\nET\n"
    val objects = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
      s"<< /Length ${content.getBytes(ISO_8859_1).length} >>\nstream\n$content\nendstream",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
      "<< /Title (t) /Author (graft) /Creator (minipdf) >>"
    )
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    w("%PDF-1.5\n")
    val offsets = new Array[Int](objects.length + 1)
    objects.zipWithIndex.foreach { case (body, i) =>
      offsets(i) = out.size()
      w(s"${i + 1} 0 obj\n"); w(body); w("\nendobj\n")
    }
    // obj 7: the xref STREAM with the REAL entries (raw, no filter)
    val stmOff = out.size()
    offsets(objects.length) = stmOff
    // the stream is RAW (no filter), and nextN skips leading whitespace — a
    // replicated reference quirk (tokenizer.rs:173-185) that would eat a free
    // row's leading NUL type byte — so /Index starts at object 1 (type byte 1)
    val rows = new java.io.ByteArrayOutputStream()
    (1 to 7).foreach { i =>
      val off = offsets(i - 1)
      rows.write(1); rows.write((off >> 8) & 0xff); rows.write(off & 0xff); rows.write(0)
    }
    val rb = rows.toByteArray
    w(s"7 0 obj\n<< /Type /XRef /Size 8 /Index [1 7] /W [1 2 1] /Root 1 0 R " +
      s"/Length ${rb.length} >>\nstream\n")
    out.write(rb, 0, rb.length)
    w("\nendstream\nendobj\n")
    // classic table at startxref: every object FREE + /XRefStm pointing at obj 7
    val xrefOff = out.size()
    w("xref\n0 8\n")
    (0 until 8).foreach(_ => w("0000000000 65535 f \n"))
    w("trailer\n")
    w(s"<< /Size 8 /Root 1 0 R /XRefStm $stmOff >>\n")
    w(s"startxref\n$xrefOff\n%%EOF")
    out.toByteArray
  }

  test("lenient: hybrid /XRefStm entries take precedence over the classic section") {
    val pdf = synthesizeHybridPdf("Hybrid xref works")
    assert(Pdf.lenient(pdf).extract(ExtractText) == "Hybrid xref works")
    // strict mode has no /XRefStm handling: every entry is free -> parse fails
    intercept[PdfParseException](Pdf(pdf).extract(ExtractText))
  }

  // --- multi-subsection classic table --------------------------------------------

  /** MiniPdf document whose classic xref has THREE subsections (0-1, 1-4, 5-2);
    * the reference reads exactly one `start size` header (xref.rs:196-222).
    */
  private def synthesizeMultiSubsectionPdf(text: String): Array[Byte] = {
    val content = s"BT\n70 50 TD\n/F1 12 Tf\n($text) Tj\nET\n"
    val objects = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
      s"<< /Length ${content.getBytes(ISO_8859_1).length} >>\nstream\n$content\nendstream",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
      "<< /Title (t) /Author (graft) /Creator (minipdf) >>"
    )
    val sb = new StringBuilder
    sb.append("%PDF-1.4\n")
    val offsets = new Array[Int](objects.length)
    objects.zipWithIndex.foreach { case (body, i) =>
      offsets(i) = sb.length
      sb.append(s"${i + 1} 0 obj\n").append(body).append("\nendobj\n")
    }
    val xrefOff = sb.length
    sb.append("xref\n")
    sb.append("0 1\n").append("0000000000 65535 f \n")
    sb.append("1 4\n")
    (0 until 4).foreach(i => sb.append(f"${offsets(i)}%010d 00000 n \n"))
    sb.append("5 2\n")
    (4 until 6).foreach(i => sb.append(f"${offsets(i)}%010d 00000 n \n"))
    sb.append("trailer\n")
    sb.append(s"<< /Size 7 /Root 1 0 R /Info 6 0 R >>\n")
    sb.append(s"startxref\n$xrefOff\n%%EOF")
    sb.toString.getBytes(ISO_8859_1)
  }

  test("lenient: multi-subsection classic xref parses; strict replicates the single-subsection limit") {
    val pdf = synthesizeMultiSubsectionPdf("Three subsections")
    assert(Pdf.lenient(pdf).extract(ExtractText) == "Three subsections")
    // strict: the second `start size` header is read as a malformed entry ->
    // reference-faithful failure
    intercept[PdfParseException](Pdf(pdf).extract(ExtractText))
  }

  // --- lenient-only stream filters (ASCIIHexDecode / LZWDecode) -------------------

  test("ASCIIHexDecode: whitespace, case, EOD, odd-digit padding, invalid char") {
    def d(s: String) = LenientFilters.asciiHexDecode(s.getBytes(ISO_8859_1)).toSeq
    assert(d("48656C6C6F>") == "Hello".getBytes(ISO_8859_1).toSeq)
    assert(d("48 65\n6c6C\t6f>") == "Hello".getBytes(ISO_8859_1).toSeq)
    assert(d("7>") == Seq(0x70.toByte)) // odd digit: implicit trailing '0'
    assert(d("414>ignored garbage after EOD") == Seq('A'.toByte, 0x40.toByte))
    assert(d("") == Seq.empty)
    intercept[PdfParseException](d("4z>"))
    // encoder pairs with the decoder
    val bytes = Array.tabulate(300)(i => (i * 7).toByte)
    assert(LenientFilters.asciiHexDecode(LenientFilters.asciiHexEncode(bytes)).toSeq == bytes.toSeq)
  }

  test("LZWDecode: round-trip across code-width growth, KwKwK, clear handling") {
    def rt(b: Array[Byte]): Unit =
      assert(LenientFilters.lzwDecode(LenientFilters.lzwEncode(b)).toSeq == b.toSeq,
        s"round-trip failed at ${b.length} bytes")
    rt(Array.empty[Byte])
    rt("a".getBytes(ISO_8859_1))
    // KwKwK: runs of one byte force code == nextCode on the decoder
    rt(Array.fill(50)('a'.toByte))
    // random bytes never compress: one table entry per ~emitted code — 2KB
    // crosses the 9->10-bit boundary, 16KB crosses 10->11 and 11->12
    val rnd = new scala.util.Random(42)
    rt(Array.fill(2048)(rnd.nextInt(256).toByte))
    rt(Array.fill(16384)(rnd.nextInt(256).toByte))
    // highly repetitive text exercises long table chains
    rt(("the quick brown fox " * 400).getBytes(ISO_8859_1))
    // table-full clear: enough distinct-pair pressure to pass 4095 entries
    rt(Array.tabulate(40000)(i => ((i * 31) ^ (i >> 3)).toByte))
    // EOD-tail width-boundary sweep: random-byte inputs put the final table
    // registration ON the (1<<width)-1 boundary for lengths near 253/769
    // (9->10 and 10->11 crossings) — the round-4 code-review reproduced
    // silent 2-byte corruption at 769/775 before the encoder's EOD-width fix
    val rnd2 = new scala.util.Random(7)
    (240 to 270).foreach(len => rt(Array.fill(len)(rnd2.nextInt(256).toByte)))
    (755 to 790).foreach(len => rt(Array.fill(len)(rnd2.nextInt(256).toByte)))
    (1790 to 1810).foreach(len => rt(Array.fill(len)(rnd2.nextInt(256).toByte)))
    // HAND-DERIVED bit-layout vector (independent of our encoder): the code
    // stream CLEAR 'A' 258 'A' EOD — 9-bit codes 256,65,258,65,257 packed
    // MSB-first = 80 10 60 44 18 08 — decodes through the KwKwK rule
    // (258 == nextCode) to "A"+"AA"+"A" = "AAAA"
    val handVec = Array(0x80, 0x10, 0x60, 0x44, 0x18, 0x08).map(_.toByte)
    assert(LenientFilters.lzwDecode(handVec).toSeq == "AAAA".getBytes(ISO_8859_1).toSeq)
    val enc = LenientFilters.lzwEncode("AB".getBytes(ISO_8859_1))
    assert(LenientFilters.lzwDecode(enc).toSeq == "AB".getBytes(ISO_8859_1).toSeq)
    // truncated stream (EOD missing) returns the decoded prefix, never throws
    val noEod = enc.dropRight(1)
    assert(LenientFilters.lzwDecode(noEod).length <= 2)
  }

  test("LZW EarlyChange=0: round-trips across width boundaries; e2e via /DecodeParms; settings differ") {
    def rt0(b: Array[Byte]): Unit =
      assert(LenientFilters.lzwDecode(LenientFilters.lzwEncode(b, 0), 0).toSeq == b.toSeq,
        s"EC=0 round-trip failed at ${b.length} bytes")
    rt0(Array.empty[Byte])
    rt0("a".getBytes(ISO_8859_1))
    rt0(Array.fill(50)('a'.toByte)) // KwKwK
    // random bytes never compress -> dense sweep across the 9->10->11->12-bit
    // boundaries AND the table-full clear (same gate the EC=1 sweep has)
    val rnd = new scala.util.Random(77)
    for (n <- Seq(200, 255, 256, 257, 300, 2047, 2048, 2049, 16500)) {
      rt0(Array.fill(n)(rnd.nextInt(256).toByte))
    }
    // the EOD-tail width sync holds at EC=0 too: sweep lengths around every
    // boundary so the final registration lands on each side of (1<<w)
    for (n <- 250 to 262) rt0(Array.fill(n)(rnd.nextInt(256).toByte))
    // EC=0 and EC=1 genuinely differ once the first boundary is crossed
    val big = Array.fill(400)(rnd.nextInt(256).toByte)
    assert(LenientFilters.lzwEncode(big, 0).toSeq != LenientFilters.lzwEncode(big, 1).toSeq)
    // INDEPENDENT decoder vector (no shared codec code — breaks the paired
    // encoder/decoder circularity): an all-literal stream hand-built from the
    // spec's width rule. The decoder registers one entry from the second
    // post-clear code on; at EarlyChange e it widens when nextCode reaches
    // (1<<w)-e, affecting the NEXT read. 300 literals cross the 9->10-bit
    // boundary at DIFFERENT positions for e=0 (after the 255th code) and e=1
    // (after the 254th), so a common off-by-one would break exactly one mode.
    def handStream(bytes: Array[Byte], e: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var bitBuf = 0L; var bitCnt = 0; var width = 9; var nextCode = 258
      def put(code: Int): Unit = {
        bitBuf = (bitBuf << width) | code; bitCnt += width
        while (bitCnt >= 8) { bitCnt -= 8; out.write(((bitBuf >>> bitCnt) & 0xff).toInt) }
      }
      put(256) // clear
      bytes.zipWithIndex.foreach { case (b, i) =>
        put(b & 0xff)
        if (i > 0) {
          nextCode += 1
          if (width < 12 && nextCode == (1 << width) - e) width += 1
        }
      }
      put(257) // EOD
      if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
      out.toByteArray
    }
    val vec = Array.tabulate[Byte](300)(i => ((i * 7) % 256).toByte)
    assert(LenientFilters.lzwDecode(handStream(vec, 0), 0).toSeq == vec.toSeq, "EC=0 hand vector")
    assert(LenientFilters.lzwDecode(handStream(vec, 1), 1).toSeq == vec.toSeq, "EC=1 hand vector")
    // cross-mode decode must NOT silently agree (misaligned widths)
    val cross = try LenientFilters.lzwDecode(handStream(vec, 0), 1).toSeq
                catch { case _: PdfParseException => Seq.empty }
    assert(cross != vec.toSeq, "EC mismatch must not decode identically")
    // e2e: a PDF declaring /DecodeParms /EarlyChange 0 extracts via lenient
    val text = "EarlyChange zero document body " * 20
    val pdf = graft.pipeline.MiniPdf.synthesizeFiltered(text, "LZWDecode", lzwEarlyChange = 0)
    assert(Pdf.lenient(pdf).extract(ExtractText) == text)
    // the DEFAULT (no DecodeParms) still decodes as EC=1
    val pdf1 = graft.pipeline.MiniPdf.synthesizeFiltered(text, "LZWDecode")
    assert(Pdf.lenient(pdf1).extract(ExtractText) == text)
  }

  test("lenient: ASCIIHex/LZW content streams extract; strict panics with the reference wording") {
    for (f <- Seq("ASCIIHexDecode", "LZWDecode")) {
      val pdf = graft.pipeline.MiniPdf.synthesizeFiltered(s"Filtered via $f!", f)
      assert(Pdf.lenient(pdf).extract(ExtractText) == s"Filtered via $f!", f)
      // readInfo is unaffected (info dict is not behind the filter)
      assert(Pdf.lenient(pdf).readInfo.flatMap(_.author).contains("graft"))
      // strict mode: the reference's exact panic (body.rs:42-54) — parity
      val e = intercept[PdfParseException](Pdf(pdf).extract(ExtractText))
      assert(e.getMessage == s"Filter name $f is currently not supported")
    }
    // unknown filter names still panic identically in BOTH modes
    val e2 = intercept[PdfParseException](graft.core.BodyFilter.from("JBIG2Decode", lenient = true))
    assert(e2.getMessage == "Filter name JBIG2Decode is currently not supported")
    // DCTDecode (round 5) is lenient-only: strict keeps the reference's panic
    val e3 = intercept[PdfParseException](graft.core.BodyFilter.from("DCTDecode"))
    assert(e3.getMessage == "Filter name DCTDecode is currently not supported")
    assert(graft.core.BodyFilter.from("DCTDecode", lenient = true) == graft.core.DctFilter)
  }

  test("DCTDecode: JPEG image XObjects list with pixel-decoded dims; text extraction unperturbed") {
    import graft.operators.Multimodal
    val jpeg = Multimodal.jpegGray(17, 11, (x, y) => (x * 16 + y * 5) % 256)
    val pdf = graft.pipeline.MiniPdf.synthesizeImagePdf("Text next to an image", jpeg, 17, 11)
    // text extraction is identical in BOTH modes: the image never enters the
    // text path (/Im1 Do rides the reference's unknown-operator fallthrough,
    // and the XObject resource key is ignored by the resources projection)
    assert(Pdf(pdf).extract(ExtractText) == "Text next to an image")
    assert(Pdf.lenient(pdf).extract(ExtractText) == "Text next to an image")
    // lenient image surface: dict metadata + REAL pixel decode agree on dims
    val imgs = Pdf.lenient(pdf).listImages
    assert(imgs.length == 1, imgs)
    val im = imgs.head
    assert((im.name, im.width, im.height, im.bitsPerComponent, im.colorSpace, im.filter) ==
      (("Im1", 17, 11, 8, "DeviceGray", "DCTDecode")), im)
    assert((im.pxWidth, im.pxHeight, im.pxBands) == ((17, 11, 1)), im)
    // lossy but bounded: decoded mean within ~12% of the source mean
    val srcMean = (for (y <- 0 until 11; x <- 0 until 17) yield (x * 16 + y * 5) % 256)
      .sum.toDouble / (17 * 11)
    val gotMean = im.pxSum.toDouble / (17 * 11)
    assert(math.abs(gotMean - srcMean) < 32, s"mean drifted: $gotMean vs $srcMean")
    // strict surface mirrors the reference (no image API)
    val e = intercept[PdfParseException](Pdf(pdf).listImages)
    assert(e.getMessage.contains("lenient"))
    // a corrupt DCT stream fails LOUDLY (per-row error discipline), not silently
    val bad = graft.pipeline.MiniPdf.synthesizeImagePdf("t", "not a jpeg".getBytes, 4, 4)
    val e4 = intercept[PdfParseException](Pdf.lenient(bad).listImages)
    assert(e4.getMessage.startsWith("DCTDecode:"), e4.getMessage)
  }

  test("listImages: cyclic page tree fails loudly at the depth guard, never StackOverflow") {
    // a Pages node whose Kids points back at itself — the image walk must hit
    // the shared MaxTreeDepth guard (poison-payload discipline), not recurse
    // to a StackOverflowError that escapes the per-row NonFatal catch
    val pdf = graft.pipeline.MiniPdf.classic(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [2 0 R] /Count 1 >>").map(graft.pipeline.MiniPdf.Obj(_)), "")
    val e = intercept[PdfParseException](Pdf.lenient(pdf).listImages)
    assert(e.getMessage.contains("deeper than"), e.getMessage)
    // nodes that share kids stay within the depth and meet the kid bound
    val shared = graft.pipeline.PoisonSpec.sharedKids(17)
    val e2 = intercept[PdfParseException](Pdf.lenient(shared).listImages)
    assert(e2.getMessage == "page tree has more than 65536 kids")
  }

  test("Flate image XObjects: raw bitmap dims validated by decoded length, exact pixel sum") {
    val w = 9; val ht = 6
    val gray = Array.tabulate[Byte](w * ht)(i => ((i * 13) % 256).toByte)
    // seeded noise is incompressible: its deflate output is larger than the
    // input, so a writer that does not drain the deflater truncates it
    val noise = new Array[Byte](512 * 512)
    new scala.util.Random(512).nextBytes(noise)
    for ((bitmap, bw, bh) <- Seq((gray, w, ht), (noise, 512, 512))) {
      val pdf = graft.pipeline.MiniPdf.synthesizeFlateImagePdf("Bitmap text", bitmap, bw, bh)
      assert(Pdf.lenient(pdf).extract(ExtractText) == "Bitmap text")
      val im = Pdf.lenient(pdf).listImages.head
      // dims confirmed (decoded length == w*h), samples byte-exact (lossless)
      assert((im.filter, im.pxWidth, im.pxHeight, im.pxBands) == (("FlateDecode", bw, bh, 1)), im)
      assert(im.pxSum == bitmap.map(_ & 0xff).map(_.toLong).sum, im.pxSum)
    }
    // a LYING dictionary (declared dims don't match the payload) is NOT
    // confirmed: px* stay -1 instead of trusting the declaration (same-length
    // byte patch, so xref offsets stay valid)
    val lying = graft.pipeline.MiniPdf.synthesizeFlateImagePdf("t", gray, w, ht)
    val mangled = new String(lying, ISO_8859_1)
      .replace(s"/Width $w /Height $ht", s"/Width 8 /Height $ht")
      .getBytes(ISO_8859_1)
    val im2 = Pdf.lenient(mangled).listImages.head
    assert((im2.width, im2.pxWidth, im2.pxSum) == ((8, -1, -1L)), im2)
  }

  // --- standard-security-handler decryption (lenient-only) ------------------------

  test("crypt primitives: RC4 known vector, symmetry") {
    // canonical public RC4 vector: key "Key", plaintext "Plaintext"
    val c = Crypt.rc4("Key".getBytes, "Plaintext".getBytes)
    assert(c.map(b => f"${b & 0xff}%02X").mkString == "BBF316E8D940AF0AD3")
    assert(Crypt.rc4("Key".getBytes, c).toSeq == "Plaintext".getBytes.toSeq)
  }

  test("lenient: encrypted documents (RC4 R2/R3, AES-128 V4, AES-256 V5/R6; flate and raw) extract; strict fails like the reference") {
    for (r <- Seq(2, 3, 4, 6); flate <- Seq(true, false)) {
      val text = s"Encrypted r$r flate=$flate content line"
      val pdf = graft.pipeline.MiniPdf.synthesizeEncrypted(text, r, flate)
      assert(Pdf.lenient(pdf).extract(ExtractText) == text, s"r=$r flate=$flate")
    }
    // strict ignores /Encrypt (reference xref.rs:136-146) and inflates RC4
    // ciphertext — deterministic failure on the flate variant
    val pdf = graft.pipeline.MiniPdf.synthesizeEncrypted("strict sees ciphertext", 2, useFlate = true)
    intercept[PdfParseException](Pdf(pdf).extract(ExtractText))
    // and through the pipeline: lenient route extracts, strict route lands the
    // error in the error column
    val turn = graft.pipeline.Turn("c", 0, "user",
      graft.pipeline.MiniPdf.synthesizeEncryptedBase64("routed encrypted doc", 3),
      "pdf-b64-lenient", null)
    val e = graft.pipeline.ExtractJob.extractTurn(turn)
    assert(e.error == null && e.extracted_text == "routed encrypted doc")
    val strict = graft.pipeline.ExtractJob.extractTurn(turn.copy(tool = "pdf-b64"))
    assert(strict.error != null)
  }

  /** The dominant wild layout for encrypted 1.5+ PDFs: catalog/pages/page/
    * font/info live in an ObjStm whose container bytes are deflated THEN
    * RC4-encrypted (encryption is outermost — readers decrypt before
    * filters); the content stream is a classic encrypted object; the
    * cross-reference is an UNENCRYPTED xref STREAM (per spec) carrying
    * /Encrypt + /ID.
    */
  private def synthesizeEncryptedModern(text: String): Array[Byte] = {
    import graft.core.Crypt
    import graft.pipeline.MiniPdf.deflate
    val o = Crypt.ownerEntryCached(5, 2)
    val p = -1
    // ObjStm members (objects 1,2,3,5,6); contents = classic object 4
    val members = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
      5 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
      6 -> "<< /Title (t) /Author (graft) /Creator (minipdf) >>")
    val bodies = members.map(_._2.getBytes(ISO_8859_1))
    val rel = bodies.scanLeft(0)(_ + _.length + 1).init // +1: newline between bodies
    val header = members.zip(rel).map { case ((num, _), off) => s"$num $off" }.mkString(" ") + "\n"
    val objStmData = header.getBytes(ISO_8859_1) ++
      bodies.flatMap(b => b :+ '\n'.toByte)
    val first = header.length
    val content = s"BT\n70 50 TD\n/F1 12 Tf\n(${graft.pipeline.MiniPdf.escapeLiteral(text)}) Tj\nET\n"
      .getBytes(ISO_8859_1)
    def isWs(b: Byte): Boolean =
      b == 0x00 || b == 0x09 || b == 0x0a || b == 0x0c || b == 0x0d || b == 0x20
    var salt = 0
    var id0: Array[Byte] = null
    var encContent: Array[Byte] = null
    var encObjStm: Array[Byte] = null
    while (encContent == null || isWs(encContent(0)) || isWs(encObjStm(0))) {
      id0 = Crypt.md5(text.getBytes, Array(salt.toByte))
      val key = Crypt.fileKey(o, p, id0, 5, 2)
      encContent = Crypt.rc4(Crypt.objectKey(key, 4, 0), deflate(content))
      encObjStm = Crypt.rc4(Crypt.objectKey(key, 7, 0), deflate(objStmData))
      salt += 1
    }
    val key = Crypt.fileKey(o, p, id0, 5, 2)
    val u = Crypt.userEntry(key, id0, 2)
    def hx(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02X").mkString
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    w("%PDF-1.5\n")
    val off4 = out.size()
    w(s"4 0 obj\n<< /Length ${encContent.length} /Filter /FlateDecode >>\nstream\n")
    out.write(encContent); w("\nendstream\nendobj\n")
    val off7 = out.size()
    w(s"7 0 obj\n<< /Type /ObjStm /N ${members.length} /First $first " +
      s"/Length ${encObjStm.length} /Filter /FlateDecode >>\nstream\n")
    out.write(encObjStm); w("\nendstream\nendobj\n")
    val off8 = out.size()
    w(s"8 0 obj\n<< /Filter /Standard /V 1 /R 2 /O <${hx(o)}> /U <${hx(u)}> /P $p >>\nendobj\n")
    val off9 = out.size()
    // xref stream rows for objects 1..9, W [1 3 1]; type-2 rows point into
    // ObjStm 7; raw stream (leading byte = type 2 — never whitespace)
    val rows = new java.io.ByteArrayOutputStream()
    def row(t: Int, mid: Int, lo: Int): Unit = {
      rows.write(t); rows.write((mid >> 16) & 0xff); rows.write((mid >> 8) & 0xff)
      rows.write(mid & 0xff); rows.write(lo)
    }
    row(2, 7, 0); row(2, 7, 1); row(2, 7, 2) // 1 2 3
    row(1, off4, 0) // 4
    row(2, 7, 3); row(2, 7, 4) // 5 6
    row(1, off7, 0); row(1, off8, 0); row(1, off9, 0) // 7 8 9
    val rb = rows.toByteArray
    w(s"9 0 obj\n<< /Type /XRef /Size 10 /Index [1 9] /W [1 3 1] /Root 1 0 R /Info 6 0 R " +
      s"/Encrypt 8 0 R /ID [<${hx(id0)}> <${hx(id0)}>] /Length ${rb.length} >>\nstream\n")
    out.write(rb); w("\nendstream\nendobj\n")
    w(s"startxref\n$off9\n%%EOF")
    out.toByteArray
  }

  test("lenient ObjStm LAYOUT sweep: member order / separator / pad / filter round-trip (VERDICT r7 #8)") {
    // the spec leaves the ObjStm's internal layout open: pair order need not
    // be offset order, bodies need no separator (offsets delimit), /First may
    // sit past padding, the container may be raw. A seeded sweep over those
    // degrees of freedom must round-trip the planted text and Info through
    // Pdf.lenient; strict refuses every variant (xref-stream catalog stub,
    // like the reference).
    val rnd = new scala.util.Random(88)
    val text = "objstm layout sweep extraction target"
    (0 until 200).foreach { i =>
      val order = rnd.shuffle((0 until 5).toList)
      val sep = Seq("\n", " ", "\r\n", "")(rnd.nextInt(4))
      val pad = rnd.nextInt(8)
      val compress = rnd.nextBoolean()
      // 1..5 containers: real producers split type-2 objects over several
      // /Type /ObjStm streams (round-8 widening of the axis)
      val nc = 1 + rnd.nextInt(5)
      // variable /W field widths — every (type, offset, index) byte width
      // the lenient decoder claims to support
      val ws = (1 + rnd.nextInt(2), 2 + rnd.nextInt(3), 1 + rnd.nextInt(2))
      val pdf = graft.pipeline.MiniPdf.synthesizeObjStm(text, order, sep, pad, compress, nc, ws)
      assert(Pdf.lenient(pdf).extract(ExtractText) == text,
        s"variant $i (order=$order sep=${sep.map(_.toInt).mkString(",")} pad=$pad compress=$compress containers=$nc W=$ws)")
      assert(Pdf.lenient(pdf).readInfo.flatMap(_.author).contains("graft"), s"variant $i info")
      intercept[PdfParseException](Pdf(pdf).extract(ExtractText))
    }
  }

  test("lenient ObjStm MUTATION fuzz: byte flips never escape as raw throws (VERDICT r7 #8)") {
    // no binary twin exists for the lenient layer (the reference has no
    // ObjStm decode), so the mutation gate is the engine contract itself:
    // every flip either extracts or throws PdfParseException — never a raw
    // AIOOBE/NPE/match error (the class the strict sweeps catch via parity;
    // MutProbe's 'objstm' base covers the STRICT side of these same bytes
    // against the binary). SOE is exempt per the extractTurn backstop.
    // Seeded like MutProbe so a failing index replays there.
    val n = sys.env.getOrElse("GRAFT_OBJSTM_FUZZ", "4000").toInt
    val bases = Seq(
      ("objstm-raw", 14, graft.pipeline.MiniPdf.synthesizeObjStm(
        "objstm mutation fuzz target words", compress = false)),
      ("objstm-perm", 15, graft.pipeline.MiniPdf.synthesizeObjStm(
        "objstm mutation fuzz target words", memberOrder = Seq(4, 2, 0, 3, 1),
        sep = "", firstPad = 3, compress = false)),
      // compressed container: flips land in DEFLATE bytes — corrupt-zlib
      // decode must fail as PdfParseException, never leak a raw
      // DataFormatException (this is lenient-only surface, so no inflate-stub
      // vs JDK-Inflater comparison concern applies here — the gate is the
      // engine contract, not parity)
      ("objstm-flate", 16, graft.pipeline.MiniPdf.synthesizeObjStm(
        "objstm mutation fuzz target words", compress = true)),
      // three containers: flips reach a MULTI-ObjStm pair-table/xref layout
      ("objstm-multi", 17, graft.pipeline.MiniPdf.synthesizeObjStm(
        "objstm mutation fuzz target words", compress = false, containers = 3)))
    bases.foreach { case (name, seed, base) =>
      val rnd = new scala.util.Random(seed)
      var ok = 0
      (0 until n).foreach { i =>
        val m = base.clone()
        (0 to rnd.nextInt(2)).foreach { _ =>
          m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        }
        try { Pdf.lenient(m).extract(ExtractText); ok += 1 } catch {
          case _: PdfParseException => ()
          case _: StackOverflowError => ()
          case e: Throwable =>
            fail(s"$name mutation $i escaped lenient decode raw: ${e.getClass.getName}: ${e.getMessage}")
        }
      }
      // sanity: the sweep is not all-throws (most flips land in bodies or
      // slack and still extract)
      assert(ok > n / 10, s"$name: only $ok of $n mutations extracted — base likely broken")
    }
  }

  test("lenient: MODERN encrypted layout (xref stream + encrypted ObjStm catalog) extracts") {
    val text = "Modern encrypted document with its catalog inside an object stream"
    val pdf = synthesizeEncryptedModern(text)
    assert(Pdf.lenient(pdf).extract(ExtractText) == text)
    // Info lives in the (decrypted) ObjStm; its strings are plaintext by scope
    assert(Pdf.lenient(pdf).readInfo.flatMap(_.author).contains("graft"))
    // strict mode cannot even resolve the catalog (xref-stream stub) — fails
    intercept[PdfParseException](Pdf(pdf).extract(ExtractText))
  }

  test("crypt: non-empty-password and unsupported-scheme documents fail loudly, never garble") {
    val o = Crypt.ownerEntry(5, 2)
    val id0 = Array.fill(16)(1.toByte)
    val base: Map[String, PdfObj] = Map(
      "Filter" -> PName("Standard"), "V" -> PNum(NInt(1)), "R" -> PNum(NInt(2)),
      "O" -> PHexStr(o), "U" -> PHexStr(new Array[Byte](32)), "P" -> PNum(NInt(-1)))
    // /U does not match the empty user password -> explicit rejection
    val e = intercept[PdfParseException](Crypt.standardDecryptor(base, id0))
    assert(e.getMessage.contains("empty user password"))
    // V5 without its crypt-filter machinery fails loudly
    val e2 = intercept[PdfParseException](Crypt.standardDecryptor(
      base + ("V" -> PNum(NInt(5))) + ("R" -> PNum(NInt(6))), id0))
    assert(e2.getMessage.contains("not supported"))
    val e3 = intercept[PdfParseException](Crypt.standardDecryptor(
      base + ("Filter" -> PName("MySecretHandler")), id0))
    assert(e3.getMessage.contains("handler not supported"))
    // V4 with Identity streams (no /StmF) or an unknown crypt method: loud
    val v4base = base + ("V" -> PNum(NInt(4))) + ("R" -> PNum(NInt(4))) +
      ("CF" -> PDict(Map("StdCF" -> PDict(Map("CFM" -> PName("AESV2"))))))
    val e4 = intercept[PdfParseException](Crypt.standardDecryptor(v4base, id0))
    assert(e4.getMessage.contains("StmF"), e4.getMessage)
    val e5 = intercept[PdfParseException](Crypt.standardDecryptor(
      v4base + ("StmF" -> PName("StdCF")) +
        ("CF" -> PDict(Map("StdCF" -> PDict(Map("CFM" -> PName("AESV3")))))), id0))
    assert(e5.getMessage.contains("AESV2/V2 only"), e5.getMessage)
  }

  test("crypt: passworded documents open with the right password, fail loudly on the wrong one") {
    val text = "Top secret transcript body"
    val user = "hunter2".getBytes
    val owner = "root-password".getBytes
    // USER password: R3 (RC4-128), V4 (AES-128) and R6 (AES-256) round-trip
    for (r <- Seq(3, 4, 6)) {
      val pdf = graft.pipeline.MiniPdf.synthesizeEncrypted(text, r, userPwd = user, ownerPwd = owner)
      assert(Pdf.lenient(pdf, user).extract(ExtractText) == text, s"r=$r user")
      // OWNER password opens too (legacy Algorithm 7 recovery; V5 /O//OE)
      assert(Pdf.lenient(pdf, owner).extract(ExtractText) == text, s"r=$r owner")
      // empty and wrong passwords fail LOUDLY, never garble
      val e1 = intercept[PdfParseException](Pdf.lenient(pdf).extract(ExtractText))
      assert(e1.getMessage.contains("empty user password"), s"r=$r: ${e1.getMessage}")
      val e2 = intercept[PdfParseException](
        Pdf.lenient(pdf, "wrong".getBytes).extract(ExtractText))
      assert(e2.getMessage.contains("given password"), s"r=$r: ${e2.getMessage}")
    }
    // user-password-only document (owner derives from user per Algorithm 3)
    val selfOwner = graft.pipeline.MiniPdf.synthesizeEncrypted(text, 3, userPwd = user)
    assert(Pdf.lenient(selfOwner, user).extract(ExtractText) == text)
    // empty-password documents still open without any password (regression)
    assert(Pdf.lenient(graft.pipeline.MiniPdf.synthesizeEncrypted(text, 3)).extract(ExtractText) == text)
  }

  test("crypt: V4 key length from the StdCF dictionary is preferred (bytes and bits forms)") {
    // ADVICE round 5: a V4 document may declare its key length ONLY inside
    // the /CF /StdCF dictionary; both the bytes (<=32) and bits conventions
    // must derive the same 128-bit key as a top-level /Length would
    val id0 = Array.fill(16)(7.toByte)
    val o = Crypt.ownerEntry(16, 4)
    val key = Crypt.fileKey(o, -1, id0, 16, 4)
    val u = Crypt.userEntry(key, id0, 4)
    def enc(cfLen: Option[Int], topLen: Option[Int]): Map[String, PdfObj] = {
      val std = Map("CFM" -> PName("AESV2")) ++
        cfLen.map(x => "Length" -> PNum(NInt(x))).toMap
      Map("Filter" -> PName("Standard"), "V" -> PNum(NInt(4)), "R" -> PNum(NInt(4)),
        "CF" -> PDict(Map("StdCF" -> PDict(std))), "StmF" -> PName("StdCF"),
        "O" -> PHexStr(o), "U" -> PHexStr(u), "P" -> PNum(NInt(-1))) ++
        topLen.map(x => "Length" -> PNum(NInt(x))).toMap
    }
    for (cfLen <- Seq(Some(16), Some(128)); topLen <- Seq(None, Some(128))) {
      val d = Crypt.standardDecryptor(enc(cfLen, topLen), id0)
      assert(d.key.toSeq == key.toSeq && d.aes, s"cf=$cfLen top=$topLen")
    }
    // no CF length anywhere: top-level /Length (or the 128 default) rules
    assert(Crypt.standardDecryptor(enc(None, Some(128)), id0).key.toSeq == key.toSeq)
    assert(Crypt.standardDecryptor(enc(None, None), id0).key.toSeq == key.toSeq)
  }

  test("crypt: encrypted Info STRINGS decrypt at the readInfo site (V1/V2); /StrF Identity stays plaintext") {
    val text = "Encrypted metadata document"
    // R2/R3 fixtures now RC4-encrypt their Info strings (V1/V2 has no /StrF
    // escape — ADVICE round 5 self-consistency); lenient readInfo decrypts
    // them back through Decryptor.decryptString at the Info resolution point
    for (r <- Seq(2, 3)) {
      val pdf = graft.pipeline.MiniPdf.synthesizeEncrypted(text, r)
      val info = Pdf.lenient(pdf).readInfo
      assert(info.flatMap(_.title).contains(graft.pipeline.MiniPdf.titleOf(text)), s"r=$r title")
      assert(info.flatMap(_.author).contains("graft"), s"r=$r author")
      assert(info.flatMap(_.creator).contains("minipdf"), s"r=$r creator")
      // strict mode never decrypts (reference parity): binary ciphertext in a
      // literal string fails the strict UTF-8 decode exactly like the
      // reference's from_utf8 unwrap
      val es = intercept[PdfParseException](Pdf(pdf).readInfo)
      assert(es.getMessage.contains("invalid utf-8"), s"r=$r strict: ${es.getMessage}")
    }
    // V4 declares /StrF /Identity -> strings are plaintext and stay plaintext
    val v4 = graft.pipeline.MiniPdf.synthesizeEncrypted(text, 4)
    assert(Pdf.lenient(v4).readInfo.flatMap(_.author).contains("graft"))
    // passworded variant: Info strings decrypt under the password-derived key
    val pw = graft.pipeline.MiniPdf.synthesizeEncrypted(text, 3, userPwd = "hunter2".getBytes)
    assert(Pdf.lenient(pw, "hunter2".getBytes).readInfo
      .flatMap(_.title).contains(graft.pipeline.MiniPdf.titleOf(text)))
  }

  test("crypt: AES-128 primitives round-trip and reject malformed padding") {
    val key = Crypt.md5("k".getBytes).take(16)
    val iv = Crypt.md5("iv".getBytes).take(16)
    for (len <- Seq(0, 1, 15, 16, 17, 100)) {
      val plain = Array.tabulate(len)(i => (i * 7).toByte)
      val enc = Crypt.aesEncrypt(key, iv, plain)
      assert((enc.length - 16) % 16 == 0 && enc.length >= plain.length + 16)
      assert(Crypt.aesDecrypt(key, enc).toSeq == plain.toSeq, s"len $len")
    }
    // truncated / non-block ciphertext fails loudly
    intercept[PdfParseException](Crypt.aesDecrypt(key, new Array[Byte](20)))
    // AES-256 path (V5): 32-byte keys round-trip through the same primitives
    val key256 = Crypt.md5("a".getBytes) ++ Crypt.md5("b".getBytes)
    val plain = "thirty-two byte AES-256 payload!".getBytes
    assert(Crypt.aesDecrypt(key256, Crypt.aesEncrypt(key256, iv, plain)).toSeq == plain.toSeq)
  }

  test("crypt: Algorithm 2.B is deterministic and V5 rejects non-empty-password /U entries") {
    val salt = Array.tabulate(8)(_.toByte)
    val h1 = Crypt.hash2B(Array.emptyByteArray, salt, Array.emptyByteArray)
    val h2 = Crypt.hash2B(Array.emptyByteArray, salt, Array.emptyByteArray)
    assert(h1.length == 32 && h1.toSeq == h2.toSeq)
    // different salts diverge (the iterated SHA-2 mixing is salt-sensitive)
    val h3 = Crypt.hash2B(Array.emptyByteArray, salt.map(b => (b + 1).toByte), Array.emptyByteArray)
    assert(h1.toSeq != h3.toSeq)
    // ISO 32000-2 7.6.4.3.3: passwords truncate to 127 bytes before hashing —
    // a 200-byte password must hash identically to its 127-byte prefix (and
    // differently from a 126-byte one)
    val p200 = Array.fill[Byte](200)('y')
    assert(Crypt.hash2B(p200, salt, Array.emptyByteArray).toSeq ==
      Crypt.hash2B(p200.take(127), salt, Array.emptyByteArray).toSeq)
    assert(Crypt.hash2B(p200, salt, Array.emptyByteArray).toSeq !=
      Crypt.hash2B(p200.take(126), salt, Array.emptyByteArray).toSeq)
    // a V5 dictionary whose /U hash does not match the empty password: loud
    val enc: Map[String, PdfObj] = Map(
      "Filter" -> PName("Standard"), "V" -> PNum(NInt(5)), "R" -> PNum(NInt(6)),
      "StmF" -> PName("StdCF"),
      "CF" -> PDict(Map("StdCF" -> PDict(Map("CFM" -> PName("AESV3"))))),
      "U" -> PHexStr(new Array[Byte](48)), "UE" -> PHexStr(new Array[Byte](32)),
      "O" -> PHexStr(new Array[Byte](48)), "P" -> PNum(NInt(-1)))
    val e = intercept[PdfParseException](Crypt.standardDecryptor(enc, new Array[Byte](16)))
    assert(e.getMessage.contains("empty user password"))
    // V5 with a non-AESV3 method: loud
    val e2 = intercept[PdfParseException](Crypt.standardDecryptor(
      enc + ("CF" -> PDict(Map("StdCF" -> PDict(Map("CFM" -> PName("AESV2")))))),
      new Array[Byte](16)))
    assert(e2.getMessage.contains("AESV3 only"))
  }

  // --- lenient-TEXT operators (Tw/Tz/TL/Ts/'/" — own flag) ------------------------

  test("lenient-text: '/\" move-shows emit one line each; strict panics reference-faithfully") {
    val text = "first chunk here then more text spilling over several lines for the quote operators"
    val pdf = graft.pipeline.MiniPdf.synthesizeTextOps(text, 20)
    val expected = text.grouped(20).mkString("\n")
    assert(Pdf.lenientText(pdf).extract(ExtractText) == expected)
    // strict: TL/Tw/Tz/Ts are unknown ops whose RETAINED operands corrupt the
    // first Tj's operand buffer — the reference's exact failure mode
    val e = intercept[PdfParseException](Pdf(pdf).extract(ExtractText))
    assert(e.getMessage.contains("not allowed with operator Tj"))
    // the xref-only lenient flag must NOT change text assembly
    val e2 = intercept[PdfParseException](Pdf.lenient(pdf).extract(ExtractText))
    assert(e2.getMessage.contains("not allowed with operator Tj"))
  }

  test("lenient-text: span sidecar carries the quote ops at the right offsets") {
    val pdf = graft.pipeline.MiniPdf.synthesizeTextOps("aaaaabbbbbcccccddddd", 5)
    val r = Pdf.lenientText(pdf).extractResult(ExtractText)
    assert(r.text == "aaaaa\nbbbbb\nccccc\nddddd")
    assert(r.spans.map(_.op) == Vector("Tj", "'", "\"", "'"))
    assert(r.spans.map(s => r.text.substring(s.start, s.end)) ==
      Vector("aaaaa", "bbbbb", "ccccc", "ddddd"))
  }

  test("lenient-text parity fuzz: op-free documents extract byte-identically under every flag") {
    val rnd = new scala.util.Random(7)
    (0 until 40).foreach { _ =>
      // random printable ASCII (no leading-space/newline trim interference);
      // parens/backslashes go through escapeLiteral like any payload
      val text = (0 until (1 + rnd.nextInt(120))).map(_ => (33 + rnd.nextInt(94)).toChar).mkString
      val pdf = graft.pipeline.MiniPdf.synthesize(text)
      val strict = Pdf(pdf).extract(ExtractText)
      assert(strict == text)
      assert(Pdf.lenientText(pdf).extract(ExtractText) == strict,
        "lenientText must not change op-free documents")
      assert(Pdf.lenient(pdf).extract(ExtractText) == strict)
    }
  }

  test("lenient-text flows through the pipeline's pdf-b64-lenient-text route") {
    val text = "pipeline route for quote operators spanning lines"
    val turn = graft.pipeline.Turn("c", 0, "user",
      graft.pipeline.MiniPdf.synthesizeTextOpsBase64(text, 16), "pdf-b64-lenient-text", null)
    val e = graft.pipeline.ExtractJob.extractTurn(turn)
    assert(e.error == null && e.payload_kind == "pdf-lenient-text")
    assert(e.extracted_text == text.grouped(16).mkString("\n"))
    // the same payload on the STRICT route lands the panic in the error column
    val strict = graft.pipeline.ExtractJob.extractTurn(turn.copy(tool = "pdf-b64"))
    assert(strict.error != null && strict.error.contains("not allowed with operator Tj"))
  }

  test("lenient filters flow through the pipeline's pdf-b64-lenient route") {
    for (f <- Seq("ASCIIHexDecode", "LZWDecode")) {
      val turn = graft.pipeline.Turn("c", 0, "user",
        graft.pipeline.MiniPdf.synthesizeFilteredBase64(s"route $f", f), "pdf-b64-lenient", null)
      val e = graft.pipeline.ExtractJob.extractTurn(turn)
      assert(e.error == null && e.extracted_text == s"route $f", f)
      // the strict route lands the reference panic in the error column
      val strict = graft.pipeline.ExtractJob.extractTurn(turn.copy(tool = "pdf-b64"))
      assert(strict.error != null && strict.error.contains("currently not supported"))
    }
  }
}
