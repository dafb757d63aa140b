package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.MiniPdf

/** Targeted gates for the reference's quirk paths (SURVEY §7.2 checklist). */
class QuirkSpec extends AnyFunSuite {

  private def lem(s: String) = {
    val b = s.getBytes("ISO-8859-1")
    Lemmatizer(b, 0, new Ctx(b, XRef.default))
  }

  test("lemmatizer Int Int <bareword != R/obj> ends the stream (tokenizer.rs:122-155 fallthrough)") {
    val l = lem("1 2 foo 3")
    assert(l.next() == null) // reference control flow returns None here
  }

  test("lemmatizer Int Int Int passes the first integer through") {
    val l = lem("1 2 3")
    assert(l.next() == TNum(NInt(1)))
    assert(l.next() == TNum(NInt(2)))
    assert(l.next() == TNum(NInt(3)))
  }

  test("lone '>' before non-'>' is silently skipped (tokenizer.rs:267)") {
    val t = new PdfTokenizer("> 42".getBytes, 0)
    assert(t.next() == TNum(NInt(42)))
  }

  test("NUL is whitespace to the lexer (tokenizer.rs:23)") {
    val t = new PdfTokenizer(Array[Byte](0, 0, '4', '2', 0, 0), 0)
    assert(t.next() == TNum(NInt(42)))
  }

  test("odd-length hex string pads with trailing '0' (tokenizer.rs:248-250)") {
    assert(new PdfTokenizer("<ABC>".getBytes, 0).next() == THex(Array(0xab.toByte, 0xc0.toByte)))
  }

  test("get_and_fix heals a broken xref offset via newline-scan (xref.rs:245-268)") {
    // xref says object 1 is at offset 0, but the real header lives later
    val doc = "junk junk junk\n1 0 obj\n<< /X 1 >>\nendobj\n"
    val bytes = (doc + "xref\n0 2\n0000000000 65535 f \n0000000000 00000 n \ntrailer\n<< /Size 2 /Root 1 0 R >>").getBytes
    val table = XRef.parse(bytes, doc.length)
    // offset 0 points at "junk", not "1 0 obj" -> healed to the \n-scan match + 1
    assert(table.getAndFix(1, 0, bytes) == Some(doc.indexOf("1 0 obj")))
  }

  test("freed xref entry lookup panics (xref.rs:234)") {
    val bytes = "xref\n0 2\n0000000000 65535 f \n0000000099 00000 f \ntrailer\n<< /Size 2 /Root 1 0 R >>".getBytes
    val table = XRef.parse(bytes, 0)
    intercept[PdfParseException](table.get(1, 0))
  }

  test("Prev chain falls through to the previous xref section (xref.rs:123-129, 237-242)") {
    val sec1 = "xref\n0 2\n0000000000 65535 f \n0000000010 00000 n \ntrailer\n<< /Size 2 /Root 1 0 R >>\n"
    val sec2 = s"xref\n2 1\n0000000020 00000 n \ntrailer\n<< /Size 3 /Root 1 0 R /Prev 0 >>"
    val bytes = (sec1 + sec2).getBytes
    val table = XRef.parse(bytes, sec1.length)
    assert(table.get(2, 0) == Some(20)) // own section
    assert(table.get(1, 0) == Some(10)) // via Prev chain
    assert(table.get(9, 0) == None)
  }

  test("FlateDecode output is zero-padded to 10x compressed size, visible in RawContent (filters.rs:4-14)") {
    val text = "padding check"
    val pdf = Pdf(MiniPdf.synthesizeFlate(text))
    assert(pdf.extract(ExtractText) == text) // padding is whitespace to the lexer
    val raw = pdf.extract(ExtractRawContent)
    val content = s"BT\n70 50 TD\n/F1 12 Tf\n($text) Tj\nET\n"
    assert(raw.startsWith(content))
    assert(raw.length > content.length, "10x zero padding must be present")
    assert(raw.drop(content.length).forall(_ == '\u0000'))
  }

  test("stream Length as indirect ref is chased through the xref (object.rs:115-131)") {
    // content stream /Length is an indirect reference to object 7
    val header = "%PDF-1.4\n"
    val obj7 = "7 0 obj\n10\nendobj\n"
    val obj1 = "1 0 obj\n<< /Length 7 0 R >>\nstream\n1234567890\nendstream\nendobj\n"
    val off7 = header.length
    val off1 = off7 + obj7.length
    val xrefOff = off1 + obj1.length
    val doc = header + obj7 + obj1 +
      s"xref\n0 8\n0000000000 65535 f \n${"%010d".format(off1)} 00000 n \n" +
      "0000000000 00000 f \n" * 5 + s"${"%010d".format(off7)} 00000 n \n" +
      s"trailer\n<< /Size 8 /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF"
    val bytes = doc.getBytes("ISO-8859-1")
    val xref = XRef.parse(bytes, xrefOff)
    ObjParser.parseAt(new Ctx(bytes, xref), off1) match {
      case PStream(_, body) => assert(new String(body) == "1234567890")
      case o                => fail(s"expected stream, got $o")
    }
  }

  test("unknown content operator keeps the operand buffer (content.rs:624-628)") {
    // "1 2 Tz" is unknown; Td then sees 4 operands and is skipped (arity guard);
    // the following 2-operand Td applies
    import ContentSpec.{int, lit, operators}
    assert(operators("1 2 Tz 3 4 Td 5 6 Td (x) Tj") == Vector(
      "Td" -> Vector(int(5), int(6)), // first Td skipped via arity guard
      "Tj" -> Vector(lit("x"))))
  }

  test("a run of skipped Td operators does not grow the stack (content.rs:507-509)") {
    val pdf = MiniPdf.synthesizeRawContent("BT\n/F1 12 Tf\n" + "1 Td\n" * 10000 + "(x) Tj\nET\n")
    assert(Pdf(pdf).extract(ExtractText) == "x")
    val turn = graft.pipeline.ExtractJob.extractTurn(graft.pipeline.Turn("c", 0, "user",
      java.util.Base64.getEncoder.encodeToString(pdf), "pdf-b64", null))
    assert(turn.error == null)
    assert(turn.extracted_text == "x")
  }

  test("content comments panic (content.rs:630 catch-all)") {
    val c = new ContentDecoder("% comment\nBT".getBytes)
    intercept[PdfParseException](c.next())
  }

  test("utf-8 lossy round-trip before lexing (body.rs:522-532): high bytes become U+FFFD") {
    // literal string with a raw 0x80 byte in the content stream
    val rebuilt = rebuildWithContent("BT\n70 50 TD\n/F1 12 Tf\n(a\u0080b) Tj\nET\n")
    val out = Pdf(rebuilt).extract(ExtractText)
    // 0x80 is malformed UTF-8 -> U+FFFD -> re-encoded as EF BF BD -> lexed as
    // 3 byte-chars (the reference's double-decode quirk, \u00a72.8 rule 9)
    assert(out == "a\u00ef\u00bf\u00bdb")
  }

  test("pdf_version reads the last 3 bytes (lib.rs:44-53, dead code in the reference)") {
    assert(Pdf.pdfVersion("%PDF-1.7".getBytes) == "1.7")
    assert(Pdf.pdfVersion("%PDF-1.4".getBytes) == "1.4")
    intercept[PdfParseException](Pdf.pdfVersion("%PDF-2.0".getBytes))
  }

  test("padSensitiveAtEof classifies exactly the divergent EOF lexer states") {
    def s(x: String) = PdfTokenizer.padSensitiveAtEof(x.getBytes("ISO-8859-1"))
    assert(!s("BT\n70 50 TD\n/F1 12 Tf\n(hello (nested) \\) ok) Tj\nET\n"), "well-formed")
    assert(!s("(x) Tj <a1b2> Tj"), "closed hex")
    assert(!s("(x) Tj <a1b"), "EOF inside hex ends the stream identically padded or not")
    assert(!s("% comment\n(x)"), "terminated comment")
    assert(!s("<< /D 1 >> (x)"), "dict delims")
    assert(s("(unterminated"), "open literal")
    assert(s("(nested (deep)"), "still-open nesting")
    assert(s("(esc\\"), "dangling escape")
    assert(s("(oct\\51"), "truncated octal")
    assert(s("(x) Tj %trailing comment"), "comment at EOF")
    assert(s("(x) Tj <"), "trailing '<'")
    assert(s("(x) Tj >"), "trailing lone '>'")
  }

  test("differential: production decode == reference padded semantics on crafted EOF payloads") {
    val crafted = Seq(
      "BT\n70 50 TD\n/F1 12 Tf\n(hello) Tj\nET\n", // well-formed: exact path
      "BT /F1 12 Tf (abc",     // unterminated literal
      "BT /F1 12 Tf (ab\\",    // dangling escape
      "BT /F1 12 Tf (ab\\51",  // truncated octal: which panic fires differs
      "BT /F1 12 Tf (x) Tj %oops", // comment panic message carries the bytes
      "BT /F1 12 Tf (x) Tj <", // '<' panic message names the next byte
      "BT /F1 12 Tf (x) Tj >", // panic (exact) vs silent-skip SUCCESS (padded)
      longRun                  // compresses past 10x: both truncate at the cap
    )
    assert(MiniPdf.deflate(longRun.getBytes("ISO-8859-1")).length * 10 < longRun.length)
    crafted.foreach { c => assert(prodExtract(c) == refPaddedExtract(c), s"payload: $c") }
    // the trailing-'>' case is the error-vs-success divergence the fallback exists for
    assert(refPaddedExtract("BT /F1 12 Tf (x) Tj >") == Right("x"))
  }

  test("differential fuzz: random EOF shapes, production == reference padded semantics") {
    val alphabet = "()\\%<>\n 0123456789abTjf/<>"
    val rnd = new scala.util.Random(20260816L)
    (0 until 300).foreach { i =>
      val body = (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val c = "BT /F1 12 Tf " + body
      assert(prodExtract(c) == refPaddedExtract(c), s"seed $i payload: ${c.getBytes.mkString(",")}")
    }
  }

  /** Production path: the content stream is flate-compressed, so extraction
    * goes through getDataForLexing (exact-size + pad-sensitive fallback).
    */
  private def prodExtract(content: String): Either[String, String] =
    runExtract(rebuildWithFlateContent(content))

  /** A long run inside a `Tj` literal: its compressed stream is far less
    * than a tenth of it, so the reference keeps only the first 10x bytes.
    */
  private val longRun = "BT /F1 12 Tf (" + "a" * 3000 + ") Tj ET"

  /** Reference semantics: filters.rs always returns the whole buffer of
    * exactly 10x the compressed size, so the reference lexes content ++
    * NUL*(10*compressed - len), or content cut at 10*compressed bytes.
    * Re-created here as a RAW (uncompressed) stream of exactly those bytes.
    */
  private def refPaddedExtract(content: String): Either[String, String] = {
    val raw = content.getBytes("ISO-8859-1")
    val compressedLen = MiniPdf.deflate(raw).length
    val padded = java.util.Arrays.copyOf(raw, compressedLen * 10)
    runExtract(rebuildWithContent(new String(padded, "ISO-8859-1")))
  }

  private def runExtract(pdf: Array[Byte]): Either[String, String] =
    try Right(Pdf(pdf).extract(ExtractText))
    catch { case e: PdfParseException => Left(e.getMessage) }

  private def rebuildWithFlateContent(content: String): Array[Byte] =
    rebuildWith(MiniPdf.stream(MiniPdf.deflate(content.getBytes("ISO-8859-1")), " /Filter /FlateDecode"))

  private def rebuildWithContent(content: String): Array[Byte] =
    rebuildWith(MiniPdf.stream(content.getBytes("ISO-8859-1")))

  /** Five-object page (no Info) around `contents` as object 4. */
  private def rebuildWith(contents: MiniPdf.Obj): Array[Byte] = MiniPdf.classic(Seq(
    MiniPdf.Obj("<< /Type /Catalog /Pages 2 0 R >>"),
    MiniPdf.Obj("<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
    MiniPdf.Obj("<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"),
    contents,
    MiniPdf.Obj("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")), "")
}
