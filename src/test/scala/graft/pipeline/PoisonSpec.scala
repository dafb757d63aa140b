package graft.pipeline

import java.nio.charset.StandardCharsets.ISO_8859_1
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{ExtractText, Pdf, PdfParseException, XrefStream}

/** Poison-payload hardening: crafted PDFs that would drive unbounded recursion
  * (nested dicts, page-tree cycles, xref /Prev cycles, type-2 self-reference)
  * or exponential work (page-tree nodes that share kids) must land in the
  * `error` column as PdfParseException via the parser limits — never a
  * StackOverflowError or OutOfMemoryError that kills the task (and, after
  * retries, a 10^12-row job). extractTurn additionally backstops SOE itself.
  */
class PoisonSpec extends AnyFunSuite {

  /** Minimal classic-xref PDF around caller-supplied object bodies (object i+1). */
  private def pdf(objects: Seq[String], trailerExtra: String = ""): Array[Byte] =
    MiniPdf.classic(objects.map(MiniPdf.Obj(_)), trailerExtra)

  private def turnOf(bytes: Array[Byte]): Turn =
    Turn("poison", 0, "user",
      java.util.Base64.getEncoder.encodeToString(bytes), "pdf-b64",
      new java.sql.Timestamp(0))

  test("deeply nested dictionary payload errors instead of overflowing the stack") {
    val depth = 200000
    val body = new StringBuilder
    var i = 0
    while (i < depth) { body.append("<< /A "); i += 1 }
    body.append("/Type /Catalog ")
    i = 0
    while (i < depth) { body.append(">> "); i += 1 }
    val out = ExtractJob.extractTurn(turnOf(pdf(Seq(body.toString))))
    assert(out.error != null, "expected error column")
    assert(out.error.contains("nesting"), s"got: ${out.error}")
  }

  test("page-tree cycle (node whose kid is itself) errors via the depth limit") {
    val out = ExtractJob.extractTurn(turnOf(pdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [2 0 R] /Count 1 >>"))))
    assert(out.error != null)
    assert(out.error.contains("page tree"), s"got: ${out.error}")
  }

  test("page tree whose nodes share kids errors via the kid limit") {
    // 2 KB, 262,142 kids: each node lists the next one twice
    val doc = PoisonSpec.sharedKids(17)
    val e = intercept[PdfParseException](Pdf(doc).extract(ExtractText))
    assert(e.getMessage == "page tree has more than 65536 kids")
    assert(ExtractJob.extractTurn(turnOf(doc)).error == "page tree has more than 65536 kids")
  }

  test("xref /Prev cycle errors via the chain limit") {
    // /Prev points at this same xref section -> unbounded reparse without the guard
    val base = pdf(Seq("<< /Type /Catalog /Pages 2 0 R >>"))
    // "\nxref\n" (not "xref\n", which also matches inside "startxref\n")
    val xrefOff = new String(base, ISO_8859_1).lastIndexOf("\nxref\n") + 1
    val poisoned = pdf(Seq("<< /Type /Catalog /Pages 2 0 R >>"), s" /Prev $xrefOff")
    val out = ExtractJob.extractTurn(turnOf(poisoned))
    assert(out.error != null)
    assert(out.error.contains("Prev chain"), s"got: ${out.error}")
  }

  test("xref-stream type-2 self-reference errors via the indirection limit") {
    // w=(1,1,0): each entry is [type, mid]; entry 0 is type 2 pointing at object 0
    val xs = XrefStream(size = 1, index = (0, 1), prev = None, w = (1, 1, 0),
      stream = Array[Byte](2, 0))
    val e = intercept[PdfParseException] { xs.get(0, 0) }
    assert(e.getMessage.contains("type-2"))
  }

  test("lenient route: corrupt payloads land in the error column, healthy ones extract") {
    val good = ExtractJob.extractTurn(Turn("ok", 0, "user",
      MiniPdf.synthesizeXrefStreamBase64("lenient pipeline"), "pdf-b64-lenient",
      new java.sql.Timestamp(0)))
    assert(good.error == null && good.extracted_text == "lenient pipeline"
      && good.payload_kind == "pdf-lenient")
    // truncated xref-stream payload: per-row error, never a job failure
    val truncated = MiniPdf.synthesizeXrefStream("x").dropRight(40) ++
      "\nstartxref\n9\n%%EOF".getBytes(ISO_8859_1)
    val bad = ExtractJob.extractTurn(Turn("bad", 0, "user",
      java.util.Base64.getEncoder.encodeToString(truncated), "pdf-b64-lenient",
      new java.sql.Timestamp(0)))
    assert(bad.error != null)
    // ObjStm member-count poison: a container claiming a huge /N must error
    // out via the member cap, not allocate/loop on attacker-controlled N
    val poisonN = {
      val out = new java.io.ByteArrayOutputStream()
      def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
      w("%PDF-1.5\n")
      val stmBody = "2 0" // one real header pair; /N lies
      val objStmOff = out.size()
      w(s"1 0 obj\n<< /Type /ObjStm /N ${graft.core.Lenient.MaxMaterialized + 1} /First 10 " +
        s"/Length ${stmBody.length} >>\nstream\n$stmBody\nendstream\nendobj\n")
      val xrefOff = out.size()
      // raw xref stream (W [1 3 1]): obj1 = the ObjStm container, obj2 type-2
      // inside it, obj3 = this xref stream; /Root points at the type-2 member
      val rows = new java.io.ByteArrayOutputStream()
      def row(t: Int, mid: Int, f3: Int): Unit = {
        rows.write(t); rows.write((mid >> 16) & 0xff); rows.write((mid >> 8) & 0xff)
        rows.write(mid & 0xff); rows.write(f3)
      }
      row(1, objStmOff, 0); row(2, 1, 0); row(1, xrefOff, 0)
      val rb = rows.toByteArray
      w(s"3 0 obj\n<< /Type /XRef /Size 4 /Index [1 3] /W [1 3 1] /Root 2 0 R " +
        s"/Length ${rb.length} >>\nstream\n")
      out.write(rb, 0, rb.length)
      w("\nendstream\nendobj\n")
      w(s"startxref\n$xrefOff\n%%EOF")
      out.toByteArray
    }
    val poisoned = ExtractJob.extractTurn(Turn("bigN", 0, "user",
      java.util.Base64.getEncoder.encodeToString(poisonN), "pdf-b64-lenient",
      new java.sql.Timestamp(0)))
    assert(poisoned.error != null && poisoned.error.contains("out of range"),
      s"huge /N must hit the member cap: ${poisoned.error}")
  }

  test("lenient-route poison: corrupt filters/ciphertext land in the error column, never fail") {
    def lenientTurn(bytes: Array[Byte]): Turn =
      Turn("poison", 0, "user",
        java.util.Base64.getEncoder.encodeToString(bytes), "pdf-b64-lenient",
        new java.sql.Timestamp(0))
    // invalid ASCIIHex character inside the content stream
    val hexDoc = MiniPdf.synthesizeFiltered("clean text", "ASCIIHexDecode")
    val hexStr = new String(hexDoc, ISO_8859_1)
    val corruptHex = hexStr.replaceFirst("stream\n..", "stream\nZZ").getBytes(ISO_8859_1)
    val e1 = ExtractJob.extractTurn(lenientTurn(corruptHex))
    assert(e1.error != null && e1.error.contains("ASCIIHexDecode"), s"got ${e1.error}")
    // tampered /U entry: the empty-password verification must reject explicitly
    val encDoc = new String(MiniPdf.synthesizeEncrypted("secret", 2), ISO_8859_1)
    val uIdx = encDoc.indexOf("/U <") + 4
    val tampered = (encDoc.substring(0, uIdx) +
      (if (encDoc.charAt(uIdx) == '0') "1" else "0") + encDoc.substring(uIdx + 1))
      .getBytes(ISO_8859_1)
    val e2 = ExtractJob.extractTurn(lenientTurn(tampered))
    assert(e2.error != null && e2.error.contains("empty user password"), s"got ${e2.error}")
    // LZW code out of range (a 12-bit all-ones code before any table growth)
    val lzwDoc = new String(MiniPdf.synthesizeFiltered("clean text", "LZWDecode"), ISO_8859_1)
    val sIdx = lzwDoc.indexOf("stream\n") + 7
    val junk = lzwDoc.substring(0, sIdx) + "ÿÿÿÿ" + lzwDoc.substring(sIdx + 4)
    val e3 = ExtractJob.extractTurn(lenientTurn(junk.getBytes(ISO_8859_1)))
    assert(e3.error != null, "corrupt LZW must error, not crash")
    // the lenient-text route errors (not crashes) on a quote op with no string
    val badQuote = Turn("poison", 0, "user",
      MiniPdf.synthesizeBase64("x").replaceFirst("..$", ""), "pdf-b64-lenient-text",
      new java.sql.Timestamp(0))
    assert(ExtractJob.extractTurn(badQuote) != null) // never throws
  }

  test("a poison row inside a job lands in the error column; healthy rows unaffected") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val deep = {
      val b = new StringBuilder
      (0 until 100000).foreach(_ => b.append("<< /A "))
      b.append("/Type /Catalog ")
      (0 until 100000).foreach(_ => b.append(">> "))
      pdf(Seq(b.toString))
    }
    val rows = Seq(
      turnOf(deep),
      Turn("ok", 0, "user", "healthy plain text", "plain", new java.sql.Timestamp(0))
    ).toDS()
    val out = ExtractJob.extract(rows, partitions = 2).collect()
    val byId = out.map(e => e.conv_id -> e).toMap
    assert(byId("poison").error != null)
    assert(byId("ok").error == null && byId("ok").extracted_text == "healthy plain text")
  }
}

object PoisonSpec {
  /** A catalog over `levels` Pages nodes, each of which lists the next
    * node twice (`/Kids [n 0 R n 0 R]`), over one one-character page: the
    * tree has 2^levels pages and 2^(levels+1) - 2 kids.
    */
  def sharedKids(levels: Int): Array[Byte] = {
    val nodes = (2 to levels + 1).map(i => s"<< /Type /Pages /Kids [${i + 1} 0 R ${i + 1} 0 R] >>")
    val page = levels + 2
    val content = "BT /F1 12 Tf (x) Tj ET".getBytes(ISO_8859_1)
    MiniPdf.classic(
      (Seq("<< /Type /Catalog /Pages 2 0 R >>") ++ nodes ++ Seq(
        s"<< /Type /Page /Resources << /Font << /F1 ${page + 1} 0 R >> >> /Contents ${page + 2} 0 R >>",
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")).map(MiniPdf.Obj(_)) :+
        MiniPdf.stream(content), "")
  }
}
