package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Ported from /root/reference/src/object.rs:194-385 (6 vectors). */
class ObjectSpec extends AnyFunSuite {

  private def lem(s: String) = {
    val b = s.getBytes("ISO-8859-1")
    Lemmatizer(b, 0, new Ctx(b, XRef.default))
  }

  test("dictionary with literal-string values (object.rs:202-222)") {
    val l = lem("/Title (sample) /Author (Philip Hutchison) /Creator (Pages) >>")
    val d = ObjParser.parseDict(l)
    assert(d("Title") == PStr("sample")(null))
    assert(d("Author") == PStr("Philip Hutchison")(null))
    assert(d("Creator") == PStr("Pages")(null))
  }

  test("PStr carries exact source bytes — valid-multibyte-UTF-8 ciphertext corner (round 6)") {
    // a literal whose bytes are VALID 2-byte UTF-8 (C3 A9 = é): the decoded
    // String has one char <= U+00FF, so the old re-encode heuristic picked
    // ISO-8859-1 and emitted 0xE9 — dropping the 0xC3 lead byte. Key
    // derivation over such a /O or /U then failed for the correct password.
    // PStr.raw now carries the exact bytes regardless of decode route.
    val cipher = Array[Byte](0xc3.toByte, 0xa9.toByte, 'x', 0xc2.toByte, 0x80.toByte)
    val src = "/O (".getBytes("ISO-8859-1") ++ cipher ++ ") >>".getBytes("ISO-8859-1")
    val d = ObjParser.parseDict(Lemmatizer(src, 0, new Ctx(src, XRef.default, lenient = true)))
    d("O") match {
      case p @ PStr(s) =>
        assert(java.util.Arrays.equals(p.raw, cipher), "raw bytes must be the source bytes")
        // and the old heuristic would indeed have mangled them:
        assert(!java.util.Arrays.equals(s.getBytes("ISO-8859-1"), cipher) ||
          s.getBytes("ISO-8859-1").length != cipher.length,
          "corner no longer demonstrates the heuristic loss — update the fixture")
      case o => fail(s"expected PStr, got $o")
    }
  }

  test("trailer object (object.rs:225-272)") {
    val l = lem("<</Size 14/Root 12 0 R\n/Info 13 0 R\n/ID [ <6285DCD147BBD7C07D63844C37B01D23>\n<6285DCD147BBD7C07D63844C37B01D23> ]\n/DocChecksum /700D49F24CC4E7F9CC731421E1DAB422\n>>\nstartxref\n12125\n")
    ObjParser.parse(l) match {
      case PDict(d) =>
        assert(d("Size") == PNum(NInt(14)))
        assert(d("Root") == PRef(12, 0, null))
        assert(d("Info") == PRef(13, 0, null))
        val hex = Array(98, 133, 220, 209, 71, 187, 215, 192, 125, 99, 132, 76, 55, 176, 29, 35).map(_.toByte)
        assert(d("ID") == PArr(Vector(PHexStr(hex), PHexStr(hex))))
        assert(d("DocChecksum") == PName("700D49F24CC4E7F9CC731421E1DAB422"))
      case o => fail(s"expected dict, got $o")
    }
  }

  test("catalog object (object.rs:275-292)") {
    val l = lem("1 0 obj  % entry point\n<<\n  /Type /Catalog\n\n>>\nendobj")
    ObjParser.parse(l) match {
      case PDict(d) => assert(d("Type") == PName("Catalog"))
      case o        => fail(s"expected dict, got $o")
    }
  }

  test("pages object (object.rs:295-326)") {
    val l = lem("2 0 obj\n<<\n  /Type /Pages\n  /MediaBox [ 0 0 200 200 ]\n  /Count 1\n  /Kids [ 3 0 R ]\n>>\nendobj")
    ObjParser.parse(l) match {
      case PDict(d) =>
        assert(d("Type") == PName("Pages"))
        assert(d("MediaBox") == PArr(Vector(PNum(NInt(0)), PNum(NInt(0)), PNum(NInt(200)), PNum(NInt(200)))))
        assert(d("Count") == PNum(NInt(1)))
        assert(d("Kids") == PArr(Vector(PRef(3, 0, null))))
      case o => fail(s"expected dict, got $o")
    }
  }

  test("stream object with inline Length (object.rs:329-347)") {
    val l = lem("4 0 obj\n<<\n  /Length 10\n>>\nstream\n1234567890\nendstream\nendobj")
    ObjParser.parse(l) match {
      case PStream(header, bytes) =>
        assert(header("Length") == PNum(NInt(10)))
        assert(java.util.Arrays.equals(bytes, "1234567890".getBytes))
      case o => fail(s"expected stream, got $o")
    }
  }

  test("page object with nested resources (object.rs:350-384)") {
    val l = lem("3 0 obj\n<<\n  /Type /Page\n  /Parent 2 0 R\n  /Resources <<\n    /Font <<\n      /F1 4 0 R \n    >>\n  >>\n  /Contents 5 0 R\n>>\nendobj")
    ObjParser.parse(l) match {
      case PDict(d) =>
        assert(d("Type") == PName("Page"))
        assert(d("Parent") == PRef(2, 0, null))
        assert(d("Contents") == PRef(5, 0, null))
        d("Resources") match {
          case PDict(r) => r("Font") match {
            case PDict(f) => assert(f("F1") == PRef(4, 0, null))
            case o        => fail(s"Font should be a dict, got $o")
          }
          case o => fail(s"Resources should be a dict, got $o")
        }
      case o => fail(s"expected dict, got $o")
    }
  }
}

/** Ported from /root/reference/src/xref.rs:430-482 (4 vectors). */
class XrefSpec extends AnyFunSuite {

  test("xref entry in use (xref.rs:436-446)") {
    val t = new PdfTokenizer("0000000010 00000 n".getBytes, 0)
    assert(XrefTable.readSubsectionEntry(t) == ((10, 0, true)))
  }

  test("xref entry not in use (xref.rs:449-459)") {
    val t = new PdfTokenizer("0000000000 65535 f".getBytes, 0)
    assert(XrefTable.readSubsectionEntry(t) == ((0, 65535, false)))
  }

  test("xref table valid (xref.rs:462-472)") {
    val sample = "xref\n0 6\n0000000000 65535 f \n0000000010 00000 n \n0000000079 00000 n \n0000000173 00000 n \n0000000301 00000 n \n0000000380 00000 n \ntrailer\n<<\n  /Size 6\n  /Root 1 0 R\n>>".getBytes
    XRef.parse(sample, 0) match {
      case t: XrefTable =>
        assert(t.len == 6)
        assert(t.get(1, 0) == Some(10))
        assert(t.get(2, 0) == Some(79))
        assert(t.get(5, 0) == Some(380))
      case _ => fail("expected classic table")
    }
  }

  test("xref stream accepted (xref.rs:475-481)") {
    val sample = "22 0 obj\n<<\n /Type /XRef\n/Index [0 23]\n/Size 23\n/W [1 2 1]\n/Root 20 0 R\n/Info 21 0 R\n/ID [<8EBF2018CB18810B2C88BDD4E7324774> <8EBF2018CB18810B2C88BDD4E7324774>]\n/Length 0        \n/Filter /FlateDecode\n>>\nstream\n\nendstream\nendobj".getBytes
    XRef.parse(sample, 0) match {
      case _: XrefStream => ()
      case _             => fail("expected xref stream")
    }
  }

  test("startxref backward search (xref.rs:286-309)") {
    val b = "junk startxref 99 more startxref\n12125\n%%EOF".getBytes
    assert(XRef.startxref(b) == 12125)
  }
}

/** Ported from /root/reference/src/info.rs:77-100 (1 vector). */
class InfoSpec extends AnyFunSuite {
  test("info dict (info.rs:83-99)") {
    val b = "1 0 obj\n<< /Title (sample) /Author (Philip Hutchison) /Creator (Pages) /Producer (Mac OS X 10.5.4 Quartz PDFContext)\n/CreationDate (D:20080701052447Z00'00') /ModDate (D:20080701052447Z00'00')\n>>\nendobj".getBytes
    val info = PdfInfo.parseAt(new Ctx(b, XRef.default), 0)
    assert(info == PdfInfo(
      title = Some("sample"),
      author = Some("Philip Hutchison"),
      creator = Some("Pages"),
      producer = Some("Mac OS X 10.5.4 Quartz PDFContext"),
      creationDate = Some("D:20080701052447Z00'00'"),
      modDate = Some("D:20080701052447Z00'00'")
    ))
  }
}

/** Ported from /root/reference/src/body.rs:619-631 (1 vector). */
class BodySpec extends AnyFunSuite {
  test("catalog with default xref yields no pages (body.rs:626-630)") {
    val b = "1 0 obj  % entry point\n    <<\n      /Type /Catalog\n      /Pages 2 0 R\n    >>\n    endobj".getBytes
    val cat = PdfCatalog.parseAt(new Ctx(b, XRef.default), 0)
    assert(cat.pages.isEmpty)
  }

  test("a reference to an object the xref lacks: the outcome at every resolution site") {
    import graft.pipeline.MiniPdf
    // one page under one node, font 4 and content stream 5; each override
    // puts `99 0 R` (absent from the xref) at one resolution site
    val content = "BT /F1 12 Tf (hi) Tj ET".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    def doc(catalog: String = "<< /Type /Catalog /Pages 2 0 R >>",
            pages: String = "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            resources: String = "<< /Font << /F1 4 0 R >> >>",
            contents: String = "5 0 R",
            font: String = "",
            length: String = content.length.toString,
            streamExtra: String = "",
            trailer: String = ""): Array[Byte] =
      MiniPdf.classic(Seq(
        MiniPdf.Obj(catalog),
        MiniPdf.Obj(pages),
        MiniPdf.Obj(s"<< /Type /Page /Parent 2 0 R /Resources $resources /Contents $contents >>"),
        MiniPdf.Obj(s"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica$font >>"),
        MiniPdf.Obj(s"<< /Length $length$streamExtra >>", content)), trailer)
    // the error text, with identity hash codes masked as KernelPinSpec does
    // (the object parser's /Length message prints the dictionary and its Ctx)
    def outcome(run: => Any): String =
      try run.toString catch {
        case e: PdfParseException =>
          "error: " + e.getMessage.replaceAll("""([A-Za-z_$][\w.$]*|\[B)@[0-9a-f]+""", "$1@ID")
      }
    val got = Seq(
      "none missing" -> outcome(Pdf(doc()).extract(ExtractText)),
      // the object parser resolves /Length before StreamDict reads it
      "stream /Length" -> outcome(Pdf(doc(length = "99 0 R")).extract(ExtractText)),
      "font /Widths" -> outcome(Pdf(doc(font = " /FirstChar 32 /LastChar 126 /Widths 99 0 R"))
        .extract(ExtractText)),
      "font /ToUnicode" -> outcome(Pdf(doc(font = " /ToUnicode 99 0 R")).extract(ExtractText)),
      "font-map entry" -> outcome(Pdf(doc(resources = "<< /Font << /F1 99 0 R >> >>")).extract(ExtractText)),
      "resources /Font, Text" -> outcome(Pdf(doc(resources = "<< /Font 99 0 R >>")).extract(ExtractText)),
      "resources /Font, Font" -> outcome(Pdf(doc(resources = "<< /Font 99 0 R >>")).extract(ExtractFont)),
      "/Kids entry" -> outcome(Pdf(doc(pages = "<< /Type /Pages /Kids [99 0 R] /Count 1 >>"))
        .extract(ExtractText)),
      "node /Resources" -> outcome(Pdf(doc(pages = "<< /Type /Pages /Kids [3 0 R] /Count 1 /Resources 99 0 R >>"))
        .extract(ExtractText)),
      "page /Resources" -> outcome(Pdf(doc(resources = "99 0 R")).extract(ExtractText)),
      "page /Contents" -> outcome(Pdf(doc(contents = "99 0 R")).extract(ExtractText)),
      "catalog /Pages" -> outcome(Pdf(doc(catalog = "<< /Type /Catalog /Pages 99 0 R >>")).extract(ExtractText)),
      "trailer /Info" -> outcome(Pdf(doc(trailer = " /Info 99 0 R")).readInfo),
      "trailer /Info, lenient" -> outcome(Pdf.lenient(doc(trailer = " /Info 99 0 R")).readInfo),
      "trailer /Encrypt" -> outcome(Pdf(doc(trailer = " /Encrypt 99 0 R")).extract(ExtractText)),
      "trailer /Encrypt, lenient" -> outcome(Pdf.lenient(doc(trailer = " /Encrypt 99 0 R")).extract(ExtractText)),
      "LZW /DecodeParms, lenient" -> outcome(Pdf.lenient(doc(streamExtra = " /Filter /LZWDecode /DecodeParms 99 0 R"))
        .extract(ExtractText)),
      "unfiltered /DecodeParms, lenient" -> outcome(Pdf.lenient(doc(streamExtra = " /DecodeParms 99 0 R"))
        .extract(ExtractText)),
      "image walk /Pages" -> outcome(Pdf.lenient(doc(catalog = "<< /Type /Catalog /Pages 99 0 R >>")).listImages),
      "image walk /Resources" -> outcome(Pdf.lenient(doc(resources = "99 0 R")).listImages),
      "image XObject entry" -> outcome(Pdf.lenient(doc(resources = "<< /XObject << /Im1 99 0 R >> >>")).listImages)
    )
    val expected = Seq(
      "none missing" -> "hi",
      "stream /Length" ->
        "error: Stream dictionary should have a Length key, Map(Length -> PRef(99,0,graft.core.Ctx@ID))",
      "font /Widths" -> "error: ToUnicode stream object not found in xref table",
      "font /ToUnicode" -> "error: ToUnicode stream object not found in xref table",
      "font-map entry" -> "error: Font dictionnary object associated to F1 was not found in xref table",
      "resources /Font, Text" -> "error: Fontmap does not contains the font name F1",
      "resources /Font, Font" -> "error: Missing font in current page resources",
      "/Kids entry" -> "error: Kid not found in xref table",
      "node /Resources" -> "error: Kid not found in xref table",
      "page /Resources" -> "error: Resource dictionnary address not found in xref keys",
      "page /Contents" -> "error: Resource dictionnary address not found in xref keys",
      "catalog /Pages" -> "error: Pages should not be empty",
      "trailer /Info" -> "None",
      "trailer /Info, lenient" -> "None",
      "trailer /Encrypt" -> "hi",
      "trailer /Encrypt, lenient" -> "error: Encrypt object not found in xref",
      "LZW /DecodeParms, lenient" -> "error: LZW /DecodeParms ref not found in xref",
      "unfiltered /DecodeParms, lenient" -> "hi",
      "image walk /Pages" -> "error: image xobject ref not found in xref table",
      "image walk /Resources" -> "error: image xobject ref not found in xref table",
      "image XObject entry" -> "error: image xobject ref not found in xref table")
    got.zip(expected).foreach { case (g, e) => assert(g == e) }
    assert(got.length == expected.length)
  }

  test("an indirect /Length whose object header is `6 0 objx`: StreamDict.from's re-resolution fails") {
    import graft.pipeline.MiniPdf
    val content = "BT /F1 12 Tf (hi) Tj ET".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    def doc(header: String): Array[Byte] = {
      val b = MiniPdf.classic(Seq(
        MiniPdf.Obj("<< /Type /Catalog /Pages 2 0 R >>"),
        MiniPdf.Obj("<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        MiniPdf.Obj("<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>"),
        MiniPdf.Obj("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
        MiniPdf.Obj("<< /Length 6 0 R >>", content),
        MiniPdf.Obj(s" ${content.length}")), "")
      // same byte length, so the xref offsets still hold
      val s = new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
      s.replace("6 0 obj\n", header).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    assert(Pdf(doc("6 0 obj\n")).extract(ExtractText) == "hi")
    // the xref accepts the header (it checks the "6 0 obj" prefix); the
    // object parser's look-ahead reads `6 0 R` as 0 and keeps an empty
    // stream; StreamDict.from then parses object 6 again and fails
    val e = intercept[PdfParseException](Pdf(doc("6 0 objx")).extract(ExtractText))
    assert(e.getMessage == "Unexpected end of stream found in object")
    assert(e.getStackTrace.exists(_.getClassName.startsWith("graft.core.StreamDict")))
  }

}
