package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Ported from the reference's content.rs:954-1086 (4 vectors), each
  * instruction read as the operator the decoder returns and its operands.
  */
class ContentSpec extends AnyFunSuite {
  import ContentSpec._

  test("instruction stream BT/TD/Tf/Tj/ET (content.rs:961-986)") {
    assert(operators("BT\n70 50 TD\n/F1 12 Tf\n(Hello, world!) Tj\nET") == Vector(
      "BT" -> Vector(),
      "TD" -> Vector(int(70), int(50)),
      "Tf" -> Vector(TName("F1"), int(12)),
      "Tj" -> Vector(lit("Hello, world!")),
      "ET" -> Vector()))
  }

  test("hexstring TJ array (content.rs:989-1018)") {
    assert(operators("[<18>14<0D>2<06>7<14>1<04>-4<03>21<02>1<06>-2<04>-4<02>1<0906>]TJ") == Vector(
      "TJ" -> Vector(TArrayBegin,
        THex(Array[Byte](24)), int(14),
        THex(Array[Byte](13)), int(2),
        THex(Array[Byte](6)), int(7),
        THex(Array[Byte](20)), int(1),
        THex(Array[Byte](4)), int(-4),
        THex(Array[Byte](3)), int(21),
        THex(Array[Byte](2)), int(1),
        THex(Array[Byte](6)), int(-2),
        THex(Array[Byte](4)), int(-4),
        THex(Array[Byte](2)), int(1),
        THex(Array[Byte](9, 6)),
        TArrayEnd)))
  }

  test("inline dict skipped, BDC/q/re decode (content.rs:1021-1035)") {
    assert(operators(" /P <</MCID 0>> BDC q\n0.00000887 0 595.25 842 re") == Vector(
      "BDC" -> Vector(TName("P")),
      "q" -> Vector(),
      "re" -> Vector(TNum(NReal(0.00000887f)), int(0), TNum(NReal(595.25f)), int(842))))
  }

  test("complex TJ with kerning (content.rs:1038-1085)") {
    assert(operators("BT\n/F33 8.9664 Tf 54 713.7733 Td[(v0)-525(:=)-525(ld)-525(state[748])-2625(//)-525(load)-525(primes)-525(from)-525(the)-525(trace)-525(activation)-525(record)]TJ") == Vector(
      "BT" -> Vector(),
      "Tf" -> Vector(TName("F33"), TNum(NReal(8.9664f))),
      "Td" -> Vector(int(54), TNum(NReal(713.7733f))),
      "TJ" -> Vector(TArrayBegin,
        lit("v0"), int(-525),
        lit(":="), int(-525),
        lit("ld"), int(-525),
        lit("state[748]"), int(-2625),
        lit("//"), int(-525),
        lit("load"), int(-525),
        lit("primes"), int(-525),
        lit("from"), int(-525),
        lit("the"), int(-525),
        lit("trace"), int(-525),
        lit("activation"), int(-525),
        lit("record"),
        TArrayEnd)))
  }
}

object ContentSpec {
  def int(v: Int): Tok = TNum(NInt(v))
  def lit(s: String): Tok = TLit(s.getBytes("ISO-8859-1"))

  /** Every operator the decoder returns for `content`, with its operands. */
  def operators(content: String): Vector[(String, Vector[Tok])] = {
    val c = new ContentDecoder(content.getBytes("ISO-8859-1"))
    val out = Vector.newBuilder[(String, Vector[Tok])]
    var op = c.next()
    while (op != null) {
      out += new String(op.bytes, "ISO-8859-1") -> Vector.tabulate(c.operandCount)(c.operand)
      op = c.next()
    }
    out.result()
  }
}

/** Ported from /root/reference/src/cmap.rs:157-195 (4 vectors). */
class CMapSpec extends AnyFunSuite {

  test("one-byte bfchar map (cmap.rs:162-171)") {
    val s = "/CIDInit/ProcSet findresource begin\n12 dict begin\nbegincmap\n/CIDSystemInfo<<\n/Registry (Adobe)\n/Ordering (UCS)\n/Supplement 0\n>> def\n/CMapName/Adobe-Identity-UCS def\n/CMapType 2 def\n1 begincodespacerange\n<00> <FF>\nendcodespacerange\n27 beginbfchar\n<01> <004C>\n<02> <006F>\n<03> <0072>\n<04> <0065>\n<05> <006D>\n<06> <0020>\n<07> <0069>\n<08> <0070>\n<09> <0073>\n<0A> <0075>\n<0B> <0064>\n<0C> <006C>\n<0D> <0074>\n<0E> <0061>\n<0F> <002C>\n<10> <0063>\n<11> <006E>\n<12> <0067>\n<13> <0079>\n<14> <0076>\n<15> <0062>\n<16> <0071>\n<17> <002E>\n<18> <0041>\n<19> <006A>\n<1A> <0053>\n<1B> <006B>\nendbfchar\nendcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\nCMapNam"
    val cm = ToUnicodeCMap.parse(s)
    assert(!cm.isTwoBytes)
    assert(cm.lookup(1) == 'L')
    assert(cm.lookup(2) == 'o')
    assert(cm.lookup(3) == 'r')
    assert(cm.lookup(4) == 'e')
    assert(cm.lookup(5) == 'm')
  }

  test("two-byte cmap with interleaved blocks (cmap.rs:174-178)") {
    val s = "/CIDInit /ProcSet findresource begin\n22 dict begin\nbegincmap\n/CIDSystemInfo\n<< /Registry (Adobe)\n/Ordering (UCS)\n/Supplement 0\n>> def\n/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n10 beginbfchar\n<0001> <0041>\n<001A> <0042>\n<001C> <0043>\n<0022> <0044>\n<0028> <0045>\n<003E> <0046>\n<0040> <0047>\n<0046> <0048>\n<0049> <0049>\n<005B> <004C>\nendbfchar\n1 beginbfrange\n<0061> <0062> <004D>\nendbfrange\n14 beginbfchar\n<0069> <004F>\n<0084> <0050>\n<0087> <0052>\n<008B> <0053>\n<0093> <0054>\n<0098> <0055>\n<00AB> <0056>\n<00AE> <0057>\n<00B4> <0059>\n<00CD> <0061>\n<00E6> <0062>\n<00E8> <0063>\n<00EE> <0064>\n<00F4> <0065>\nendbfchar\n1 beginbfrange\n<010B> <010C> <0066>\nendbfrange\n5 beginbfchar\n<0113> <0068>\n<0116> <0069>\n<0124> <006A>\n<0127> <006B>\n<012B> <006C>\nendbfchar\n1 beginbfrange\n<0131> <0132> <006D>\nendbfrange\n8 beginbfchar\n<013A> <006F>\n<0155> <0070>\n<0158> <0072>\n<015C> <0073>\n<0165> <0074>\n<016A> <0075>\n<017D> <0076>\n<017F> <0077>\nendbfchar\n1 beginbfrange\n<0184> <0185> <0078>\nendbfrange\n3 beginbfchar\n<018F> <007A>\n<01AF> <00660066>\n<01B1> <00660069>\nendbfchar\n1 beginbfrange\n<034F> <0358> <0030>\nendbfrange\n3 beginbfchar\n<03D9> <0020>\n<03DF> <002E>\n<03E2> <003B>\nendbfchar\n1 beginbfrange\n<03FC> <03FD> <0028>\nendbfrange\n1 beginbfchar\n<042D> <0026>\nendbfchar\nendcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\nCMapNam"
    val cm = ToUnicodeCMap.parse(s)
    assert(cm.isTwoBytes)
    assert(cm.lookup(1) == 'A')
  }

  test("single bfchar (cmap.rs:181-185)") {
    val s = "begincodespacerange\n<0000> <FFFF>\nendcodespacerange\nbeginbfchar\n<03D9> <0020>\nendbfchar"
    val cm = ToUnicodeCMap.parse(s)
    assert(cm.lookup(985) == ' ')
  }

  test("multiple bfrange forms (cmap.rs:188-194)") {
    val s = "begincodespacerange\n<0000> <FFFF>\nendcodespacerange\nbeginbfrange\n<03DF> <03E0> [<002E> <002C>]\n<03E1> <03E2> <003A>\nendbfrange"
    val cm = ToUnicodeCMap.parse(s)
    assert(cm.lookup(991) == '.')
    assert(cm.lookup(992) == ',')
    assert(cm.lookup(993) == ':')
  }

  private val space = "begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"

  test("a later write to a key wins: bfrange over bfchar and bfchar over bfrange") {
    val cm = ToUnicodeCMap.parse(space +
      "beginbfchar\n<0041> <0058>\nendbfchar\nbeginbfrange\n<0040> <0042> <0061>\nendbfrange\n" +
      "beginbfchar\n<0042> <0059>\nendbfchar")
    assert(cm.lookup(0x40) == 'a')
    assert(cm.lookup(0x41) == 'b')
    assert(cm.lookup(0x42) == 'Y')
    assert(cm.entries == Vector(0x40 -> 'a', 0x41 -> 'b', 0x42 -> 'Y'))
  }

  test("two-byte keys above 0xFF, and array ranges that run past 0xFFFF") {
    val cm = ToUnicodeCMap.parse(space +
      "beginbfchar\n<0123> <00E9>\n<FF00> <2014>\nendbfchar\nbeginbfrange\n<FFFF> <FFFF> [<0041> <0042>]\nendbfrange")
    assert(cm.isTwoBytes)
    assert(cm.lookup(0x123) == '\u00e9')
    assert(cm.lookup(0xff00) == '\u2014')
    assert(cm.lookup(0x23) == -1 && cm.lookup(0x1ff) == -1)
    assert(cm.lookup(0xffff) == 'A' && cm.lookup(0x10000) == 'B' && cm.lookup(0x10001) == -1)
  }

  test("a glyph the CMap does not map fails with the reference's message") {
    val pdf = graft.pipeline.MiniPdf.synthesizeWithCMap("BT\n/F1 12 Tf\n[<41> -50 <42>] TJ\nET\n",
      "1 beginbfchar <41> <0058> endbfchar")
    val e = intercept[PdfParseException](Pdf(pdf).extract(ExtractText))
    assert(e.getMessage == "CMap does not contain a char with idx 66")
  }

  test("Font mode prints the CMap sorted by key, keys past 0xFFFF last") {
    val pdf = graft.pipeline.MiniPdf.synthesizeWithCMap("BT\n/F1 12 Tf\n[<0005>] TJ\nET\n",
      "2 beginbfchar <0005> <0062> <0001> <0061> endbfchar\n" +
        "1 beginbfrange <FFFF> <FFFF> [<0041> <0042>] endbfrange\n" +
        "1 beginbfchar <0100> <0063> endbfchar", twoByte = true)
    val font = Pdf(pdf).extract(ExtractFont)
    assert(font.contains("cmap: {1: 'a', 5: 'b', 256: 'c', 65535: 'A', 65536: 'B'} })"), font)
  }
}
