package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{MiniPdf, SynthGen}

/** Byte-exact gate of the strict text kernel that needs no reference
  * checkout. Every shape is a seeded MiniPdf document: multi-page, multi-Tj,
  * flate, the one-byte ToUnicode-CMap shape of perfbench, a two-byte CMap
  * variant (keys above 0xFF, array-form and overlapping ranges, real kerns),
  * a content stream that uses every strict operator and one that uses the
  * text-state and lenient-text operators. Each shape runs four unmutated
  * documents plus 1,000 seeded single-byte mutations of them (7,000
  * mutations over the seven shapes) through the Text, Chars, Font and
  * RawContent modes and the lenient-text route, and one SHA-256 per
  * (shape, mode) covers every output, span and error message in order. The
  * literals were computed by the engine before its text kernel was rewritten
  * for speed (the textOps ones before the content decoder dropped its
  * instruction types), so any change to an output byte or an error's wording
  * fails here. A missing pin fails and prints the digest it computed.
  */
class KernelPinSpec extends AnyFunSuite {

  private val Bases = 4
  private val MutationsPerShape = 1000

  private def prose(seed: Long): String = SynthGen.prose(seed, 24, 24)

  private def hex(bytes: Seq[Int], width: Int): String =
    bytes.map(b => s"%0${width}X".format(b)).mkString("<", "", ">")

  /** perfbench's CMap shape: lower-case words through a CMap mapping a-z to
    * A-Z, one TJ line per 12 words, kerned between words.
    */
  private def cmapDoc(text: String): Array[Byte] = {
    val body = text.split(' ').grouped(12).map { words =>
      words.map(w => hex(w.map(_.toInt), 2)).mkString("[", " -250 <20> ", "] TJ\n0 -14 Td\n")
    }.mkString
    MiniPdf.synthesizeWithCMap(s"BT\n/F1 12 Tf\n70 700 Td\n${body}ET\n",
      "2 beginbfrange <20> <20> <0020> <61> <7A> <0041> endbfrange")
  }

  /** Two-byte CMap: a-z through an incrementing range, 0x0100-0x0103 through
    * an array range, and a later range that overrides an earlier bfchar.
    */
  private def cmap2Doc(text: String): Array[Byte] = {
    val body = text.split(' ').grouped(5).zipWithIndex.map { case (words, i) =>
      val shown = words.map(w => hex(w.map(_.toInt) :+ (0x100 + w.length % 4), 4))
      s"${i % 3} Tc\n" + shown.mkString("[", " -120.5 ", s"] TJ\n0 -${12 + i} Td\n")
    }.mkString
    MiniPdf.synthesizeWithCMap(s"BT\n/F1 10 Tf\n72 720 Td\n${body}(raw) Tj\nET\n",
      "1 beginbfchar <0061> <0058> endbfchar\n" +
        "3 beginbfrange <0061> <007A> <0041> <0100> <0103> [<002E> <00E9> <2014> <0021>] " +
        "<0020> <0020> <0020> endbfrange", twoByte = true)
  }

  /** Every strict content operator around the text shows, plus an unknown
    * operator whose operands stay on the buffer.
    */
  private def opsDoc(text: String): Array[Byte] = {
    val words = text.split(' ')
    val content =
      "q 1 0 0 1 5 5 cm 2 w 1 J [3 1] 0 d 0.5 i /GS0 gs 0 0 m 10 10 l 1 2 3 4 5 6 c h\n" +
        "0 0 10 10 re W W* S f f* n /DeviceRGB cs 0.3 sc 0.1 G 0.2 g 1 0 0 RG 0 1 0 rg Q\n" +
        "/P <</MCID 0>> BDC /Tag BMC EMC EMC\nBT\n/F1 11 Tf\n1.5 Tc 0 Tr 1 0 0 1 40 600 Tm\n" +
        words.zipWithIndex.map { case (w, i) =>
          val move = i % 4 match {
            case 0 => "T*"
            case 1 => s"0 -${i % 7} Td"
            case 2 => s"3 -${i % 5} TD"
            case _ => s"1 0 0 1 ${i * 3} ${500 - i} Tm"
          }
          s"$move\n(${MiniPdf.escapeLiteral(w)}) Tj\n[(${w.take(2)}) ${i - 20} (${w.drop(2)}) -7.25] TJ\n"
        }.mkString +
        "7 8 unknownop 1 2 Td\n(tail) Tj\n/Im1 Do\nET\n"
    MiniPdf.synthesizeRawContent(content)
  }

  /** The text-state operators under a sheared text matrix (so a glyph
    * advance moves ty, and Chars mode prints every advance): Tw/Tz/TL/Ts,
    * `'` and `"`, which strict mode leaves on the operand buffer for the
    * next TJ to show or kern by; `q … Tf … Tc … Q` nesting; and an unknown
    * operator whose numbers reach a TJ as kerns.
    */
  private def textOpsDoc(text: String): Array[Byte] = {
    val words = text.split(' ').map(MiniPdf.escapeLiteral)
    val content = "BT\n/F1 11 Tf\n1 0.05 0 1 40 600 Tm\n14 TL\n0.5 Tw 110 Tz 2 Ts T*\n" +
      words.zipWithIndex.map { case (w, i) =>
        i % 5 match {
          case 0 => s"q /F1 ${9 + i % 4} Tf ${i % 3} Tc q 2.5 Tc [($w) -30 ( )] TJ Q [($w)] TJ Q [( $w)] TJ\n"
          case 1 => s"${i % 4} Tw ${80 + i % 40} Tz [($w ) $i (x)] TJ\n"
          case 2 => s"${10 + i % 7} TL ($w) ' [( )] TJ\n"
          case 3 => s"${i % 3} 0.5 ($w) \" ${i % 9} Ts [($w)] TJ\n"
          case _ => s"$i -$i unknownop [($w) 12.5 (z)] TJ\n"
        }
      }.mkString + "ET\n"
    MiniPdf.synthesizeRawContent(content)
  }

  private val shapes: Seq[(String, String => Array[Byte])] = Seq(
    "multiPage" -> (t => MiniPdf.synthesizeMultiPage(t, 60)),
    "multiTj" -> (t => MiniPdf.synthesizeMultiTj(t, 16)),
    "flate" -> MiniPdf.synthesizeFlate,
    "cmap" -> cmapDoc,
    "cmap/twoByte" -> cmap2Doc,
    "ops" -> opsDoc,
    "textOps" -> textOpsDoc)

  private val modes: Seq[(String, Array[Byte] => ExtractResult)] = Seq(
    "Text" -> (b => Pdf(b).extractResult(ExtractText)),
    "Chars" -> (b => Pdf(b).extractResult(ExtractChars)),
    "Font" -> (b => Pdf(b).extractResult(ExtractFont)),
    "RawContent" -> (b => Pdf(b).extractResult(ExtractRawContent)),
    "LenientText" -> (b => Pdf.lenientText(b).extractResult(ExtractText)))

  /** The unmutated documents of a shape, then its seeded mutations: each
    * mutation overwrites one byte, half the time with a byte of PDF syntax.
    */
  private def corpus(shapeIdx: Int, build: String => Array[Byte]): Seq[Array[Byte]] = {
    val bases = (0 until Bases).map(i => build(prose(1000L * shapeIdx + i)))
    val syntax = "()<>[]/\\%.-+0123456789 \n\rTtJjRfmobj".getBytes(UTF_8)
    val rng = new java.util.Random(0x6b65726eL + shapeIdx)
    val mutants = (0 until MutationsPerShape).map { m =>
      val doc = bases(m % Bases).clone()
      val pos = rng.nextInt(doc.length)
      doc(pos) = if (rng.nextBoolean()) syntax(rng.nextInt(syntax.length)) else rng.nextInt(256).toByte
      doc
    }
    bases ++ mutants
  }

  /** One line per document: the text and spans, or the error as the
    * pipeline's `error` column would carry it, with identity hash codes
    * masked (a message that prints a `PRef` prints its `Ctx` as
    * `graft.core.Ctx@1b2c3d4`, which differs from run to run).
    */
  private def outcome(run: => ExtractResult): String =
    try {
      val r = run
      r.text + "\u0000" + r.spans.map(s => s"${s.op}:${s.start}:${s.end}").mkString(",")
    } catch {
      case e: PdfParseException            => error(e.getMessage)
      case scala.util.control.NonFatal(e) => error(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case _: StackOverflowError           => error("StackOverflowError")
    }

  private def error(msg: String): String =
    "\u0001" + msg.replaceAll("""([A-Za-z_$][\w.$]*|\[B)@[0-9a-f]+""", "$1@ID")

  private def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update(0xff.toByte) }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  private val pinned: Map[String, String] = Map(
    "multiPage@Text" -> "ad397aff6c480fb3e221d3fad1198065cc1de3ded001f0558e69105ee0da9cb5",
    "multiPage@Chars" -> "98690a0c436367fdd5b54f5f7f4aa9ea45fdf840c165c584eed1740f29179392",
    "multiPage@Font" -> "91cfa9df4bc6d8a86f1a556024b092f6b713b989af0e2494b4ab7cc1f962637d",
    "multiPage@RawContent" -> "2137b2627f88f6f633f12dea4152916b90d5b9ffd373e39eb67922ef9c3117da",
    "multiPage@LenientText" -> "90d4df38afc33d27daac1a7145297ec4a2d5e58e9b8572891dfa319e664f623d",
    "multiTj@Text" -> "71b216680aeefa9b00b542334006dbdea28247cd3f9fbe02687052c585b463c6",
    "multiTj@Chars" -> "563b2f4ddc762368882998aa899326a3e669a450be36db29813003fa1b4b7f96",
    "multiTj@Font" -> "7d78c2c250678a6a3a27f051dd1e44c582469536f4330f87f89f8b0d38835d32",
    "multiTj@RawContent" -> "7e875c7544da97844819730e88acbaf6452497fcf4f9c9f0e7fe90f0ec5547b6",
    "multiTj@LenientText" -> "0c50c28249435cf54fe2b6f8acb3614298a9fde743bc508f6aaec4a9ff74a492",
    "flate@Text" -> "5bc1c9c67ba1665dde1b510bccde4d791a89abd4de04fc6d191fe7fff297d546",
    "flate@Chars" -> "ceb7d71979ba372d685a555e780f4d1c55bdbb6661c005e25aedc71001eabc16",
    "flate@Font" -> "52166ee980839a4939f0758b2418725451ba99c5dd1616d8b98c7a5201424ade",
    "flate@RawContent" -> "634bc4df18d4db2cf41923460b68f025b77714f54cceb8d1a97d6c09bc044bd3",
    "flate@LenientText" -> "c179d9a6a92144733d1932f3c9aee4df9c2715a54926bdb173c79795e8c6ce2c",
    "cmap@Text" -> "c5856924ae8fc11908f030421a8f7ec8dbc5700eb617e72d847beb83d2fa6223",
    "cmap@Chars" -> "0899c7f2370db5b0cddc6c2e57a0e4646dedd98f25544f084d2ca9be4843c1d5",
    "cmap@Font" -> "72cebe2c73f4c4d82f9e55cc08980a6d41a1f6a06555bc97ccd16a6bccefca70",
    "cmap@RawContent" -> "bd42219c234b26d8c00c24a60a30f924a9c20619474c309e56f0af168ec18d79",
    "cmap@LenientText" -> "18ed893bc7d5b62105d29e1554bf196f08cfd751380f519c6836fb58ded9e91b",
    "cmap/twoByte@Text" -> "a85e02f292ef25556a838cc86169524ee9bc78da50df6b5bd0401172b59f3a11",
    "cmap/twoByte@Chars" -> "e0e5a716b51bcfa10756132a91904709d98f53968c0dd58244b9922915777903",
    "cmap/twoByte@Font" -> "9dacafee2971d99c5c128251fe933f1a7b77b1dfdb2160c96ec6945aaa863e96",
    "cmap/twoByte@RawContent" -> "aedad48633c3182ac796ea5dcbc6380d88ad2d9ea1a2cf141b6a417ace0c2cac",
    "cmap/twoByte@LenientText" -> "a40bbb81a98b8cee7eeda760e20f475e31e4c470d7033fa23dc1b27cd0710261",
    "ops@Text" -> "ad5c5e3b6efe90e33b8f4ebcd3578c996734e94a0ddbd5c214b1c31e18a0470d",
    "ops@Chars" -> "5f990686048397036f1ca8807a78320933ecf63c05f12c534eb8a8eadc35a8b5",
    "ops@Font" -> "0bdd6e1f6ff2aff8f1064e06697d604825cc93d823d6745c0a0797abd26ecb7f",
    "ops@RawContent" -> "cd6c49d3ff69bdfc028aa2d93d99ceb6348a4361649d404c9a861e7f9d9c1a73",
    "ops@LenientText" -> "af5aac599376676d18b4610551143f8589da9c097b53b2db5d486ba759a460a4",
    "textOps@Text" -> "bc9c92709c91edf782c53915ffbde002ced4fb1281217f2fcf286baa8dc6ec65",
    "textOps@Chars" -> "4ea47f6eb216849dead718f5871bac9ccdf25153de67d314aeff779e43e6b8b7",
    "textOps@Font" -> "5f2225f074ee0eeb2d51df4abee913b6ad43f21f7bfefe0bc3294eaa3883347e",
    "textOps@RawContent" -> "8531633fa045c057ca82e89b21588d083ca17f8cbb94412f5c071f353e8a3d0a",
    "textOps@LenientText" -> "a4f248ef82a20d37a8b298009dc4d706f62d04209a96c97de9967d7d0e4cf1a8")

  for (((name, build), idx) <- shapes.zipWithIndex) test(s"$name: every mode matches its pinned SHA-256") {
    val docs = corpus(idx, build)
    assert(docs.length == Bases + MutationsPerShape)
    docs.take(Bases).foreach(d => assert(!outcome(modes.head._2(d)).startsWith("\u0001"), s"$name base fails"))
    val got = modes.map { case (mode, run) =>
      val lines = docs.map(d => outcome(run(d)))
      info(s"$mode: ${lines.count(_.startsWith("\u0001"))} of ${lines.length} documents fail")
      s"$name@$mode" -> sha256(lines)
    }
    val wrong = got.filterNot { case (k, v) => pinned.get(k).contains(v) }
    assert(wrong.isEmpty, wrong.map { case (k, v) => s"\"$k\" -> \"$v\"," }.mkString("\n", "\n", ""))
  }
}
