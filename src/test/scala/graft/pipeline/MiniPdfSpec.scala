package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{ExtractText, Pdf}

/** MiniPdf round trips through the extractor, and byte pins for every public
  * MiniPdf shape. Each pinned shape runs on two fixed inputs whose chars are
  * all in the BMP: printable ASCII with the literal escapes `(`, `)` and `\`,
  * and text with Latin-1 and non-Latin-1 chars. The SHA-256 literals were
  * computed from the per-shape writers that the single byte-offset writer
  * replaced, so any change to a document's bytes fails here. Nothing is
  * written to disk.
  */
class MiniPdfSpec extends AnyFunSuite {
  test("synthesized PDF round-trips byte-exactly through the extractor") {
    for (text <- Seq(
        "Hello, world!",
        "parens (nested (deep)) and \\ backslash",
        "multi\nline\ntext",
        SynthGen.prose(7L, 8, 40))) {
      val pdf = Pdf(MiniPdf.synthesize(text))
      assert(pdf.extract(ExtractText) == text)
    }
  }

  test("multi-Tj synthesis: same text, one span per chunk, substring invariant") {
    for ((text, chunk) <- Seq(("Hello, world!", 5), ("", 40),
        ("parens (nested (deep)) and \\ backslash", 7),
        (SynthGen.prose(11L, 10, 60), 40))) {
      val r = Pdf(MiniPdf.synthesizeMultiTj(text, chunk)).extractResult(ExtractText)
      assert(r.text == text, "multi-Tj must not change the extracted text")
      val expected = text.grouped(chunk).filter(_.nonEmpty).size
      assert(r.spans.length == expected, s"one span per non-empty $chunk-char chunk")
      r.spans.zipWithIndex.foreach { case (sp, i) =>
        assert(sp.op == "Tj")
        assert(sp.start == i * chunk && sp.end == math.min((i + 1) * chunk, text.length))
        assert(r.text.substring(sp.start, sp.end) == text.substring(sp.start, sp.end))
      }
    }
  }

  test("multi-page synthesis: pages join with newline, each page trims leading ' '/'\\n'") {
    def expected(text: String, chunk: Int): String = {
      val chunks = if (text.isEmpty) Seq("") else text.grouped(chunk).toSeq
      chunks.map(_.dropWhile(c => c == ' ' || c == '\n')).mkString("\n")
    }
    for ((text, chunk) <- Seq(("Hello, world!", 5), ("", 40),
        ("space boundary x yz", 6), // a chunk starting with ' ' gets page-trimmed
        ("line\nbreaks\ninside pages", 7),
        (SynthGen.prose(13L, 12, 50), 100))) {
      val got = Pdf(MiniPdf.synthesizeMultiPage(text, chunk)).extract(graft.core.ExtractText)
      assert(got == expected(text, chunk), s"chunk=$chunk text=$text")
    }
  }

  test("synthesized PDF raw content matches the content stream shape") {
    val raw = Pdf(MiniPdf.synthesize("Hi")).extract(graft.core.ExtractRawContent)
    assert(raw == "BT\n70 50 TD\n/F1 12 Tf\n(Hi) Tj\nET\n")
  }

  test("synthesized PDF info dictionary round-trips") {
    val info = Pdf(MiniPdf.synthesize("parens (x) and more text beyond the title cut")).readInfo
    assert(info.isDefined)
    assert(info.get.title == Some("parens (x) and more text"))
    assert(info.get.author == Some("graft"))
    assert(info.get.creator == Some("minipdf"))
  }

  test("chars mode emits per-glyph diagnostic lines (non-gated format)") {
    val out = Pdf(MiniPdf.synthesize("Hi")).extract(graft.core.ExtractChars)
    assert(out ==
      "'H', \"Type1\", \"Helvetica\", (1, 0, 0, 1, 70, 50)\n" +
      "'i', \"Type1\", \"Helvetica\", (1, 0, 0, 1, 70, 50)\n")
  }

  test("font mode lists the page fonts") {
    val out = Pdf(MiniPdf.synthesize("Hi")).extract(graft.core.ExtractFont)
    assert(out.contains("Subtype: \"Type1\""))
    assert(out.contains("BaseFont: \"Helvetica\""))
  }

  private val inputs = Seq(
    "ascii" -> "Pinned (paren) text \\ with a backslash, 0123 and ) ( again.",
    "bmp" -> "Café € naïve — Ω ✓ 漢字 über straße, (x) \\ end")

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  /** perfbench's CMap shape: TJ hex strings through a ToUnicode CMap that
    * maps a-z to A-Z, one TJ line per 12 words.
    */
  private def cmapDoc(text: String): Array[Byte] = {
    def hex(s: String) = s.map(c => f"${c.toInt}%02X").mkString
    val body = text.split(' ').grouped(12).map(_.mkString(" ")).map { line =>
      line.split(' ').map(w => s"<${hex(w)}>").mkString("[", " -250 <20> ", "] TJ\n0 -14 Td\n")
    }.mkString
    MiniPdf.synthesizeWithCMap(s"BT\n/F1 12 Tf\n70 700 Td\n${body}ET\n",
      "2 beginbfrange <20> <20> <0020> <61> <7A> <0041> endbfrange")
  }

  private val jpeg = Array.tabulate[Byte](97)(i => (i * 37 + 5).toByte)
  private val gray = Array.tabulate[Byte](9 * 6)(i => ((i * 13) % 256).toByte)
  private val user = "user-pw".getBytes(UTF_8)
  private val owner = "owner-pw".getBytes(UTF_8)

  private def shape(name: String)(f: String => Array[Byte]): (String, String => Array[Byte]) =
    name -> f

  // SynthGen's corpus uses "synthesize" and "flate"; perfbench's pdf-heavy
  // corpus uses "flate" and the three "perfbench/" shapes
  private val shapes = Seq(
    shape("synthesize")(MiniPdf.synthesize),
    shape("rawContent")(t => MiniPdf.synthesizeRawContent(s"BT\n/F1 9 Tf\n($t) Tj\nET\n")),
    shape("withCMap")(t => MiniPdf.synthesizeWithCMap(s"BT\n/F1 12 Tf\n[<41>] TJ\n($t) Tj\nET\n",
      "1 beginbfchar <41> <0042> endbfchar")),
    shape("withCMap/twoByte")(t => MiniPdf.synthesizeWithCMap(s"BT\n/F1 12 Tf\n[<0041>] TJ\nET\n% $t\n",
      "1 beginbfchar <0041> <0043> endbfchar", twoByte = true)),
    shape("incremental")(t => MiniPdf.synthesizeIncremental(Seq(t, t.reverse, "third rev"))),
    shape("incremental/overrideGen")(t => MiniPdf.synthesizeIncremental(Seq(t, "update"), overrideGen = 1)),
    shape("incremental/freeObj5Gen0")(t => MiniPdf.synthesizeIncremental(Seq(t, "a", "b"), freeObj5Gen = 0)),
    shape("incremental/freeObj5Gen65535")(t =>
      MiniPdf.synthesizeIncremental(Seq(t, "c"), overrideGen = 2, freeObj5Gen = 65535)),
    shape("multiTj")(t => MiniPdf.synthesizeMultiTj(t, 7)),
    shape("multiPage")(t => MiniPdf.synthesizeMultiPage(t, 9)),
    shape("multiPage/empty")(t => MiniPdf.synthesizeMultiPage(t.take(0), 9)),
    shape("xrefStream")(MiniPdf.synthesizeXrefStream),
    shape("objStm")(t => MiniPdf.synthesizeObjStm(t)),
    shape("objStm/layout")(t => MiniPdf.synthesizeObjStm(t, memberOrder = Seq(3, 0, 4, 2, 1),
      sep = "", firstPad = 3, compress = false, containers = 2, wWidths = (2, 4, 2))),
    shape("objStm/compressed3")(t => MiniPdf.synthesizeObjStm(t, memberOrder = Seq(4, 3, 2, 1, 0),
      sep = " \n", containers = 3)),
    shape("filtered/asciiHex")(t => MiniPdf.synthesizeFiltered(t, "ASCIIHexDecode")),
    shape("filtered/lzw1")(t => MiniPdf.synthesizeFiltered(t, "LZWDecode")),
    shape("filtered/lzw0")(t => MiniPdf.synthesizeFiltered(t, "LZWDecode", lzwEarlyChange = 0)),
    shape("image/dct")(t => MiniPdf.synthesizeImagePdf(t, jpeg, 8, 4)),
    shape("image/flate")(t => MiniPdf.synthesizeFlateImagePdf(t, gray, 9, 6)),
    shape("textOps")(t => MiniPdf.synthesizeTextOps(t, 6)),
    shape("flate")(MiniPdf.synthesizeFlate),
    shape("perfbench/multiPage400")(t => MiniPdf.synthesizeMultiPage(t * 8, 400)),
    shape("perfbench/multiTj48")(t => MiniPdf.synthesizeMultiTj(t, 48)),
    shape("perfbench/cmap")(t => cmapDoc(t.toLowerCase))
  ) ++ (for (r <- Seq(2, 3, 4, 6); flate <- Seq(true, false); pwd <- Seq(false, true)) yield
    shape(s"encrypted/r$r${if (flate) "" else "/raw"}${if (pwd) "/pwd" else ""}")(t =>
      if (pwd) MiniPdf.synthesizeEncrypted(t, r, flate, user, owner)
      else MiniPdf.synthesizeEncrypted(t, r, flate)))

  private val pinned: Map[String, String] = Map(
    "encrypted/r2/pwd@ascii" -> "4c1f2ae86f06e9ce205be55140c99628b489c06513b004244103d404511265e5",
    "encrypted/r2/pwd@bmp" -> "76c25c6c7725b9d5adc1c3200e353ac42d3eb1c4e1f4087960bbfdd5398875c3",
    "encrypted/r2/raw/pwd@ascii" -> "0635627aa402f43d2d511a504e0c57635e2ec9c92b97ff41fb6de762205b0375",
    "encrypted/r2/raw/pwd@bmp" -> "e8ccdd362f65c4f57604c49fc3f4cc6479af0c7dff26d2cdb7801d2061955e52",
    "encrypted/r2/raw@ascii" -> "886c7f6912c7c29ecaea49f17561fa92bde4ad76a51002a3f337e959ba0cc14a",
    "encrypted/r2/raw@bmp" -> "d5eae05e00bf02b5e019f94d739e54bd3e536a24731804380cfdf79a3619e27e",
    "encrypted/r2@ascii" -> "c1471591113f7892d9fbd77eddaeca2d09793e23ae5b631399951905313cfafc",
    "encrypted/r2@bmp" -> "9cd9ac7d0b73fef6a04dc4ba0e2852cb862c9504ea86a5a32e98026c6fa27d92",
    "encrypted/r3/pwd@ascii" -> "55b3567867587c734811e05bb6a58b130dc6282cbd7a98e976b5f2074ab67fc3",
    "encrypted/r3/pwd@bmp" -> "7e0be68c9f92a8746063f26c803ca53ad349f134632b3c363125d91630d652a2",
    "encrypted/r3/raw/pwd@ascii" -> "0f4b8ca8600b7a1cb6a40793c571e231539d159c545e68527b7f11dcdd8625f7",
    "encrypted/r3/raw/pwd@bmp" -> "d631c2a59ec629c2aeaea65acb254637f6ecd7f1f0e4417b8f24fd6900f47d0a",
    "encrypted/r3/raw@ascii" -> "027591e8107b9212025d4b67571633b187da5a0571b28dabdbd7a5d96cd581c3",
    "encrypted/r3/raw@bmp" -> "982fbd8e692ae486f05b9b0ab7f55721529ef24853e99ebc03a74b499ee8e4f6",
    "encrypted/r3@ascii" -> "383cbc63d651e15b9bffd65e56a031cd1da3ae99cccd04c62a8c0dd10581d387",
    "encrypted/r3@bmp" -> "3114dcf702c4631a8c170d63e578a2a9ed35a424173d2a773c312bbc46f9209f",
    "encrypted/r4/pwd@ascii" -> "143f4762117265a78e100fee509a2b573040d53487e93279e373e8b1f88832a1",
    "encrypted/r4/pwd@bmp" -> "bb5346326eb5873b0c74bdb090cf6a265e16bb0c82cb7eae3b50dba817255888",
    "encrypted/r4/raw/pwd@ascii" -> "24c2074db678a08d725d69f8420f9870f8623c158d1739bfef28ad993a665dad",
    "encrypted/r4/raw/pwd@bmp" -> "393e93f25b9c7c6b5204062ca2a7e53ed2e43822554021e5452eb370683fa290",
    "encrypted/r4/raw@ascii" -> "d6c1768b65e208aad24b7dda6cfcd836aba366b2d38fea8fed46a739571a8abb",
    "encrypted/r4/raw@bmp" -> "95e8df8d7c8416d733a764cdaffa78e4559469f7a53c992d4b607864a87e534a",
    "encrypted/r4@ascii" -> "8cdd7d2c6dc8927f8f29f5c1f2b9f347ef22f84f16942d9b1872ba17d8f0ca3c",
    "encrypted/r4@bmp" -> "2d2273d8380bfdf42a9c899e3d9d5cac0f722864a7c3a6c09d13da08c474028e",
    "encrypted/r6/pwd@ascii" -> "b1031c9b9ef364681e0e5f1e7406b7f8e2437073b7c07da37de2be912a21315a",
    "encrypted/r6/pwd@bmp" -> "ac31248a525af5e27bcb8df84dbfdb410907e8fa9bddbedc7103eb3679e39ee6",
    "encrypted/r6/raw/pwd@ascii" -> "4909118afba5dce27d701ae236044587acc58f03637f1c88792610f31af9a21b",
    "encrypted/r6/raw/pwd@bmp" -> "8fad711dfc95c3ab56439a5bbf61ab746e1b1b0e8ab6ceacc9b0d09a705dfc17",
    "encrypted/r6/raw@ascii" -> "b4dd53ab78657ae04297cbb4870496f5dccaeeaf3d4311e50b827a9c843aedf1",
    "encrypted/r6/raw@bmp" -> "ab6b6ed5ab071d72eb64ba27b5ee59e3902176f37d7c9ee864dda212ddfdf62f",
    "encrypted/r6@ascii" -> "ec4c8037ce88399830edd9cb2a064d0201b0234ec0447478c6eb7552c3a17b19",
    "encrypted/r6@bmp" -> "49cc337e52ba1eb75bb5703b8a3d11e360f7bcff8c2b65c3d054b0885d688660",
    "filtered/asciiHex@ascii" -> "50b26f1db217a51b4a7db2cbb28fadf980ca9c84caf97cc9ef01164d82465f23",
    "filtered/asciiHex@bmp" -> "af025a032976cbac1c3f1d221fad118b0bfdd75a4e083932ad06a6b3d9d3a7fc",
    "filtered/lzw0@ascii" -> "ae74a2a519006f3e49d2f8eb7266d3c1f4ed84223625fa5759eba4df2155a7eb",
    "filtered/lzw0@bmp" -> "c50fe85134799fd1a18acd7cff2fe098779cc22b4d63390f9173218bfbd8057f",
    "filtered/lzw1@ascii" -> "ebd3b28c39e1ef63352f6a44aa3da7848a17115470280e7a24533fb49eee095e",
    "filtered/lzw1@bmp" -> "8b5d0da51004375ef5e8cdf709e96a728ee480606798c032ee659d48278333a2",
    "flate@ascii" -> "1ca5d4b97ad4df0b40cfc2277bbfacd30e34d5a744da255db94742f8b9c8c223",
    "flate@bmp" -> "f5fa0671058ae51bbae3cec785eb6e0eca13f428d6c4159f226917e50e4d4100",
    "image/dct@ascii" -> "8c261e5224d3ff15fb265930afde07bb100f0a02872ff420e76c1fe556db27b8",
    "image/dct@bmp" -> "8f054a8586eccdc76b789e0e419e2e0b647c496408149ca65198fd14d8d38fad",
    "image/flate@ascii" -> "b4b619076c7febfa8d40b4ab31a36057957ea09968c2044a4344403cd2142864",
    "image/flate@bmp" -> "db8b1c829b20284820ac7eee7388ef9ce80476eccd96c75f5dc10a5bc48c194e",
    "incremental/freeObj5Gen0@ascii" -> "3f89fa6b6459d6becc64f4356933eafc735f2283bd751e878a8195ad44910afa",
    "incremental/freeObj5Gen0@bmp" -> "0a49deddf865f5b7475dc0718f7c9d236c11acffb331f4bc34736b46f04cb8d2",
    "incremental/freeObj5Gen65535@ascii" -> "cb90c126e4aa6d28403b71d631fa48b48b9bcb52f7f5e87ad795256942585984",
    "incremental/freeObj5Gen65535@bmp" -> "3cca56075ea9cbfb7316114ecc8fb18698b287310850de64974717cacdb09e56",
    "incremental/overrideGen@ascii" -> "1d1da6f8a441a36996bb9ad8cab6df4e2a633734427917e61d3f8743be42d3fe",
    "incremental/overrideGen@bmp" -> "141799330b4734d8a095c96139e66eb3d5e97adc2cce2dd75f754d77de5af375",
    "incremental@ascii" -> "4539db27f84fd23169997247bd3bb26d7707c2ad9e18128e5b82fcc7ff5a032f",
    "incremental@bmp" -> "08eb114237e806875da2f72de1c365b0158cf31a481efd07a968dd0e0f0748b3",
    "multiPage/empty@ascii" -> "59fa3e1329ae6d91ec4db3a6f781cf880fc4ae441dbee8513f201d544ebd9352",
    "multiPage/empty@bmp" -> "59fa3e1329ae6d91ec4db3a6f781cf880fc4ae441dbee8513f201d544ebd9352",
    "multiPage@ascii" -> "b990741f2e5c05374cf5d09937bc05dab57acb08c34b1ec0a69fdfcf0c7698e6",
    "multiPage@bmp" -> "01ef7c3289abd0ffcc11b4abdc47fd9743ffc2f7881bbeabc808eebc45894ab8",
    "multiTj@ascii" -> "4334108813eb9c12be16552775786515176af260e4baa1a5ba371acb0d669544",
    "multiTj@bmp" -> "a2d557c71520611206875ef92282860944fb850604dfd4a98ebf6aaed8a69100",
    "objStm/compressed3@ascii" -> "852be9e8935531783e1efd833fdd0da6af87bf3ece1a7b7de05210a95676f74f",
    "objStm/compressed3@bmp" -> "4eb0c15a424a932b57081d74e331b2456715a043b12587d6bf7bb01d93b87360",
    "objStm/layout@ascii" -> "7e7d5de38a44704d7e37d24b0fe1113dea5a6e8a558a065cda0594fd35cc42d7",
    "objStm/layout@bmp" -> "1456ed105fedd3e9b33ff0d60def985561517d091253c7ca7cb849b6edd9bce2",
    "objStm@ascii" -> "098a80a8f9f00b24cef17a03d010769cb198b618caf874d1bf9d4c865d070bce",
    "objStm@bmp" -> "3e4a0dc281a19a16700b8967e670600d17958edb74db1607e56289023bce3317",
    "perfbench/cmap@ascii" -> "c048595b9570f767e5614c3ccd5c6662902a727e518b747ab71cbf002a4db0f4",
    "perfbench/cmap@bmp" -> "c986cbee2c4c0e88d993b5d4e77b65b65a671a23ab8d11bf8efb368a00f3e423",
    "perfbench/multiPage400@ascii" -> "d82770f0329ead1780a9ac877ca084353a48e930ae14df929d13016b33e95412",
    "perfbench/multiPage400@bmp" -> "5dde8b783f4ab6ba8cf3767c3391f7bb413fb4458c08de84c941d7dfccd2208e",
    "perfbench/multiTj48@ascii" -> "984c4ef30d792c50a827c6c2335ffe1a2e510ea0771640469fe9bd2608284295",
    "perfbench/multiTj48@bmp" -> "f0e47569cfe98d3c61f6e1dbfa005dcac686b0b5572c530876c3fbf67c14adf5",
    "rawContent@ascii" -> "98d2a95f50af4763993ac926ac5a31d8e5719973dff0d74b3d5f5323c4a25367",
    "rawContent@bmp" -> "dfca2b29813d4be242d74d5f975b66f0204f34ddbe6854c4102ac0c76c6c2191",
    "synthesize@ascii" -> "6db34a7c4e7f66eed10b82200ffe1a96935f91f9bbecfff401f2851421d7fbcd",
    "synthesize@bmp" -> "f0e47569cfe98d3c61f6e1dbfa005dcac686b0b5572c530876c3fbf67c14adf5",
    "textOps@ascii" -> "71f91c2c91b512a1505b944bc0019bb004d8f12472485e01dcfc451c5f5a963d",
    "textOps@bmp" -> "3c5e416abfc440ebd06c8f61ee0eb2ad5ca60232a640aaf016a165acf4740904",
    "withCMap/twoByte@ascii" -> "598b0e98f222483b7a59a51a33ee94e0c3ef30315ae12c295f3873b82a88b27c",
    "withCMap/twoByte@bmp" -> "ed60f9354322bfd052c374ba342b2066f5f45c653de597212e00133b73811667",
    "withCMap@ascii" -> "eb839e1312378904c8d89d4e69e9816118a3458fc706fa7956873b4bb1b0b8fa",
    "withCMap@bmp" -> "7826809e43d914375370482ce0bd081848f7369309b5ff70ecad86d7e48bd2e3",
    "xrefStream@ascii" -> "a879e29f344d7ffa7324991b50c10ec71a30e5af731bc5b8d3ca840464090cfb",
    "xrefStream@bmp" -> "a48afa6cabb43d51cbe3b2b1ff862f6c28bfcaf38633de602b4da6c15b51bb34")

  for ((name, build) <- shapes) test(s"$name: bytes match the pinned SHA-256") {
    val got = inputs.map { case (in, text) => s"$name@$in" -> sha256(build(text)) }
    val wrong = got.filterNot { case (k, v) => pinned.get(k).contains(v) }
    assert(wrong.isEmpty, wrong.map { case (k, v) => s"\"$k\" -> \"$v\"," }.mkString("\n", "\n", ""))
  }
}
