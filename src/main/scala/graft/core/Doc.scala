package graft.core

/** Document tree: streams, fonts, resources, pages, catalog — body.rs. */

sealed trait BodyFilter
case object FlateDecodeFilter extends BodyFilter
/** Lenient-only (core/Filters.scala); strict mode panics like the reference. */
case object AsciiHexFilter extends BodyFilter
case object LzwFilter extends BodyFilter
case object DctFilter extends BodyFilter

object BodyFilter {
  /** body.rs:42-54 — only FlateDecode supported in strict mode; the lenient
    * engine extension additionally admits ASCIIHexDecode, LZWDecode and
    * DCTDecode (any other name keeps the reference's exact panic in both
    * modes).
    */
  def from(name: String, lenient: Boolean = false): BodyFilter = name match {
    case "FlateDecode"                  => FlateDecodeFilter
    case "ASCIIHexDecode" if lenient    => AsciiHexFilter
    case "LZWDecode" if lenient         => LzwFilter
    case "DCTDecode" if lenient         => DctFilter
    case other                          => Err.fail(s"Filter name $other is currently not supported")
  }
}

/** Stream dictionary projection — body.rs:56-85. `lzwEarlyChange` (round 5,
  * LENIENT-only — the reference never reads /DecodeParms in body streams)
  * carries /DecodeParms /EarlyChange for the LZW filter; every other
  * DecodeParms key is ignored here (predictors are an xref-stream concern,
  * core/Lenient.scala).
  */
final case class StreamDict(length: Num, filter: Option[BodyFilter],
                            lzwEarlyChange: Int = 1)

object StreamDict {
  def from(dict: Map[String, PdfObj], lenient: Boolean = false): StreamDict = StreamDict(
    length = dict.get("Length") match {
      case Some(PNum(n)) => n
      case Some(PRef(obj, gen, ctx)) =>
        ObjParser.parseAt(ctx, ctx.offsetOf(obj, gen, "Length should be an indirect object")) match {
          case PNum(n) => n
          case _       => Err.fail("Length should be a numeric")
        }
      case None => Err.fail("stream dict has no Length")
      case _    => Err.fail("Length should be a numeric")
    },
    filter = dict.get("Filter") match {
      case Some(PName(name)) => Some(BodyFilter.from(name, lenient))
      case None              => None
      case _                 => Err.fail("Filter should be a name")
    },
    lzwEarlyChange =
      if (!lenient) 1 // strict never reads /DecodeParms (reference parity)
      else {
        val isLzw = dict.get("Filter").contains(PName("LZWDecode"))
        val parms = dict.get("DecodeParms")
        parms.flatMap(directEarlyChange).getOrElse(parms match {
          // indirect DecodeParms: resolve through the ref's own context
          case Some(PRef(obj, gen, rctx)) =>
            rctx.offset(obj, gen) match {
              case Some(at) => ObjParser.parseAt(rctx, at) match {
                case PDict(p) => earlyChangeIn(p)
                case o if isLzw =>
                  Err.fail(s"LZW /DecodeParms should resolve to a dictionary, found $o")
                case _ => 1
              }
              case None if isLzw => Err.fail("LZW /DecodeParms ref not found in xref")
              case None          => 1
            }
          // an unreadable DecodeParms SHAPE on an LZW stream must fail loudly
          // (decoding with the wrong width timing garbles); other filters
          // ignore DecodeParms here (predictors are the xref resolver's)
          case Some(o) if isLzw =>
            Err.fail(s"LZW /DecodeParms not supported in this form: $o")
          case _ => 1
        })
      }
  )

  /** /EarlyChange of a /DecodeParms value in a direct form — a dictionary or
    * the legal single-filter one-element array — for body streams and the
    * lenient xref/ObjStm resolver alike; None for any other shape.
    */
  private[core] def directEarlyChange(parms: PdfObj): Option[Int] = parms match {
    case PDict(p)               => Some(earlyChangeIn(p))
    case PArr(Vector(PDict(p))) => Some(earlyChangeIn(p))
    case _                      => None
  }

  private def earlyChangeIn(parms: Map[String, PdfObj]): Int = parms.get("EarlyChange") match {
    case Some(PNum(NInt(0))) => 0
    case _                   => 1
  }
}

/** Typed stream — body.rs:87-116. One filter decode ([[BodyStream.decode]])
  * yields the exact bytes; the three views differ only in whether a
  * FlateDecode stream carries the reference's 10x zero padding.
  */
final case class BodyStream(dict: StreamDict, content: Array[Byte]) {
  /** body.rs:103-109 — the reference's bytes: FlateDecode zero-padded to
    * exactly 10x the compressed size (filters.rs:4-14); the lenient-only
    * filters decode exactly (no pad quirk — that quirk is a FlateDecode
    * implementation artifact of the reference). RawContent reads this.
    */
  def getData: Array[Byte] = if (isFlate) Flate.flateDecode(content) else getDataExact

  /** The decoded bytes with no padding (a FlateDecode stream still stops at
    * its 10x cap). Image XObjects read this: their decoded length is checked
    * against the declared dimensions.
    */
  def getDataExact: Array[Byte] = BodyStream.decode(dict.filter, content, dict.lzwEarlyChange)

  /** The production decode for re-lexed consumers (Text/Chars, ToUnicode
    * CMaps): the exact bytes, as NUL padding is whitespace to the tokenizer
    * (golden-gated), unless a FlateDecode stream ends in a pad-sensitive lexer
    * state (unterminated literal / escape / comment, trailing '<' or lone '>'),
    * where the padding NULs reach the error channel (which panic fires and its
    * wording), so the same decode is padded (PdfTokenizer.padSensitiveAtEof;
    * differential-gated in QuirkSpec).
    */
  def getDataForLexing: Array[Byte] = {
    val exact = getDataExact
    if (isFlate && PdfTokenizer.padSensitiveAtEof(exact)) Flate.pad(exact, content.length) else exact
  }

  private def isFlate: Boolean = dict.filter.contains(FlateDecodeFilter)
}

object BodyStream {
  /** The one per-filter decode, shared with the lenient xref-stream and
    * ObjStm resolvers (which check the filter name first): the exact decoded
    * bytes, a FlateDecode stream truncated at the reference's 10x cap and
    * not padded ([[Flate.flateDecodeExact]]).
    */
  def decode(filter: Option[BodyFilter], bytes: Array[Byte], lzwEarlyChange: Int): Array[Byte] =
    filter match {
      case Some(FlateDecodeFilter) => Flate.flateDecodeExact(bytes)
      case Some(AsciiHexFilter)    => LenientFilters.asciiHexDecode(bytes)
      case Some(LzwFilter)         => LenientFilters.lzwDecode(bytes, lzwEarlyChange)
      case Some(DctFilter)         => LenientFilters.dctDecode(bytes)
      case None                    => bytes
    }

  /** The stream object at `at`, which is object `obj gen`: its identity lets
    * lenient decryption derive the per-object RC4 key (encryption wraps the
    * stream OUTSIDE its filters: decrypt first, then inflate/decode). Strict
    * contexts carry no decryptor.
    */
  def parseAt(ctx: Ctx, at: Int, obj: Int, gen: Int): BodyStream =
    ObjParser.parseAt(ctx, at) match {
      case PStream(header, bytes0) =>
        val bytes = ctx.decrypt.map(_.decrypt(obj, gen, bytes0)).getOrElse(bytes0)
        BodyStream(StreamDict.from(header, ctx.lenient), bytes)
      case _ => Err.fail("Stream should be a dictionary")
    }

  /** A parsed stream object, with its identity for lenient decryption (see
    * parseAt above).
    */
  def of(s: PStream, ctx: Ctx, obj: Int, gen: Int): BodyStream = {
    val bytes = ctx.decrypt.map(_.decrypt(obj, gen, s.bytes)).getOrElse(s.bytes)
    BodyStream(StreamDict.from(s.header, ctx.lenient), bytes)
  }
}

/** Font record — body.rs:150-299. */
final case class PdfFont(
    subtype: String,
    name: Option[String],
    baseFont: String,
    firstChar: Option[Num],
    lastChar: Option[Num],
    widths: Option[Vector[Num]],
    toUnicode: Option[ToUnicodeCMap],
    encoding: Option[String]
) {

  /** Horizontal displacement for byte c — body.rs:186-203. Left = the reference's
    * Err strings (recoverable: width treated as 0); panics stay exceptions.
    */
  def getWidth(c: Int): Either[String, Num] = {
    firstChar match {
      case Some(NInt(fc)) if c < fc =>
        return Left("Cannot get character width from the current font range")
      case _ => ()
    }
    widths match {
      case Some(ws) =>
        val fc = firstChar.getOrElse(Err.fail("font has widths but no FirstChar")) // unwrap — body.rs:195
        val off = c - fc.toSize
        if (off >= 0 && off < ws.length) Right(ws(off) / NReal(1000.0f))
        else Left("Width of char was not found in the font")
      case None => Left("No character widths stored in the current font")
    }
  }

  /** Per-code-point f32 width memo for the glyph hot loop: exactly
    * `getWidth(c).map(_.toF)` with Left -> 0.0f (the advance fallback,
    * content.rs:818-821), computed once per font instead of one Either +
    * NReal division allocation per shown glyph. Two-byte CMap mode looks up
    * the FIRST byte (reference quirk), so 256 entries always suffice. A font
    * without /Widths has every width Left, so it shares one zero table.
    */
  lazy val widthTableF: Array[Float] = if (widths.isEmpty) PdfFont.NoWidths else {
    val t = new Array[Float](256)
    var c = 0
    while (c < 256) {
      t(c) = getWidth(c) match {
        case Right(n) => n.toF
        case Left(_)  => 0.0f
      }
      c += 1
    }
    t
  }

  /** Rust `Display for Font` — body.rs:206-213 (diagnostic `--font` mode only;
    * nondeterministic in the reference via HashMap iteration, so never gated).
    */
  def display: String = {
    // every string field prints via Rust `{:?}` (body.rs:206-213) — Debug
    // ESCAPING included: a control/high char in a font name renders as
    // \u{..}, not raw (round-7 font-mode mutation fuzz find: plain index 27
    // mutated BaseFont to Helve\x83ica; the binary printed "Helve\u{83}ica",
    // our raw interpolation leaked the bare control char)
    def optStr(o: Option[String]) =
      o.map(s => s"Some(${TextAssembly.rustStrDebug(s)})").getOrElse("None")
    def numDbg(n: Num) = n match {
      case NInt(i)  => s"Integer($i)"
      case NReal(f) => s"Real(${RustFmt.f32(f)})"
    }
    def optNum(o: Option[Num]) = o.map(n => s"Some(${numDbg(n)})").getOrElse("None")
    val w = widths.map(ws => s"Some([${ws.map(numDbg).mkString(", ")}])").getOrElse("None")
    // full Rust derive(Debug) rendering of the cmap (round 6 — the reference
    // binary's --font output prints it; cmap.rs:4-11). Entries sort by key:
    // the reference's HashMap order is per-process random, so the byte-exact
    // gate compares font blocks with cmap entries normalized to this order.
    val tu = toUnicode.map { cm =>
      val br = cm.beginCodeSpaceRange.map(b => (b & 0xff).toString).mkString(", ")
      val er = cm.endCodeSpaceRange.map(b => (b & 0xff).toString).mkString(", ")
      val entries = cm.entries
        .map { case (k, v) => s"$k: ${TextAssembly.rustCharDebug(v)}" }.mkString(", ")
      s"Some(ToUnicodeCMap { begin_code_space_range: [$br], end_code_space_range: [$er], " +
        s"is_two_bytes: ${cm.isTwoBytes}, cmap: {$entries} })"
    }.getOrElse("None")
    s"Subtype: ${TextAssembly.rustStrDebug(subtype)}\nName: ${optStr(name)}\n" +
      s"BaseFont: ${TextAssembly.rustStrDebug(baseFont)}\nFirstChar: ${optNum(firstChar)}\n" +
      s"LastChar: ${optNum(lastChar)}\nWidths: $w\nToUnicode: $tu"
  }
}

object PdfFont {
  /** The width table of a font without /Widths: every getWidth is a Left. */
  private val NoWidths = new Array[Float](256)

  /** `Font::from(Dictionary)` — body.rs:215-299. */
  def from(dict: Map[String, PdfObj]): PdfFont = {
    dict.get("Type") match {
      case Some(PName(t)) =>
        if (t != "Font") Err.fail(s"Font dictionnary 'Type' key should be 'Font', found $t")
      case Some(o) => Err.fail(s"Font dictionnary 'Type' key a Name object, found $o")
      case None    => Err.fail("Font dictionnary should have a 'Type' key")
    }
    def numsOf(a: Vector[PdfObj]): Vector[Num] = a.map {
      case PNum(n) => n
      case o       => Err.fail(s"Widths should be an array containing only numbers, found $o")
    }
    PdfFont(
      subtype = dict.get("Subtype") match {
        case Some(PName(n)) => n
        case _              => Err.fail("Subtype should be a name")
      },
      name = dict.get("Name") match {
        case Some(PName(n)) => Some(n)
        case None           => None
        case Some(o)        => Err.fail(s"Name should be a name, found $o")
      },
      baseFont = dict.get("BaseFont") match {
        case Some(PName(n)) => n
        case _              => Err.fail("BaseFont should be a name")
      },
      firstChar = dict.get("FirstChar") match {
        case Some(PNum(n)) => Some(n)
        case None          => None
        case Some(o)       => Err.fail(s"FirstChar should be a numeric object, found $o")
      },
      lastChar = dict.get("LastChar") match {
        case Some(PNum(n)) => Some(n)
        case None          => None
        case Some(o)       => Err.fail(s"LastChar should be a numeric object, found $o")
      },
      widths = dict.get("Widths") match {
        case Some(PRef(obj, gen, ctx)) =>
          val at = ctx.offsetOf(obj, gen, "ToUnicode stream object not found in xref table")
          ObjParser.parseAt(ctx, at) match {
            case PArr(a) => Some(numsOf(a))
            case o       => Err.fail(s"ToUnicode should be a stream object, found $o")
          }
        case Some(PArr(a)) => Some(numsOf(a))
        case None          => None
        case Some(o)       => Err.fail(s"Widths should be an array of objects, found $o")
      },
      toUnicode = dict.get("ToUnicode") match {
        case Some(PRef(obj, gen, ctx)) =>
          val at = ctx.offsetOf(obj, gen, "ToUnicode stream object not found in xref table")
          ObjParser.parseAt(ctx, at) match {
            case s: PStream =>
              Some(ToUnicodeCMap.parse(Utf8.lossyBytes(BodyStream.of(s, ctx, obj, gen).getDataForLexing)))
            case o => Err.fail(s"ToUnicode should be a stream object, found $o")
          }
        case None => None
        case _    => Err.fail("ToUnicode should be an indirect object")
      },
      encoding = dict.get("Encoding") match {
        case Some(PName(n)) => Some(n)
        case Some(_)        => None // dictionary encoding dropped — body.rs:294
        case None           => None
      }
    )
  }
}

/** FontMap — body.rs:301-335. Every entry must be an indirect ref. */
final case class FontMap(fonts: Map[String, PdfFont]) {
  /** Rust Display joins with "\n" over unordered HashMap values — body.rs:304-314.
    * We iterate in sorted-key order for determinism (documented divergence; mode is
    * not golden-gated because the reference itself is nondeterministic here).
    */
  def display: String =
    fonts.toSeq.sortBy(_._1).map { case (_, f) => s"${f.display}\n" }.mkString("\n")
}

object FontMap {
  def from(dict: Map[String, PdfObj]): FontMap = FontMap(
    dict.map {
      case (key, PRef(obj, gen, ctx)) =>
        val at = ctx.offsetOf(obj, gen, s"Font dictionnary object associated to $key was not found in xref table")
        ObjParser.parseAt(ctx, at) match {
          case PDict(d) => key -> PdfFont.from(d)
          case o        => Err.fail(s"Font object is not a dictionary, found $o")
        }
      case _ => Err.fail("Font should be an indirect object")
    }
  )
}

/** Resources — body.rs:337-369: only /Font is materialized. */
final case class PdfResources(font: Option[FontMap])

object PdfResources {
  def parseAt(ctx: Ctx, at: Int): PdfResources = ObjParser.parseAt(ctx, at) match {
    case PDict(d) => from(d)
    case _        => Err.fail("Trailer should be a dictionary")
  }

  def from(dict: Map[String, PdfObj]): PdfResources = PdfResources(
    font = dict.get("Font") match {
      case Some(PRef(obj, gen, ctx)) =>
        ctx.offset(obj, gen).map { address =>
          ObjParser.parseAt(ctx, address) match {
            case PDict(d) => FontMap.from(d)
            case _        => Err.fail("Font should be a dictionary")
          }
        }
      case Some(PDict(d)) => Some(FontMap.from(d))
      case None           => None
      case Some(f)        => Err.fail(s"Font should be an indirect object or a dictionary; found $f")
    }
  )
}

/** Page-tree node / page — body.rs:371-579. A page's /Resources is required
  * (body.rs:547 unwrap), so the reference's inheritance up the tree
  * (body.rs:493-504) never runs and pages hold their own resources.
  */
sealed trait PageTreeKid {
  def extract(mode: ExtractMode): ExtractResult
}

final class PageTreeNode(val kids: Vector[PageTreeKid]) extends PageTreeKid {

  /** Kids joined with "\n" at EVERY tree level — body.rs:413-419. */
  def extract(mode: ExtractMode): ExtractResult =
    ExtractResult.joinNewline(kids.map(_.extract(mode)))
}

final class PdfPage(
    val resources: PdfResources,
    val contents: Option[BodyStream],
    val lenientText: Boolean = false
) extends PageTreeKid {

  def extract(mode: ExtractMode): ExtractResult = mode match {
    case ExtractText       => extractText(displayChar = false)
    case ExtractChars      => extractText(displayChar = true)
    case ExtractRawContent => ExtractResult.plain(extractStream)
    case ExtractFont       => ExtractResult.plain(extractFont)
  }

  private def extractFont: String = resources.font match {
    case Some(fm) => fm.display
    case None     => Err.fail("Missing font in current page resources")
  }

  /** body.rs:522-527 — content bytes round-trip through UTF-8-lossy BEFORE lexing.
    * Uses the exact-size decode (the flate zero padding is whitespace to the
    * tokenizer: byte-identical Text output at ~1/3 the alloc) with an automatic
    * padded fallback when the decoded bytes end in a pad-sensitive lexer state —
    * see BodyStream.getDataForLexing. Pure-ASCII content skips the round trip,
    * which leaves it unchanged.
    */
  private def extractText(displayChar: Boolean): ExtractResult = {
    val contentBytes = contents match {
      case Some(stream) => Utf8.lossyBytes(stream.getDataForLexing)
      case None         => Err.fail("Contents should not be empty")
    }
    TextAssembly.getText(contentBytes, resources, displayChar, lenientText)
  }

  /** body.rs:529-535. */
  private def extractStream: String = contents match {
    case Some(stream) => Utf8.lossy(stream.getData)
    case None         => Err.fail("Contents should not be empty")
  }
}

object PageTree {

  /** Max page-tree depth — a crafted Kids chain (or a node whose kid points back
    * at an ancestor) would otherwise recurse to StackOverflowError, which escapes
    * the per-row NonFatal catch (poison-payload hardening). Real documents nest
    * a handful of levels.
    */
  val MaxTreeDepth = 64

  /** Max kids one document's page tree builds (the image walk's too). Each
    * `/Kids` reference is built anew, so nodes that list the next node twice
    * cost 2^depth: 30 levels (3 KB) would run for hours or out of memory.
    */
  val MaxKids = 65536

  private[core] def countKid(ctx: Ctx): Unit = {
    ctx.pageKids += 1
    if (ctx.pageKids > MaxKids) Err.fail(s"page tree has more than $MaxKids kids")
  }

  /** `PageTreeKids::new` dispatch on /Type — body.rs:125-140. */
  def kid(ctx: Ctx, at: Int, depth: Int = 0): PageTreeKid = ObjParser.parseAt(ctx, at) match {
    case PDict(dict) =>
      dict.get("Type") match {
        case Some(PName("Pages")) => node(ctx, at, depth)
        case Some(PName("Page"))  => page(ctx, at)
        case Some(PName(_))       => Err.fail("Unexpected dictionnary type")
        case Some(o)              => Err.fail(s"Type should be a name, found object $o")
        case None                 => Err.fail(s"Type was not found in dictionnary, $dict")
      }
    case _ => Err.fail("PageTreeKids should be a dictionary")
  }

  /** `PageTreeNode::new` — body.rs:384-401. The node's /Resources is parsed
    * for its errors only: no page inherits it.
    */
  def node(ctx: Ctx, at: Int, depth: Int = 0): PageTreeNode = ObjParser.parseAt(ctx, at) match {
    case PDict(dict) =>
      if (depth > MaxTreeDepth) Err.fail(s"page tree deeper than $MaxTreeDepth")
      val kids: Vector[PageTreeKid] = dict.get("Kids") match {
        case Some(PArr(arr)) =>
          arr.map {
            case PRef(obj, gen, rctx) =>
              countKid(ctx)
              kid(rctx, rctx.offsetOf(obj, gen, "Kid not found in xref table"), depth + 1)
            case _ => Err.fail("Kid should be an indirect object")
          }
        case None => Err.fail("Kids missing in page tree node")
        case _    => Err.fail("Kids should be an array")
      }
      dict.get("Resources") match {
        case Some(PRef(obj, gen, rctx)) =>
          PdfResources.parseAt(rctx, rctx.offsetOf(obj, gen, "Kid not found in xref table"))
        case None => ()
        case _    => Err.fail("Resources should be an indirect object")
      }
      new PageTreeNode(kids)
    case _ => Err.fail("Trailer should be a dictionary")
  }

  /** `Page::from(Dictionary)` — body.rs:538-579. Resources REQUIRED at page level
    * (body.rs:547 unwrap).
    */
  def page(ctx: Ctx, at: Int): PdfPage = ObjParser.parseAt(ctx, at) match {
    case PDict(dict) =>
      val resources = dict.get("Resources") match {
        case Some(PDict(d)) => PdfResources.from(d)
        case Some(PRef(obj, gen, rctx)) =>
          val at = rctx.offsetOf(obj, gen, "Resource dictionnary address not found in xref keys")
          PdfResources.parseAt(rctx, at)
        case Some(t) => Err.fail(s"Resources should be an dictionary object $t")
        case None    => Err.fail("page has no Resources key")
      }
      val contents = dict.get("Contents") match {
        case Some(PRef(obj, gen, rctx)) =>
          val at = rctx.offsetOf(obj, gen, "Resource dictionnary address not found in xref keys")
          Some(BodyStream.parseAt(rctx, at, obj, gen))
        case None => None
        case _    => Err.fail("Contents should be an indirect object")
      }
      new PdfPage(resources, contents, ctx.lenientText)
    case _ => Err.fail("Trailer should be a dictionary")
  }
}

/** Document catalog — body.rs:583-617. */
final case class PdfCatalog(pages: Option[PageTreeNode]) {
  def extract(mode: ExtractMode): ExtractResult = pages match {
    case Some(root) => root.extract(mode)
    case None       => Err.fail("Pages should not be empty")
  }
}

object PdfCatalog {
  def parseAt(ctx: Ctx, at: Int): PdfCatalog = ObjParser.parseAt(ctx, at) match {
    case PDict(dict) =>
      PdfCatalog(pages = dict.get("Pages") match {
        case Some(PRef(obj, gen, rctx)) =>
          rctx.offset(obj, gen).map(addr => PageTree.node(rctx, addr))
        case None => Err.fail("catalog has no Pages key")
        case _    => Err.fail("Pages should be an indirect object")
      })
    case o => Err.fail(s"Catalog should be a dictionary, found $o")
  }
}

/** Document info dictionary — info.rs:6-75. */
final case class PdfInfo(
    title: Option[String],
    author: Option[String],
    creator: Option[String],
    producer: Option[String],
    creationDate: Option[String],
    modDate: Option[String]
)

object PdfInfo {
  def parseAt(ctx: Ctx, at: Int): PdfInfo = ObjParser.parseAt(ctx, at) match {
    case PDict(d) => from(d)
    case _        => Err.fail("Trailer should be a dictionary")
  }

  /** Variant with the Info object's identity: when the document encrypts
    * strings (lenient decryptor with /StrF in force — V1/V2 always), the
    * dictionary's string values are per-object-key decrypted BEFORE
    * projection, so encrypted-document metadata reads as plaintext instead of
    * ciphertext garbage.
    *
    * Byte recovery from the parsed PStr is EXACT (round 6): under a
    * strings-encrypting decryptor, ObjParser.litStr decodes every literal
    * string byte-preserving (ISO-8859-1) unconditionally — ciphertext never
    * routes through a UTF-8 decode it might accidentally survive — so
    * `s.getBytes(ISO_8859_1)` always recovers the exact ciphertext (the old
    * heuristic's ambiguous valid-multibyte-UTF-8 corner is gone). Decrypted
    * PLAINTEXT re-decodes through the same strict-UTF-8-else-byte-preserving
    * policy as unencrypted strings, so an encrypted UTF-8 title matches its
    * unencrypted twin exactly.
    */
  def parseAt(ctx: Ctx, at: Int, obj: Int, gen: Int): PdfInfo =
    ObjParser.parseAt(ctx, at) match {
      case PDict(d) =>
        ctx.decrypt.filter(_.strings) match {
          case Some(dec) =>
            from(d.map {
              case (k, ps @ PStr(s)) =>
                // exact ciphertext: the parser carries the source bytes in
                // PStr.raw (fallback: byte-preserving re-encode — litStr
                // decodes ISO-8859-1 under a strings-encrypting decryptor)
                val cipher =
                  if (ps.raw != null) ps.raw
                  else s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
                val plain = dec.decryptString(obj, gen, cipher)
                (k, PStr(ObjParser.lenientStr(plain))(plain))
              case (k, PHexStr(b)) => (k, PHexStr(dec.decryptString(obj, gen, b)))
              case kv => kv
            })
          case None => from(d)
        }
      case _ => Err.fail("Trailer should be a dictionary")
    }

  def from(d: Map[String, PdfObj]): PdfInfo = {
    def str(key: String): Option[String] = d.get(key) match {
      case Some(PStr(s)) => Some(s)
      case None          => None
      case _             => Err.fail(s"$key should be a string")
    }
    def strOrHex(key: String): Option[String] = d.get(key) match {
      case Some(PStr(s)) => Some(s)
      case Some(PHexStr(b)) =>
        Some(try Utf8.strict(b) catch { case _: PdfParseException => "" })
      case None => None
      case _    => Err.fail(s"$key should be a string")
    }
    PdfInfo(
      title = str("Title"),
      author = str("Author"),
      creator = strOrHex("Creator"),
      producer = strOrHex("Producer"),
      creationDate = str("CreationDate"),
      modDate = str("ModDate")
    )
  }
}
