package graft.core

import java.util.Arrays
import scala.annotation.switch
import scala.collection.mutable.ArrayBuffer

/** Extraction modes — lib.rs:16-21. */
sealed trait ExtractMode
case object ExtractText extends ExtractMode
case object ExtractChars extends ExtractMode
case object ExtractFont extends ExtractMode
case object ExtractRawContent extends ExtractMode

/** Character-offset span of one text-showing instruction in the final extracted
  * string — engine addition required by the north star (no reference counterpart;
  * definition per SURVEY §7.5).
  */
final case class Span(op: String, start: Int, end: Int)

/** Extraction result: the reference's output string plus our span sidecar. */
final case class ExtractResult(text: String, spans: Vector[Span])

object ExtractResult {
  def plain(text: String): ExtractResult = ExtractResult(text, Vector.empty)

  /** Page outputs joined with "\n" at every tree level — body.rs:413-419. */
  def joinNewline(parts: Seq[ExtractResult]): ExtractResult = {
    val sb = new StringBuilder
    val spans = Vector.newBuilder[Span]
    var first = true
    parts.foreach { p =>
      if (!first) sb.append('\n')
      first = false
      val off = sb.length
      sb.append(p.text)
      p.spans.foreach(s => spans += Span(s.op, s.start + off, s.end + off))
    }
    ExtractResult(sb.toString, spans.result())
  }
}

/** Text state — content.rs:638-665, the only graphics state text output
  * reads, so `q`/`Q` save and restore just this. Tw/Tz/TL/Ts are NOT
  * implemented by the reference (they hit the unknown-operator path), so in
  * strict mode tw stays 0 forever; the lenientText decoder extension writes
  * them.
  */
final class TextState {
  var tc: Num = NInt(0)
  var tw: Num = NInt(0)
  var th: Num = NReal(1.0f)
  var tl: Num = NInt(0)
  var tf: Option[String] = None
  var tfs: Option[Num] = None
  def copyOf: TextState = {
    val t = new TextState
    t.tc = tc; t.tw = tw; t.th = th; t.tl = tl; t.tf = tf; t.tfs = tfs
    t
  }
}

/** Content-stream decoder + state machine — content.rs:100-635. Each
  * [[next]] reads operands up to the next operator the decoder knows, checks
  * them as the reference's instruction constructor does (same order, same
  * error text) and applies the operator's effect on the text state and text
  * matrices, then returns the operator's shared [[TBare]] (null at the end).
  * Its operands stay readable through [[operandCount]]/[[operand]] until the
  * next call. Operators that only draw (paths, colours, `cm`, `w`, `d`, …)
  * are checked and otherwise dropped: no output depends on them.
  *
  * Replicated quirks:
  *  - operand buffer is NOT cleared after an unknown operator (content.rs:624-628
  *    falls through without returning, retaining `buf`), so a later operator
  *    sees the retained operands first;
  *  - `Td` with operand count != 2 is skipped entirely, its operands dropped
  *    (content.rs:507-509);
  *  - inline dictionaries are skipped wholesale (content.rs:234-241);
  *  - comments inside content panic (content.rs:630) — the raw tokenizer (not the
  *    Lemmatizer) feeds this decoder, so Token::Comment reaches the catch-all.
  */
final class ContentDecoder(bytes: Array[Byte], lenientText: Boolean = false) {
  private val tok = new PdfTokenizer(bytes, 0)
  var textState: TextState = new TextState
  private val stack: ArrayBuffer[TextState] = ArrayBuffer.empty
  var tm: Mat = Mat.identity
  private var tlm: Mat = Mat.identity

  private var buf = new Array[Tok](16)
  private var size = 0

  /** The operands of the operator [[next]] last returned. */
  def operandCount: Int = size
  def operand(i: Int): Tok = buf(i)

  private def processTd(tx: Num, ty: Num): Unit = {
    tlm = Mat(1.0f, 0.0f, 0.0f, 1.0f, tx.toF, ty.toF) * tlm
    tm = tlm
  }

  // the reference indexes buf[i] directly and PANICS when an operator
  // arrives with too few operands (Rust index-out-of-bounds); map that
  // panic to PdfParseException like every other panic site — a raw
  // IndexOutOfBoundsException here would escape the per-row error
  // discipline (found by the round-6 byte-mutation differential fuzz)
  private def tokAt(i: Int, op: String): Tok =
    if (i < size) buf(i)
    else Err.fail(s"Operator $op expects operand ${i + 1}, buffer holds $size")

  private def num(i: Int, op: String): Num = tokAt(i, op) match {
    case TNum(n) => n
    case t       => Err.fail(s"Operand $t is not allowed with operator $op")
  }

  /** Checks operands `from until to` are numbers, naming `op` in the error. */
  private def nums(from: Int, to: Int, op: String): Unit = {
    var i = from
    while (i < to) { num(i, op); i += 1 }
  }

  private def name(i: Int, op: String): String = tokAt(i, op) match {
    case TName(n) => n
    case t        => Err.fail(s"Operand $t is not allowed with operator $op")
  }

  private def lit(i: Int, op: String): Unit = tokAt(i, op) match {
    case _: TLit => ()
    case x       => Err.fail(s"Operand $x is not allowed with operator $op")
  }

  def next(): TBare = {
    size = 0
    var t = tok.next()
    while (t != null) {
      t match {
        case _: TLit | _: TName | TArrayBegin | TArrayEnd | _: THex | _: TNum =>
          if (size == buf.length) buf = Arrays.copyOf(buf, size * 2)
          buf(size) = t
          size += 1
        case TDictBegin =>
          var d = tok.next()
          while (d != null && d != TDictEnd) d = tok.next()
        case bare: TBare =>
          if (operator(bare.op)) return bare
        case other =>
          Err.fail(s"Pdf token $other has no mapping implemented to ContentStream")
      }
      t = tok.next()
    }
    null
  }

  /** Checks and applies operator `op` over the buffered operands. False for
    * an operator the decoder does not know, a diagnostic only in the
    * reference, which keeps the operands (content.rs:624-628), and for a
    * skipped `Td`, which drops them.
    */
  private def operator(op: Int): Boolean = {
    (op: @switch) match {
      case Op.q => stack += textState.copyOf
      case Op.Q =>
        if (stack.isEmpty) Err.fail("Unable to restore graphic state from empty stack")
        textState = stack.remove(stack.length - 1)
      case Op.cm => nums(0, 6, "re")
      case Op.w | Op.J => num(0, "J")
      case Op.d =>
        if (size == 0) Err.fail("End of stream too early")
        buf(0) match {
          case TArrayBegin => ()
          case x           => Err.fail(s"First operand $x is not allowed for operator d")
        }
        var i = 1
        var inArr = true
        while (inArr) {
          if (i >= size) inArr = false
          else {
            buf(i) match {
              case TNum(_)   => ()
              case TArrayEnd => inArr = false
              case x         => Err.fail(s"Unexpected token $x in dash array")
            }
            i += 1
          }
        }
        if (i < size) buf(i) match {
          case TNum(_) => ()
          case x       => Err.fail(s"First operand $x is not allowed for operator d")
        } else Err.fail("End of stream too early")
      case Op.i => num(0, "re")
      case Op.gs => name(0, "gs")
      case Op.m | Op.l => nums(0, 2, "re")
      case Op.c => nums(0, 6, "Tm")
      case Op.re => nums(0, 4, "re")
      case Op.h | Op.W | Op.WStar | Op.S | Op.f | Op.fStar | Op.n | Op.ET | Op.BDC | Op.BMC | Op.EMC => ()
      case Op.cs => name(0, "cs")
      case Op.sc => num(0, "cs")
      case Op.G | Op.g => num(0, "G")
      case Op.RG | Op.rg => nums(0, 3, "rg")
      case Op.BT => tm = Mat.identity; tlm = Mat.identity
      case Op.TD =>
        val tx = num(0, "TD"); val ty = num(1, "TD")
        textState.tl = -ty
        processTd(tx, ty)
      case Op.Td =>
        if (size != 2) { size = 0; return false } // arity guard — content.rs:507-509
        processTd(num(0, "TD"), num(1, "TD"))
      case Op.Tc => textState.tc = num(0, "TD")
      case Op.Tf =>
        val font = name(0, "TD")
        val fontSize = num(1, "TD")
        textState.tf = Some(font)
        textState.tfs = Some(fontSize)
      case Op.Tr => num(0, "Tr")
      case Op.Tm =>
        val a = num(0, "Tm"); val b = num(1, "Tm"); val c = num(2, "Tm")
        val d = num(3, "Tm"); val e = num(4, "Tm"); val f = num(5, "Tm")
        tm = Mat(a.toF, b.toF, c.toF, d.toF, e.toF, f.toF)
        tlm = tm
      case Op.TStar => processTd(NInt(0), textState.tl)
      case Op.Tj => lit(0, "Tj")
      case Op.TJ => ()
      case Op.Do => name(0, "Do")
      // ---- lenient-TEXT extension (flag-gated; strict falls through to
      // the reference's unknown-op path). `'`/`"` reuse the engine's existing
      // T* convention (processTd(0, tl)) — the ty SIGN follows T*'s
      // replicated quirk, which is output-identical because newline
      // inference keys on ty inequality, not direction.
      case Op.Tw | Op.Tz | Op.TL | Op.Ts | Op.Quote | Op.DblQuote if lenientText => lenientOperator(op)
      case _ => return false
    }
    true
  }

  private def lenientOperator(op: Int): Unit = (op: @switch) match {
    case Op.Tw => textState.tw = num(0, "Tw")
    case Op.Tz => textState.th = NReal(num(0, "Tz").toF / 100.0f)
    case Op.TL => textState.tl = num(0, "TL")
    case Op.Ts => num(0, "Ts")
    case Op.Quote =>
      lit(0, "'")
      processTd(NInt(0), textState.tl)
    case Op.DblQuote =>
      val aw = num(0, "\""); val ac = num(1, "\"")
      lit(2, "\"")
      textState.tw = aw
      textState.tc = ac
      processTd(NInt(0), textState.tl)
  }
}

/** Text assembly — `TextContent::get_text`, content.rs:719-951. The correctness
  * heart: only Tj/TJ emit output; a newline is inferred when the f32 ty of the text
  * matrix changed since the previous show; Tj ignores the CMap (bytes as chars) while
  * TJ applies it; leading '\n'/' ' trimmed per page. It switches on each operator
  * the [[ContentDecoder]] returns and reads its operands in place: Tj (and the
  * lenient-text `'`/`"`) shows the literal the decoder just checked, TJ walks the
  * operand buffer.
  */
object TextAssembly {

  /** The text matrix of one TJ show in registers. `shift(tx)` is
    * `Mat(1, 0, 0, 1, tx, 0) * m` with the same f32 operations in the same
    * order as `Mat.*` (the zero and unit terms included: they decide -0 and
    * NaN), so a glyph advance or kern allocates nothing.
    */
  private final class TextMatrix(m: Mat) {
    var a: Float = m.a; var b: Float = m.b; var c: Float = m.c
    var d: Float = m.d; var e: Float = m.e; var f: Float = m.f

    def shift(tx: Float): Unit = {
      val na = 1.0f * a + 0.0f * c
      val nb = 1.0f * b + 0.0f * d
      val nc = 0.0f * a + 1.0f * c
      val nd = 0.0f * b + 1.0f * d
      val ne = tx * a + 0.0f * c + e
      val nf = tx * b + 0.0f * d + f
      a = na; b = nb; c = nc; d = nd; e = ne; f = nf
    }

    def mat: Mat = Mat(a, b, c, d, e, f)
  }

  /** The page's output chars: an append is a store, and a Tj's bytes are
    * widened in one loop.
    */
  private final class TextBuf(capacity: Int) {
    private var chars = new Array[Char](math.max(16, capacity))
    private var len = 0

    def length: Int = len

    private def room(n: Int): Unit =
      if (len + n > chars.length) chars = Arrays.copyOf(chars, math.max(chars.length * 2, len + n))

    def append(c: Char): Unit = { room(1); chars(len) = c; len += 1 }

    def append(s: String): Unit = { room(s.length); s.getChars(0, s.length, chars, len); len += s.length }

    /** Each byte as the char of the same value (ISO-8859-1). */
    def appendBytes(b: Array[Byte]): Unit = {
      room(b.length)
      var i = 0
      while (i < b.length) { chars(len + i) = (b(i) & 0xff).toChar; i += 1 }
      len += b.length
    }

    def charAt(i: Int): Char = chars(i)
    def substring(from: Int): String = new String(chars, from, len - from)
  }

  /** The bytes of the literal string the decoder checked at operand `i`. */
  private def literal(content: ContentDecoder, i: Int): Array[Byte] =
    content.operand(i).asInstanceOf[TLit].bytes

  def getText(contentBytes: Array[Byte], resources: PdfResources, displayChar: Boolean,
              lenientText: Boolean = false): ExtractResult = {
    val content = new ContentDecoder(contentBytes, lenientText)
    // Text output never has more chars than the content has bytes
    val out = new TextBuf(math.min(contentBytes.length, 1 << 16))
    var spans = new Array[Span](16)
    var spanCount = 0
    def addSpan(op: String, start: Int): Unit = {
      if (spanCount == spans.length) spans = Arrays.copyOf(spans, spanCount * 2)
      spans(spanCount) = Span(op, start, out.length)
      spanCount += 1
    }
    var tyPrev = content.tm.ty

    def lookupFont(): PdfFont = content.textState.tf match {
      case Some(s) => resources.font match {
        case Some(fm) => fm.fonts.getOrElse(s, Err.fail(s"Fontmap does not contain font $s"))
        case None     => Err.fail(s"Fontmap does not contains the font name $s")
      }
      case None => Err.fail("Text state should have a font set")
    }

    /** The Chars-mode line of a glyph, after its char: `, subtype, base font, tm`. */
    def fontPart(font: PdfFont): String =
      s", ${rustStrDebug(font.subtype)}, ${rustStrDebug(font.baseFont)}, "

    /** Starts a show: the inferred newline, then the show's span start. */
    def startShow(): Int = {
      if (content.tm.ty != tyPrev) out.append('\n')
      tyPrev = content.tm.ty
      out.length
    }

    // Tj-style show: byte-as-char, CMap IGNORED — content.rs:752-765. Shared by
    // Tj and the lenient-text `'`/`"` shows (whose line move already happened
    // inside the decoder, so the ty-change newline check below fires for them).
    // Tj never moves tm, so Chars mode formats it once per show.
    def showRaw(bytes: Array[Byte], opName: String): Unit = {
      val font = lookupFont()
      val spanStart = startShow()
      var i = 0
      if (displayChar) {
        val tail = if (bytes.length == 0) "" else fontPart(font) + content.tm.display + "\n"
        while (i < bytes.length) { out.append(rustCharDebug((bytes(i) & 0xff).toChar)); out.append(tail); i += 1 }
      } else {
        out.appendBytes(bytes)
        addSpan(opName, spanStart)
      }
    }

    // TJ show — content.rs:767-930, over the operands the decoder holds:
    // strings and numbers in order, anything else skipped. The font, its
    // CMap and the text state are fixed for the whole show; the width table
    // and the font size are read at the first glyph advance, where the
    // reference first needs them (and fails when they are missing).
    def showArray(): Unit = {
      val font = lookupFont()
      val spanStart = startShow()
      val cm = font.toUnicode.orNull
      val ts = content.textState
      val tfs = ts.tfs.orNull
      val tfsF = if (tfs == null) 0.0f else tfs.toF
      val tcF = ts.tc.toF
      val twF = ts.tw.toF
      val thF = ts.th.toF
      var fontTail: String = null // Chars mode, formatted at the first glyph
      var widths: Array[Float] = null
      val m = new TextMatrix(content.tm)
      var k = 0
      while (k < content.operandCount) {
        val b = content.operand(k) match {
          case l: TLit => l.bytes
          case h: THex => h.bytes
          case TNum(tj0) =>
            // kern adjustment — content.rs:916-928; no space inference (commented
            // out in the reference). Negate in the operand's own domain (i32 wrap
            // for NInt, matching unary_-), then f32 division and multiplies.
            if (tfs == null) Err.fail("Font size should be set before painting a glyph")
            val negF = tj0 match {
              case NInt(v)  => (-v).toFloat
              case NReal(v) => -v
            }
            m.shift(negF / 1000.0f * tfsF * thF)
            null
          case _ => null // the array's brackets and any name: not TJ elements
        }
        if (b != null) {
          var i = 0
          while (i < b.length) {
            val c = b(i) & 0xff
            val ch =
              if (cm == null) c.toChar // raw path — content.rs:859-912
              else { // CMap'd path — content.rs:789-856
                val charIdx =
                  if (cm.isTwoBytes) {
                    if (i + 1 >= b.length) Err.fail("two-byte cmap index missing second byte")
                    i += 1
                    c * 256 + (b(i) & 0xff)
                  } else c
                val v = cm.lookup(charIdx)
                if (v < 0) Err.fail(s"CMap does not contain a char with idx $charIdx")
                v.toChar
              }
            if (displayChar) {
              out.append(rustCharDebug(ch))
              if (fontTail == null) fontTail = fontPart(font)
              out.append(fontTail); out.append(m.mat.display); out.append('\n')
            } else out.append(ch)
            // glyph advance — content.rs:836-855 / 874-911, f32 in the
            // reference's order; the width uses the FIRST byte
            // (content.rs:818), 0 when the font has none
            if (widths == null) widths = font.widthTableF
            if (tfs == null) Err.fail("Font size should be set before painting a glyph")
            var tx = widths(c) * tfsF
            tx = tx + tcF
            if (c == ' '.toInt) tx = tx + twF
            tx = tx * thF
            m.shift(tx)
            i += 1
          }
        }
        k += 1
      }
      content.tm = m.mat
      if (!displayChar) addSpan("TJ", spanStart)
    }

    var op = content.next()
    while (op != null) {
      (op.op: @switch) match {
        case Op.Tj       => showRaw(literal(content, 0), "Tj")
        case Op.Quote    => showRaw(literal(content, 0), "'")
        case Op.DblQuote => showRaw(literal(content, 2), "\"")
        case Op.TJ       => showArray()
        case _           => () // every other operator emits nothing — content.rs:947
      }
      op = content.next()
    }

    // per-page leading '\n'/' ' trim — content.rs:950
    var k = 0
    while (k < out.length && (out.charAt(k) == '\n' || out.charAt(k) == ' ')) k += 1
    val text = out.substring(k)
    val shifted = Vector.newBuilder[Span]
    var i = 0
    while (i < spanCount) {
      val s = spans(i)
      val ns = math.max(0, s.start - k)
      val ne = s.end - k
      if (ne > ns) shifted += (if (k == 0) s else Span(s.op, ns, ne))
      i += 1
    }
    ExtractResult(text, shifted.result())
  }

  /** Escape bitmap for Rust char `{:?}` over the full BMP, generated from the
    * actual Rust standard library (`format!("{:?}", c)` for every non-
    * surrogate BMP codepoint — tools note in BENCH.md round 6) and validated
    * bit-for-bit by RustFmtSpec against the committed ground truth. A
    * hand-written category rule is NOT enough: escape_debug also escapes
    * grapheme-extend chars (U+0301), unassigned codepoints, private use,
    * NBSP, and line/paragraph separators — CMap'd TJ glyphs and font cmap
    * values can be any of these (round-6 review caught the Latin-1-only
    * rule diverging above U+00FF).
    */
  private lazy val rustEscapeBmp: Array[Byte] = {
    val in = getClass.getResourceAsStream("/rust_escape_debug_bmp.bin")
    require(in != null, "rust_escape_debug_bmp.bin resource missing")
    try in.readAllBytes() finally in.close()
  }

  def rustCharDebug(c: Char): String = c match {
    case '\u0000' => "'\\0'"
    case '\n' => "'\\n'"
    case '\r' => "'\\r'"
    case '\t' => "'\\t'"
    case '\\' => "'\\\\'"
    case '\'' => "'\\''"
    // UTF-16 surrogate code units are UNREPRESENTABLE in Rust's char, so the
    // reference can never reach its Debug formatter with one — every ingress
    // (cmap values, CMap.utf16Char) already fails like char::decode_utf16
    // (cmap.rs:74), and the ground-truth bitmap has no defined bits here.
    // Fail loudly rather than render generator-dependent garbage (ADVICE r6).
    case c if c >= '\ud800' && c <= '\udfff' =>
      Err.fail(f"surrogate code unit U+${c.toInt}%04X has no Rust char Debug form")
    case c if ((rustEscapeBmp(c >> 3) >> (c & 7)) & 1) == 1 =>
      f"'\\u{${c.toInt}%x}'"
    case c    => s"'$c'"
  }

  /** Rust `{:?}` for String (str Debug), exact over the BMP via its own
    * ground-truth bitmap (str escaping differs from char: `"` escapes, `'`
    * does not; named escapes \0 \t \r \n \\ \" then `\u{x}` per the
    * generated table). Font subtype/name/base-font values route through
    * here for --chars and --font parity.
    */
  private lazy val rustEscapeStrBmp: Array[Byte] = {
    val in = getClass.getResourceAsStream("/rust_escape_debug_str_bmp.bin")
    require(in != null, "rust_escape_debug_str_bmp.bin resource missing")
    try in.readAllBytes() finally in.close()
  }

  /** Astral-plane (U+10000..U+10FFFF) escape bitmap, generated the same way
    * as the BMP tables (tools/refbuild/astralgen — `format!("{:?}")` over
    * every astral codepoint; char and str Debug verified identical there by
    * the generator's assert, no quote chars exist astral). Bit set = escape
    * as `\u{x}`, clear = raw. Needed because a PAIRED surrogate in a Java
    * String is a valid astral char Rust's str CAN hold (a 4-byte UTF-8 name
    * reaching PdfFont via the Utf8.strict bare-token coercion) — the
    * reference Debug-prints it, so only LONE surrogates may fail (ADVICE r7).
    */
  private lazy val rustEscapeAstral: Array[Byte] = {
    val in = getClass.getResourceAsStream("/rust_escape_debug_astral.bin")
    require(in != null, "rust_escape_debug_astral.bin resource missing")
    try in.readAllBytes() finally in.close()
  }

  /** Rust Debug body for one astral codepoint (char and str Debug agree on
    * every astral cp — generator-asserted).
    */
  private def astralDebugBody(cp: Int): String = {
    val off = cp - 0x10000
    if (((rustEscapeAstral(off >> 3) >> (off & 7)) & 1) == 1) f"\\u{$cp%x}"
    else new String(Character.toChars(cp))
  }

  def rustStrDebug(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '\u0000' => sb.append("\\0")
        case '\t'     => sb.append("\\t")
        case '\r'     => sb.append("\\r")
        case '\n'     => sb.append("\\n")
        case '\\'    => sb.append("\\\\")
        case '"'       => sb.append("\\\"")
        // a VALID surrogate pair is a real astral char (Rust str holds it;
        // escape_debug keeps printable astral raw) — render via the astral
        // ground-truth bitmap; only a LONE surrogate is unrepresentable in
        // Rust and fails (it cannot round-trip through UTF-8 to the
        // reference at all). ADVICE r7.
        case c if Character.isHighSurrogate(c)
            && i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1)) =>
          sb.append(astralDebugBody(Character.toCodePoint(c, s.charAt(i + 1))))
          i += 1
        case c if c >= '\ud800' && c <= '\udfff' =>
          Err.fail(f"lone surrogate code unit U+${c.toInt}%04X has no Rust str Debug form")
        case c if ((rustEscapeStrBmp(c >> 3) >> (c & 7)) & 1) == 1 =>
          sb.append(f"\\u{${c.toInt}%x}")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
    sb.toString
  }
}
