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
final case class ExtractResult(text: String, spans: Vector[Span]) {
  def shift(by: Int): ExtractResult =
    ExtractResult(text, spans.map(s => Span(s.op, s.start + by, s.end + by)))
}

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

/** TJ array element — content.rs:23-27. */
sealed trait ArrayVal
final class AText(val bytes: Array[Byte]) extends ArrayVal {
  override def equals(o: Any): Boolean = o match {
    case t: AText => Arrays.equals(bytes, t.bytes)
    case _        => false
  }
  override def hashCode: Int = Arrays.hashCode(bytes)
  override def toString: String = s"AText(${bytes.mkString(",")})"
}
object AText { def apply(b: Array[Byte]) = new AText(b) }
final case class APos(n: Num) extends ArrayVal

/** The elements of a decoded TJ array held as its operand tokens (literal
  * and hex strings, numbers) and read as ArrayVals: text assembly walks the
  * tokens, so a shown array allocates no element.
  */
final class TJItems private[core] (private[core] val operands: Array[Tok])
    extends scala.collection.immutable.AbstractSeq[ArrayVal] with IndexedSeq[ArrayVal] {
  def length: Int = operands.length
  def apply(i: Int): ArrayVal = TJItems.element(operands(i))
}

object TJItems {
  private def element(t: Tok): ArrayVal = t match {
    case l: TLit => AText(l.bytes)
    case h: THex => AText(h.bytes)
    case TNum(n) => APos(n)
    case x       => throw new IllegalArgumentException(s"not a TJ element: $x")
  }
}

/** Content-stream instructions — content.rs:46-98. */
sealed trait GInstr
case object ILowerQ extends GInstr
case object IUpperQ extends GInstr
case object IBDC extends GInstr
case object IBMC extends GInstr
case object IEMC extends GInstr
final case class ICm(a: Num, b: Num, c: Num, d: Num, e: Num, f: Num) extends GInstr
final case class ILowerW(w: Num) extends GInstr
final case class IUpperJ(j: Num) extends GInstr
final case class ILowerD(arr: Vector[Num], phase: Num) extends GInstr
final case class ILowerI(i: Num) extends GInstr
case object IGs extends GInstr
final case class ILowerM(x: Num, y: Num) extends GInstr
final case class ILowerL(x: Num, y: Num) extends GInstr
final case class ILowerC(x1: Num, y1: Num, x2: Num, y2: Num, x3: Num, y3: Num) extends GInstr
case object ILowerH extends GInstr
final case class IRe(x: Num, y: Num, w: Num, h: Num) extends GInstr
case object IW extends GInstr
case object IWStar extends GInstr
case object IS extends GInstr
case object ILowerF extends GInstr
case object ILowerFStar extends GInstr
case object IN extends GInstr
final case class ICs(name: String) extends GInstr
final case class ISc(n: Num) extends GInstr
final case class IUpperG(g: Num) extends GInstr
final case class ILowerG(g: Num) extends GInstr
final case class IRGOp(r: Num, g: Num, b: Num) extends GInstr
final case class IRgOp(r: Num, g: Num, b: Num) extends GInstr
final case class ITdOp(tx: Num, ty: Num) extends GInstr
final case class ITDOp(tx: Num, ty: Num) extends GInstr
final case class ITm(a: Num, b: Num, c: Num, d: Num, e: Num, f: Num) extends GInstr
case object ITStar extends GInstr
final case class ITc(n: Num) extends GInstr
final case class ITf(font: String, size: Num) extends GInstr
final case class ITr(n: Num) extends GInstr
final class ITjOp(val bytes: Array[Byte]) extends GInstr {
  override def equals(o: Any): Boolean = o match {
    case t: ITjOp => Arrays.equals(bytes, t.bytes)
    case _      => false
  }
  override def hashCode: Int = Arrays.hashCode(bytes)
  override def toString: String = s"ITjOp(${bytes.mkString(",")})"
}
object ITjOp { def apply(b: Array[Byte]) = new ITjOp(b) }
final case class ITJOp(items: IndexedSeq[ArrayVal]) extends GInstr
case object IBeginText extends GInstr
case object IEndText extends GInstr
final case class IDo(name: String) extends GInstr

// Lenient-TEXT extension instructions (reference unknown-op path,
// content.rs:624-628; reachable only with the lenientText flag):
final case class ITw(n: Num) extends GInstr
final case class ITz(n: Num) extends GInstr
final case class ITL(n: Num) extends GInstr
final case class ITs(n: Num) extends GInstr
/** `'` — move to next line (T* semantics) and show byte-as-char like Tj. */
final class IQuoteOp(val bytes: Array[Byte]) extends GInstr {
  override def toString: String = s"IQuoteOp(${bytes.mkString(",")})"
}
/** `"` — aw ac string: set word/char spacing, then behave like `'`. */
final class IDblQuoteOp(val aw: Num, val ac: Num, val bytes: Array[Byte]) extends GInstr {
  override def toString: String = s"IDblQuoteOp($aw,$ac,${bytes.mkString(",")})"
}

/** Text state — content.rs:638-665. Tw/Tz/TL/Ts are NOT implemented by the reference
  * (they hit the unknown-operator path), so in strict mode tw stays 0 forever;
  * the lenientText decoder extension writes them (trise is its Ts register —
  * tracked state only, no output effect in text extraction).
  */
final class TextState {
  var tc: Num = NInt(0)
  var tw: Num = NInt(0)
  var th: Num = NReal(1.0f)
  var tl: Num = NInt(0)
  var trise: Num = NInt(0)
  var tf: Option[String] = None
  var tfs: Option[Num] = None
  var tmode: Num = NInt(0)
  def copyOf: TextState = {
    val t = new TextState
    t.tc = tc; t.tw = tw; t.th = th; t.tl = tl; t.trise = trise
    t.tf = tf; t.tfs = tfs; t.tmode = tmode
    t
  }
}

/** Graphics state — content.rs:667-717. */
final class GraphicsState {
  var ctm: Mat = Mat.identity
  var textState: TextState = new TextState
  var lineWidth: Num = NReal(1.0f)
  var lineCap: Num = NInt(0)
  var flatness: Num = NReal(1.0f)
  def copyOf: GraphicsState = {
    val g = new GraphicsState
    g.ctm = ctm; g.textState = textState.copyOf; g.lineWidth = lineWidth
    g.lineCap = lineCap; g.flatness = flatness
    g
  }
}

/** Content-stream instruction decoder + state machine — content.rs:100-635.
  *
  * Replicated quirks:
  *  - operand buffer is NOT cleared after an unknown operator (content.rs:624-628
  *    falls through without returning, retaining `buf`);
  *  - `Td` with operand count != 2 is skipped entirely (content.rs:507-509);
  *  - `cm` REPLACES the CTM instead of premultiplying (content.rs:134-136);
  *  - inline dictionaries are skipped wholesale (content.rs:234-241);
  *  - comments inside content panic (content.rs:630) — the raw tokenizer (not the
  *    Lemmatizer) feeds this decoder, so Token::Comment reaches the catch-all.
  *
  * One operand buffer serves every call (each call starts it empty, as the
  * reference's per-call `buf` does), and operators dispatch on the
  * tokenizer's [[Op]] code.
  */
final class ContentDecoder(bytes: Array[Byte], lenientText: Boolean = false) {
  val tok = new PdfTokenizer(bytes, 0)
  var graphicState: GraphicsState = new GraphicsState
  val stack: ArrayBuffer[GraphicsState] = ArrayBuffer.empty
  var tm: Mat = Mat.identity
  var tlm: Mat = Mat.identity

  private var buf = new Array[Tok](16)
  private var size = 0

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

  private def name(i: Int, op: String): String = tokAt(i, op) match {
    case TName(n) => n
    case t        => Err.fail(s"Operand $t is not allowed with operator $op")
  }

  private def lit(i: Int, op: String): Array[Byte] = tokAt(i, op) match {
    case l: TLit => l.bytes
    case x       => Err.fail(s"Operand $x is not allowed with operator $op")
  }

  def next(): GInstr = {
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
          val instr = operator(bare.op)
          if (instr != null) return instr
        case other =>
          Err.fail(s"Pdf token $other has no mapping implemented to ContentStream")
      }
      t = tok.next()
    }
    null
  }

  /** The instruction of operator `op` over the buffered operands, or null
    * for an operator the decoder does not know: a diagnostic only in the
    * reference, which keeps the operands — content.rs:624-628.
    */
  private def operator(op: Int): GInstr = (op: @switch) match {
    case Op.q =>
      stack += graphicState.copyOf
      ILowerQ
    case Op.Q =>
      if (stack.isEmpty) Err.fail("Unable to restore graphic state from empty stack")
      graphicState = stack.remove(stack.length - 1)
      IUpperQ
    case Op.cm =>
      val a = num(0, "re"); val b = num(1, "re"); val c = num(2, "re")
      val d = num(3, "re"); val e = num(4, "re"); val f = num(5, "re")
      graphicState.ctm = Mat(a.toF, b.toF, c.toF, d.toF, e.toF, f.toF)
      ICm(a, b, c, d, e, f)
    case Op.w =>
      val lw = num(0, "J"); graphicState.lineWidth = lw; ILowerW(lw)
    case Op.J =>
      val lc = num(0, "J"); graphicState.lineCap = lc; IUpperJ(lc)
    case Op.d =>
      if (size == 0) Err.fail("End of stream too early")
      buf(0) match {
        case TArrayBegin => ()
        case x           => Err.fail(s"First operand $x is not allowed for operator d")
      }
      val arr = Vector.newBuilder[Num]
      var i = 1
      var inArr = true
      while (inArr) {
        if (i >= size) inArr = false
        else {
          buf(i) match {
            case TNum(n)   => arr += n
            case TArrayEnd => inArr = false
            case x         => Err.fail(s"Unexpected token $x in dash array")
          }
          i += 1
        }
      }
      val phase = if (i < size) buf(i) match {
        case TNum(n) => n
        case x       => Err.fail(s"First operand $x is not allowed for operator d")
      } else Err.fail("End of stream too early")
      ILowerD(arr.result(), phase)
    case Op.i =>
      val fl = num(0, "re"); graphicState.flatness = fl; ILowerI(fl)
    case Op.gs =>
      name(0, "gs"); IGs
    case Op.m => ILowerM(num(0, "re"), num(1, "re"))
    case Op.l => ILowerL(num(0, "re"), num(1, "re"))
    case Op.c =>
      ILowerC(num(0, "Tm"), num(1, "Tm"), num(2, "Tm"), num(3, "Tm"), num(4, "Tm"), num(5, "Tm"))
    case Op.h     => ILowerH
    case Op.re    => IRe(num(0, "re"), num(1, "re"), num(2, "re"), num(3, "re"))
    case Op.W     => IW
    case Op.WStar => IWStar
    case Op.S     => IS
    case Op.f     => ILowerF
    case Op.fStar => ILowerFStar
    case Op.n     => IN
    case Op.cs    => ICs(name(0, "cs"))
    case Op.sc    => ISc(num(0, "cs"))
    case Op.G     => IUpperG(num(0, "G"))
    case Op.g     => ILowerG(num(0, "G"))
    case Op.RG    => IRGOp(num(0, "rg"), num(1, "rg"), num(2, "rg"))
    case Op.rg    => IRgOp(num(0, "rg"), num(1, "rg"), num(2, "rg"))
    case Op.BT =>
      tm = Mat.identity; tlm = Mat.identity
      IBeginText
    case Op.ET => IEndText
    case Op.TD =>
      val tx = num(0, "TD"); val ty = num(1, "TD")
      graphicState.textState.tl = -ty
      processTd(tx, ty)
      ITDOp(tx, ty)
    case Op.Td =>
      if (size != 2) next() // arity guard — content.rs:507-509
      else {
        val tx = num(0, "TD"); val ty = num(1, "TD")
        processTd(tx, ty)
        ITdOp(tx, ty)
      }
    case Op.Tc =>
      val cs = num(0, "TD"); graphicState.textState.tc = cs; ITc(cs)
    case Op.Tf =>
      val font = name(0, "TD")
      val fontSize = num(1, "TD")
      graphicState.textState.tf = Some(font)
      graphicState.textState.tfs = Some(fontSize)
      ITf(font, fontSize)
    case Op.Tr =>
      val r = num(0, "Tr"); graphicState.textState.tmode = r; ITr(r)
    case Op.Tm =>
      val a = num(0, "Tm"); val b = num(1, "Tm"); val c = num(2, "Tm")
      val d = num(3, "Tm"); val e = num(4, "Tm"); val f = num(5, "Tm")
      tm = Mat(a.toF, b.toF, c.toF, d.toF, e.toF, f.toF)
      tlm = tm
      ITm(a, b, c, d, e, f)
    case Op.TStar =>
      processTd(NInt(0), graphicState.textState.tl)
      ITStar
    case Op.Tj => ITjOp(lit(0, "Tj"))
    case Op.TJ =>
      val items = new Array[Tok](size)
      var n = 0
      var i = 0
      while (i < size) {
        buf(i) match {
          case t @ (_: TLit | _: THex | _: TNum) => items(n) = t; n += 1
          case _ => ()
        }
        i += 1
      }
      ITJOp(new TJItems(if (n == size) items else Arrays.copyOf(items, n)))
    case Op.Do =>
      tokAt(0, "Do") match {
        case TName(n) => IDo(n)
        case x        => Err.fail(s"Operand $x is not allowed with operator Do")
      }
    case Op.BDC => IBDC
    case Op.BMC => IBMC
    case Op.EMC => IEMC
    // ---- lenient-TEXT extension (flag-gated; strict falls through to
    // the reference's unknown-op path). `'`/`"` reuse the engine's existing
    // T* convention (processTd(0, tl)) — the ty SIGN follows T*'s
    // replicated quirk, which is output-identical because newline
    // inference keys on ty inequality, not direction.
    case Op.Tw | Op.Tz | Op.TL | Op.Ts | Op.Quote | Op.DblQuote if lenientText => lenientOperator(op)
    case _ => null
  }

  private def lenientOperator(op: Int): GInstr = (op: @switch) match {
    case Op.Tw =>
      val w = num(0, "Tw"); graphicState.textState.tw = w; ITw(w)
    case Op.Tz =>
      val z = num(0, "Tz")
      graphicState.textState.th = NReal(z.toF / 100.0f)
      ITz(z)
    case Op.TL =>
      val l = num(0, "TL"); graphicState.textState.tl = l; ITL(l)
    case Op.Ts =>
      val r = num(0, "Ts"); graphicState.textState.trise = r; ITs(r)
    case Op.Quote =>
      val b = lit(0, "'")
      processTd(NInt(0), graphicState.textState.tl)
      new IQuoteOp(b)
    case Op.DblQuote =>
      val aw = num(0, "\""); val ac = num(1, "\"")
      val b = lit(2, "\"")
      graphicState.textState.tw = aw
      graphicState.textState.tc = ac
      processTd(NInt(0), graphicState.textState.tl)
      new IDblQuoteOp(aw, ac, b)
  }
}

/** Text assembly — `TextContent::get_text`, content.rs:719-951. The correctness
  * heart: only Tj/TJ emit output; a newline is inferred when the f32 ty of the text
  * matrix changed since the previous show; Tj ignores the CMap (bytes as chars) while
  * TJ applies it; leading '\n'/' ' trimmed per page.
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

    def lookupFont(): PdfFont = content.graphicState.textState.tf match {
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

    // TJ show — content.rs:767-930. The font, its CMap and the text state
    // are fixed for the whole show; the width table and the font size are
    // read at the first glyph advance, where the reference first needs them
    // (and fails when they are missing).
    def showArray(ops: Array[Tok]): Unit = {
      val font = lookupFont()
      val spanStart = startShow()
      val cm = font.toUnicode.orNull
      val ts = content.graphicState.textState
      val tfs = ts.tfs.orNull
      val tfsF = if (tfs == null) 0.0f else tfs.toF
      val tcF = ts.tc.toF
      val twF = ts.tw.toF
      val thF = ts.th.toF
      var fontTail: String = null // Chars mode, formatted at the first glyph
      var widths: Array[Float] = null
      val m = new TextMatrix(content.tm)
      var k = 0
      while (k < ops.length) {
        ops(k) match {
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
          case str =>
            val b = str match {
              case l: TLit => l.bytes
              case h: THex => h.bytes
              case x       => throw new IllegalArgumentException(s"not a TJ element: $x")
            }
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

    var instr = content.next()
    while (instr != null) {
      instr match {
        case tj: ITjOp             => showRaw(tj.bytes, "Tj")
        case q: IQuoteOp           => showRaw(q.bytes, "'")
        case dq: IDblQuoteOp       => showRaw(dq.bytes, "\"")
        case ITJOp(items: TJItems) => showArray(items.operands)
        case _                     => () // every other instruction emits nothing — content.rs:947
      }
      instr = content.next()
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
