package graft.core

import java.util.Arrays

/** PDF token — tokenizer.rs:35-51. Byte-payload tokens override equality so ported
  * reference test vectors can assert structurally.
  */
sealed trait Tok
final case class TNum(n: Num) extends Tok
/** Bareword (reference `Token::String`) — keywords other than stream/endstream/endobj.
  * `op` is the bareword's [[Op]] code, [[Op.Unknown]] for any other word.
  */
final class TBare(val bytes: Array[Byte], val op: Int) extends Tok {
  override def equals(o: Any): Boolean = o match {
    case t: TBare => Arrays.equals(bytes, t.bytes)
    case _        => false
  }
  override def hashCode: Int = Arrays.hashCode(bytes)
  override def toString: String = s"TBare(${new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)})"
}
object TBare { def apply(b: Array[Byte]) = new TBare(b, Op.code(b, 0, b.length)) }

/** Codes of the barewords the content decoder dispatches on, plus `R` and
  * `obj`, which the Lemmatizer fuses. The tokenizer returns one shared
  * [[TBare]] per known word, so an operator costs no copy and the decoder
  * switches on an Int instead of building a String.
  */
object Op {
  final val Unknown = 0
  final val q = 1; final val Q = 2; final val cm = 3; final val w = 4; final val J = 5
  final val d = 6; final val i = 7; final val gs = 8; final val m = 9; final val l = 10
  final val c = 11; final val h = 12; final val re = 13; final val W = 14; final val WStar = 15
  final val S = 16; final val f = 17; final val fStar = 18; final val n = 19; final val cs = 20
  final val sc = 21; final val G = 22; final val g = 23; final val RG = 24; final val rg = 25
  final val BT = 26; final val ET = 27; final val TD = 28; final val Td = 29; final val Tc = 30
  final val Tf = 31; final val Tr = 32; final val Tm = 33; final val TStar = 34; final val Tj = 35
  final val TJ = 36; final val Do = 37; final val BDC = 38; final val BMC = 39; final val EMC = 40
  final val Tw = 41; final val Tz = 42; final val TL = 43; final val Ts = 44; final val Quote = 45
  final val DblQuote = 46; final val R = 47; final val obj = 48

  private val words: Array[String] = Array("", "q", "Q", "cm", "w", "J", "d", "i", "gs", "m", "l",
    "c", "h", "re", "W", "W*", "S", "f", "f*", "n", "cs", "sc", "G", "g", "RG", "rg", "BT", "ET",
    "TD", "Td", "Tc", "Tf", "Tr", "Tm", "T*", "Tj", "TJ", "Do", "BDC", "BMC", "EMC", "Tw", "Tz",
    "TL", "Ts", "'", "\"", "R", "obj")

  /** A word of one to three bytes packed with its length (never 0). */
  private def pack(b: Array[Byte], start: Int, len: Int): Int = {
    val b1 = if (len > 1) b(start + 1) & 0xff else 0
    val b2 = if (len > 2) b(start + 2) & 0xff else 0
    len << 24 | (b(start) & 0xff) << 16 | b1 << 8 | b2
  }

  // open-addressing table from packed word to code; 0 marks a free slot
  private val slotKey = new Array[Int](256)
  private val slotCode = new Array[Int](256)
  private def slot(k: Int): Int = (k * 0x9e3779b1) >>> 24
  for (code <- 1 until words.length) {
    val b = words(code).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val k = pack(b, 0, b.length)
    var s = slot(k)
    while (slotKey(s) != 0) s = (s + 1) & 255
    slotKey(s) = k
    slotCode(s) = code
  }

  /** One shared token per known word. */
  private[core] val tokens: Array[TBare] = Array.tabulate(words.length) { code =>
    new TBare(words(code).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), code)
  }

  /** The code of the word at `b[start, start + len)`. */
  def code(b: Array[Byte], start: Int, len: Int): Int =
    if (len < 1 || len > 3) Unknown
    else {
      val k = pack(b, start, len)
      var s = slot(k)
      while (slotKey(s) != 0 && slotKey(s) != k) s = (s + 1) & 255
      if (slotKey(s) == 0) Unknown else slotCode(s)
    }
}
final class TLit(val bytes: Array[Byte]) extends Tok {
  override def equals(o: Any): Boolean = o match {
    case t: TLit => Arrays.equals(bytes, t.bytes)
    case _       => false
  }
  override def hashCode: Int = Arrays.hashCode(bytes)
  override def toString: String = s"TLit(${bytes.mkString(",")})"
}
object TLit { def apply(b: Array[Byte]) = new TLit(b) }
final class THex(val bytes: Array[Byte]) extends Tok {
  override def equals(o: Any): Boolean = o match {
    case t: THex => Arrays.equals(bytes, t.bytes)
    case _       => false
  }
  override def hashCode: Int = Arrays.hashCode(bytes)
  override def toString: String = s"THex(${bytes.mkString(",")})"
}
object THex { def apply(b: Array[Byte]) = new THex(b) }
final case class TName(name: String) extends Tok
final class TComment(val bytes: Array[Byte]) extends Tok {
  override def equals(o: Any): Boolean = o match {
    case t: TComment => Arrays.equals(bytes, t.bytes)
    case _           => false
  }
  override def hashCode: Int = Arrays.hashCode(bytes)
  override def toString: String = s"TComment(${new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)})"
}
object TComment { def apply(b: Array[Byte]) = new TComment(b) }
/** Fused `a b R` — carries only the key; resolution context lives in the Lemmatizer. */
final case class TRef(num: Int, gen: Int) extends Tok
case object TDictBegin extends Tok
case object TDictEnd extends Tok
case object TArrayBegin extends Tok
case object TArrayEnd extends Tok
case object TStreamBegin extends Tok
case object TStreamEnd extends Tok
case object TObjBegin extends Tok
case object TObjEnd extends Tok

object CharClass {
  final val Regular: Byte = 0
  final val White: Byte = 1
  final val Delim: Byte = 2

  /** Character classification table — tokenizer.rs:74-90. NUL (0) IS whitespace. */
  val table: Array[Byte] = {
    val t = new Array[Byte](256)
    for (b <- Seq(0, 9, 10, 12, 13, 32)) t(b) = White
    for (c <- "()<>[]{}/%") t(c.toInt) = Delim
    t
  }

  @inline def cls(b: Byte): Byte = table(b & 0xff)
  @inline def isWhite(b: Byte): Boolean = cls(b) == White
  @inline def isDelim(b: Byte): Boolean = cls(b) == Delim
  @inline def isRegular(b: Byte): Boolean = cls(b) == Regular
  @inline def isHexDigit(b: Byte): Boolean = hexNibble(b & 0xff) >= 0

  /** The value of each hex digit byte, -1 for every other byte. */
  val hexNibble: Array[Int] = Array.tabulate(256) { b =>
    if (b >= '0' && b <= '9') b - '0'
    else if (b >= 'A' && b <= 'F') b - 'A' + 10
    else if (b >= 'a' && b <= 'f') b - 'a' + 10
    else -1
  }
}

/** Pull lexer over the whole payload byte array with an index cursor (the reference
  * uses a cloneable slice iterator — tokenizer.rs:160-374). `copyCursor` mirrors the
  * reference's cheap iterator clone used for lookahead.
  */
final class PdfTokenizer(val bytes: Array[Byte], var pos: Int) {
  import CharClass._

  // The reference slices `bytes[curr_idx..]` at construction (tokenizer.rs:169),
  // which panics when the index exceeds the buffer — including xref offsets that
  // lexed negative and wrapped through `as usize` (xref.rs:171). Replicate the
  // panic here so a poisoned offset fails the row instead of escaping as a raw
  // ArrayIndexOutOfBoundsException later in next() (round-7 40k-mutation find).
  if (pos < 0 || pos > bytes.length)
    Err.fail(s"range start index $pos out of range for slice of length ${bytes.length}")

  def copyCursor: PdfTokenizer = new PdfTokenizer(bytes, pos)

  /** Raw read used for stream bodies — tokenizer.rs:173-185: skip leading whitespace
    * (consuming), then copy up to `length` bytes WITHOUT consuming them (the reference
    * clones the iterator for the take).
    */
  def nextN(length: Int): Array[Byte] = {
    while (true) {
      if (pos >= bytes.length) Err.fail("End of stream reached")
      if (isWhite(bytes(pos))) pos += 1
      else {
        // a NEGATIVE length takes everything to EOF: the reference converts
        // the i32 with `as usize` (object.rs:135), so -66 wraps to ~2^64 and
        // `take(huge)` clamps at the iterator's end — round-8 objstm
        // mutation-fuzz find (a '-' flipped into /Length raised a raw
        // IllegalArgumentException here; binary-verified take-all instead)
        // (long add: a near-MaxValue positive length must clamp at EOF too,
        // not wrap pos+length negative)
        val end = if (length < 0) bytes.length
                  else math.min(pos.toLong + length, bytes.length.toLong).toInt
        return Arrays.copyOfRange(bytes, pos, end)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** SPEC-EXACT stream-body read (PDF 32000-1 §7.3.8: data begins after the
    * single CRLF or LF following the `stream` keyword) — LENIENT-ONLY. The
    * strict path keeps the reference's skip-ALL-whitespace clone ([[nextN]],
    * tokenizer.rs:173-185), which EATS leading stream bytes that happen to
    * be NUL/space/EOL: found by the round-8 W-width ObjStm layout sweep —
    * an uncompressed xref-stream row under /W [2 ...] legitimately begins
    * 0x00 (NUL = PDF whitespace), and the whitespace-skip read the table one
    * byte short ("entry type 512"). Real strict-shaped corpora never hit
    * this (Flate data starts 0x78, content streams start with an operator),
    * so strict keeps byte fidelity while lenient reads per the spec.
    * Negative/oversized lengths clamp to EOF exactly like nextN.
    */
  def nextNExact(length: Int): Array[Byte] = {
    if (pos < bytes.length && bytes(pos) == '\r') pos += 1
    if (pos < bytes.length && bytes(pos) == '\n') pos += 1
    val end = if (length < 0) bytes.length
              else math.min(pos.toLong + length, bytes.length.toLong).toInt
    Arrays.copyOfRange(bytes, pos, math.max(pos, end))
  }

  /** Next token or null at end — tokenizer.rs:204-374. Hot path: single-pass
    * scans that slice the backing array once per token (no per-byte buffers);
    * the escape-bearing literal-string path falls back to a build buffer.
    * Regular-char runs (numbers and operators, most tokens) take the first
    * branch; each delimiter has its own method.
    */
  def next(): Tok = {
    val n = bytes.length
    while (pos < n) {
      val c = bytes(pos)
      pos += 1
      val cl = cls(c)
      if (cl == Regular) return regular(pos - 1)
      if (cl == White) {
        // absorb whitespace between tokens — tokenizer.rs:369 (tight skip)
        while (pos < n && isWhite(bytes(pos))) pos += 1
      } else if (c == '(' || c == ')') return literal()
      else if (c == '<') {
        if (pos < n && bytes(pos) == '<') { pos += 1; return TDictBegin }
        else if (pos < n && isHexDigit(bytes(pos))) return hexString()
        else if (pos >= n) Err.fail("No character following '<'")
        else Err.fail(s"Character ${bytes(pos)} is not interpreted as hexstring")
      } else if (c == '>') {
        if (pos < n && bytes(pos) == '>') { pos += 1; return TDictEnd }
        else if (pos >= n) Err.fail("Reached end of stream before end of litteral")
        // lone '>' before non-'>': silently skipped — tokenizer.rs:267
      } else if (c == '[') return TArrayBegin
      else if (c == ']') return TArrayEnd
      else if (c == '/') {
        // Name: regular chars only, no #xx escapes — tokenizer.rs:275-285
        val start = pos
        while (pos < n && isRegular(bytes(pos))) pos += 1
        return TName(new String(bytes, start, pos - start,
          java.nio.charset.StandardCharsets.ISO_8859_1))
      } else if (c == '%') {
        // comment to CR/LF — tokenizer.rs:212-224
        val start = pos
        while (pos < n && bytes(pos) != 13 && bytes(pos) != 10) pos += 1
        return TComment(Arrays.copyOfRange(bytes, start, pos))
      } else Err.fail(s"Character ${c.toChar} is not covered") // '{' or '}'
    }
    null
  }

  /** Hex string from the digit after '<' — tokenizer.rs:233-261; odd length
    * padded with '0'. Digits decode in order, so the first bad one fails.
    * A one-byte string is a shared token.
    */
  private def hexString(): Tok = {
    val n = bytes.length
    val start = pos
    var end = start
    while (end < n && bytes(end) != '>') end += 1
    if (end >= n) { pos = end; return null } // reference: None
    pos = end + 1 // consume '>'
    val nib = CharClass.hexNibble
    if (end - start <= 2) {
      val hi = nib(bytes(start) & 0xff)
      val lo = if (end - start == 2) nib(bytes(start + 1) & 0xff) else 0
      if ((hi | lo) < 0) badHex(start, end)
      return PdfTokenizer.oneByteHex(hi << 4 | lo)
    }
    val out = new Array[Byte]((end - start + 1) / 2)
    var i = start
    var oi = 0
    while (i + 1 < end) {
      val hi = nib(bytes(i) & 0xff)
      val lo = nib(bytes(i + 1) & 0xff)
      if ((hi | lo) < 0) badHex(start, end)
      out(oi) = (hi << 4 | lo).toByte
      oi += 1
      i += 2
    }
    if (i < end) { // odd length: trailing '0' nibble
      val hi = nib(bytes(i) & 0xff)
      if (hi < 0) badHex(start, end)
      out(oi) = (hi << 4).toByte
    }
    THex(out)
  }

  /** Fails on the first byte of [start, end) that is not a hex digit. */
  private def badHex(start: Int, end: Int): Nothing = {
    var i = start
    while (i < end && CharClass.hexNibble(bytes(i) & 0xff) >= 0) i += 1
    Err.fail(s"invalid hex digit in hexstring: ${(bytes(i) & 0xff).toChar}")
  }

  /** Literal string with nested parens + escapes — tokenizer.rs:287-331.
    * BOTH parens enter this branch in the reference (Delimiter::String
    * covers '(' AND ')'): a lone ')' starts a "string" whose scan runs
    * to the NEXT unpaired ')' or to EOF (round-6 byte-mutation
    * differential caught our old bareword treatment diverging — the
    * reference swallowed a trailing " Tj\nET" into the string and
    * extracted nothing, we kept lexing and showed text).
    * Fast path: no backslash -> slice between the balanced parens.
    */
  private def literal(): Tok = {
    val n = bytes.length
    val start = pos
    var opened = 1
    var closed = 0
    var hasEscape = false
    var done = false
    while (!done && pos < n) {
      val cur = bytes(pos)
      if (cur == '\\') { hasEscape = true; done = true }
      else {
        pos += 1
        if (cur == '(') opened += 1
        else if (cur == ')') { closed += 1; if (opened == closed) done = true }
      }
    }
    if (!hasEscape) {
      val end = if (opened == closed && pos > start) pos - 1 else pos
      return TLit(Arrays.copyOfRange(bytes, start, end))
    }
    // slow path: rescan from start with a build buffer
    pos = start
    opened = 1
    closed = 0
    val buf = new java.io.ByteArrayOutputStream()
    done = false
    while (!done && pos < n) {
      val cur = bytes(pos); pos += 1
      if (cur == '(') opened += 1
      else if (cur == ')') closed += 1
      if (opened == closed) { done = true }
      else {
        if (cur == '\\') {
          if (pos < n) {
            val e = bytes(pos); pos += 1
            val out: Int = e match {
              case 'n'  => '\n'
              case 'r'  => '\r'
              case 't'  => '\t'
              case 'b'  => 8
              case 'f'  => 12
              case '\\' => '\\'
              case '('  => '('
              case ')'  => ')'
              case d if d >= '0' && d <= '9' =>
                // reference octal bug replicated: ((c*8)+d*8)+e — tokenizer.rs:313-321
                val c0 = digit(e)
                if (pos >= n) Err.fail("octal escape: end of stream")
                val d0 = digit(bytes(pos)); pos += 1
                if (pos >= n) Err.fail("octal escape: end of stream")
                val e0 = digit(bytes(pos)); pos += 1
                ((c0 * 8) + d0 * 8) + e0
              case other => other & 0xff
            }
            buf.write(out & 0xff)
          } // else: reference None => continue (loop then ends)
        } else {
          buf.write(cur & 0xff)
        }
      }
    }
    TLit(buf.toByteArray)
  }

  /** Regular-char run from `start` — tokenizer.rs:334-366. */
  private def regular(start: Int): Tok = {
    val n = bytes.length
    var isNumeric = true
    while (pos < n && isRegular(bytes(pos))) {
      val b = bytes(pos)
      if (!((b >= '0' && b <= '9') || b == '.')) isNumeric = false
      pos += 1
    }
    val len = pos - start
    if (isNumeric) {
      // i32-then-f32, as the reference (tokenizer.rs:334-360) — but WITHOUT
      // exception-driven control flow: a single-letter bareword ("R", "n",
      // every 1-char content operator) is vacuously "numeric" here and the
      // old parseInt/parseFloat double-NumberFormatException per token
      // dominated small-PDF extraction cost. Accept/reject byte-wise first.
      val t = parseNum(start, len)
      if (t != null) return t
      // reference quirk (tokenizer.rs:350-351): a vacuously-numeric run
      // (the FIRST byte is never tested by is_numeric) is
      // from_utf8().unwrap()'d BEFORE the numeric parse — so a lone high
      // byte like 0xA3 in a corrupted xref entry PANICS there, even
      // though the bytes would otherwise fall through to the bareword
      // path untouched (non-numeric barewords carry raw bytes with no
      // UTF-8 check at all). Found by the 1,500-mutation differential.
      Utf8.strict(Arrays.copyOfRange(bytes, start, pos))
    }
    keywordOrBare(start, len)
  }

  /** Exception-free `i32`-then-`f32` numeric parse over bytes [start, start+len).
    * Semantics identical to `Integer.parseInt` else `Float.parseFloat` else null:
    * int = optional +/- sign, >= 1 ASCII digit, no '.', within Int range;
    * float fallback only when a digit is present and the first char can begin a
    * Java float literal (digit/sign/'.') — everything else ("R", "n", "q", ...)
    * cannot parse and short-circuits to the bareword path with zero throws.
    */
  private def parseNum(start: Int, len: Int): Tok = {
    if (len == 0) return null
    val first = bytes(start)
    var i = start
    var neg = false
    if (first == '-' || first == '+') { neg = first == '-'; i += 1 }
    var digits = 0
    var sig = 0 // significant digits (leading zeros excluded): parseInt accepts any
    // number of leading zeros ("000000000012345" is a valid i32), so the
    // magnitude cap must count significant digits only
    var dots = 0
    var acc = 0L
    var j = i
    while (j < start + len) {
      val b = bytes(j)
      if (b >= '0' && b <= '9') {
        digits += 1
        if (acc > 0L || b != '0') sig += 1
        if (sig <= 18) acc = acc * 10 + (b - '0') // 18 sig digits always fit a Long
      } else if (b == '.') dots += 1
      else return null // non-digit/dot after the first char never parses as int or float
      j += 1
    }
    if (digits == 0) return null // lone sign / lone '.' / "R": parseInt and parseFloat both reject
    if (dots == 0 && sig <= 18) {
      val v = if (neg) -acc else acc
      if (v >= Int.MinValue && v <= Int.MaxValue) return PdfTokenizer.int(v.toInt)
    }
    // float fallback (rare): digits present and shape is [sign] digits/dots —
    // exactly the strings Float.parseFloat accepts here (multi-dot fails)
    if (dots > 1) return null
    TNum(NReal(java.lang.Float.parseFloat(
      new String(bytes, start, len, java.nio.charset.StandardCharsets.US_ASCII))))
  }

  private def keywordOrBare(start: Int, len: Int): Tok = {
    val op = Op.code(bytes, start, len)
    if (op != Op.Unknown) Op.tokens(op)
    else if (same(start, len, "stream")) TStreamBegin
    else if (same(start, len, "endstream")) TStreamEnd
    else if (same(start, len, "endobj")) TObjEnd
    else new TBare(Arrays.copyOfRange(bytes, start, start + len), Op.Unknown)
  }

  private def same(start: Int, len: Int, s: String): Boolean = {
    if (len != s.length) return false
    var i = 0
    while (i < len) { if (bytes(start + i) != s.charAt(i)) return false; i += 1 }
    true
  }

  private def digit(b: Byte): Int =
    if (b >= '0' && b <= '9') b - '0' else Err.fail("byte_to_digit: not a digit")
}

object PdfTokenizer {
  def apply(bytes: Array[Byte], at: Int = 0): PdfTokenizer = new PdfTokenizer(bytes, at)

  private final val MinCached = -256
  private val small: Array[TNum] = Array.tabulate(1280)(i => TNum(NInt(i + MinCached)))

  /** The integer token for `v`, shared for the small values that widths,
    * kerns, offsets and object numbers mostly are.
    */
  def int(v: Int): TNum =
    if (v >= MinCached && v < MinCached + small.length) small(v - MinCached) else TNum(NInt(v))

  private val oneByte: Array[THex] = Array.tabulate(256)(b => THex(Array(b.toByte)))

  /** The shared token of a one-byte hex string such as `<20>`. */
  private[core] def oneByteHex(b: Int): THex = oneByte(b)

  /** True when re-lexing `bytes` with the reference's 10x zero padding appended
    * (filters.rs returns the WHOLE padded buffer) would behave differently than
    * lexing the exact bytes — i.e. the stream ends in a pad-sensitive state:
    *
    *  - inside a literal string (the padding NULs join the dangling TLit, and a
    *    truncated escape/octal changes which panic fires);
    *  - inside a '%' comment with no EOL (the decoder's comment panic message
    *    carries the comment bytes);
    *  - on a trailing '<' (panic message names the next byte, NUL when padded);
    *  - on a trailing lone '>' (panic on exact EOF vs silent skip when padded —
    *    an error-vs-success divergence).
    *
    * EOF inside a hex string is NOT sensitive: the padding NULs are never '>',
    * so both paths end the token stream identically; NUL is whitespace in every
    * other state (tokenizer.rs:23). Used by BodyStream.getDataForLexing to keep
    * the exact-size decode on well-formed streams (the overwhelming majority)
    * and fall back to the reference's padded buffer on crafted/malformed ones.
    */
  def padSensitiveAtEof(bytes: Array[Byte]): Boolean = {
    import CharClass._
    val n = bytes.length
    var pos = 0
    while (pos < n) {
      val c = bytes(pos); pos += 1
      if (c == '%') {
        while (pos < n && bytes(pos) != 13 && bytes(pos) != 10) pos += 1
        if (pos >= n) return true // comment truncated at EOF
      } else if (c == '<') {
        if (pos >= n) return true // '<' is the last byte
        if (bytes(pos) == '<') pos += 1
        else if (isHexDigit(bytes(pos))) {
          while (pos < n && bytes(pos) != '>') pos += 1
          if (pos >= n) return false // EOF in hex: both paths end the stream
          pos += 1
        } // else: invalid-hexstring panic either way (next byte exists in both)
      } else if (c == '>') {
        if (pos >= n) return true // panic (exact) vs silent skip (padded)
        if (bytes(pos) == '>') pos += 1
      } else if (c == '(') {
        // mirror the escape-aware slow path: escaped parens don't count
        var opened = 1
        var closed = 0
        while (opened != closed) {
          if (pos >= n) return true // unterminated literal
          val cur = bytes(pos); pos += 1
          if (cur == '(') opened += 1
          else if (cur == ')') closed += 1
          if (opened != closed && cur == '\\') {
            if (pos >= n) return true // dangling escape
            val e = bytes(pos); pos += 1
            if (e >= '0' && e <= '9') {
              if (pos + 1 >= n) return true // octal needs 2 more digits
              pos += 2
            }
          }
        }
      }
      // every other byte: names/numbers/delims/whitespace — NUL padding is
      // whitespace there, token boundaries identical
    }
    false
  }
}

/** Token fuser: `Int Int R` -> TRef, `Int Int obj` -> TObjBegin, comments dropped —
  * tokenizer.rs:119-157. Carries the resolution context (file bytes + xref) that the
  * reference threads through `Token::IndirectRef`.
  *
  * Quirk replicated: a lookahead of `Int Int <bareword other than R/obj>` makes the
  * reference's `next()` fall through every arm and return None — the token stream
  * appears to end (tokenizer.rs:122-155 control flow).
  */
final class Lemmatizer(val tok: PdfTokenizer, val ctx: Ctx) {
  // lenient ctx reads stream bodies spec-exactly (see PdfTokenizer.nextNExact);
  // strict keeps the reference's whitespace-skip byte for byte
  def nextN(length: Int): Array[Byte] =
    if (ctx != null && ctx.lenient) tok.nextNExact(length) else tok.nextN(length)

  def next(): Tok = {
    var t = tok.next()
    // comments skipped — tokenizer.rs:151
    while (t != null && t.isInstanceOf[TComment]) t = tok.next()
    t match {
      case num @ TNum(NInt(a)) =>
        // look ahead on the same cursor and move it back unless the tokens fuse
        val at = tok.pos
        tok.next() match {
          case TNum(NInt(b)) =>
            tok.next() match {
              case bare: TBare if bare.op == Op.R   => TRef(a, b) // the looked-ahead tokens stay consumed
              case bare: TBare if bare.op == Op.obj => TObjBegin
              case _: TBare => tok.pos = at; null // reference quirk: falls through to None
              case _        => tok.pos = at; num
            }
          case _ => tok.pos = at; num
        }
      case other => other
    }
  }
}

/** Resolution context: the byte array refs resolve against + the xref index.
  * Mirrors the (bytes, Rc<XRef>) pair the reference stores inside IndirectRef/Object::Ref.
  * Every indirect object resolves through [[offset]] or [[offsetOf]].
  * `lenient` rides along so stream decoding can admit the lenient-only filters
  * (ASCIIHex/LZW — core/Filters.scala); strict contexts keep the reference's
  * FlateDecode-only panic.
  */
final class Ctx(val bytes: Array[Byte], val xref: XRef, val lenient: Boolean = false,
                val lenientText: Boolean = false,
                val decrypt: Option[Crypt.Decryptor] = None) {
  /** Object `num gen`'s offset, healed against `bytes` (xref.rs:245-268), if the xref has it. */
  def offset(num: Int, gen: Int): Option[Int] = xref.getAndFix(num, gen, bytes)

  /** [[offset]], failing with `missing` when the xref has no such object. */
  def offsetOf(num: Int, gen: Int, missing: => String): Int = offset(num, gen) match {
    case Some(at) => at
    case None     => Err.fail(missing)
  }

  /** Page-tree kids built from this context (PageTree.MaxKids). */
  private[core] var pageKids = 0

  /** The object parsed at each offset of `bytes` (ObjParser.parseAt), so an
    * object read twice, such as the font every page references or a page
    * dictionary read for its /Type and then for its fields, is parsed once
    * per context. Parsing is a function of the offset and this context, and
    * `PdfObj` values are immutable, so sharing one is exact; page-tree nodes
    * and pages, which carry parent links, are never kept. Allocated on the
    * first parse: most contexts (a trailer's, a /Length lookup's) parse one
    * object or none.
    */
  private var parsed: scala.collection.mutable.LongMap[PdfObj] = null

  private[core] def parsedAt(at: Int): PdfObj = if (parsed == null) null else parsed.getOrNull(at)

  private[core] def remember(at: Int, obj: PdfObj): Unit = {
    if (parsed == null) parsed = new scala.collection.mutable.LongMap[PdfObj](8)
    parsed.update(at, obj)
  }
}

object Lemmatizer {
  def apply(bytes: Array[Byte], at: Int, ctx: Ctx): Lemmatizer =
    new Lemmatizer(new PdfTokenizer(bytes, at), ctx)
}
