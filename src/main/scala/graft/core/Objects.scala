package graft.core

import java.nio.charset.CodingErrorAction
import java.nio.charset.StandardCharsets.UTF_8

/** Dynamic PDF object tree — object.rs:24-34. */
sealed trait PdfObj
final case class PDict(m: Map[String, PdfObj]) extends PdfObj
final case class PStream(header: Map[String, PdfObj], bytes: Array[Byte]) extends PdfObj
final case class PArr(items: Vector[PdfObj]) extends PdfObj
final case class PName(name: String) extends PdfObj
/** Literal/bareword string. `raw` (second parameter list: excluded from
  * equality/patterns) carries the EXACT source bytes when known — the
  * encrypted-document paths recover ciphertext from it instead of re-encoding
  * the decoded String (round-6 review: a /O or /U literal whose ciphertext
  * happens to be valid multibyte UTF-8 was mangled by the ISO re-encode,
  * breaking key derivation; the Encrypt dict parses BEFORE any decryptor
  * exists, so the litStr byte-preserving rule could not cover it).
  */
final case class PStr(s: String)(val raw: Array[Byte]) extends PdfObj
final case class PHexStr(bytes: Array[Byte]) extends PdfObj {
  override def equals(o: Any): Boolean = o match {
    case PHexStr(b) => java.util.Arrays.equals(bytes, b)
    case _          => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(bytes)
}
final case class PNum(n: Num) extends PdfObj
final case class PRef(num: Int, gen: Int, ctx: Ctx) extends PdfObj {
  // context is identity-irrelevant for structural comparison (mirrors reference tests
  // that compare Object::Ref by key)
  override def equals(o: Any): Boolean = o match {
    case PRef(n, g, _) => n == num && g == gen
    case _             => false
  }
  override def hashCode: Int = (num, gen).hashCode
}

object Utf8 {
  /** Rust `std::str::from_utf8(..).unwrap()` — strict decode, panic on invalid.
    * ASCII fast path: pure-ASCII bytes decode identically under UTF-8 and
    * Latin-1, skipping the per-call CharsetDecoder allocation (dict string and
    * bareword values hit this on every object parse).
    */
  def strict(bytes: Array[Byte]): String = {
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) { if (bytes(i) < 0) ascii = false else i += 1 }
    if (ascii) return new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val dec = UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    catch { case e: java.nio.charset.CharacterCodingException => Err.fail(s"invalid utf-8: ${e.getMessage}") }
  }

  /** Rust `String::from_utf8_lossy` — replace malformed sequences with U+FFFD. */
  def lossy(bytes: Array[Byte]): String = {
    val dec = UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
  }

  /** The UTF-8 bytes of `lossy(bytes)`: `bytes` itself when it is pure
    * ASCII, which the lossy decode leaves unchanged.
    */
  def lossyBytes(bytes: Array[Byte]): Array[Byte] =
    if (isAscii(bytes)) bytes else lossy(bytes).getBytes(UTF_8)

  /** No byte has its high bit set; eight bytes per step. */
  def isAscii(bytes: Array[Byte]): Boolean = {
    val n = bytes.length
    val longs = java.nio.ByteBuffer.wrap(bytes)
    var i = 0
    while (i + 8 <= n) {
      if ((longs.getLong(i) & 0x8080808080808080L) != 0) return false
      i += 8
    }
    while (i < n) { if (bytes(i) < 0) return false; i += 1 }
    true
  }
}

/** Recursive-descent object parser mirroring object.rs. */
object ObjParser {

  /** Max dictionary nesting depth. The fixtures never exceed ~5; a crafted
    * payload of 100k `<<` would otherwise StackOverflowError past the per-row
    * NonFatal catch (poison-payload hardening). Arrays cannot nest (reference
    * quirk — object.rs:176-177), so only dict recursion needs the guard.
    */
  val MaxNesting = 128

  /** `Object::new(bytes, idx, xref)` — object.rs:158-162, memoised per
    * context (see `Ctx.parsed`).
    */
  def parseAt(ctx: Ctx, at: Int): PdfObj = {
    val seen = ctx.parsedAt(at)
    if (seen != null) seen
    else {
      val obj = parse(Lemmatizer(ctx.bytes, at, ctx))
      ctx.remember(at, obj)
      obj
    }
  }

  /** `Object::try_from(&mut Lemmatizer)` — object.rs:96-156. */
  def parse(lex: Lemmatizer): PdfObj = {
    while (true) {
      lex.next() match {
        case TObjBegin => () // skip, continue 'start
        case TDictBegin =>
          val dict = parseDict(lex)
          // stream probe — object.rs:107-135
          lex.next() match {
            case TStreamBegin =>
              val length: Int = dict.get("Length") match {
                case Some(PNum(NInt(n)))  => n
                case Some(PNum(NReal(_))) => Err.fail("Real number found in stream length")
                case Some(PRef(obj, gen, rctx)) =>
                  val address = rctx.offsetOf(obj, gen, s"Stream dictionary should have a Length key, $dict")
                  val t = Lemmatizer(rctx.bytes, address, rctx)
                  t.next() // discard (typically the fused ObjBegin)
                  t.next() match {
                    case TNum(NInt(n)) => n
                    case other if other != null =>
                      Err.fail(s"Unexpected token found in object; found $other")
                    case _ => Err.fail(s"Stream dictionary should have a Length key, $dict")
                  }
                case _ => Err.fail(s"Stream dictionary should have a Length key, $dict")
              }
              return PStream(dict, lex.nextN(length))
            case _ => return PDict(dict)
          }
        case TNum(n)   => return PNum(n)
        case b: TBare  => Err.fail(s"unexpected bareword ${new String(b.bytes, UTF_8)}")
        case TArrayBegin => return PArr(parseArray(lex))
        case null      => Err.fail("Unexpected end of stream found in object")
        case t         => Err.fail(s"Unexpected token found in object; found $t")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** `Dictionary::try_from` — object.rs:51-93. Bareword values coerce to Name. */
  def parseDict(lex: Lemmatizer, depth: Int = 0): Map[String, PdfObj] = {
    if (depth > MaxNesting) Err.fail(s"dictionary nesting deeper than $MaxNesting")
    val dict = Map.newBuilder[String, PdfObj]
    var done = false
    while (!done) {
      lex.next() match {
        case TName(key) =>
          val value: PdfObj = lex.next() match {
            case TDictBegin     => PDict(parseDict(lex, depth + 1))
            case TArrayBegin    => PArr(parseArray(lex))
            case l: TLit        => PStr(litStr(lex.ctx, l.bytes))(l.bytes)
            case b: TBare       => PName(Utf8.strict(b.bytes)) // coercion — object.rs:70-72
            case h: THex        => PHexStr(h.bytes)
            case TName(n)       => PName(n)
            case TNum(n)        => PNum(n)
            case TRef(obj, gen) => PRef(obj, gen, lex.ctx)
            case null           => Err.fail("Unexpected end of stream found in dictionary value")
            case t              => Err.fail(s"Unexpected token found in dictionary value $t")
          }
          dict += key -> value
        case TDictEnd => done = true
        case null     => done = true // reference: while-let ends on None
        case t        => Err.fail(s"Unexpected token found in dictionary key $t")
      }
    }
    dict.result()
  }

  /** `Array::try_from` — object.rs:36-49: elements via token conversion only, so
    * nested dict/array begins arrive as EMPTY values (object.rs:176-177) and a nested
    * ArrayEnd terminates the outer array — quirk preserved.
    */
  def parseArray(lex: Lemmatizer): Vector[PdfObj] = {
    val out = Vector.newBuilder[PdfObj]
    var done = false
    while (!done) {
      val t = lex.next()
      t match {
        case TArrayEnd => done = true
        case null      => done = true
        case other     => out += objFromToken(other, lex.ctx)
      }
    }
    out.result()
  }

  /** Literal-string decode: strict UTF-8 with the reference's panic — except
    * in LENIENT mode, where a malformed sequence falls back to the
    * byte-preserving ISO-8859-1 decode instead of failing the document: an
    * ENCRYPTED document's literal strings are binary ciphertext (almost never
    * valid UTF-8), and the string decryptor needs the exact bytes back
    * (`PStr.getBytes(ISO_8859_1)` round-trips them).
    *
    * When a STRINGS-ENCRYPTING decryptor is in force on this ctx (lenient,
    * /StrF not Identity), every literal string this parser sees is ciphertext
    * by definition — the one context that parses plaintext strings of such a
    * document (an Info materialized out of an ObjStm, where strings are never
    * individually encrypted) runs under a decrypt-free ctx
    * (PdfExtract.readInfo). So ciphertext decodes byte-preserving
    * UNCONDITIONALLY, round-6 fix: the old strict-UTF-8-first policy was
    * ambiguous for ciphertext that happens to be valid multibyte UTF-8 whose
    * chars all fit U+0080..U+00FF — the String form lost which decode
    * produced it and PdfInfo's byte recovery silently decrypted wrong.
    */
  private def litStr(ctx: Ctx, bytes: Array[Byte]): String =
    if (!ctx.lenient) Utf8.strict(bytes)
    else if (ctx.decrypt.exists(_.strings))
      new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    else lenientStr(bytes)

  /** The lenient decode policy alone (strict UTF-8, else byte-preserving) —
    * also used to re-decode DECRYPTED string plaintext (PdfInfo), so an
    * encrypted UTF-8 title decodes exactly like its unencrypted twin.
    */
  private[core] def lenientStr(bytes: Array[Byte]): String =
    try Utf8.strict(bytes) catch {
      case _: PdfParseException =>
        new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    }

  /** `Object::try_from(Token)` — object.rs:171-192. */
  def objFromToken(t: Tok, ctx: Ctx): PdfObj = t match {
    case TDictBegin     => PDict(Map.empty)
    case TArrayBegin    => PArr(Vector.empty)
    case TName(n)       => PName(n)
    case TNum(n)        => PNum(n)
    case b: TBare       => PStr(Utf8.strict(b.bytes))(b.bytes)
    case l: TLit        => PStr(Utf8.strict(l.bytes))(l.bytes)
    case h: THex        => PHexStr(h.bytes)
    case TRef(obj, gen) => PRef(obj, gen, ctx)
    case other          => Err.fail(s"Unexpected token found in object $other")
  }
}
