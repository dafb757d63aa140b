package graft.core

/** ToUnicode CMap — cmap.rs:4-155. Parsed token-wise from the (decoded) CMap stream.
  * `isTwoBytes` derives from the first codespacerange hex length (1 byte -> false,
  * 2 -> true, else panic — cmap.rs:41-45). Values are single UTF-16 code units; an
  * unpaired surrogate panics exactly like Rust `char::decode_utf16` (cmap.rs:74).
  *
  * The map is a two-level page table over the 16-bit keys the glyph loop can
  * look up: 256 pages of 256 chars, each page allocated on its first write,
  * with a surrogate marking an empty slot (no mapped value can be one). An
  * array-form bfrange can run past 0xFFFF; those keys can never match a
  * glyph but still print in Font mode, so they are kept sorted on the side.
  * A later write to a key replaces the earlier one, as in the reference's
  * HashMap.
  */
final class ToUnicodeCMap private (
    val beginCodeSpaceRange: Array[Byte],
    val endCodeSpaceRange: Array[Byte],
    val isTwoBytes: Boolean,
    pages: Array[Array[Char]],
    highKeys: Array[Int],
    highValues: Array[Char]
) {
  import ToUnicodeCMap.Empty

  /** The char mapped to `key`, or -1 when the CMap has none. */
  def lookup(key: Int): Int =
    if (key >>> 16 == 0) {
      val page = pages(key >>> 8)
      if (page == null) -1
      else {
        val c = page(key & 0xff)
        if (c == Empty) -1 else c
      }
    } else {
      val i = java.util.Arrays.binarySearch(highKeys, key)
      if (i < 0) -1 else highValues(i)
    }

  /** Every (key, char) pair in ascending key order. */
  def entries: Vector[(Int, Char)] = {
    val out = Vector.newBuilder[(Int, Char)]
    var p = 0
    while (p < pages.length) {
      val page = pages(p)
      if (page != null) {
        var i = 0
        while (i < page.length) {
          if (page(i) != Empty) out += ((p << 8 | i, page(i)))
          i += 1
        }
      }
      p += 1
    }
    var i = 0
    while (i < highKeys.length) { out += ((highKeys(i), highValues(i))); i += 1 }
    out.result()
  }
}

object ToUnicodeCMap {

  private final val Empty = '\ud800'

  def parse(value: String): ToUnicodeCMap =
    parse(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Parse UTF-8 bytes (the reference lexes the `from_utf8_lossy` text). */
  def parse(bytes: Array[Byte]): ToUnicodeCMap = {
    val tok = new PdfTokenizer(bytes, 0)

    // scan to begincodespacerange — cmap.rs:18-24
    var scanning = true
    while (scanning) {
      tok.next() match {
        case b: TBare if bEq(b.bytes, "begincodespacerange") => scanning = false
        case null => Err.fail("Reached end of cmap stream before complete")
        case _    => ()
      }
    }
    val begin = tok.next() match {
      case h: THex => h.bytes
      case t       => Err.fail(s"Cmap begincodespacerange next token should be HexString, found $t")
    }
    val end = tok.next() match {
      case h: THex => h.bytes
      case t       => Err.fail(s"Cmap endcodespacerange next token should be HexString, found $t")
    }
    val isTwoBytes = begin.length match {
      case 1 => false
      case 2 => true
      case n => Err.fail(s"Cmap index with byte length $n is not supported")
    }

    val pages = new Array[Array[Char]](256)
    val high = scala.collection.mutable.TreeMap.empty[Int, Char]
    def put(key: Int, v: Char): Unit =
      if (key >>> 16 == 0) {
        var page = pages(key >>> 8)
        if (page == null) {
          page = new Array[Char](256)
          java.util.Arrays.fill(page, Empty)
          pages(key >>> 8) = page
        }
        page(key & 0xff) = v
      } else high(key) = v

    def hexKey(x: Array[Byte], what: String): Int = x.length match {
      case 2 => (x(0) & 0xff) * 256 + (x(1) & 0xff)
      case 1 => x(0) & 0xff
      case n => Err.fail(s"$what should contain one or two bytes, found $n")
    }

    def utf16Char(code: Int): Char = {
      if (code >= 0xd800 && code <= 0xdfff) Err.fail("unpaired surrogate in cmap value")
      code.toChar
    }

    def hexVal(x: Array[Byte]): Int = {
      if (x.length < 2) Err.fail("CMap value hex string too short")
      (x(0) & 0xff) * 256 + (x(1) & 0xff)
    }

    // Each block entry reads its first token once: the reference peeks for
    // the end keyword and then reads the same token as the key, and the
    // outer scan ignores that keyword anyway.
    var t = tok.next()
    while (t != null) {
      t match {
        case b: TBare if bEq(b.bytes, "beginbfchar") =>
          var done = false
          while (!done) {
            tok.next() match {
              case p: TBare if bEq(p.bytes, "endbfchar") => done = true
              case first =>
                val key = first match {
                  case h: THex => hexKey(h.bytes, "BFChar key")
                  case null    => Err.fail("CMap unreadable because end of cmap file is reached")
                  case tk      => Err.fail(s"CMap key should be an hex string, found $tk")
                }
                val v = tok.next() match {
                  case h: THex => utf16Char(hexVal(h.bytes))
                  case null    => Err.fail("CMap unreadable because end of cmap file is reached")
                  case tk      => Err.fail(s"CMap val should be an hex string, found $tk")
                }
                put(key, v)
            }
          }
        case b: TBare if bEq(b.bytes, "beginbfrange") =>
          var done = false
          while (!done) {
            tok.next() match {
              case p: TBare if bEq(p.bytes, "endbfrange") => done = true
              case first =>
                val src1 = first match {
                  case h: THex => hexKey(h.bytes, "BFRange first source code")
                  case null    => Err.fail("CMap unreadable because end of cmap file is reached")
                  case tk      => Err.fail(s"CMap srcCode1 should be an hex string, found $tk")
                }
                val src2 = tok.next() match {
                  case h: THex => hexKey(h.bytes, "BFRange second source code")
                  case null    => Err.fail("CMap unreadable because end of cmap file is reached")
                  case tk      => Err.fail(s"CMap srcCode2 should be an hex string, found $tk")
                }
                tok.next() match {
                  case h: THex =>
                    // incrementing form — cmap.rs:107-122
                    var dst = hexVal(h.bytes)
                    var idx = src1
                    while (idx <= src2) {
                      put(idx, utf16Char(dst))
                      dst += 1
                      idx += 1
                    }
                  case TArrayBegin =>
                    // array form — cmap.rs:124-138
                    var idx = 0
                    var arrDone = false
                    while (!arrDone) {
                      tok.next() match {
                        case TArrayEnd => arrDone = true
                        case h: THex =>
                          put(src1 + idx, utf16Char(hexVal(h.bytes)))
                          idx += 1
                        case null => Err.fail("CMap unreadable because end of cmap file is reached")
                        case tk   => Err.fail(s"CMap range should only contain hex strings, found $tk")
                      }
                    }
                  case null => Err.fail("CMap unreadable because end of cmap file is reached")
                  case tk   => Err.fail(s"CMap dst_string should be an hex string or an array, found $tk")
                }
            }
          }
        case _ => ()
      }
      t = tok.next()
    }

    new ToUnicodeCMap(begin, end, isTwoBytes, pages, high.keysIterator.toArray, high.valuesIterator.toArray)
  }

  private def bEq(a: Array[Byte], s: String): Boolean = {
    if (a.length != s.length) return false
    var i = 0
    while (i < a.length) { if (a(i) != s.charAt(i)) return false; i += 1 }
    true
  }
}
