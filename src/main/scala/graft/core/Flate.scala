package graft.core

import java.util.zip.{DataFormatException, Inflater}

/** FlateDecode with the reference's exact buffer semantics — filters.rs:4-14:
  * the output buffer is exactly 10x the compressed size and the WHOLE buffer is
  * returned: decoded data followed by zero padding (or silently truncated at 10x).
  * The padding is benign for lexing (NUL is whitespace, tokenizer.rs:23) but visible
  * in RawContent output, so it must be preserved for fixture parity. One inflate
  * loop serves both forms; [[pad]] is the one place of the 10x rule.
  */
object Flate {

  /** The decoded bytes, truncated at the 10x cap (filters.rs:7-9) but not
    * padded. Safe where the padding is invisible: content streams and
    * ToUnicode CMaps re-lex the bytes, and NUL is whitespace to the tokenizer.
    * The buffer starts at `min(cap, max(64, 4n))` and doubles up to the cap,
    * so a stream costs about its decoded size, not the 10x zero-filled
    * allocation (the dominant GC pressure at high core counts, BENCH.md).
    */
  def flateDecodeExact(input: Array[Byte]): Array[Byte] = {
    val (buf, n) = inflate(input, math.min(input.length * 10, math.max(64, input.length * 4)))
    if (n == buf.length) buf else java.util.Arrays.copyOf(buf, n)
  }

  /** The reference's whole buffer, `pad(flateDecodeExact(input), input.length)`,
    * decoded straight into one 10x buffer (no growth, no trim). RawContent and
    * strict xref-stream bodies read it.
    */
  def flateDecode(input: Array[Byte]): Array[Byte] = inflate(input, input.length * 10)._1

  /** Exact decoded bytes zero-padded to the reference's `10 * compressedLen`. */
  def pad(exact: Array[Byte], compressedLen: Int): Array[Byte] =
    java.util.Arrays.copyOf(exact, compressedLen * 10)

  /** The Inflater loop: a buffer of `first` bytes, doubled up to the 10x cap,
    * and the count decoded into it (the rest is zeros).
    */
  private def inflate(input: Array[Byte], first: Int): (Array[Byte], Int) = {
    val cap = input.length * 10
    var buf = new Array[Byte](first)
    val inf = new Inflater()
    inf.setInput(input)
    try {
      var off = 0
      var stalled = false
      while (!inf.finished() && off < cap && !stalled) {
        if (off == buf.length) buf = java.util.Arrays.copyOf(buf, math.min(cap, buf.length * 2L).toInt)
        val n = inf.inflate(buf, off, buf.length - off)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) stalled = true
        else off += n
      }
      (buf, off)
    } catch {
      case e: DataFormatException => Err.fail(s"Error: ${e.getMessage}")
    } finally {
      inf.end()
    }
  }
}
