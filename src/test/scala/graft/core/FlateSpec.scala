package graft.core

import java.util.zip.{DataFormatException, Inflater}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.MiniPdf

/** FlateDecode against the reference's buffer semantics (filters.rs:4-14)
  * over seeded zlib inputs: valid, truncated, bit-flipped, incompressible,
  * more-than-10x compressible and tiny (6 bytes or fewer).
  */
class FlateSpec extends AnyFunSuite {

  /** filters.rs:4-14 as written: inflate into ONE buffer of exactly 10x the
    * input and return all of it (data, then zero padding, or truncated at
    * the cap); a zlib error is the reference's panic with its message.
    */
  private def refPadded(input: Array[Byte]): Either[String, Array[Byte]] = {
    val buf = new Array[Byte](input.length * 10)
    val inf = new Inflater()
    inf.setInput(input)
    try {
      var off = 0
      var stalled = false
      while (!inf.finished() && off < buf.length && !stalled) {
        val n = inf.inflate(buf, off, buf.length - off)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) stalled = true
        else off += n
      }
      Right(buf)
    } catch {
      case e: DataFormatException => Left(s"Error: ${e.getMessage}")
    } finally {
      inf.end()
    }
  }

  private def attempt(f: => Array[Byte]): Either[String, Array[Byte]] =
    try Right(f) catch { case e: PdfParseException => Left(e.getMessage) }

  private def same(a: Either[String, Array[Byte]], b: Either[String, Array[Byte]]): Boolean =
    (a, b) match {
      case (Right(x), Right(y)) => java.util.Arrays.equals(x, y)
      case _                    => a == b
    }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** The seeded corpus, by kind. */
  private def inputs: Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(20261019L)
    def text(n: Int): Array[Byte] = {
      val words = Seq("BT", "ET", "Tj", "(hello)", "/F1", "12", "Tf", "70 50 TD", "\n")
      Iterator.continually(words(rnd.nextInt(words.length))).take(n).mkString(" ").getBytes("ISO-8859-1")
    }
    def valid(): Array[Byte] = MiniPdf.deflate(text(rnd.nextInt(400)))
    def run(): Array[Byte] = {
      val plain = text(rnd.nextInt(5)) ++ Array.fill(200 + rnd.nextInt(20000))('a'.toByte) ++ text(rnd.nextInt(5))
      MiniPdf.deflate(plain)
    }
    val runOf300 = MiniPdf.deflate(Array.fill(300)('a'.toByte))
    Seq("tiny: zlib header + 4 bytes of a 300-byte run" -> runOf300.take(6)) ++
      (0 until 400).flatMap { _ =>
        val v = valid()
        val flipped = v.clone()
        (0 until 1 + rnd.nextInt(3)).foreach { _ =>
          if (flipped.nonEmpty) {
            val i = rnd.nextInt(flipped.length)
            flipped(i) = (flipped(i) ^ (1 << rnd.nextInt(8))).toByte
          }
        }
        val r = run()
        Seq(
          "valid" -> v,
          "truncated" -> v.take(rnd.nextInt(v.length + 1)),
          "bit-flipped" -> flipped,
          "incompressible" -> MiniPdf.deflate(Array.fill(rnd.nextInt(3000))(rnd.nextInt(256).toByte)),
          "more than 10x" -> r,
          "more than 10x, truncated" -> r.take(2 + rnd.nextInt(r.length - 1)),
          "tiny" -> r.take(rnd.nextInt(7)),
          "tiny random" -> Array.fill(rnd.nextInt(7))(rnd.nextInt(256).toByte))
      }
  }

  test("flateDecodeExact never exceeds 10x; flateDecode equals it zero-padded to 10x") {
    val corpus = inputs
    // a run of 200+ bytes compresses past 10x, so the reference's buffer fills
    assert(corpus.filter(_._1 == "more than 10x").forall { case (_, x) =>
      refPadded(x).exists(_.last != 0) }, "a more-than-10x input did not reach the cap")
    corpus.foreach { case (kind, x) =>
      val cap = x.length * 10
      val exact = attempt(Flate.flateDecodeExact(x))
      exact.foreach { e =>
        assert(e.length <= cap, s"$kind input ${hex(x)}: exact decode ${e.length} bytes > cap $cap")
      }
      val padded = attempt(Flate.flateDecode(x))
      assert(same(padded, refPadded(x)), s"$kind input ${hex(x)}: flateDecode differs from the reference")
      assert(same(padded, exact.map(java.util.Arrays.copyOf(_, cap))),
        s"$kind input ${hex(x)}: flateDecode differs from the padded exact decode")
    }
  }
}
