package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Byte pins of every Multimodal envelope writer and decode pins of every
  * header/sample/pixel parser over what they write. Each writer runs over a
  * fixed parameter grid with seeded tails; one SHA-256 covers the grid's
  * payloads, and one covers `decode`, `mp4FrameMeta`, `decodeWavSamples` and
  * `decodePixels` over those payloads plus seeded truncations and seeded
  * single-byte mutations of them (half inside the first 64 bytes, where the
  * headers sit). The literals were computed by the per-container writers
  * that the shared byte sink, PNG writer and MP4 writer replaced, so any
  * change to a payload byte or a decode result fails here. A missing pin
  * fails and prints the digest it computed.
  *
  * `decodePixels` runs only where `decode` reads at most 2^20 pixels from the
  * header. ImageIO allocates the raster a header declares before it reads
  * the image data (16 MB for a 108-byte `pngGray` whose IHDR says 4000x4000),
  * so one mutated IHDR or SOF byte could cost hundreds of megabytes a decode.
  */
class MultimodalPinSpec extends AnyFunSuite {
  import Multimodal._

  private val Truncations = 100
  private val Mutations = 1000

  private def tail(seed: Int, n: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(r.nextInt(256).toByte)
  }

  private val writers: Seq[(String, Seq[Array[Byte]])] = Seq(
    "pngEnvelope" -> (for (w <- Seq(1, 640, 65537); h <- Seq(1, 13); n <- Seq(0, 5, 33))
      yield pngEnvelope(w, h, tail(w * 31 + h * 7 + n, n))),
    "jpegEnvelope" -> (for (w <- Seq(1, 123, 65535); h <- Seq(1, 77); n <- Seq(0, 5, 33))
      yield jpegEnvelope(w, h, tail(w * 31 + h * 7 + n, n))),
    "wavEnvelope" -> (for (rate <- Seq(8000, 44100, 96000); ch <- Seq(1, 2); n <- Seq(0, 8, 101))
      yield wavEnvelope(rate, ch, tail(rate + ch * 7 + n, n))),
    "mp4Envelope" -> (for (w <- Seq(1, 1920, 32767); h <- Seq(1, 1080); n <- Seq(0, 3, 40))
      yield mp4Envelope(w, h, tail(w * 31 + h * 7 + n, n))),
    "mp4EnvelopeFrames" -> (for {
      (w, h) <- Seq((64, 48), (640, 360))
      ts <- Seq(1000, 90000)
      (n1, d1, n2, d2) <- Seq((3, 100, 2, 200), (100, 3000, 20, 1500), (0, 1, 1, 0))
      n <- Seq(0, 8)
    } yield mp4EnvelopeFrames(w, h, ts, n1, d1, n2, d2, tail(w + ts + n1 + n, n))),
    "pngGray" -> (for ((w, h) <- Seq((1, 1), (7, 5), (40, 3), (300, 250)); s <- Seq(0, 99))
      yield pngGray(w, h, (x, y) => (x * 31 + y * 7 + s) % 256)))

  private def sha256(parts: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p); md.update(java.nio.ByteBuffer.allocate(4).putInt(p.length).array) }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  private def outcome(b: Array[Byte]): String = {
    val meta = decode(b)
    val pixels =
      if (meta.width.toLong * meta.height <= (1 << 20)) decodePixels(b).toString else "skipped"
    s"$meta|${mp4FrameMeta(b)}|${decodeWavSamples(b)}|$pixels"
  }

  /** The bases, then seeded truncations, then seeded single-byte mutations. */
  private def corpus(idx: Int, bases: Seq[Array[Byte]]): Seq[Array[Byte]] = {
    val r = new scala.util.Random(7919L * (idx + 1))
    val cuts = Seq.fill(Truncations) {
      val b = bases(r.nextInt(bases.length))
      b.take(r.nextInt(b.length))
    }
    val muts = (0 until Mutations).map { i =>
      val b = bases(r.nextInt(bases.length)).clone()
      val pos = r.nextInt(if (i % 2 == 0) math.min(64, b.length) else b.length)
      b(pos) = (b(pos) ^ (1 + r.nextInt(255))).toByte
      b
    }
    bases ++ cuts ++ muts
  }

  private val pinned: Map[String, String] = Map(
    "pngEnvelope@bytes" -> "42f8c91f61013d68158fc3fc240e728506a0cc7faa7c8d49ebf25a8d77f6c166",
    "pngEnvelope@decode" -> "6211909172aa82e17b42fdb18aecf67e749933001d3f0630bdf422acda981a5d",
    "jpegEnvelope@bytes" -> "833d3e89cbd64932702df2493188bdc3739abfe83593e1e48e32848cc8b0d0d3",
    "jpegEnvelope@decode" -> "99da1d6c24ccdd11350fbb9d57fda5c36b6522f0be24939edc8d4412be98d866",
    "wavEnvelope@bytes" -> "4cfea6706f1a8885c5ff452d98fc3fb778bebe2ff77db2b39adba601c278e395",
    "wavEnvelope@decode" -> "7b0e1a0063853197075761728fbe5f2b2c4bbccc702c5702194bded3f0553c05",
    "mp4Envelope@bytes" -> "e683db7ef622a3157a2c21d24b7dc707246fabe0e97dd33e8eb9e461ee3ff1b3",
    "mp4Envelope@decode" -> "2b79c5753cde2e3dcf1c82a48d157f8cd30de3605047efe26393fdae19402265",
    "mp4EnvelopeFrames@bytes" -> "52d2e574aad7f1eaecd3162986b28d6385e2b9acf0b9600c13e20f2e6c7937af",
    "mp4EnvelopeFrames@decode" -> "c1e7de6a7d3ee0a0d090505b114890adf8ebebe196ee4cec186bb9f87808eb7a",
    "pngGray@bytes" -> "80431662983ec1e646a3a096d673eb69259be51105849d46adc2dfb240e074f6",
    "pngGray@decode" -> "58ffe98ff45221c9a94384a9ba50521877a2c0e257616686b8e63e88ceb34c7e")

  for (((name, bases), idx) <- writers.zipWithIndex) test(s"$name: payloads and decodes match the pinned SHA-256") {
    val lines = corpus(idx, bases).map(outcome)
    info(s"${lines.count(_.endsWith("|skipped"))} of ${lines.length} payloads skip decodePixels")
    val got = Seq(
      s"$name@bytes" -> sha256(bases),
      s"$name@decode" -> sha256(lines.map(_.getBytes(UTF_8))))
    val wrong = got.filterNot { case (k, v) => pinned.get(k).contains(v) }
    assert(wrong.isEmpty, wrong.map { case (k, v) => s"\"$k\" -> \"$v\"," }.mkString("\n", "\n", ""))
  }
}
