package perfbench

import java.nio.charset.StandardCharsets.ISO_8859_1
import graft.core.{ContentDecoder, ExtractText, Flate, Pdf}
import graft.html.HtmlBoilerplate
import graft.pipeline.{ExtractJob, Turn}

object Stats {
  /** Nearest-rank quantile of an ascending-sorted sample. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(q * sorted.length).toInt - 1)))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Single-threaded kernel timings without Spark, over a fixed sample of a
  * workload's own payloads. Every operation is timed per turn in its own loop;
  * a turn's time is its median over `reps` passes.
  */
object Kernel {

  private val StreamHead = """<<([^<>]*)>>\nstream\n""".r
  private val LengthKey = """/Length (\d+)""".r

  /** (isFlate, stored bytes) of every content stream in a MiniPdf document. */
  def contentStreams(pdf: Array[Byte]): Seq[(Boolean, Array[Byte])] = {
    val s = new String(pdf, ISO_8859_1)
    StreamHead.findAllMatchIn(s).toSeq.flatMap { m =>
      val dict = m.group(1)
      LengthKey.findFirstMatchIn(dict).map { l =>
        (dict.contains("/FlateDecode"), pdf.slice(m.end, m.end + l.group(1).toInt))
      }
    }.filterNot { case (flate, b) =>
      val plain = if (flate) Flate.flateDecodeExact(b) else b
      new String(plain, ISO_8859_1).contains("begincmap")
    }
  }

  /** Nanoseconds `f` reports for every x, median over `reps` passes after one
    * warm pass. `f` times its own region, so set-up can stay outside it.
    */
  private def perItem[A](xs: IndexedSeq[A], reps: Int)(f: A => Long): IndexedSeq[Double] = {
    val t = Array.ofDim[Double](reps, xs.length)
    for (r <- -1 until reps; i <- xs.indices) {
      val dt = f(xs(i))
      if (r >= 0) t(r)(i) = dt.toDouble
    }
    xs.indices.map(i => Stats.median(t.map(_(i)).toSeq))
  }

  private def timed(body: => Any): Long = {
    val t0 = System.nanoTime()
    body
    System.nanoTime() - t0
  }

  private def p(ns: Seq[Double], q: Double): Double = Stats.quantile(ns.sorted, q) / 1e3

  /** Returns the per-layer kernel metrics (µs) plus `kernel.mean_turn_us`, the
    * mean extractTurn time over the whole sample.
    */
  def measure(sample: IndexedSeq[Turn], reps: Int): Map[String, Double] = {
    val turnNs = perItem(sample, reps)(t => timed(ExtractJob.extractTurn(t)))
    def kind(t: Turn) = t.tool match {
      case "pdf-b64" => "pdf"
      case "html"    => "html"
      case _         => "plain"
    }
    val byKind = sample.indices.groupBy(i => kind(sample(i)))
    def turnsOf(k: String) = byKind.getOrElse(k, IndexedSeq.empty)

    val html = turnsOf("html")
    val htmlNs = perItem(html, reps)(i => timed(HtmlBoilerplate.extract(sample(i).text)))

    val pdfs = turnsOf("pdf")
    val b64Ns = perItem(pdfs, reps)(i => timed(java.util.Base64.getDecoder.decode(sample(i).text)))
    val bytes = pdfs.map(i => java.util.Base64.getDecoder.decode(sample(i).text))
    val constructNs = perItem(bytes, reps)(b => timed(Pdf(b)))
    // a fresh document per pass, built before the clock starts
    val extractNs = perItem(bytes, reps) { b => val pdf = Pdf(b); timed(pdf.extractResult(ExtractText)) }
    val streams = bytes.map(contentStreams)
    val flate = streams.flatMap(_.collect { case (true, b) => b })
    val inflateNs = perItem(flate, reps)(b => timed(Flate.flateDecodeExact(b)))
    val decoded = streams.map(_.map { case (f, b) => if (f) Flate.flateDecodeExact(b) else b })
    val lexNs = perItem(decoded, reps) { docs =>
      timed(docs.foreach { b =>
        val d = new ContentDecoder(b)
        while (d.next() != null) ()
      })
    }
    val pdfTurn = pdfs.map(turnNs)
    val htmlTurn = html.map(turnNs)

    Map(
      "pipeline.extract_turn_us.plain.p50" -> p(turnsOf("plain").map(turnNs), 0.5),
      "pipeline.extract_turn_us.plain.p99" -> p(turnsOf("plain").map(turnNs), 0.99),
      "pipeline.extract_turn_us.html.p50" -> p(htmlTurn, 0.5),
      "pipeline.extract_turn_us.html.p99" -> p(htmlTurn, 0.99),
      "pipeline.extract_turn_us.pdf.p50" -> p(pdfTurn, 0.5),
      "pipeline.extract_turn_us.pdf.p99" -> p(pdfTurn, 0.99),
      "pipeline.b64_decode_us.p50" -> p(b64Ns, 0.5),
      "core.pdf_construct_us.p50" -> p(constructNs, 0.5),
      "core.pdf_extract_us.p50" -> p(extractNs, 0.5),
      "core.inflate_us.p50" -> p(inflateNs, 0.5),
      "core.content_lex_us.p50" -> p(lexNs, 0.5),
      "html.extract_us.p50" -> p(htmlNs, 0.5),
      "pipeline.turn_residual_us.html.p50" ->
        p(htmlTurn.indices.map(j => htmlTurn(j) - htmlNs(j)), 0.5),
      "pipeline.turn_residual_us.pdf.p50" ->
        p(pdfTurn.indices.map(j => pdfTurn(j) - b64Ns(j) - constructNs(j) - extractNs(j)), 0.5),
      "kernel.mean_turn_us" -> turnNs.sum / math.max(1, turnNs.length) / 1e3)
  }
}
