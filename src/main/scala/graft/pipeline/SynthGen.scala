package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.html.HtmlBoilerplate

/** Flat generated row: transcript turn + its golden expectation. */
final case class GenRow(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp,
    expected_text: String,
    gate: String
)

/** Deterministic seeded transcript generator (FIXTURES.md §1): pure function of
  * (seed, nConvs, longConvs, longTurns) — same arguments => byte-identical table.
  * Long conversations (10^3+ turns) are generated to exercise the salted-repartition
  * skew defense. No wall clock, no external data beyond the read-only reference
  * fixture PDFs (embedded as per-turn payloads, per the north star).
  */
object SynthGen {

  /** splitmix64 ([[graft.functions.TextFunctions.mix]]), the determinism
    * backbone; perfbench's corpus calls it here.
    */
  def mix(z0: Long): Long = graft.functions.TextFunctions.mix(z0)

  private val vocab: Array[String] = Array(
    "spark", "table", "row", "column", "scan", "filter", "join", "agg", "group",
    "sort", "hash", "merge", "batch", "stream", "window", "query", "value", "key",
    "part", "order", "line", "customer", "data", "fast", "slow", "small", "big",
    "the", "a", "vector", "token", "parse", "byte", "text", "span", "turn", "conv")

  /** Deterministic word-soup prose; printable ASCII, single-spaced, non-empty,
    * never starts with space/newline (so PDF round-trip is exact).
    */
  def prose(h0: Long, minWords: Int, spanWords: Int): String = {
    var h = mix(h0)
    val n = minWords + (java.lang.Long.remainderUnsigned(h, spanWords.toLong)).toInt
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      h = mix(h)
      if (i > 0) sb.append(' ')
      sb.append(vocab((java.lang.Long.remainderUnsigned(h, vocab.length.toLong)).toInt))
      i += 1
    }
    sb.toString
  }

  /** Boilerplate-heavy page wrapping `content` paragraphs — the HTML golden is the
    * original prose because the classifier drops nav/header/footer/aside and
    * link-dense blocks (HtmlBoilerplate rules 3-4).
    */
  def wrapHtml(content: String): String = {
    val esc = HtmlBoilerplate.escape(content)
    s"""<html><head><title>t</title><style>p{x:1}</style></head><body>
       |<header><h1>Site</h1><a href="/">home</a> <a href="/x">news</a></header>
       |<nav><ul><li><a href="/a">a b c d e</a></li><li><a href="/b">f g h i j</a></li></ul></nav>
       |<div><a href="/l1">one</a> <a href="/l2">two</a> <a href="/l3">three four</a></div>
       |<article><p>$esc</p></article>
       |<aside><p>ad ad ad ad ad</p></aside>
       |<footer><p>contact us terms privacy</p></footer>
       |</body></html>""".stripMargin
  }

  /** Reference fixture payloads: (name, base64, expected Text output, gate).
    * helloworld's expectation is the reference's own integration golden
    * (/root/reference/tests/integration.rs:5); the other fixtures use committed
    * engine snapshots (gate "snapshot"). Loaded lazily from the classpath /
    * reference data dir; falls back to synthetic-only generation if absent.
    */
  lazy val fixturePdfs: Array[(String, String, String, String)] = {
    def resource(name: String): Option[String] = {
      val in = getClass.getResourceAsStream(s"/golden/$name.text.txt")
      if (in == null) None
      else Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
    }
    def b64(name: String): Option[String] = {
      val p = java.nio.file.Paths.get("/root/reference/data", name)
      if (java.nio.file.Files.exists(p))
        Some(java.util.Base64.getEncoder.encodeToString(java.nio.file.Files.readAllBytes(p)))
      else None
    }
    val all = Array(
      ("helloworld.pdf", b64("helloworld.pdf"), Some("Hello, world!"), "exact"),
      ("sample.pdf", b64("sample.pdf"), resource("sample.pdf"), "snapshot"),
      ("002-trivial-libre-office-writer.pdf", b64("002-trivial-libre-office-writer.pdf"),
        resource("002-trivial-libre-office-writer.pdf"), "snapshot"),
      ("index.pdf", b64("index.pdf"), resource("index.pdf"), "snapshot")
    )
    all.collect { case (n, Some(b), Some(e), g) => (n, b, e, g) }
  }

  /** Generate the transcript+golden rows. Distributed: one task range per conv id;
    * every cell is a pure function of (seed, conv, turn).
    */
  def generate(
      spark: SparkSession,
      nConvs: Int,
      turnsPerConv: Int,
      longConvs: Int,
      longTurns: Int,
      seed: Long = 42L,
      includeFixturePdfs: Boolean = true,
      fixtureShare: Int = 5
  ): Dataset[GenRow] = {
    import spark.implicits._
    val fixtures = if (includeFixturePdfs) fixturePdfs else Array.empty[(String, String, String, String)]
    // payload mix: fixtureShare% real fixture PDFs; the rest split 40/25/30
    // plain/html/minipdf (defaults reproduce the original 40/25/30/5 mix exactly)
    val fixCut = 100 - (if (fixtures.isEmpty) 0 else fixtureShare)
    val plainCut = fixCut * 40 / 95
    val htmlCut = fixCut * 65 / 95
    val base = 1767225600000L // 2026-01-01T00:00:00Z, fixed epoch millis
    spark.range(0, nConvs.toLong + longConvs, 1, math.min(256, math.max(8, nConvs / 64)))
      .as[Long]
      .flatMap { conv =>
        val isLong = conv >= nConvs
        val h0 = mix(seed ^ mix(conv))
        val nTurns =
          if (isLong) longTurns
          else 1 + java.lang.Long.remainderUnsigned(h0, (2L * turnsPerConv - 1).max(1L)).toInt
        val convId = f"conv-$conv%06d"
        (0 until nTurns).iterator.map { turnIdx =>
          val h = mix(seed ^ mix(conv * 1000003L + turnIdx))
          val role = (turnIdx % 3) match {
            case 0 => "user"
            case 1 => "assistant"
            case _ => "tool"
          }
          val ts = new Timestamp(base + (conv * 60L + turnIdx) * 1000L)
          val kind = java.lang.Long.remainderUnsigned(h, 100L).toInt
          val body = prose(h ^ 0x5eedL, 8, 40)
          if (kind < plainCut) {
            GenRow(convId, turnIdx, role, body, "plain", ts, body, "exact")
          } else if (kind < htmlCut) {
            GenRow(convId, turnIdx, role, wrapHtml(body), "html", ts, body, "exact")
          } else if (kind < fixCut || fixtures.isEmpty) {
            // half raw content streams, half FlateDecode-compressed (same golden)
            val pdf = if (((h >>> 17) & 1L) == 0L) MiniPdf.synthesize(body)
                      else MiniPdf.synthesizeFlate(body)
            val b64 = java.util.Base64.getEncoder.encodeToString(pdf)
            GenRow(convId, turnIdx, role, b64, "pdf-b64", ts, body, "exact")
          } else {
            val (_, b64, expected, gate) =
              fixtures(java.lang.Long.remainderUnsigned(mix(h), fixtures.length.toLong).toInt)
            GenRow(convId, turnIdx, role, b64, "pdf-b64", ts, expected, gate)
          }
        }
      }
  }

  def turns(gen: Dataset[GenRow]): Dataset[Turn] = {
    import gen.sparkSession.implicits._
    gen.map(g => Turn(g.conv_id, g.turn_idx, g.role, g.text, g.tool, g.ts))
  }

  def golden(gen: Dataset[GenRow]): Dataset[Golden] = {
    import gen.sparkSession.implicits._
    gen.map(g => Golden(g.conv_id, g.turn_idx, g.expected_text, g.gate))
  }
}
