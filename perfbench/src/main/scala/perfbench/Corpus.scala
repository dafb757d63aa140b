package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{GenRow, MiniPdf, SynthGen}

/** The two extraction corpora. Each is a pure function of (seed, size): the
  * same seed gives byte-identical tables, and neither reads any file (fixture
  * PDFs are excluded explicitly, so the make-up never depends on the host).
  */
object Corpus {

  final case class Size(convs: Int, turnsPerConv: Int, longConvs: Int, longTurns: Int)

  /** The production mix: SynthGen's plain/html/MiniPdf split plus a few long
    * conversations that carry most of the turns.
    */
  def transcriptMix(spark: SparkSession, seed: Long, s: Size): Dataset[GenRow] =
    SynthGen.generate(spark, s.convs, s.turnsPerConv, s.longConvs, s.longTurns,
      seed = seed, includeFixturePdfs = false)

  /** All-PDF corpus in uniform short conversations; every turn is a few-KB
    * document from one of four MiniPdf shapes (multi-page, multi-Tj, flate,
    * ToUnicode CMap).
    */
  def pdfHeavy(spark: SparkSession, seed: Long, s: Size): Dataset[GenRow] = {
    import spark.implicits._
    val turns = s.turnsPerConv
    spark.range(0, s.convs.toLong, 1, math.min(256, math.max(8, s.convs / 64)))
      .as[Long]
      .flatMap(conv => (0 until turns).iterator.map(t => pdfRow(seed, conv, t)))
  }

  private val base = 1767225600000L // 2026-01-01T00:00:00Z

  def pdfRow(seed: Long, conv: Long, turnIdx: Int): GenRow = {
    val h = SynthGen.mix(seed ^ SynthGen.mix(conv * 1000003L + turnIdx))
    val text = SynthGen.prose(h ^ 0x5eedL, 320, 160)
    val (pdf, expected) = pdfShape(java.lang.Long.remainderUnsigned(h >>> 11, 4L).toInt, text)
    GenRow(f"conv-$conv%06d", turnIdx, if (turnIdx % 2 == 0) "user" else "tool",
      java.util.Base64.getEncoder.encodeToString(pdf), "pdf-b64",
      new Timestamp(base + (conv * 60L + turnIdx) * 1000L), expected, "exact")
  }

  /** (document, expected Text extraction). The expectation is derived from the
    * generator's own text, never from the engine.
    */
  def pdfShape(shape: Int, text: String): (Array[Byte], String) = shape match {
    case 0 =>
      // one page per 400-char slice; pages join with '\n' and each page drops
      // its leading ' '/'\n' run
      val pages = text.grouped(400).map(_.dropWhile(c => c == ' ' || c == '\n'))
      (MiniPdf.synthesizeMultiPage(text, 400), pages.mkString("\n"))
    case 1 => (MiniPdf.synthesizeMultiTj(text, 48), text)
    case 2 => (MiniPdf.synthesizeFlate(text), text)
    case _ => cmapDoc(text)
  }

  /** Lower-case prose shown through TJ hex strings and a ToUnicode CMap that
    * maps a-z to A-Z: one TJ line per 12 words, kerned between words, each
    * line moved down by Td so the engine infers a newline between lines.
    */
  private def cmapDoc(text: String): (Array[Byte], String) = {
    def hex(s: String) = s.map(c => f"${c.toInt}%02X").mkString
    val lines = text.split(' ').grouped(12).map(_.mkString(" ")).toSeq
    val body = lines.map { line =>
      line.split(' ').map(w => s"<${hex(w)}>").mkString("[", " -250 <20> ", "] TJ\n0 -14 Td\n")
    }.mkString
    val content = s"BT\n/F1 12 Tf\n70 700 Td\n${body}ET\n"
    val bf = "2 beginbfrange <20> <20> <0020> <61> <7A> <0041> endbfrange"
    (MiniPdf.synthesizeWithCMap(content, bf), lines.mkString("\n").toUpperCase)
  }

  /** Corpus make-up: rows and payload bytes per tool, the share of turns in
    * long conversations, and rows whose golden is not an exact text.
    */
  final case class MakeUp(rows: Map[String, Long], bytes: Map[String, Long],
                          longShare: Double, nonExactRows: Long)

  def makeUp(gen: Dataset[GenRow], longTurns: Int): MakeUp = {
    val byTool = gen.groupBy("tool")
      .agg(count(lit(1)).as("rows"), sum(length(col("text")).cast("long")).as("bytes"))
      .collect()
    val convSizes = gen.groupBy("conv_id").count()
    val longRows = if (longTurns <= 0) 0L
      else convSizes.where(col("count") >= longTurns).agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
    val nonExact = gen.where(col("gate") =!= "exact").count()
    val rows = byTool.map(r => r.getString(0) -> r.getLong(1)).toMap
    MakeUp(rows, byTool.map(r => r.getString(0) -> r.getLong(2)).toMap,
      longRows.toDouble / math.max(1L, rows.values.sum), nonExact)
  }
}
