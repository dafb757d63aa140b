package graft
package queries

import org.apache.spark.sql.functions._
import graft.core.{ExtractChars, ExtractText, Pdf}
import graft.html.HtmlBoilerplate
import graft.operators.Multimodal
import graft.pipeline._
import Query._

/** Extraction-engine round trips (the pdfrust-semantics core, end to end),
  * plus the north-rule flagship: the transcript pipeline with its full oracle.
  */
object PdfQueries {

  val all: Seq[Query] = Seq(
    Query("q_pdf_roundtrip", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, Pdf(MiniPdf.synthesize(text)).extract(ExtractText))
        })
        .toDF("doc_id", "extracted_text")
    }, _ =>
      "SELECT doc_id, text AS extracted_text FROM documents ORDER BY doc_id"),
    // CHARS-mode value check (round 6 — possible now that the chars format is
    // proven byte-exact against the reference binary, RefGoldenSpec): each doc
    // synthesizes to a single-Tj page, so the per-glyph diagnostic line is a
    // pure function of the character — same Type1/Helvetica font, same
    // (1, 0, 0, 1, 70, 50) matrix — and the oracle rebuilds every line from
    // the text alone (corpus is space+lowercase, so no Rust char escapes).
    // chars-mode twin: one diagnostic line per character of the text, rebuilt
    // from the text alone (single-Tj page => constant font and matrix; the
    // corpus alphabet needs no Rust char escaping)
    Query("q_pdf_chars", (s, dir) => {
      import s.implicits._
      // The hash exchange moved BEFORE the extraction map (r9): the documents
      // table is one parquet split, so the per-glyph synthesize+extract kernel
      // — the suite's densest per-row CPU — serialized into a single scan task
      // (the pipeline's salted-repartition lesson, SURVEY P3; guide §2.5 input
      // skew). Repartitioning first spreads the kernel across the cluster and
      // already leaves the output hash-distributed by doc — the old POST-map
      // repartition is then pure duplicate work and is gone. Row order within
      // a partition is per-doc emission order; the driver's hash compare is
      // order-normalized (VERDICT r6 §5), so no sort is owed at all.
      t(s, dir, "documents").select($"doc_id", $"text")
        .repartition(col("doc_id")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          Pdf(MiniPdf.synthesize(text)).extract(ExtractChars)
            .split("\n", -1).iterator.zipWithIndex.collect {
              case (line, i) if line.nonEmpty => (id, i, line)
            }
        })
        .toDF("doc_id", "pos", "line")
    }, _ =>
      ("WITH c AS (SELECT doc_id, CAST(p AS INT) AS pos, " +
        "substr(text, CAST(p AS INT) + 1, 1) AS ch " +
        "FROM (SELECT doc_id, text, unnest(range(0, length(text))) AS p FROM documents)) " +
        "SELECT doc_id, pos, '''' || ch || ''', \"Type1\", \"Helvetica\", (1, 0, 0, 1, 70, 50)' AS line " +
        "FROM c ORDER BY doc_id, pos")),
    // Full span-array contract, driver-checked on MULTI-Tj pages: each doc is
    // synthesized with one Tj per 40-char slice, and every span row (op, start,
    // end) is exploded and value-checked against offsets the oracle re-derives
    // from the text alone. Extracted text equality is covered by q_pdf_roundtrip;
    // this pins the sidecar.
    Query("q_pdf_spans", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val r = Pdf(MiniPdf.synthesizeMultiTj(text, 40)).extractResult(ExtractText)
          r.spans.zipWithIndex.map { case (sp, i) =>
            (id, i, r.spans.length, sp.op, sp.start, sp.end)
          }
        }
        .toDF("doc_id", "span_idx", "n_spans", "span_op", "span_start", "span_end")
    }, _ =>
      ("WITH s AS (SELECT doc_id, length(text) AS len, " +
        "unnest(range(0, CAST(ceil(length(text) / 40.0) AS BIGINT))) AS i FROM documents) " +
        "SELECT doc_id, CAST(i AS INT) AS span_idx, CAST(ceil(len / 40.0) AS INT) AS n_spans, " +
        "'Tj' AS span_op, CAST(i * 40 AS INT) AS span_start, " +
        "CAST(least((i + 1) * 40, len) AS INT) AS span_end " +
        "FROM s ORDER BY doc_id, span_idx")),
    // Multi-PAGE join semantics (the correctness heart's tree rule, previously
    // fixture-gated only): each doc becomes one page per 100-char slice; page
    // outputs join with "\n" and each page trims its leading ' '/'\n' run —
    // the oracle re-derives exactly that from the text.
    // pages = 100-char slices, each with its leading ' '/'\n' run trimmed
    // (content.rs:950), joined with "\n" (body.rs:413-419)
    Query("q_pdf_multipage", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, Pdf(MiniPdf.synthesizeMultiPage(text, 100)).extract(ExtractText))
        })
        .toDF("doc_id", "extracted_text")
    }, _ =>
      ("WITH c AS (SELECT doc_id, list_transform(" +
        "range(0, CAST(ceil(greatest(length(text), 1) / 100.0) AS BIGINT)), " +
        "i -> regexp_replace(substr(text, CAST(i * 100 + 1 AS INT), 100), '^[ \\n]+', '')) AS chunks " +
        "FROM documents) " +
        "SELECT doc_id, array_to_string(chunks, chr(10)) AS extracted_text FROM c ORDER BY doc_id")),
    Query("q_pdf_rawcontent", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, Pdf(MiniPdf.synthesize(text)).extract(graft.core.ExtractRawContent))
        })
        .toDF("doc_id", "raw_content")
    }, _ =>
      "SELECT doc_id, 'BT' || chr(10) || '70 50 TD' || chr(10) || '/F1 12 Tf' || chr(10) || '(' || replace(replace(replace(text, '\\', '\\\\'), '(', '\\('), ')', '\\)') || ') Tj' || chr(10) || 'ET' || chr(10) AS raw_content FROM documents ORDER BY doc_id"),
    Query("q_pdf_info", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val info = Pdf(MiniPdf.synthesize(text)).readInfo
          (id, info.flatMap(_.title).orNull, info.flatMap(_.author).orNull,
            info.flatMap(_.creator).orNull)
        })
        .toDF("doc_id", "title", "author", "creator")
    }, _ =>
      "SELECT doc_id, substr(text, 1, 24) AS title, 'graft' AS author, 'minipdf' AS creator FROM documents ORDER BY doc_id"),
    Query("q_html_strip", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, HtmlBoilerplate.extract(SynthGen.wrapHtml(text)).text)
        })
        .toDF("doc_id", "extracted_text")
    }, _ =>
      "SELECT doc_id, text AS extracted_text FROM documents ORDER BY doc_id"),
    // LENIENT engine extension, end to end through the pipeline's
    // pdf-b64-lenient route: every doc becomes a PDF 1.5-shaped payload
    // (xref STREAM + PNG-Up predictor) that the reference — and our strict
    // mode — cannot open, and must still round-trip exactly.
    Query("q_pdf_lenient_roundtrip", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val e = ExtractJob.extractTurn(Turn(id.toString, 0, "user",
            MiniPdf.synthesizeXrefStreamBase64(text), "pdf-b64-lenient", null))
          (id, e.extracted_text, e.payload_kind, e.error == null)
        })
        .toDF("doc_id", "extracted_text", "payload_kind", "ok")
    }, _ =>
      "SELECT doc_id, text AS extracted_text, 'pdf-lenient' AS payload_kind, true AS ok FROM documents ORDER BY doc_id"),
    // LENIENT filter extension end to end: every doc becomes a classic-xref PDF
    // whose CONTENT STREAM is ASCIIHexDecode- (even ids) or LZWDecode-encoded
    // (odd ids) — filter names the reference (and strict mode) panics on
    // (body.rs:42-54) — routed through pdf-b64-lenient; the text must round-trip
    // exactly and the LZW path exercises real 9->10-bit code-width growth on
    // longer docs.
    Query("q_pdf_filters_lenient", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val f = if (id % 2 == 0) "ASCIIHexDecode" else "LZWDecode"
          val e = ExtractJob.extractTurn(Turn(id.toString, 0, "user",
            MiniPdf.synthesizeFilteredBase64(text, f), "pdf-b64-lenient", null))
          (id, e.extracted_text, e.payload_kind, e.error == null)
        })
        .toDF("doc_id", "extracted_text", "payload_kind", "ok")
    }, _ =>
      "SELECT doc_id, text AS extracted_text, 'pdf-lenient' AS payload_kind, true AS ok FROM documents ORDER BY doc_id"),
    // Encrypted METADATA end to end (round 5): R2/R3 documents RC4-encrypt
    // their Info strings (V1/V2 has no /StrF escape hatch), and the lenient
    // route decrypts them at the readInfo resolution point — the oracle is
    // the same plaintext projection q_pdf_info uses on unencrypted docs.
    Query("q_pdf_info_encrypted", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map { case (id, text) =>
          val r = if (id % 2 == 0) 2 else 3
          val info = Pdf.lenient(MiniPdf.synthesizeEncrypted(text, r)).readInfo
          (id, info.flatMap(_.title).orNull, info.flatMap(_.author).orNull,
            info.flatMap(_.creator).orNull)
        })
        .toDF("doc_id", "title", "author", "creator")
    }, _ =>
      "SELECT doc_id, substr(text, 1, 24) AS title, 'graft' AS author, 'minipdf' AS creator FROM documents ORDER BY doc_id"),
    // PASSWORDED documents end to end (round 5): each doc encrypts under a
    // doc_id-derived password (R3/RC4-128, V4/AES-128, or R6/AES-256), half
    // opened via the USER password, half via the OWNER password (legacy
    // Algorithm 7 /O recovery; V5 /O//OE branch) — text must round-trip
    // identically either way.
    Query("q_pdf_password_lenient", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map { case (id, text) =>
          val r = (id % 3) match { case 0 => 3; case 1 => 4; case _ => 6 }
          val user = s"user-$id".getBytes
          val owner = s"owner-$id".getBytes
          val pdf = MiniPdf.synthesizeEncrypted(text, r, userPwd = user, ownerPwd = owner)
          val opened = Pdf.lenient(pdf, if (id % 2 == 0) user else owner)
          (id, opened.extract(ExtractText), true)
        })
        .toDF("doc_id", "extracted_text", "ok")
    }, _ =>
      "SELECT doc_id, text AS extracted_text, true AS ok FROM documents ORDER BY doc_id"),
    // DCTDecode end to end (round 5): every doc becomes a PDF carrying a REAL
    // JPEG image XObject (JDK ImageIO encode) whose dict dims come from a pure
    // doc_id formula; the lenient image surface must re-derive the SAME dims
    // twice — from the XObject dictionary and from an actual DCT pixel decode
    // — while text extraction through the same document stays untouched.
    // Strict mode keeps the reference's DCTDecode panic (parity spec in
    // LenientSpec).
    // dict dims AND pixel-decoded dims both replay the doc_id formula; a JPEG
    // encode or DCT decode defect would break px_width/px_height equality
    Query("q_pdf_dct_lenient", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map { case (id, text) =>
          val w = (8 + id % 9).toInt
          val h = (8 + id % 7).toInt
          val jpeg = Multimodal.jpegGray(w, h,
            (x, y) => (((id * 13 + y.toLong * w + x) * 11) % 256).toInt)
          val pdf = Pdf.lenient(MiniPdf.synthesizeImagePdf(text, jpeg, w, h))
          val imgs = pdf.listImages
          val im = imgs.head
          (id, imgs.length, im.width, im.height, im.pxWidth, im.pxHeight,
            im.bitsPerComponent, im.colorSpace, pdf.extract(ExtractText))
        })
        .toDF("doc_id", "n_images", "img_width", "img_height", "px_width",
          "px_height", "bits", "colorspace", "extracted_text")
    }, _ =>
      ("SELECT doc_id, 1 AS n_images, CAST(8 + doc_id % 9 AS INT) AS img_width, " +
        "CAST(8 + doc_id % 7 AS INT) AS img_height, " +
        "CAST(8 + doc_id % 9 AS INT) AS px_width, " +
        "CAST(8 + doc_id % 7 AS INT) AS px_height, 8 AS bits, " +
        "'DeviceGray' AS colorspace, text AS extracted_text " +
        "FROM documents ORDER BY doc_id")),
    // LENIENT decryption end to end: every doc becomes an ENCRYPTED PDF
    // (standard security handler, empty user password; doc_id mod 4 picks
    // R2/RC4-40, R3/RC4-128, V4/AESV2 = AES-128-CBC, or V5/R6 = AES-256 with
    // SHA-2 key derivation) whose deflated content stream is ciphertext the
    // reference — and strict mode — cannot inflate; the lenient route derives
    // and VERIFIES the key (Algorithms 2-5 / 2.B) and must round-trip the
    // text.
    Query("q_pdf_encrypted_lenient", (s, dir) => {
      import s.implicits._
      // the documents table is one parquet split — repartition ahead of the
      // crypto-heavy per-row work (V5's Algorithm 2.B costs ~6ms/doc) so it
      // parallelizes instead of serializing into the single scan task; same
      // principle as the pipeline's salted repartition before extraction
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map { case (id, text) =>
          val r = (id % 4) match { case 0 => 2; case 1 => 3; case 2 => 4; case _ => 6 }
          val e = ExtractJob.extractTurn(Turn(id.toString, 0, "user",
            MiniPdf.synthesizeEncryptedBase64(text, r), "pdf-b64-lenient", null))
          (id, e.extracted_text, e.payload_kind, e.error == null)
        })
        .toDF("doc_id", "extracted_text", "payload_kind", "ok")
    }, _ =>
      "SELECT doc_id, text AS extracted_text, 'pdf-lenient' AS payload_kind, true AS ok FROM documents ORDER BY doc_id"),
    // LENIENT-TEXT operators end to end: every doc becomes a PDF whose content
    // stream shows 40-char lines via `'` / `"` move-shows after TL/Tw/Tz/Ts —
    // operators the reference (and strict mode) cannot execute; the
    // pdf-b64-lenient-text route must extract the chunks newline-joined.
    // 40-char slices, one `'`/`"` move-show per slice -> newline-joined; the
    // page trim eats any leading ' '/'\n' run of the whole output
    Query("q_pdf_textops_lenient", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val e = ExtractJob.extractTurn(Turn(id.toString, 0, "user",
            MiniPdf.synthesizeTextOpsBase64(text, 40), "pdf-b64-lenient-text", null))
          (id, e.extracted_text, e.payload_kind, e.error == null)
        })
        .toDF("doc_id", "extracted_text", "payload_kind", "ok")
    }, _ =>
      ("WITH c AS (SELECT doc_id, list_transform(" +
        "range(0, CAST(ceil(length(text) / 40.0) AS BIGINT)), " +
        "i -> substr(text, CAST(i * 40 + 1 AS INT), 40)) AS chunks FROM documents) " +
        "SELECT doc_id, regexp_replace(array_to_string(chunks, chr(10)), '^[ \\n]+', '') AS extracted_text, " +
        "'pdf-lenient-text' AS payload_kind, true AS ok FROM c ORDER BY doc_id")),
    Query("q_plain_identity", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val e = ExtractJob.extractTurn(Turn(id.toString, 0, "user", text, "plain", null))
          (id, e.extracted_text, e.error == null)
        })
        .toDF("doc_id", "extracted_text", "ok")
    }, _ =>
      "SELECT doc_id, text AS extracted_text, true AS ok FROM documents ORDER BY doc_id"),
    // ---- the transcript pipeline itself (north-rule flagship, full oracle) -----------
    // Per-turn output compared against the INDEPENDENTLY generated expectations:
    // SynthGen emits (payload, expected_text) pairs by construction (the golden is
    // authored by the generator, not by the extractor), written to a fixed path the
    // DuckDB oracle reads back via read_parquet — so every turn's extracted text is
    // value-checked end to end through scan -> salted repartition -> mapPartitions
    // extract -> sort.
    Query("q_extract_pipeline", (s, dir) => {
      val gen = SynthGen.generate(s, nConvs = 120, turnsPerConv = 5, longConvs = 2, longTurns = 300)
      // the dump is input-independent, but it lives under the same per-dir
      // root the rendered oracle SQL points at
      dump(dir, "pipeline_expected")(
        gen.toDF().select(col("conv_id"), col("turn_idx"), col("tool"), col("expected_text")))
      val extracted = ExtractJob.extract(SynthGen.turns(gen), partitions = 8)
      extracted.toDF()
        .select(col("conv_id"), col("turn_idx"), col("payload_kind"),
          col("extracted_text"), col("error").isNull.as("ok"))
    }, dir =>
      ("SELECT conv_id, turn_idx, CASE WHEN tool = 'pdf-b64' THEN 'pdf' ELSE tool END AS payload_kind, " +
        "expected_text AS extracted_text, true AS ok " +
        s"FROM read_parquet('${oraclePath(dir, "pipeline_expected")}/*.parquet') ORDER BY conv_id, turn_idx"))
  )
}
