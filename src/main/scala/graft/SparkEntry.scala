package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{ExtractChars, ExtractText, Pdf}
import graft.functions.TextFunctions
import graft.html.HtmlBoilerplate
import graft.operators.{Chunking, Dedup, Multimodal, Similarity, Temporal}
import graft.pipeline._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries run against the driver's parquet tables in `dir`
  * (region/nation/customer/supplier/part/orders/lineitem/events/documents/
  * embeddings). Each `queries` entry with an `oracleSql` twin is compared
  * byte-for-byte against DuckDB by the driver; entries without one get a weaker
  * rows-only check and are separately spec-gated in `sbt test`.
  *
  * Numeric discipline for oracle parity: aggregates over doubles go through
  * DECIMAL casts (bit-exact in any engine), then the FINAL projection casts
  * DECIMAL back to DOUBLE — decimal-to-double is correctly-rounded in both
  * engines, while raw DECIMAL output is hash-unstable in the driver's compare
  * (round-1 adjudication: 4 value-identical queries hash-mismatched on decimal
  * rendering alone). Float similarity queries emit ranks, not raw floats.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** State-store partition count for a STATEFUL streaming query, sized from
    * the (known) input volume: streaming state partitioning is pinned at
    * query start from `spark.sql.shuffle.partitions` (AQE never touches the
    * stateful exchange), and EVERY micro-batch then commits one state-store
    * delta file per partition — including the zero-row watermark-advance
    * batches AvailableNow appends. Probe-measured here: the 32-partition
    * default spent ~14 s of summed commit time per batch on a ~40k-row state,
    * and even the empty finalization batch cost ~1 s of pure store commits.
    * Sizing partitions to state volume (target rows per store, floor 1) is
    * the scale-correct rule, not a local[32] trick: the cap at the session's
    * configured width means a genuinely large stream keeps full parallelism,
    * while a small one stops paying per-partition commit overhead it cannot
    * use. (Production pipelines tune exactly this knob per stream for the
    * same reason; state partition count is also FROZEN into the checkpoint,
    * so it must be chosen per stream anyway.)
    */
  private def statePartitions(s: SparkSession, inputRows: Long,
      rowsPerStore: Long = 50000L): Int = {
    val configured = s.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(configured.toLong,
      (inputRows + rowsPerStore - 1) / rowsPerStore)).toInt
  }

  /** Run `f` with `spark.sql.shuffle.partitions` = n — the ONLY way Spark
    * exposes the state-store partition count (see [[statePartitions]]) —
    * restoring the session's configured value afterwards. The conf is read
    * once at streaming-query start, so only the stream started inside `f`
    * sees it; the lazily-consumed batch DataFrames callers return plan under
    * the restored session width.
    */
  private def withShufflePartitions[A](s: SparkSession, n: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try f finally s.conf.set(key, prev)
  }

  /** Planted-overlap corpus for the LOOSE-threshold near-dup oracles (round 6
    * — VERDICT r5 #1): pairwise Jaccard is known BY CONSTRUCTION, so DuckDB
    * gets an exact-Jaccard twin at the thresholds a production dedup actually
    * runs (0.8), not the exact-duplicate regime. 60 groups of 7 docs; group
    * `g`'s member at offset `d` holds the 29 words `w{g*1000+d} ..
    * w{g*1000+d+28}`, so two members at offsets d1<d2 share 27-(d2-d1) of
    * their 27 word 3-shingles: J = (27-d)/(27+d). The offset set
    * {0,1,2,3,4,6,9} plants word-shingle pairs at J = 13/14 (0.928), 25/29
    * (0.862), 24/30 (exactly 0.8 — the inclusive boundary), 23/31 (0.742,
    * excluded) on down. Word pools are 1000 apart so word-shingle overlap
    * across groups is zero (char n-grams do overlap across groups — their
    * oracle computes the exact cross-group Jaccard too). Deterministic pure
    * column expressions: both engines rebuild the identical corpus from
    * integer sequences, no external data.
    */
  private def plantedOverlapCorpus(s: SparkSession): DataFrame = {
    val offs = Seq(0, 1, 2, 3, 4, 6, 9)
    s.range(60).select(col("id").as("g"))
      .select(col("g"), posexplode(typedlit(offs)).as(Seq("idx", "off")))
      .select((col("g") * 7 + col("idx")).as("doc_id"),
        (col("g") * 1000 + col("off")).as("start"))
      .select(col("doc_id"), array_join(
        transform(sequence(lit(0), lit(28)),
          j => concat(lit("w"), (col("start") + j).cast("string"))), " ").as("text"))
  }

  /** Flagship: the full transcript-extraction pipeline on a seeded synthetic
    * corpus (north-rule shape) — returns per-payload-kind counts.
    */
  def entry(spark: SparkSession): DataFrame = {
    val gen = SynthGen.generate(spark, nConvs = 120, turnsPerConv = 5, longConvs = 2, longTurns = 300)
    val turns = SynthGen.turns(gen)
    val extracted = ExtractJob.extract(turns, partitions = 8)
    extracted.groupBy(col("payload_kind"))
      .agg(count(lit(1)).as("n_turns"),
        sum(length(col("extracted_text"))).as("n_chars"),
        sum(size(col("spans"))).as("n_spans"))
      .orderBy("payload_kind")
  }

  /** r9 NOTE — no presentational output sorts: the driver's hash compare
    * sorts rows before hashing (proven since the r6 q_pdf_chars swap and
    * re-verified against tools/oracle_check.py, which mirrors it), so a
    * trailing global orderBy bought nothing but a range-partitioning sample
    * job + exchange + sort per query — the guide's §2.4 "orderBy used only
    * to make output deterministic" accidental shuffle. Sorts that SELECT
    * rows (orderBy ... limit top-k) and window orderings are semantic and
    * stay.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction engine round-trips (the pdfrust-semantics core, end to end) --
    "q_pdf_roundtrip" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, Pdf(MiniPdf.synthesize(text)).extract(ExtractText))
        })
        .toDF("doc_id", "extracted_text")
    }),
    // CHARS-mode value check (round 6 — possible now that the chars format is
    // proven byte-exact against the reference binary, RefGoldenSpec): each doc
    // synthesizes to a single-Tj page, so the per-glyph diagnostic line is a
    // pure function of the character — same Type1/Helvetica font, same
    // (1, 0, 0, 1, 70, 50) matrix — and the oracle rebuilds every line from
    // the text alone (corpus is space+lowercase, so no Rust char escapes).
    "q_pdf_chars" -> ((s, dir) => {
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
    }),
    // Full span-array contract, driver-checked on MULTI-Tj pages: each doc is
    // synthesized with one Tj per 40-char slice, and every span row (op, start,
    // end) is exploded and value-checked against offsets the oracle re-derives
    // from the text alone. Extracted text equality is covered by q_pdf_roundtrip;
    // this pins the sidecar.
    "q_pdf_spans" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val r = Pdf(MiniPdf.synthesizeMultiTj(text, 40)).extractResult(ExtractText)
          r.spans.zipWithIndex.map { case (sp, i) =>
            (id, i, r.spans.length, sp.op, sp.start, sp.end)
          }
        }
        .toDF("doc_id", "span_idx", "n_spans", "span_op", "span_start", "span_end")
    }),
    // Multi-PAGE join semantics (the correctness heart's tree rule, previously
    // fixture-gated only): each doc becomes one page per 100-char slice; page
    // outputs join with "\n" and each page trims its leading ' '/'\n' run —
    // the oracle re-derives exactly that from the text.
    "q_pdf_multipage" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, Pdf(MiniPdf.synthesizeMultiPage(text, 100)).extract(ExtractText))
        })
        .toDF("doc_id", "extracted_text")
    }),
    "q_pdf_rawcontent" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, Pdf(MiniPdf.synthesize(text)).extract(graft.core.ExtractRawContent))
        })
        .toDF("doc_id", "raw_content")
    }),
    "q_pdf_info" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val info = Pdf(MiniPdf.synthesize(text)).readInfo
          (id, info.flatMap(_.title).orNull, info.flatMap(_.author).orNull,
            info.flatMap(_.creator).orNull)
        })
        .toDF("doc_id", "title", "author", "creator")
    }),
    "q_html_strip" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, HtmlBoilerplate.extract(SynthGen.wrapHtml(text)).text)
        })
        .toDF("doc_id", "extracted_text")
    }),
    // LENIENT engine extension, end to end through the pipeline's
    // pdf-b64-lenient route: every doc becomes a PDF 1.5-shaped payload
    // (xref STREAM + PNG-Up predictor) that the reference — and our strict
    // mode — cannot open, and must still round-trip exactly.
    "q_pdf_lenient_roundtrip" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val e = ExtractJob.extractTurn(Turn(id.toString, 0, "user",
            MiniPdf.synthesizeXrefStreamBase64(text), "pdf-b64-lenient", null))
          (id, e.extracted_text, e.payload_kind, e.error == null)
        })
        .toDF("doc_id", "extracted_text", "payload_kind", "ok")
    }),
    // LENIENT filter extension end to end: every doc becomes a classic-xref PDF
    // whose CONTENT STREAM is ASCIIHexDecode- (even ids) or LZWDecode-encoded
    // (odd ids) — filter names the reference (and strict mode) panics on
    // (body.rs:42-54) — routed through pdf-b64-lenient; the text must round-trip
    // exactly and the LZW path exercises real 9->10-bit code-width growth on
    // longer docs.
    "q_pdf_filters_lenient" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val f = if (id % 2 == 0) "ASCIIHexDecode" else "LZWDecode"
          val e = ExtractJob.extractTurn(Turn(id.toString, 0, "user",
            MiniPdf.synthesizeFilteredBase64(text, f), "pdf-b64-lenient", null))
          (id, e.extracted_text, e.payload_kind, e.error == null)
        })
        .toDF("doc_id", "extracted_text", "payload_kind", "ok")
    }),
    // Encrypted METADATA end to end (round 5): R2/R3 documents RC4-encrypt
    // their Info strings (V1/V2 has no /StrF escape hatch), and the lenient
    // route decrypts them at the readInfo resolution point — the oracle is
    // the same plaintext projection q_pdf_info uses on unencrypted docs.
    "q_pdf_info_encrypted" -> ((s, dir) => {
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
    }),
    // PASSWORDED documents end to end (round 5): each doc encrypts under a
    // doc_id-derived password (R3/RC4-128, V4/AES-128, or R6/AES-256), half
    // opened via the USER password, half via the OWNER password (legacy
    // Algorithm 7 /O recovery; V5 /O//OE branch) — text must round-trip
    // identically either way.
    "q_pdf_password_lenient" -> ((s, dir) => {
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
    }),
    // DCTDecode end to end (round 5): every doc becomes a PDF carrying a REAL
    // JPEG image XObject (JDK ImageIO encode) whose dict dims come from a pure
    // doc_id formula; the lenient image surface must re-derive the SAME dims
    // twice — from the XObject dictionary and from an actual DCT pixel decode
    // — while text extraction through the same document stays untouched.
    // Strict mode keeps the reference's DCTDecode panic (parity spec in
    // LenientSpec).
    "q_pdf_dct_lenient" -> ((s, dir) => {
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
    }),
    // LENIENT decryption end to end: every doc becomes an ENCRYPTED PDF
    // (standard security handler, empty user password; doc_id mod 4 picks
    // R2/RC4-40, R3/RC4-128, V4/AESV2 = AES-128-CBC, or V5/R6 = AES-256 with
    // SHA-2 key derivation) whose deflated content stream is ciphertext the
    // reference — and strict mode — cannot inflate; the lenient route derives
    // and VERIFIES the key (Algorithms 2-5 / 2.B) and must round-trip the
    // text.
    "q_pdf_encrypted_lenient" -> ((s, dir) => {
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
    }),
    // LENIENT-TEXT operators end to end: every doc becomes a PDF whose content
    // stream shows 40-char lines via `'` / `"` move-shows after TL/Tw/Tz/Ts —
    // operators the reference (and strict mode) cannot execute; the
    // pdf-b64-lenient-text route must extract the chunks newline-joined.
    "q_pdf_textops_lenient" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val e = ExtractJob.extractTurn(Turn(id.toString, 0, "user",
            MiniPdf.synthesizeTextOpsBase64(text, 40), "pdf-b64-lenient-text", null))
          (id, e.extracted_text, e.payload_kind, e.error == null)
        })
        .toDF("doc_id", "extracted_text", "payload_kind", "ok")
    }),
    "q_plain_identity" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val e = ExtractJob.extractTurn(Turn(id.toString, 0, "user", text, "plain", null))
          (id, e.extracted_text, e.error == null)
        })
        .toDF("doc_id", "extracted_text", "ok")
    }),

    // ---- text analysis -----------------------------------------------------------
    "q_token_count" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.bpeTokenEstimate(col("text")).as("bpe_tokens"),
        length(col("text")).as("n_chars_obs"))
    }),
    "q_quality_counts" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.nAlpha(col("text")).as("n_alpha"),
        TextFunctions.nDigit(col("text")).as("n_digit"),
        TextFunctions.nPunct(col("text")).as("n_punct"),
        TextFunctions.nStopwords(col("text")).as("n_stop"))
    }),
    "q_lang_id" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) => (id, TextFunctions.langId(text)) })
        .toDF("doc_id", "lang_pred")
    }),
    "q_fingerprint" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, TextFunctions.fnv1a64(text), TextFunctions.rollingMinHash(text))
        })
        .toDF("doc_id", "fnv64", "rolling_min")
    }),

    // PII redaction over planted URL/email/phone tokens (the corpus itself is
    // clean prose, so the fixtures are injected deterministically per doc).
    "q_redact_pii" -> ((s, dir) => {
      val injected = concat(col("text"),
        lit(" contact user@example.com via https://example.com/a?b=1 or +12025550000"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.redactPii(injected).as("redacted"))
    }),
    // Gopher-style repetition metrics as INTEGER counts (exactly reproducible):
    // planted duplication — each doc becomes (text \n text \n unique tail).
    "q_repetition_counts" -> ((s, dir) => {
      val tripled = concat_ws("\n", col("text"), col("text"), lit("unique tail line"))
      val (nw, ndw) = TextFunctions.wordCounts(tripled)
      val (nl, ndl) = TextFunctions.lineCounts(tripled)
      t(s, dir, "documents")
        .select(col("doc_id"), nw.as("n_words"), ndw.as("n_distinct_words"),
          nl.as("n_lines"), ndl.as("n_distinct_lines"))
    }),
    // Format sniffing + auto-routing: unlabeled payloads (plain / HTML / base64
    // PDF by doc_id % 3) flow through the pipeline's "auto" tool and must both
    // classify correctly and round-trip the text. The plain-branch payload is
    // sanitized ("t " prefix kills the %PDF-/JVBERi0 magics, '<'->'(' kills
    // any tag match) so its sniff class is guaranteed BY CONSTRUCTION on any
    // corpus — the oracle's expected kind then never depends on whether a
    // document happens to contain '<p>' or start with a PDF magic (the html
    // and pdf branches are construction-guaranteed already).
    "q_sniff_route" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val payload = (id % 3) match {
            case 0 => "t " + text.replace('<', '(')
            case 1 => SynthGen.wrapHtml(text)
            case _ => MiniPdf.synthesizeBase64(text)
          }
          val e = ExtractJob.extractTurn(Turn(id.toString, 0, "user", payload, "auto", null))
          (id, e.payload_kind, e.extracted_text, e.error == null)
        })
        .toDF("doc_id", "payload_kind", "extracted_text", "ok")
    }),

    // The COMPOSED curation pass a 100TB training-data pipeline actually runs:
    // exact-dedup keeper selection -> language filter -> minimum-length gate ->
    // PII redaction, value-checked end to end as one plan.
    "q_curation_pipeline" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dupes = docs.union(docs.select(col("doc_id") + 10000, col("text")))
      val keepers = Dedup.exact(dupes, "text", "doc_id")
        .select(col("keeper_id").as("doc_id"))
      dupes.join(keepers, "doc_id")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .filter { case (_, text) => TextFunctions.langId(text) == "en" }
        .toDF("doc_id", "text")
        .where(TextFunctions.wordCounts(col("text"))._1 >= 5)
        .select(col("doc_id"), TextFunctions.redactPii(col("text")).as("redacted"))
    }),

    // The round-4 composed curation pass, ONE plan end to end: minhash pairs ->
    // connected-component clustering -> keeper = cluster minimum -> test-set
    // decontamination (broadcast probe) -> deterministic hash sample -> token
    // counts. This is the keeper-graph + decontaminate + reproducible-sample
    // shape a production curation rerun needs (a resumed run re-derives the
    // SAME final corpus).
    "q_curation_v2" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dupes = docs.union(docs.select(col("doc_id") + 10000, col("text")))
      val pairs = Dedup.minhashNearDups(dupes, "text", "doc_id",
        threshold = 0.999, maxBucket = 30000)
      val cl = Dedup.clusters(pairs)
      // every doc has a planted twin, so every id appears in a cluster;
      // keeper = the member that IS the cluster minimum
      // keepers feed both the decontamination probe and the clean join —
      // checkpoint so the dupes-join-clusters chain runs once (guide §5)
      val keepers = dupes.join(cl, dupes("doc_id") === cl("id"))
        .where(col("doc_id") === col("cluster_id"))
        .select(col("doc_id"), col("text"))
        .localCheckpoint(eager = false)
      val bench = docs.where(col("doc_id") < 5).select(col("text"))
      val flags = Dedup.decontaminate(keepers, "text", "doc_id", bench, "text", k = 8)
      val clean = keepers.join(flags, "doc_id").where(col("n_contaminated") === 0)
      graft.operators.Sampling.bernoulli(clean, "doc_id", 0.5)
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"))
    }),

    // CURATION v3 (round 7, composed): the continuation-session operators
    // chained the way a real pipeline runs them — Gopher rule battery
    // (minWords=40 so the 30-99-token corpus splits both ways) -> target-mix
    // rebalance of the SURVIVORS to a uniform language mix (per-domain counts
    // over the filtered corpus; bounded collect) -> deterministic 90/5/5
    // split assignment, all decisions salted independently (17 / 23).
    "q_curation_v3" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
      // rebalance runs a per-domain count job over its input before the main
      // pass — checkpoint so the Gopher battery + join run once (r9)
      val kept = docs.join(
        graft.operators.Quality.gopherQuality(docs, "text", "doc_id", minWords = 40)
          .where(col("keep")).select("doc_id"),
        "doc_id")
        .localCheckpoint(eager = false)
      val balanced = graft.operators.Sampling.rebalance(kept, "doc_id", "lang",
        Map("en" -> 0.2, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.2),
        salt = 17L).where(col("keep"))
      graft.operators.Sampling.splitAssign(balanced, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = 23L)
        .select(col("doc_id"), col("lang"), col("split"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
    }),

    // TRAINING-MIX builder (round 5, composed, ONE plan): exact-dedup keeper
    // -> INTEGER quality score (2*n_alpha + 10*n_stop - n_punct, exact column
    // exprs) -> per-source top-5 via the custom bounded TopKPairs aggregate
    // (no per-key window, no collect_list) -> token counts + per-source
    // cumulative token budget over the tiny exploded result. The shape every
    // data-mixture pipeline runs: best-N-per-source under a token budget.
    "q_training_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // the keeper stage below re-joins `documents` (the SQL twin's kd CTE does
      // the same), which is only equivalent to joining the union if no planted
      // id collides with a real one — pin the generator's doc_id < 10000
      // contract with a LOAD-BEARING per-row guard (it computes the offset, so
      // column pruning cannot silently drop it; a collision fails loudly)
      val guardedOffset = when(col("doc_id") < 10000, lit(10000L))
        .otherwise(raise_error(lit(
          "q_training_mix planted-dupe contract violated: generator doc_id >= 10000")))
      val dupes = docs.union(docs.select(col("doc_id") + guardedOffset, col("text")))
      val keepers = Dedup.exact(dupes, "text", "doc_id")
        .join(dupes, col("keeper_id") === col("doc_id"))
        .select(col("doc_id"), col("text"))
      val scored = keepers.select(col("doc_id"), col("text"),
        (col("doc_id") % 7).cast("int").as("source"),
        (TextFunctions.nAlpha(col("text")) * 2 + TextFunctions.nStopwords(col("text")) * 10
          - TextFunctions.nPunct(col("text"))).cast("int").as("score"))
      val top = scored.groupBy(col("source"))
        .agg(graft.functions.TopK.topK(col("score"), col("doc_id"), 5).as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("doc_id"), col("col.score").cast("int").as("score"))
      val wCum = Window.partitionBy(col("source")).orderBy(col("rank"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.join(docs, "doc_id")
        .select(col("source"), col("rank"), col("doc_id"), col("score"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(wCum))
    }),

    // ---- deduplication -------------------------------------------------------------
    "q_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dupes = docs.union(docs.select(col("doc_id") + 10000, col("text")))
      Dedup.exact(dupes, "text", "doc_id")
    }),
    // C4-style span dedup, token-segment analog: an 8-token segment occurring
    // in >= 2 distinct documents keeps only its globally-first occurrence
    // (min (doc_id, seg_idx)); documents reassemble from surviving segments.
    // The sf corpus carries ~150 naturally-repeated segments at this width.
    "q_dedup_segments" -> ((s, dir) => {
      Dedup.dedupSegments(t(s, dir, "documents"), "text", "doc_id", segTokens = 8, minDocs = 2)
    }),
    // Near-dup queries run at exact-duplicate thresholds so a SQL oracle exists
    // (expected pairs = identical-shingle-set / identical-simhash pairs, incl.
    // the planted +10000 copies); the loose-threshold near-dup behavior is
    // spec-gated in OperatorsSpec against brute force. maxBucket is raised well
    // above any duplicate family in the corpus so cap truncation can never drop
    // an oracle-expected pair (production keeps the default cap with observable
    // truncation).
    "q_minhash_near_dup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dupes = docs.union(docs.select(col("doc_id") + 10000, col("text")))
      Dedup.minhashNearDups(dupes, "text", "doc_id", threshold = 0.999, maxBucket = 10000)
        .select(col("id_a"), col("id_b"))
    }),
    "q_simhash_near_dup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dupes = docs.union(docs.select(col("doc_id") + 10000, col("text")))
      Dedup.simhashNearDups(dupes, "text", "doc_id", maxHamming = 0, maxBucket = 10000)
        .select(col("id_a"), col("id_b"))
    }),
    "q_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dupes = docs.union(docs.select(col("doc_id") + 10000, col("text")))
      // sketch prefilter is EXACT here: at <= ~573 shingles/doc, J >= 0.999
      // means set equality, which implies bottom-m sketch equality (same
      // corpus-size argument the oracle already relies on)
      Dedup.ngramJaccardNearDups(dupes, "text", "doc_id", threshold = 0.999,
        maxBucket = 10000, sketchEqualityPrefilter = true)
        .select(col("id_a"), col("id_b"))
    }),

    // LOOSE-THRESHOLD near-dup value checks (round 6 — VERDICT r5 #1): the
    // banding + exact-verify path at threshold 0.8 over the planted-overlap
    // corpus (see plantedOverlapCorpus), with maxBucket at the PRODUCTION
    // default. The oracle is an exact-Jaccard twin over the unnested shingle
    // strings — fully independent of the minhash/sketch machinery, covering
    // every pair (not just banding candidates), so it also proves the banding
    // misses nothing above the threshold. nPerm=128/bands=32 keeps the
    // per-pair banding miss probability below 5e-8 at J=0.8 (1-(1-J^4)^32;
    // deterministic given the texts — verified green), production-plausible
    // signature parameters. The jaccard column rides into the compare: both
    // engines divide the same exact integers, IEEE-identical doubles.
    "q_minhash_loose" -> ((s, dir) => {
      Dedup.minhashNearDups(plantedOverlapCorpus(s), "text", "doc_id",
        shingleK = 3, nPerm = 128, bands = 32, threshold = 0.8)
    }),
    // Same regime for the banded bottom-m sketch path: char-5-gram Jaccard at
    // 0.8 (values fall where the word construction puts them — the oracle
    // computes the exact char-gram Jaccard per pair, including the nonzero
    // cross-group overlap from shared digit patterns). bands=10/bandSize=2
    // bounds the per-pair candidate miss at (1-J^2)^10 <= 4e-5 for J >= 0.8.
    "q_ngram_loose" -> ((s, dir) => {
      Dedup.ngramJaccardNearDups(plantedOverlapCorpus(s), "text", "doc_id",
        k = 5, bands = 10, bandSize = 2, threshold = 0.8)
    }),
    // INCREMENTAL dedup (the nightly-crawl shape): offsets {0,1,2,3} of each
    // planted group are the fingerprinted corpus (minhashIndex — stored, text
    // never re-read), offsets {4,6,9} arrive as the new slice and probe it.
    // Matches per group: new off 4 vs corpus 1/2/3 (J = 26/32, 27/31, 28/30)
    // and off 6 vs 3 (26/32); off 9 is a planted true negative (min delta 6,
    // J = 23/35 < 0.8). The oracle computes exact Jaccard for EVERY
    // (new, corpus) pair independently of the hashing, so it also proves the
    // index probe missed no pair above the threshold.
    "q_dedup_incremental" -> ((s, dir) => {
      val all = plantedOverlapCorpus(s)
      val corpus = all.where(col("doc_id") % 7 < 4)
      val fresh = all.where(col("doc_id") % 7 >= 4)
      val index = Dedup.minhashIndex(corpus, "text", "doc_id")
      Dedup.minhashProbe(fresh, index, corpus, "text", "doc_id", threshold = 0.8)
    }),

    // Keeper selection over the pair graph: cluster the minhash near-dup pairs
    // of a TRIPLED corpus (planted 3-member duplicate families) into connected
    // components; cluster_id = min id. The oracle re-derives components as
    // shingle-set equality classes (equality is transitive, so components ==
    // classes) — value-checks clusters end to end through pair generation.
    "q_dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val trip = docs.union(docs.select(col("doc_id") + 10000, col("text")))
        .union(docs.select(col("doc_id") + 20000, col("text")))
      val pairs = Dedup.minhashNearDups(trip, "text", "doc_id",
        threshold = 0.999, maxBucket = 30000)
      Dedup.clusters(pairs)
    }),

    // Deterministic stratified sampling over events: per-event-type fractions,
    // decision = a pure hash-threshold column expr — identical on any engine,
    // layout, or rerun (the oracle replays the same arithmetic in SQL).
    "q_sample_stratified" -> ((s, dir) => {
      graft.operators.Sampling.stratified(t(s, dir, "events"), "event_id", "event_type",
        Map("purchase" -> 1.0, "click" -> 0.25, "view" -> 0.05), default = 0.1)
        .select(col("event_id"), col("event_type"), col("user_id"))
    }),
    // WEIGHTED (importance) sampling (round 5): keep probability = the doc's
    // alpha-character density — quality-proportional retention, the mixture
    // staple. Same deterministic id-hash draw; the per-row threshold is an
    // IEEE double product + half-away round, identical in both engines.
    "q_sample_weighted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val w = TextFunctions.nAlpha(col("text")).cast("double") /
        (length(col("text")).cast("double") + 1.0)
      graft.operators.Sampling.weighted(docs, "doc_id", w)
        .select(col("doc_id"))
    }),

    // Test-set decontamination: docs 0-4 ARE the "benchmark", so they (and any
    // doc sharing an 8-word shingle with them) must report contamination; the
    // big side is a broadcast-probe narrow map — no shuffle (spec-gated).
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") < 5).select(col("text"))
      Dedup.decontaminate(docs, "text", "doc_id", bench, "text", k = 8)
    }),

    // Unigram-surprisal quality scoring: the corpus IS the language model —
    // integer bit-length surprisal (no floating log), vocab = top-256 words,
    // OOV costs one bit more than the rarest possible in-vocab word. Two
    // map-side-combined shuffles + a bounded top-V + broadcast joins.
    "q_surprisal" -> ((s, dir) => {
      graft.operators.Quality.unigramSurprisal(
        t(s, dir, "documents"), "text", "doc_id", vocabSize = 256)
    }),
    // Gopher duplicate-n-gram metrics: top-2/3-gram char mass + overlap-once
    // duplicated-5-gram coverage. 349/500 sf docs carry natural duplicate
    // bigrams but none a duplicate 5-gram, so the input plants doubled docs
    // (text || ' ' || text, +10000 ids — the q_dedup_exact pattern) whose
    // every 5-gram repeats, exercising the coverage-union path.
    "q_gopher_repetition" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.union(docs.select(col("doc_id") + 10000,
        concat(col("text"), lit(" "), col("text")).as("text")))
      graft.operators.Quality.gopherRepetition(planted, "text", "doc_id")
    }),
    // Maximal duplicated runs (Lee et al. exact-substring dedup, segment-
    // quantized): doubled docs duplicate every FULL segment of their
    // original, so each original emits one run covering its full-segment
    // prefix; the ~150 naturally repeated sf segments add shorter runs.
    "q_duplicate_runs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.union(docs.select(col("doc_id") + 10000,
        concat(col("text"), lit(" "), col("text")).as("text")))
      graft.operators.Dedup.duplicateRuns(planted, "text", "doc_id", segTokens = 8)
    }),
    // Winnowing (MOSS) cross-doc overlap — the byte-level fourth near-dup
    // family: shared window-min fingerprints, containment |A∩B|/min(|A|,|B|).
    // Doubled docs (+10000 ids) contain every fingerprint of their single
    // original, so each planted pair scores exactly 1.0; the ~30-word sf
    // vocabulary makes many 8-byte grams corpus-common, which is exactly what
    // the maxDf=50 stop-fingerprint drop (the scale bound) is for — random
    // pairs sit at overlap p99 ≈ 0.23, planted pairs survive at 1.0.
    "q_winnow_near_dup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.union(docs.select(col("doc_id") + 10000,
        concat(col("text"), lit(" "), col("text")).as("text")))
      graft.operators.Dedup.winnowNearDups(planted, "text", "doc_id",
        k = 8, w = 4, maxDf = 50, minOverlap = 0.9)
    }),
    // Incremental winnow probe — the nightly-crawl shape for the winnowing
    // family: the corpus index alone screens a new slice (doubled first-50
    // docs), stop-fp rule from CORPUS df only, containment over rare sets,
    // NO text re-read. Planted slice docs contain their originals ->
    // containment exactly 1.0.
    "q_winnow_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val slice = docs.where(col("doc_id") < 50)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" "), col("text")).as("text"))
      // the probe consumes the index from four subtrees (stop guard, stop
      // aggregate behind two broadcasts, the rare anti join) — in production
      // it is a STORED table; materialize the in-query stand-in once (r9)
      val index = graft.operators.Dedup.winnowIndex(docs, "text", "doc_id")
        .localCheckpoint(eager = false)
      graft.operators.Dedup.winnowProbe(slice, index, "text", "doc_id",
        maxDf = 50, minOverlap = 0.9)
    }),
    // Vocabulary tokenization: words -> integer ids against the corpus's own
    // top-16 vocab (id = rank in the total (count desc, word asc) order,
    // OOV = one past the vocab) — vocabSize 16 so the sf corpus's ~30-word
    // vocabulary actually produces OOV ids; the lookup is a literal-map
    // expression, join-free and explode-free on the corpus side. The dump
    // projects the id array to a space-joined STRING (house rule: no ARRAY
    // columns in driver dumps — the driver's pandas compare can't sort/hash
    // them); same value coverage, any rank/OOV/sequence defect still breaks
    // the hash.
    "q_tokenize_vocab" -> ((s, dir) => {
      graft.operators.Quality.tokenizeWithVocab(
        t(s, dir, "documents"), "text", "doc_id", vocabSize = 16)
        .select(col("doc_id"),
          array_join(transform(col("token_ids"), i => i.cast("string")), " ")
            .as("token_ids_s"),
          col("n_tokens"), col("n_oov"))
    }),
    // Model-based quality filtering (fastText-style linear classifier
    // INFERENCE): hashed bag-of-words (FNV-1a 64 mod 4096) against a
    // deterministic fixed-point weight table (the trained artifact — here a
    // pseudo-random milli-weight per bucket so both engines rebuild it),
    // integer score sum + bias, keep = score >= 0. Exercises hashing, the
    // broadcast weight join, and the per-doc rollup with an exact oracle.
    "q_quality_classifier" -> ((s, dir) => {
      val weights = s.range(4096).select(col("id").cast("int").as("bucket"),
        ((col("id") * 2654435761L) % 4097L - 2048L).as("w_milli"))
      graft.operators.Quality.classifierScore(
        t(s, dir, "documents"), "text", "doc_id", weights, dim = 4096,
        biasMilli = 100L, thresholdMilli = 0L)
    }),
    // Gopher §A1.1 quality-rule battery — integer metrics + per-rule booleans
    // + conjunction, one codegen'd pass. The sf corpus varies the word-count
    // rule (30-99 tokens vs minWords=50), the mean-word-length boundaries,
    // and the stop-word rule ('the'/'a' live in the ~30-word vocab).
    "q_gopher_quality" -> ((s, dir) => {
      graft.operators.Quality.gopherQuality(t(s, dir, "documents"), "text", "doc_id")
    }),
    // Per-doc top-3 keywords by integer tf·idf (idf = surprisal-style
    // bit-length of N/df) — rank cut by the total order (score desc, word asc).
    "q_tfidf_keywords" -> ((s, dir) => {
      graft.operators.Quality.tfidfKeywords(t(s, dir, "documents"), "text", "doc_id", topK = 3)
    }),
    // BPE training step as corpus statistics: frequency-weighted adjacent
    // character pairs over the distinct-word table, ranked by the total order
    // (count desc, lhs asc, rhs asc) — the table whose argmax is the first
    // merge (Sennrich et al. 2016). The iterative trainer (Quality.bpeTrain)
    // is spec-gated against an independent re-derivation; SQL can replay one
    // counting round, not a merge loop.
    "q_bpe_pairs" -> ((s, dir) => {
      graft.operators.Quality.bpePairStats(t(s, dir, "documents"), "text", topN = 32)
    }),
    // BPE END-TO-END (VERDICT r7 #4): train 24 merges on the corpus ->
    // segment every doc into subwords (applyBpe: broadcast merge list, narrow
    // map) -> assign ids through the BROADCAST-JOIN vocab table
    // (tokenizeWithVocabTable — the beyond-64k-literal-cap variant: base
    // chars + the first 20 merge symbols + 70k filler rows = a vocab the
    // literal-map variant must refuse; merges 20..23 still APPLY, so their
    // symbols are deterministic OOV) -> deterministic shuffle + sequence
    // packing (seed 7, 8 shards, capacity 256). The twin replays the whole
    // chain from the dumped merge table: greedy merge application via a
    // recursive CTE over chr(1)-delimited symbol strings (replace() scans
    // left-to-right non-overlapping — exactly mergeGreedy on delimited
    // symbols), the same vocab construction, the same salted-hash packing.
    "q_tokenize_bpe" -> ((s, dir) => {
      import s.implicits._
      tagOracle(dir)
      val docs = t(s, dir, "documents")
      val (mergesDf, trainWords) =
        graft.operators.Quality.bpeTrainWithWords(docs, "text", nMerges = 24)
      if (oracleDumpsEnabled)
        mergesDf.coalesce(1).write.mode("overwrite").parquet(BpeMergesPath)
      val mergeRows = mergesDf.orderBy("merge_idx").collect() // bounded: <= nMerges rows
      val mergeList = mergeRows.map(r => (r.getString(1), r.getString(2))).toSeq
      // Base alphabet WITHOUT its own corpus scan (r9): the trainer already
      // collected the distinct-word table to the driver (bounded guard), and
      // chars-of-words == non-whitespace chars of lower(trim(text)) — split
      // on \s+ removes exactly the maximal \s runs (a leading empty token is
      // length-filtered), the equivalence the old char-explode scan relied
      // on too. Distinct code points of the collected words ARE the
      // alphabet; the distributed distinct runs only when the word table
      // blew the driver guard (then a second pass is the price of scale).
      // Same id rule exactly: tid = 0-based rank in ascending UTF-8 BINARY
      // order (what Spark's row_number over orderBy(string asc) assigned).
      val baseChars: Array[String] = trainWords match {
        case Some(words) =>
          val set = scala.collection.mutable.HashSet.empty[String]
          words.foreach { case (w, _) =>
            var i = 0
            while (i < w.length) {
              val cp = w.codePointAt(i)
              set += new String(Character.toChars(cp))
              i += Character.charCount(cp)
            }
          }
          set.toArray
        case None => docs
          .select(explode(split(lower(trim($"text")), "")).as("c"))
          .where(length($"c") > 0 && !$"c".rlike("^\\s$"))
          .distinct().as[String].collect()
      }
      require(baseChars.length <= 65536,
        s"q_tokenize_bpe base alphabet of ${baseChars.length} chars breaks the bounded-collect contract")
      def utf8Lt(a: String, b: String): Boolean = {
        val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        val n = math.min(x.length, y.length)
        while (i < n) {
          val d = (x(i) & 0xff) - (y(i) & 0xff)
          if (d != 0) return d < 0
          i += 1
        }
        x.length < y.length
      }
      val baseSorted = baseChars.sortWith(utf8Lt)
      val nBase = baseSorted.length
      val baseSeq = baseSorted.toSeq.zipWithIndex
      val mergedSeq = mergeRows.take(20).zipWithIndex
        .map { case (r, i) => (r.getString(1) + r.getString(2), nBase + i) }.toSeq
      val known = (baseSeq ++ mergedSeq).map(_._1).toSet
      val fillerSeq = (0 until 70000) // the old left_anti against base+merged
        .map(i => (f"sub_$i%06d", i + nBase + 20))
        .filterNot { case (w, _) => known.contains(w) }
      // checkpoint the 70k-row LOCAL relation: each of the operator's two
      // guard-probe jobs (and the broadcast build) would otherwise
      // re-serialize the whole local table from the driver per job
      val vocab = (baseSeq ++ mergedSeq ++ fillerSeq).toDF("word", "tid")
        .localCheckpoint(eager = false)
      // applyBpe's output is consumed twice inside tokenizeWithVocabTable
      // (the token posexplode branch and the per-doc left-join spine) —
      // materialize the narrow merge map once (VERDICT r8 #5; guide §5)
      val toks = graft.operators.Quality.applyBpe(docs, "text", "doc_id", mergeList)
        .localCheckpoint(eager = false) // lazy: rides the first consumer's job
      val ids = graft.operators.Quality.tokenizeWithVocabTable(
        toks, "doc_id", $"subwords", vocab, oovId = 999999)
        .select($"doc_id",
          array_join(transform($"token_ids", i => i.cast("string")), " ").as("token_ids_s"),
          $"n_tokens", $"n_oov")
      val sharded = Chunking.deterministicShuffle(ids, "doc_id", seed = 7L, nShards = 8)
        .withColumn("chunk_idx", lit(0))
      Chunking.packSequences(sharded, "doc_id", "chunk_idx", "n_tokens", capacity = 256)
        .select($"doc_id", $"token_ids_s", $"n_tokens", $"n_oov", $"shard",
          $"pos", $"tokens_before", $"seq_id")
    }),
    // Bigram surprisal with unigram backoff — the next LM rung above
    // q_surprisal, all-integer (bigram cost = bitlen(c(prev) DIV c(prev,w)),
    // backoff = unigram bits + 1 penalty, first tokens penalty-free).
    "q_bigram_surprisal" -> ((s, dir) => {
      graft.operators.Quality.bigramSurprisal(t(s, dir, "documents"), "text", "doc_id")
    }),
    // CCNet-style perplexity bucketing composed from verified pieces:
    // surprisal -> integer milli-bits/token -> exact corpus terciles (the
    // histogram rank rule) -> head/middle/tail label -> deterministic
    // per-bucket keep (two-round salted hash; head 1.0 / middle 0.5 /
    // tail 0.1).
    "q_perplexity_buckets" -> ((s, dir) => {
      graft.operators.Quality.perplexityBuckets(
        t(s, dir, "documents"), "text", "doc_id", vocabSize = 256)
    }),
    // Deterministic 80/10/10 split assignment — the reproducible form of
    // randomSplit(): label is a pure function of (doc_id, salt), salted so the
    // split decorrelates from the sampling draws on the same ids.
    "q_split_assign" -> ((s, dir) => {
      graft.operators.Sampling.splitAssign(
        t(s, dir, "documents"),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = 7L)
        .select(col("doc_id"), col("split"))
    }),
    // Target-mix rebalancing toward a uniform language mix: the sf corpus is
    // en-heavy (218/500 at sf0.01), so 'en' thins to share*total/available
    // ≈ 0.46 while the minority languages cap at keep_frac 1.0 — both branches
    // of the min() exercised. keep is a pure (doc_id, salt=13) function; the
    // corpus pass is one codegen'd CASE, the only extra job is the per-domain
    // count (bounded collect, loud guard).
    "q_domain_mix" -> ((s, dir) => {
      graft.operators.Sampling.rebalance(
        t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.2, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.2),
        salt = 13L)
        .select(col("doc_id"), col("lang"), col("keep_frac"), col("keep"))
    }),

    // ---- chunking, deterministic shuffle, sequence packing --------------------------
    // Fixed-size overlapping token windows — the preprocessing cut between
    // curation and packing. Wholly codegen'd column math (split -> chunk-count
    // arithmetic -> posexplode -> slice), NARROW: chunking happens inside the
    // scan stage, no shuffle, no UDF.
    // r9: no output sort OR exchange at all — the driver's hash compare is
    // order-normalized (the q_pdf_chars r6 lesson taken to its end), so the
    // chunk table stays entirely inside the scan stage.
    "q_chunk_docs" -> ((s, dir) => {
      Chunking.chunkDocs(t(s, dir, "documents"), "text", "doc_id", maxTokens = 64, overlap = 8)
    }),
    // chunk -> deterministic corpus shuffle (pos = pure hash of doc_id+seed, so
    // a rerun/resume lands the SAME training order regardless of layout) ->
    // shard-local concat-then-split packing at a 256-token capacity. The only
    // shuffle is the hash exchange on `shard` that materializing the training
    // order needs anyway; the window cumsum is per-shard, never global.
    "q_pack_sequences" -> ((s, dir) => {
      val chunks = Chunking.chunkDocs(t(s, dir, "documents"), "text", "doc_id", 64, 8)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"))
      val sharded = Chunking.deterministicShuffle(chunks, "doc_id", seed = 42L, nShards = 8)
      Chunking.packSequences(sharded, "doc_id", "chunk_idx", "n_tokens", capacity = 256)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"), col("shard"),
          col("pos"), col("tokens_before"), col("seq_id"))
    }),

    // Chat-template rendering + per-turn loss-mask offsets: the SFT step
    // between extraction and tokenization. Turns derive deterministically
    // from the documents table (conv = doc_id/10, turn = doc_id%10, role
    // cycles system/user/assistant), so the twin replays from the same
    // parquet with no side dump; doc_md5 pins the rendered text, the
    // offsets pin the sidecar alignment.
    "q_render_chat" -> ((s, dir) => {
      val turns = t(s, dir, "documents").select(
        floor(col("doc_id") / 10).cast("long").as("conv_id"),
        (col("doc_id") % 10).cast("int").as("turn_idx"),
        when(col("doc_id") % 3 === 0, "system")
          .when(col("doc_id") % 3 === 1, "user")
          .otherwise("assistant").as("role"),
        col("text"))
      val offs = graft.operators.Transcripts.turnOffsets(turns, "conv_id", "turn_idx", "role", "text")
      val docs = graft.operators.Transcripts.renderDocs(turns, "conv_id", "turn_idx", "role", "text")
        .select(col("conv_id"), md5(col("doc").cast("binary")).as("doc_md5"))
      offs.join(docs, "conv_id")
        .select("conv_id", "turn_idx", "role", "char_start", "char_end", "mask", "doc_md5")
    }),
    // Duplication-aware epoch upsampling: zh (rare in the skewed sf mix) is
    // replicated toward a 0.5 share (epochs > 1 — multiple full copies plus
    // a deterministic fractional epoch), en is thinned (epochs < 1), the
    // other languages are untargeted and emit nothing.
    "q_epoch_mix" -> ((s, dir) => {
      graft.operators.Sampling.epochMix(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", Map("zh" -> 0.5, "en" -> 0.05), salt = 21L)
    }),

    // CURATION v4 — the round-8 operators composed as one modern funnel over
    // a crawl-with-duplicates (every doc and its embedding appear again at
    // +10000): model-based quality filter (classifierScore keep) ->
    // SEMANTIC dedup over the survivors' embeddings (semDedup: planted
    // copies drop, min-id originals keep) -> duplication-aware epoch mix
    // (en thins, zh/de replicate; salt 27) -> deterministic 90/5/5 split
    // (salt 29 — a doc's every epoch lands in ONE split: no train/val
    // leakage through replication). The twin replays the entire chain in
    // one DuckDB query from the dumped centroids.
    "q_curation_v4" -> ((s, dir) => {
      import s.implicits._
      tagOracle(dir)
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val docs2 = docs.select($"doc_id", $"lang", $"text")
        .union(docs.select(($"doc_id" + 10000).as("doc_id"), $"lang", $"text"))
      val emb2 = emb.select($"vec_id", $"embedding")
        .union(emb.select(($"vec_id" + 10000).as("vec_id"), $"embedding"))
      val weights = s.range(4096).select($"id".cast("int").as("bucket"),
        (($"id" * 2654435761L) % 4097L - 2048L).as("w_milli"))
      val cls = graft.operators.Quality.classifierScore(
          docs2, "text", "doc_id", weights, dim = 4096, biasMilli = 100L)
        .where($"keep").select($"doc_id", $"score_milli")
      // classifier survivors feed FOUR downstream consumers (semDedup's two
      // trainCentroids sample jobs + its assignment map, and the survivor
      // join) — materialize once instead of re-running the hashed-BoW scoring
      // chain per consumer (the semDedup localCheckpoint rationale; guide §5)
      val clsDocs = docs2.select($"doc_id", $"lang").join(cls, "doc_id")
        .localCheckpoint(eager = false) // lazy: rides the first consumer's job
      // semDedup only sees classifier survivors that HAVE an embedding; a doc
      // with no embedding row can't be semantically deduped and passes the
      // stage untouched (the twin's LEFT JOIN pp ... WHERE pp.nn IS NULL rule).
      // An inner join on the KEPT side here silently dropped every
      // embedding-less doc — invisible at sf0.001/sf0.01 (embeddings cover all
      // docs there) but 4x the funnel at sf0.1, where only 2000 of 5000 docs
      // carry vectors. Anti-join on the DROPPED side instead: dropped is the
      // small set by construction, and absence == kept.
      val semDropped = Similarity.semDedup(
          emb2.join(clsDocs.select($"doc_id".as("vec_id")), "vec_id"),
          k = 8, centroidsOut = dumpPath(SemDedupV4CentroidsPath))
        .where(!$"keep").select($"vec_id".as("doc_id"))
      // epochMix runs a per-domain count job over its input BEFORE the main
      // pass — without a checkpoint that job re-runs the whole
      // classifier->semDedup funnel a second time
      val surv = clsDocs.join(semDropped, Seq("doc_id"), "left_anti")
        .localCheckpoint(eager = false)
      val mixed = graft.operators.Sampling.epochMix(surv, "doc_id", "lang",
        Map("en" -> 0.3, "zh" -> 0.3, "de" -> 0.2), salt = 27L)
      graft.operators.Sampling.splitAssign(mixed, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = 29L)
        .select($"doc_id", $"lang", $"epoch", $"split", $"score_milli")
    }),

    // ---- similarity search ----------------------------------------------------------
    "q_ann_brute" -> ((s, dir) => {
      Similarity.bruteTopK(t(s, dir, "embeddings"), queryIds = (0L until 10L), k = 5)
        .select("query_id", "rank", "neighbor_id")
    }),
    // The probe dumps its exact candidate universe (query_id, candidate_id)
    // to a fixed path so the DuckDB twin can recompute exact top-k cosine over
    // exactly those pairs — the ranking stage (heaps + merge + row_number) is
    // value-checked, while WHICH cells get probed stays guarded by the
    // recall->=0.9 spec in OperatorsSpec (approximate by design).
    "q_ann_ivf" -> ((s, dir) => {
      tagOracle(dir)
      Similarity.ivfTopK(t(s, dir, "embeddings"), queryIds = (0L until 10L), k = 5,
          candidatesOut = dumpPath(IvfCandidatesPath))
        .select("query_id", "rank", "neighbor_id")
    }),
    // K-means topic clustering: deterministic Lloyd centroids (dumped for the
    // twin), shuffle-free broadcast argmax-cosine assignment, tie rule
    // (cosine desc, cluster asc).
    "q_kmeans_topics" -> ((s, dir) => {
      tagOracle(dir)
      Similarity.kmeansAssign(t(s, dir, "embeddings"), k = 8,
          centroidsOut = dumpPath(KmeansCentroidsPath))
    }),
    // Embedding outlier scores: cosine to the OWN k-means centroid,
    // micro-quantized (the q_vector_ops recipe) — the drop-before-indexing
    // signal for corrupt/OOD embeddings.
    "q_kmeans_outliers" -> ((s, dir) => {
      tagOracle(dir)
      Similarity.kmeansOutliers(t(s, dir, "embeddings"), k = 8,
          centroidsOut = dumpPath(KmeansOutlierCentroidsPath))
    }),
    // Streaming k-means: vectors arrive as a stream and classify under the
    // model trained on the static table (kmeansAssignWith is a stateless
    // narrow map — identical code batch and stream). Own centroid dump, so
    // the twin replays without any cross-query ordering assumption.
    "q_stream_kmeans" -> ((s, dir) => {
      import s.implicits._
      tagOracle(dir)
      val tmp = Scratch.dir("graft-km-in")
      val cp = Scratch.dir("graft-km-cp")
      val emb = t(s, dir, "embeddings").select($"vec_id", $"embedding")
      emb.coalesce(1).write.mode("overwrite").parquet(tmp)
      val centroids = Similarity.trainCentroids(emb, 8)
      if (oracleDumpsEnabled)
        centroids.zipWithIndex.map { case (v, c) => (c, v) }.toSeq
          .toDF("cluster", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(KmeansStreamCentroidsPath)
      val stream = s.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .parquet(tmp)
      val name = s"kmeans_out_${System.nanoTime()}"
      val q = Similarity.kmeansAssignWith(stream, centroids)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
    }),
    // SemDeDup (Abbas et al. 2023): cluster-bounded semantic dedup over the
    // embedding space — planted exact duplicates (+10000-shifted copies) must
    // land in their original's cluster and drop under the greedy min-id rule;
    // the uniform-random corpus keeps everything else (cross cosines ~0).
    // Centroids dump to their own path; the twin replays assignment, the
    // within-cluster smaller-id max-cosine, and the micro-quantized threshold.
    "q_semdedup" -> ((s, dir) => {
      tagOracle(dir)
      val emb = t(s, dir, "embeddings")
      val dupes = emb.select(col("vec_id"), col("embedding"))
        .union(emb.select(col("vec_id") + 10000, col("embedding")))
      Similarity.semDedup(dupes, k = 8, centroidsOut = dumpPath(SemDedupCentroidsPath))
    }),
    "q_cosine_near_dup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val dupes = emb.select(col("vec_id"), col("embedding"))
        .union(emb.select(col("vec_id") + 10000, col("embedding")))
      // like the Dedup near-dup queries: maxBucket above any bucket this corpus
      // can produce, so cap truncation can never drop an oracle-expected pair
      // (production keeps the default cap with observable truncation)
      Similarity.cosineNearDups(dupes, threshold = 0.999, maxBucket = 30000)
        .select(col("id_a"), col("id_b"))
    }),

    // Codegen'd vector math (zip_with/aggregate column exprs, no UDF): cosine
    // and L2 distance of every embedding against the all-ones vector,
    // micro-quantized for cross-engine comparison (raw doubles are
    // hash-unstable; 1e-6 quanta absorb engine summation differences while
    // still pinning 6 decimal digits of the fold), plus exact integer
    // component counts.
    "q_vector_ops" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ones = transform(col("embedding"), _ => lit(1.0f))
      emb.select(col("vec_id"),
        floor(graft.functions.VectorFunctions.cosineSim(col("embedding"), ones) * 1000000)
          .cast("long").as("cos_micro"),
        floor(graft.functions.VectorFunctions.l2Dist(col("embedding"), ones) * 1000000)
          .cast("long").as("dist_micro"),
        graft.functions.VectorFunctions.nAbove(col("embedding"), 0.0).as("n_pos"),
        size(col("embedding")).as("n_dims"))
    }),
    // int8 QUANTIZATION (round 5): symmetric absmax/127 per vector, every
    // emitted metric an EXACT integer over the quantized values (engine-
    // reproducible bit-for-bit; rounding is half-away-from-zero in both
    // engines) — the 4x-shuffle-reduction path embeddings take before any
    // 100TB join/index move, plus n_sat as the saturation observability.
    "q_quantize_vectors" -> ((s, dir) => {
      val vf = graft.functions.VectorFunctions
      // scale PROJECTED first (see quantizeInt8 scaladoc): inline it and the
      // O(d) absmax re-evaluates per element inside the transform lambda
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          vf.int8Scale(col("embedding")).as("sc"))
        .select(col("vec_id"), vf.quantizeInt8(col("embedding"), col("sc")).as("q"))
        .select(col("vec_id"),
          size(col("q")).as("n_dims"),
          aggregate(col("q"), lit(0L), (acc, v) => acc + v.cast("long")).as("q_sum"),
          array_min(col("q")).as("q_min"),
          array_max(col("q")).as("q_max"),
          size(filter(col("q"), v => abs(v) === 127)).as("n_sat"),
          vf.dotInt8(col("q"), col("q")).as("q_dot_self"))
    }),

    // Streaming EXACT DEDUP: the documents table plus planted duplicates as a
    // turn stream; dropDuplicatesWithinWatermark keeps one row per content
    // hash with watermark-bounded state; the deterministic output is the
    // distinct hash set.
    // Stream-STATIC broadcast enrichment (round 5): events stream through a
    // LEFT join against a small dimension (only even user_ids have a segment
    // row — odd users keep nulls, LEFT semantics), dimension broadcast so the
    // stream side never shuffles; oracle is the same join in plain SQL.
    "q_stream_enrich" -> ((s, dir) => {
      import s.implicits._
      val tmp = Scratch.dir("graft-enrich-in")
      val cp = Scratch.dir("graft-enrich-cp")
      val ev = t(s, dir, "events")
        .select($"event_id", $"user_id", $"event_type", $"ts")
      ev.repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(tmp) // multi-file: parallel batch scan (r9)
      // the dimension is consumed by the enrichStream broadcast guard AND the
      // broadcast build — checkpoint so the distinct runs once (r9)
      val dim = ev.select($"user_id").distinct()
        .where($"user_id" % 2 === 0)
        .withColumn("segment", ($"user_id" % 5).cast("int"))
        .localCheckpoint(eager = false)
      val stream = s.readStream
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP")
        .parquet(tmp)
      val name = s"enrich_out_${System.nanoTime()}"
      val q = graft.streaming.StreamingExtract.enrichStream(stream, dim, "user_id")
        .select(col("event_id"), col("user_id"), col("segment"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
    }),
    // Streaming INCREMENTAL near-dup: the planted new slice (offsets 4/6/9)
    // arrives as a stream and probes the static minhashIndex of the indexed
    // corpus (offsets 0-3) — same split, same hashing, and the SAME oracle
    // SQL as the batch q_dedup_incremental, so the driver value-checks that
    // the continuous path surfaces exactly the batch matches.
    // Streaming target-mix rebalance (VERDICT r7 #7): per-domain counts from
    // the STORED corpus stats (the static documents table's lang counts),
    // stream side a stateless codegen CASE via Sampling.rebalanceWith — the
    // enrichStream shape. en/de/fr targeted, es/zh deliberately unlisted
    // (share 0 -> keep false on the stream too).
    "q_stream_rebalance" -> ((s, dir) => {
      import s.implicits._
      val tmp = Scratch.dir("graft-reb-in")
      val cp = Scratch.dir("graft-reb-cp")
      val docs = t(s, dir, "documents")
      val stats = docs.groupBy($"lang").agg(count(lit(1)).as("c"))
      docs.select($"doc_id", $"lang").coalesce(1).write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema("doc_id BIGINT, lang STRING").parquet(tmp)
      val name = s"reb_out_${System.nanoTime()}"
      val q = graft.operators.Sampling.rebalanceStream(stream, "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.1), stats, salt = 17L)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
    }),
    "q_stream_dedup_incremental" -> ((s, dir) => {
      import s.implicits._
      val tmp = Scratch.dir("graft-incr-in")
      val cp = Scratch.dir("graft-incr-cp")
      val all = plantedOverlapCorpus(s)
      val corpus = all.where(col("doc_id") % 7 < 4)
      val index = Dedup.minhashIndex(corpus, "text", "doc_id")
      // ts must sit ABOVE the initial watermark of epoch 0 (late-drop quirk)
      all.where(col("doc_id") % 7 >= 4)
        .withColumn("ts", lit(new java.sql.Timestamp(86400000L)))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
        .parquet(tmp)
      val name = s"incr_out_${System.nanoTime()}"
      // slice = offsets {4,6,9} of the 60x7 planted corpus = 180 rows by
      // construction — one state store, not 32 (see statePartitions)
      withShufflePartitions(s, statePartitions(s, 180L)) {
        val q = graft.streaming.StreamingExtract.probeStream(stream, index, corpus)
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(name)
    }),
    "q_stream_dedup" -> ((s, dir) => {
      import s.implicits._
      val tmp = Scratch.dir("graft-dedup-in")
      val cp = Scratch.dir("graft-dedup-cp")
      // ts must sit ABOVE the initial watermark of epoch 0 — rows at/below it
      // are late-dropped (same quirk the sessionize spec documents)
      val nDocs = t(s, dir, "documents").count() // parquet-stats count: near-free
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .flatMap { case (id, text) => Seq(
          Turn(id.toString, 0, "user", text, "plain", new java.sql.Timestamp(86400000L)),
          Turn((id + 10000).toString, 0, "user", text, "plain", new java.sql.Timestamp(86400000L))) }
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val stream = s.readStream
        .schema("conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP")
        .parquet(tmp).as[Turn]
      val name = s"dedup_out_${System.nanoTime()}"
      withShufflePartitions(s, statePartitions(s, 2L * nDocs)) {
        val q = graft.streaming.StreamingExtract.dedupStream(stream)
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(name)
    }),

    // ---- multimodal plumbing ----------------------------------------------------------
    // Real header decode, value-checked end to end: docs are wrapped into
    // structurally valid PNG / JPEG / WAV / MP4 envelopes (dims and audio
    // params derived from doc_id) or left opaque (stub path), the payload
    // blobs land at a fixed parquet path, and the DuckDB oracle re-parses
    // width/height/rate/channels/sample-frames FROM THE SAME BYTES via
    // hex-offset arithmetic (incl. little-endian RIFF fields and 16.16
    // fixed-point tkhd dims) — so the header parsers, not just the plumbing,
    // are driver-checked.
    "q_multimodal_meta" -> ((s, dir) => {
      import s.implicits._
      tagOracle(dir)
      val media = t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, text) =>
          val tail = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val w = (1 + id % 640).toInt
          val h = (1 + id % 480).toInt
          val payload = (id % 5) match {
            case 0 => Multimodal.pngEnvelope(w, h, tail)
            case 1 => Multimodal.jpegEnvelope(w, h, tail)
            case 2 => Multimodal.wavEnvelope(8000 + (id % 96).toInt * 250, 1 + (id % 2).toInt, tail)
            case 3 => Multimodal.mp4Envelope(w, h, tail)
            case _ => tail // opaque payload -> deterministic stub path
          }
          Multimodal.MediaRow(id, payload)
        }
      media.toDF().coalesce(1).write.mode("overwrite").parquet(MultimodalPayloadPath)
      Multimodal.decodeAndFeaturize(
        s.read.parquet(MultimodalPayloadPath).as[Multimodal.MediaRow])
        .toDF().select("doc_id", "width", "height", "frames", "bytes")
    }),
    // REAL pixel decode (round 5): per doc, a fully-decodable grayscale image
    // — even ids a handcrafted stored-zlib PNG, odd ids an ImageIO-written
    // BMP (both lossless, two independent codec paths) — whose pixels are a
    // pure function of (doc_id, x, y); javax.imageio decodes per partition
    // and the integer pixel statistics hash-match a SQL oracle that replays
    // the SAME formula, so a wrong encode, wrong zlib framing, or wrong
    // decode on either path surfaces as a mismatch. dims_match cross-checks
    // the header parser where it speaks the container (PNG).
    "q_multimodal_pixels" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select($"doc_id").as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .map { id =>
          val w = (4 + id % 13).toInt
          val h = (3 + id % 11).toInt
          def pix(x: Int, y: Int) = (((id * 31 + y.toLong * w + x) * 7) % 256).toInt
          Multimodal.MediaRow(id,
            if (id % 2 == 0) Multimodal.pngGray(w, h, pix)
            else Multimodal.bmpGray(w, h, pix))
        }
      Multimodal.decodePixelStats(media).toDF()
        .select(col("doc_id"), col("px_width"), col("px_height"), col("px_sum"),
          col("px_min"), col("px_max"), col("px_gt127"), col("dims_match"))
    }),
    // REAL audio sample decode (round 5): per doc, a WAV whose SIGNED 16-bit
    // PCM samples are a pure function of (doc_id, i); the pure-byte-read
    // decoder (no codec library — closes the audio-stub gap for WAV) emits
    // integer sample statistics the oracle replays from the same formula.
    "q_multimodal_audio" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id").as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .map { id =>
          val channels = (1 + id % 2).toInt
          val rate = (8000 + (id % 8) * 500).toInt
          val n = ((40 + id % 30) * channels).toInt
          val tail = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val v = (((id * 7 + i.toLong * 13) % 65536) - 32768).toInt
            tail(2 * i) = (v & 0xff).toByte
            tail(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          val st = Multimodal.decodeWavSamples(
            Multimodal.wavEnvelope(rate, channels, tail)).get
          (id, st.sampleRate, st.channels, st.nSamples, st.sum, st.min, st.max)
        }
        .toDF("doc_id", "sample_rate", "channels", "n_samples", "s_sum", "s_min", "s_max")
    }),
    // REAL MP4 frame metadata (round 6 — closes the last `partial`): per doc,
    // an MP4 whose stbl sample tables carry doc_id-derived values (TWO stts
    // entries, so the duration walk really sums count*delta pairs); the
    // decoder does the full nested moov>trak>mdia>minf>stbl box walk, and the
    // oracle re-reads the same blob's stsz/stts/mdhd fields at the fixed hex
    // offsets the envelope pins (no box walk on the SQL side — an envelope
    // layout bug would misalign the two and break the hash).
    "q_mp4_frames" -> ((s, dir) => {
      import s.implicits._
      tagOracle(dir)
      val media = t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, text) =>
          val tail = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          Multimodal.MediaRow(id, Multimodal.mp4EnvelopeFrames(
            (1 + id % 640).toInt, (1 + id % 480).toInt,
            (1000 + (id % 10) * 100).toInt,
            (1 + id % 7).toInt, (100 + id % 50).toInt,
            (2 + id % 5).toInt, (40 + id % 60).toInt, tail))
        }
      media.toDF().coalesce(1).write.mode("overwrite").parquet(Mp4PayloadPath)
      Multimodal.decodeMp4Frames(
        s.read.parquet(Mp4PayloadPath).as[Multimodal.MediaRow])
        .toDF()
    }),

    // EXACT token-count distribution (round 6 — VERDICT #3): the reporting
    // plane every curation pipeline runs — per-source p50/p90/p99 over exact
    // INTEGER token counts. Discrete quantiles: the value at 1-based rank
    // ceil(p*n), which is DuckDB quantile_disc's rule (probed exactly on
    // v1.0.0 across n=3..100); the rank computes in INTEGER arithmetic
    // ((a*n + b - 1) DIV b), so no float index rounding can diverge where
    // p*n is integral (0.9*70 = 63.000...01 in doubles would ceil to 64).
    // Scale shape — HISTOGRAM, not sort: a per-source row sort would put a
    // power-law source's every row into ONE sort task; instead the table
    // map-side-combines into a (source, n_tokens) count histogram (bounded by
    // the value domain, not the row count), the cumulative window runs over
    // that tiny histogram, and the quantile value at rank r is the least
    // n_tokens whose cumulative count reaches r — exact, skew-proof, two
    // small shuffles.
    "q_token_distribution" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      val hist = toks.groupBy(col("source"), col("n_tokens")).agg(count(lit(1)).as("c"))
      val cum = hist
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("source")).orderBy(col("n_tokens"))))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
      cum.groupBy(col("source")).agg(
        max(col("n")).as("n_docs"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("n_tokens"))).as("p50"),
        min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("n_tokens"))).as("p90"),
        min(when(col("cum") >= expr("(n * 99 + 99) div 100"), col("n_tokens"))).as("p99"))
    }),
    // ROLLUP margins (round 6 — VERDICT #4): the per-(source, lang) training
    // mix report WITH subtotal and grand-total rows — closes the last
    // unexercised relational-checklist category (rollup/grouping sets).
    // Group columns are never NULL in the corpus (checked), and the explicit
    // grouping() bits disambiguate margin rows on both sides regardless.
    "q_rollup_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      d.rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("bigint").as("sum_tokens"),
          (grouping(col("source")) * 2 + grouping(col("lang"))).cast("int").as("g"))
    }),

    // ---- relational plane (scan/filter/agg/join/window/sort/limit) ------------------
    "q1_pricing_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,2)")
            .cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("decimal(18,2)")
            .cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(28,4)")).cast("decimal(28,4)").cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),
    // r9: lineitem pre-aggregates to per-order revenue BEFORE any join (guide
    // §2.3 "aggregate before you shuffle") — the fact table collapses 4x in
    // its own map-side-combined groupBy, the countDistinct(o_orderkey) (whose
    // Expand-based plan shuffled the joined fact table twice) becomes a plain
    // count of pre-aggregated rows, and only order-grain rows reach the
    // joins. DECIMAL addition is exact, so regrouping the sum cannot change a
    // single bit of the revenue; same inner-join semantics throughout (the
    // twin is unchanged and stays hash-green).
    "q_join_revenue" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val lineitem = t(s, dir, "lineitem")
      val customer = t(s, dir, "customer")
      val perOrder = lineitem.groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(28,4)")).as("o_rev"))
      perOrder.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"))
        .agg(
          sum(col("o_rev")).cast("decimal(28,4)").cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),
    "q_window_top_orders" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 2)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    }),
    "q_events_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_s")).as("n_sessions"), count(lit(1)).as("n_events"))
    }),
    // AS-OF join (point-in-time lookup): every event picks up the value of the
    // user's LATEST purchase at or before its own timestamp; DuckDB's native
    // ASOF LEFT JOIN is the oracle.
    "q_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.Temporal.asofJoin(ev, purchases, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("asof_value"))
    }),
    // AS-OF with a staleness bound: like q_asof_join but matches older than 2
    // hours are discarded whole-row (the production feature-lookup guard);
    // DuckDB's ASOF join + a second-truncated CASE is the oracle.
    "q_asof_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.Temporal.asofJoin(ev, purchases, "user_id", "ts", Seq("value"),
        toleranceSec = Some(7200L))
        .select(col("event_id"), col("asof_value"))
    }),
    // FORWARD as-of: every event picks up the user's NEXT purchase at/after
    // its timestamp (the attribution / conversion-window lookup); DuckDB's
    // ASOF join with the inequality flipped is the oracle.
    "q_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.Temporal.asofJoin(ev, purchases, "user_id", "ts", Seq("value"),
        forward = true)
        .select(col("event_id"), col("asof_value"))
    }),
    // NEAREST as-of (round 5): the closest purchase in EITHER direction,
    // backward winning second-truncated ties — completes the
    // backward/forward/nearest family; oracle composes DuckDB's two
    // directional ASOF joins with the same tie rule.
    "q_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.Temporal.asofNearest(ev, purchases, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("asof_value"))
    }),
    // RANGE join: events falling inside [purchase, purchase + 30min] windows of
    // the same user, counted per purchase. Bucketed equi-join under the hood
    // (no per-key nested loop); plain inclusive BETWEEN join is the oracle.
    "q_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val intervals = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("win_end"))
      graft.operators.Temporal.rangeJoin(ev, intervals, "user_id", "ts",
        "win_start", "win_end", bucketSec = 1800L)
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_events_in_window"))
    }),
    // Cross-tab via pivot with EXPLICIT values (no values-discovery scan —
    // the scale-correct form): per user, event counts by type; missing
    // combinations fill 0 like the oracle's FILTER counts.
    "q_pivot" -> ((s, dir) => {
      t(s, dir, "events").groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("click", "view", "purchase"))
    }),
    // Trailing-window feature engineering (RANGE frame, not ROWS): per event,
    // the count and exact DECIMAL sum of the same user's events in the
    // preceding hour — the rolling-aggregate shape behind rate limits,
    // engagement features, and fraud scores. RANGE frames include ALL peer
    // rows at equal order values, which both engines define identically.
    // Round 5: re-expressed through Temporal.rollingAgg — the time-sliced
    // trailing-window operator — so one power-law user no longer serializes
    // into a single window task (the plain partitionBy(user_id) window was the
    // engine's last per-key serialization point).
    "q_rolling_features" -> ((s, dir) => {
      Temporal.rollingAgg(t(s, dir, "events"), "user_id", "ts",
          Seq((count(lit(1)), "n_events_1h"),
            (sum(col("value").cast("decimal(18,4)")), "sum_raw")),
          windowSec = 3600L)
        .select(col("event_id"), col("user_id"), col("n_events_1h"),
          col("sum_raw").cast("decimal(28,4)").cast("double").as("sum_value_1h"))
    }),
    // Grouped TOP-K via the custom bounded Catalyst aggregate (round 5):
    // per user, the 3 highest-value events — the "best N per key" shape that
    // a row_number window serializes per key and a collect_list agg OOMs on;
    // TopKPairs keeps k pairs of state per group at every stage (map-side
    // partials merge like a sum). Deterministic ties: value DESC, event_id
    // ASC — the oracle's row_number twin orders identically.
    "q_topk_per_key" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(graft.functions.TopK.topK(col("value"), col("event_id"), 3).as("top"))
        .select(col("user_id"), posexplode(col("top")))
        .select(col("user_id"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("event_id"), col("col.score").as("value"))
    }),
    "q_sort_topk" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").cast("decimal(18,2)").as("price"))
        .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(25)
        .withColumn("price", col("price").cast("double"))
    }),

    // P7 extraction-rate metrics, value-checked: extract the documents table
    // as plain turns and total rows, errors and chars in one aggregate (the
    // runWithManifests per-shard form without the shard key); the oracle
    // recomputes them relationally.
    "q_extract_metrics" -> ((s, dir) => {
      import s.implicits._
      val turns = t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, text) => Turn(id.toString, 0, "user", text, "plain",
          new java.sql.Timestamp(0L)) }
      ExtractJob.extract(turns, partitions = 8)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("error").isNotNull.cast("long")), lit(0L)).as("n_errors"),
          coalesce(sum(length(col("extracted_text"))), lit(0L)).as("n_chars"))
    }),

    // ---- structured streaming (file source -> extract -> memory sink) ----------------
    "q_stream_extract" -> ((s, dir) => {
      import s.implicits._
      val tmp = Scratch.dir("graft-stream-in")
      val cp = Scratch.dir("graft-stream-cp")
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, text) => Turn(f"$id%012d", 0, "user", text, "plain",
          new java.sql.Timestamp(0L)) }
        .write.mode("overwrite").parquet(tmp)
      val turns = s.readStream
        .schema("conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP")
        .parquet(tmp).as[Turn]
      val name = s"stream_out_${System.nanoTime()}"
      val q = ExtractJob.extractNarrow(turns)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
        .select(col("conv_id").cast("long").as("doc_id"), col("extracted_text"))
    }),

    // Stateful streaming sessionizer, value-checked: the events table is recast
    // as a turn stream (conv = user), run through flatMapGroupsWithState via
    // AvailableNow, and the CLOSED sessions are compared against the batch gap
    // rule the oracle re-derives in SQL. One far-future sentinel turn per user
    // flushes the final open session through the in-batch gap rule (the
    // sentinel's own session stays open and is never emitted), so stream output
    // == batch sessions exactly.
    "q_stream_sessionize" -> ((s, dir) => {
      import s.implicits._
      val tmp = Scratch.dir("graft-sess-in")
      val cp = Scratch.dir("graft-sess-cp")
      val ev = t(s, dir, "events")
      val turns = ev.select(col("user_id").cast("string").as("conv_id"),
        col("event_id").cast("int").as("turn_idx"), lit("user").as("role"),
        lit("").as("text"), lit("plain").as("tool"), col("ts"))
      // every sentinel sits 100 days past the GLOBAL max, so no sentinel can
      // merge into (or sort before) any real session, and real sessions are
      // exactly those starting at or before the global max; the row count
      // rides the same 1-row aggregate (no extra job) to size state stores
      val aggRow = ev.agg(max(unix_timestamp(col("ts"))), count(lit(1))).head()
      val maxRealEpochS = aggRow.getLong(0)
      val nEvents = aggRow.getLong(1)
      val sentinels = ev.select(col("user_id").cast("string").as("conv_id")).distinct()
        .select(col("conv_id"), lit(-1).as("turn_idx"), lit("user").as("role"),
          lit("").as("text"), lit("sentinel").as("tool"),
          to_timestamp(lit(maxRealEpochS + 100L * 86400)).as("ts"))
      // one LISTING -> one deterministic batch (AvailableNow with no
      // maxFilesPerTrigger takes every file in the single data batch, so gap
      // closure still happens inline; within-batch arrival order is
      // irrelevant — the state function sorts each conversation's turns).
      // Written MULTI-file (r9): a coalesce(1) input gave the micro-batch a
      // single-split scan, serializing the whole per-event map into one task.
      turns.union(sentinels).repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream
        .schema("conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP")
        .parquet(tmp).as[Turn]
      val name = s"sessionize_out_${System.nanoTime()}"
      withShufflePartitions(s, statePartitions(s, nEvents)) {
        val q = graft.streaming.StreamingExtract.sessionizeStream(stream, gapSec = 1800)
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // AvailableNow keeps running watermark-advancing batches after the data
      // batch, so EventTimeTimeout can close (emit) sentinel sessions too —
      // drop everything starting after the last real event
      s.table(name)
        .where(unix_timestamp(col("session_start")) <= maxRealEpochS)
        .select(col("conv_id").cast("long").as("user_id"),
          unix_timestamp(col("session_start")).as("start_s"),
          unix_timestamp(col("session_end")).as("end_s"),
          col("n_turns").cast("long").as("n_turns"))
    }),

    // Watermarked tumbling-window metrics, value-checked: events recast as a
    // turn stream (text = event_type, so n_chars is SQL-derivable), one global
    // sentinel past max+100d advances the watermark so every real 1-minute
    // window closes; the sentinel's own window never closes and is excluded by
    // construction. Oracle: the same tumbling aggregation in batch SQL.
    "q_stream_metrics" -> ((s, dir) => {
      import s.implicits._
      val tmp = Scratch.dir("graft-met-in")
      val cp = Scratch.dir("graft-met-cp")
      val ev = t(s, dir, "events")
      // row count rides the same 1-row aggregate — sizes the state stores
      val aggRow = ev.agg(max(unix_timestamp(col("ts"))), count(lit(1))).head()
      val maxRealEpochS = aggRow.getLong(0)
      val nEvents = aggRow.getLong(1)
      val turns = ev.select(col("user_id").cast("string").as("conv_id"),
        col("event_id").cast("int").as("turn_idx"), lit("user").as("role"),
        col("event_type").as("text"), lit("plain").as("tool"), col("ts"))
      val sentinel = ev.limit(1).select(lit("sentinel").as("conv_id"),
        lit(-1).as("turn_idx"), lit("user").as("role"), lit("x").as("text"),
        lit("plain").as("tool"), to_timestamp(lit(maxRealEpochS + 100L * 86400)).as("ts"))
      // multi-file input for scan parallelism in the data batch (see
      // q_stream_sessionize); the sentinel stays in the same single batch,
      // so the watermark only advances after every real row is aggregated
      turns.union(sentinel).repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(tmp)
      val stream = s.readStream
        .schema("conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP")
        .parquet(tmp).as[Turn]
      val name = s"metrics_out_${System.nanoTime()}"
      withShufflePartitions(s, statePartitions(s, nEvents)) {
        val q = graft.streaming.StreamingExtract.windowedMetrics(stream, "1 minute", "10 minutes")
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(name)
        .select(unix_timestamp(col("window.start")).as("window_start_s"),
          col("payload_kind"), col("n_turns"),
          col("n_chars").cast("long").as("n_chars"),
          col("n_errors").cast("long").as("n_errors"))
    }),

    // ---- the transcript pipeline itself (north-rule flagship, full oracle) -----------
    // Per-turn output compared against the INDEPENDENTLY generated expectations:
    // SynthGen emits (payload, expected_text) pairs by construction (the golden is
    // authored by the generator, not by the extractor), written to a fixed path the
    // DuckDB oracle reads back via read_parquet — so every turn's extracted text is
    // value-checked end to end through scan -> salted repartition -> mapPartitions
    // extract -> sort.
    "q_extract_pipeline" -> ((s, dir) => {
      tagOracle(dir) // dump is input-independent, but it must live under the
      // same per-dir root the rendered oracle SQL will point at
      val gen = SynthGen.generate(s, nConvs = 120, turnsPerConv = 5, longConvs = 2, longTurns = 300)
      if (oracleDumpsEnabled) // expectation dump feeds only the DuckDB twin
        gen.toDF().select(col("conv_id"), col("turn_idx"), col("tool"), col("expected_text"))
          .coalesce(1).write.mode("overwrite").parquet(PipelineExpectedPath)
      val extracted = ExtractJob.extract(SynthGen.turns(gen), partitions = 8)
      extracted.toDF()
        .select(col("conv_id"), col("turn_idx"), col("payload_kind"),
          col("extracted_text"), col("error").isNull.as("ok"))
    })
  )

  /** Oracle side-dump root, KEYED BY THE ACTIVE INPUT DIR (round-7 fix): four
    * queries write payload/expectation parquet to a path the DuckDB twin reads
    * back, and the path must be stable within one Verify process yet distinct
    * across scale factors — a Bench or ExplainAudit run at another SF would
    * otherwise clobber the shared fixed paths between Verify's dump and the
    * driver's DuckDB compare and silently zero the round's correctness (found
    * locally exactly that way). Every dump-writing query stamps the tag from
    * its own `dir` argument; `oracleSql` renders the paths AFTER Verify has run
    * the queries, and each process runs all queries against a single dir, so
    * the rendered SQL always points at the dumps that process just wrote.
    */
  /** Oracle side-dumps (IVF candidate universe, k-means centroids) are
    * dev/verification artifacts: the ivfProbe contract says production probes
    * leave them None. Only the Verify/VerifyOne entrypoints flip this on, so
    * Bench times the PRODUCTION plan — not an extra pass plus single-task
    * parquet I/O per invocation (ADVICE r7).
    */
  @volatile private[graft] var oracleDumpsEnabled = false
  private def dumpPath(p: => String): Option[String] =
    if (oracleDumpsEnabled) Some(p) else None

  @volatile private var oracleTag: String = "default"
  private def tagOracle(dir: String): Unit =
    oracleTag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9._-]", "_") match {
      case "" => "default"
      case t  => t
    }
  def oracleRoot: String = s"/tmp/graft-oracle/$oracleTag"

  /** Path for the flagship's generator-authored expectations. */
  def PipelineExpectedPath: String = s"$oracleRoot/pipeline_expected"

  /** Path for q_multimodal_meta's payload blobs — the oracle re-parses the
    * image headers from these exact bytes.
    */
  def MultimodalPayloadPath: String = s"$oracleRoot/multimodal_payloads"

  /** Path for q_mp4_frames' payload blobs — the oracle re-reads the
    * stsz/stts/mdhd fields from these exact bytes at fixed hex offsets.
    */
  def Mp4PayloadPath: String = s"$oracleRoot/mp4_payloads"

  /** Path for q_ann_ivf's probed candidate universe — the oracle computes
    * exact top-k cosine over exactly these (query_id, candidate_id) pairs.
    */
  def IvfCandidatesPath: String = s"$oracleRoot/ivf_candidates"

  /** Path for q_kmeans_topics' trained centroids — the oracle replays the
    * argmax-cosine assignment over exactly these (cluster, centroid) rows.
    */
  def KmeansCentroidsPath: String = s"$oracleRoot/kmeans_centroids"

  /** q_stream_kmeans' own centroid dump (identical training, own path — no
    * cross-query ordering assumption inside one Verify process).
    */
  def KmeansStreamCentroidsPath: String = s"$oracleRoot/kmeans_stream_centroids"

  /** q_kmeans_outliers' own centroid dump (same no-ordering-assumption rule). */
  def KmeansOutlierCentroidsPath: String = s"$oracleRoot/kmeans_outlier_centroids"

  /** q_semdedup's trained centroids (own path — no cross-query ordering
    * assumption, same rule as the other k-means dumps).
    */
  def SemDedupCentroidsPath: String = s"$oracleRoot/semdedup_centroids"

  /** q_curation_v4's own semDedup centroid dump (per-query path — no
    * cross-query ordering assumption).
    */
  def SemDedupV4CentroidsPath: String = s"$oracleRoot/semdedup_v4_centroids"

  /** q_tokenize_bpe's learned merge table — the twin replays merge
    * application, vocab construction, id assignment, and packing from
    * exactly these (merge_idx, lhs, rhs) rows (bpeTrain itself is spec-gated
    * against an independent re-derivation; the dump makes the downstream
    * chain value-checkable without re-expressing the trainer in SQL).
    */
  def BpeMergesPath: String = s"$oracleRoot/bpe_merges"

  /** DuckDB oracles — every query is value-checked, including q_ann_ivf:
    * the IVF probe is approximate BY DESIGN (coarse-quantized ANN), but its
    * ranking stage is exact over the deterministic probed-candidate universe,
    * which the query dumps to [[IvfCandidatesPath]] for the twin to replay;
    * recall stays spec-gated against the brute-force oracle in OperatorsSpec.
    * Wrapping 64-bit hash loops (FNV-1a, splitmix64, simhash) are re-expressed
    * exactly via HUGEINT mod-2^64 arithmetic (see the helpers above).
    */
  private val normSql =
    "trim(regexp_replace(lower(%s), '\\s+', ' ', 'g'))"

  /** DuckDB rebuild of [[plantedOverlapCorpus]] — identical integer-sequence
    * construction (60 groups x 7 offset members, word pools 1000 apart).
    */
  /** Incremental-dedup twin (batch AND streaming): exact Jaccard over every
    * (new-slice, corpus) cross pair of the planted corpus — no hashing, no
    * index — filtered at the same 0.8. Green means the verify stage is exact
    * AND the band-key index probe surfaced every qualifying pair. (Groups
    * never share shingles: starts are 1000 apart, words span at most
    * start+37.)
    */
  private lazy val incrementalDedupSql =
    plantedCorpusSql +
      "sh AS (SELECT DISTINCT doc_id, 'w'||(strt+j)||' w'||(strt+j+1)||' w'||(strt+j+2) AS s " +
      "FROM docs CROSS JOIN (SELECT unnest(range(0,27)) AS j) u), " +
      "cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT n.doc_id AS id_new, x.doc_id AS id_corpus, count(*) AS i " +
      "FROM sh n JOIN sh x ON n.s = x.s AND n.doc_id % 7 >= 4 AND x.doc_id % 7 < 4 GROUP BY 1, 2) " +
      "SELECT id_new, id_corpus, CAST(i AS DOUBLE)/(cn.c + cx.c - i) AS jaccard " +
      "FROM inter JOIN cnt cn ON cn.doc_id = inter.id_new JOIN cnt cx ON cx.doc_id = inter.id_corpus " +
      "WHERE CAST(i AS DOUBLE)/(cn.c + cx.c - i) >= 0.8 ORDER BY id_new, id_corpus"

  private val plantedCorpusSql =
    "WITH offs(idx, off) AS (VALUES (0,0),(1,1),(2,2),(3,3),(4,4),(5,6),(6,9)), " +
      "docs AS (SELECT g*7+idx AS doc_id, g*1000+off AS strt " +
      "FROM range(0,60) t(g) CROSS JOIN offs), "

  // --- 64-bit wrapping arithmetic in DuckDB SQL (HUGEINT mod 2^64) -------------
  // DuckDB BIGINT traps on overflow, but int128 carries exact mod-2^64 hash
  // loops: FNV's 2^40 multiplier fits directly; splitmix64's ~2^64 constants
  // use 32-bit limb decomposition so every partial product stays < 2^96.
  private val m64 = "CAST('18446744073709551616' AS HUGEINT)" // 2^64
  private val b32 = "CAST('4294967296' AS HUGEINT)" // 2^32

  private def mulMod64(a: String, b: java.math.BigInteger): String = {
    val blo = b.mod(java.math.BigInteger.ONE.shiftLeft(32))
    val bhi = b.shiftRight(32)
    s"((($a) % $b32) * $blo + (((($a) % $b32) * $bhi) + ((($a) // $b32) * $blo)) % $b32 * $b32) % $m64"
  }

  private def splitmix64Sql(z: String): String = {
    val z1 = s"(($z) + CAST('11400714819323198485' AS HUGEINT)) % $m64"
    val x1 = s"xor(($z1), ($z1) >> 30)"
    val z2 = mulMod64(s"($x1)", new java.math.BigInteger("bf58476d1ce4e5b9", 16))
    val x2 = s"xor(($z2), ($z2) >> 27)"
    val z3 = mulMod64(s"($x2)", new java.math.BigInteger("94d049bb133111eb", 16))
    s"xor(($z3), ($z3) >> 31)"
  }

  /** FNV-1a 64 over the UTF-8 bytes of `col` (corpus is pure ASCII at every SF,
    * so unicode(char) == byte).
    */
  private def fnvSql(c: String): String =
    s"list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      s"list_transform(range(1, length($c) + 1), i -> CAST(unicode(substr($c, i, 1)) AS HUGEINT))), " +
      s"(a, c) -> (xor(a, c) * 1099511628211) % $m64)"

  private def toSigned64(e: String): String =
    s"CAST(CASE WHEN ($e) >= CAST('9223372036854775808' AS HUGEINT) THEN ($e) - $m64 ELSE ($e) END AS BIGINT)"

  def oracleSql: Map[String, String] = Map(
    "q_extract_pipeline" ->
      ("SELECT conv_id, turn_idx, CASE WHEN tool = 'pdf-b64' THEN 'pdf' ELSE tool END AS payload_kind, " +
        "expected_text AS extracted_text, true AS ok " +
        s"FROM read_parquet('$PipelineExpectedPath/*.parquet') ORDER BY conv_id, turn_idx"),
    "q_lang_id" ->
      ("WITH w AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents), " +
        "s AS (SELECT doc_id, " +
        "len(list_filter(ws, x -> list_contains(['the','and','of','to','in','is','that','it','was','for','with','as'], x))) AS en, " +
        "len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','von','zu','den'], x))) AS de, " +
        "len(list_filter(ws, x -> list_contains(['le','la','les','et','est','un','une','des','du','que','pour','dans'], x))) AS fr, " +
        "len(list_filter(ws, x -> list_contains(['el','la','los','las','y','es','un','una','de','que','por','con'], x))) AS es, " +
        "len(list_filter(ws, x -> list_contains(['il','la','di','e','che','un','una','per','sono','del','con','non'], x))) AS it " +
        "FROM w) " +
        "SELECT doc_id, CASE WHEN greatest(en,de,fr,es,it) = 0 THEN 'und' " +
        "WHEN en = greatest(en,de,fr,es,it) THEN 'en' WHEN de = greatest(en,de,fr,es,it) THEN 'de' " +
        "WHEN fr = greatest(en,de,fr,es,it) THEN 'fr' WHEN es = greatest(en,de,fr,es,it) THEN 'es' " +
        "ELSE 'it' END AS lang_pred FROM s ORDER BY doc_id"),
    // Word-3-shingle SET equality == Jaccard 1.0 (and (0.999, 1) is impossible
    // at <= ~100 shingles/doc). Set semantics, not text equality: different
    // word sequences can have identical shingle sets (e.g. repeated phrases),
    // and the operator compares shingle sets.
    "q_minhash_near_dup" ->
      (s"WITH u AS (SELECT doc_id AS id, ${normSql.format("text")} AS t FROM documents " +
        s"UNION ALL SELECT doc_id + 10000, ${normSql.format("text")} FROM documents), " +
        "sets AS (SELECT id, CASE WHEN len(string_split(t, ' ')) < 3 THEN [t] " +
        "ELSE list_sort(list_distinct(list_transform(range(1, len(string_split(t, ' ')) - 1), " +
        "i -> array_to_string(list_slice(string_split(t, ' '), CAST(i AS INT), CAST(i AS INT) + 2), ' ')))) END AS s FROM u) " +
        "SELECT a.id AS id_a, b.id AS id_b FROM sets a JOIN sets b ON a.s = b.s AND a.id < b.id ORDER BY id_a, id_b"),
    // keeper = min id of each word-3-shingle-set equality class (every doc has
    // a planted twin, so clusters() sees every id); then drop keepers sharing
    // any 8-shingle with docs 0-4; then the Knuth hash-threshold sample; then
    // whitespace token counts — each stage re-derived from its own oracle twin
    "q_curation_v2" ->
      (s"WITH u AS (SELECT doc_id AS id, ${normSql.format("text")} AS t, text AS raw FROM documents " +
        s"UNION ALL SELECT doc_id + 10000, ${normSql.format("text")}, text FROM documents), " +
        "sets3 AS (SELECT id, raw, CASE WHEN len(string_split(t, ' ')) < 3 THEN [t] " +
        "ELSE list_sort(list_distinct(list_transform(range(1, len(string_split(t, ' ')) - 1), " +
        "i -> array_to_string(list_slice(string_split(t, ' '), CAST(i AS INT), CAST(i AS INT) + 2), ' ')))) END AS s3 FROM u), " +
        "keep AS (SELECT id, raw FROM (SELECT id, raw, min(id) OVER (PARTITION BY s3) AS m FROM sets3) WHERE id = m), " +
        s"kn AS (SELECT id, raw, ${normSql.format("raw")} AS t FROM keep), " +
        "sets8 AS (SELECT id, raw, CASE WHEN len(string_split(t, ' ')) < 8 THEN [t] " +
        "ELSE list_sort(list_distinct(list_transform(range(1, len(string_split(t, ' ')) - 6), " +
        "i -> array_to_string(list_slice(string_split(t, ' '), CAST(i AS INT), CAST(i AS INT) + 7), ' ')))) END AS sh FROM kn), " +
        s"bn AS (SELECT ${normSql.format("text")} AS t FROM documents WHERE doc_id < 5), " +
        "bsets AS (SELECT CASE WHEN len(string_split(t, ' ')) < 8 THEN [t] " +
        "ELSE list_sort(list_distinct(list_transform(range(1, len(string_split(t, ' ')) - 6), " +
        "i -> array_to_string(list_slice(string_split(t, ' '), CAST(i AS INT), CAST(i AS INT) + 7), ' ')))) END AS sh FROM bn), " +
        "b AS (SELECT DISTINCT g FROM (SELECT unnest(sh) AS g FROM bsets)), " +
        "e AS (SELECT id, unnest(sh) AS g FROM sets8), " +
        "dirty AS (SELECT DISTINCT e.id FROM e JOIN b USING (g)), " +
        "clean AS (SELECT id, raw FROM sets8 WHERE id NOT IN (SELECT id FROM dirty)), " +
        "sampled AS (SELECT id, raw FROM clean WHERE ((((id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296 < 2147483648) " +
        "SELECT id AS doc_id, CASE WHEN length(trim(raw)) = 0 THEN 0 " +
        "ELSE len(regexp_split_to_array(trim(raw), '\\s+')) END AS n_tokens " +
        "FROM sampled ORDER BY doc_id"),
    // Connected components of the shingle-set-equality pair graph == the
    // equality classes themselves (set equality is transitive); singletons
    // (no pair) are not emitted. cluster_id = min id of the class.
    "q_dedup_clusters" ->
      (s"WITH u AS (SELECT doc_id AS id, ${normSql.format("text")} AS t FROM documents " +
        s"UNION ALL SELECT doc_id + 10000, ${normSql.format("text")} FROM documents " +
        s"UNION ALL SELECT doc_id + 20000, ${normSql.format("text")} FROM documents), " +
        "sets AS (SELECT id, CASE WHEN len(string_split(t, ' ')) < 3 THEN [t] " +
        "ELSE list_sort(list_distinct(list_transform(range(1, len(string_split(t, ' ')) - 1), " +
        "i -> array_to_string(list_slice(string_split(t, ' '), CAST(i AS INT), CAST(i AS INT) + 2), ' ')))) END AS s FROM u), " +
        "g AS (SELECT id, min(id) OVER (PARTITION BY s) AS cluster_id, count(*) OVER (PARTITION BY s) AS n FROM sets) " +
        "SELECT id, cluster_id FROM g WHERE n > 1 ORDER BY id"),
    // Full simhash64 re-expressed in DuckDB SQL: FNV-1a per word via HUGEINT
    // wrap-around multiply (mod 2^64), per-bit majority vote, equality join on the
    // 64-bit sign vector (= hamming 0). unicode(char) == UTF-8 byte because the
    // driver corpus is pure ASCII (verified at sf0.01 and sf0.1).
    "q_simhash_near_dup" ->
      ("WITH u AS (SELECT doc_id AS id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents " +
        "UNION ALL SELECT doc_id + 10000, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) FROM documents), " +
        "w AS (SELECT id, unnest(string_split(t, ' ')) AS word FROM u), " +
        "h AS (SELECT id, list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
        "list_transform(range(1, length(word) + 1), i -> CAST(unicode(substr(word, i, 1)) AS HUGEINT))), " +
        "(acc, c) -> (xor(acc, c) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)) AS wh FROM w), " +
        "bits AS (SELECT id, bit, sum(CASE WHEN (wh >> bit) % 2 = 1 THEN 1 ELSE -1 END) AS acc " +
        "FROM h, (SELECT unnest(range(0, 64)) AS bit) GROUP BY id, bit), " +
        "sig AS (SELECT id, list(acc > 0 ORDER BY bit) AS s FROM bits GROUP BY id) " +
        "SELECT a.id AS id_a, b.id AS id_b FROM sig a JOIN sig b ON a.s = b.s AND a.id < b.id ORDER BY id_a, id_b"),
    // Char-5-gram SET equality == Jaccard 1.0; and Jaccard in (0.999, 1) is
    // impossible at the corpus's <= 577-char docs (<= ~573 shingles), so the
    // 0.999-threshold query is exactly the set-equality join. Set semantics
    // matter: on the low-entropy corpus two different texts can have identical
    // shingle SETS (trailing words add only already-seen 5-grams).
    "q_ngram_jaccard" ->
      (s"WITH u AS (SELECT doc_id AS id, ${normSql.format("text")} AS t FROM documents " +
        s"UNION ALL SELECT doc_id + 10000, ${normSql.format("text")} FROM documents), " +
        "sets AS (SELECT id, CASE WHEN length(t) <= 5 THEN [t] " +
        "ELSE list_sort(list_distinct(list_transform(range(1, length(t) - 3), i -> substr(t, i, 5)))) END AS s FROM u) " +
        "SELECT a.id AS id_a, b.id AS id_b FROM sets a JOIN sets b ON a.s = b.s AND a.id < b.id ORDER BY id_a, id_b"),
    // LOOSE-threshold twins (round 6): EXACT Jaccard over the unnested shingle
    // strings of the planted-overlap corpus, computed for EVERY pair — no
    // banding, no sketches, no hash replay — then filtered at the same 0.8.
    // Matching the Spark output therefore verifies both the exact-verify stage
    // AND that the banding candidate stage missed nothing above the threshold.
    "q_minhash_loose" ->
      (plantedCorpusSql +
        "sh AS (SELECT DISTINCT doc_id, 'w'||(strt+j)||' w'||(strt+j+1)||' w'||(strt+j+2) AS s " +
        "FROM docs CROSS JOIN (SELECT unnest(range(0,27)) AS j) u), " +
        "cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, CAST(i AS DOUBLE)/(ca.c + cb.c - i) AS jaccard " +
        "FROM inter JOIN cnt ca ON ca.doc_id = inter.id_a JOIN cnt cb ON cb.doc_id = inter.id_b " +
        "WHERE CAST(i AS DOUBLE)/(ca.c + cb.c - i) >= 0.8 ORDER BY id_a, id_b"),
    "q_dedup_incremental" -> incrementalDedupSql,
    // The streaming probe hashes through the same bandKeysFor and verifies
    // with the same exact Jaccard — its contract is to surface EXACTLY the
    // batch matches, so it shares the batch twin verbatim.
    "q_stream_dedup_incremental" -> incrementalDedupSql,
    // The banded bottom-m sketch has POSITIONAL candidate recall (one extra
    // small hash shifts every later sketch position, so P(candidate) at
    // J=0.82 is ~0.86, not ~1 — measured 621/720 against an all-pairs twin),
    // which is the operator's documented contract at loose thresholds, not a
    // bug. The twin therefore replays the ACTUAL candidate stage exactly —
    // char-gram FNV-1a via HUGEINT mod-2^64, SIGNED-order bottom-20 (Spark
    // sorts Long hashes signed), per-band splitmix64 fold — then the exact
    // string-gram Jaccard filter, value-checking banding AND verify at 0.8.
    // The bucket cap is not modeled: max (band,bkey) group here is 7 docs,
    // far under the production-default 1000 the query runs with.
    "q_ngram_loose" ->
      (plantedCorpusSql +
        "d2 AS (SELECT doc_id, array_to_string(list_transform(range(0,29), j -> 'w'||(strt+j)), ' ') AS text FROM docs), " +
        "pos AS (SELECT doc_id, text, unnest(range(0, length(text)-4)) AS p FROM d2), " +
        "gr AS (SELECT DISTINCT doc_id, substr(text, CAST(p AS INT)+1, 5) AS g FROM pos), " +
        s"hsh AS (SELECT doc_id, ${fnvSql("g")} AS h FROM gr), " +
        s"ord AS (SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY ${toSigned64("h")}) AS r FROM hsh), " +
        "bot AS (SELECT doc_id, r - 1 AS sp, h FROM ord WHERE r <= 20), " +
        "b0 AS (SELECT doc_id, sp // 2 AS band, h AS e0 FROM bot WHERE sp % 2 = 0), " +
        "b1 AS (SELECT doc_id, sp // 2 AS band, h AS e1 FROM bot WHERE sp % 2 = 1), " +
        "keys AS (SELECT b0.doc_id, b0.band, " +
        s"${splitmix64Sql(s"xor((${splitmix64Sql("xor(xor(CAST(14695981039346656037 AS HUGEINT), CAST(b0.band AS HUGEINT)), e0)")}), e1)")} AS bkey " +
        "FROM b0 JOIN b1 ON b0.doc_id = b1.doc_id AND b0.band = b1.band), " +
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b " +
        "FROM keys a JOIN keys b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id), " +
        "cnt AS (SELECT doc_id, count(*) AS c FROM gr GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
        "FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, CAST(i AS DOUBLE)/(ca.c + cb.c - i) AS jaccard " +
        "FROM cand JOIN inter USING (id_a, id_b) " +
        "JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b " +
        "WHERE CAST(i AS DOUBLE)/(ca.c + cb.c - i) >= 0.8 ORDER BY id_a, id_b"),
    // FNV-1a 64 + winnowing rolling-min re-expressed exactly in SQL: wrapping
    // 64-bit multiplies via HUGEINT (32-bit limbs for the splitmix constants).
    // Signed min == unsigned min because all values live in [0, 2^64) HUGEINT.
    "q_fingerprint" ->
      (s"WITH d AS (SELECT doc_id, text, ${normSql.format("text")} AS nt FROM documents), " +
        s"fnv AS (SELECT doc_id, ${fnvSql("text")} AS h FROM d), " +
        "polys AS (SELECT doc_id, unnest(list_transform(range(1, length(nt) - 6), " +
        "i -> list_reduce(list_transform(range(0, 8), j -> CAST(unicode(substr(nt, CAST(i AS INT) + CAST(j AS INT), 1)) AS HUGEINT)), " +
        s"(a, c) -> (a * 1000003 + c) % $m64))) AS ph FROM d WHERE length(nt) >= 8), " +
        s"rolling AS (SELECT doc_id, min(${splitmix64Sql("ph")}) AS rm FROM polys GROUP BY doc_id " +
        s"UNION ALL SELECT doc_id, ${fnvSql("nt")} AS rm FROM d WHERE length(nt) < 8) " +
        s"SELECT f.doc_id, ${toSigned64("f.h")} AS fnv64, ${toSigned64("r.rm")} AS rolling_min " +
        "FROM fnv f JOIN rolling r USING (doc_id) ORDER BY f.doc_id"),
    // same Knuth-multiplicative threshold arithmetic as Sampling.idHash (incl.
    // the 2^31 overflow-proof pre-fold); Spark's pmod is re-expressed as
    // ((x % m) + m) % m so NEGATIVE ids hash identically in both engines;
    // thresholds are round(fraction * 2^32)
    "q_sample_stratified" ->
      ("SELECT event_id, event_type, user_id FROM events " +
        "WHERE ((((event_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296 < " +
        "CASE event_type WHEN 'purchase' THEN 4294967296 WHEN 'click' THEN 1073741824 " +
        "WHEN 'view' THEN 214748365 ELSE 429496730 END " +
        "ORDER BY event_id"),
    // weighted twin: same hash, per-row threshold from the identical
    // alpha-density formula (clamp is a no-op here — density is in [0,1))
    "q_sample_weighted" ->
      ("SELECT doc_id FROM documents " +
        "WHERE ((((doc_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296 < " +
        "round(least(greatest((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) " +
        "/ (length(text) + 1.0), 0.0), 1.0) * 4294967296.0) " +
        "ORDER BY doc_id"),
    // word-8-shingles (docs under 8 words collapse to one whole-text shingle,
    // mirroring Dedup.shingles); hits counted over DISTINCT shingles per doc
    "q_decontaminate" ->
      (s"WITH n AS (SELECT doc_id, ${normSql.format("text")} AS t FROM documents), " +
        "s AS (SELECT doc_id, CASE WHEN len(string_split(t, ' ')) < 8 THEN [t] " +
        "ELSE list_sort(list_distinct(list_transform(range(1, len(string_split(t, ' ')) - 6), " +
        "i -> array_to_string(list_slice(string_split(t, ' '), CAST(i AS INT), CAST(i AS INT) + 7), ' ')))) END AS sh FROM n), " +
        "b AS (SELECT DISTINCT g FROM (SELECT unnest(sh) AS g FROM s WHERE doc_id < 5)), " +
        "e AS (SELECT doc_id, unnest(sh) AS g FROM s), " +
        "h AS (SELECT e.doc_id, count(*) AS hits FROM e JOIN b USING (g) GROUP BY e.doc_id) " +
        "SELECT n.doc_id, CAST(coalesce(h.hits, 0) AS INT) AS n_contaminated " +
        "FROM n LEFT JOIN h USING (doc_id) ORDER BY n.doc_id"),
    // surprisal twin: the whole integer pipeline replays — vocab counts, the
    // deterministic top-256 cut (ORDER BY c DESC, word ASC), bit-length
    // surprisal via bin() (both engines print minimal binary), OOV = corpus
    // bit-length + 1, per-doc integer sums; left join keeps zero-token docs
    "q_surprisal" ->
      ("WITH w AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word FROM documents), " +
        "ww AS (SELECT word FROM w WHERE length(word) > 0), " +
        "c AS (SELECT word, count(*) AS c FROM ww GROUP BY word), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM c), " +
        "v AS (SELECT word, length(bin(n_total // c)) AS bits FROM c, tot ORDER BY c DESC, word ASC LIMIT 256), " +
        "dt AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word FROM documents), " +
        "dd AS (SELECT doc_id, word FROM dt WHERE length(word) > 0), " +
        "sc AS (SELECT dd.doc_id, CASE WHEN v.bits IS NULL THEN (SELECT length(bin(n_total)) + 1 FROM tot) ELSE v.bits END AS tb, " +
        "CASE WHEN v.bits IS NULL THEN 1 ELSE 0 END AS oov FROM dd LEFT JOIN v USING (word)), " +
        "g AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov, CAST(sum(tb) AS BIGINT) AS surprisal_bits FROM sc GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(g.n_tokens, 0) AS BIGINT) AS n_tokens, " +
        "coalesce(g.n_oov, 0) AS n_oov, coalesce(g.surprisal_bits, 0) AS surprisal_bits " +
        "FROM documents d LEFT JOIN g USING (doc_id) ORDER BY d.doc_id"),
    // bigram-surprisal twin: positional unnest, lag window pairs, integer
    // conditional bits bin(c(prev) // c(prev,w)), unigram backoff + 1
    "q_bigram_surprisal" ->
      ("WITH tok AS (SELECT doc_id, i AS pos, arr[CAST(i AS INT)] AS word FROM " +
        "(SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS arr " +
        "FROM documents) t, unnest(range(1, len(arr) + 1)) u(i)), " +
        "uni AS (SELECT word, count(*) AS cu FROM tok GROUP BY word), " +
        "tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n FROM uni), " +
        "p AS (SELECT doc_id, pos, word, lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM tok), " +
        "bi AS (SELECT prev, word, count(*) AS cb FROM p WHERE prev IS NOT NULL GROUP BY prev, word), " +
        "s AS (SELECT p.doc_id, " +
        "CASE WHEN p.prev IS NULL THEN length(bin(n // u.cu)) " +
        "WHEN b.cb IS NOT NULL THEN length(bin(up.cu // b.cb)) " +
        "ELSE length(bin(n // u.cu)) + 1 END AS tb, " +
        "CASE WHEN b.cb IS NOT NULL THEN 1 ELSE 0 END AS hit " +
        "FROM p JOIN uni u USING (word) LEFT JOIN uni up ON up.word = p.prev " +
        "LEFT JOIN bi b ON b.prev = p.prev AND b.word = p.word, tot), " +
        "g AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(hit) AS BIGINT) AS n_bigram_hits, " +
        "CAST(sum(tb) AS BIGINT) AS surprisal_bits FROM s GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(g.n_tokens, 0) AS BIGINT) AS n_tokens, " +
        "coalesce(g.n_bigram_hits, 0) AS n_bigram_hits, coalesce(g.surprisal_bits, 0) AS surprisal_bits " +
        "FROM documents d LEFT JOIN g USING (doc_id) ORDER BY d.doc_id"),
    // gopher twin: identical gram builds (space-joined slices), per-doc
    // counts, top pick replayed as row_number over (c DESC, gram ASC),
    // coverage union as DISTINCT (doc, pos) over range-expanded duplicated
    // 5-gram occurrences joined to per-position token lengths
    "q_gopher_repetition" ->
      ("WITH d0 AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 10000, text || ' ' || text FROM documents), " +
        "t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS w FROM d0), " +
        "b AS (SELECT doc_id, w, len(w) AS m FROM t), " +
        "nch AS (SELECT doc_id, CAST(coalesce(list_aggregate(list_transform(w, x -> length(x)), 'sum'), 0) AS INT) AS n_chars_tok FROM b), " +
        "g2 AS (SELECT doc_id, array_to_string(list_slice(w, CAST(i+1 AS INT), CAST(i+2 AS INT)), ' ') AS gr FROM b, unnest(range(m - 1)) u(i) WHERE m >= 2), " +
        "c2 AS (SELECT doc_id, gr, count(*) AS c FROM g2 GROUP BY doc_id, gr), " +
        "r2 AS (SELECT doc_id, c, gr, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gr ASC) AS rn FROM c2 WHERE c >= 2), " +
        "t2 AS (SELECT doc_id, CAST(c AS INT) AS top2_count, CAST(c * length(gr) AS INT) AS top2_chars FROM r2 WHERE rn = 1), " +
        "g3 AS (SELECT doc_id, array_to_string(list_slice(w, CAST(i+1 AS INT), CAST(i+3 AS INT)), ' ') AS gr FROM b, unnest(range(m - 2)) u(i) WHERE m >= 3), " +
        "c3 AS (SELECT doc_id, gr, count(*) AS c FROM g3 GROUP BY doc_id, gr), " +
        "r3 AS (SELECT doc_id, c, gr, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gr ASC) AS rn FROM c3 WHERE c >= 2), " +
        "t3 AS (SELECT doc_id, CAST(c AS INT) AS top3_count, CAST(c * length(gr) AS INT) AS top3_chars FROM r3 WHERE rn = 1), " +
        "g5 AS (SELECT doc_id, i, array_to_string(list_slice(w, CAST(i+1 AS INT), CAST(i+5 AS INT)), ' ') AS gr FROM b, unnest(range(m - 4)) u(i) WHERE m >= 5), " +
        "c5 AS (SELECT doc_id, gr FROM g5 GROUP BY doc_id, gr HAVING count(*) >= 2), " +
        "cov AS (SELECT DISTINCT g5.doc_id, g5.i + j AS pos FROM g5 JOIN c5 USING (doc_id, gr), unnest(range(5)) v(j)), " +
        "tl AS (SELECT doc_id, i AS pos, length(w[CAST(i+1 AS INT)]) AS l FROM b, unnest(range(m)) u(i)), " +
        "d5 AS (SELECT cov.doc_id, CAST(sum(tl.l) AS INT) AS dup5_chars FROM cov JOIN tl USING (doc_id, pos) GROUP BY cov.doc_id) " +
        "SELECT d0.doc_id, nch.n_chars_tok, coalesce(t2.top2_count, 0) AS top2_count, " +
        "coalesce(t2.top2_chars, 0) AS top2_chars, coalesce(t3.top3_count, 0) AS top3_count, " +
        "coalesce(t3.top3_chars, 0) AS top3_chars, coalesce(d5.dup5_chars, 0) AS dup5_chars " +
        "FROM d0 JOIN nch USING (doc_id) LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id) " +
        "LEFT JOIN d5 USING (doc_id) ORDER BY d0.doc_id"),
    // duplicate-runs twin: same 8-token segmentation, distinct-doc counts,
    // islands via seg_idx - row_number, per-run token sums
    "q_duplicate_runs" ->
      ("WITH d0 AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 10000, text || ' ' || text FROM documents), " +
        "t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w " +
        "FROM d0 WHERE length(trim(text)) > 0), " +
        "c AS (SELECT doc_id, w, len(w) AS n, (len(w) + 7) // 8 AS k FROM t), " +
        "seg AS (SELECT doc_id, CAST(i AS INT) AS seg_idx, " +
        "array_to_string(list_slice(w, CAST(i*8+1 AS INT), CAST(i*8+8 AS INT)), ' ') AS seg_text, " +
        "CAST(least(n - i*8, 8) AS INT) AS seg_len FROM c, unnest(range(k)) u(i)), " +
        "dup AS (SELECT seg_text FROM (SELECT seg_text, doc_id FROM seg GROUP BY 1, 2) " +
        "GROUP BY seg_text HAVING count(*) >= 2), " +
        "m AS (SELECT seg.* FROM seg JOIN dup USING (seg_text)), " +
        "r AS (SELECT *, seg_idx - row_number() OVER (PARTITION BY doc_id ORDER BY seg_idx) AS grp FROM m) " +
        "SELECT doc_id, CAST(min(seg_idx) AS INT) AS run_start_seg, " +
        "CAST(count(*) AS INT) AS run_len_segs, CAST(sum(seg_len) AS BIGINT) AS run_tokens " +
        "FROM r GROUP BY doc_id, grp ORDER BY doc_id, run_start_seg"),
    // winnowing twin: the full MOSS pipeline replayed — k=8 poly hashes at
    // every position (the q_fingerprint recipe, but positions kept), splitmix
    // mix, per-w=4-window min (full windows only: i <= n-10), DISTINCT
    // selected values per doc, document-frequency stop-fp drop at the same
    // maxDf=50, then pair intersection counts over the rare sets and the
    // containment score |A∩B|/min(|A|,|B|). Window min works unaliased
    // because every value lives in [0, 2^64) HUGEINT (unsigned order = value
    // order). The short-text FNV fallback branch is replicated even though no
    // sf doc is under 11 normalized bytes.
    "q_winnow_near_dup" ->
      ("WITH d0 AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 10000, text || ' ' || text FROM documents), " +
        s"d AS (SELECT doc_id, ${normSql.format("text")} AS nt FROM d0), " +
        "ph AS (SELECT doc_id, i, length(nt) AS n, " +
        "list_reduce(list_transform(range(0, 8), j -> CAST(unicode(substr(nt, CAST(i AS INT) + CAST(j AS INT), 1)) AS HUGEINT)), " +
        s"(a, c) -> (a * 1000003 + c) % $m64) AS h " +
        "FROM d, unnest(range(1, length(nt) - 6)) u(i) WHERE length(nt) >= 11), " +
        s"mx AS (SELECT doc_id, i, n, ${splitmix64Sql("h")} AS fp FROM ph), " +
        "wm AS (SELECT doc_id, i, n, min(fp) OVER (PARTITION BY doc_id ORDER BY i " +
        "ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wfp FROM mx), " +
        "sel AS (SELECT DISTINCT doc_id, wfp FROM wm WHERE i <= n - 10 " +
        s"UNION ALL SELECT doc_id, ${fnvSql("nt")} FROM d WHERE length(nt) < 11), " +
        "dfq AS (SELECT wfp, count(*) AS dfreq FROM sel GROUP BY wfp), " +
        "rare AS (SELECT s2.doc_id, s2.wfp FROM sel s2 JOIN dfq USING (wfp) WHERE dfreq <= 50), " +
        "cnt AS (SELECT doc_id, count(*) AS c FROM rare GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
        "FROM rare a JOIN rare b ON a.wfp = b.wfp AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, CAST(i AS BIGINT) AS n_shared, " +
        "CAST(i AS DOUBLE) / least(ca.c, cb.c) AS overlap " +
        "FROM inter JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b " +
        "WHERE CAST(i AS DOUBLE) / least(ca.c, cb.c) >= 0.9 ORDER BY id_a, id_b"),
    // incremental winnow twin: same winnow CTE chain with a side tag
    // (0 = corpus, 1 = doubled first-50 slice), corpus-only document
    // frequency, anti-join stop drop on BOTH sides, cross-side containment
    "q_winnow_incremental" ->
      ("WITH d0 AS (SELECT doc_id, text, 0 AS side FROM documents " +
        "UNION ALL SELECT doc_id + 10000, text || ' ' || text, 1 FROM documents WHERE doc_id < 50), " +
        s"d AS (SELECT doc_id, side, ${normSql.format("text")} AS nt FROM d0), " +
        "ph AS (SELECT doc_id, side, i, length(nt) AS n, " +
        "list_reduce(list_transform(range(0, 8), j -> CAST(unicode(substr(nt, CAST(i AS INT) + CAST(j AS INT), 1)) AS HUGEINT)), " +
        s"(a, c) -> (a * 1000003 + c) % $m64) AS h " +
        "FROM d, unnest(range(1, length(nt) - 6)) u(i) WHERE length(nt) >= 11), " +
        s"mx AS (SELECT doc_id, side, i, n, ${splitmix64Sql("h")} AS fp FROM ph), " +
        "wm AS (SELECT doc_id, side, i, n, min(fp) OVER (PARTITION BY doc_id ORDER BY i " +
        "ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wfp FROM mx), " +
        "sel AS (SELECT DISTINCT doc_id, side, wfp FROM wm WHERE i <= n - 10 " +
        s"UNION ALL SELECT doc_id, side, ${fnvSql("nt")} FROM d WHERE length(nt) < 11), " +
        "cdf AS (SELECT wfp, count(*) AS dfreq FROM sel WHERE side = 0 GROUP BY wfp), " +
        "stop AS (SELECT wfp FROM cdf WHERE dfreq > 50), " +
        "rare AS (SELECT s2.doc_id, s2.side, s2.wfp FROM sel s2 LEFT JOIN stop USING (wfp) WHERE stop.wfp IS NULL), " +
        "cn AS (SELECT doc_id, count(*) AS c FROM rare WHERE side = 1 GROUP BY doc_id), " +
        "cc AS (SELECT doc_id, count(*) AS c FROM rare WHERE side = 0 GROUP BY doc_id), " +
        "inter AS (SELECT nw.doc_id AS id_new, x.doc_id AS id_corpus, count(*) AS i " +
        "FROM rare nw JOIN rare x ON nw.wfp = x.wfp AND nw.side = 1 AND x.side = 0 GROUP BY 1, 2) " +
        "SELECT id_new, id_corpus, CAST(i AS BIGINT) AS n_shared, " +
        "CAST(i AS DOUBLE) / least(cn.c, cc.c) AS overlap " +
        "FROM inter JOIN cn ON cn.doc_id = id_new JOIN cc ON cc.doc_id = id_corpus " +
        "WHERE CAST(i AS DOUBLE) / least(cn.c, cc.c) >= 0.9 ORDER BY id_new, id_corpus"),
    // tokenize twin: vocab ids via row_number over the same total order
    // (count desc, word asc), OOV id = actual vocab row count; per-doc ids
    // rebuilt by ordinal-preserving unnest + ordered array_agg; empty docs
    // come back as empty INT lists via the left join
    "q_tokenize_vocab" ->
      ("WITH w AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word FROM documents), " +
        "ww AS (SELECT word FROM w WHERE length(word) > 0), " +
        "c AS (SELECT word, count(*) AS c FROM ww GROUP BY word), " +
        "v AS (SELECT word, CAST(row_number() OVER (ORDER BY c DESC, word ASC) - 1 AS INT) AS tid " +
        "FROM c ORDER BY c DESC, word ASC LIMIT 16), " +
        "vs AS (SELECT CAST(count(*) AS INT) AS vsz FROM v), " +
        "tok AS (SELECT doc_id, arr[CAST(i AS INT)] AS word, i AS ord FROM " +
        "(SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS arr " +
        "FROM documents) t, unnest(range(1, len(arr) + 1)) AS u(i)), " +
        "j AS (SELECT tok.doc_id, tok.ord, coalesce(v.tid, (SELECT vsz FROM vs)) AS tid FROM tok LEFT JOIN v USING (word)), " +
        "g AS (SELECT doc_id, array_to_string(array_agg(CAST(tid AS VARCHAR) ORDER BY ord), ' ') AS token_ids_s, " +
        "CAST(count(*) AS INT) AS n_tokens, " +
        "CAST(sum(CASE WHEN tid = (SELECT vsz FROM vs) THEN 1 ELSE 0 END) AS INT) AS n_oov FROM j GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(g.token_ids_s, '') AS token_ids_s, " +
        "coalesce(g.n_tokens, 0) AS n_tokens, coalesce(g.n_oov, 0) AS n_oov " +
        "FROM documents d LEFT JOIN g USING (doc_id) ORDER BY d.doc_id"),
    // BPE end-to-end twin: replay merge APPLICATION from the dumped merge
    // table via a recursive CTE over chr(1)-delimited symbol strings —
    // replace(s, SEP lhs SEP SEP rhs SEP, SEP lhs rhs SEP) scans
    // left-to-right non-overlapping, which on fully delimited symbols is
    // exactly mergeGreedy — then the same vocab (base chars by binary order,
    // first 20 merge symbols, 70k anti-joined filler), id assignment with
    // OOV 999999, and the q_pack_sequences salted-hash packing at seed 7.
    "q_tokenize_bpe" ->
      (s"WITH RECURSIVE m AS (SELECT CAST(merge_idx AS INT) AS merge_idx, lhs, rhs FROM read_parquet('$BpeMergesPath/*.parquet')), " +
        "nm AS (SELECT CAST(count(*) AS INT) AS n FROM m), " +
        "dw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS arr FROM documents), " +
        "w AS (SELECT doc_id, CAST(i AS INT) AS word_ord, arr[CAST(i AS INT)] AS word FROM dw, unnest(range(1, len(arr) + 1)) AS u(i)), " +
        "enc AS (SELECT doc_id, word_ord, chr(1) || array_to_string(list_transform(range(1, length(word) + 1), i -> substr(word, CAST(i AS INT), 1)), chr(1) || chr(1)) || chr(1) AS s FROM w), " +
        "ap AS (SELECT doc_id, word_ord, 0 AS i, s FROM enc " +
        "UNION ALL SELECT ap.doc_id, ap.word_ord, ap.i + 1, " +
        "replace(ap.s, chr(1) || m.lhs || chr(1) || chr(1) || m.rhs || chr(1), chr(1) || m.lhs || m.rhs || chr(1)) " +
        "FROM ap JOIN m ON m.merge_idx = ap.i), " +
        "fin AS (SELECT doc_id, word_ord, s FROM ap WHERE i = (SELECT n FROM nm)), " +
        "subs AS (SELECT doc_id, word_ord, string_split(trim(s, chr(1)), chr(1) || chr(1)) AS sl FROM fin), " +
        "sw AS (SELECT doc_id, word_ord, CAST(i AS INT) AS sub_ord, sl[CAST(i AS INT)] AS subword FROM subs, unnest(range(1, len(sl) + 1)) AS u(i)), " +
        "bc AS (SELECT DISTINCT substr(word, CAST(i AS INT), 1) AS c FROM w, unnest(range(1, length(word) + 1)) AS u(i)), " +
        "base AS (SELECT c AS word, CAST(row_number() OVER (ORDER BY c ASC) - 1 AS INT) AS tid FROM bc), " +
        "nb AS (SELECT CAST(count(*) AS INT) AS n FROM base), " +
        "mg AS (SELECT lhs || rhs AS word, (SELECT n FROM nb) + merge_idx AS tid FROM m WHERE merge_idx < 20), " +
        "fill0 AS (SELECT 'sub_' || lpad(CAST(i AS VARCHAR), 6, '0') AS word, CAST((SELECT n FROM nb) + 20 + i AS INT) AS tid FROM range(70000) t(i)), " +
        "fill AS (SELECT f.word, f.tid FROM fill0 f LEFT JOIN (SELECT word FROM base UNION SELECT word FROM mg) v USING (word) WHERE v.word IS NULL), " +
        "voc AS (SELECT word, tid FROM base UNION ALL SELECT word, tid FROM mg UNION ALL SELECT word, tid FROM fill), " +
        "j AS (SELECT sw.doc_id, sw.word_ord, sw.sub_ord, coalesce(voc.tid, 999999) AS tid FROM sw LEFT JOIN voc ON voc.word = sw.subword), " +
        "g2 AS (SELECT doc_id, array_to_string(array_agg(CAST(tid AS VARCHAR) ORDER BY word_ord, sub_ord), ' ') AS token_ids_s, " +
        "CAST(count(*) AS INT) AS n_tokens, CAST(sum(CASE WHEN tid = 999999 THEN 1 ELSE 0 END) AS INT) AS n_oov FROM j GROUP BY doc_id), " +
        "tok AS (SELECT d.doc_id, coalesce(g2.token_ids_s, '') AS token_ids_s, coalesce(g2.n_tokens, 0) AS n_tokens, coalesce(g2.n_oov, 0) AS n_oov " +
        "FROM documents d LEFT JOIN g2 USING (doc_id)), " +
        "p AS (SELECT *, ((((doc_id % 2147483648) + 2147483648) % 2147483648) + 7) % 2147483648 AS s0 FROM tok), " +
        "h AS (SELECT *, (s0 * 2654435761) % 4294967296 AS h1 FROM p), " +
        "mx AS (SELECT *, xor(h1, h1 >> 16) AS m1 FROM h), " +
        "q AS (SELECT doc_id, token_ids_s, n_tokens, n_oov, ((m1 % 2147483648) * 2246822519) % 4294967296 AS pos FROM mx), " +
        "r AS (SELECT *, CAST(pos % 8 AS INT) AS shard FROM q), " +
        "f AS (SELECT *, CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pos, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before FROM r) " +
        "SELECT doc_id, token_ids_s, n_tokens, n_oov, shard, pos, tokens_before, tokens_before // 256 AS seq_id FROM f ORDER BY doc_id"),
    // curation v4 twin: classifier keep (fnv chain + weight table over the
    // doubled corpus) -> semDedup keep (assignment from the dumped v4
    // centroids, smaller-id max-cosine, micro threshold) -> epoch mix at
    // salt 27 over the survivors -> split cut points at salt 29, all in one
    // WITH chain
    "q_curation_v4" ->
      (s"WITH w AS (SELECT CAST(i AS INT) AS bucket, (i * 2654435761) % 4097 - 2048 AS wm FROM unnest(range(4096)) t(i)), " +
        "d0 AS (SELECT doc_id, lang, text FROM documents UNION ALL SELECT doc_id + 10000, lang, text FROM documents), " +
        "tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> length(x) > 0)) AS word FROM d0), " +
        s"b AS (SELECT doc_id, CAST(${fnvSql("word")} % 4096 AS INT) AS bucket FROM tok), " +
        "g AS (SELECT doc_id, CAST(sum(coalesce(w.wm, 0)) + 100 AS BIGINT) AS score_milli FROM b LEFT JOIN w USING (bucket) GROUP BY doc_id), " +
        "cls AS (SELECT d0.doc_id, d0.lang, CAST(coalesce(g.score_milli, 100) AS BIGINT) AS score_milli " +
        "FROM d0 LEFT JOIN g USING (doc_id) WHERE coalesce(g.score_milli, 100) >= 0), " +
        s"c AS (SELECT cluster, centroid FROM read_parquet('$SemDedupV4CentroidsPath/*.parquet')), " +
        "u AS (SELECT vec_id, embedding FROM embeddings UNION ALL SELECT vec_id + 10000, embedding FROM embeddings), " +
        "ue AS (SELECT u.vec_id, u.embedding FROM u JOIN cls ON cls.doc_id = u.vec_id), " +
        "sa AS (SELECT vec_id, cluster FROM (SELECT ue.vec_id, c.cluster, " +
        "row_number() OVER (PARTITION BY ue.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(ue.embedding AS DOUBLE[]), CAST(c.centroid AS DOUBLE[])) DESC, c.cluster ASC) AS rn " +
        "FROM ue CROSS JOIN c) WHERE rn = 1), " +
        "e2 AS (SELECT sa.vec_id, sa.cluster, ue.embedding FROM sa JOIN ue USING (vec_id)), " +
        "pp AS (SELECT a.vec_id AS vid, " +
        "max(CAST(floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b2.embedding AS DOUBLE[])) * 1000000) AS BIGINT)) AS nn " +
        "FROM e2 a JOIN e2 b2 ON a.cluster = b2.cluster AND b2.vec_id < a.vec_id GROUP BY a.vec_id), " +
        "surv AS (SELECT cls.doc_id, cls.lang, cls.score_milli FROM cls LEFT JOIN pp ON pp.vid = cls.doc_id " +
        "WHERE pp.nn IS NULL OR pp.nn < 950000), " +
        "cc AS (SELECT lang, count(*) AS cn FROM surv GROUP BY lang), " +
        "tot AS (SELECT CAST(sum(cn) AS BIGINT) AS n FROM cc), " +
        "sh AS (SELECT * FROM (VALUES ('en', CAST(0.3 AS DOUBLE)), ('zh', CAST(0.3 AS DOUBLE)), " +
        "('de', CAST(0.2 AS DOUBLE))) s(lang, share)), " +
        "f AS (SELECT cc.lang, sh.share * CAST(n AS DOUBLE) / CAST(cn AS DOUBLE) AS epochs FROM cc JOIN sh USING (lang) CROSS JOIN tot), " +
        "g2 AS (SELECT lang, CAST(floor(epochs) AS INT) AS n_full, CAST(round((epochs - floor(epochs)) * 4294967296.0) AS BIGINT) AS thresh FROM f), " +
        "p1 AS (SELECT s2.doc_id, s2.lang, s2.score_milli, g2.n_full, g2.thresh, " +
        "((((s2.doc_id % 2147483648) + 2147483648) % 2147483648) + 27) % 2147483648 AS s0 FROM surv s2 JOIN g2 USING (lang)), " +
        "h1c AS (SELECT *, (s0 * 2654435761) % 4294967296 AS h1 FROM p1), " +
        "m1c AS (SELECT *, xor(h1, h1 >> 16) AS m1 FROM h1c), " +
        "q1 AS (SELECT doc_id, lang, score_milli, n_full + CASE WHEN ((m1 % 2147483648) * 2246822519) % 4294967296 < thresh THEN 1 ELSE 0 END AS ne FROM m1c), " +
        "ex AS (SELECT doc_id, lang, score_milli, CAST(i AS INT) AS epoch FROM q1, unnest(range(ne)) AS t(i) WHERE ne > 0), " +
        "p2 AS (SELECT *, ((((doc_id % 2147483648) + 2147483648) % 2147483648) + 29) % 2147483648 AS s0b FROM ex), " +
        "h2 AS (SELECT *, (s0b * 2654435761) % 4294967296 AS h1b FROM p2), " +
        "m2 AS (SELECT *, xor(h1b, h1b >> 16) AS m1b FROM h2), " +
        "q2 AS (SELECT doc_id, lang, score_milli, epoch, ((m1b % 2147483648) * 2246822519) % 4294967296 AS hv FROM m2) " +
        "SELECT doc_id, lang, epoch, CASE WHEN hv < 3865470566 THEN 'train' WHEN hv < 4080218931 THEN 'val' ELSE 'test' END AS split, score_milli " +
        "FROM q2 ORDER BY doc_id, epoch"),
    // classifier twin: same pseudo-random milli-weight table, the fnv chain
    // replayed per WORD (unsigned HUGEINT % 4096 == the signed nonneg
    // residue because 4096 divides 2^64), integer sum + bias
    "q_quality_classifier" ->
      ("WITH w AS (SELECT CAST(i AS INT) AS bucket, (i * 2654435761) % 4097 - 2048 AS wm FROM unnest(range(4096)) t(i)), " +
        "tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> length(x) > 0)) AS word FROM documents), " +
        s"b AS (SELECT doc_id, CAST(${fnvSql("word")} % 4096 AS INT) AS bucket FROM tok), " +
        "g AS (SELECT doc_id, CAST(count(*) AS INT) AS n_tokens, CAST(sum(coalesce(w.wm, 0)) + 100 AS BIGINT) AS score_milli " +
        "FROM b LEFT JOIN w USING (bucket) GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(g.n_tokens, 0) AS n_tokens, CAST(coalesce(g.score_milli, 100) AS BIGINT) AS score_milli, " +
        "coalesce(g.score_milli, 100) >= 0 AS keep FROM documents d LEFT JOIN g USING (doc_id) ORDER BY d.doc_id"),
    // gopher-quality twin: identical integer rule arithmetic (milli mean via
    // floor division, cross-multiplied fractions, char-wise symbol counts
    // with the three-dot ellipsis counted once per triple)
    "q_gopher_quality" ->
      ("WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS w FROM documents), " +
        "b AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, " +
        "CAST(coalesce(list_aggregate(list_transform(w, x -> CAST(length(x) AS BIGINT)), 'sum'), 0) AS BIGINT) AS n_chars, " +
        "CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha_words, " +
        "array_to_string(w, ' ') AS joined, " +
        "CAST(len(list_filter(w, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop FROM t), " +
        "c AS (SELECT doc_id, n_words, " +
        "CASE WHEN n_words > 0 THEN n_chars * 1000 // n_words ELSE 0 END AS mean_len_milli, " +
        "n_alpha_words, " +
        "CAST(length(joined) - length(regexp_replace(joined, '#|…', '', 'g')) + " +
        "(length(joined) - length(regexp_replace(joined, '\\.\\.\\.', '', 'g'))) // 3 AS BIGINT) AS n_symbols, " +
        "n_stop FROM b) " +
        "SELECT doc_id, n_words, mean_len_milli, n_alpha_words, n_symbols, n_stop, " +
        "n_words >= 50 AND n_words <= 100000 AS ok_words, " +
        "mean_len_milli >= 3000 AND mean_len_milli <= 10000 AS ok_mean_len, " +
        "n_alpha_words * 5 >= n_words * 4 AS ok_alpha, " +
        "n_symbols * 10 <= n_words AS ok_symbols, " +
        "n_stop >= 2 AS ok_stop, " +
        "(n_words >= 50 AND n_words <= 100000 AND mean_len_milli >= 3000 AND mean_len_milli <= 10000 " +
        "AND n_alpha_words * 5 >= n_words * 4 AND n_symbols * 10 <= n_words AND n_stop >= 2) AS keep " +
        "FROM c ORDER BY doc_id"),
    // tfidf twin: per-doc tf, corpus df over the (doc, word) pairs, integer
    // idf bits via bin(N // df), identical (score desc, word asc) rank rule
    "q_tfidf_keywords" ->
      ("WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word FROM documents), " +
        "tk AS (SELECT doc_id, word FROM tok WHERE length(word) > 0), " +
        "tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY doc_id, word), " +
        "dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY word), " +
        "nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents), " +
        "idf AS (SELECT word, CAST(length(bin(n // df)) AS BIGINT) AS idf_bits FROM dfq, nd), " +
        "sc AS (SELECT doc_id, tf.word, tf, idf_bits, tf * idf_bits AS score FROM tf JOIN idf USING (word)), " +
        "r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word ASC) AS INT) AS rank FROM sc) " +
        "SELECT doc_id, rank, word, tf, idf_bits, score FROM r WHERE rank <= 3 ORDER BY doc_id, rank"),
    // curation-v3 twin: the gopher rule chain at minWords=40, survivor-only
    // language counts -> least(1, 0.2·N/c) fractions, the salt-17 keep and
    // salt-23 split hashes (cut points round(0.9·2^32)=3865470566 and
    // round(0.95·2^32)=4080218931), token counts on what survives
    "q_curation_v3" ->
      ("WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS w FROM documents), " +
        "b AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, " +
        "CAST(coalesce(list_aggregate(list_transform(w, x -> CAST(length(x) AS BIGINT)), 'sum'), 0) AS BIGINT) AS n_chars, " +
        "CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha_words, " +
        "array_to_string(w, ' ') AS joined, " +
        "CAST(len(list_filter(w, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop FROM t), " +
        "g AS (SELECT doc_id, n_words, " +
        "CASE WHEN n_words > 0 THEN n_chars * 1000 // n_words ELSE 0 END AS mlm, " +
        "n_alpha_words, " +
        "CAST(length(joined) - length(regexp_replace(joined, '#|…', '', 'g')) + " +
        "(length(joined) - length(regexp_replace(joined, '\\.\\.\\.', '', 'g'))) // 3 AS BIGINT) AS n_symbols, " +
        "n_stop FROM b), " +
        "k AS (SELECT doc_id FROM g WHERE n_words >= 40 AND n_words <= 100000 " +
        "AND mlm >= 3000 AND mlm <= 10000 AND n_alpha_words * 5 >= n_words * 4 " +
        "AND n_symbols * 10 <= n_words AND n_stop >= 2), " +
        "kd AS (SELECT d.doc_id, d.text, d.lang FROM documents d JOIN k USING (doc_id)), " +
        "cc AS (SELECT lang, count(*) AS c FROM kd GROUP BY lang), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cc), " +
        "f AS (SELECT lang, least(CAST(1.0 AS DOUBLE), " +
        "CAST(0.2 AS DOUBLE) * CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) AS frac FROM cc, tot), " +
        "h1 AS (SELECT kd.*, ((((doc_id % 2147483648) + 2147483648) % 2147483648) + 17) % 2147483648 AS s0 FROM kd), " +
        "h2 AS (SELECT *, (s0 * 2654435761) % 4294967296 AS ha FROM h1), " +
        "h3 AS (SELECT *, xor(ha, ha >> 16) AS m1 FROM h2), " +
        "h4 AS (SELECT doc_id, text, lang, ((m1 % 2147483648) * 2246822519) % 4294967296 AS hv FROM h3), " +
        "bal AS (SELECT h4.doc_id, h4.text, h4.lang FROM h4 JOIN f USING (lang) " +
        "WHERE hv < round(f.frac * 4294967296.0)), " +
        "s1 AS (SELECT *, ((((doc_id % 2147483648) + 2147483648) % 2147483648) + 23) % 2147483648 AS s0 FROM bal), " +
        "s2 AS (SELECT *, (s0 * 2654435761) % 4294967296 AS ha FROM s1), " +
        "s3 AS (SELECT *, xor(ha, ha >> 16) AS m1 FROM s2), " +
        "s4 AS (SELECT doc_id, text, lang, ((m1 % 2147483648) * 2246822519) % 4294967296 AS hv FROM s3) " +
        "SELECT doc_id, lang, CASE WHEN hv < 3865470566 THEN 'train' " +
        "WHEN hv < 4080218931 THEN 'val' ELSE 'test' END AS split, " +
        "CASE WHEN length(trim(text)) = 0 THEN 0 " +
        "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens " +
        "FROM s4 ORDER BY doc_id"),
    // bpe twin: distinct-word frequencies, 1-based substr pairs over words of
    // length >= 2, weighted sums, the same (count desc, lhs, rhs) rank rule
    // and top-32 cut
    "q_bpe_pairs" ->
      ("WITH w AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word FROM documents), " +
        "ww AS (SELECT word FROM w WHERE length(word) > 0), " +
        "wc AS (SELECT word, count(*) AS f FROM ww GROUP BY word), " +
        "pr AS (SELECT substr(word, CAST(i AS INT), 1) AS lhs, substr(word, CAST(i AS INT) + 1, 1) AS rhs, f " +
        "FROM wc, unnest(range(1, length(word))) u(i) WHERE length(word) >= 2), " +
        "pc AS (SELECT lhs, rhs, CAST(sum(f) AS BIGINT) AS pair_count FROM pr GROUP BY lhs, rhs), " +
        "r AS (SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, lhs ASC, rhs ASC) AS INT) AS merge_rank, " +
        "lhs, rhs, pair_count FROM pc) " +
        "SELECT merge_rank, lhs, rhs, pair_count FROM r WHERE merge_rank <= 32 ORDER BY merge_rank"),
    // perplexity-bucket twin: the q_surprisal CTE chain, integer
    // milli-bits/token, exact terciles via the q_token_distribution rank rule
    // over the bpt histogram, CASE bucket, then the two-round salt-11 hash
    // against round(f * 2^32) thresholds (head 4294967296 / middle 2147483648
    // / tail 429496730)
    "q_perplexity_buckets" ->
      ("WITH w AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word FROM documents), " +
        "ww AS (SELECT word FROM w WHERE length(word) > 0), " +
        "c AS (SELECT word, count(*) AS c FROM ww GROUP BY word), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM c), " +
        "v AS (SELECT word, length(bin(n_total // c)) AS bits FROM c, tot ORDER BY c DESC, word ASC LIMIT 256), " +
        "dt AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word FROM documents), " +
        "dd AS (SELECT doc_id, word FROM dt WHERE length(word) > 0), " +
        "sc AS (SELECT dd.doc_id, CASE WHEN v.bits IS NULL THEN (SELECT length(bin(n_total)) + 1 FROM tot) ELSE v.bits END AS tb " +
        "FROM dd LEFT JOIN v USING (word)), " +
        "g AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(tb) AS BIGINT) AS sb FROM sc GROUP BY doc_id), " +
        "b AS (SELECT d.doc_id, CAST(coalesce(g.n_tokens, 0) AS BIGINT) AS n_tokens, " +
        "CASE WHEN coalesce(g.n_tokens, 0) > 0 THEN (g.sb * 1000) // g.n_tokens END AS bpt_milli " +
        "FROM documents d LEFT JOIN g USING (doc_id)), " +
        "hh AS (SELECT bpt_milli, count(*) AS c2 FROM b WHERE n_tokens > 0 GROUP BY bpt_milli), " +
        "cw AS (SELECT bpt_milli, sum(c2) OVER (ORDER BY bpt_milli) AS cum, sum(c2) OVER () AS n FROM hh), " +
        "tt AS (SELECT min(CASE WHEN cum >= (n + 2) // 3 THEN bpt_milli END) AS t33, " +
        "min(CASE WHEN cum >= (2 * n + 2) // 3 THEN bpt_milli END) AS t66 FROM cw), " +
        "p2 AS (SELECT b.*, ((((doc_id % 2147483648) + 2147483648) % 2147483648) + 11) % 2147483648 AS s0 FROM b), " +
        "h2 AS (SELECT *, (s0 * 2654435761) % 4294967296 AS h1 FROM p2), " +
        "m2 AS (SELECT *, xor(h1, h1 >> 16) AS m1 FROM h2), " +
        "q2 AS (SELECT doc_id, n_tokens, bpt_milli, ((m1 % 2147483648) * 2246822519) % 4294967296 AS hv FROM m2), " +
        "f AS (SELECT q2.*, CASE WHEN n_tokens = 0 THEN 'empty' WHEN bpt_milli <= tt.t33 THEN 'head' " +
        "WHEN bpt_milli <= tt.t66 THEN 'middle' ELSE 'tail' END AS bucket FROM q2, tt) " +
        "SELECT doc_id, n_tokens, bpt_milli, bucket, " +
        "CASE WHEN bucket = 'empty' THEN false WHEN bucket = 'head' THEN hv < 4294967296 " +
        "WHEN bucket = 'middle' THEN hv < 2147483648 ELSE hv < 429496730 END AS keep " +
        "FROM f ORDER BY doc_id"),
    // split twin: the TWO-ROUND salted hash (Knuth round -> xor-shift fold ->
    // xxhash-prime round — one linear round merely rotates under a salt, see
    // Sampling.saltedHash), then cumulative thresholds round(0.8 * 2^32) =
    // 3435973837 and round(0.9 * 2^32) = 3865470566, last range open-ended
    // (the Spark side pins the final boundary to 2^32)
    "q_split_assign" ->
      ("WITH p AS (SELECT doc_id, ((((doc_id % 2147483648) + 2147483648) % 2147483648) + 7) % 2147483648 AS s0 FROM documents), " +
        "h AS (SELECT doc_id, (s0 * 2654435761) % 4294967296 AS h1 FROM p), " +
        "m AS (SELECT doc_id, xor(h1, h1 >> 16) AS m1 FROM h), " +
        "q AS (SELECT doc_id, ((m1 % 2147483648) * 2246822519) % 4294967296 AS hv FROM m) " +
        "SELECT doc_id, CASE WHEN hv < 3435973837 THEN 'train' WHEN hv < 3865470566 THEN 'val' " +
        "ELSE 'test' END AS split FROM q ORDER BY doc_id"),
    // rebalance twin: per-language counts -> keep_frac = least(1, share·N/c)
    // composed in the same IEEE op order as the Scala driver literal
    // (share * total, then / count), then the identical two-round salt-13
    // hash against the per-row round(frac * 2^32) — the q_sample_weighted
    // round-vs-math.round equivalence.
    "q_domain_mix" ->
      ("WITH cc AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cc), " +
        "f AS (SELECT lang, least(CAST(1.0 AS DOUBLE), " +
        "CAST(0.2 AS DOUBLE) * CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) AS keep_frac FROM cc, tot), " +
        "p AS (SELECT doc_id, lang, ((((doc_id % 2147483648) + 2147483648) % 2147483648) + 13) % 2147483648 AS s0 FROM documents), " +
        "h AS (SELECT doc_id, lang, (s0 * 2654435761) % 4294967296 AS h1 FROM p), " +
        "m AS (SELECT doc_id, lang, xor(h1, h1 >> 16) AS m1 FROM h), " +
        "q AS (SELECT doc_id, lang, ((m1 % 2147483648) * 2246822519) % 4294967296 AS hv FROM m) " +
        "SELECT q.doc_id, q.lang, f.keep_frac, hv < round(f.keep_frac * 4294967296.0) AS keep " +
        "FROM q JOIN f USING (lang) ORDER BY q.doc_id"),
    // chat-render twin: same template as a string concat, offsets via the
    // same cumulative window, doc_md5 over the ordered string_agg
    "q_render_chat" ->
      ("WITH t AS (SELECT doc_id // 10 AS conv_id, CAST(doc_id % 10 AS INT) AS turn_idx, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'system' WHEN doc_id % 3 = 1 THEN 'user' ELSE 'assistant' END AS role, text FROM documents), " +
        "r AS (SELECT *, '<|' || role || '|>' || chr(10) || text || chr(10) AS seg FROM t), " +
        "o AS (SELECT conv_id, turn_idx, role, " +
        "CAST(coalesce(SUM(length(seg)) OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS char_start, " +
        "CAST(length(seg) AS BIGINT) AS seg_len, role <> 'assistant' AS mask FROM r), " +
        "d AS (SELECT conv_id, md5(string_agg(seg, '' ORDER BY turn_idx)) AS doc_md5 FROM r GROUP BY conv_id) " +
        "SELECT o.conv_id, o.turn_idx, o.role, o.char_start, o.char_start + o.seg_len AS char_end, o.mask, d.doc_md5 " +
        "FROM o JOIN d USING (conv_id) ORDER BY conv_id, turn_idx"),
    // epoch-mix twin: counts + uncapped IEEE epochs (share*total/avail in
    // the same op order), floor/fractional split, the salt-21 hash chain,
    // epochs generated by range()
    "q_epoch_mix" ->
      ("WITH cc AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cc), " +
        "sh AS (SELECT * FROM (VALUES ('zh', CAST(0.5 AS DOUBLE)), ('en', CAST(0.05 AS DOUBLE))) s(lang, share)), " +
        "f AS (SELECT cc.lang, sh.share * CAST(n AS DOUBLE) / CAST(c AS DOUBLE) AS epochs FROM cc JOIN sh USING (lang) CROSS JOIN tot), " +
        "g AS (SELECT lang, CAST(floor(epochs) AS INT) AS n_full, CAST(round((epochs - floor(epochs)) * 4294967296.0) AS BIGINT) AS thresh FROM f), " +
        "p AS (SELECT d.doc_id, d.lang, g.n_full, g.thresh, ((((d.doc_id % 2147483648) + 2147483648) % 2147483648) + 21) % 2147483648 AS s0 FROM documents d JOIN g USING (lang)), " +
        "h AS (SELECT *, (s0 * 2654435761) % 4294967296 AS h1 FROM p), " +
        "m AS (SELECT *, xor(h1, h1 >> 16) AS m1 FROM h), " +
        "q AS (SELECT doc_id, lang, n_full + CASE WHEN ((m1 % 2147483648) * 2246822519) % 4294967296 < thresh THEN 1 ELSE 0 END AS ne FROM m) " +
        "SELECT doc_id, lang, CAST(i AS INT) AS epoch FROM q, unnest(range(ne)) AS t(i) WHERE ne > 0 ORDER BY doc_id, epoch"),
    // streaming rebalance twin: identical CASE arithmetic at salt 17 with
    // en/de/fr targeted and everything else share 0 (left join + coalesce)
    "q_stream_rebalance" ->
      ("WITH cc AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cc), " +
        "sh AS (SELECT * FROM (VALUES ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.3 AS DOUBLE)), " +
        "('fr', CAST(0.1 AS DOUBLE))) s(lang, share)), " +
        "f AS (SELECT cc.lang, least(CAST(1.0 AS DOUBLE), " +
        "coalesce(sh.share, CAST(0.0 AS DOUBLE)) * CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) AS keep_frac " +
        "FROM cc CROSS JOIN tot LEFT JOIN sh USING (lang)), " +
        "p AS (SELECT doc_id, lang, ((((doc_id % 2147483648) + 2147483648) % 2147483648) + 17) % 2147483648 AS s0 FROM documents), " +
        "h AS (SELECT doc_id, lang, (s0 * 2654435761) % 4294967296 AS h1 FROM p), " +
        "m AS (SELECT doc_id, lang, xor(h1, h1 >> 16) AS m1 FROM h), " +
        "q AS (SELECT doc_id, lang, ((m1 % 2147483648) * 2246822519) % 4294967296 AS hv FROM m) " +
        "SELECT q.doc_id, q.lang, f.keep_frac, hv < round(f.keep_frac * 4294967296.0) AS keep " +
        "FROM q JOIN f USING (lang) ORDER BY q.doc_id"),
    // chunk twin: same whitespace-split token convention as q_token_count,
    // same window arithmetic (stride 56 = 64 - 8; nChunks = 1 + ceil(max(0,
    // n-64)/56) spelled as integer division); list_slice clamps past the end
    // exactly like Spark's slice
    "q_chunk_docs" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "c AS (SELECT doc_id, w, len(w) AS n, 1 + (greatest(len(w) - 64, 0) + 55) // 56 AS k FROM t), " +
        "e AS (SELECT doc_id, w, n, unnest(range(k)) AS ci FROM c) " +
        "SELECT doc_id, CAST(ci AS INT) AS chunk_idx, " +
        "array_to_string(list_slice(w, CAST(ci * 56 + 1 AS INT), CAST(ci * 56 + 64 AS INT)), ' ') AS chunk_text, " +
        "CAST(least(n - ci * 56, 64) AS INT) AS n_tokens " +
        "FROM e ORDER BY doc_id, chunk_idx"),
    // pack twin: replays the chunk CTE, then the two-round multiply-fold-xor
    // shuffle position (pmod spelled ((x % m) + m) % m; every product under
    // 2^63 by the 2^31 pre-fold), then the shard-local cumulative-sum packing
    // window — SUM over ROWS UNBOUNDED PRECEDING TO 1 PRECEDING, order
    // (pos, doc_id, chunk_idx), integer-divided by the 256-token capacity
    "q_pack_sequences" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "c AS (SELECT doc_id, len(w) AS n, 1 + (greatest(len(w) - 64, 0) + 55) // 56 AS k FROM t), " +
        "e AS (SELECT doc_id, n, unnest(range(k)) AS ci FROM c), " +
        "x AS (SELECT doc_id, CAST(ci AS INT) AS chunk_idx, CAST(least(n - ci * 56, 64) AS INT) AS n_tokens FROM e), " +
        "p AS (SELECT *, ((((doc_id % 2147483648) + 2147483648) % 2147483648) + 42) % 2147483648 AS s0 FROM x), " +
        "h AS (SELECT *, (s0 * 2654435761) % 4294967296 AS h1 FROM p), " +
        "m AS (SELECT *, xor(h1, h1 >> 16) AS m1 FROM h), " +
        "q AS (SELECT doc_id, chunk_idx, n_tokens, ((m1 % 2147483648) * 2246822519) % 4294967296 AS pos FROM m), " +
        "r AS (SELECT *, CAST(pos % 8 AS INT) AS shard FROM q), " +
        "f AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard " +
        "ORDER BY pos, doc_id, chunk_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before FROM r) " +
        "SELECT doc_id, chunk_idx, n_tokens, shard, pos, tokens_before, tokens_before // 256 AS seq_id " +
        "FROM f ORDER BY doc_id, chunk_idx"),
    "q_cosine_near_dup" ->
      ("WITH u AS (SELECT vec_id AS id, embedding AS e FROM embeddings " +
        "UNION ALL SELECT vec_id + 10000, embedding FROM embeddings) " +
        "SELECT a.id AS id_a, b.id AS id_b FROM u a JOIN u b ON a.e = b.e AND a.id < b.id ORDER BY id_a, id_b"),
    "q_pdf_roundtrip" ->
      "SELECT doc_id, text AS extracted_text FROM documents ORDER BY doc_id",
    // chars-mode twin: one diagnostic line per character of the text, rebuilt
    // from the text alone (single-Tj page => constant font and matrix; the
    // corpus alphabet needs no Rust char escaping)
    "q_pdf_chars" ->
      ("WITH c AS (SELECT doc_id, CAST(p AS INT) AS pos, " +
        "substr(text, CAST(p AS INT) + 1, 1) AS ch " +
        "FROM (SELECT doc_id, text, unnest(range(0, length(text))) AS p FROM documents)) " +
        "SELECT doc_id, pos, '''' || ch || ''', \"Type1\", \"Helvetica\", (1, 0, 0, 1, 70, 50)' AS line " +
        "FROM c ORDER BY doc_id, pos"),
    // pages = 100-char slices, each with its leading ' '/'\n' run trimmed
    // (content.rs:950), joined with "\n" (body.rs:413-419)
    "q_pdf_multipage" ->
      ("WITH c AS (SELECT doc_id, list_transform(" +
        "range(0, CAST(ceil(greatest(length(text), 1) / 100.0) AS BIGINT)), " +
        "i -> regexp_replace(substr(text, CAST(i * 100 + 1 AS INT), 100), '^[ \\n]+', '')) AS chunks " +
        "FROM documents) " +
        "SELECT doc_id, array_to_string(chunks, chr(10)) AS extracted_text FROM c ORDER BY doc_id"),
    "q_pdf_spans" ->
      ("WITH s AS (SELECT doc_id, length(text) AS len, " +
        "unnest(range(0, CAST(ceil(length(text) / 40.0) AS BIGINT))) AS i FROM documents) " +
        "SELECT doc_id, CAST(i AS INT) AS span_idx, CAST(ceil(len / 40.0) AS INT) AS n_spans, " +
        "'Tj' AS span_op, CAST(i * 40 AS INT) AS span_start, " +
        "CAST(least((i + 1) * 40, len) AS INT) AS span_end " +
        "FROM s ORDER BY doc_id, span_idx"),
    "q_pdf_rawcontent" ->
      "SELECT doc_id, 'BT' || chr(10) || '70 50 TD' || chr(10) || '/F1 12 Tf' || chr(10) || '(' || replace(replace(replace(text, '\\', '\\\\'), '(', '\\('), ')', '\\)') || ') Tj' || chr(10) || 'ET' || chr(10) AS raw_content FROM documents ORDER BY doc_id",
    "q_pdf_info" ->
      "SELECT doc_id, substr(text, 1, 24) AS title, 'graft' AS author, 'minipdf' AS creator FROM documents ORDER BY doc_id",
    "q_html_strip" ->
      "SELECT doc_id, text AS extracted_text FROM documents ORDER BY doc_id",
    "q_plain_identity" ->
      "SELECT doc_id, text AS extracted_text, true AS ok FROM documents ORDER BY doc_id",
    "q_pdf_lenient_roundtrip" ->
      "SELECT doc_id, text AS extracted_text, 'pdf-lenient' AS payload_kind, true AS ok FROM documents ORDER BY doc_id",
    "q_pdf_filters_lenient" ->
      "SELECT doc_id, text AS extracted_text, 'pdf-lenient' AS payload_kind, true AS ok FROM documents ORDER BY doc_id",
    "q_pdf_info_encrypted" ->
      "SELECT doc_id, substr(text, 1, 24) AS title, 'graft' AS author, 'minipdf' AS creator FROM documents ORDER BY doc_id",
    "q_pdf_password_lenient" ->
      "SELECT doc_id, text AS extracted_text, true AS ok FROM documents ORDER BY doc_id",
    // dict dims AND pixel-decoded dims both replay the doc_id formula; a JPEG
    // encode or DCT decode defect would break px_width/px_height equality
    "q_pdf_dct_lenient" ->
      ("SELECT doc_id, 1 AS n_images, CAST(8 + doc_id % 9 AS INT) AS img_width, " +
        "CAST(8 + doc_id % 7 AS INT) AS img_height, " +
        "CAST(8 + doc_id % 9 AS INT) AS px_width, " +
        "CAST(8 + doc_id % 7 AS INT) AS px_height, 8 AS bits, " +
        "'DeviceGray' AS colorspace, text AS extracted_text " +
        "FROM documents ORDER BY doc_id"),
    "q_pdf_encrypted_lenient" ->
      "SELECT doc_id, text AS extracted_text, 'pdf-lenient' AS payload_kind, true AS ok FROM documents ORDER BY doc_id",
    // 40-char slices, one `'`/`"` move-show per slice -> newline-joined; the
    // page trim eats any leading ' '/'\n' run of the whole output
    "q_pdf_textops_lenient" ->
      ("WITH c AS (SELECT doc_id, list_transform(" +
        "range(0, CAST(ceil(length(text) / 40.0) AS BIGINT)), " +
        "i -> substr(text, CAST(i * 40 + 1 AS INT), 40)) AS chunks FROM documents) " +
        "SELECT doc_id, regexp_replace(array_to_string(chunks, chr(10)), '^[ \\n]+', '') AS extracted_text, " +
        "'pdf-lenient-text' AS payload_kind, true AS ok FROM c ORDER BY doc_id"),
    "q_token_count" ->
      "SELECT doc_id, CASE WHEN length(trim(text))=0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens, CASE WHEN length(trim(text))=0 THEN 0 ELSE CAST(list_aggregate(list_transform(regexp_split_to_array(trim(text), '\\s+'), w -> CAST(ceil(length(w)/4.0) AS INT)), 'sum') AS INT) END AS bpe_tokens, length(text) AS n_chars_obs FROM documents ORDER BY doc_id",
    "q_quality_counts" ->
      "SELECT doc_id, length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha, length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit, length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS n_punct, len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), w -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], w))) AS n_stop FROM documents ORDER BY doc_id",
    "q_dedup_exact" ->
      "SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS dup_count FROM (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, text FROM documents) GROUP BY md5(text) ORDER BY text_hash",
    // span-dedup twin: same 8-token segmentation (ceil via integer division),
    // distinct-doc counts, keeper = global first occurrence replayed as
    // row_number over (doc_id, seg_idx) — identical to Spark's min(struct) —
    // and ordered string_agg reassembly (skips removed-segment NULLs exactly
    // like collect_list); zero-token docs come back via the left join
    "q_dedup_segments" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "c AS (SELECT doc_id, w, (len(w) + 7) // 8 AS k FROM t), " +
        "seg AS (SELECT doc_id, CAST(ci AS INT) AS seg_idx, " +
        "array_to_string(list_slice(w, CAST(ci * 8 + 1 AS INT), CAST(ci * 8 + 8 AS INT)), ' ') AS s " +
        "FROM c, unnest(range(k)) AS u(ci)), " +
        "st AS (SELECT s, count(DISTINCT doc_id) AS nd FROM seg GROUP BY s), " +
        "rk AS (SELECT doc_id, seg_idx, s, row_number() OVER (PARTITION BY s ORDER BY doc_id, seg_idx) AS rn FROM seg), " +
        "m AS (SELECT rk.doc_id, rk.seg_idx, rk.s, (st.nd >= 2 AND rk.rn > 1) AS rm FROM rk JOIN st USING (s)), " +
        "g AS (SELECT doc_id, CAST(count(*) AS INT) AS n_segments, " +
        "CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS INT) AS n_removed, " +
        "string_agg(CASE WHEN NOT rm THEN s END, ' ' ORDER BY seg_idx) AS text_clean FROM m GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(g.text_clean, '') AS text_clean, " +
        "coalesce(g.n_segments, 0) AS n_segments, coalesce(g.n_removed, 0) AS n_removed " +
        "FROM documents d LEFT JOIN g USING (doc_id) ORDER BY d.doc_id"),
    // training-mix twin: the keeper stage is REPLAYED (min doc_id per text
    // hash over the planted-dupe union — no uniqueness assumption about the
    // generator's texts), score/tokens from the exact integer formulas with a
    // null-score guard matching TopKPairs' null skip, the TopKPairs stage as
    // a row_number window, cumulative budget as a running sum over rank
    "q_training_mix" ->
      ("WITH keep AS (SELECT min(doc_id) AS doc_id FROM " +
        "(SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, text FROM documents) " +
        "GROUP BY md5(text)), " +
        "kd AS (SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)), " +
        "sc AS (SELECT doc_id, text, CAST(doc_id % 7 AS INT) AS source, " +
        "CAST((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 2 " +
        "+ len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), " +
        "w -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], w))) * 10 " +
        "- (length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))) AS INT) AS score " +
        "FROM kd), " +
        "rk AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rnk " +
        "FROM sc WHERE score IS NOT NULL), " +
        "top AS (SELECT source, CAST(rnk AS INT) AS rank, doc_id, score, " +
        "CAST(CASE WHEN length(trim(text))=0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS INT) AS n_tokens " +
        "FROM rk WHERE rnk <= 5) " +
        "SELECT source, rank, doc_id, score, n_tokens, " +
        "CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY rank " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens " +
        "FROM top ORDER BY source, rank"),
    // Same URL-then-email-then-digit-run replacement chain; the regexes use the
    // RE2/Java-common subset so both engines match identically.
    "q_redact_pii" ->
      ("SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(" +
        "text || ' contact user@example.com via https://example.com/a?b=1 or +12025550000', " +
        "'https?://[^\\s]+', '<URL>', 'g'), " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)+', '<EMAIL>', 'g'), " +
        "'\\+?[0-9]{7,15}', '<PHONE>', 'g') AS redacted FROM documents ORDER BY doc_id"),
    "q_repetition_counts" ->
      ("WITH d AS (SELECT doc_id, text || chr(10) || text || chr(10) || 'unique tail line' AS t FROM documents), " +
        "x AS (SELECT doc_id, " +
        "list_filter(regexp_split_to_array(trim(t), '\\s+'), w -> length(w) > 0) AS ws, " +
        "list_filter(string_split(t, chr(10)), l -> length(trim(l)) > 0) AS ls FROM d) " +
        "SELECT doc_id, CAST(len(ws) AS INT) AS n_words, CAST(len(list_distinct(ws)) AS INT) AS n_distinct_words, " +
        "CAST(len(ls) AS INT) AS n_lines, CAST(len(list_distinct(ls)) AS INT) AS n_distinct_lines " +
        "FROM x ORDER BY doc_id"),
    // the plain branch's payload is sanitized on the Spark side (see the query)
    // so every branch's sniff class holds by construction on any corpus
    "q_sniff_route" ->
      ("SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'plain' WHEN doc_id % 3 = 1 THEN 'html' " +
        "ELSE 'pdf' END AS payload_kind, " +
        "CASE WHEN doc_id % 3 = 0 THEN 't ' || replace(text, '<', '(') ELSE text END AS extracted_text, " +
        "true AS ok FROM documents ORDER BY doc_id"),
    // Composed: dedup keepers (min id per text), 'en' argmax with langId's
    // first-profile-wins tie rule (en = greatest), >= 5 words, redaction chain.
    "q_curation_pipeline" ->
      ("WITH u AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, text FROM documents), " +
        "k AS (SELECT min(doc_id) AS doc_id FROM u GROUP BY text), " +
        "kept AS (SELECT u.doc_id, u.text FROM u JOIN k USING (doc_id)), " +
        "w AS (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS ws FROM kept), " +
        "sc AS (SELECT doc_id, text, " +
        "len(list_filter(ws, x -> list_contains(['the','and','of','to','in','is','that','it','was','for','with','as'], x))) AS en, " +
        "len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','von','zu','den'], x))) AS de, " +
        "len(list_filter(ws, x -> list_contains(['le','la','les','et','est','un','une','des','du','que','pour','dans'], x))) AS fr, " +
        "len(list_filter(ws, x -> list_contains(['el','la','los','las','y','es','un','una','de','que','por','con'], x))) AS es, " +
        "len(list_filter(ws, x -> list_contains(['il','la','di','e','che','un','una','per','sono','del','con','non'], x))) AS it " +
        "FROM w), " +
        "l AS (SELECT doc_id, text FROM sc WHERE greatest(en,de,fr,es,it) > 0 AND en = greatest(en,de,fr,es,it)), " +
        "q AS (SELECT doc_id, text FROM l WHERE " +
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> length(x) > 0)) >= 5) " +
        "SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text, " +
        "'https?://[^\\s]+', '<URL>', 'g'), " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)+', '<EMAIL>', 'g'), " +
        "'\\+?[0-9]{7,15}', '<PHONE>', 'g') AS redacted FROM q ORDER BY doc_id"),
    "q_ann_brute" ->
      "WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10), s AS (SELECT q.qid AS query_id, e.vec_id AS neighbor_id, list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid) SELECT query_id, rank, neighbor_id FROM (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM s) WHERE rank <= 5 ORDER BY query_id, rank",
    // Exact top-k cosine over EXACTLY the probe's dumped candidate universe
    // (same DOUBLE[] cosine + row_number tie-break as the brute twin); which
    // cells were probed is the approximate part and is spec-gated, not here.
    "q_ann_ivf" ->
      (s"WITH c AS (SELECT query_id, candidate_id FROM read_parquet('$IvfCandidatesPath/*.parquet')), " +
        "s AS (SELECT c.query_id, c.candidate_id AS neighbor_id, " +
        "list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(ne.embedding AS DOUBLE[])) AS sim " +
        "FROM c JOIN embeddings qe ON qe.vec_id = c.query_id JOIN embeddings ne ON ne.vec_id = c.candidate_id) " +
        "SELECT query_id, rank, neighbor_id FROM (SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM s) " +
        "WHERE rank <= 5 ORDER BY query_id, rank"),
    // kmeans twin: argmax cosine over the dumped centroids, identical
    // (sim desc, cluster asc) tie order — the same DOUBLE[] cosine as the
    // ANN twins
    "q_kmeans_topics" ->
      (s"WITH c AS (SELECT cluster, centroid FROM read_parquet('$KmeansCentroidsPath/*.parquet')), " +
        "s AS (SELECT e.vec_id, c.cluster, " +
        "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.centroid AS DOUBLE[])) AS sim " +
        "FROM embeddings e CROSS JOIN c) " +
        "SELECT vec_id, CAST(cluster AS INT) AS cluster FROM " +
        "(SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cluster ASC) AS rn FROM s) " +
        "WHERE rn = 1 ORDER BY vec_id"),
    // outlier twin: rank-1 centroid + floor(sim·10^6) over the same dump
    // SemDeDup twin: assignment replayed from the dumped centroids (argmax
    // cosine, ties lowest cluster), nn = max micro-quantized cosine to a
    // SMALLER-ID member of the same cluster, keep = below the micro threshold
    "q_semdedup" ->
      (s"WITH c AS (SELECT cluster, centroid FROM read_parquet('$SemDedupCentroidsPath/*.parquet')), " +
        "u AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 10000, embedding FROM embeddings), " +
        "s AS (SELECT vec_id, cluster FROM " +
        "(SELECT u.vec_id, c.cluster, " +
        "list_cosine_similarity(CAST(u.embedding AS DOUBLE[]), CAST(c.centroid AS DOUBLE[])) AS sim, " +
        "row_number() OVER (PARTITION BY u.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(u.embedding AS DOUBLE[]), CAST(c.centroid AS DOUBLE[])) DESC, c.cluster ASC) AS rn " +
        "FROM u CROSS JOIN c) WHERE rn = 1), " +
        "e2 AS (SELECT s.vec_id, s.cluster, u.embedding FROM s JOIN u USING (vec_id)), " +
        "p AS (SELECT a.vec_id AS vid, " +
        "max(CAST(floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) * 1000000) AS BIGINT)) AS nn " +
        "FROM e2 a JOIN e2 b ON a.cluster = b.cluster AND b.vec_id < a.vec_id GROUP BY a.vec_id) " +
        "SELECT s.vec_id, CAST(s.cluster AS INT) AS cluster, p.nn AS nn_sim_micro, " +
        "(p.nn IS NULL OR p.nn < 950000) AS keep " +
        "FROM s LEFT JOIN p ON p.vid = s.vec_id ORDER BY s.vec_id"),
    "q_kmeans_outliers" ->
      (s"WITH c AS (SELECT cluster, centroid FROM read_parquet('$KmeansOutlierCentroidsPath/*.parquet')), " +
        "s AS (SELECT e.vec_id, c.cluster, " +
        "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.centroid AS DOUBLE[])) AS sim " +
        "FROM embeddings e CROSS JOIN c) " +
        "SELECT vec_id, CAST(cluster AS INT) AS cluster, CAST(floor(sim * 1000000) AS BIGINT) AS sim_micro FROM " +
        "(SELECT vec_id, cluster, sim, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cluster ASC) AS rn FROM s) " +
        "WHERE rn = 1 ORDER BY vec_id"),
    // streaming kmeans twin: same replay over the stream query's own dump
    "q_stream_kmeans" ->
      (s"WITH c AS (SELECT cluster, centroid FROM read_parquet('$KmeansStreamCentroidsPath/*.parquet')), " +
        "s AS (SELECT e.vec_id, c.cluster, " +
        "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.centroid AS DOUBLE[])) AS sim " +
        "FROM embeddings e CROSS JOIN c) " +
        "SELECT vec_id, CAST(cluster AS INT) AS cluster FROM " +
        "(SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cluster ASC) AS rn FROM s) " +
        "WHERE rn = 1 ORDER BY vec_id"),
    // Header parse re-expressed over the SAME payload bytes: PNG IHDR w/h are
    // the big-endian u32s at byte offsets 16/20 (hex offsets 33/41); the JPEG
    // envelope pins SOF0 at byte offset 20, so h/w sit at hex offsets 51/55;
    // the WAV envelope pins the fmt chunk (channels LE16 @22, rate LE32 @24,
    // data length LE32 @40 — little-endian = hex pairs concatenated in
    // reverse); the MP4 envelope pins tkhd dims at bytes 116/120 (16.16 fixed
    // point: integer part = u32 // 65536). Non-media payloads take the
    // documented stub formulas.
    "q_multimodal_meta" ->
      (s"WITH m AS (SELECT doc_id, hex(payload) AS h, octet_length(payload) AS n " +
        s"FROM read_parquet('$MultimodalPayloadPath/*.parquet')), " +
        "k AS (SELECT doc_id, h, n, " +
        "(substr(h, 1, 16) = '89504E470D0A1A0A') AS is_png, " +
        "(substr(h, 1, 4) = 'FFD8') AS is_jpg, " +
        "(substr(h, 1, 8) = '52494646' AND substr(h, 17, 8) = '57415645') AS is_wav, " +
        "(substr(h, 9, 8) = '66747970') AS is_mp4 FROM m), " +
        "w AS (SELECT *, CASE WHEN is_wav THEN " +
        "('0x' || substr(h, 47, 2) || substr(h, 45, 2))::BIGINT ELSE 0 END AS wav_ch FROM k) " +
        "SELECT doc_id, " +
        "CAST(CASE WHEN is_png THEN ('0x' || substr(h, 33, 8))::BIGINT " +
        "WHEN is_jpg THEN ('0x' || substr(h, 55, 4))::BIGINT " +
        "WHEN is_wav THEN ('0x' || substr(h, 55, 2) || substr(h, 53, 2) || substr(h, 51, 2) || substr(h, 49, 2))::BIGINT " +
        "WHEN is_mp4 THEN ('0x' || substr(h, 233, 8))::BIGINT // 65536 " +
        "ELSE 1 + (n % 64) END AS INT) AS width, " +
        "CAST(CASE WHEN is_png THEN ('0x' || substr(h, 41, 8))::BIGINT " +
        "WHEN is_jpg THEN ('0x' || substr(h, 51, 4))::BIGINT " +
        "WHEN is_wav THEN wav_ch " +
        "WHEN is_mp4 THEN ('0x' || substr(h, 241, 8))::BIGINT // 65536 " +
        "ELSE 1 + (n % 37) END AS INT) AS height, " +
        "CAST(CASE WHEN is_png OR is_jpg OR is_mp4 THEN 1 " +
        "WHEN is_wav THEN ('0x' || substr(h, 87, 2) || substr(h, 85, 2) || substr(h, 83, 2) || substr(h, 81, 2))::BIGINT // (wav_ch * 2) " +
        "ELSE 1 + n // 100 END AS INT) AS frames, " +
        "CAST(n AS BIGINT) AS bytes FROM w ORDER BY doc_id"),
    // Pixel-decode twin: the Spark side synthesizes a grayscale PNG whose
    // pixel (x, y) = ((doc_id*31 + y*w + x)*7) % 256 and decodes it back with
    // javax.imageio; the oracle replays the formula directly (pixel index
    // i = y*w + x, so the stats are a GROUP BY over range(0, w*h)). Any
    // encode/decode defect breaks the hash.
    "q_multimodal_pixels" ->
      ("WITH d AS (SELECT doc_id, CAST(4 + doc_id % 13 AS INT) AS w, " +
        "CAST(3 + doc_id % 11 AS INT) AS h FROM documents), " +
        "px AS (SELECT doc_id, w, h, ((doc_id*31 + i)*7) % 256 AS v FROM " +
        "(SELECT doc_id, w, h, unnest(range(0, CAST(w AS BIGINT) * h)) AS i FROM d)) " +
        "SELECT doc_id, any_value(w) AS px_width, any_value(h) AS px_height, " +
        "CAST(sum(v) AS BIGINT) AS px_sum, CAST(min(v) AS INT) AS px_min, " +
        "CAST(max(v) AS INT) AS px_max, " +
        "CAST(count(*) FILTER (WHERE v > 127) AS BIGINT) AS px_gt127, " +
        "TRUE AS dims_match FROM px GROUP BY doc_id ORDER BY doc_id"),
    // mp4-frames twin: BE32 fields at the envelope's fixed byte offsets
    // (hex substr position = 2*byte_offset + 1): mdhd timescale @152,
    // stts entries (n1,d1,n2,d2) @196/200/204/208, stsz sample_count @228;
    // duration = n1*d1 + n2*d2 recomputed from the blob bytes
    "q_mp4_frames" ->
      (s"WITH m AS (SELECT doc_id, hex(payload) AS h " +
        s"FROM read_parquet('$Mp4PayloadPath/*.parquet')) " +
        "SELECT doc_id, " +
        "CAST(('0x' || substr(h, 457, 8))::BIGINT AS INT) AS n_frames, " +
        "CAST(('0x' || substr(h, 393, 8))::BIGINT * ('0x' || substr(h, 401, 8))::BIGINT " +
        "+ ('0x' || substr(h, 409, 8))::BIGINT * ('0x' || substr(h, 417, 8))::BIGINT AS BIGINT) AS duration_units, " +
        "CAST(('0x' || substr(h, 305, 8))::BIGINT AS INT) AS timescale " +
        "FROM m ORDER BY doc_id"),
    // audio twin: signed-16-bit sample formula replayed per index
    "q_multimodal_audio" ->
      ("WITH d AS (SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS channels, " +
        "CAST(8000 + (doc_id % 8) * 500 AS INT) AS sample_rate, " +
        "CAST((40 + doc_id % 30) * (1 + doc_id % 2) AS BIGINT) AS n FROM documents), " +
        "sm AS (SELECT doc_id, channels, sample_rate, n, " +
        "((doc_id*7 + i*13) % 65536) - 32768 AS v FROM " +
        "(SELECT doc_id, channels, sample_rate, n, unnest(range(0, n)) AS i FROM d)) " +
        "SELECT doc_id, any_value(sample_rate) AS sample_rate, " +
        "any_value(channels) AS channels, any_value(n) AS n_samples, " +
        "CAST(sum(v) AS BIGINT) AS s_sum, CAST(min(v) AS INT) AS s_min, " +
        "CAST(max(v) AS INT) AS s_max FROM sm GROUP BY doc_id ORDER BY doc_id"),
    // discrete-quantile twin: quantile_disc's rank rule (value at 1-based
    // ceil(p*n)) is replicated on the Spark side in integer arithmetic
    "q_token_distribution" ->
      ("WITH d AS (SELECT source, CASE WHEN length(trim(text))=0 THEN 0 " +
        "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens FROM documents) " +
        "SELECT source, count(*) AS n_docs, quantile_disc(n_tokens, 0.5) AS p50, " +
        "quantile_disc(n_tokens, 0.9) AS p90, quantile_disc(n_tokens, 0.99) AS p99 " +
        "FROM d GROUP BY source ORDER BY source"),
    "q_rollup_mix" ->
      ("WITH d AS (SELECT source, lang, CASE WHEN length(trim(text))=0 THEN 0 " +
        "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens FROM documents) " +
        "SELECT source, lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens, " +
        "CAST(GROUPING(source) * 2 + GROUPING(lang) AS INT) AS g " +
        "FROM d GROUP BY ROLLUP (source, lang) ORDER BY g, source, lang"),
    "q1_pricing_agg" ->
      "SELECT l_returnflag, l_linestatus, CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty, CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price, CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DECIMAL(28,4)) AS DOUBLE) AS sum_disc_price, count(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "q_join_revenue" ->
      "SELECT c_custkey, CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DECIMAL(28,4)) AS DOUBLE) AS revenue, count(DISTINCT o_orderkey) AS n_orders FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey GROUP BY c_custkey ORDER BY revenue DESC, c_custkey LIMIT 20",
    "q_window_top_orders" ->
      "SELECT o_custkey, rk, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders) WHERE rk <= 2 ORDER BY o_custkey, rk",
    "q_asof_join" ->
      ("SELECT a.event_id, b.value AS asof_value FROM events a " +
        "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') b " +
        "ON a.user_id = b.user_id AND a.ts >= b.ts ORDER BY a.event_id"),
    "q_asof_forward" ->
      ("SELECT a.event_id, b.value AS asof_value FROM events a " +
        "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') b " +
        "ON a.user_id = b.user_id AND a.ts <= b.ts ORDER BY a.event_id"),
    // nearest twin: the two directional ASOF joins composed with the engine's
    // tie rule — backward wins when it exists and its MICROSECOND distance
    // (epoch_us, mirroring unix_micros) is <= forward's. NOTE: the JOIN
    // USING (event_id) recomposition assumes event_id is the events table's
    // unique key (the generator's contract; every driver table keys its id)
    "q_asof_nearest" ->
      ("WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
        "bk AS (SELECT a.event_id, a.ts, b.ts AS bts, b.value AS bval FROM events a " +
        "ASOF LEFT JOIN p b ON a.user_id = b.user_id AND a.ts >= b.ts), " +
        "fw AS (SELECT a.event_id, f.ts AS fts, f.value AS fval FROM events a " +
        "ASOF LEFT JOIN p f ON a.user_id = f.user_id AND a.ts <= f.ts) " +
        "SELECT bk.event_id, CASE WHEN bts IS NOT NULL AND (fts IS NULL OR " +
        "(epoch_us(bk.ts) - epoch_us(bts)) <= (epoch_us(fts) - epoch_us(bk.ts))) " +
        "THEN bval ELSE fval END AS asof_value " +
        "FROM bk JOIN fw USING (event_id) ORDER BY bk.event_id"),
    // the tolerance compare is SECOND-truncated on the Spark side (epoch
    // seconds ride in the carried struct), so the oracle truncates identically
    // via epoch_ms // 1000
    "q_asof_tolerance" ->
      ("SELECT a.event_id, CASE WHEN epoch_ms(b.ts) // 1000 >= epoch_ms(a.ts) // 1000 - 7200 " +
        "THEN b.value END AS asof_value FROM events a " +
        "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') b " +
        "ON a.user_id = b.user_id AND a.ts >= b.ts ORDER BY a.event_id"),
    "q_range_join" ->
      ("SELECT p.event_id AS purchase_id, count(*) AS n_events_in_window " +
        "FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p " +
        "JOIN events e ON e.user_id = p.user_id " +
        "AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 30 MINUTE " +
        "GROUP BY p.event_id ORDER BY purchase_id"),
    "q_events_sessionize" ->
      "WITH g AS (SELECT user_id, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800 THEN 1 ELSE 0 END AS new_s FROM events) SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events FROM g GROUP BY user_id ORDER BY user_id",
    "q_sort_topk" ->
      "SELECT l_orderkey, l_linenumber, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price FROM lineitem ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)) DESC, l_orderkey, l_linenumber LIMIT 25",
    "q_topk_per_key" ->
      ("SELECT user_id, CAST(rk AS INT) AS rank, event_id, CAST(value AS DOUBLE) AS value FROM " +
        "(SELECT user_id, event_id, value, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY CAST(value AS DOUBLE) DESC, event_id) AS rk " +
        "FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL) " +
        "WHERE rk <= 3 ORDER BY user_id, rank"),
    "q_pivot" ->
      ("SELECT user_id, count(*) FILTER (WHERE event_type = 'click') AS click, " +
        "count(*) FILTER (WHERE event_type = 'view') AS view, " +
        "count(*) FILTER (WHERE event_type = 'purchase') AS purchase " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
    // RANGE frame over epoch seconds (epoch_ms // 1000 == unix_timestamp's
    // floor); DECIMAL sums are order-independent, so the window is hash-exact
    "q_rolling_features" ->
      ("SELECT event_id, user_id, count(*) OVER w AS n_events_1h, " +
        "CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DECIMAL(28,4)) AS DOUBLE) AS sum_value_1h " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts) // 1000 " +
        "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) ORDER BY event_id"),
    // Batch twin of the streaming sessionizer: same 1800s gap rule at the same
    // MILLISECOND precision (epoch_ms truncates microseconds exactly like
    // java.sql.Timestamp.getTime, and epoch_ms//1000 == unix_timestamp's
    // second floor), sessions as (min ts, max ts, count) groups. The stream
    // emits every real session because the per-user sentinel (Spark-side only,
    // filtered from the output) closes the final open one.
    "q_stream_sessionize" ->
      ("WITH g AS (SELECT user_id, event_id, ts, CASE WHEN lag(ts) OVER w IS NULL OR " +
        "epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS new_s " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM g) " +
        "SELECT user_id, epoch_ms(min(ts)) // 1000 AS start_s, " +
        "epoch_ms(max(ts)) // 1000 AS end_s, count(*) AS n_turns " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, start_s"),
    "q_stream_extract" ->
      "SELECT doc_id, text AS extracted_text FROM documents ORDER BY doc_id",
    "q_stream_dedup" ->
      "SELECT DISTINCT md5(text) AS text_hash FROM documents ORDER BY text_hash",
    "q_stream_enrich" ->
      ("SELECT event_id, user_id, " +
        "CAST(CASE WHEN user_id % 2 = 0 THEN user_id % 5 END AS INT) AS segment " +
        "FROM events ORDER BY event_id"),
    // quantization twin: identical absmax/127 scale, round-half-away division,
    // [-127,127] clamp replayed per element in DuckDB; all outputs integer
    "q_quantize_vectors" ->
      ("WITH e AS (SELECT vec_id, embedding, " +
        "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc " +
        "FROM embeddings), " +
        "q AS (SELECT vec_id, CASE WHEN sc = 0 THEN list_transform(embedding, x -> 0) " +
        "ELSE list_transform(embedding, x -> " +
        "CAST(greatest(-127.0, least(127.0, round(CAST(x AS DOUBLE) / sc))) AS INT)) END AS qv " +
        "FROM e) " +
        "SELECT vec_id, CAST(len(qv) AS INT) AS n_dims, " +
        "CAST(list_sum(qv) AS BIGINT) AS q_sum, " +
        "CAST(list_min(qv) AS INT) AS q_min, CAST(list_max(qv) AS INT) AS q_max, " +
        "CAST(len(list_filter(qv, v -> abs(v) = 127)) AS INT) AS n_sat, " +
        "CAST(list_sum(list_transform(qv, v -> CAST(v AS BIGINT) * v)) AS BIGINT) AS q_dot_self " +
        "FROM q ORDER BY vec_id"),
    "q_vector_ops" ->
      ("SELECT vec_id, " +
        "CAST(floor(list_cosine_similarity(CAST(embedding AS DOUBLE[]), " +
        "list_transform(CAST(embedding AS DOUBLE[]), x -> 1.0)) * 1000000) AS BIGINT) AS cos_micro, " +
        "CAST(floor(list_distance(CAST(embedding AS DOUBLE[]), " +
        "list_transform(CAST(embedding AS DOUBLE[]), x -> 1.0)) * 1000000) AS BIGINT) AS dist_micro, " +
        "CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos, " +
        "CAST(len(embedding) AS INT) AS n_dims " +
        "FROM embeddings ORDER BY vec_id"),
    "q_extract_metrics" ->
      "SELECT count(*) AS n_rows, CAST(0 AS BIGINT) AS n_errors, CAST(sum(length(text)) AS BIGINT) AS n_chars FROM documents",
    // Tumbling 1-minute windows of the events table; DuckDB time_bucket floors
    // to the minute exactly like Spark's window(ts, '1 minute').start.
    "q_stream_metrics" ->
      ("SELECT epoch_ms(time_bucket(INTERVAL 1 MINUTE, ts)) // 1000 AS window_start_s, " +
        "'plain' AS payload_kind, count(*) AS n_turns, " +
        "CAST(sum(length(event_type)) AS BIGINT) AS n_chars, CAST(0 AS BIGINT) AS n_errors " +
        "FROM events GROUP BY 1 ORDER BY window_start_s")
  )
}
