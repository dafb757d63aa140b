package graft.core

/** Facade mirroring `Pdf` — lib.rs:55-93.
  *
  * Byte-handling quirk replicated from lib.rs:60-72: the %%EOF check and the xref
  * PARSE run over the whitespace-TRIMMED bytes, while `startxref` is located in the
  * RAW bytes and the catalog/body parse also uses the RAW bytes.
  *
  * `lenient = true` (engine extension, default OFF — every golden gate runs
  * strict) swaps ONLY the xref layer for Lenient.prepare: full xref-stream /
  * object-stream / predictor / multi-subsection resolution with object-stream
  * members materialized into an augmented buffer. Object interpretation,
  * fonts, content lexing and text assembly are the same reference-faithful
  * code in both modes.
  *
  * `lenientText = true` (its OWN flag, also default OFF) additionally enables
  * the Tw/Tz/TL/Ts/'/" text operators in the content decoder — the reference
  * routes these through its unknown-operator path (content.rs:624-628), which
  * forks text assembly (a `'` move-show changes the output bytes), so the
  * extension sits behind a separate flag with its own parity gates.
  */
final class Pdf(val raw: Array[Byte], lenient: Boolean, lenientText: Boolean,
                password: Array[Byte] = Array.emptyByteArray) {
  private val trimmed: Array[Byte] = Pdf.trimAscii(raw)
  if (trimmed.length < 5 || !Pdf.endsWith(trimmed, "%%EOF"))
    Err.fail("PDF file is corrupted; not consistent trailing charaters")

  /** The body bytes, the xref and, LENIENT-only, a verified
    * standard-security-handler decryptor when the trailer carries /Encrypt
    * (Crypt.scala), and the objects materialized out of object streams.
    * Strict mode never looks at /Encrypt, exactly like the reference
    * (xref.rs:136-146 parses-and-drops the key).
    */
  private val prepared: Lenient.Prepared =
    if (lenient) Lenient.prepare(raw, password)
    else Lenient.Prepared(raw, XRef.parse(trimmed, XRef.startxref(raw)), None, Set.empty)

  private def body: Array[Byte] = prepared.bytes
  val xref: XRef = prepared.xref
  private def decryptor: Option[Crypt.Decryptor] = prepared.decryptor

  /** `Pdf::extract` — lib.rs:75-80. */
  def extract(mode: ExtractMode): String = extractResult(mode).text

  /** Text + spans (engine addition; spans populated for Text mode only). */
  def extractResult(mode: ExtractMode): ExtractResult = {
    val catalogOffset = xref.getCatalogOffset.getOrElse(Err.fail("catalog offset not found"))
    val ctx = new Ctx(body, xref, lenient, lenientText, decryptor)
    val catalog = PdfCatalog.parseAt(ctx, catalogOffset)
    catalog.extract(mode)
  }

  /** Document metadata via the trailer Info ref — lib.rs:90-92 / info.rs (the
    * reference never wires this to its CLI; exposed here as a library call).
    */
  def readInfo: Option[PdfInfo] = xref.infoKey.flatMap { key =>
    // strings inside an object stream are never individually encrypted
    // (PDF 32000-1 §7.5.7) — an Info that was materialized out of an ObjStm
    // skips string decryption
    val ctx = new Ctx(body, xref, lenient, lenientText,
      if (prepared.objStmMembers.contains(key._1)) None else decryptor)
    ctx.offset(key._1, key._2).map(off => PdfInfo.parseAt(ctx, off, key._1, key._2))
  }

  /** LENIENT-only: enumerate image XObjects with DCT pixel decode
    * (core/Images.scala). The reference has no image surface at all — its
    * only image-adjacent behavior is the DCTDecode panic (body.rs:42-54),
    * which strict mode keeps — so this is gated like the other lenient
    * extensions.
    */
  def listImages: Vector[PdfImages.ImageXObject] = {
    if (!lenient) Err.fail("listImages is a lenient-mode extension (strict mirrors the reference, which has no image surface)")
    val catalogOffset = xref.getCatalogOffset.getOrElse(Err.fail("catalog offset not found"))
    PdfImages.list(new Ctx(body, xref, lenient, lenientText, decryptor), catalogOffset)
  }
}

object Pdf {
  def apply(bytes: Array[Byte]): Pdf = new Pdf(bytes, lenient = false, lenientText = false)

  /** Engine extension: lenient xref resolution (see class scaladoc). */
  def lenient(bytes: Array[Byte]): Pdf = new Pdf(bytes, lenient = true, lenientText = false)

  /** Engine extension (round 5): lenient xref resolution with a non-empty
    * user or owner password for encrypted documents — tried as the user
    * password (Algorithm 2 + /U check, or 2.B for V5/R6), then as the owner
    * password (Algorithm 7 /O recovery, or the V5 /O//OE branch); a password
    * that verifies neither fails loudly (Crypt.standardDecryptor).
    */
  def lenient(bytes: Array[Byte], password: Array[Byte]): Pdf =
    new Pdf(bytes, lenient = true, lenientText = false, password)

  /** Engine extension: lenient xref AND the Tw/Tz/TL/Ts/'/" text operators
    * (see class scaladoc) — the widest lenient surface.
    */
  def lenientText(bytes: Array[Byte]): Pdf = new Pdf(bytes, lenient = true, lenientText = true)

  /** `pdf_version(s)` — lib.rs:44-53 (dead code in the reference: never called
    * by main.rs or Pdf::from; exposed for API completeness). Reads the LAST 3
    * bytes of the given slice, exactly like the reference.
    */
  def pdfVersion(s: Array[Byte]): String = {
    if (s.length < 3) Err.fail("Pdf version not supported")
    new String(s, s.length - 3, 3, java.nio.charset.StandardCharsets.US_ASCII) match {
      case v @ ("1.3" | "1.4" | "1.5" | "1.6" | "1.7") => v
      case _ => Err.fail("Pdf version not supported")
    }
  }

  /** Rust `<[u8]>::trim_ascii` — ascii whitespace is space, \t, \n, \f(0x0C), \r.
    * Returns the input array untouched when there is nothing to trim (the common
    * case), avoiding a full payload copy per row.
    */
  def trimAscii(b: Array[Byte]): Array[Byte] = {
    def isWs(x: Byte) = x == ' ' || x == '\t' || x == '\n' || x == 0x0c || x == '\r'
    var start = 0
    while (start < b.length && isWs(b(start))) start += 1
    var end = b.length
    while (end > start && isWs(b(end - 1))) end -= 1
    if (start == 0 && end == b.length) b
    else java.util.Arrays.copyOfRange(b, start, end)
  }

  private def endsWith(b: Array[Byte], s: String): Boolean = {
    if (b.length < s.length) return false
    var i = 0
    while (i < s.length) {
      if (b(b.length - s.length + i) != s.charAt(i)) return false
      i += 1
    }
    true
  }
}
