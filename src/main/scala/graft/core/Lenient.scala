package graft.core

import scala.collection.mutable

/** LENIENT mode — an engine extension BEYOND the reference, flag-gated OFF by
  * default so the byte-exact reference semantics stay authoritative (TODO.md
  * replicated-limitation ledger; IntegrationSpec goldens all run with the flag
  * off). Adds the four xref-layer capabilities the reference stubs out, which
  * lock it (and strict mode) out of most post-1.5 wild PDFs:
  *
  *  - real cross-reference-STREAM resolution (the reference stubs the catalog
  *    offset to Some(0) — xref.rs:331-333 — and disables its own pdflatex
  *    fixture over it, tests/integration.rs:44-50);
  *  - type-2 (object-stream) entries: members of /Type /ObjStm containers are
  *    decoded, not resolved to the container's offset (xref.rs:347-352);
  *  - /DecodeParms PNG predictors 10-15 and TIFF predictor 2 on xref streams
  *    (the reference panics — xref.rs:368-376);
  *  - multi-subsection classic tables and full /Prev chains across both
  *    flavors (the reference reads exactly one `start size` header —
  *    xref.rs:196-222).
  *
  * Strategy: resolve the complete xref, then MATERIALIZE every object-stream
  * member as a classic `N 0 obj ... endobj` appended to a copy of the file
  * bytes, registered at its appended offset in one XrefTable that merges every
  * section: a [[Prepared]]. From there the UNCHANGED reference-faithful
  * machinery (object parser, document tree, fonts, CMaps, content lexer, text
  * assembly — with every replicated quirk) runs on the augmented buffer, so
  * lenient mode changes WHICH objects are reachable, never how they are
  * interpreted.
  */
object Lenient {
  import XrefStream.{asInt, field}

  /** Max members materialized across all object streams (poison guard: a
    * crafted ObjStm header can claim huge N).
    */
  val MaxMaterialized = 65536

  /** The bytes objects resolve in, their xref, the decryptor when the trailer
    * carries /Encrypt, and the objects materialized OUT of object streams,
    * whose strings are never individually encrypted (PDF 32000-1 §7.5.7).
    * Strict mode builds one with no decryptor and no members.
    */
  final case class Prepared(bytes: Array[Byte], xref: XRef, decryptor: Option[Crypt.Decryptor],
                            objStmMembers: Set[Int])

  /** Parse the full xref at `raw`'s startxref and materialize object-stream
    * members into a copy of `raw`.
    */
  def prepare(raw: Array[Byte], password: Array[Byte] = Array.emptyByteArray): Prepared = {
    // entry collection across the Prev chain; NEWEST section wins per object
    val typ1 = mutable.HashMap[(Int, Int), Int]() // (obj, gen) -> file offset
    val typ2 = mutable.HashMap[Int, (Int, Int)]() // obj -> (container, idxInStm)
    val seen = mutable.HashSet[Int]()             // object numbers already decided
    var root: Option[(Int, Int)] = None
    var info: Option[(Int, Int)] = None
    var encrypt: Option[(Int, Int)] = None
    var id0: Option[Array[Byte]] = None
    var offset = XRef.startxref(raw)
    var depth = 0
    val visited = mutable.HashSet[Int]()
    while (offset >= 0) {
      if (depth > XRef.MaxPrevChain) Err.fail(s"xref Prev chain deeper than ${XRef.MaxPrevChain}")
      if (!visited.add(offset)) Err.fail("xref Prev chain cycle")
      val section0 = parseSection(raw, offset)
      // hybrid-reference file (PDF 32000-1 7.5.8.4): the classic trailer's
      // /XRefStm points at an xref STREAM whose entries take precedence over
      // the classic section's for xref-stream-aware readers — merge the stream
      // entries first (our merge is first-wins)
      val section = section0.xrefStm match {
        case Some(stmOff) =>
          val stm = parseStreamSection(raw, stmOff)
          section0.copy(entries = stm.entries ++ section0.entries)
        case None => section0
      }
      section.entries.foreach {
        case (obj, _, XEntryFree) =>
          seen.add(obj): Unit // newest section says freed: the object stays absent
        case (obj, gen, XEntryAt(off)) =>
          if (seen.add(obj)) typ1((obj, gen)) = off
        case (obj, _, XEntryInStm(container, idx)) =>
          if (seen.add(obj)) typ2(obj) = (container, idx)
      }
      if (root.isEmpty) root = section.root
      if (info.isEmpty) info = section.info
      if (encrypt.isEmpty) encrypt = section.encrypt
      if (id0.isEmpty) id0 = section.id0
      offset = section.prev.getOrElse(-1)
      depth += 1
    }

    val table = new XrefIndex
    typ1.foreach { case ((num, gen), off) => table.put(num, gen, off, inUse = true) }

    if (typ2.size > MaxMaterialized) Err.fail(s"more than $MaxMaterialized object-stream members")
    // the direct objects alone: object-stream containers and /Encrypt
    // resolve here, before any member is materialized
    val baseCtx = new Ctx(raw, XrefTable(None, root, info, table.copy), lenient = true)
    // the one decryptor of the document, built before materialization:
    // container bytes are ciphertext (encryption wraps OUTSIDE the filters),
    // and a modern encrypted PDF keeps its catalog and fonts exactly there.
    // Resolved through Ctx.offsetOf so a stale /Encrypt offset self-heals like
    // every other lookup (xref.rs:245-268). The /Encrypt dictionary itself is
    // always a direct object (never inside an ObjStm — it is needed to decrypt
    // them) and xref streams are never encrypted, so it is readable here.
    val decryptor: Option[Crypt.Decryptor] = encrypt.map { encRef =>
      val encOff = baseCtx.offsetOf(encRef._1, encRef._2, "Encrypt object not found in xref")
      val encDict = ObjParser.parseAt(baseCtx, encOff) match {
        case PDict(m) => m
        case o        => Err.fail(s"Encrypt should be a dictionary, found $o")
      }
      val docId = id0.getOrElse(Err.fail("encrypted document has no /ID in trailer"))
      Crypt.standardDecryptor(encDict, docId, password)
    }

    // materialize object-stream members, grouped so each container is
    // decompressed and header-parsed exactly once
    if (typ2.nonEmpty) {
      val out = new java.io.ByteArrayOutputStream(raw.length + 1024)
      out.write(raw, 0, raw.length)
      typ2.groupBy(_._2._1).foreach { case (container, members) =>
        val slot = table.find(container, 0)
        if (slot < 0 || !table.inUse(slot)) Err.fail(s"object stream $container not found in xref")
        val containerOff = table.offset(slot)
        val slices = objStmSlices(baseCtx, containerOff, container, decryptor)
        members.foreach { case (obj, (_, idx)) =>
          if (idx < 0 || idx >= slices.length)
            Err.fail(s"object $obj index $idx out of range in object stream $container")
          val (num, body) = slices(idx)
          if (num != obj)
            Err.fail(s"object stream $container member $idx is object $num, xref says $obj")
          out.write('\n')
          val at = out.size()
          out.write(s"$obj 0 obj\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          out.write(body, 0, body.length)
          out.write("\nendobj\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          table.put(obj, 0, at, inUse = true)
        }
      }
      Prepared(out.toByteArray, XrefTable(None, root, info, table), decryptor, typ2.keySet.toSet)
    } else {
      Prepared(raw, XrefTable(None, root, info, table), decryptor, Set.empty)
    }
  }

  // ---- xref sections ---------------------------------------------------------

  private sealed trait XEntry
  private case object XEntryFree extends XEntry
  private final case class XEntryAt(off: Int) extends XEntry
  private final case class XEntryInStm(container: Int, idx: Int) extends XEntry

  private final case class Section(
      entries: Seq[(Int, Int, XEntry)], // (obj, gen, entry)
      root: Option[(Int, Int)],
      info: Option[(Int, Int)],
      prev: Option[Int],
      xrefStm: Option[Int] = None, // hybrid-reference file: /XRefStm in a classic trailer
      encrypt: Option[(Int, Int)] = None,
      id0: Option[Array[Byte]] = None) // first /ID element (decryption key salt)

  private def parseSection(raw: Array[Byte], offset: Int): Section = {
    new PdfTokenizer(raw, offset).next() match {
      case b: TBare if new String(b.bytes, java.nio.charset.StandardCharsets.ISO_8859_1) == "xref" =>
        parseClassicSection(raw, offset)
      case _: TBare => Err.fail("xref keyword not found at startxref offset")
      case TNum(_)  => parseStreamSection(raw, offset)
      case null     => Err.fail("End of stream")
      case t        => Err.fail(s"unexpected token at xref offset: $t")
    }
  }

  /** Classic table, MULTI-subsection: repeated `start size` headers until the
    * `trailer` keyword.
    */
  private def parseClassicSection(raw: Array[Byte], offset: Int): Section = {
    val tok = new PdfTokenizer(raw, offset)
    tok.next() // the "xref" keyword, checked by the dispatcher
    val entries = Seq.newBuilder[(Int, Int, XEntry)]
    var done = false
    while (!done) {
      val look = tok.copyCursor
      look.next() match {
        case b: TBare if new String(b.bytes, java.nio.charset.StandardCharsets.ISO_8859_1) == "trailer" =>
          tok.pos = look.pos
          done = true
        case TNum(NInt(start)) =>
          look.next() match {
            case TNum(NInt(size)) =>
              tok.pos = look.pos
              var idx = start
              while (idx < start + size) {
                val (off, gen, inUse) = XrefTable.readSubsectionEntry(tok)
                entries += ((idx, gen, if (inUse) XEntryAt(off) else XEntryFree))
                idx += 1
              }
            case t => Err.fail(s"subsection size should be an integer, found $t")
          }
        case t => Err.fail(s"expected subsection header or trailer, found $t")
      }
    }
    val trailer = XrefTable.trailerAt(raw, tok)
    Section(entries.result(),
      root = refOf(trailer, "Root"),
      info = refOf(trailer, "Info"),
      prev = intOf(trailer, "Prev"),
      xrefStm = intOf(trailer, "XRefStm"),
      encrypt = refOf(trailer, "Encrypt"),
      id0 = idOf(trailer))
  }

  /** Xref STREAM section: W-packed rows over (possibly predictor-encoded)
    * flate data, multi-pair /Index.
    */
  private def parseStreamSection(raw: Array[Byte], offset: Int): Section = {
    // lenient ctx: the stream body must be read SPEC-EXACTLY (the strict
    // whitespace-skip eats a leading NUL row byte under wide /W fields —
    // round-8 W-width sweep find; Lexer.nextNExact)
    val ctx = new Ctx(raw, XRef.default, lenient = true)
    val s = ObjParser.parse(Lemmatizer(raw, offset, ctx)) match {
      case ps: PStream => ps
      case o           => Err.fail(s"xref stream expected, found $o")
    }
    val size = s.header.get("Size") match {
      case Some(PNum(NInt(n))) => n
      case _                   => Err.fail("xref stream requires /Size")
    }
    val w = s.header.get("W") match {
      case Some(PArr(a)) if a.length >= 3 => (asInt(a(0)), asInt(a(1)), asInt(a(2)))
      case _                              => Err.fail("xref stream requires /W [w1 w2 w3]")
    }
    val pairs: Seq[(Int, Int)] = s.header.get("Index") match {
      case Some(PArr(a)) =>
        if (a.length % 2 != 0) Err.fail("/Index must hold (start, count) pairs")
        a.grouped(2).map(p => (asInt(p(0)), asInt(p(1)))).toSeq
      case None => Seq((0, size))
      case _    => Err.fail("/Index must be an array")
    }
    val inflated = decodeStream(s.header, s.bytes, "xref stream")
    val data = s.header.get("DecodeParms") match {
      case Some(PDict(p)) =>
        val predictor = p.get("Predictor").map { case PNum(NInt(n)) => n; case _ => 1 }.getOrElse(1)
        val columns = p.get("Columns").map { case PNum(NInt(n)) => n; case _ => 1 }.getOrElse(1)
        val colors = p.get("Colors").map { case PNum(NInt(n)) => n; case _ => 1 }.getOrElse(1)
        val bpc = p.get("BitsPerComponent").map { case PNum(NInt(n)) => n; case _ => 8 }.getOrElse(8)
        unpredict(inflated, predictor, columns, colors, bpc)
      case None    => inflated
      case Some(o) => Err.fail(s"DecodeParms should be a dictionary, found $o")
    }
    val entrySize = w._1 + w._2 + w._3
    val entries = Seq.newBuilder[(Int, Int, XEntry)]
    var row = 0
    pairs.foreach { case (start, count) =>
      var i = 0
      while (i < count) {
        val base = row * entrySize
        if (base + entrySize > data.length) Err.fail("xref stream data shorter than /Index claims")
        // w1 == 0 means "type defaults to 1" (PDF 32000-1 7.5.8.2)
        val t = if (w._1 == 0) 1 else field(data, base, w._1)
        val f2 = field(data, base + w._1, w._2)
        val f3 = field(data, base + w._1 + w._2, w._3)
        val obj = start + i
        entries += ((obj, if (t == 1) f3 else 0, t match {
          case 0 => XEntryFree
          case 1 => XEntryAt(f2)
          case 2 => XEntryInStm(f2, f3)
          case x => Err.fail(s"xref stream entry type $x invalid")
        }))
        row += 1
        i += 1
      }
    }
    Section(entries.result(),
      root = refOf(s.header, "Root"),
      info = refOf(s.header, "Info"),
      prev = intOf(s.header, "Prev"),
      encrypt = refOf(s.header, "Encrypt"),
      id0 = idOf(s.header))
  }

  // ---- object streams ---------------------------------------------------------

  /** Decode a /Type /ObjStm container into its member slices, ordered by the
    * header's pair index: Seq of (objNum, bodyBytes). `decryptor` (encrypted
    * documents) peels the per-object encryption BEFORE the filters — the
    * container's stream bytes are ciphertext of the compressed data.
    */
  private def objStmSlices(ctx: Ctx, containerOff: Int, containerObj: Int,
                           decryptor: Option[Crypt.Decryptor]): Array[(Int, Array[Byte])] = {
    val stm = ObjParser.parseAt(ctx, containerOff) match {
      case ps: PStream => ps
      case o           => Err.fail(s"object stream expected, found $o")
    }
    stm.header.get("Type") match {
      case Some(PName("ObjStm")) => ()
      case _                     => Err.fail("container is not /Type /ObjStm")
    }
    val n = stm.header.get("N") match {
      case Some(PNum(NInt(v))) => v
      case _                   => Err.fail("object stream requires /N")
    }
    val first = stm.header.get("First") match {
      case Some(PNum(NInt(v))) => v
      case _                   => Err.fail("object stream requires /First")
    }
    if (n < 0 || n > MaxMaterialized) Err.fail(s"object stream /N $n out of range")
    val bytes = decryptor.map(_.decrypt(containerObj, 0, stm.bytes)).getOrElse(stm.bytes)
    val data = decodeStream(stm.header, bytes, "object stream")
    val tok = new PdfTokenizer(data, 0)
    val pairs = Array.tabulate(n) { _ =>
      val num = tok.next() match {
        case TNum(NInt(v)) => v
        case t             => Err.fail(s"object stream header: object number expected, found $t")
      }
      val off = tok.next() match {
        case TNum(NInt(v)) => v
        case t             => Err.fail(s"object stream header: offset expected, found $t")
      }
      (num, off)
    }
    // slice [first+off_i, first+off_{i+1}) in OFFSET order; emit in pair order
    val byOffset = pairs.zipWithIndex.sortBy(_._1._2)
    val ends = new Array[Int](n)
    var k = 0
    while (k < n) {
      val end = if (k + 1 < n) first + byOffset(k + 1)._1._2 else data.length
      ends(byOffset(k)._2) = math.min(end, data.length)
      k += 1
    }
    pairs.zipWithIndex.map { case ((num, off), i) =>
      val from = first + off
      if (from < 0 || from > ends(i)) Err.fail(s"object stream slice out of bounds for object $num")
      (num, java.util.Arrays.copyOfRange(data, from, ends(i)))
    }
  }

  // ---- stream filters -----------------------------------------------------------

  /** The xref-stream and ObjStm filter decode: this resolver admits
    * FlateDecode, ASCIIHexDecode and LZWDecode (no DCTDecode) and names
    * `what` in its error, then decodes with the body streams' one per-filter
    * decode (BodyStream.decode). /EarlyChange is read from the direct
    * /DecodeParms forms only: xref/ObjStm DecodeParms are always direct in
    * practice, and anything else already fails loudly at the predictor site.
    */
  private def decodeStream(header: Map[String, PdfObj], bytes: Array[Byte], what: String): Array[Byte] = {
    val filter = header.get("Filter") match {
      case Some(PName("FlateDecode"))    => Some(FlateDecodeFilter)
      case Some(PName("ASCIIHexDecode")) => Some(AsciiHexFilter)
      case Some(PName("LZWDecode"))      => Some(LzwFilter)
      case None                          => None
      case Some(o)                       => Err.fail(s"$what filter not supported: $o")
    }
    val earlyChange = header.get("DecodeParms").flatMap(StreamDict.directEarlyChange).getOrElse(1)
    BodyStream.decode(filter, bytes, earlyChange)
  }

  // ---- predictors ---------------------------------------------------------------

  /** Undo /DecodeParms predictors: 1 = none, 2 = TIFF horizontal differencing,
    * 10-15 = PNG per-row filters (None/Sub/Up/Average/Paeth; the row's filter
    * byte decides, so all PNG variants share one decoder — PNG spec 9, PDF
    * 32000-1 7.4.4.4).
    */
  private[core] def unpredict(data: Array[Byte], predictor: Int, columns: Int,
                              colors: Int, bpc: Int): Array[Byte] = {
    if (predictor <= 1) return data
    // rowLen must be positive or the row loops below never advance (a crafted
    // /Columns 0 payload would otherwise HANG the task — no exception for the
    // per-row error column to catch)
    if (columns < 1 || colors < 1 || bpc < 1) Err.fail(s"DecodeParms Columns/Colors/BitsPerComponent must be positive")
    val bpp = math.max(1, (colors * bpc + 7) / 8)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (rowLen < 1) Err.fail("DecodeParms row length must be positive")
    if (predictor == 2) {
      if (bpc != 8) Err.fail("TIFF predictor supported only at 8 bits per component")
      val out = data.clone()
      var r = 0
      while (r * rowLen < out.length) {
        val base = r * rowLen
        var i = bpp
        while (i < rowLen && base + i < out.length) {
          out(base + i) = (out(base + i) + out(base + i - bpp)).toByte
          i += 1
        }
        r += 1
      }
      return out
    }
    if (predictor < 10 || predictor > 15) Err.fail(s"predictor $predictor not supported")
    val stride = rowLen + 1 // leading filter-type byte per row
    val nRows = data.length / stride
    val out = new Array[Byte](nRows * rowLen)
    var r = 0
    while (r < nRows) {
      val ft = data(r * stride) & 0xff
      val src = r * stride + 1
      val dst = r * rowLen
      var i = 0
      while (i < rowLen) {
        val x = data(src + i) & 0xff
        val left = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
        val up = if (r > 0) out(dst - rowLen + i) & 0xff else 0
        val ul = if (r > 0 && i >= bpp) out(dst - rowLen + i - bpp) & 0xff else 0
        val v = ft match {
          case 0 => x
          case 1 => x + left
          case 2 => x + up
          case 3 => x + (left + up) / 2
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
            x + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
          case f => Err.fail(s"PNG filter type $f invalid")
        }
        out(dst + i) = v.toByte
        i += 1
      }
      r += 1
    }
    out
  }

  // ---- small helpers -------------------------------------------------------------

  private def refOf(d: Map[String, PdfObj], key: String): Option[(Int, Int)] = d.get(key) match {
    case Some(PRef(o, g, _)) => Some((o, g))
    case _                   => None
  }

  private def intOf(d: Map[String, PdfObj], key: String): Option[Int] = d.get(key) match {
    case Some(PNum(NInt(n))) => Some(n)
    case _                   => None
  }

  /** First /ID element bytes (hex strings in practice; literal tolerated).
    * Literal recovery prefers the parser's exact source bytes (PStr.raw) —
    * the same valid-multibyte-UTF-8 corner fixed for /O //U applies here:
    * /ID feeds file-key derivation and the trailer parses before any
    * decryptor exists (round-6 review #2).
    */
  private def idOf(d: Map[String, PdfObj]): Option[Array[Byte]] = d.get("ID") match {
    case Some(PArr(items)) => items.headOption.collect {
      case PHexStr(b) => b
      case p @ PStr(s) =>
        if (p.raw != null) p.raw
        else s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    case _ => None
  }
}
