package graft.core

/** Cross-reference index — xref.rs. Lookups take the object number and
  * generation as two Ints.
  */
sealed trait XRef {
  def get(num: Int, gen: Int): Option[Int]
  def getAndFix(num: Int, gen: Int, bytes: Array[Byte]): Option[Int]
  def getCatalogOffset: Option[Int]
  def infoKey: Option[(Int, Int)]
}

object XRef {
  /** Empty default used where the reference builds `XRefTable::default()`. */
  val default: XRef = XrefTable(None, None, None, new XrefIndex)

  /** `XRef::new(bytes, offset)` — xref.rs:39-58: peek dispatch between the classic
    * table (leading `xref` bareword) and an xref stream object (leading numeric).
    */
  /** Max incremental-update (`/Prev`) chain length. A crafted Prev cycle would
    * otherwise recurse unboundedly (StackOverflowError escapes the per-row
    * NonFatal catch and kills the task — poison-payload hardening).
    */
  val MaxPrevChain = 64

  def parse(bytes: Array[Byte], offset: Int, depth: Int = 0): XRef = {
    if (depth > MaxPrevChain) Err.fail(s"xref Prev chain deeper than $MaxPrevChain")
    val peekTok = new PdfTokenizer(bytes, offset).next()
    peekTok match {
      case _: TBare => XrefTable.parse(bytes, offset, depth)
      case TNum(_) =>
        // parsed with a DEFAULT (empty) xref context — indirect /Length panics, as in
        // the reference (object.rs:115-131 via Lemmatizer::from)
        val ctx = new Ctx(bytes, XRef.default)
        ObjParser.parse(Lemmatizer(bytes, offset, ctx)) match {
          case s: PStream => XrefStream.from(s)
          case o          => Err.fail(s"Xref object cannot be of type $o")
        }
      case null => Err.fail("End of stream")
      case _    => Err.fail("Xref object or strign 'xref' not found")
    }
  }

  /** `startxref(bytes)` — xref.rs:286-309: BACKWARD search for the last b"startxref",
    * then the following integer.
    */
  def startxref(bytes: Array[Byte]): Int = {
    val pattern = "startxref".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    var i = bytes.length - pattern.length
    var found = -1
    while (i >= 0 && found < 0) {
      var j = 0
      var ok = true
      while (ok && j < pattern.length) { if (bytes(i + j) != pattern(j)) ok = false else j += 1 }
      if (ok) found = i else i -= 1
    }
    if (found < 0) Err.fail("startxref pattern not found")
    val tok = new PdfTokenizer(bytes, found)
    tok.next() match {
      case b: TBare if java.util.Arrays.equals(b.bytes, pattern) => ()
      case t => Err.fail(s"Startxref string missing in tokenizer, found token $t")
    }
    tok.next() match {
      case TNum(NInt(i)) => i
      case t             => Err.fail(s"Startxref integer missing in tokenizer, found token $t")
    }
  }
}

/** Classic xref table + trailer — xref.rs:60-277. Single-subsection only (the
  * reference reads exactly one `start size` header — xref.rs:196-222). It
  * keeps what lookups read: the entries, the /Prev table and the /Root and
  * /Info refs; the trailer's /Size and /Encrypt are checked, then dropped.
  */
final case class XrefTable(
    prev: Option[XRef],
    root: Option[(Int, Int)],
    info: Option[(Int, Int)],
    table: XrefIndex
) extends XRef {

  def len: Int = table.size

  /** xref.rs:228-243 — panic if the entry was freed; fall through the Prev chain. */
  def get(num: Int, gen: Int): Option[Int] = {
    val slot = table.find(num, gen)
    if (slot >= 0) {
      if (table.inUse(slot)) Some(table.offset(slot)) else Err.fail("XReftable object was freed")
    } else prev match {
      case Some(p) => p.get(num, gen)
      case None    => None
    }
  }

  /** Self-healing lookup — xref.rs:245-268: if the bytes at the offset don't start
    * with "N G obj", linear-scan for "\nN G obj" and return match+1.
    */
  def getAndFix(num: Int, gen: Int, bytes: Array[Byte]): Option[Int] = get(num, gen).map { offset =>
    // the reference slices bytes[offset..] BEFORE probing, so an offset past
    // EOF panics instead of self-healing (Rust slice range panic) — replicate
    // (round-6 stale-xref differential caught the divergence: we healed a
    // delta=+1000000 entry the reference refuses)
    if (offset > bytes.length || offset < 0)
      Err.fail(s"xref offset $offset out of range for object $num $gen")
    if (XrefTable.headerAt(bytes, offset, num, gen)) offset
    else {
      val nl = s"\n$num $gen obj".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val idx = indexOfSlice(bytes, nl)
      if (idx < 0) Err.fail(s"object header $num $gen obj not found in byte stream")
      idx + 1
    }
  }

  def getCatalogOffset: Option[Int] = root match {
    case Some((n, g)) => get(n, g)
    case None         => Err.fail("xref table has no Root")
  }

  def infoKey: Option[(Int, Int)] = info

  private def indexOfSlice(hay: Array[Byte], pat: Array[Byte]): Int = {
    var i = 0
    val end = hay.length - pat.length
    while (i <= end) {
      var j = 0
      var ok = true
      while (ok && j < pat.length) { if (hay(i + j) != pat(j)) ok = false else j += 1 }
      if (ok) return i
      i += 1
    }
    -1
  }
}

object XrefTable {
  /** True when `bytes` holds "`num` `gen` obj" at `off`, compared in place. */
  private[core] def headerAt(bytes: Array[Byte], off: Int, num: Int, gen: Int): Boolean = {
    val afterNum = decimalAt(bytes, off, num)
    if (afterNum < 0 || afterNum >= bytes.length || bytes(afterNum) != ' ') return false
    val afterGen = decimalAt(bytes, afterNum + 1, gen)
    afterGen >= 0 && afterGen + 4 <= bytes.length && bytes(afterGen) == ' ' &&
      bytes(afterGen + 1) == 'o' && bytes(afterGen + 2) == 'b' && bytes(afterGen + 3) == 'j'
  }

  /** The index just past `v`'s decimal form when `bytes` holds it at `at`, else -1. */
  private def decimalAt(bytes: Array[Byte], at: Int, v: Int): Int = {
    var i = at
    var mag = v.toLong
    if (mag < 0) {
      if (i >= bytes.length || bytes(i) != '-') return -1
      i += 1
      mag = -mag
    }
    var unit = 1L
    while (unit * 10 <= mag) unit *= 10
    while (unit > 0) {
      if (i >= bytes.length || bytes(i) != '0' + (mag / unit % 10)) return -1
      i += 1
      unit /= 10
    }
    i
  }

  /** `XRefTable::from(Tokenizer)` — xref.rs:78-152. */
  def parse(bytes: Array[Byte], offset: Int, depth: Int = 0): XrefTable = {
    val tok = new PdfTokenizer(bytes, offset)
    tok.next() match {
      case b: TBare if bstr(b.bytes) == "xref" => ()
      case b: TBare => Err.fail(s"Startxref string missing, found string ${bstr(b.bytes)}")
      case null => Err.fail("End of file unexpected")
      case t    => Err.fail(s"Incorrect token found at the beginning of XRefTable, found $t")
    }
    val table = readTableSubsection(tok)
    tok.next() match {
      case b: TBare if bstr(b.bytes) == "trailer" => ()
      case b: TBare => Err.fail(s"Trailer string missing, found string ${bstr(b.bytes)}")
      case null => Err.fail("End of file")
      case t    => Err.fail(s"Incorrect token found at the beginning of trailer, found $t")
    }
    val trailer = trailerAt(bytes, tok)
    trailer.get("Size") match {
      case Some(PNum(_)) => ()
      case _             => Err.fail("Size should be a numeric")
    }
    val prev = trailer.get("Prev") match {
      case Some(PNum(NInt(off))) => Some(XRef.parse(bytes, off, depth + 1))
      case None                  => None
      case _                     => Err.fail("Prev should be a numeric")
    }
    val root = trailer.get("Root") match {
      case Some(PRef(o, g, _)) => Some((o, g))
      case _                   => Err.fail("Root should be a Catalog object")
    }
    trailer.get("Encrypt") match {
      case Some(PRef(_, _, _)) | None => ()
      case _                          => Err.fail("Encrypt should be an indirect object")
    }
    val info = trailer.get("Info") match {
      case Some(PRef(o, g, _)) => Some((o, g))
      case None                => None
      case _                   => Err.fail("Info should be an indirect object")
    }
    XrefTable(prev, root, info, table)
  }

  /** The trailer dictionary after `tok`'s cursor, parsed over a CLONE of the
    * cursor with a default xref context — xref.rs:112-115
    * (Object::from(tokenizer.clone())).
    */
  private[core] def trailerAt(bytes: Array[Byte], tok: PdfTokenizer): Map[String, PdfObj] =
    ObjParser.parse(new Lemmatizer(tok.copyCursor, new Ctx(bytes, XRef.default))) match {
      case PDict(d) => d
      case _        => Err.fail("Trailer should be a dictionary")
    }

  /** Single subsection: `start size` then `size` entries — xref.rs:169-222. */
  private[core] def readTableSubsection(tok: PdfTokenizer): XrefIndex = {
    val start = tok.next() match {
      case TNum(NInt(n)) => n
      case t             => Err.fail(s"Table subsection header start should be an integer, found $t")
    }
    val size = tok.next() match {
      case TNum(NInt(n)) => n
      case t             => Err.fail(s"Table subsection header size should be an integer, found $t")
    }
    val table = new XrefIndex(size)
    var idx = start
    while (idx < start + size) {
      val number = entryOffset(tok)
      val generation = entryGen(tok)
      table.put(idx, generation, number, entryInUse(tok))
      idx += 1
    }
    table
  }

  /** One entry `offset gen n|f` — xref.rs:169-194. */
  private[core] def readSubsectionEntry(tok: PdfTokenizer): (Int, Int, Boolean) = {
    val number = entryOffset(tok)
    val generation = entryGen(tok)
    (number, generation, entryInUse(tok))
  }

  private def entryOffset(tok: PdfTokenizer): Int = tok.next() match {
    case TNum(NInt(n)) => n
    case t             => Err.fail(s"Xref entry offset token should be an integer, found $t")
  }

  private def entryGen(tok: PdfTokenizer): Int = tok.next() match {
    case TNum(NInt(n)) => n
    case t             => Err.fail(s"Xref entry generation token should be an integer, found $t")
  }

  private def entryInUse(tok: PdfTokenizer): Boolean = tok.next() match {
    case b: TBare => b.op == Op.n
    case t        => Err.fail(s"Xref entry in_use token should be a regular string, found $t")
  }

  private def bstr(b: Array[Byte]): String =
    new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
}

/** Xref stream — xref.rs:311-428. Limitations replicated: DecodeParms panics,
  * Index must be exactly [start size], type-2 entries return the CONTAINER's offset
  * (compressed objects are not decoded — xref.rs:347-352), and the catalog offset is
  * stubbed to Some(0) (xref.rs:331-333), which is why the reference's pdflatex fixture
  * is disabled — we exclude it identically.
  */
final case class XrefStream(
    size: Int,
    index: (Int, Int),
    prev: Option[Int],
    w: (Int, Int, Int),
    stream: Array[Byte]
) extends XRef {

  def get(num: Int, gen: Int): Option[Int] = entry(num, 0)

  /** Depth-guarded: a crafted type-2 entry chain can self-reference — unbounded
    * it is an infinite loop/StackOverflowError (poison-payload hardening).
    */
  private def entry(objectIdx: Int, depth: Int): Option[Int] = {
    if (depth > 32) Err.fail("xref stream type-2 indirection deeper than 32")
    if (objectIdx > index._2) Err.fail(s"Object number $objectIdx is out of index")
    val entrySize = w._1 + w._2 + w._3
    val base = objectIdx * entrySize
    if (base + entrySize > stream.length) Err.fail("xref stream entry out of bounds")
    val entryType = XrefStream.field(stream, base, w._1)
    val entryMid = XrefStream.field(stream, base + w._1, w._2)
    entryType match {
      case 1 => Some(entryMid)
      case 0 => None
      case 2 => entry(entryMid, depth + 1)
      case _ => Err.fail("Cross reference stream data type can only be 0, 1 or 2")
    }
  }

  def getAndFix(num: Int, gen: Int, bytes: Array[Byte]): Option[Int] = get(num, gen)

  def getCatalogOffset: Option[Int] = Some(0) // stub — xref.rs:331-333

  def infoKey: Option[(Int, Int)] = None
}

object XrefStream {
  /** `XRefStream::from(Stream)` — xref.rs:356-428. */
  def from(s: PStream): XrefStream = {
    val size = s.header.get("Size") match {
      case Some(PNum(NInt(n))) => n
      case Some(o) => Err.fail(s"Cross reference stream dictionnary contains a Size with wrong type, found $o")
      case None    => Err.fail("Cross reference stream dictionnary does not contains the required Size key")
    }
    s.header.get("DecodeParms") match {
      case Some(PDict(_)) => Err.fail("Data encoded with custom filters which is currently not supported")
      case Some(o)        => Err.fail(s"DecodeParams should be a dictionnary, found $o")
      case None           => ()
    }
    val index = s.header.get("Index") match {
      case Some(PArr(a)) =>
        if (a.length != 2) Err.fail("Cross reference stream key 'Index' is not an array of length 2")
        (asInt(a(0)), asInt(a(1)))
      case Some(o) => Err.fail(s"Cross reference stream dictionnary contains a Index value with wrong type, found $o")
      case None    => (0, size)
    }
    val prev = s.header.get("Prev") match {
      case Some(PNum(NInt(n))) => Some(n)
      case Some(o) => Err.fail(s"Cross reference stream dictionnary contains a Prev value with wrong type, found $o")
      case None    => None
    }
    val w = s.header.get("W") match {
      case Some(PArr(a)) if a.length >= 3 => (asInt(a(0)), asInt(a(1)), asInt(a(2)))
      case Some(o) => Err.fail(s"Cross reference stream dictionnary key W should contain an array, found $o")
      case None    => Err.fail("Cross reference stream dictionnary key W is required")
    }
    XrefStream(size, index, prev, w, Flate.flateDecode(s.bytes))
  }

  private[core] def asInt(o: PdfObj): Int = o match {
    case PNum(NInt(n)) => n
    case other         => Err.fail(s"expected integer, found $other")
  }

  /** Big-endian field decode — xref.rs:321-329. */
  private[core] def field(b: Array[Byte], off: Int, len: Int): Int = {
    var res = 0
    var i = 0
    while (i < len) { res = res * 256 + (b(off + i) & 0xff); i += 1 }
    res
  }
}

/** The entries of one xref table keyed by (object, generation) without
  * boxing: open addressing over the pair packed into a Long. A later `put`
  * of a key replaces its entry, as `HashMap.updated` did. Filled while the
  * table is read; only read after that.
  */
final class XrefIndex(expected: Int = 8) {
  // the least power of two that holds the expected entries at half load
  // (at least 8 and at most 2^15 expected up front)
  private val initial = {
    val e = math.max(8, math.min(expected, 1 << 15))
    Integer.highestOneBit(2 * (e + 1) - 1) * 2
  }
  private var keys = new Array[Long](initial)
  private var offsets = new Array[Int](initial)
  private var state = new Array[Byte](initial) // 0 empty, 1 free entry, 2 in use
  private var count = 0

  def size: Int = count

  private def key(num: Int, gen: Int): Long = num.toLong << 32 | (gen & 0xffffffffL)

  private def slotOf(k: Long, ks: Array[Long], st: Array[Byte]): Int = {
    val mask = ks.length - 1
    var s = (java.lang.Long.hashCode(k * 0x9e3779b97f4a7c15L) & mask)
    while (st(s) != 0 && ks(s) != k) s = (s + 1) & mask
    s
  }

  def put(num: Int, gen: Int, offset: Int, inUse: Boolean): Unit = {
    if (2 * (count + 1) > keys.length) grow()
    val k = key(num, gen)
    val s = slotOf(k, keys, state)
    if (state(s) == 0) count += 1
    keys(s) = k
    offsets(s) = offset
    state(s) = if (inUse) 2 else 1
  }

  /** The slot of (num, gen), or -1 when the table has no such entry. */
  def find(num: Int, gen: Int): Int = {
    val s = slotOf(key(num, gen), keys, state)
    if (state(s) == 0) -1 else s
  }

  def offset(slot: Int): Int = offsets(slot)
  def inUse(slot: Int): Boolean = state(slot) == 2

  def copy: XrefIndex = {
    val c = new XrefIndex
    c.keys = keys.clone(); c.offsets = offsets.clone(); c.state = state.clone(); c.count = count
    c
  }

  private def grow(): Unit = {
    val (ks, os, st) = (keys, offsets, state)
    keys = new Array[Long](ks.length * 2)
    offsets = new Array[Int](ks.length * 2)
    state = new Array[Byte](ks.length * 2)
    var i = 0
    while (i < ks.length) {
      if (st(i) != 0) {
        val s = slotOf(ks(i), keys, state)
        keys(s) = ks(i); offsets(s) = os(i); state(s) = st(i)
      }
      i += 1
    }
  }
}
