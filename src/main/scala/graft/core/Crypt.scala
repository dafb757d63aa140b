package graft.core

/** Standard security handler decryption — LENIENT-mode engine extension
  * (PDF 32000-1 §7.6.2-7.6.4 RC4-40/RC4-128/AES-128 and PDF 2.0 / ISO
  * 32000-2 AES-256 R6; empty OR caller-supplied user/owner passwords). The
  * reference ignores the trailer's /Encrypt key entirely
  * (xref.rs:136-146 parses-and-drops it), so it inflates RC4 ciphertext and
  * panics/garbles; strict mode replicates that exactly. Only `Pdf.lenient`
  * derives the file key, VERIFIES the /U (or /O) entry against the supplied
  * password (anything else fails loudly — no silent garbage), and decrypts
  * STREAM bytes with per-object keys — content streams, ToUnicode streams,
  * and object-stream CONTAINERS (Lenient.prepare builds the document's one
  * decryptor before materializing ObjStm members, so the modern encrypted
  * 1.5+ layout with the catalog inside an object stream opens too). STRING
  * decryption (round 5) is wired where strings are output-visible — the Info
  * metadata dictionary (`Decryptor.decryptString`, applied at PdfInfo's
  * resolution point where object identity IS known); content-stream strings
  * never reach extracted text undecoded, so no other site needs it.
  */
object Crypt {

  /** The 32-byte password padding string (PDF 32000-1 Table , §7.6.3.3). */
  val Pad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  // MessageDigest.getInstance takes a SYNCHRONIZED provider-registry lookup —
  // under a 32-thread executor the per-call lookups (50+ per R3 document)
  // serialize on that lock. One digest per thread, reset per use.
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = md5Local.get()
    d.reset()
    parts.foreach(d.update)
    d.digest()
  }

  /** Plain RC4 (symmetric: encrypt == decrypt). */
  def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(_.toByte)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + s(i) + key(i % key.length)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var x = 0
    var y = 0
    var k = 0
    while (k < data.length) {
      x = (x + 1) & 0xff
      y = (y + s(x)) & 0xff
      val t = s(x); s(x) = s(y); s(y) = t
      out(k) = (data(k) ^ s((s(x) + s(y)) & 0xff)).toByte
      k += 1
    }
    out
  }

  private def leInt(v: Int): Array[Byte] =
    Array(v, v >>> 8, v >>> 16, v >>> 24).map(b => (b & 0xff).toByte)

  /** Algorithm 2 step (a): pad or truncate a password to exactly 32 bytes
    * with the standard padding string. Idempotent on already-padded 32-byte
    * input (so an Algorithm-7-recovered padded user password feeds straight
    * back in).
    */
  def padPassword(password: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](32)
    val n = math.min(password.length, 32)
    System.arraycopy(password, 0, out, 0, n)
    if (n < 32) System.arraycopy(Pad, 0, out, n, 32 - n)
    out
  }

  /** Algorithm 2: file encryption key for a user password (empty by default).
    * `n` = key length in bytes (5 for R2, /Length/8 for R3/R4).
    * `metadataUnencrypted` appends the 0xFFFFFFFF marker (R4 with
    * /EncryptMetadata false).
    */
  def fileKey(o: Array[Byte], p: Int, id0: Array[Byte], n: Int, r: Int,
              metadataUnencrypted: Boolean = false,
              password: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val noMeta: Array[Byte] =
      if (metadataUnencrypted) Array(0xFF, 0xFF, 0xFF, 0xFF).map(_.toByte)
      else Array.emptyByteArray
    var k = md5(padPassword(password), o, leInt(p), id0, noMeta)
    if (r >= 3) {
      var i = 0
      while (i < 50) { k = md5(k.take(n)); i += 1 }
    }
    k.take(n)
  }

  private def xorKey(key: Array[Byte], i: Int): Array[Byte] =
    key.map(b => (b ^ i).toByte)

  /** `ownerEntry` memo — the entry is a pure function of (n, r) and fixture
    * synthesis calls it once per document.
    */
  private val ownerCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Byte]]()

  def ownerEntryCached(n: Int, r: Int): Array[Byte] =
    ownerCache.computeIfAbsent((n, r), k => ownerEntry(k._1, k._2))

  /** Algorithm 3: the /O entry for empty owner AND user passwords. */
  def ownerEntry(n: Int, r: Int): Array[Byte] =
    ownerEntryFor(n, r, Array.emptyByteArray, Array.emptyByteArray)

  /** Algorithm 3 in full: RC4-encrypt the PADDED USER password under a key
    * derived from the owner password (owner empty -> user password per spec
    * step (a)). Fixture synthesis for passworded documents.
    */
  def ownerEntryFor(n: Int, r: Int, ownerPwd: Array[Byte],
                    userPwd: Array[Byte]): Array[Byte] = {
    val effOwner = if (ownerPwd.isEmpty) userPwd else ownerPwd
    var h = md5(padPassword(effOwner))
    if (r >= 3) {
      var i = 0
      while (i < 50) { h = md5(h); i += 1 }
    }
    val rc4key = h.take(n)
    var o = rc4(rc4key, padPassword(userPwd))
    if (r >= 3) {
      var i = 1
      while (i <= 19) { o = rc4(xorKey(rc4key, i), o); i += 1 }
    }
    o
  }

  /** Algorithm 7 key recovery: decrypt /O under the owner-password key, which
    * yields the PADDED user password (the legacy owner-password opening path;
    * verification happens downstream via Algorithm 2 + the /U check).
    */
  def ownerToUserPassword(ownerPwd: Array[Byte], o: Array[Byte], n: Int,
                          r: Int): Array[Byte] = {
    var h = md5(padPassword(ownerPwd))
    if (r >= 3) {
      var i = 0
      while (i < 50) { h = md5(h); i += 1 }
    }
    val rc4key = h.take(n)
    var u = o
    if (r >= 3) {
      var i = 19
      while (i >= 1) { u = rc4(xorKey(rc4key, i), u); i -= 1 }
    }
    rc4(rc4key, u)
  }

  /** Algorithms 4 (R2) / 5 (R3): the /U entry for the empty user password. */
  def userEntry(key: Array[Byte], id0: Array[Byte], r: Int): Array[Byte] = {
    if (r == 2) rc4(key, Pad)
    else {
      var u = rc4(key, md5(Pad, id0))
      var i = 1
      while (i <= 19) { u = rc4(xorKey(key, i), u); i += 1 }
      u ++ new Array[Byte](16) // 32-byte entry; only the first 16 are compared
    }
  }

  /** Algorithm 1 per-object key: MD5(fileKey || obj-LE24 || gen-LE16
    * [|| "sAlT" for AESV2]), truncated to min(n+5, 16).
    */
  def objectKey(key: Array[Byte], obj: Int, gen: Int, aes: Boolean = false): Array[Byte] = {
    val tail0 = Array(obj, obj >>> 8, obj >>> 16, gen, gen >>> 8)
      .map(b => (b & 0xff).toByte)
    val tail = if (aes) tail0 ++ "sAlT".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
               else tail0
    md5(key, tail).take(math.min(key.length + 5, 16))
  }

  // Cipher.getInstance walks the same synchronized JCA provider registry as
  // MessageDigest.getInstance — thread-local, like the digest above.
  private val aesLocal = new ThreadLocal[javax.crypto.Cipher] {
    override def initialValue(): javax.crypto.Cipher =
      javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
  }

  private def shaLocal(alg: String) = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance(alg)
  }
  private val sha256Local = shaLocal("SHA-256")
  private val sha384Local = shaLocal("SHA-384")
  private val sha512Local = shaLocal("SHA-512")

  private def sha(local: ThreadLocal[java.security.MessageDigest],
                  parts: Array[Byte]*): Array[Byte] = {
    val d = local.get(); d.reset()
    parts.foreach(d.update)
    d.digest()
  }

  /** Raw AES-CBC, no padding, exact-multiple-of-16 data (the 2.B inner cipher
    * and the /UE unwrap).
    */
  def aesCbcRaw(key: Array[Byte], iv: Array[Byte], data: Array[Byte],
                encrypt: Boolean): Array[Byte] = {
    if (data.length % 16 != 0) Err.fail("AES-CBC raw data must be whole blocks")
    val c = aesLocal.get()
    c.init(if (encrypt) javax.crypto.Cipher.ENCRYPT_MODE else javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    c.doFinal(data)
  }

  /** ISO 32000-2 Algorithm 2.B (revision 6): the iterated SHA-2 password hash.
    * `udata` is the 48-byte /U entry when hashing the OWNER password, empty
    * for the user password. Empty-password inputs keep every block length a
    * multiple of 16, which the inner AES-128-CBC requires.
    */
  def hash2B(password0: Array[Byte], salt: Array[Byte], udata: Array[Byte]): Array[Byte] = {
    // ISO 32000-2 7.6.4.3.3: the UTF-8 password is truncated to 127 bytes
    // BEFORE hashing — a conforming writer does the same, so skipping this
    // would reject valid >127-byte passwords
    val password =
      if (password0.length > 127) java.util.Arrays.copyOf(password0, 127) else password0
    var k = sha(sha256Local, password, salt, udata)
    var i = 0
    var done = false
    var e: Array[Byte] = null
    while (!done) {
      val unit = password ++ k ++ udata
      val k1 = new Array[Byte](unit.length * 64)
      var j = 0
      while (j < 64) { System.arraycopy(unit, 0, k1, j * unit.length, unit.length); j += 1 }
      e = aesCbcRaw(k.take(16), k.slice(16, 32), k1, encrypt = true)
      var sum = 0
      var b = 0
      while (b < 16) { sum += e(b) & 0xff; b += 1 }
      k = (sum % 3) match {
        case 0 => sha(sha256Local, e)
        case 1 => sha(sha384Local, e)
        case _ => sha(sha512Local, e)
      }
      i += 1
      done = i >= 64 && (e(e.length - 1) & 0xff) <= i - 32
    }
    k.take(32)
  }

  /** AES-128-CBC with the AESV2 layout: leading 16-byte IV, PKCS#7 padding. */
  def aesDecrypt(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    if (data.length < 32 || (data.length - 16) % 16 != 0)
      Err.fail("AESV2 stream malformed (needs IV + whole ciphertext blocks)")
    val c = aesLocal.get()
    c.init(javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(data, 0, 16))
    val out = c.doFinal(data, 16, data.length - 16)
    val pad = out(out.length - 1) & 0xff
    if (pad < 1 || pad > 16 || pad > out.length) Err.fail("AESV2 padding invalid")
    java.util.Arrays.copyOf(out, out.length - pad)
  }

  /** Fixture support: the matching encryptor (IV supplied for determinism). */
  def aesEncrypt(key: Array[Byte], iv: Array[Byte], plain: Array[Byte]): Array[Byte] = {
    val padLen = 16 - plain.length % 16
    val padded = java.util.Arrays.copyOf(plain, plain.length + padLen)
    java.util.Arrays.fill(padded, plain.length, padded.length, padLen.toByte)
    val c = aesLocal.get()
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    iv ++ c.doFinal(padded)
  }

  /** Parsed /Encrypt state + verified file key. `aes` = AESV2 crypt filter
    * (V4); false = RC4 (V1/V2 or a V4 /CFM /V2 filter). `directKey` (V5 /
    * AESV3) uses the 256-bit file key for every object — revision 6 has no
    * per-object key derivation. `strings` (round 5): whether STRING objects
    * are encrypted too — always for V1/V2 (which have no /StrF escape), per
    * the /StrF crypt filter for V4/V5; drives the Info-metadata string
    * decryption (strings never reach extracted text).
    */
  final case class Decryptor(key: Array[Byte], aes: Boolean = false,
                             directKey: Boolean = false, strings: Boolean = false) {
    def decrypt(obj: Int, gen: Int, data: Array[Byte]): Array[Byte] =
      if (directKey) aesDecrypt(key, data)
      else if (aes) aesDecrypt(objectKey(key, obj, gen, aes = true), data)
      else rc4(objectKey(key, obj, gen), data)

    /** String decryption (same per-object scheme as streams; no-op when the
      * document declares /StrF /Identity).
      */
    def decryptString(obj: Int, gen: Int, data: Array[Byte]): Array[Byte] =
      if (!strings) data else decrypt(obj, gen, data)
  }

  /** Fixture support (V5/R6): build /U + /UE from the file key, the two
    * 8-byte salts, and the user password (empty by default); and /O + /OE
    * over a given /U with the owner password.
    */
  def v5UserEntries(fileKey: Array[Byte], valSalt: Array[Byte], keySalt: Array[Byte],
                    password: Array[Byte] = Array.emptyByteArray): (Array[Byte], Array[Byte]) = {
    val u = hash2B(password, valSalt, Array.emptyByteArray) ++ valSalt ++ keySalt
    val ikey = hash2B(password, keySalt, Array.emptyByteArray)
    val ue = aesCbcRaw(ikey, new Array[Byte](16), fileKey, encrypt = true)
    (u, ue)
  }

  def v5OwnerEntries(fileKey: Array[Byte], u48: Array[Byte], valSalt: Array[Byte],
                     keySalt: Array[Byte],
                     password: Array[Byte] = Array.emptyByteArray): (Array[Byte], Array[Byte]) = {
    val o = hash2B(password, valSalt, u48) ++ valSalt ++ keySalt
    val okey = hash2B(password, keySalt, u48)
    val oe = aesCbcRaw(okey, new Array[Byte](16), fileKey, encrypt = true)
    (o, oe)
  }

  private def bytesOf(o: PdfObj, what: String): Array[Byte] = o match {
    case PHexStr(b) => b
    // literal-string /O //U /OE /UE etc: the parser's exact source bytes when
    // carried (raw), else the byte-preserving re-encode — the raw path makes
    // recovery exact even for ciphertext that happens to be valid multibyte
    // UTF-8 (round-6 review)
    case p @ PStr(s) =>
      if (p.raw != null) p.raw
      else s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    case other      => Err.fail(s"$what should be a string, found $other")
  }

  /** Build a verified decryptor from the /Encrypt dictionary + first /ID
    * element. Supported: V1/V2 RC4 (R2/R3), V4 crypt filters with
    * /CFM /AESV2 (AES-128-CBC) or /V2 (RC4) and /StmF /StdCF, and V5/R6
    * AES-256/AESV3 (Algorithm 2.B SHA-2 derivation). `password` (round 5;
    * empty by default) is tried as the USER password first, then as the
    * OWNER password (legacy: Algorithm 7 /O recovery; V5: the /O//OE 2.B
    * branch with the /U entry as udata). Fails loudly on: non-Standard
    * handlers, Identity or named stream filters other than StdCF, or when
    * no password path verifies (a wrong password must never silently
    * garble output).
    */
  def standardDecryptor(enc: Map[String, PdfObj], id0: Array[Byte],
                        password: Array[Byte] = Array.emptyByteArray): Decryptor = {
    enc.get("Filter") match {
      case Some(PName("Standard")) => ()
      case other => Err.fail(s"encryption handler not supported: $other")
    }
    val v = enc.get("V") match { case Some(PNum(NInt(n))) => n; case _ => 0 }
    val r = enc.get("R") match {
      case Some(PNum(NInt(n))) => n
      case _                   => Err.fail("Encrypt dictionary requires /R")
    }
    def noOpen(): Nothing = Err.fail(
      if (password.isEmpty) "encrypted document is not openable with an empty user password"
      else "encrypted document is not openable with the given password")
    // are STRING objects encrypted? V1/V2 always (no /StrF concept); the
    // crypt-filter versions per /StrF (absent = Identity per spec)
    val strEnc =
      if (v < 4) true
      else enc.get("StrF") match {
        case Some(PName("StdCF"))                  => true
        case Some(PName("Identity")) | None        => false
        case other => Err.fail(s"string crypt filter not supported: $other")
      }
    // resolve the stream crypt filter (StdCF): method + its own /Length
    def streamCf(): (String, Option[Int]) = {
      enc.get("StmF") match {
        case Some(PName("StdCF")) => ()
        case None => // /StmF defaults to Identity (unencrypted streams) per spec
          Err.fail(s"V$v encryption without /StmF (Identity streams) not supported")
        case other => Err.fail(s"stream crypt filter not supported: $other")
      }
      enc.get("CF") match {
        case Some(PDict(cf)) => cf.get("StdCF") match {
          case Some(PDict(std)) =>
            val m = std.get("CFM") match {
              case Some(PName(x)) => x
              case _              => Err.fail("StdCF crypt filter requires /CFM")
            }
            val len = std.get("Length") match {
              // the CF /Length is specified in BYTES, but writers commonly
              // emit bits; values <= 32 read as bytes, larger as bits
              case Some(PNum(NInt(x))) => Some(if (x <= 32) x * 8 else x)
              case _                   => None
            }
            (m, len)
          case _ => Err.fail(s"V$v encryption requires /CF /StdCF")
        }
        case _ => Err.fail(s"V$v encryption requires a /CF dictionary")
      }
    }
    // V5/R6 (PDF 2.0, AES-256): /U carries hash+salts, /UE the wrapped file
    // key; SHA-2 derivation (Algorithm 2.B), no /ID or per-object keys. The
    // password is tried on the user entries first, then on the owner entries
    // (/O//OE with the 48-byte /U as the 2.B udata).
    if (v == 5) {
      if (r != 6) Err.fail(s"encryption V=5 R=$r not supported (revision 6 only)")
      streamCf()._1 match {
        case "AESV3" => ()
        case other   => Err.fail(s"V5 crypt filter method $other not supported (AESV3 only)")
      }
      val u = bytesOf(enc.getOrElse("U", Err.fail("Encrypt dictionary requires /U")), "/U")
      if (u.length < 48) Err.fail("V5 /U entry must be 48 bytes")
      val none = Array.emptyByteArray
      val asUser = java.util.Arrays.equals(hash2B(password, u.slice(32, 40), none), u.take(32))
      if (asUser) {
        val ue = bytesOf(enc.getOrElse("UE", Err.fail("V5 encryption requires /UE")), "/UE")
        if (ue.length != 32) Err.fail("V5 /UE entry must be 32 bytes")
        val ikey = hash2B(password, u.slice(40, 48), none)
        return Decryptor(aesCbcRaw(ikey, new Array[Byte](16), ue, encrypt = false),
          aes = true, directKey = true, strings = strEnc)
      }
      val o = enc.get("O").map(x => bytesOf(x, "/O")).filter(_.length >= 48)
      val oe = enc.get("OE").map(x => bytesOf(x, "/OE")).filter(_.length == 32)
      (o, oe) match {
        case (Some(o48), Some(oeB)) =>
          val u48 = u.take(48)
          if (!java.util.Arrays.equals(hash2B(password, o48.slice(32, 40), u48), o48.take(32)))
            noOpen()
          val okey = hash2B(password, o48.slice(40, 48), u48)
          return Decryptor(aesCbcRaw(okey, new Array[Byte](16), oeB, encrypt = false),
            aes = true, directKey = true, strings = strEnc)
        case _ => noOpen()
      }
    }
    val okVR = (v >= 1 && v <= 2 && r >= 2 && r <= 3) || (v == 4 && r == 4)
    if (!okVR)
      Err.fail(s"encryption V=$v R=$r not supported (RC4 V1/V2 R2/R3, V4 R4, V5 R6 only)")
    // V4: resolve the stream crypt filter (StdCF), its method, and — ADVICE
    // round 5 — prefer the StdCF dictionary's own /Length over the top-level
    // one (a V4 document may declare its key length only inside the CF dict)
    var cfLen: Option[Int] = None
    val aes =
      if (v < 4) false
      else {
        val (m, len) = streamCf()
        cfLen = len
        m match {
          case "AESV2" => true
          case "V2"    => false
          case other   => Err.fail(s"crypt filter method $other not supported (AESV2/V2 only)")
        }
      }
    val lengthBits = cfLen.getOrElse(enc.get("Length") match {
      case Some(PNum(NInt(n))) => n
      case None                => if (v == 4) 128 else 40
      case _                   => Err.fail("Encrypt /Length should be an integer")
    })
    if (lengthBits % 8 != 0 || lengthBits < 40 || lengthBits > 128)
      Err.fail(s"encryption key length $lengthBits not supported")
    val n = if (r == 2) 5 else lengthBits / 8
    val o = bytesOf(enc.getOrElse("O", Err.fail("Encrypt dictionary requires /O")), "/O")
    val u = bytesOf(enc.getOrElse("U", Err.fail("Encrypt dictionary requires /U")), "/U")
    val p = enc.get("P") match {
      case Some(PNum(NInt(x))) => x
      case _                   => Err.fail("Encrypt dictionary requires /P")
    }
    val metaUnenc = enc.get("EncryptMetadata") match {
      case Some(PName("false")) => true // bareword coercion turns booleans into names
      case _                    => false
    }
    def verified(key: Array[Byte]): Boolean = {
      val expectU = userEntry(key, id0, r)
      if (r == 2) java.util.Arrays.equals(u, expectU)
      else u.length >= 16 && java.util.Arrays.equals(u.take(16), expectU.take(16))
    }
    // the password as USER password (Algorithm 2 + /U check) ...
    val userKey = fileKey(o, p, id0, n, r, metaUnenc, password)
    if (verified(userKey)) return Decryptor(userKey, aes, strings = strEnc)
    // ... else as OWNER password (Algorithm 7: recover the padded user
    // password from /O, re-derive, re-verify)
    if (password.nonEmpty) {
      val recovered = ownerToUserPassword(password, o, n, r)
      val ownerKey = fileKey(o, p, id0, n, r, metaUnenc, recovered)
      if (verified(ownerKey)) return Decryptor(ownerKey, aes, strings = strEnc)
    }
    noOpen()
  }
}
