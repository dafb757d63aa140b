package graft.operators

import org.apache.spark.sql.Dataset

/** Multimodal column plumbing: image/audio/video payloads as opaque `binary`
  * columns plus a typed metadata struct, with decode / feature-extract / resize /
  * frame-sample stages as typed mapPartitions transforms.
  *
  * Header metadata decode is real for PNG/JPEG/WAV/MP4 (pure-JVM byte walks);
  * PIXEL decode is real for every format the JDK's built-in `javax.imageio`
  * registers (PNG/JPEG/TIFF/BMP/GIF — no external codec library needed): see
  * [[decodePixels]]; AUDIO SAMPLE decode is real for WAV/PCM-16
  * ([[decodeWavSamples]] — pure byte reads); MP4 FRAME METADATA (frame count,
  * duration, timescale from the stsz/stts/mdhd sample tables) is real too
  * ([[mp4FrameMeta]] — round 6). Only MP4 frame PIXEL decode (actual video
  * decoding) remains stubbed (`decodeStub` — the JDK genuinely ships no video
  * codec), standing in as a deterministic fake with the real Spark-side
  * plumbing: binary column schema, batch-shaped partition iteration, feature
  * output shape, partitioning.
  */
object Multimodal {

  final case class MediaMeta(width: Int, height: Int, frames: Int, bytes: Long)
  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class DecodedRow(doc_id: Long, width: Int, height: Int, frames: Int,
                              bytes: Long, features: Array[Float])

  /** STUB decoder — deterministic fake standing in for a real image/video decode
    * (??? in spirit): dimensions are pure functions of the byte length, so any
    * engine can oracle them; a real deployment swaps this for the codec call.
    */
  def decodeStub(payload: Array[Byte]): MediaMeta = {
    val n = payload.length
    MediaMeta(
      width = 1 + (n % 64),
      height = 1 + (n % 37),
      frames = 1 + n / 100,
      bytes = n.toLong)
  }

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  def isPng(b: Array[Byte]): Boolean =
    b.length >= 24 && u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
      u8(b, 4) == 0x0d && u8(b, 5) == 0x0a && u8(b, 6) == 0x1a && u8(b, 7) == 0x0a

  def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 4 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8

  /** PNG IHDR dims: the IHDR chunk is REQUIRED to be first (PNG spec 11.2.2),
    * so width/height are the big-endian u32s at byte offsets 16/20.
    */
  private def pngDims(b: Array[Byte]): Option[(Int, Int)] = {
    // verify the first chunk really is IHDR before trusting the offsets
    if (b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') {
      val w = be32(b, 16); val h = be32(b, 20)
      if (w > 0 && h > 0) Some((w, h)) else None
    } else None
  }

  /** JPEG dims: walk the marker segments from SOI until a start-of-frame marker
    * SOFn (0xC0-0xCF excluding the non-frame C4/C8/CC), whose payload carries
    * height/width as big-endian u16 at marker+5/+7 (ITU T.81 B.2.2). Standalone
    * markers (RSTn/TEM) have no length word; every other segment is skipped by
    * its declared length. Returns None on any structural corruption.
    */
  private def jpegDims(b: Array[Byte]): Option[(Int, Int)] = {
    var pos = 2
    while (pos + 3 < b.length) {
      if (u8(b, pos) != 0xff) return None
      var m = u8(b, pos + 1)
      while (m == 0xff && pos + 2 < b.length) { pos += 1; m = u8(b, pos + 1) } // fill bytes
      // the fill loop can advance pos to the buffer edge (payload ending in a
      // run of 0xFF) — re-check before the segment-length read below
      if (pos + 3 >= b.length) return None
      if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
        if (pos + 8 >= b.length) return None
        val h = be16(b, pos + 5); val w = be16(b, pos + 7)
        return if (w > 0 && h > 0) Some((w, h)) else None
      } else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) {
        pos += 2 // standalone marker, no length
      } else {
        val segLen = be16(b, pos + 2)
        if (segLen < 2) return None
        pos += 2 + segLen
      }
    }
    None
  }

  @inline private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
  @inline private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)

  def isWav(b: Array[Byte]): Boolean =
    b.length >= 44 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  def isMp4(b: Array[Byte]): Boolean =
    b.length >= 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p'

  /** Parsed RIFF/WAVE structure — ONE chunk walk shared by the header decode
    * (wavMeta) and the sample decode (decodeWavSamples), so the two can never
    * diverge on the same bytes.
    */
  private final case class WavChunks(fmt: Int, channels: Int, rate: Int, bits: Int,
                                     blockAlign: Int, dataOff: Int, dataLen: Int)

  private def wavChunks(b: Array[Byte]): Option[WavChunks] = {
    var pos = 12
    var rate = -1; var channels = -1; var blockAlign = -1; var bits = -1; var fmt = -1
    var dataOff = -1; var dataLen = -1
    while (pos + 8 <= b.length && (rate < 0 || dataOff < 0)) {
      val id = new String(b, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = le32(b, pos + 4)
      if (size < 0 || pos + 8 + size > b.length) return None
      if (id == "fmt " && size >= 16) {
        fmt = le16(b, pos + 8)
        channels = le16(b, pos + 10)
        rate = le32(b, pos + 12)
        blockAlign = le16(b, pos + 20)
        bits = le16(b, pos + 22)
      } else if (id == "data") { dataOff = pos + 8; dataLen = size }
      pos += 8 + size + (size & 1) // RIFF chunks are word-aligned (odd sizes pad)
    }
    if (rate > 0 && channels > 0 && blockAlign > 0 && dataOff >= 0)
      Some(WavChunks(fmt, channels, rate, bits, blockAlign, dataOff, dataLen))
    else None
  }

  /** WAV/RIFF audio meta (RIFF spec; WAVE fmt + data chunks): the audio axes
    * flatten into MediaMeta as width = sample rate, height = channel count,
    * frames = SAMPLE frames (data bytes / block align) — the documented audio
    * mapping of the shared media schema.
    */
  private def wavMeta(b: Array[Byte]): Option[(Int, Int, Int)] =
    wavChunks(b).map(c => (c.rate, c.channels, c.dataLen / c.blockAlign))

  /** Find a child box named `name` inside [from, to); returns
    * (payloadStart, payloadEnd) — shared by the tkhd dim walk and the
    * stsz/stts frame-metadata walk.
    */
  private def mp4Child(b: Array[Byte], name: String, from: Int, to: Int): Option[(Int, Int)] = {
    var pos = from
    while (pos + 8 <= to) {
      val size32 = be32(b, pos)
      val id = new String(b, pos + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      // ISO 14496-12 §4.2 size escapes (ADVICE r6): size==0 means "extends to
      // the end of the enclosing scope" (common for a trailing mdat), size==1
      // means the real length is the 64-bit largesize field after the id —
      // both are well-formed, not corruption; only then does a too-small or
      // overrunning size make the walk bail to the caller's fallback.
      val (size: Long, header: Int) =
        if (size32 == 0) ((to - pos).toLong, 8)
        else if (size32 == 1) {
          if (pos + 16 > to) return None
          val hi = (be32(b, pos + 8) & 0xffffffffL) << 32
          (hi | (be32(b, pos + 12) & 0xffffffffL), 16)
        } else ((size32 & 0xffffffffL, 8))
      if (size < header || pos + size > to) return None
      if (id == name) return Some((pos + header, (pos + size).toInt))
      pos += size.toInt
    }
    None
  }

  /** The first trak's bounds — ONE moov/trak walk shared by the dim and
    * frame-metadata parses (round-6 review: decode() used to walk it twice).
    */
  private def mp4Trak(b: Array[Byte]): Option[(Int, Int)] =
    for {
      (moovS, moovE) <- mp4Child(b, "moov", 0, b.length)
      tr <- mp4Child(b, "trak", moovS, moovE)
    } yield tr

  /** MP4/ISO-BMFF video dims via a real box walk: trak -> tkhd, whose
    * v0/v1 payload ends in 16.16 fixed-point track width/height
    * (ISO 14496-12 §8.3.2).
    */
  private def mp4DimsIn(b: Array[Byte], trakS: Int, trakE: Int): Option[(Int, Int)] = {
    for {
      (tkhdS, tkhdE) <- mp4Child(b, "tkhd", trakS, trakE)
      version = u8(b, tkhdS)
      // v0: 4 flags + 20 times/ids + 8 reserved + 8 layer/group/vol + 36 matrix
      // = 76 bytes before width; v1 carries 64-bit times (+12)
      wOff = tkhdS + (if (version == 1) 88 else 76)
      if wOff + 8 <= tkhdE
      w = be32(b, wOff) >>> 16
      h = be32(b, wOff + 4) >>> 16
      if w > 0 && h > 0
    } yield (w, h)
  }

  /** REAL MP4 frame METADATA — no codec needed (round 6, closes the last
    * `partial`): the frame count and total duration live in plain big-endian
    * sample tables inside `moov -> trak -> mdia -> minf -> stbl`
    * (ISO 14496-12):
    *  - `stsz` §8.7.3: sample_count u32 = the track's FRAME count,
    *  - `stts` §8.6.1.2: entry_count x (sample_count, sample_delta) u32
    *    pairs; total duration = sum(count * delta) in media time units,
    *  - `mdhd` §8.4.2: the media timescale (units per second), v0/v1 layouts.
    * Only frame PIXEL decode (actual video decoding) remains behind
    * [[decodeStub]] — the JDK ships no video codec. Structural corruption
    * (truncated boxes, entry tables past the box end, hostile counts) returns
    * None — bounds-checked byte reads, per the pipeline's never-fail-a-row
    * contract.
    */
  final case class Mp4Frames(nFrames: Int, durationUnits: Long, timescale: Int)

  def mp4FrameMeta(b: Array[Byte]): Option[Mp4Frames] = {
    if (!isMp4(b)) return None
    try mp4Trak(b).flatMap { case (s, e) => mp4FramesIn(b, s, e) }
    catch { case scala.util.control.NonFatal(_) => None }
  }

  private def mp4FramesIn(b: Array[Byte], trakS: Int, trakE: Int): Option[Mp4Frames] = {
    def mdhdTimescale(s: Int, e: Int): Option[Int] = {
      if (s >= e || e > b.length) return None // empty box at buffer end: no version byte
      val off = s + (if (u8(b, s) == 1) 20 else 12) // v1: 64-bit create/modify times
      if (off + 4 <= e) Some(be32(b, off)).filter(_ > 0) else None
    }
    def sttsDuration(s: Int, e: Int): Option[Long] = {
      if (s + 8 > e) return None
      val entries = be32(b, s + 4)
      // hostile entry_count: the table must FIT inside the box
      if (entries < 0 || s + 8 + entries.toLong * 8 > e) return None
      var total = 0L
      var i = 0
      while (i < entries) {
        val cnt = be32(b, s + 8 + i * 8).toLong & 0xffffffffL
        val delta = be32(b, s + 12 + i * 8).toLong & 0xffffffffL
        // hostile u32 pairs can overflow Long (cnt*delta up to ~1.8e19):
        // wrapped garbage would masquerade as a duration — refuse instead
        // (round-6 review)
        if (cnt != 0 && (delta > Long.MaxValue / cnt || total > Long.MaxValue - cnt * delta))
          return None
        total += cnt * delta
        i += 1
      }
      Some(total)
    }
    def stszCount(s: Int, e: Int): Option[Int] = {
      if (s + 12 > e) return None
      val n = be32(b, s + 8)
      if (n < 0) None else Some(n)
    }
    for {
      (mdiaS, mdiaE) <- mp4Child(b, "mdia", trakS, trakE)
      (mdhdS, mdhdE) <- mp4Child(b, "mdhd", mdiaS, mdiaE)
      (minfS, minfE) <- mp4Child(b, "minf", mdiaS, mdiaE)
      (stblS, stblE) <- mp4Child(b, "stbl", minfS, minfE)
      (sttsS, sttsE) <- mp4Child(b, "stts", stblS, stblE)
      (stszS, stszE) <- mp4Child(b, "stsz", stblS, stblE)
      ts <- mdhdTimescale(mdhdS, mdhdE)
      dur <- sttsDuration(sttsS, sttsE)
      nf <- stszCount(stszS, stszE)
    } yield Mp4Frames(nf, dur, ts)
  }

  /** Integer statistics over REAL decoded 16-bit PCM samples — audio's
    * equivalent of [[PixelStats]], fully reproducible cross-engine.
    */
  final case class AudioStats(sampleRate: Int, channels: Int, nSamples: Long,
                              sum: Long, min: Int, max: Int)

  /** REAL audio sample decode for WAV/PCM-16 — pure byte reads, no codec
    * library: walk the RIFF chunks (same walk as the header decode), then
    * read the data chunk as little-endian SIGNED 16-bit samples (all
    * channels interleaved; a trailing odd byte is ignored). This closes the
    * "audio sample decode stubbed" gap for WAV — only MP4 FRAME decode
    * remains stubbed (the JDK genuinely ships no video codec). Returns None
    * for non-WAV, non-PCM-16, or structurally corrupt payloads.
    */
  def decodeWavSamples(b: Array[Byte]): Option[AudioStats] = {
    if (!isWav(b)) return None
    try {
      wavChunks(b).filter(c => c.fmt == 1 && c.bits == 16).map { c =>
        val n = c.dataLen / 2
        var sum = 0L; var min = Int.MaxValue; var max = Int.MinValue
        var i = 0
        while (i < n) {
          val v = (le16(b, c.dataOff + 2 * i) << 16) >> 16 // sign-extend LE16
          sum += v
          if (v < min) min = v
          if (v > max) max = v
          i += 1
        }
        if (n == 0) { min = 0; max = 0 }
        AudioStats(c.rate, c.channels, n.toLong, sum, min, max)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Decode media metadata from REAL container headers — pure-JVM byte reads,
    * no codec library needed: PNG IHDR, JPEG SOFn marker scan, WAV/RIFF fmt
    * chunk walk, MP4 moov/trak/tkhd box walk. Stills and videos report their
    * pixel dims (frames=1 — sample tables are out of scope); audio flattens as
    * (sample rate, channels, sample frames). Payloads that are none of these
    * (or are structurally corrupt) fall back to the deterministic
    * `decodeStub`; full pixel/sample decode stays stubbed (no codec libraries
    * in this environment) — only header metadata is real.
    */
  def decode(payload: Array[Byte]): MediaMeta = {
    // structural corruption must FALL BACK, never fail the row (the pipeline
    // contract): the parsers bounds-check, and this catch backstops them
    val meta =
      try {
        if (isPng(payload)) pngDims(payload).map { case (w, h) => (w, h, 1) }
        else if (isJpeg(payload)) jpegDims(payload).map { case (w, h) => (w, h, 1) }
        else if (isWav(payload)) wavMeta(payload)
        else if (isMp4(payload)) mp4Trak(payload).flatMap { case (ts, te) =>
          // ONE moov/trak walk for both parses; frame count from the stbl
          // sample tables when the container carries them (round 6), headers
          // without an stbl keep frames = 1. The frame walk gets its OWN
          // containment: a corrupt sample table must degrade to frames = 1,
          // not discard the already-parsed dims through the outer catch
          // (round-6 review #3)
          mp4DimsIn(payload, ts, te).map { case (w, h) =>
            val nf =
              try mp4FramesIn(payload, ts, te).map(_.nFrames).getOrElse(1)
              catch { case scala.util.control.NonFatal(_) => 1 }
            (w, h, nf)
          }
        }
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    meta match {
      case Some((w, h, f)) => MediaMeta(w, h, frames = f, bytes = payload.length.toLong)
      case None            => decodeStub(payload)
    }
  }

  // --- deterministic envelope synthesizers (tests/queries): structurally valid
  //     containers around an opaque tail, so the header parsers above have real
  //     bytes to read and any engine can re-derive the dims from the same bytes.

  /** Minimal structurally-valid PNG: signature, IHDR(w, h, 8-bit RGB) with a
    * real CRC, the tail wrapped as an IDAT chunk (not valid zlib — header
    * envelope only), and IEND. Total size 57 + tail.length bytes.
    */
  def pngEnvelope(width: Int, height: Int, tail: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      def w32(v: Int): Unit =
        out.write(Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte), 0, 4)
      w32(data.length)
      val typed = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ data
      out.write(typed, 0, typed.length)
      val crc = new java.util.zip.CRC32()
      crc.update(typed)
      w32(crc.getValue.toInt)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (width >>> 24).toByte; ihdr(1) = (width >>> 16).toByte
    ihdr(2) = (width >>> 8).toByte; ihdr(3) = width.toByte
    ihdr(4) = (height >>> 24).toByte; ihdr(5) = (height >>> 16).toByte
    ihdr(6) = (height >>> 8).toByte; ihdr(7) = height.toByte
    ihdr(8) = 8; ihdr(9) = 2; ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0
    chunk("IHDR", ihdr)
    chunk("IDAT", tail)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Minimal structurally-valid JPEG: SOI, a 16-byte JFIF APP0, SOF0 (8-bit,
    * 1 component) at FIXED byte offset 20, the tail as entropy data, EOI.
    * Total size 35 + tail.length bytes; the fixed SOF offset lets a SQL oracle
    * read height/width at hex offsets 51/55 without a marker walk.
    */
  def jpegEnvelope(width: Int, height: Int, tail: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def wb(vs: Int*): Unit = vs.foreach(v => out.write(v & 0xff))
    wb(0xff, 0xd8) // SOI
    wb(0xff, 0xe0, 0x00, 0x10) // APP0, len 16
    out.write("JFIF".getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 4)
    wb(0x00, 0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00)
    wb(0xff, 0xc0, 0x00, 0x0b, 0x08) // SOF0, len 11, precision 8
    wb(height >>> 8, height, width >>> 8, width)
    wb(0x01, 0x01, 0x11, 0x00) // 1 component: id 1, 1x1 sampling, qtable 0
    out.write(tail, 0, tail.length)
    wb(0xff, 0xd9) // EOI
    out.toByteArray
  }

  /** Minimal structurally-valid WAV: RIFF/WAVE header, a canonical 16-byte PCM
    * fmt chunk at FIXED byte offset 12 (channels LE16 @22, sample rate LE32
    * @24, block align LE16 @32), data length LE32 @40, and the tail as the
    * data chunk payload from byte 44. The fixed layout lets a SQL oracle read
    * the fields at hex offsets without a chunk walk; the DECODER still does
    * the real walk. 16-bit PCM: block align = channels*2.
    */
  def wavEnvelope(sampleRate: Int, channels: Int, tail: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def wle32(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff); out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff) }
    def wle16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def tag(s: String): Unit = out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 4)
    val blockAlign = channels * 2
    tag("RIFF"); wle32(36 + tail.length); tag("WAVE")
    tag("fmt "); wle32(16)
    wle16(1) // PCM
    wle16(channels)
    wle32(sampleRate)
    wle32(sampleRate * blockAlign) // byte rate
    wle16(blockAlign)
    wle16(16) // bits per sample
    tag("data"); wle32(tail.length)
    out.write(tail, 0, tail.length)
    out.toByteArray
  }

  /** Minimal structurally-valid MP4: 16-byte ftyp, then moov > trak > tkhd(v0)
    * with 16.16 fixed-point dims, then the tail as mdat. Fixed layout: tkhd
    * payload starts at byte 40, so width/height sit at bytes 116/120 (BE32,
    * integer part = value >> 16) — SQL-oracle-readable at fixed hex offsets
    * while the decoder does the real nested box walk.
    */
  def mp4Envelope(width: Int, height: Int, tail: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def wbe32(v: Int): Unit = { out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff); out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    def tag(s: String): Unit = out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 4)
    wbe32(16); tag("ftyp"); tag("isom"); wbe32(0)
    val tkhdSize = 8 + 84 // header + v0 payload (4 flags + 20 + 8 + 8 + 36 matrix + 8 dims)
    val trakSize = 8 + tkhdSize
    val moovSize = 8 + trakSize
    wbe32(moovSize); tag("moov")
    wbe32(trakSize); tag("trak")
    wbe32(tkhdSize); tag("tkhd")
    wbe32(0x00000007) // version 0, flags: enabled|in-movie|in-preview
    wbe32(0); wbe32(0); wbe32(1); wbe32(0); wbe32(0) // times, track 1, reserved, duration
    wbe32(0); wbe32(0) // reserved[2]
    wbe32(0); wbe32(0) // layer/alt-group, volume/reserved
    // unity matrix (a=c=1.0 in 16.16, w=1.0 in 2.30)
    wbe32(0x00010000); wbe32(0); wbe32(0)
    wbe32(0); wbe32(0x00010000); wbe32(0)
    wbe32(0); wbe32(0); wbe32(0x40000000)
    wbe32(width << 16); wbe32(height << 16)
    wbe32(8 + tail.length); tag("mdat")
    out.write(tail, 0, tail.length)
    out.toByteArray
  }

  /** MP4 envelope WITH sample tables, fixed layout (round 6): the tkhd block
    * of [[mp4Envelope]] (dims at bytes 116/120) followed by
    * `mdia > mdhd + minf > stbl > stts + stsz`. stts carries TWO entries so
    * the duration walk really sums `count*delta` pairs; stsz uses a uniform
    * nonzero sample_size, so no per-sample table follows and every field sits
    * at a FIXED byte offset a SQL oracle can read: mdhd timescale @152,
    * stts (n1,d1,n2,d2) @196/200/204/208, stsz sample_count @228 (all BE32);
    * mdat starts at 232. The decoder still does the real nested box walk.
    */
  def mp4EnvelopeFrames(width: Int, height: Int, timescale: Int,
                        n1: Int, d1: Int, n2: Int, d2: Int,
                        tail: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def wbe32(v: Int): Unit = { out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff); out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    def tag(s: String): Unit = out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 4)
    wbe32(16); tag("ftyp"); tag("isom"); wbe32(0)
    val tkhdSize = 8 + 84
    val mdhdSize = 8 + 24
    val sttsSize = 8 + 8 + 16 // version/flags + entry_count + 2 entries
    val stszSize = 8 + 12
    val stblSize = 8 + sttsSize + stszSize
    val minfSize = 8 + stblSize
    val mdiaSize = 8 + mdhdSize + minfSize
    val trakSize = 8 + tkhdSize + mdiaSize
    val moovSize = 8 + trakSize
    wbe32(moovSize); tag("moov")
    wbe32(trakSize); tag("trak")
    wbe32(tkhdSize); tag("tkhd")
    wbe32(0x00000007) // version 0, flags: enabled|in-movie|in-preview
    wbe32(0); wbe32(0); wbe32(1); wbe32(0); wbe32(0) // times, track 1, reserved, duration
    wbe32(0); wbe32(0) // reserved[2]
    wbe32(0); wbe32(0) // layer/alt-group, volume/reserved
    wbe32(0x00010000); wbe32(0); wbe32(0)
    wbe32(0); wbe32(0x00010000); wbe32(0)
    wbe32(0); wbe32(0); wbe32(0x40000000)
    wbe32(width << 16); wbe32(height << 16)
    wbe32(mdiaSize); tag("mdia")
    wbe32(mdhdSize); tag("mdhd")
    wbe32(0) // version 0, flags
    wbe32(0); wbe32(0) // creation/modification time
    wbe32(timescale)
    wbe32(n1 * d1 + n2 * d2) // mdhd duration (consistent with stts)
    wbe32(0x55c40000) // language 'und', pre_defined
    wbe32(minfSize); tag("minf")
    wbe32(stblSize); tag("stbl")
    wbe32(sttsSize); tag("stts")
    wbe32(0); wbe32(2) // version/flags, entry_count
    wbe32(n1); wbe32(d1); wbe32(n2); wbe32(d2)
    wbe32(stszSize); tag("stsz")
    wbe32(0); wbe32(777) // version/flags, uniform sample_size (no table)
    wbe32(n1 + n2) // sample_count = frame count
    wbe32(8 + tail.length); tag("mdat")
    out.write(tail, 0, tail.length)
    out.toByteArray
  }

  final case class Mp4FrameRow(doc_id: Long, n_frames: Int, duration_units: Long,
                               timescale: Int)

  /** Frame-metadata pipeline over a binary MP4 table: the real stsz/stts/mdhd
    * walk per partition; rows without a readable sample table are dropped
    * (callers route those through the header/stub path).
    */
  def decodeMp4Frames(media: Dataset[MediaRow]): Dataset[Mp4FrameRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      mp4FrameMeta(r.payload).map(m =>
        Mp4FrameRow(r.doc_id, m.nFrames, m.durationUnits, m.timescale))
    })
  }

  /** Fully-decodable 8-bit GRAYSCALE PNG with pixel bytes at COMPUTABLE blob
    * offsets: the IDAT zlib stream is handcrafted from STORED (uncompressed)
    * deflate blocks, so any engine — including a SQL oracle with no codec —
    * can re-derive every pixel from the raw bytes, while `javax.imageio`
    * decodes the same file as a perfectly ordinary PNG (stored blocks are
    * valid zlib). Layout: scanline y = 1 filter byte (0, None) + `width` gray
    * bytes; raw stream = height such scanlines; zlib = 0x78 0x01 header +
    * 64KiB-max stored blocks (5-byte headers) + Adler-32. For images whose raw
    * stream fits one stored block (width+1)*height <= 65535, pixel (x, y)
    * lives at fixed blob offset 8 + 8+13+4 + 8 + (2+5) + y*(width+1) + 1 + x
    * — signature, IHDR chunk, IDAT length+type, zlib+block header.
    */
  def pngGray(width: Int, height: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0, "pngGray needs positive dims")
    val raw = new Array[Byte]((width + 1) * height)
    var y = 0
    while (y < height) {
      val base = y * (width + 1)
      raw(base) = 0 // filter: None
      var x = 0
      while (x < width) { raw(base + 1 + x) = (pixel(x, y) & 0xff).toByte; x += 1 }
      y += 1
    }
    // zlib stream from stored blocks: header 0x78 0x01, then per-block
    // BFINAL/BTYPE=00 + LEN + ~LEN (LE16), then Adler-32 of the raw stream
    val z = new java.io.ByteArrayOutputStream()
    z.write(0x78); z.write(0x01)
    var off = 0
    while (off < raw.length) {
      val len = math.min(65535, raw.length - off)
      z.write(if (off + len >= raw.length) 1 else 0)
      z.write(len & 0xff); z.write((len >>> 8) & 0xff)
      z.write((~len) & 0xff); z.write(((~len) >>> 8) & 0xff)
      z.write(raw, off, len)
      off += len
    }
    val adler = new java.util.zip.Adler32()
    adler.update(raw)
    val a = adler.getValue.toInt
    z.write((a >>> 24) & 0xff); z.write((a >>> 16) & 0xff)
    z.write((a >>> 8) & 0xff); z.write(a & 0xff)

    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      def w32(v: Int): Unit =
        out.write(Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte), 0, 4)
      w32(data.length)
      val typed = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ data
      out.write(typed, 0, typed.length)
      val crc = new java.util.zip.CRC32()
      crc.update(typed)
      w32(crc.getValue.toInt)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (width >>> 24).toByte; ihdr(1) = (width >>> 16).toByte
    ihdr(2) = (width >>> 8).toByte; ihdr(3) = width.toByte
    ihdr(4) = (height >>> 24).toByte; ihdr(5) = (height >>> 16).toByte
    ihdr(6) = (height >>> 8).toByte; ihdr(7) = height.toByte
    ihdr(8) = 8; ihdr(9) = 0; ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0 // 8-bit gray
    chunk("IHDR", ihdr)
    chunk("IDAT", z.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Real 8-bit grayscale JPEG via the JDK's built-in ImageIO writer —
    * deterministic for a given JVM (fixture synthesis for the DCTDecode
    * gates). Decoded DIMENSIONS are exact; sample values are lossy (DCT
    * quantization), so dimension gates oracle exactly and sample gates use
    * tolerance.
    */
  def jpegGray(width: Int, height: Int, pixel: (Int, Int) => Int): Array[Byte] =
    imageioGray("jpg", width, height, pixel)

  /** One grayscale BufferedImage fill + ImageIO encode shared by every
    * format-specific writer (jpegGray/bmpGray).
    */
  private def imageioGray(format: String, width: Int, height: Int,
                          pixel: (Int, Int) => Int): Array[Byte] = {
    graft.core.LenientFilters.imageioInit
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { raster.setSample(x, y, 0, pixel(x, y) & 0xff); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    if (!javax.imageio.ImageIO.write(img, format, out))
      throw new IllegalStateException(s"JDK has no $format writer registered")
    out.toByteArray
  }

  /** Real 8-bit grayscale BMP via the JDK's ImageIO writer (lossless — BMP
    * stores raw rows, so decode returns the exact samples; probe-verified
    * TYPE_BYTE_GRAY round-trip). A second true pixel codec path beside the
    * handcrafted stored-zlib PNG.
    */
  def bmpGray(width: Int, height: Int, pixel: (Int, Int) => Int): Array[Byte] =
    imageioGray("bmp", width, height, pixel)

  /** Integer pixel statistics over every band sample of a decoded image —
    * deterministic (no float math), so two independent decoders of the same
    * bytes agree bit-for-bit. For an 8-bit grayscale image these are exactly
    * the statistics of the gray bytes.
    */
  final case class PixelStats(width: Int, height: Int, sum: Long, min: Int, max: Int,
                              gt127: Long)

  /** REAL pixel decode via the JDK's built-in `javax.imageio` readers
    * (PNG/JPEG/TIFF/BMP/GIF in this JDK — zero external dependencies; the
    * earlier "no codec libraries in this environment" stub rationale was
    * wrong). One shared decode+raster-walk with the DCT stream filter
    * (core/Filters.dctDecodeImage) — samples are 8-bit (deeper rasters read
    * mod 256, consistently across both call sites). Returns None when no
    * registered reader accepts the bytes or the decode fails — callers fall
    * back to header metadata / the stub, never fail the row.
    */
  def decodePixels(payload: Array[Byte]): Option[PixelStats] = {
    try {
      val im = graft.core.LenientFilters.dctDecodeImage(payload)
      var sum = 0L; var min = Int.MaxValue; var max = Int.MinValue; var gt = 0L
      var i = 0
      while (i < im.samples.length) {
        val v = im.samples(i) & 0xff
        sum += v
        if (v < min) min = v
        if (v > max) max = v
        if (v > 127) gt += 1
        i += 1
      }
      Some(PixelStats(im.width, im.height, sum, min, max, gt))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  final case class PixelRow(doc_id: Long, px_width: Int, px_height: Int, px_sum: Long,
                            px_min: Int, px_max: Int, px_gt127: Long, dims_match: Boolean)

  /** Pixel-decode pipeline over a binary-payload table: real `javax.imageio`
    * decode per partition, with the header-parsed dims cross-checked against
    * the pixel-decoded dims (`dims_match` — a free consistency gate between
    * the two independent parsers). The cross-check applies ONLY to containers
    * the header parser actually speaks (PNG/JPEG stills) — for formats it
    * does not (BMP/GIF/TIFF, which ImageIO still decodes), `dims_match` is
    * vacuously true rather than falsely comparing a real decode against the
    * stub's fake dims. Rows whose payload no registered reader accepts are
    * dropped (callers route those through [[decodeAndFeaturize]]'s
    * metadata/stub path instead).
    */
  def decodePixelStats(media: Dataset[MediaRow]): Dataset[PixelRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { row =>
        decodePixels(row.payload).map { st =>
          val headerKnown = isPng(row.payload) || isJpeg(row.payload)
          val header = if (headerKnown) decode(row.payload) else null
          PixelRow(row.doc_id, st.width, st.height, st.sum, st.min, st.max, st.gt127,
            header == null || (header.width == st.width && header.height == st.height))
        }
      }
    }
  }

  /** STUB feature extraction with real output shape: 8 block-mean byte values
    * scaled to [0,1] — the plumbing a real embedding model would use.
    */
  def featuresStub(payload: Array[Byte], dims: Int = 8): Array[Float] = {
    val out = new Array[Float](dims)
    if (payload.isEmpty) return out
    val block = math.max(1, payload.length / dims)
    var d = 0
    while (d < dims) {
      var s = 0L
      var i = d * block
      val end = math.min(payload.length, (d + 1) * block)
      var cnt = 0
      while (i < end) { s += (payload(i) & 0xff); i += 1; cnt += 1 }
      out(d) = if (cnt == 0) 0f else (s.toFloat / cnt) / 255f
      d += 1
    }
    out
  }

  /** Frame sampling stub: every `stride`-th frame index of the fake container. */
  def sampleFrames(meta: MediaMeta, stride: Int): Array[Int] =
    (0 until meta.frames by stride).toArray

  /** The decode + featurize pipeline over a binary-payload table: real header
    * parse for PNG/JPEG, deterministic stub for everything else.
    */
  def decodeAndFeaturize(media: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition setup point (a real decoder would init its codec here once)
      it.map { row =>
        val meta = decode(row.payload)
        DecodedRow(row.doc_id, meta.width, meta.height, meta.frames, meta.bytes,
          featuresStub(row.payload))
      }
    }
  }
}
