package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines. Everything that the
  * built-in (codegen'd) function library can express is a Column expression —
  * no UDFs on the hot path; only language-ID and fingerprinting (genuine loops)
  * are Scala functions used via typed map.
  */
object TextFunctions {

  /** Whitespace token count — codegen'd `size(split(...))`. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** Quality-score raw counts (integers only: exactly reproducible in any engine).
    * alpha / digit / punct character classes + stopword hits.
    */
  def nAlpha(text: Column): Column = length(text) - length(regexp_replace(text, "[A-Za-z]", ""))
  def nDigit(text: Column): Column = length(text) - length(regexp_replace(text, "[0-9]", ""))
  def nPunct(text: Column): Column =
    length(text) - length(regexp_replace(text, "[!-/:-@\\[-`{-~]", ""))

  val stopwordsEn: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "this",
    "for", "on", "with", "as", "at", "by", "be", "are")

  /** Stopword hits via higher-order array functions (still whole-stage codegen). */
  def nStopwords(text: Column): Column = {
    val words = split(lower(trim(text)), "\\s+")
    size(filter(words, w => w.isin(stopwordsEn: _*)))
  }

  /** BPE-ish token estimate: whitespace words plus a sub-word penalty for long
    * words (a word of length L costs ceil(L/4) tokens) — pure column math.
    */
  def bpeTokenEstimate(text: Column): Column = {
    val words = split(trim(text), "\\s+")
    when(length(trim(text)) === 0, 0).otherwise(
      aggregate(words, lit(0), (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("int")))
  }

  // --- PII redaction (codegen'd column exprs; deterministic placeholders) --------

  /** RE2/Java-common regexes (identical semantics in Spark's java.util.regex and
    * DuckDB's RE2): URL first (so an email inside a URL is consumed by the URL
    * rule), then email, then long digit runs. Deterministic placeholders make
    * redaction idempotent and exactly reproducible in any engine.
    */
  val urlRe = "https?://[^\\s]+"
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)+"
  val phoneRe = "\\+?[0-9]{7,15}"

  /** Mask URLs, emails and long digit runs with fixed placeholders. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, urlRe, "<URL>"),
        emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  // --- repetition metrics (Gopher-style curation filters; integer outputs) -------

  /** Word repetition: (n_words, n_distinct_words). Integer counts, not ratios —
    * exactly reproducible in any engine; callers derive the duplicate-word
    * fraction 1 - distinct/total.
    */
  def wordCounts(text: Column): (Column, Column) = {
    val words = filter(split(trim(text), "\\s+"), w => length(w) > 0)
    (size(words), size(array_distinct(words)))
  }

  /** Line repetition: (n_lines, n_distinct_lines) over non-empty lines. */
  def lineCounts(text: Column): (Column, Column) = {
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    (size(lines), size(array_distinct(lines)))
  }

  // --- payload-format sniffing (auto-routing for unlabeled corpora) --------------

  private val htmlTagRe = java.util.regex.Pattern.compile(
    "<(html|head|body|div|p|a|span|table)[ >]", java.util.regex.Pattern.CASE_INSENSITIVE)

  /** Payload sniffer for the per-row extraction path (`auto` routing) and
    * q_sniff_route: PDF magic, base64-of-PDF magic ("JVBERi0" ==
    * base64("%PDF-")), HTML tag presence, else plain. Case-insensitivity
    * lives in the compiled pattern, NOT a text.toLowerCase copy — this runs
    * per row on the extraction hot path.
    */
  def sniffKind(text: String): String = {
    if (text == null) "plain"
    else if (text.startsWith("%PDF-")) "pdf"
    else if (text.startsWith("JVBERi0")) "pdf-b64"
    else if (htmlTagRe.matcher(text).find()) "html"
    else "plain"
  }

  // --- language ID (heuristic n-gram/stopword profile; Scala side) ---------------

  private val profiles: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "as"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von", "zu", "den"),
    "fr" -> Set("le", "la", "les", "et", "est", "un", "une", "des", "du", "que", "pour", "dans"),
    "es" -> Set("el", "la", "los", "las", "y", "es", "un", "una", "de", "que", "por", "con"),
    "it" -> Set("il", "la", "di", "e", "che", "un", "una", "per", "sono", "del", "con", "non")
  )

  /** Deterministic language ID: stopword-profile argmax, ties resolved by profile
    * order, no hits => "und" (undetermined).
    */
  def langId(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    val words = text.toLowerCase.split("\\s+")
    var best = "und"
    var bestScore = 0
    profiles.foreach { case (lang, stops) =>
      var score = 0
      words.foreach(w => if (stops.contains(w)) score += 1)
      if (score > bestScore) { best = lang; bestScore = score }
    }
    best
  }

  // --- document fingerprinting (rolling hash; Scala side) ------------------------

  /** FNV-1a 64-bit over the UTF-8 bytes of the normalized text. */
  def fnv1a64(s: String): Long = fnv1a64(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** FNV-1a 64-bit over raw bytes — the one byte loop behind [[fnv1a64]]
    * and the interpreted path of [[Fnv1a64Expr]].
    */
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** The mixed polynomial rolling hash of every k-byte window of `b`
    * (b.length >= k), in window order.
    */
  private def windowHashes(b: Array[Byte], k: Int): Array[Long] = {
    val base = 1000003L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= base; i += 1 }
    val hs = new Array[Long](b.length - k + 1)
    var h = 0L
    i = 0
    while (i < k) { h = h * base + (b(i) & 0xffL); i += 1 }
    hs(0) = mix(h)
    i = k
    while (i < b.length) {
      h = (h - (b(i - k) & 0xffL) * pow) * base + (b(i) & 0xffL)
      hs(i - k + 1) = mix(h)
      i += 1
    }
    hs
  }

  /** Winnowing-style fingerprint: minimum polynomial rolling hash over all k-byte
    * windows (k=8) of the normalized text — robust to local edits; used as a
    * near-dup prefilter key.
    */
  def rollingMinHash(s: String, k: Int = 8): Long = {
    val b = normalize(s).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (b.length < k) return fnv1a64(b)
    val hs = windowHashes(b, k)
    var min = hs(0)
    var i = 1
    while (i < hs.length) {
      if (java.lang.Long.compareUnsigned(hs(i), min) < 0) min = hs(i)
      i += 1
    }
    min
  }

  /** Full WINNOWING fingerprint SET (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * selection rule): mix every k-byte polynomial rolling hash of the
    * normalized text, keep the minimum (unsigned) of each w-window of
    * consecutive hash positions, return the distinct selected values. Where
    * [[rollingMinHash]] keeps ONE global minimum per document (a coarse
    * prefilter key), this keeps one per window, so two documents sharing any
    * sufficiently long run of text share the fingerprints selected inside it —
    * the basis of cross-document overlap detection. Winnowing guarantees every
    * match of length >= k + w - 1 is caught by at least one shared fingerprint.
    * Texts shorter than k + w - 1 normalized bytes fall back to the single
    * FNV-1a hash of the whole text (same short-text rule as the shingle paths).
    * Result is sorted (signed order) distinct — consumers treat it as a set, so
    * the tie RULE inside a window is irrelevant (equal minima give equal values).
    */
  def winnowFingerprints(s: String, k: Int = 8, w: Int = 4): Array[Long] = {
    val b = normalize(s).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (b.length < k + w - 1) return Array(fnv1a64(b))
    val hs = windowHashes(b, k)
    // per-window unsigned min; w is small (default 4) so the direct O(n*w)
    // scan beats a deque's branchy bookkeeping
    val out = new Array[Long](hs.length - w + 1)
    var p = 0
    while (p < out.length) {
      var m = hs(p)
      var q = p + 1
      while (q < p + w) {
        if (java.lang.Long.compareUnsigned(hs(q), m) < 0) m = hs(q)
        q += 1
      }
      out(p) = m
      p += 1
    }
    sortedDistinct(out)
  }

  /** Sort + in-place dedup — primitive ops only (Array.distinct boxes every
    * Long through a HashSet; measured as the near-dup verify hot spot). The
    * result is SORTED, which downstream consumers exploit (bottom-m sketch,
    * merge-based Jaccard); every use is an order-insensitive set. Sorts `a`
    * in place.
    */
  def sortedDistinct(a: Array[Long]): Array[Long] = {
    if (a.length <= 1) return a
    java.util.Arrays.sort(a)
    var w = 1
    var i = 1
    while (i < a.length) {
      if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    if (w == a.length) a else java.util.Arrays.copyOf(a, w)
  }

  private val wsRun = java.util.regex.Pattern.compile("\\s+")

  def normalize(s: String): String =
    wsRun.matcher(s.toLowerCase).replaceAll(" ").trim // cached pattern: replaceAll(String) recompiles per call

  /** splitmix64 — public-domain mixing function. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
