package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-statistics quality and tokenization operators (Gopher/CCNet
  * family). They share one tokenization rule: lowercased whitespace words,
  * empty tokens dropped, taken as an array ([[words]]) or as one row per word
  * ([[wordRows]]). Each shared corpus-statistics step is written once:
  * [[countWords]], [[topWords]] (the top-V cut by count
  * desc, word asc — a total order, so reruns and engines agree on the
  * boundary), [[longScalar]], [[requireBroadcastable]] and [[everyDoc]] (a
  * doc with no tokens is kept with its defaults: a quality filter must SEE
  * the empty doc to reject it).
  *
  * All scores are INTEGER arithmetic so any engine reproduces them
  * bit-for-bit; e.g. a word's surprisal is the bit-length of N / c(w)
  * (`length(bin(N DIV c))` = floor(log2(N/c)) + 1 — both Spark and DuckDB
  * ship `bin`), never a floating-point log whose last ulp could differ
  * between engines' libm.
  */
object Quality {

  /** `text` lowercased and split on whitespace runs. Spark's `trim` strips
    * spaces only, so a tab-led text splits to a leading empty token, which
    * every caller drops with [[nonEmpty]].
    */
  private def splitWords(text: Column): Column = split(lower(trim(text)), "\\s+")

  private def nonEmpty(word: Column): Column = length(word) > 0

  /** The words of `text` as an array; null for a null text. */
  private def words(text: Column): Column = filter(splitWords(text), nonEmpty(_))

  /** One row per word of `textCol`, named `word`, after the `keep` columns
    * (and `pos`, its index in the split, when `positions`). The split is
    * exploded and the empty tokens filtered from the rows: a Filter on the
    * exploded rows, not a filtered copy of every document's array.
    */
  private def wordRows(df: DataFrame, textCol: String, keep: Seq[Column] = Nil,
      positions: Boolean = false): DataFrame = {
    val rows =
      if (positions) posexplode(splitWords(col(textCol))).as(Seq("pos", "word"))
      else explode(splitWords(col(textCol))).as("word")
    df.select(keep :+ rows: _*).where(nonEmpty(col("word")))
  }

  /** Occurrences of each word of a [[wordRows]] table: (word, c). */
  private def countWords(rows: DataFrame): DataFrame =
    rows.groupBy("word").agg(count(lit(1)).as("c"))

  /** The `n` most frequent rows of a [[countWords]] table, ties by word ascending. */
  private def topWords(counts: DataFrame, n: Int): DataFrame =
    counts.orderBy(col("c").desc, col("word").asc).limit(n)

  /** The one-row aggregate `agg` over `df`, a null read as 0. Callers inline
    * it as a literal: attaching a 1-row scalar via crossJoin(broadcast(...))
    * plans as a BroadcastNestedLoopJoin, which the engine bans outright.
    */
  private def longScalar(df: DataFrame, agg: Column): Long = {
    val r = df.agg(agg).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Fail unless `table`, keyed by its first column, may be broadcast: an
    * explicit broadcast hint bypasses Spark's size check, so this checks at
    * most `maxRows` rows (the caller's bound `param`) and no duplicate key.
    * Both probes are bounded jobs.
    */
  private def requireBroadcastable(
      table: DataFrame, maxRows: Int, param: String, what: String, key: String): Unit = {
    require(maxRows > 0 && maxRows < Int.MaxValue, s"$param=$maxRows out of range")
    val probe = table.limit(maxRows + 1).count()
    require(probe <= maxRows,
      s"$what exceeds $param=$maxRows — a table this large belongs in a shuffle join, not a broadcast")
    val distinctProbe = table.select(col(table.columns(0))).distinct().limit(maxRows + 1).count()
    require(distinctProbe == probe,
      s"$what has ${probe - distinctProbe} duplicate $key keys — the join would silently duplicate their hits")
  }

  /** `perDoc` left-joined onto every row of `ids` on its one column, that
    * column first, then each (name, value, default) as `coalesce(value, default)`.
    */
  private def everyDoc(ids: DataFrame, perDoc: DataFrame)(cols: (String, Column, Any)*): DataFrame = {
    val id = ids.columns(0)
    ids.join(perDoc, Seq(id), "left")
      .select(col(id) +: cols.map { case (name, v, d) => coalesce(v, lit(d)).as(name) }: _*)
  }

  /** Per-document surprisal report: (idCol, n_tokens, n_oov, surprisal_bits).
    *
    * Vocabulary = the top `vocabSize` words of `df` itself by occurrence count
    * (ties broken by word ascending — total order, so reruns and engines agree
    * on the boundary), counted over lowercased whitespace tokens. Documents
    * with zero tokens report (0, 0, 0). Out-of-vocabulary words cost
    * `length(bin(N)) + 1` bits — one more than the rarest possible in-vocab
    * word.
    *
    * Scale shape: ONE shuffle on word for the vocabulary count (map-side
    * combined), a 1-row total + driver-bounded top-V `TakeOrderedAndProject`
    * (V+1 rows by construction — the same bounded-collect contract as IVF
    * centroids), the corpus side then BROADCAST-joins the tiny vocab (never
    * shuffles on word again), and the per-doc rollup shuffles on doc_id with
    * partial aggregation. A 100 TB corpus pays two map-side-combined shuffles
    * and no global sort.
    */
  def unigramSurprisal(
      df: DataFrame,
      textCol: String,
      idCol: String,
      vocabSize: Int
  ): DataFrame = {
    require(vocabSize > 0, s"vocabSize $vocabSize must be positive")
    // the word-count table is consumed twice (total + top-V cut) — lazily
    // materialize so the corpus explode+count runs once (r9; it is the
    // Zipf-bounded distinct-word table, the natural working set)
    val counts = countWords(wordRows(df, textCol))
      .localCheckpoint(eager = false)
    // total BEFORE the top-V cut: N is the corpus token count, so OOV cost and
    // in-vocab bits stay comparable however small vocabSize is
    val nTotal = longScalar(counts, sum(col("c")))
    val oovBits = java.lang.Long.toBinaryString(nTotal).length.toLong + 1
    val vocab = topWords(counts, vocabSize)
      .select(
        col("word"),
        length(bin(expr(s"CAST($nTotal AS BIGINT) DIV c"))).as("bits"))
    val scored = wordRows(df, textCol, Seq(col(idCol)))
      .join(broadcast(vocab), Seq("word"), "left")
      .select(
        col(idCol),
        coalesce(col("bits"), lit(oovBits)).as("tok_bits"),
        when(col("bits").isNull, 1L).otherwise(0L).as("is_oov"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("is_oov")).as("n_oov"),
        sum(col("tok_bits").cast("long")).as("surprisal_bits"))
    everyDoc(df.select(col(idCol)), scored)(
      ("n_tokens", col("n_tokens"), 0L),
      ("n_oov", col("n_oov"), 0L),
      ("surprisal_bits", col("surprisal_bits"), 0L))
  }

  /** Gopher-family DUPLICATE-N-GRAM repetition metrics — the canonical
    * "fraction of characters in duplicate n-grams" filters, as EXACT INTEGER
    * masses (fractions are the consumer's one division):
    *
    *   - `top2_count`/`top2_chars`, `top3_count`/`top3_chars`: occurrences
    *     and character mass (occurrences x gram length, the gram rendered
    *     space-joined so length = token lengths + separators) of the MOST
    *     FREQUENT duplicated 2-/3-gram (ties broken by gram ascending — total
    *     order; 0s when no gram repeats);
    *   - `dup5_chars`: characters covered by ALL duplicated 5-grams with
    *     overlapping coverage counted ONCE (token-position union; separator
    *     chars not counted — documented deviation from raw-text offsets);
    *   - `n_chars_tok`: total token character mass, the denominator.
    *
    * Tokens are lowercased whitespace words (the dedup-matching convention).
    *
    * Scale shape: ONE narrow gram explode (slice over the in-row token
    * array) emits all three gram widths, then ONE hash exchange on the doc
    * id serves every metric (r9, guide §2.4): the duplicate counts for all
    * three widths are per-(doc, gram) window counts and the top-2-/3-gram
    * picks per-doc min(struct(-c, gram)) aggregates over the SAME partitioned
    * rows — HashPartitioning(doc) satisfies every downstream window/agg
    * distribution, so the plan holds a single shuffle of the token table
    * (the previous shape paid a separate (doc, k, gram) count shuffle plus
    * two window exchanges, and scanned the corpus twice). Everything keys on
    * doc — bounded by document size, never corpus-keyed. No UDF anywhere —
    * the whole chain is column expressions.
    */
  def gopherRepetition(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol), words(col(textCol)).as("w")).withColumn("m", size(col("w")))
    // ONE explode of the corpus (VERDICT r7 #5 — the r7 shape still re-read
    // the token table three more times for nch/gram5/tokLen and ran a
    // 24-exchange plan): every token position carries its token LENGTH and
    // the 2-/3-/5-gram STARTING here (null past the tail). Every downstream
    // metric derives from this table; the corpus is scanned once.
    def gram(k: Int) = when(col("pos") <= col("m") - k,
      array_join(slice(col("w"), col("pos") + 1, lit(k)), " ")).as(s"g$k")
    val ex = base
      .select(col(idCol), col("w"), col("m"), posexplode(col("w")).as(Seq("pos", "tk")))
      .select(col(idCol), col("pos"), length(col("tk")).as("l"), gram(2), gram(3), gram(5))
      .repartition(col(idCol)) // the ONE token-table exchange (scale-adaptive
      // width: AQE coalesces; partitions bounded by doc size as before)
    // per-(doc, gram) occurrence counts as WINDOW counts over the id-
    // partitioned rows (no exchange: HashPartitioning(id) satisfies the
    // (id, gk) ClusteredDistribution; each window adds only a local sort)
    def cnt(g: String) = count(lit(1)).over(Window.partitionBy(col(idCol), col(g)))
    // duplicated-5-gram coverage with NO counts join and NO distinct: the
    // window count flags duplicated starts in place, then a per-doc RANGE
    // window (positions are contiguous ints) marks every position within 4
    // of a flagged start — the interval union
    val covWin = Window.partitionBy(col(idCol)).orderBy(col("pos")).rangeBetween(-4, 0)
    val marked = ex
      .withColumn("c2", cnt("g2"))
      .withColumn("c3", cnt("g3"))
      .withColumn("dup5start", col("g5").isNotNull && cnt("g5") >= 2)
      .withColumn("cov", max(when(col("dup5start"), 1).otherwise(0)).over(covWin))
    // every output metric in ONE per-doc aggregate (no exchange): the top
    // duplicated 2-/3-gram is min(struct(-c, gram)) — the same total order
    // the old (doc, k, gram) count-shuffle branch used; min over the c
    // copies of each gram row is idempotent, so window counts feed it
    // directly
    def top(g: String, c: String) = min(when(col(g).isNotNull && col(c) >= 2,
      struct((-col(c)).as("nc"), col(g).as("g"))))
    val perDoc = marked
      .groupBy(col(idCol))
      .agg(
        sum(col("l")).cast("int").as("n_chars_tok"),
        sum(when(col("cov") === 1, col("l")).otherwise(lit(0))).cast("int").as("dup5_chars"),
        top("g2", "c2").as("t2"),
        top("g3", "c3").as("t3"))
    everyDoc(df.select(col(idCol)), perDoc)( // empty docs explode to no rows
      ("n_chars_tok", col("n_chars_tok"), 0),
      ("top2_count", (-col("t2.nc")).cast("int"), 0),
      ("top2_chars", (-col("t2.nc") * length(col("t2.g"))).cast("int"), 0),
      ("top3_count", (-col("t3.nc")).cast("int"), 0),
      ("top3_chars", (-col("t3.nc") * length(col("t3.g"))).cast("int"), 0),
      ("dup5_chars", col("dup5_chars"), 0))
  }

  /** VOCABULARY TOKENIZATION: map each document's words to integer token ids
    * against the corpus's own top-`vocabSize` vocabulary — the id-ification
    * step between chunking and sequence packing in a training pipeline
    * (real BPE needs a learned merges table; the word-level vocab is its
    * deterministic, engine-exact stand-in and shares the id-assignment
    * contract: id = rank in (count desc, word asc) order, OOV = one id past
    * the vocabulary).
    *
    * Output: (idCol, token_ids array<int>, n_tokens, n_oov); empty docs get
    * an empty array. Ids are STABLE across reruns/engines because the vocab
    * cut is a total order.
    *
    * Scale shape: one map-side-combined word count, a driver-bounded top-V
    * collect (same contract as IVF centroids), then the lookup is a LITERAL
    * MAP expression (`element_at` on a map literal — codegen'd, NO join and
    * NO explode: the corpus side is one narrow projection in the scan
    * stage). Sized for dictionary vocabs (<= ~64k entries); a BPE-scale
    * vocab would swap the literal for a broadcast join without changing the
    * contract.
    */
  def tokenizeWithVocab(
      df: DataFrame,
      textCol: String,
      idCol: String,
      vocabSize: Int
  ): DataFrame = {
    require(vocabSize > 0 && vocabSize <= 65536,
      s"vocabSize $vocabSize out of (0, 65536] — larger vocabs need the broadcast-join variant")
    val vocab: Array[String] =
      topWords(countWords(wordRows(df, textCol)), vocabSize)
        .select(col("word")).collect().map(_.getString(0))
    val oovId = vocab.length // may be < vocabSize on a small corpus
    val idMap = typedLit(vocab.zipWithIndex.toMap)
    val ids = transform(words(col(textCol)), w => coalesce(element_at(idMap, w), lit(oovId)))
    df.select(
      col(idCol),
      ids.as("token_ids"),
      size(ids).as("n_tokens"),
      size(filter(ids, i => i === oovId)).as("n_oov"))
  }

  /** BROADCAST-JOIN tokenization — the BPE-scale variant whose contract
    * [[tokenizeWithVocab]] documents: the vocabulary arrives as a TABLE
    * `(word string, tid int)` instead of a literal map, so learned
    * vocabularies far beyond the 64k literal-expression cap resolve through
    * one broadcast hash join. Same output shape: (idCol, token_ids
    * array<int>, n_tokens, n_oov); unknown tokens get `oovId`; empty token
    * arrays come back empty, the doc kept.
    *
    * Tokenization and lookup DECOMPOSE here: the caller supplies the per-doc
    * ordered token array (`toksCol` — whitespace words, or BPE subwords from
    * [[applyBpe]]), this function only assigns ids.
    *
    * Scale shape: posexplode with ordinals (narrow) -> broadcast LEFT join
    * on the token (the vocab is small-by-contract — `maxVocabRows` guard job,
    * enrichStream's pattern, because the explicit broadcast hint bypasses
    * Spark's size check) -> ONE groupBy on the doc id reassembles the
    * ordered id array (sort_array over in-doc structs; n_tokens/n_oov ride
    * the same aggregate). At 100 TB the corpus shuffles once on its own id —
    * the materialization shuffle a tokenized table needs anyway — and never
    * on the token.
    */
  def tokenizeWithVocabTable(
      df: DataFrame,
      idCol: String,
      toksCol: Column,
      vocab: DataFrame,
      oovId: Int,
      maxVocabRows: Int = 10000000
  ): DataFrame = {
    requireBroadcastable(vocab, maxVocabRows, "maxVocabRows", "vocab", "word")
    val v = vocab.select(col(vocab.columns(0)).as("_tok"), col(vocab.columns(1)).cast("int").as("_tid"))
    val toks = df.select(col(idCol), posexplode(toksCol).as(Seq("_ord", "_tok")))
    val ids = toks.join(broadcast(v), Seq("_tok"), "left")
      .select(col(idCol), col("_ord"),
        coalesce(col("_tid"), lit(oovId)).as("_tid"))
      .groupBy(col(idCol))
      .agg(
        transform(sort_array(collect_list(struct(col("_ord"), col("_tid")))),
          x => x.getField("_tid")).as("token_ids"),
        count(lit(1)).cast("int").as("n_tokens"),
        sum(when(col("_tid") === oovId, 1).otherwise(0)).cast("int").as("n_oov"))
    everyDoc(df.select(col(idCol)), ids)(
      ("token_ids", col("token_ids"), array().cast("array<int>")),
      ("n_tokens", col("n_tokens"), 0),
      ("n_oov", col("n_oov"), 0))
  }

  /** MODEL-BASED QUALITY FILTERING inference (the fastText-style linear
    * classifier stage of GPT-3/LLaMA-family pipelines — "does this look like
    * reference text?"): score = bias + Σ over tokens of w[h(token) mod dim],
    * hashed bag-of-words features (FNV-1a 64 of the lowercased word, nonneg
    * residue; `dim` must be a power of two so the signed-vs-unsigned residue
    * agrees across engines) against a trained weight TABLE in FIXED-POINT
    * integer milli-units — the sum is exact integer arithmetic, so the score
    * (and therefore the keep decision) is engine-, layout- and rerun-exact,
    * immune to float summation order. Training happens elsewhere; this is
    * the inference operator (weights = any (bucket int, w_milli long) frame).
    *
    * Output: (idCol, n_tokens, score_milli, keep) with keep = score >=
    * thresholdMilli; an empty doc scores the bias alone.
    *
    * Scale shape: tokens hash in a NARROW flatMap (no shuffle on the token),
    * the weight table broadcasts (maxWeightRows guard — the enrichStream
    * pattern for explicit broadcast hints), and the per-doc rollup is one
    * map-side-combined groupBy on the doc id. Missing buckets weigh 0.
    */
  def classifierScore(
      df: DataFrame,
      textCol: String,
      idCol: String,
      weights: DataFrame,
      dim: Int,
      biasMilli: Long = 0L,
      thresholdMilli: Long = 0L,
      maxWeightRows: Int = 10000000
  ): DataFrame = {
    require(dim > 0 && (dim & (dim - 1)) == 0,
      s"dim=$dim must be a positive power of two (unsigned/signed residue parity)")
    requireBroadcastable(weights, maxWeightRows, "maxWeightRows", "weight table", "bucket")
    val w = weights.select(col(weights.columns(0)).cast("int").as("_bucket"),
      col(weights.columns(1)).cast("long").as("_w"))
    // feature hashing as PURE column expressions: split/filter/explode plus
    // the native codegen'd Fnv1a64Expr — the whole token->bucket pipeline
    // stays inside whole-stage codegen (a typed flatMap here would insert a
    // Serialize/DeserializeToObject boundary); pmod = the nonneg residue
    val feats = df
      .select(col(idCol).cast("long").as("_id"), explode(words(col(textCol))).as("_w0"))
      .select(col("_id"),
        pmod(graft.functions.FnvExpr.fnv1a64(col("_w0")), lit(dim.toLong)).cast("int").as("_bucket"))
    val scored = feats.join(broadcast(w), Seq("_bucket"), "left")
      .groupBy(col("_id"))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        (sum(coalesce(col("_w"), lit(0L))) + lit(biasMilli)).as("score_milli"))
    everyDoc(df.select(col(idCol).cast("long").as("_id")), scored)(
      ("n_tokens", col("n_tokens"), 0),
      ("score_milli", col("score_milli"), biasMilli))
      .withColumnRenamed("_id", idCol)
      .withColumn("keep", col("score_milli") >= thresholdMilli)
  }

  /** Apply a LEARNED BPE merge table to every document: lowercased whitespace
    * words (the same tokenization [[bpeTrain]] trains on), each word greedily
    * merged by every (lhs, rhs) in merge order ([[mergeGreedy]] — the exact
    * rule the trainer used), the per-doc subword arrays concatenated in word
    * order. Returns (idCol, subwords array<string>). `marker` must match the
    * trainer's.
    *
    * Scale shape: the merge list is bounded by bpeTrain's contract
    * (<= 65536 rows) and broadcast; the map is NARROW and stateless — no
    * shuffle, no per-row driver traffic. A per-partition word -> subwords
    * cache (size-capped) collapses the Zipf head so hot words pay the merge
    * loop once per task, not once per occurrence.
    */
  def applyBpe(
      df: DataFrame,
      textCol: String,
      idCol: String,
      merges: Seq[(String, String)],
      marker: Option[String] = None
  ): DataFrame = {
    require(merges.length <= 65536, s"merge table too large: ${merges.length}")
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toArray)
    df.select(col(idCol).cast("long").as("_id"), words(col(textCol)).as("_w"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val ms = bc.value
        val cache = new java.util.HashMap[String, Array[String]]()
        def encode(w: String): Array[String] = {
          val hit = cache.get(w)
          if (hit != null) hit
          else {
            var syms: Seq[String] = w.map(_.toString)
            marker.foreach(m => syms = syms :+ m)
            var i = 0
            while (i < ms.length) { syms = mergeGreedy(syms, ms(i)._1, ms(i)._2); i += 1 }
            val arr = syms.toArray
            if (cache.size < (1 << 20)) cache.put(w, arr) // cap: never let a
            // pathological unique-word stream grow the cache unbounded
            arr
          }
        }
        // a null text has no words: 0 subwords, as the surprisal operators count it
        it.map { case (id, ws) => (id, if (ws == null) Nil else ws.flatMap(encode)) }
      }
      .toDF(idCol, "subwords")
  }

  /** CCNet-style PERPLEXITY BUCKETING + per-bucket retention, composed from
    * the engine's verified pieces: per-doc [[unigramSurprisal]] normalized to
    * integer MILLI-BITS PER TOKEN (`bpt_milli = surprisal_bits*1000 DIV
    * n_tokens` — no float division, engine-exact), corpus-wide EXACT discrete
    * terciles over the bounded bpt histogram (the q_token_distribution rank
    * rule: least value whose cumulative count reaches ceil(p*n), integer
    * arithmetic), bucket = head (lowest perplexity, CCNet's best tier) /
    * middle / tail / empty, and a DETERMINISTIC per-bucket keep decision via
    * the two-round salted hash (rerun/layout-invariant, like splitAssign).
    *
    * Scale shape: surprisal's two map-side-combined shuffles, then a
    * histogram groupBy BOUNDED BY THE VALUE DOMAIN (bpt_milli tops out at
    * ~1000x the OOV bit cost) whose unpartitioned cumulative window runs over
    * that tiny histogram only — never the corpus; the two tercile scalars are
    * a 1-row bounded driver collect inlined as literals (the BNLJ-free scalar
    * attach, [[longScalar]]). Labeling is then one
    * codegen'd CASE in the scan of the scored table.
    */
  def perplexityBuckets(
      df: DataFrame,
      textCol: String,
      idCol: String,
      vocabSize: Int,
      keepHead: Double = 1.0,
      keepMiddle: Double = 0.5,
      keepTail: Double = 0.1,
      salt: Long = 11L
  ): DataFrame = {
    val (tHead, tMiddle, tTail) =
      (Sampling.threshold(keepHead), Sampling.threshold(keepMiddle), Sampling.threshold(keepTail))
    val scored = unigramSurprisal(df, textCol, idCol, vocabSize)
      .withColumn("bpt_milli",
        when(col("n_tokens") > 0, expr("surprisal_bits * 1000 DIV n_tokens")))
      // consumed by the histogram/tercile job AND the final labeling pass —
      // materialize the whole surprisal chain once (r9)
      .localCheckpoint(eager = false)
    val hist = scored.where(col("n_tokens") > 0)
      .groupBy(col("bpt_milli")).agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("bpt_milli"))))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    // exact 1-based ranks ceil(n/3), ceil(2n/3) in integer arithmetic
    val tRow = cum.agg(
      min(when(col("cum") >= expr("(n + 2) div 3"), col("bpt_milli"))).as("t33"),
      min(when(col("cum") >= expr("(2 * n + 2) div 3"), col("bpt_milli"))).as("t66"))
      .collect()(0)
    val (t33, t66) =
      if (tRow.isNullAt(0)) (0L, 0L) // empty / all-empty corpus: everything non-empty is head
      else (tRow.getLong(0), tRow.getLong(1))
    val h = Sampling.saltedHash(col(idCol), salt)
    scored
      .withColumn("bucket",
        when(col("n_tokens") === 0, lit("empty"))
          .when(col("bpt_milli") <= t33, lit("head"))
          .when(col("bpt_milli") <= t66, lit("middle"))
          .otherwise(lit("tail")))
      .withColumn("keep",
        when(col("bucket") === "empty", lit(false))
          .when(col("bucket") === "head", h < tHead)
          .when(col("bucket") === "middle", h < tMiddle)
          .otherwise(h < tTail))
      .select(col(idCol), col("n_tokens"), col("bpt_milli"), col("bucket"), col("keep"))
  }

  /** BIGRAM surprisal with unigram backoff — the next rung of the
    * corpus-as-its-own-LM quality ladder above [[unigramSurprisal]], still
    * ALL-INTEGER so any engine reproduces it bit-for-bit:
    *
    *   - token i > 0 whose bigram (w[i-1], w[i]) the corpus has seen costs
    *     `bitlen(c(w[i-1]) DIV c(w[i-1], w[i]))` bits — the integer form of
    *     -log2 P(w[i] | w[i-1]);
    *   - a first token, or an UNSEEN bigram, BACKS OFF to the unigram cost
    *     `bitlen(N DIV c(w[i]))` plus a 1-bit backoff penalty for the miss
    *     (first tokens pay no penalty — there is no context to miss);
    *   - every token of the corpus is in the unigram table by construction
    *     (the corpus is its own model — no OOV branch).
    *
    * Output: (idCol, n_tokens, n_bigram_hits, surprisal_bits). Repetitive
    * documents score LOW (their bigrams repeat), incoherent shuffles score
    * HIGH — the signal Gopher/CCNet threshold on.
    *
    * Scale shape: one map-side-combined shuffle each for unigram and bigram
    * counts, N as a 1-row bounded collect inlined as a literal (no BNLJ
    * scalar attach), pair construction is a per-doc lag WINDOW (bounded by
    * the document's own token count), then two key joins (Spark broadcasts
    * when the tables fit) and a per-doc rollup.
    */
  def bigramSurprisal(
      df: DataFrame,
      textCol: String,
      idCol: String
  ): DataFrame = {
    val toks = wordRows(df, textCol, Seq(col(idCol)), positions = true)
    // uni feeds four subtrees (total, the unigram join, the context join)
    // and paired feeds two (bigram counts, the scored spine) — materialize
    // both once so the corpus token explode runs twice (uni + paired) rather
    // than ~5x, and the per-doc lag window sorts once (r9)
    val uni = countWords(toks).localCheckpoint(eager = false)
    val nTotal = longScalar(uni, sum(col("c")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val paired = toks.withColumn("prev", lag(col("word"), 1).over(w))
      .localCheckpoint(eager = false)
    val bi = paired.where(col("prev").isNotNull)
      .groupBy(col("prev"), col("word")).agg(count(lit(1)).as("cb"))
    val ctx = uni.select(col("word").as("prev"), col("c").as("cp"))
    val uniBits = length(bin(expr(s"CAST($nTotal AS BIGINT) DIV c"))).cast("long")
    val scored = paired
      .join(uni, Seq("word"))
      .join(ctx, Seq("prev"), "left")
      .join(bi, Seq("prev", "word"), "left")
      .select(
        col(idCol),
        when(col("prev").isNull, uniBits)                        // first token
          .when(col("cb").isNotNull,
            length(bin(expr("cp DIV cb"))).cast("long"))         // seen bigram
          .otherwise(uniBits + lit(1L))                          // backoff + penalty
          .as("tok_bits"),
        when(col("cb").isNotNull, 1L).otherwise(0L).as("hit"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("hit")).as("n_bigram_hits"),
        sum(col("tok_bits")).as("surprisal_bits"))
    everyDoc(df.select(col(idCol)), scored)(
      ("n_tokens", col("n_tokens"), 0L),
      ("n_bigram_hits", col("n_bigram_hits"), 0L),
      ("surprisal_bits", col("surprisal_bits"), 0L))
  }

  // --- Gopher quality-rule battery (Rae et al. 2021, §A1.1) ---------------------

  /** The Gopher REPETITION-FREE quality rules as one codegen'd pass: per-doc
    * integer metrics plus per-rule booleans plus the conjunction `keep`. All
    * arithmetic is INTEGER (milli-units and cross-multiplied fractions) so
    * any engine reproduces the boundaries bit-for-bit — no float mean whose
    * last ulp could flip a keep decision between engines.
    *
    * Rules (document-level, the filterable subset of Gopher §A1.1):
    *  - word count in [minWords, maxWords]
    *  - mean word length in [3, 10] characters (milli: [3000, 10000])
    *  - fraction of words containing an alphabetic character >= 0.8
    *    (5·n_alpha_words >= 4·n_words)
    *  - symbol-to-word ratio <= 0.1 for hash/ellipsis symbols
    *    (10·n_symbols <= n_words)
    *  - at least 2 stop words from the fixed Gopher list
    *    {the, be, to, of, and, that, have, with}
    *
    * One narrow projection over the scan — no shuffle, no UDF; a 100 TB
    * corpus filters at read speed.
    */
  def gopherQuality(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000
  ): DataFrame = {
    val ws = words(col(textCol))
    val nWords = size(ws).cast("long")
    val nChars = aggregate(transform(ws, w => length(w).cast("long")), lit(0L), _ + _)
    // floor(double-div) == integer div for these nonnegative magnitudes
    // (values << 2^53 — exact in double); Spark's `/` on longs is fractional
    val meanLenMilli = when(nWords > 0, floor(nChars * 1000L / nWords)).otherwise(0L)
    val nAlphaWords = size(filter(ws, w => w.rlike("[a-z]"))).cast("long")
    // symbols counted CHARACTER-wise across the doc: '#' and the ellipsis
    // (both the U+2026 char and the three-dot spelling)
    val joined = concat_ws(" ", ws)
    val nSymbols = (length(joined) - length(regexp_replace(joined, "#|…", "")) +
      (length(joined) - length(regexp_replace(joined, "\\.\\.\\.", ""))) / 3).cast("long")
    val stopList = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStop = size(filter(ws, w => w.isInCollection(stopList))).cast("long")
    df.select(
      col(idCol),
      nWords.as("n_words"),
      meanLenMilli.as("mean_len_milli"),
      nAlphaWords.as("n_alpha_words"),
      nSymbols.as("n_symbols"),
      nStop.as("n_stop"))
      .withColumn("ok_words", col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_mean_len",
        col("mean_len_milli") >= 3000L && col("mean_len_milli") <= 10000L)
      .withColumn("ok_alpha", col("n_alpha_words") * 5L >= col("n_words") * 4L)
      .withColumn("ok_symbols", col("n_symbols") * 10L <= col("n_words"))
      .withColumn("ok_stop", col("n_stop") >= 2L)
      .withColumn("keep",
        col("ok_words") && col("ok_mean_len") && col("ok_alpha") &&
          col("ok_symbols") && col("ok_stop"))
  }

  // --- TF-IDF keyword extraction -------------------------------------------------

  /** Per-document TOP-K KEYWORDS by integer tf·idf: idf is the surprisal-style
    * bit-length `length(bin(N DIV df))` (N = corpus docs, df = docs containing
    * the word — rarer words earn more bits; integer, so engines agree
    * bit-for-bit), score = tf · idf_bits, ranked per document by the total
    * order (score desc, word asc) and cut at `topK`. The corpus-level signal
    * (which words are distinctive) meets the doc-level one (which of MY words
    * are frequent) — the classic retrieval/labeling feature, here as a
    * curation-side "what is this document about" operator.
    *
    * Scale shape: one shuffle on (doc, word) for tf (map-side combined), one
    * on word for df, N collected as a single row (bounded by construction),
    * a join on word to attach idf (Spark picks broadcast when the vocab
    * fits), then the per-doc rank window — partitions bounded by per-doc
    * distinct words, never corpus-wide. Empty docs have no keywords and are
    * absent from the output by construction.
    */
  def tfidfKeywords(
      df: DataFrame,
      textCol: String,
      idCol: String,
      topK: Int = 3
  ): DataFrame = {
    require(topK > 0 && topK <= 1000, s"topK $topK out of range")
    val tokens = wordRows(df, textCol, Seq(col(idCol).as("id")))
    // tf feeds both the document-frequency rollup and the scored join —
    // materialize once (r9)
    val tf = tokens.groupBy("id", "word").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = longScalar(df, countDistinct(col(idCol)))
    val idf = dfreq.withColumn("idf_bits",
      length(bin(floor(lit(nDocs).cast("long") / col("df")))).cast("long"))
    val scored = tf.join(idf, "word")
      .withColumn("score", col("tf") * col("idf_bits"))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("score").desc, col("word").asc)).cast("int"))
      .where(col("rank") <= topK)
      .select(col("id").as(idCol), col("rank"), col("word"),
        col("tf"), col("idf_bits"), col("score"))
  }

  // --- BPE merge training (Sennrich et al. 2016) --------------------------------

  /** Adjacent symbol pairs of an array column as (lhs, rhs) structs — empty for
    * arrays under 2 elements (sequence(1, 0) would COUNT DOWN, not produce an
    * empty range).
    */
  private def adjacentPairs(syms: Column): Column =
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1), i =>
        struct(element_at(syms, i).as("lhs"), element_at(syms, i + lit(1)).as("rhs"))))
      .otherwise(array().cast("array<struct<lhs:string,rhs:string>>"))

  /** One BPE TRAINING STEP as corpus statistics: frequency of every adjacent
    * CHARACTER pair, weighted by word frequency — the table whose argmax is
    * the first merge. Ranked by the total order (count desc, lhs asc, rhs asc)
    * so the cut at `topN` is deterministic and engine-independent.
    *
    * Scale shape: one map-side-combined shuffle on word (the frequency
    * count — the corpus collapses to its distinct-word table, the BPE working
    * set), pair explosion over DISTINCT WORDS only (never the corpus), one
    * shuffle on (lhs, rhs), then a driver-bounded TakeOrderedAndProject of
    * topN rows; the rank window runs on that bounded frame (single task over
    * topN rows by construction).
    */
  def bpePairStats(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    require(topN > 0 && topN <= 1000000, s"topN $topN out of range")
    val wc = countWords(wordRows(df, textCol))
    val pairs = wc.where(length(col("word")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("word")) - 1), i =>
        struct(col("word").substr(i, lit(1)).as("lhs"),
          col("word").substr(i + lit(1), lit(1)).as("rhs")))).as("p"), col("c"))
    val counts = pairs
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("c")).as("pair_count"))
    counts
      .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
      .limit(topN)
      .withColumn("merge_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)).cast("int"))
      .select(col("merge_rank"), col("lhs"), col("rhs"), col("pair_count"))
  }

  /** Greedy left-to-right merge of one (lhs, rhs) pair in a symbol sequence —
    * the standard BPE apply rule: "aaa" under (a,a) becomes ["aa", "a"],
    * matches never overlap.
    */
  private[operators] def mergeGreedy(syms: Seq[String], l: String, r: String): Seq[String] = {
    val n = syms.length
    val buf = new scala.collection.mutable.ArrayBuffer[String](n)
    var i = 0
    while (i < n) {
      if (i + 1 < n && syms(i) == l && syms(i + 1) == r) { buf += (l + r); i += 2 }
      else { buf += syms(i); i += 1 }
    }
    buf.toSeq
  }

  /** Full BPE MERGE TRAINING (Sennrich/Haddow/Birch 2016): iteratively count
    * adjacent symbol pairs over the frequency-weighted distinct-word table,
    * merge the most frequent pair (ties by (lhs, rhs) ascending — total
    * order, so the learned sequence is deterministic), repeat `nMerges`
    * times or until no pair repeats. Returns the learned merge table
    * (merge_idx, lhs, rhs, pair_count) — the artifact a tokenizer ships.
    * `marker`, when set, is appended to every word as the word-end symbol
    * (the paper's `</w>`).
    *
    * Scale shape (VERDICT r7 #3): the working set is the DISTINCT-WORD table
    * (Zipf-bounded: a 100 TB corpus has millions of distinct words, not
    * trillions). ONE Spark job aggregates it; when it fits under
    * `maxDistinctWords` (the loud decontaminate-style guard — the
    * `limit(max+1)` collect bounds the check itself), the merge loop runs
    * DRIVER-SIDE with Sennrich-style incremental pair-count deltas: each
    * merge re-counts only the words that contain the merged pair, instead of
    * one full pair-recount shuffle + checkpoint per round (65k sequential
    * Spark jobs at the allowed max). Above the guard it falls back to the
    * distributed loop (one shuffle on (lhs, rhs) per round, argmax-only
    * collect, localCheckpoint per round to truncate lineage — swap in a
    * durable checkpoint dir on a real cluster). Both paths produce the
    * IDENTICAL merge table: same tie order (count desc, then lhs, rhs in
    * UTF-8 BINARY order — Spark and DuckDB compare strings by UTF-8 bytes,
    * so the driver loop must too, not by Java's UTF-16 code units), same
    * >= 2 stop rule, same [[mergeGreedy]] apply rule.
    */
  def bpeTrain(
      df: DataFrame,
      textCol: String,
      nMerges: Int,
      marker: Option[String] = None,
      maxDistinctWords: Int = 5000000
  ): DataFrame = bpeTrainWithWords(df, textCol, nMerges, marker, maxDistinctWords)._1

  /** [[bpeTrain]] plus the collected distinct-word table when the
    * driver-side path ran (None when the guard forced the distributed
    * loop). The word table is a byproduct the trainer already paid for —
    * callers that also need corpus-derived driver-side artifacts (e.g. the
    * base-character alphabet of a vocab) read them from here instead of
    * paying another corpus scan (r9, guide §1.2: don't compute things
    * twice).
    */
  def bpeTrainWithWords(
      df: DataFrame,
      textCol: String,
      nMerges: Int,
      marker: Option[String] = None,
      maxDistinctWords: Int = 5000000
  ): (DataFrame, Option[Array[(String, Long)]]) = {
    require(nMerges >= 0 && nMerges <= 65536, s"nMerges $nMerges out of range")
    require(maxDistinctWords >= 0 && maxDistinctWords <= 50000000,
      s"maxDistinctWords=$maxDistinctWords out of range (0..50000000; 0 forces the distributed loop)")
    val spark = df.sparkSession
    import spark.implicits._
    val wordCounts = countWords(wordRows(df, textCol))
    // bounded materialization probe: at most max+1 rows reach the driver
    // however large the vocabulary (decontaminate's guard pattern)
    val head = wordCounts.as[(String, Long)].limit(maxDistinctWords + 1).collect()
    if (head.length <= maxDistinctWords)
      (trainDriverSide(head, nMerges, marker).toDF("merge_idx", "lhs", "rhs", "pair_count"),
        Some(head))
    else
      (trainDistributed(wordCounts, nMerges, marker).toDF("merge_idx", "lhs", "rhs", "pair_count"),
        None)
  }

  /** UTF-8 binary string order — Spark's (and DuckDB's) ORDER BY semantics
    * for STRING. Java's compareTo orders by UTF-16 code unit, which DIVERGES
    * for astral-vs-[U+E000,U+FFFF] comparisons, so the driver-side loop must
    * not use it.
    */
  private[operators] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Driver-side Sennrich merge loop over the collected word table: exact
    * incremental pair-count maintenance — each round touches only the words
    * the occurrence index says contain the merged pair (subtract that word's
    * old adjacent pairs, greedy-merge, add the new ones), so total work is
    * proportional to affected text, not rounds x vocabulary.
    */
  private def trainDriverSide(
      words: Array[(String, Long)],
      nMerges: Int,
      marker: Option[String]
  ): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val vocab: Array[Seq[String]] = words.map { case (w, _) =>
      val chars: Seq[String] = w.map(_.toString)
      marker.fold(chars)(chars :+ _)
    }
    val freqs: Array[Long] = words.map(_._2)
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    // occurrence index: pair -> word idxs that contained it when last touched.
    // Entries can go STALE (a later merge removes the pair from a word without
    // visiting every other pair's set); the merge step re-checks containment.
    val occurs = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def addWordPairs(wi: Int, sign: Long): Unit = {
      val syms = vocab(wi)
      val f = freqs(wi)
      var i = 0
      while (i + 1 < syms.length) {
        val p = (syms(i), syms(i + 1))
        val c = pairCounts.getOrElse(p, 0L) + sign * f
        if (c == 0L) pairCounts.remove(p) else pairCounts(p) = c
        if (sign > 0) occurs.getOrElseUpdate(p, mutable.BitSet.empty) += wi
        i += 1
      }
    }
    vocab.indices.foreach(addWordPairs(_, 1L))
    val out = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var idx = 0
    var exhausted = false
    while (idx < nMerges && !exhausted) {
      // argmax under the total order (count desc, lhs utf8 asc, rhs utf8 asc);
      // a pair seen once cannot compress (the distributed loop's >= 2 rule)
      var best: (String, String) = null
      var bestC = 1L
      pairCounts.foreach { case (p, c) =>
        if (c > bestC || (c == bestC && best != null && {
          val dl = utf8Compare(p._1, best._1)
          dl < 0 || (dl == 0 && utf8Compare(p._2, best._2) < 0)
        })) { best = p; bestC = c }
      }
      if (best == null) exhausted = true
      else {
        out += ((idx, best._1, best._2, bestC))
        val affected = occurs.getOrElse(best, mutable.BitSet.empty)
        affected.foreach { wi =>
          val syms = vocab(wi)
          var has = false
          var i = 0
          while (!has && i + 1 < syms.length) { // stale-entry check
            has = syms(i) == best._1 && syms(i + 1) == best._2
            i += 1
          }
          if (has) {
            addWordPairs(wi, -1L)
            vocab(wi) = mergeGreedy(syms, best._1, best._2)
            addWordPairs(wi, 1L)
          }
        }
        occurs.remove(best)
        idx += 1
      }
    }
    out.toSeq
  }

  /** The pre-r8 distributed loop — one pair-count shuffle + argmax collect +
    * narrow re-map + localCheckpoint per merge round. The fallback when the
    * distinct-word table exceeds the driver guard.
    */
  private def trainDistributed(
      wordCounts: DataFrame,
      nMerges: Int,
      marker: Option[String]
  ): Seq[(Int, String, String, Long)] = {
    val spark = wordCounts.sparkSession
    import spark.implicits._
    var vocab = wordCounts
      .as[(String, Long)]
      .map { case (w, f) =>
        val chars: Seq[String] = w.map(_.toString)
        (marker.fold(chars)(chars :+ _), f)
      }
      .toDF("syms", "f")
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var idx = 0
    var exhausted = false
    while (idx < nMerges && !exhausted) {
      val best = vocab
        .select(explode(adjacentPairs(col("syms"))).as("p"), col("f"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("f")).as("pair_count"))
        .where(col("pair_count") >= 2) // a pair seen once cannot compress
        .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect() // bounded: exactly the argmax row
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((idx, l, r, c))
        vocab = vocab.as[(Seq[String], Long)]
          .map { case (syms, f) => (mergeGreedy(syms, l, r), f) }
          .toDF("syms", "f")
          .localCheckpoint()
        idx += 1
      }
    }
    merges.toSeq
  }
}
