package graft.operators

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines. Designed scale-first:
  * every method is a shuffle-on-key plan (no driver collection), candidate
  * generation is LSH-bucketed so the pairwise work is local to a bucket, and
  * bucket size is capped to bound worst-case quadratic blowup on pathological
  * clusters. The cap is never silent: every near-dup method surfaces
  * `truncated_buckets` / `buckets` counts through a Spark Observation (pass
  * one in) or, by default, a named `observe` metric visible to query listeners.
  */
object Dedup {

  /** The bucket stage of every banded near-dup operator: one bucket per
    * `keys` value holding its rows' `elem`s sorted as `ids` (longs, or
    * structs sorted by their first field).
    */
  private def buckets(rows: DataFrame, keys: Seq[Column], elem: Column): DataFrame =
    rows.groupBy(keys: _*).agg(sort_array(collect_list(elem)).as("ids"))

  /** Keeps the first `maxBucket` ids of each bucket, a quadratic bound on
    * pathological buckets (all-identical corpora). The cap is never silent:
    * `truncated_buckets` and `buckets` ride the same pass as an observed
    * metric, counted over the buckets this is given.
    */
  private def capBuckets(
      bucketIds: DataFrame, maxBucket: Int, obs: Option[Observation], metricName: String
  ): DataFrame = {
    val capped = bucketIds
      .withColumn("truncated", size(col("ids")) > maxBucket)
      .withColumn("ids", slice(col("ids"), 1, maxBucket))
    observed(capped, obs, metricName, Seq(
      sum(when(col("truncated"), 1L).otherwise(0L)).as("truncated_buckets"),
      count(lit(1)).as("buckets")))
  }

  /** Candidate pairs of the batch near-dup operators: bucket `rows` on
    * `keys`, cap every bucket that can pair (`buckets` counts only those) and
    * emit its distinct ordered pairs as `a`/`b`, which keep the element type
    * so callers can carry per-id payload, e.g. simhashes, through the pair
    * stage without re-joining.
    */
  private[operators] def cappedBucketPairs(
      rows: DataFrame, keys: Seq[Column], elem: Column,
      maxBucket: Int, obs: Option[Observation], metricName: String
  ): DataFrame =
    capBuckets(buckets(rows, keys, elem).where(size(col("ids")) > 1), maxBucket, obs, metricName)
      .select(explode(pairArray(col("ids"))).as("p"))
      .select(col("p._1").as("a"), col("p._2").as("b"))
      .distinct()

  /** The verify step of every near-dup operator that scores candidates:
    * maps `id_<l>`, `id_<r>`, `<payload>_<l>`, `<payload>_<r>` of `joined`
    * to (`id_<l>`, `id_<r>`, `scoreCol`) and keeps the rows scoring at least
    * `threshold`. Joins reorder columns, so the select pins their order
    * before the positional tuple encode.
    */
  private[graft] def scorePairs[T: TypeTag](
      joined: DataFrame, sides: (String, String), payload: String,
      scoreCol: String, threshold: Double
  )(score: (T, T) => Double): DataFrame = {
    val spark = joined.sparkSession
    import spark.implicits._
    val (l, r) = sides
    joined.select(s"id_$l", s"id_$r", s"${payload}_$l", s"${payload}_$r")
      .as[(Long, Long, T, T)]
      .map { case (a, b, x, y) => (a, b, score(x, y)) }
      .toDF(s"id_$l", s"id_$r", scoreCol)
      .where(col(scoreCol) >= threshold)
  }

  /** Word-`shingleK` shingle Jaccard of two texts: the score of the MinHash
    * paths, batch and streaming alike.
    */
  private[graft] def shingleJaccard(shingleK: Int): (String, String) => Double =
    (x, y) => exactJaccard(shingles(x, shingleK), shingles(y, shingleK))

  /** Joins each (id_a, id_b) pair to both texts of `df` and keeps the pairs
    * whose `jaccard` is at least `threshold`.
    */
  private def verifyTexts(
      pairs: DataFrame, df: DataFrame, textCol: String, idCol: String, threshold: Double
  )(jaccard: (String, String) => Double): DataFrame = {
    val texts = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    val joined = pairs
      .join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("text", "text_a"), "id_a")
      .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("text", "text_b"), "id_b")
    scorePairs(joined, ("a", "b"), "text", "jaccard", threshold)(jaccard)
  }

  /** Exact dedup: hash-groupBy on the normalized text. Returns one row per
    * distinct text: (text_hash, keeper_id = min id, dup_count).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_count"))

  // --- MinHash + LSH ----------------------------------------------------------

  /** Word k-shingles hashed to 64-bit; sorted distinct. */
  def shingles(text: String, k: Int): Array[Long] = {
    val words = TextFunctions.normalize(text).split(" ")
    if (words.length < k) Array(TextFunctions.fnv1a64(words.mkString(" ")))
    else {
      val out = new Array[Long](words.length - k + 1)
      var i = 0
      while (i + k <= words.length) {
        out(i) = TextFunctions.fnv1a64(words.slice(i, i + k).mkString(" "))
        i += 1
      }
      TextFunctions.sortedDistinct(out)
    }
  }

  /** MinHash signature via nPerm universal-hash permutations h_i(x)=mix(x ^ seed_i). */
  def minhashSignature(sh: Array[Long], nPerm: Int): Array[Long] = {
    val sig = Array.fill(nPerm)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var p = 0
      while (p < nPerm) {
        val h = TextFunctions.mix(sh(i) ^ (0x9e3779b97f4a7c15L * (p + 1)))
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      i += 1
    }
    sig
  }

  /** Set Jaccard of two shingle arrays. Inputs from shingles/ngramShingles are
    * sorted distinct; arbitrary inputs are normalized first. Merge-count, no
    * boxed sets (the old toSet/&/| allocation was 129us per verified pair).
    */
  def exactJaccard(a0: Array[Long], b0: Array[Long]): Double = {
    val a = if (isSortedDistinct(a0)) a0 else TextFunctions.sortedDistinct(a0.clone())
    val b = if (isSortedDistinct(b0)) b0 else TextFunctions.sortedDistinct(b0.clone())
    if (a.isEmpty && b.isEmpty) return 1.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  private def isSortedDistinct(a: Array[Long]): Boolean = {
    var i = 1
    while (i < a.length) { if (a(i) <= a(i - 1)) return false; i += 1 }
    true
  }

  /** MinHash+LSH near-duplicate pairs.
    *
    * Plan: per-doc signature (narrow map) -> explode to (band, bandHash) ->
    * shuffle on bucket key -> within-bucket pair generation (bucket-capped) ->
    * distinct pairs -> join texts back -> exact n-gram Jaccard verify.
    * Output: (id_a, id_b, jaccard) with jaccard >= threshold, id_a < id_b.
    */
  def minhashNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 3,
      nPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucket: Int = 1000,
      obs: Option[Observation] = None
  ): DataFrame = {
    val sig = bandKeys(df, textCol, idCol, shingleK, nPerm, bands)
      .select(col("id"), posexplode(col("band_keys")).as(Seq("band", "bkey")))
    val pairs = cappedBucketPairs(sig, Seq(col("band"), col("bkey")), col("id"),
      maxBucket, obs, "graft.dedup.minhash")
      .select(col("a").as("id_a"), col("b").as("id_b"))
    verifyTexts(pairs, df, textCol, idCol, threshold)(shingleJaccard(shingleK))
  }

  /** Band keys for ONE text — the shared fingerprint of batch near-dup, the
    * stored index, batch probes, and the streaming probe. Every caller MUST
    * hash through here or index lookups silently miss.
    */
  def bandKeysFor(text: String, shingleK: Int, nPerm: Int, bands: Int): Array[Long] = {
    val sig = minhashSignature(shingles(text, shingleK), nPerm)
    Array.tabulate(bands)(bandFold(sig, _, nPerm / bands))
  }

  /** Band `b`'s key: the FNV offset basis xor `b`, folded through
    * [[TextFunctions.mix]] with `vals(b * rows until (b + 1) * rows)` — the one
    * fold behind the minhash band keys and the n-gram sketch band keys.
    */
  private def bandFold(vals: Array[Long], b: Int, rows: Int): Long = {
    var h = 0xcbf29ce484222325L ^ b
    var r = 0
    while (r < rows) { h = TextFunctions.mix(h ^ vals(b * rows + r)); r += 1 }
    h
  }

  /** Per-doc banded MinHash signature: (id, band_keys[bands]) via a narrow
    * map over [[bandKeysFor]].
    */
  private def bandKeys(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int, nPerm: Int, bands: Int
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, bandKeysFor(text, shingleK, nPerm, bands)) }
      .toDF("id", "band_keys")
  }

  // --- incremental near-dup screening (new crawl slice vs a stored index) ------

  /** Banded MinHash signature index over a corpus: one (id, band, bkey) row
    * per band. The PERSISTED side of incremental dedup — fingerprint the
    * corpus once (a narrow map over its text), store the index (ideally
    * bucketed by (band, bkey) so probe-time grouping is shuffle-free), and
    * screen each new crawl slice with [[minhashProbe]] without ever
    * re-reading corpus text. Parameters must match the probe's exactly.
    *
    * `maxBucket` (ADVICE r7): caps each (band, bkey) bucket AT BUILD TIME to
    * the first `maxBucket` ids in sorted order, with truncation observable
    * ([[capBuckets]], the cap the batch probe applies). The
    * STREAMING probe ([[graft.streaming.StreamingExtract.probeStream]]) is a
    * stateless stream-static join that cannot re-aggregate the index per
    * micro-batch, so a hot band key would otherwise multiply candidates per
    * stream row unboundedly — and batch/stream would silently diverge once
    * the batch probe's own probe-time cap kicked in. Build the index capped
    * and BOTH probes see the same bounded buckets. None (default) keeps the
    * uncapped index for batch-only use, where [[minhashProbe]] caps at probe
    * time.
    */
  def minhashIndex(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, nPerm: Int = 128, bands: Int = 32,
      maxBucket: Option[Int] = None,
      obs: Option[Observation] = None
  ): DataFrame = {
    val rows = bandKeys(df, textCol, idCol, shingleK, nPerm, bands)
      .select(col("id"), posexplode(col("band_keys")).as(Seq("band", "bkey")))
    maxBucket match {
      case None => rows
      case Some(m) =>
        require(m > 0, s"maxBucket=$m must be positive")
        capBuckets(buckets(rows, Seq(col("band"), col("bkey")), col("id")), m, obs,
          "graft.dedup.minhash_index")
          .select(explode(col("ids")).as("id"), col("band"), col("bkey"))
    }
  }

  /** Screen NEW documents against an existing [[minhashIndex]] — the nightly
    * crawl shape: the corpus is fingerprinted once; each incoming slice is
    * hashed, candidates come from band-key collisions with the index, and
    * only candidates fetch corpus text (by id join) for the exact
    * shingle-Jaccard verify. Returns (id_new, id_corpus, jaccard) with
    * jaccard >= threshold.
    *
    * Scale shape: the new slice is small relative to the store, so its
    * DISTINCT band keys broadcast into a semi join that prunes the index
    * scan before anything shuffles; only surviving index rows aggregate into
    * candidate buckets, capped at `maxBucket` ids by [[capBuckets]] with
    * the truncation count observable, as on the batch near-dup paths (which
    * count only the buckets that can pair) — a pathological key degrades
    * recall measurably, never melts a task. Within-slice duplicates are deliberately out of scope
    * (that is the batch [[minhashNearDups]] job over the slice alone).
    */
  def minhashProbe(
      newDocs: DataFrame,
      corpusIndex: DataFrame,
      corpusTexts: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 3,
      nPerm: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.8,
      maxBucket: Int = 1000,
      obs: Option[Observation] = None
  ): DataFrame = {
    val newSig = bandKeys(newDocs, textCol, idCol, shingleK, nPerm, bands)
      .select(col("id").as("id_new"), posexplode(col("band_keys")).as(Seq("band", "bkey")))
    val probeKeys = newSig.select(col("band"), col("bkey")).distinct()
    val hits = corpusIndex.join(broadcast(probeKeys), Seq("band", "bkey"), "left_semi")
    val capped = capBuckets(buckets(hits, Seq(col("band"), col("bkey")), col("id")), maxBucket,
      obs, "graft.dedup.minhash_probe")
    val cands = newSig.join(capped, Seq("band", "bkey"))
      .select(col("id_new"), explode(col("ids")).as("id_corpus"))
      .distinct()
    val newTexts = newDocs.select(col(idCol).cast("long").as("id_new"), col(textCol).as("text_new"))
    val corp = corpusTexts.select(col(idCol).cast("long").as("id_corpus"), col(textCol).as("text_corpus"))
    val joined = cands.join(newTexts, "id_new").join(corp, "id_corpus")
    scorePairs(joined, ("new", "corpus"), "text", "jaccard", threshold)(shingleJaccard(shingleK))
  }

  /** All ordered pairs (a<b) from a sorted id array — pure column expression. */
  private def pairArray(ids: Column): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + lit(2), size(ids)), b => struct(a.as("_1"), b.as("_2")))))

  // --- winnowing near-dup (MOSS-style shared-fingerprint containment) ----------

  /** Cross-document WINNOWING overlap (Schleimer et al. 2003 — the MOSS
    * algorithm): each document keeps the distinct set of its winnowing
    * fingerprints ([[TextFunctions.winnowFingerprints]] — one window-min
    * k-byte hash per w-window), candidate pairs share at least one
    * fingerprint, and the reported score is CONTAINMENT,
    * `|A ∩ B| / min(|A|, |B|)` — the doc-embedded-in-doc shape that Jaccard
    * dilutes scores 1.0 here. A fourth near-dup family alongside MinHash
    * (word-shingle Jaccard), n-gram sketches, and SimHash: byte-level, so it
    * catches shared runs that word tokenization splits differently.
    *
    * Scale shape: the inverted index (fp -> docs) drops STOP FINGERPRINTS —
    * fps whose document frequency exceeds `maxDf` — BEFORE any bucket is
    * collected. Document frequency comes from a map-side-combined count (a
    * hot fingerprint never funnels through a collect_list), so after the
    * filter every bucket is <= maxDf ids and every fingerprint fans out to
    * <= maxDf² pairs BY CONSTRUCTION — the df cap plays the role the bucket
    * cap plays on the LSH paths, and the dropped-fp count rides the same
    * pass as an observable metric (`stop_fps`/`fps`), never a silent recall
    * loss. Overlap is computed over the SAME rare-fp sets the candidates
    * come from (a doc whose fingerprints are all stop-fps leaves the
    * candidate plane entirely), so the score is exactly replayable by the
    * SQL twin. Everything after the narrow fingerprint map is
    * shuffle-on-key: groupBy fp (df count), join fp (rare filter), groupBy
    * fp (bounded buckets), groupBy pair (shared counts), two joins on id
    * for the per-doc set sizes.
    */
  def winnowNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 8,
      w: Int = 4,
      maxDf: Int = 50,
      minOverlap: Double = 0.9,
      obs: Option[Observation] = None
  ): DataFrame = {
    // The fingerprint table is consumed by FIVE subtrees below (df count,
    // rare join, per-doc sizes, buckets, shared counts) and column pruning
    // gives each a different projection, so exchange reuse never fires — the
    // plan re-ran the byte-level winnowing kernel once per branch (5
    // MapPartitions nodes in the r8 plan). Materialize it once, lazily
    // (r9; guide §8 "decide with small rows" — (id, fp) IS the small proxy).
    // An fp-clustered checkpoint (repartition by fp, AQE off) was tried here
    // in r9 and reverted: it does drop the dfc/rare exchanges (12 -> 8 in
    // the plan) but pins the session's full shuffle width on a table AQE
    // otherwise coalesces — same-session A/B: 9 stages/43 tasks/1.85 s plain
    // vs 12 stages/232 tasks/1.87 s clustered (commit 701c968, which also
    // holds the A/B probe's source). A wash on wall clock with more
    // scheduling; the plain checkpoint keeps AQE in charge of the width.
    val fps = winnowIndex(df, textCol, idCol, k, w).localCheckpoint(eager = false)
    val dfc = stopCounted(fps, maxDf, obs, "graft.dedup.winnow").where(col("dfreq") <= maxDf)
    // NOT checkpointed: rare sits DOWNSTREAM of the observed stop-fp
    // aggregation, and a localCheckpoint there hides the CollectMetrics node
    // behind a LogicalRDD — the stop_fps/fps observation silently stops
    // reporting (found by OperatorsSpec in r9). The fps checkpoint above
    // already collapses the expensive kernel; the df join recompute is two
    // cheap block scans.
    val rare = fps.join(dfc.select("fp"), "fp")
    val cnt = rare.groupBy("id").agg(count(lit(1)).as("nfp"))
    val pairs = rare.groupBy("fp").agg(sort_array(collect_list(col("id"))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(pairArray(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
    // NO distinct here: each shared fingerprint contributes exactly one pair
    // row (fps are per-doc distinct), so the pair count IS |A ∩ B|
    val shared = pairs.groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    shared
      .join(cnt.select(col("id").as("id_a"), col("nfp").as("nfp_a")), "id_a")
      .join(cnt.select(col("id").as("id_b"), col("nfp").as("nfp_b")), "id_b")
      .withColumn("overlap",
        col("n_shared").cast("double") / least(col("nfp_a"), col("nfp_b")).cast("double"))
      .where(col("overlap") >= minOverlap)
      .select("id_a", "id_b", "n_shared", "overlap")
  }

  /** Winnowing fingerprint index over a corpus: one (id, fp) row per DISTINCT
    * per-doc fingerprint — the PERSISTED side of incremental winnow dedup
    * (store bucketed by fp for shuffle-free probes). Unlike the MinHash
    * index, the fingerprint set IS the similarity evidence: probes never
    * re-read corpus text. Parameters must match the probe's exactly.
    */
  def winnowIndex(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, w: Int = 4
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) => TextFunctions.winnowFingerprints(t, k, w).map((id, _)) }
      .toDF("id", "fp")
  }

  /** Document frequency (`dfreq`) of each `fp` of a fingerprint table. */
  private def docFreq(fps: DataFrame): DataFrame =
    fps.groupBy("fp").agg(count(lit(1)).as("dfreq"))

  /** [[docFreq]] with the stop-fingerprint drop observed: `stop_fps` (df
    * above `maxDf`) out of `fps`. Both winnow operators filter this one
    * aggregate, so the drop they report is counted the same way.
    */
  private def stopCounted(
      fps: DataFrame, maxDf: Int, obs: Option[Observation], metricName: String
  ): DataFrame =
    observed(docFreq(fps), obs, metricName, Seq(
      sum(when(col("dfreq") > maxDf, 1L).otherwise(0L)).as("stop_fps"),
      count(lit(1)).as("fps")))

  /** Screen NEW documents against a stored [[winnowIndex]] — the nightly
    * crawl shape for the winnowing family. Document frequency (and therefore
    * the stop-fingerprint rule) is computed over the CORPUS INDEX ONLY, so
    * the screen is stable as slices arrive: fp with corpus df > maxDf is
    * dropped from BOTH sides (drop observable), an fp the corpus has never
    * seen is trivially rare. Score = containment of rare fps,
    * |A ∩ B| / min(|A_rare|, |B_rare|) over corpus-df-filtered sets — NO
    * text fetch at all (the index alone suffices, unlike the MinHash probe's
    * exact-Jaccard verify).
    *
    * Scale shape: the slice's distinct fps BROADCAST into a left-semi prune
    * of the index scan before anything shuffles; the rare filter bounds every
    * fp bucket at maxDf corpus docs by construction, so the candidate join
    * fans out <= maxDf corpus ids per new fp.
    *
    * `maxStopFps` (VERDICT r7 #6) bounds the stop-fp join input BY CONTRACT,
    * not just in practice: one cheap up-front guard job counts stop fps
    * (`limit(max+1).count()` — the enrichStream/decontaminate pattern, the
    * check itself bounded however hot the corpus), failing loudly when the
    * corpus is so boilerplate-heavy that `maxDf` marks more than `maxStopFps`
    * fingerprints hot (raise maxDf, pre-strip boilerplate, or raise the cap
    * explicitly — a stop set that big means the rare-fp containment signal
    * is mostly gone anyway). With the bound contractual, the anti joins take
    * an explicit broadcast hint instead of hoping AQE sizes it right.
    */
  def winnowProbe(
      newDocs: DataFrame,
      corpusIndex: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 8,
      w: Int = 4,
      maxDf: Int = 50,
      minOverlap: Double = 0.9,
      obs: Option[Observation] = None,
      maxStopFps: Int = 5000000
  ): DataFrame = {
    require(maxStopFps > 0 && maxStopFps <= 50000000,
      s"maxStopFps=$maxStopFps out of range (1..50000000 — 8 B/fp broadcast)")
    val newFps = winnowIndex(newDocs, textCol, idCol, k, w)
      .select(col("id").as("id_new"), col("fp"))
    // guard job: UNOBSERVED twin of the stop aggregation (an Observation must
    // see exactly one action — the main job below keeps it), bounded by the
    // limit however many fps are hot
    val nStop = docFreq(corpusIndex).where(col("dfreq") > maxDf).limit(maxStopFps + 1).count()
    require(nStop <= maxStopFps,
      s"winnowProbe stop-fp set exceeds maxStopFps=$maxStopFps (maxDf=$maxDf marks " +
        "that much of the corpus hot — raise maxDf, pre-strip boilerplate, or raise " +
        "maxStopFps explicitly up to 50000000)")
    val stop = stopCounted(corpusIndex, maxDf, obs, "graft.dedup.winnow_probe")
      .where(col("dfreq") > maxDf).select("fp")
    // rare on both sides = NOT a corpus stop fp (anti join; unseen fps pass —
    // df 0 is rare by definition). The stop set is bounded by the contract
    // guard above, so it broadcasts explicitly. The SLICE's keys below are
    // the small-by-contract side (same contract as minhashProbe).
    // NOT checkpointed (r9): both rare tables sit DOWNSTREAM of the observed
    // stop aggregation — a localCheckpoint there hides the CollectMetrics
    // node behind a LogicalRDD and the stop_fps observation stops reporting
    // (OperatorsSpec caught exactly that on the batch path). Callers instead
    // materialize the INDEX side (upstream of the observe) when it is an
    // in-query stand-in rather than a stored table.
    val corpusRare = corpusIndex.select(col("id").as("id_corpus"), col("fp"))
      .join(broadcast(stop), Seq("fp"), "left_anti")
    val newRare = newFps.join(broadcast(stop), Seq("fp"), "left_anti")
    val probeKeys = newRare.select("fp").distinct()
    val hits = corpusRare.join(broadcast(probeKeys), Seq("fp"), "left_semi")
    val cntNew = newRare.groupBy("id_new").agg(count(lit(1)).as("nfp_new"))
    val cntCorpus = corpusRare.groupBy("id_corpus").agg(count(lit(1)).as("nfp_corpus"))
    val shared = newRare.join(hits, "fp")
      .groupBy("id_new", "id_corpus").agg(count(lit(1)).as("n_shared"))
    shared
      .join(cntNew, "id_new")
      .join(cntCorpus, "id_corpus")
      .withColumn("overlap",
        col("n_shared").cast("double") / least(col("nfp_new"), col("nfp_corpus")).cast("double"))
      .where(col("overlap") >= minOverlap)
      .select("id_new", "id_corpus", "n_shared", "overlap")
  }

  // --- near-dup clustering (connected components over the pair graph) ----------

  /** Connected components over a near-dup pair graph -> (id, cluster_id) with
    * cluster_id = the component's minimum id (the canonical keeper-selection
    * rule: keep cluster_id, drop the rest). Input: (id_a, id_b) pairs from any
    * of the near-dup operators.
    *
    * Algorithm: iterative min-label propagation with pointer jumping — each
    * round every vertex takes the min of its own label, its neighbors' labels,
    * and its label's label (label(label(x))), so long chains collapse in
    * O(log diameter) rounds rather than O(diameter); real duplicate families
    * are stars/cliques and converge in 1-2. Every step is a shuffle-on-key
    * join/agg (no driver-side graph), labels are checkpointed per round to
    * truncate lineage — pass `checkpointDir` (any shared/durable path) on a
    * real cluster so executor loss replays from the durable checkpoint; the
    * localCheckpoint default is for local mode, where executor loss cannot
    * happen. Convergence detection rides the propagation frame itself (the
    * previous label travels as a column), so the per-round check is a plain
    * filter on the just-checkpointed labels — no extra join job per round.
    * Ids with no pair (singletons) are not emitted — they are their own
    * keeper by definition. Throws if the propagation has not converged after
    * `maxIters` rounds (pointer jumping covers chain diameter ~2^maxIters, so
    * this cannot trigger on real near-dup graphs; an unconverged labeling is
    * inconsistent and must fail loudly, never be returned silently).
    */
  def clusters(
      pairs: DataFrame,
      maxIters: Int = 20,
      checkpointDir: Option[String] = None
  ): DataFrame = {
    val spark = pairs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // LAZY checkpoints (r9): lineage truncation is what matters — an eager
    // materialization job per round doubled the action count (ckpt + the
    // convergence isEmpty). Lazily-marked blocks are saved when the next
    // action (the convergence check, or the following round's joins) first
    // computes them, so each round costs ONE action and the same single
    // computation of its labels.
    // Partitioning-aware (AQE-off) checkpoints were tried here in r9 and
    // REVERTED on measurement: checkpoints do not preserve partitioning
    // under AQE, the loop's label/edge tables are small relative to the
    // corpus, and AQE's runtime coalescing (1-2-task stages, 55 tasks per
    // full run) beats exchange elimination at fixed session width (465
    // tasks, 1.72 s -> 2.77 s min in a same-session A/B — commit 701c968,
    // which also holds the A/B probes' source). The plain lazy checkpoint
    // keeps AQE in charge.
    def ckpt(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    val e0 = pairs.select(col(pairs.columns(0)).cast("long").as("src"),
      col(pairs.columns(1)).cast("long").as("dst"))
    val edges = ckpt(e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var labels = ckpt(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy(col("src")).agg(min(col("dlabel")).as("nlabel"))
        .select(col("src").as("id"), col("nlabel"))
      // prop feeds BOTH sides of the jump self-join below — lazily
      // checkpointed, the second side reads the first's blocks inside the
      // same action instead of re-running the neighbor join+aggregate (r9)
      val prop = ckpt(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label")))
      // convergence is checked on PROP, not on the jump (r9): a neighbor-min
      // fixpoint already labels every vertex with its component minimum (if
      // any vertex were above it, some edge on the path to the min vertex
      // would still propagate — not a fixpoint), and the jump maps
      // root labels to themselves, so prop-unchanged implies jump-unchanged.
      // The final round therefore skips the jump self-join (its two
      // exchanges + checkpoint) outright; non-final rounds still jump, so
      // chain diameter keeps halving per round exactly as before.
      converged = prop.where(col("label") =!= col("__old")).isEmpty
      labels =
        if (converged) prop.drop("__old")
        else ckpt(prop
          .join(prop.select(col("id").as("jid"), col("label").as("jlabel")),
            prop("label") === col("jid"), "left")
          .select(col("id"), coalesce(col("jlabel"), col("label")).as("label")))
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"Dedup.clusters did not converge after $maxIters rounds — an unconverged " +
        "labeling is inconsistent; raise maxIters (pointer jumping covers diameter ~2^maxIters)")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  // --- test-set decontamination -------------------------------------------------

  /** Benchmark/test-set DECONTAMINATION: per document, count its distinct
    * word-`k`-shingles that also occur in `benchmark` (an eval corpus).
    * Callers drop or flag `n_contaminated > 0` rows before training.
    *
    * Scale shape: the benchmark side is SMALL by nature (eval sets are
    * thousands of rows, not billions) — its distinct shingle hashes collect
    * to the driver ONCE, ship as a broadcast sorted primitive array, and the
    * 100TB document side stays a NARROW map (shingle + binary-search probe):
    * no shuffle, no join, fuses with scan pushdown. The collect is
    * bounded-by-contract (guarded): callers with a huge "benchmark" are using
    * the wrong operator — that is a near-dup join, not decontamination.
    *
    * Driver-memory math: 8 B per shingle — the 5M default caps the driver
    * array + broadcast at 40 MB, matching the "benchmark sides are small by
    * nature" contract. A genuinely larger eval corpus opts UP explicitly via
    * `maxBenchShingles` (hard ceiling 50M = 400 MB; past that the right tool
    * is a near-dup join).
    */
  def decontaminate(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      k: Int = 8,
      maxBenchShingles: Int = 5000000
  ): DataFrame = {
    require(maxBenchShingles > 0 && maxBenchShingles <= 50000000,
      s"maxBenchShingles=$maxBenchShingles out of range (1..50000000 — 8 B/shingle on the driver)")
    val spark = docs.sparkSession
    import spark.implicits._
    // the limit BOUNDS the driver materialization (at most max+1 longs reach
    // the driver however oversized the input), and its length is the guard —
    // one job, loud failure instead of a driver OOM
    val benchShingles: Array[Long] = benchmark
      .select(col(benchTextCol).as("t")).as[String]
      .flatMap(t => shingles(t, k))
      .distinct()
      .limit(maxBenchShingles + 1)
      .collect()
    require(benchShingles.length <= maxBenchShingles,
      s"benchmark exceeds maxBenchShingles=$maxBenchShingles distinct shingles " +
        "(8 B each on the driver; raise maxBenchShingles up to 50000000 explicitly, " +
        "or use a near-dup join for corpus-vs-corpus overlap)")
    java.util.Arrays.sort(benchShingles)
    val bc = spark.sparkContext.broadcast(benchShingles)
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val sorted = bc.value
        it.map { case (id, t) =>
          val sh = shingles(t, k) // sorted distinct by construction
          var hits = 0
          var i = 0
          while (i < sh.length) {
            if (java.util.Arrays.binarySearch(sorted, sh(i)) >= 0) hits += 1
            i += 1
          }
          (id, hits)
        }
      }
      .toDF("doc_id", "n_contaminated")
  }

  // --- character n-gram Jaccard (bottom-k sketch LSH) --------------------------

  /** Character k-gram shingles of the normalized text, hashed to 64-bit, distinct.
    * Finer-grained than word shingles: robust to missing spaces / punctuation
    * edits that break word tokenization.
    */
  def ngramShingles(text: String, k: Int = 5): Array[Long] = {
    val s = TextFunctions.normalize(text)
    if (s.length <= k) Array(TextFunctions.fnv1a64(s))
    else {
      val out = new Array[Long](s.length - k + 1)
      var i = 0
      while (i + k <= s.length) {
        var h = 0xcbf29ce484222325L
        var j = 0
        while (j < k) { h ^= s.charAt(i + j).toLong; h *= 0x100000001b3L; j += 1 }
        out(i) = h
        i += 1
      }
      TextFunctions.sortedDistinct(out)
    }
  }

  /** n-gram Jaccard near-duplicate pairs via a BANDED BOTTOM-M SKETCH (distinct
    * technique from the minhash-signature path): each doc's candidate keys are
    * `bands` hashes, band b combining `bandSize` consecutive elements of the
    * doc's sorted bottom-(bandSize*bands) shingle hashes. Two docs with Jaccard
    * j share a band with probability ~j^bandSize, so candidate recall
    * ~1-(1-j^bandSize)^bands (defaults 4/3, j=0.9: ~0.96; identical shingle
    * sets share EVERY band). Why banded and why 4: single bottom hashes of
    * globally common n-grams bucket thousands of docs on low-entropy corpora
    * (measured 3,828-doc hot buckets on the driver's 37-word-vocabulary corpus
    * -> cap truncation -> recall loss); 3-hash bands still yielded ~1.0M
    * candidate pairs there, 4-hash bands cut that 5.4x (184k) with max bucket
    * 124. Candidates come from [[cappedBucketPairs]] and are verified by
    * [[verifyTexts]], as in [[minhashNearDups]]; truncation observable.
    *
    * @param sketchEqualityPrefilter drop candidate pairs whose FULL bottom-m
    *   sketches differ before the exact verify. Set equality implies sketch
    *   equality, so this is EXACT (zero recall change) whenever the threshold
    *   can only be met by identical shingle sets — e.g. threshold 0.999 on
    *   corpora whose docs carry < 1000 shingles, where J in (0.999, 1) is
    *   impossible. On low-entropy corpora it kills the false-candidate
    *   majority before the expensive verify (measured 80.6k -> ~5k pairs at
    *   sf0.1). Leave false for loose thresholds: sketch inequality there does
    *   not bound the true Jaccard.
    */
  def ngramJaccardNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      bands: Int = 3,
      bandSize: Int = 4,
      threshold: Double = 0.9,
      maxBucket: Int = 1000,
      obs: Option[Observation] = None,
      sketchEqualityPrefilter: Boolean = false
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val sh = ngramShingles(text, k) // sorted distinct by construction
        val bottom = Array.tabulate(bandSize * bands)(i => if (i < sh.length) sh(i) else Long.MaxValue)
        val bandKeys = Array.tabulate(bands)(bandFold(bottom, _, bandSize))
        (id, bottom, bandKeys)
      }
      .toDF("id", "sketch", "keys")
    // the bottom-m sketch rides inside the bucket elements (struct sorted by
    // id) so the pair stage can prefilter on it without a join back
    val sig = keyed
      .select(col("id"), col("sketch"), posexplode(col("keys")).as(Seq("band", "bkey")))
    val pairs0 = cappedBucketPairs(sig, Seq(col("band"), col("bkey")),
      struct(col("id"), col("sketch")), maxBucket, obs, "graft.dedup.ngram")
    val pairs = (if (sketchEqualityPrefilter) pairs0.where(col("a.sketch") === col("b.sketch"))
                 else pairs0)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    verifyTexts(pairs, df, textCol, idCol, threshold) { (x, y) =>
      exactJaccard(ngramShingles(x, k), ngramShingles(y, k))
    }
  }

  // --- SimHash ---------------------------------------------------------------

  /** 64-bit SimHash over word hashes (unit weights). */
  def simhash64(text: String): Long = {
    val words = TextFunctions.normalize(text).split(" ")
    val acc = new Array[Int](64)
    words.foreach { w =>
      val h = TextFunctions.fnv1a64(w)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (acc(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming (< 4): pigeonhole
    * bucketing on the 4 16-bit chunks — if two hashes differ in <= 3 bits, at
    * least one chunk is identical, so candidates = same-chunk pairs only.
    *
    * Scale-safe like its minhash sibling: candidates come from capped
    * (chunk, ckey) buckets (a degenerate corpus where every short/empty text
    * shares chunk keys is bounded at maxBucket^2 pairs per bucket, with
    * truncation observable), NOT from an uncapped self-join.
    */
  def simhashNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000,
      obs: Option[Observation] = None
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(maxHamming <= 3, "pigeonhole bucketing covers hamming <= 3")
    val hashed = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, t) => (id, simhash64(t)) }
      .toDF("id", "simhash")
    // carry the simhash INSIDE the bucket elements (struct sorted by id): the
    // pair stage then has both hashes — no per-side join back and no second
    // recomputation of the source scan + simhash map
    val chunks = hashed.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"), shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xffffL)).as("ckey"))): _*)).as("c"))
    cappedBucketPairs(chunks, Seq(col("c.chunk"), col("c.ckey")),
      struct(col("id"), col("simhash")), maxBucket, obs, "graft.dedup.simhash")
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** C4-style SPAN deduplication, adapted to the corpus's delimiter-free
    * token streams: cut each document into consecutive non-overlapping
    * `segTokens`-token segments (C4's unit is the three-sentence span; this
    * corpus has no sentence delimiters, so the fixed-width token segment is
    * the faithful analog — swap the segmenter for a sentence splitter on
    * punctuated text), and for every segment whose exact text occurs in at
    * least `minDocs` DISTINCT documents, keep only its GLOBALLY FIRST
    * occurrence (min (doc_id, seg_idx) — C4 keeps one occurrence of each
    * duplicated span) and delete every other one, then reassemble each
    * document from its surviving segments in order.
    *
    * Output: (idCol, text_clean, n_segments, n_removed) — one row per input
    * row; zero-token docs report ('', 0, 0).
    *
    * Scale shape: segment explode is NARROW (inside the scan stage); the
    * per-segment stats are ONE map-side-combined groupBy on segment text
    * (count-distinct via the (seg, doc) distinct pre-step, keeper via
    * min(struct) — partial-merge aggregates, so a boilerplate segment in
    * millions of docs never serializes a task); dup marking is a hash join on
    * segment text (NOT broadcast — the duplicated-segment set is
    * corpus-sized at 100 TB; AQE's skew split handles mega-hot boilerplate);
    * reassembly groups by doc_id, bounded by document size. No windows over
    * unbounded partitions, no driver materialization.
    */
  def dedupSegments(
      df: DataFrame,
      textCol: String,
      idCol: String,
      segTokens: Int,
      minDocs: Int = 2
  ): DataFrame = {
    require(segTokens > 0, s"segTokens $segTokens must be positive")
    require(minDocs >= 2, s"minDocs $minDocs must be >= 2 (1 would delete every segment)")
    // the segment table feeds both the stats rollup and the dup-mark join —
    // materialize the narrow explode once (r9; it IS the working table any
    // span-dedup materializes)
    val seg = segmentize(df, textCol, idCol, segTokens).localCheckpoint(eager = false)
    // distinct-doc counting without countDistinct's two-shuffle expansion on
    // the exploded table: first collapse to one (seg_text, doc) row carrying
    // the doc's MIN position (map-side combined), then one aggregate yields
    // both the distinct-doc count and the global keeper — min (doc, idx) over
    // per-doc minima IS the global minimum (lexicographic order, doc first),
    // so the exploded table is aggregated exactly once
    val perDoc = seg.groupBy(col("seg_text"), col(idCol))
      .agg(min(col("seg_idx")).as("_min_idx"))
    val stats = perDoc.groupBy(col("seg_text"))
      .agg(count(lit(1)).as("n_docs"),
        min(struct(col(idCol), col("_min_idx").as("seg_idx"))).as("keeper"))
      .where(col("n_docs") >= minDocs)
      .select(col("seg_text"), col(s"keeper.$idCol").as("_kdoc"), col("keeper.seg_idx").as("_kidx"))
    val marked = seg.join(stats, Seq("seg_text"), "left")
      .select(col(idCol), col("seg_idx"), col("seg_text"),
        (col("_kdoc").isNotNull &&
          !(col(idCol) === col("_kdoc") && col("seg_idx") === col("_kidx"))).as("rm"))
    val rebuilt = marked.groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_segments"),
        sum(when(col("rm"), 1L).otherwise(0L)).cast("int").as("n_removed"),
        array_join(
          transform(
            sort_array(collect_list(when(!col("rm"), struct(col("seg_idx"), col("seg_text"))))),
            x => x.getField("seg_text")),
          " ").as("text_clean"))
    df.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_segments"), lit(0)).as("n_segments"),
        coalesce(col("n_removed"), lit(0)).as("n_removed"))
  }

  /** Fixed-width token segmentation shared by [[dedupSegments]] and
    * [[duplicateRuns]]: (id, seg_idx, seg_text, seg_len) — a NARROW explode
    * (in-row slicing), the last segment carries the remainder tokens.
    */
  private def segmentize(
      df: DataFrame, textCol: String, idCol: String, segTokens: Int
  ): DataFrame = {
    val words = split(trim(col(textCol)), "\\s+")
    val nSegs = floor((size(words) + lit(segTokens - 1)).cast("double") / lit(segTokens.toDouble)).cast("int")
    df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol), words.as("w"), nSegs.as("k"))
      .select(col(idCol), posexplode(sequence(lit(0), col("k") - 1)).as(Seq("seg_idx", "_c")), col("w"))
      .select(col(idCol), col("seg_idx"),
        array_join(slice(col("w"), col("seg_idx") * segTokens + 1, lit(segTokens)), " ").as("seg_text"),
        least(size(col("w")) - col("seg_idx") * segTokens, lit(segTokens)).cast("int").as("seg_len"))
  }

  /** MAXIMAL DUPLICATED-RUN detection — the segment-quantized form of exact
    * substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): segment each document into fixed
    * `segTokens`-token windows, mark a segment DUPLICATED when its text
    * occurs in >= `minDocs` distinct documents, then merge each document's
    * CONSECUTIVE duplicated segments into maximal runs. Output one row per
    * run: (id, run_start_seg, run_len_segs, run_tokens). Quantization
    * contract: any duplicated substring of >= 2·segTokens tokens must cover
    * at least one full segment, so runs under-report by at most segTokens-1
    * tokens per side — the price of never building a distributed suffix
    * array.
    *
    * Scale shape: narrow in-row segmentation, (seg_text, doc) collapse then
    * per-segment distinct-doc count (both map-side combined — a boilerplate
    * segment in 10^9 docs never gathers rows), LEFT-SEMI join back (no
    * payload moves for unique segments), and the islands merge is a per-doc
    * window — partitions bounded by a document's own segment count, never
    * corpus-wide.
    */
  def duplicateRuns(
      df: DataFrame,
      textCol: String,
      idCol: String,
      segTokens: Int,
      minDocs: Int = 2
  ): DataFrame = {
    require(segTokens > 0, s"segTokens $segTokens must be positive")
    require(minDocs >= 2, s"minDocs $minDocs must be >= 2 (1 would mark every segment)")
    // same single-materialization rationale as dedupSegments (r9)
    val seg = segmentize(df, textCol, idCol, segTokens).localCheckpoint(eager = false)
    val dup = seg.groupBy(col("seg_text"), col(idCol)).agg(count(lit(1)).as("_n"))
      .groupBy(col("seg_text")).agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select("seg_text")
    val marked = seg.join(dup, Seq("seg_text"), "left_semi")
    // islands: consecutive seg_idx values share (seg_idx - row_number) —
    // each doc's window is bounded by its own segment count
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("seg_idx"))
    marked
      .withColumn("grp", col("seg_idx") - row_number().over(w))
      .groupBy(col(idCol), col("grp"))
      .agg(
        min(col("seg_idx")).as("run_start_seg"),
        count(lit(1)).cast("int").as("run_len_segs"),
        sum(col("seg_len")).cast("long").as("run_tokens"))
      .select(col(idCol), col("run_start_seg"), col("run_len_segs"), col("run_tokens"))
  }
}
