package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.pipeline.{ExtractJob, Turn}
import graft.operators.Dedup

/** Custom per-conversation state for the stateful sessionizer. */
final case class ConvSessionState(sessionStart: Long, lastTs: Long, turns: Int)

/** One closed conversation session (gap-based). */
final case class ConvSession(
    conv_id: String,
    session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp,
    n_turns: Int)

/** Structured Streaming face of the extraction pipeline: incremental transcript
  * ingest with exactly the same per-turn semantics as the batch job, since every
  * stream extracts through the batch job's own code: [[run]] runs its map,
  * [[ExtractJob.extractNarrow]], and [[windowedMetrics]] calls its per-row
  * [[ExtractJob.extractTurn]].
  *
  * The reference is a batch CLI and the north rule specifies a batch backfill
  * (SURVEY §2.11), so this is an engine addition for continuous ingest: new turns
  * stream in, extracted rows stream out, plus a watermarked per-conversation
  * windowed metric stream (late turns beyond the watermark are dropped).
  */
object StreamingExtract {

  /** Watermarked tumbling-window extraction-rate metrics per payload kind:
    * (window, payload_kind) -> turns, chars, errors. `n_chars` counts code
    * points (Spark's and DuckDB's `length`, and the manifests' `bytes`), not
    * UTF-16 units. The watermark bounds the aggregation state; late turns
    * beyond it are dropped (documented lateness policy). Extraction runs
    * inline so ts flows with the metric row.
    */
  def windowedMetrics(turns: Dataset[Turn], windowLen: String = "1 minute",
                      watermark: String = "10 minutes"): DataFrame = {
    import turns.sparkSession.implicits._
    val enriched = turns.map { t =>
      val e = ExtractJob.extractTurn(t)
      (t.ts, e.payload_kind,
        if (e.extracted_text == null) 0
        else e.extracted_text.codePointCount(0, e.extracted_text.length),
        if (e.error == null) 0 else 1)
    }.toDF("ts", "payload_kind", "n_chars", "is_err")
    enriched
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("payload_kind"))
      .agg(count(lit(1)).as("n_turns"), sum(col("n_chars")).as("n_chars"),
        sum(col("is_err")).as("n_errors"))
  }

  /** Stateful streaming sessionization via flatMapGroupsWithState (the custom-
    * state operator class): per conv_id, turns more than `gapSec` apart start a
    * new session. A session CLOSES (emits) either when a later turn in the same
    * conversation reveals the gap, or when the event-time watermark passes
    * lastTs + gap (EventTimeTimeout) — so state is bounded: one open session
    * per active conversation, removed on timeout. Batch twin: the
    * q_events_sessionize window query (same gap rule, oracled in DuckDB).
    */
  def sessionizeStream(
      turns: Dataset[Turn],
      gapSec: Long = 1800,
      watermark: String = "1 hour"
  ): Dataset[ConvSession] = {
    import turns.sparkSession.implicits._
    val gapMs = gapSec * 1000
    turns
      // Turn.ts is nullable (the batch job tolerates null ts per-row): a null
      // here would NPE inside the state function and kill the whole streaming
      // query, so mirror the batch job's per-row tolerance by dropping the row
      // before the watermark (it carries no event time to sessionize on).
      .filter(col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvSessionState, ConvSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (conv, it, state: GroupState[ConvSessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ConvSession(conv,
              new java.sql.Timestamp(s.sessionStart), new java.sql.Timestamp(s.lastTs), s.turns))
          } else {
            val times = it.map(_.ts.getTime).toArray.sorted
            val closed = Vector.newBuilder[ConvSession]
            var cur = state.getOption.orNull
            times.foreach { t =>
              if (cur == null) cur = ConvSessionState(t, t, 1)
              else if (t - cur.lastTs > gapMs) {
                closed += ConvSession(conv,
                  new java.sql.Timestamp(cur.sessionStart), new java.sql.Timestamp(cur.lastTs), cur.turns)
                cur = ConvSessionState(t, t, 1)
              } else {
                // a late-but-in-watermark event can predate the open session's
                // start (cross-batch out-of-order): widen both bounds so the
                // emitted span covers every merged turn
                cur = ConvSessionState(math.min(cur.sessionStart, t),
                  math.max(cur.lastTs, t), cur.turns + 1)
              }
            }
            state.update(cur)
            state.setTimeoutTimestamp(cur.lastTs + gapMs)
            closed.result().iterator
          }
      }
  }

  /** Streaming EXACT DEDUP — the streaming face of `Dedup.exact`: one output
    * row per distinct content hash, first occurrence wins, duplicates dropped
    * across batches through the dedup state store. Emitted SHAPE is the key
    * set itself (`text_hash` only): `dropDuplicates` keeps the first
    * PROCESSED row per key and arrival order across partitions is
    * nondeterministic, so the key set is the deterministic, oracle-able
    * output while full-row recovery stays a keyed join away. State is
    * bounded: `dropDuplicatesWithinWatermark` evicts keys once the event-time
    * watermark passes them, so state size is rate x watermark horizon — not
    * corpus size (the unbounded-state trap of plain streaming dropDuplicates
    * at 100TB).
    */
  def dedupStream(turns: Dataset[Turn], watermark: String = "1 hour"): DataFrame =
    turns.toDF()
      .filter(col("ts").isNotNull) // null event time cannot be watermarked; mirror batch row-tolerance
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")
      .select(col("text_hash"))

  /** Stream-STATIC enrichment join — the lookup/dimension attach every
    * event pipeline needs (user segment, document source, model route).
    * The dimension side is small by nature and BROADCASTS: the streaming
    * side never shuffles and no state store is involved (stateless
    * micro-batch map-side join), so at 100 TB/day the plan stays a narrow
    * pass whatever the event rate. LEFT semantics: events with no dimension
    * row keep nulls (they are data, not errors). Works identically on a
    * batch DataFrame (same function — batch/stream parity by construction,
    * like ExtractJob.extractNarrow).
    *
    * `maxDimRows` bounds the broadcast BY CONTRACT (same discipline as
    * decontaminate's benchmark cap): an explicit broadcast() hint bypasses
    * Spark's auto-broadcast threshold, so a fact table passed as `dim` would
    * OOM the driver silently-late — the limit+count guard fails loudly
    * up-front instead (one cheap job over the small-by-contract side;
    * limit(max+1) bounds the check itself however oversized the input).
    * A genuinely larger dimension belongs in a shuffle join, not here.
    */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String,
                   maxDimRows: Int = 10000000): DataFrame = {
    // Int, not Long: a guard that cannot be raised past what a broadcast can
    // physically hold is a guard that cannot be silently disabled (limit()
    // takes an Int anyway — a >2^31-row "dimension" is a fact table)
    require(maxDimRows > 0 && maxDimRows < Int.MaxValue,
      s"maxDimRows=$maxDimRows out of range (1..${Int.MaxValue - 1})")
    val probe = dim.limit(maxDimRows + 1).count()
    require(probe <= maxDimRows,
      s"enrichStream dimension exceeds maxDimRows=$maxDimRows — a side this " +
        "large belongs in a shuffle join, not a broadcast")
    events.join(broadcast(dim), Seq(key), "left")
  }

  /** Streaming incremental near-dup screen: new documents arrive as a stream
    * of (id, text, ts) and probe the STATIC stored corpus index (built once
    * by [[graft.operators.Dedup.minhashIndex]]) — the continuous face of the
    * batch [[graft.operators.Dedup.minhashProbe]], hashing through the same
    * [[graft.operators.Dedup.bandKeysFor]] so stream and batch surface
    * identical matches.
    *
    * Plan: per-row band keys (narrow flatMap, one output row per band) ->
    * stream-static equijoin on (band, bkey) against the index (stateless;
    * store the index bucketed by (band, bkey) so the static side needs no
    * per-micro-batch shuffle) -> watermark-bounded pair dedup (a pair seen
    * via several bands, or again within the horizon, emits once — state is
    * rate x horizon, never corpus size) -> stream-static id join for the
    * corpus text -> exact shingle-Jaccard verify. A hot index key multiplies
    * candidates per stream row: cap the STORED index's buckets at build time
    * via `minhashIndex(maxBucket = Some(m))` (ADVICE r7 — the cap now EXISTS
    * at build, truncation observable), which also keeps batch and stream
    * probes seeing identical bounded buckets instead of diverging when the
    * batch probe's probe-time truncation kicks in.
    */
  def probeStream(
      docs: DataFrame,
      corpusIndex: DataFrame,
      corpusTexts: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      tsCol: String = "ts",
      shingleK: Int = 3,
      nPerm: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.8,
      watermark: String = "1 hour"
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = docs
      .select(col(idCol).cast("long").as("id_new"), col(textCol).as("text_new"),
        col(tsCol).as("ts"))
      .filter(col("ts").isNotNull) // null event time cannot be watermarked; mirror dedupStream
      .as[(Long, String, java.sql.Timestamp)]
      .flatMap { case (id, text, ts) =>
        Dedup.bandKeysFor(text, shingleK, nPerm, bands).zipWithIndex.map {
          case (k, b) => (id, text, ts, b, k)
        }
      }
      .toDF("id_new", "text_new", "ts", "band", "bkey")
    val cand = sig.join(corpusIndex.withColumnRenamed("id", "id_corpus"), Seq("band", "bkey"))
    val once = cand
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("id_new", "id_corpus")
    once
      .join(corpusTexts.select(col(idCol).cast("long").as("id_corpus"),
        col(textCol).as("text_corpus")), "id_corpus")
      .select("id_new", "id_corpus", "text_new", "text_corpus") // pin before positional encode
      .as[(Long, Long, String, String)]
      .map { case (n, c, tn, tc) =>
        (n, c, Dedup.exactJaccard(Dedup.shingles(tn, shingleK), Dedup.shingles(tc, shingleK)))
      }
      .toDF("id_new", "id_corpus", "jaccard")
      .where(col("jaccard") >= threshold)
  }

  /** File-based continuous ingest: watch `inDir` for new transcript parquet,
    * write extracted parquet to `outDir` with checkpointed exactly-once progress.
    */
  def run(spark: SparkSession, inDir: String, outDir: String,
          checkpoint: String): StreamingQuery = {
    import spark.implicits._
    val turns = spark.readStream.schema(Turn.ddl).parquet(inDir).as[Turn]
    ExtractJob.extractNarrow(turns).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
