package graft
package queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.pipeline._
import Query._

/** Structured streaming: file source -> extract/state -> memory sink. Owns
  * the one test-stream runner the other families' streams use too.
  */
object StreamingQueries {

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
    * restoring the session's configured value afterwards. The conf is
    * session-global, so callers hold the session's [[startLock]].
    */
  private def withShufflePartitions[A](s: SparkSession, n: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try f finally s.conf.set(key, prev)
  }

  private val startLocks =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, AnyRef]())

  /** Serializes [[runStream]] starts per session, so no start reads the
    * width another start has set for its own stream.
    */
  private def startLock(s: SparkSession): AnyRef = startLocks.computeIfAbsent(s, _ => new AnyRef)

  /** Run a test stream to completion — AvailableNow into a memory sink under
    * a fresh [[Scratch]] checkpoint — and return the sink table. `stateRows`
    * sizes the state stores of a STATEFUL stream (see [[statePartitions]]);
    * stateless streams run at the session width. A query copies the session
    * conf when it starts, so only the start holds the session's lock and the
    * width; concurrent streams still run side by side.
    */
  private[queries] def runStream(stream: Dataset[_], prefix: String,
      stateRows: Option[Long] = None): DataFrame = {
    val s = stream.sparkSession
    val name = s"${prefix}_out_${System.nanoTime()}"
    def start(): StreamingQuery = stream.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Scratch.dir(s"graft-$prefix-cp"))
      .trigger(Trigger.AvailableNow()).start()
    val query = startLock(s).synchronized {
      stateRows match {
        case Some(n) => withShufflePartitions(s, statePartitions(s, n))(start())
        case None    => start()
      }
    }
    query.awaitTermination()
    s.table(name)
  }

  val all: Seq[Query] = Seq(
    Query("q_stream_extract", (s, dir) => {
      import s.implicits._
      val tmp = Scratch.dir("graft-stream-in")
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, text) => Turn(f"$id%012d", 0, "user", text, "plain",
          new java.sql.Timestamp(0L)) }
        .write.mode("overwrite").parquet(tmp)
      val turns = s.readStream.schema(Turn.ddl).parquet(tmp).as[Turn]
      runStream(ExtractJob.extractNarrow(turns), "stream")
        .select(col("conv_id").cast("long").as("doc_id"), col("extracted_text"))
    }, _ =>
      "SELECT doc_id, text AS extracted_text FROM documents ORDER BY doc_id"),
    // Stateful streaming sessionizer, value-checked: the events table is recast
    // as a turn stream (conv = user), run through flatMapGroupsWithState via
    // AvailableNow, and the CLOSED sessions are compared against the batch gap
    // rule the oracle re-derives in SQL. One far-future sentinel turn per user
    // flushes the final open session through the in-batch gap rule (the
    // sentinel's own session stays open and is never emitted), so stream output
    // == batch sessions exactly.
    // Batch twin of the streaming sessionizer: same 1800s gap rule at the same
    // MILLISECOND precision (epoch_ms truncates microseconds exactly like
    // java.sql.Timestamp.getTime, and epoch_ms//1000 == unix_timestamp's
    // second floor), sessions as (min ts, max ts, count) groups. The stream
    // emits every real session because the per-user sentinel (Spark-side only,
    // filtered from the output) closes the final open one.
    Query("q_stream_sessionize", (s, dir) => {
      import s.implicits._
      val tmp = Scratch.dir("graft-sess-in")
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
      val stream = s.readStream.schema(Turn.ddl).parquet(tmp).as[Turn]
      // AvailableNow keeps running watermark-advancing batches after the data
      // batch, so EventTimeTimeout can close (emit) sentinel sessions too —
      // drop everything starting after the last real event
      runStream(graft.streaming.StreamingExtract.sessionizeStream(stream, gapSec = 1800),
        "sessionize", Some(nEvents))
        .where(unix_timestamp(col("session_start")) <= maxRealEpochS)
        .select(col("conv_id").cast("long").as("user_id"),
          unix_timestamp(col("session_start")).as("start_s"),
          unix_timestamp(col("session_end")).as("end_s"),
          col("n_turns").cast("long").as("n_turns"))
    }, _ =>
      ("WITH g AS (SELECT user_id, event_id, ts, CASE WHEN lag(ts) OVER w IS NULL OR " +
        "epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS new_s " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM g) " +
        "SELECT user_id, epoch_ms(min(ts)) // 1000 AS start_s, " +
        "epoch_ms(max(ts)) // 1000 AS end_s, count(*) AS n_turns " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, start_s")),
    // Watermarked tumbling-window metrics, value-checked: events recast as a
    // turn stream (text = event_type, so n_chars is SQL-derivable), one global
    // sentinel past max+100d advances the watermark so every real 1-minute
    // window closes; the sentinel's own window never closes and is excluded by
    // construction. Oracle: the same tumbling aggregation in batch SQL.
    // Tumbling 1-minute windows of the events table; DuckDB time_bucket floors
    // to the minute exactly like Spark's window(ts, '1 minute').start.
    Query("q_stream_metrics", (s, dir) => {
      import s.implicits._
      val tmp = Scratch.dir("graft-met-in")
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
      val stream = s.readStream.schema(Turn.ddl).parquet(tmp).as[Turn]
      runStream(graft.streaming.StreamingExtract.windowedMetrics(stream, "1 minute", "10 minutes"),
        "metrics", Some(nEvents))
        .select(unix_timestamp(col("window.start")).as("window_start_s"),
          col("payload_kind"), col("n_turns"),
          col("n_chars").cast("long").as("n_chars"),
          col("n_errors").cast("long").as("n_errors"))
    }, _ =>
      ("SELECT epoch_ms(time_bucket(INTERVAL 1 MINUTE, ts)) // 1000 AS window_start_s, " +
        "'plain' AS payload_kind, count(*) AS n_turns, " +
        "CAST(sum(length(event_type)) AS BIGINT) AS n_chars, CAST(0 AS BIGINT) AS n_errors " +
        "FROM events GROUP BY 1 ORDER BY window_start_s"))
  )
}
