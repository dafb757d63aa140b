package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DataType, StructType, TimestampNTZType, TimestampType}

/** Temporal joins for event/transcript analytics. */
object Temporal {

  /** Epoch seconds (floor) of a timestamp/timestamp_ntz/numeric column —
    * TIMESTAMP_NTZ cannot CAST to BIGINT directly.
    */
  private def epochSec(dt: DataType, c: Column): Column = dt match {
    case TimestampType | TimestampNTZType => unix_timestamp(c)
    case _                                => c.cast("long")
  }

  /** Epoch MICROSECONDS — the full precision a Spark timestamp carries — for
    * distance comparisons that must not lose sub-millisecond resolution
    * (asofNearest; round-6 upgrade from unix_millis, which let two rows whose
    * distances differ only below 1ms tie). NTZ routes through a cast to
    * TIMESTAMP, an identity shift under the engine's UTC sessions (every
    * SparkSession this engine builds pins spark.sql.session.timeZone=UTC).
    */
  private def epochMicros(dt: DataType, c: Column): Column = dt match {
    case TimestampType    => unix_micros(c)
    case TimestampNTZType => unix_micros(c.cast("timestamp"))
    case _                => c.cast("long") * 1000000L
  }

  /** AS-OF join: for every left row, attach the values of the LATEST right row
    * with `ts_right <= ts_left` for the same key (point-in-time lookup; left
    * rows with no prior right row get nulls). Spark has no native ASOF
    * operator, so this composes built-ins — preference (a) of the custom-
    * operator ladder — into a TIME-SLICED two-pass plan that stays bounded on
    * power-law keys:
    *
    *  1. Tag and UNION the two sides, bucket every row into `sliceSec`-wide
    *     time slices, and run the carry-forward window over
    *     `(key, bucket)` — a hot key with 10^8 events splits across its time
    *     buckets instead of serializing into ONE window task (the classic
    *     skewed-key scale-killer of a plain `partitionBy(key)` window).
    *  2. Seed each bucket with the last right row of any EARLIER bucket: the
    *     per-(key, bucket) "last right row" boundary table is tiny (one row
    *     per key per occupied slice, independent of event count), so its
    *     per-key prefix scan is bounded by the time range / sliceSec, never by
    *     the row count. The seeds join back on (key, bucket) — the same
    *     hash partitioning the window uses, so the exchange is reused.
    *
    * The right row travels as ONE struct (`last` without per-column
    * ignoreNulls): when the latest right row carries a NULL in a value column,
    * the output preserves that NULL instead of resurrecting an older non-null
    * value, and all attached columns come from the same right row — matching
    * SQL/DuckDB ASOF semantics exactly.
    *
    * Ties are inclusive (a right row at exactly ts_left matches, like DuckDB's
    * `a.ts >= b.ts`: right rows sort before left rows at equal timestamps).
    * NULL handling matches SQL ASOF exactly: right rows with a NULL timestamp
    * or NULL key can never match and are dropped; left rows with a NULL
    * timestamp OR NULL KEY are kept with null values (LEFT semantics — a
    * NULL key equals nothing, so such rows bypass the join machinery
    * entirely instead of being grouped together the way a raw window
    * partition would).
    *
    * `right` must carry `key`, `tsCol`, and `valueCols`; the attached columns
    * are named `$prefix<valueCol>`. Multiple right rows at the same (key, ts)
    * are ambiguous by definition (same as SQL ASOF) — callers dedup first.
    * `sliceSec` trades the number of (key, bucket) groups against per-group
    * size; correctness is independent of its value.
    *
    * `toleranceSec` (optional) bounds the lookback (lookahead when forward):
    * a match further than toleranceSec from ts_left is DISCARDED (the row
    * keeps LEFT semantics with null values) — the staleness guard every
    * production point-in-time feature lookup needs (Polars/pandas
    * `tolerance`; second-truncated). Implemented as a post-filter on the
    * matched row's own timestamp (which rides inside the carried struct), so
    * the whole-row semantics are preserved: values are nulled together,
    * never mixed across rows.
    *
    * `forward = true` flips the direction: attach the EARLIEST right row with
    * `ts_right >= ts_left` (the next-event-after / attribution-window
    * lookup). Same plan — the time axis is mirrored (negated second buckets,
    * descending within-bucket order, min_by boundaries), so every scale
    * property carries over unchanged.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      valueCols: Seq[String],
      prefix: String = "asof_",
      sliceSec: Long = 21600L,
      toleranceSec: Option[Long] = None,
      forward: Boolean = false
  ): DataFrame = {
    require(valueCols.nonEmpty, "asofJoin needs at least one value column")
    require(sliceSec > 0, "sliceSec must be positive")
    require(!valueCols.contains("__rts"), "__rts is reserved for the tolerance carry field")
    toleranceSec.foreach(t => require(t >= 0, "toleranceSec must be nonnegative"))
    val leftCols = left.columns.toSeq
    // output-name collision guard: a chained second asof pass with the same
    // prefix would otherwise SILENTLY emit duplicate column names
    valueCols.foreach(c => require(!leftCols.contains(s"$prefix$c"),
      s"left already has a column named $prefix$c — pick a different prefix " +
        "(or rename) before chaining asof passes"))
    // ONLY with a tolerance bound, the matched row's own epoch-second
    // timestamp rides as the struct's first field so the post-filter can see
    // WHICH row was attached; without one, the struct (and the whole plan)
    // stays byte-identical to the tolerance-free shape — no 8-byte tax on the
    // shuffle/window hot path
    val carryTs = toleranceSec.isDefined
    val rvType = StructType(
      (if (carryTs)
        Seq(org.apache.spark.sql.types.StructField("__rts", org.apache.spark.sql.types.LongType))
      else Nil) ++ valueCols.map(c => right.schema(c)))
    // null ts rows park in a sentinel first bucket where no right row can
    // exist (null-ts right rows are dropped below); forward mode mirrors the
    // time axis by negating the epoch seconds
    def bucketOf(ts: Column) = {
      val sec = epochSec(left.schema(tsCol).dataType, ts)
      val dirSec = if (forward) -sec else sec
      coalesce(floor(dirSec / sliceSec), lit(Long.MinValue))
    }
    // NULL-key left rows match nothing (SQL equality) and would be DROPPED by
    // the inner seed join below — route them around the machinery with null
    // values attached
    val nullKeyLeft = left.where(col(key).isNull).select(
      leftCols.map(col) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"$prefix$c")): _*)
    val lAligned = left.where(col(key).isNotNull).select(
      leftCols.map(col) ++
        Seq(lit(null).cast(rvType).as("__rv"), lit(1).as("__side")): _*)
    val rAligned = right.where(col(tsCol).isNotNull && col(key).isNotNull).select(
      leftCols.map { c =>
        if (c == key) col(key)
        else if (c == tsCol) col(tsCol)
        else lit(null).cast(left.schema(c).dataType).as(c)
      } ++ Seq(
        struct((if (carryTs)
          Seq(epochSec(right.schema(tsCol).dataType, col(tsCol)).as("__rts"))
        else Nil) ++ valueCols.map(col): _*).as("__rv"),
        lit(0).as("__side")): _*)
    val unioned = lAligned.union(rAligned)
      .withColumn("__bucket", bucketOf(col(tsCol)))
    // boundary table: the DIRECTION-latest right struct per occupied
    // (key, bucket) — ONE row per group regardless of how many events the
    // bucket holds
    val lastPerBucket = rAligned
      .withColumn("__bucket", bucketOf(col(tsCol)))
      .groupBy(col(key), col("__bucket"))
      .agg((if (forward) min_by(col("__rv"), col(tsCol))
            else max_by(col("__rv"), col(tsCol))).as("__blast"))
    val allBuckets = unioned.select(col(key), col("__bucket")).distinct()
    // per-key prefix scan over BUCKETS (bounded by time-range/sliceSec, not by
    // row count): seed = last right row of any strictly earlier bucket
    val wSeed = Window.partitionBy(col(key)).orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val seeds = allBuckets
      .join(lastPerBucket, Seq(key, "__bucket"), "left")
      .select(col(key), col("__bucket"),
        last(col("__blast"), ignoreNulls = true).over(wSeed).as("__seed"))
    // within-bucket linear carry: right rows first at equal ts (inclusive
    // match); forward mode scans time descending
    val wB = Window.partitionBy(col(key), col("__bucket"))
      .orderBy(if (forward) col(tsCol).desc else col(tsCol).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rvMatched =
      coalesce(last(col("__rv"), ignoreNulls = true).over(wB), col("__seed"))
    val withCarry = unioned.join(seeds, Seq(key, "__bucket"))
      .withColumn("__rvc", rvMatched)
    // tolerance: discard matches further than toleranceSec from ts_left —
    // nulling the WHOLE struct (when() without otherwise), never mixing rows;
    // without a tolerance the plan gets no extra projection at all
    val bounded = toleranceSec match {
      case Some(tol) =>
        val sec = epochSec(left.schema(tsCol).dataType, col(tsCol))
        val inBound =
          if (forward) col("__rvc").getField("__rts") <= sec + tol
          else col("__rvc").getField("__rts") >= sec - tol
        withCarry.withColumn("__rvc", when(inBound, col("__rvc")))
      case None => withCarry
    }
    bounded
      .where(col("__side") === 1)
      .select(leftCols.map(col) ++
        valueCols.map(c => col("__rvc").getField(c).as(s"$prefix$c")): _*)
      .unionByName(nullKeyLeft)
  }

  /** NEAREST-direction AS-OF join (round 5 — completes the
    * backward/forward/nearest family Polars/pandas expose): attach the right
    * row whose timestamp is CLOSEST to each left row's, in either direction;
    * backward wins exact-distance ties (the conventional stale-before-future
    * preference). Composed from the two directional passes — each one the
    * time-sliced skew-proof plan — with the matched timestamps carried
    * through `valueCols` and compared per row at MICROSECOND precision — the
    * full resolution a Spark timestamp carries, so no truncation artifact can
    * flip the winner; backward wins exact-microsecond ties. `toleranceSec`
    * bounds the distance on both
    * sides (second-granular, like the directional passes). Scale shape:
    * exactly two asofJoin plans plus a narrow per-row projection, no
    * additional shuffle.
    */
  def asofNearest(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      valueCols: Seq[String],
      prefix: String = "asof_",
      sliceSec: Long = 21600L,
      toleranceSec: Option[Long] = None
  ): DataFrame = {
    require(!valueCols.contains(tsCol),
      s"valueCols must not include $tsCol (the matched timestamp is carried internally)")
    require(!left.columns.exists(c => c.startsWith("__b_") || c.startsWith("__f_")),
      "__b_*/__f_* are reserved working prefixes (chain through a rename first)")
    val leftCols = left.columns.toSeq
    valueCols.foreach(c => require(!leftCols.contains(s"$prefix$c"),
      s"left already has a column named $prefix$c — pick a different prefix " +
        "(or rename) before chaining asof passes"))
    val vcs = valueCols :+ tsCol
    val back = asofJoin(left, right, key, tsCol, vcs, prefix = "__b_",
      sliceSec = sliceSec, toleranceSec = toleranceSec)
    val both = asofJoin(back, right, key, tsCol, vcs, prefix = "__f_",
      sliceSec = sliceSec, toleranceSec = toleranceSec, forward = true)
    val sec = epochMicros(left.schema(tsCol).dataType, col(tsCol))
    val bSec = epochMicros(right.schema(tsCol).dataType, col(s"__b_$tsCol"))
    val fSec = epochMicros(right.schema(tsCol).dataType, col(s"__f_$tsCol"))
    // backward wins when it exists and (forward missing OR backward at least
    // as close); NULL arithmetic keeps missing sides out naturally
    val backWins = col(s"__b_$tsCol").isNotNull &&
      (col(s"__f_$tsCol").isNull || (sec - bSec) <= (fSec - sec))
    both.select(leftCols.map(col) ++ valueCols.map(c =>
      when(backWins, col(s"__b_$c")).otherwise(col(s"__f_$c")).as(s"$prefix$c")): _*)
  }

  /** Trailing-window (RANGE-frame) aggregates, time-sliced: for every row,
    * aggregate over the same key's rows with `ts` in `[ts - windowSec, ts]`
    * (inclusive both ends — exactly a SQL
    * `RANGE BETWEEN windowSec PRECEDING AND CURRENT ROW` frame, including all
    * peers at the current timestamp). The plain
    * `Window.partitionBy(key)` form is correct but serializes each key into
    * ONE task — a power-law key (10^8 events at 10^12-row scale) becomes the
    * job's straggler. This operator keeps the exact semantics with tasks
    * bounded by TIME, not by key row count:
    *
    *  1. Every row lands in its own `bucketSec`-wide time slice as an
    *     EMITTING copy, and in the following `ceil(windowSec/bucketSec)`
    *     slices as non-emitting CONTRIBUTOR copies — the only rows a later
    *     slice's trailing window can reach back to. At the default
    *     `bucketSec = windowSec` that is one contributor copy per row (2x
    *     amplification), and each (key, slice) task reads at most two
    *     window-widths of the key's timeline.
    *  2. The RANGE window runs over `(key, slice)`: each original row appears
    *     exactly once per slice group (emit copies cover the group's own
    *     slice, contributor copies cover the earlier ones — disjoint time
    *     ranges, so no double counting), and only emit copies survive to the
    *     output.
    *
    * No join, no boundary-seed pass: the alternative design — carrying
    * per-slice PARTIAL aggregates through a boundary table the way
    * [[asofJoin]] carries its last-right-row seeds — cannot be exact, because
    * a trailing window's lower edge cuts INSIDE the boundary slice (partials
    * only compose for fully-covered slices), so the boundary slice's rows must
    * travel anyway. Replicating them directly costs one union + one exchange
    * on (key, slice) and nothing else.
    *
    * `aggs` are raw aggregate expressions paired with output names (e.g.
    * `count(lit(1)) -> "n_1h"`, `sum(col("v")) -> "sum_1h"`); they are applied
    * `.over(...)` the frame, so post-aggregation casts belong in a caller-side
    * `select`, not inside the agg expression. Output = the input columns plus
    * the named aggregates, one row per input row.
    *
    * NULL semantics follow the SQL window the operator replaces: NULL keys
    * form their own partition (SQL window partitioning groups NULLs), and
    * NULL-timestamp rows — unplaceable on the time axis — park in a sentinel
    * slice where they are mutual peers, matching RANGE-frame NULL-peer
    * semantics. Shrinking `bucketSec` below `windowSec` raises amplification
    * as ceil(window/bucket)+1; the loud cap keeps a mis-sized call from
    * silently exploding the shuffle.
    */
  def rollingAgg(
      df: DataFrame,
      key: String,
      tsCol: String,
      aggs: Seq[(Column, String)],
      windowSec: Long,
      bucketSec: Long = 0L
  ): DataFrame = {
    require(aggs.nonEmpty, "rollingAgg needs at least one aggregate")
    require(windowSec >= 0, "windowSec must be nonnegative")
    val b = if (bucketSec <= 0) math.max(windowSec, 1L) else bucketSec
    val m = ((windowSec + b - 1) / b).toInt
    require(m + 1 <= 32,
      s"bucketSec=$b gives ${m + 1}x row amplification for windowSec=$windowSec; " +
        "raise bucketSec (default = windowSec, 2x)")
    val inCols = df.columns.toSeq
    require(!inCols.exists(Set("__rsec", "__rslice", "__remit")),
      "__rsec/__rslice/__remit are reserved working columns")
    require(aggs.map(_._2).distinct.size == aggs.size && !aggs.exists(a => inCols.contains(a._2)),
      "aggregate output names must be unique and not collide with input columns")
    val sec = epochSec(df.schema(tsCol).dataType, col(tsCol))
    val base = df.withColumn("__rsec", sec)
    val slice = floor(col("__rsec") / b)
    val emit = base
      .withColumn("__rslice", coalesce(slice, lit(Long.MinValue)))
      .withColumn("__remit", lit(1))
    // m == 0 (windowSec == 0: the frame is exactly the current-second peers,
    // all in the row's own slice) must generate NO contributor copies —
    // sequence(slice+1, slice+0) would otherwise produce a DESCENDING
    // 2-element sequence (Spark's default step is -1 when start > stop) and
    // double-count every row against its own copy
    val contrib = base
      .where(lit(m >= 1) && col("__rsec").isNotNull)
      .withColumn("__rslice", explode(sequence(slice + 1, slice + math.max(m, 1))))
      .withColumn("__remit", lit(0))
    val w = Window.partitionBy(col(key), col("__rslice"))
      .orderBy(col("__rsec"))
      .rangeBetween(-windowSec, 0)
    emit.unionByName(contrib)
      .select(inCols.map(col) :+ col("__remit") :+ col("__rslice") :+ col("__rsec"): _*)
      .select(inCols.map(col) ++ Seq(col("__remit")) ++
        aggs.map { case (a, name) => a.over(w).as(name) }: _*)
      .where(col("__remit") === 1)
      .drop("__remit")
  }

  /** RANGE (interval-containment) join: pair each event row with every interval
    * of the same key whose [startCol, endCol] contains the event's ts
    * (inclusive bounds). The naive conditional join degenerates to a per-key
    * nested loop in Spark; instead both sides are binned into `bucketSec`-wide
    * time buckets — an interval EXPLODES to every bucket it overlaps, the join
    * runs on (key, bucket) equi-keys, and the exact containment predicate
    * prunes after the hash join. An event lives in exactly one bucket, so each
    * (event, interval) pair joins at most once (no dedup pass). At 100TB this
    * is a shuffle-on-key hash join with bounded row amplification
    * ceil(len/bucket)+1 per interval; pick bucketSec near the typical interval
    * length to keep it ~2x.
    *
    * Poison-interval discipline: one hostile/corrupt interval (end in year
    * 3000) would otherwise explode to millions of bucket rows — or trip
    * Spark's array-length ceiling and FAIL THE JOB. Interval length is
    * therefore clamped at `maxIntervalSec`: matches more than
    * maxIntervalSec (rounded up to the next bucket boundary) past the
    * interval's start are dropped, and the truncation is OBSERVABLE, never
    * silent — `truncated_intervals` / `intervals` ride the pass as an
    * Observation (pass one in) or a named observe metric, mirroring the
    * capped-bucket near-dup operators. Degenerate intervals (null bounds or
    * end < start) match nothing by definition and are filtered before the
    * explode.
    *
    * Output: every matched pair, event columns + the interval's columns
    * (callers aggregate). Interval columns other than key/start/end must not
    * collide with event column names.
    */
  def rangeJoin(
      events: DataFrame,
      intervals: DataFrame,
      key: String,
      tsCol: String,
      startCol: String,
      endCol: String,
      bucketSec: Long = 3600L,
      maxIntervalSec: Long = 30L * 86400L,
      obs: Option[Observation] = None
  ): DataFrame = {
    require(bucketSec > 0, "bucketSec must be positive")
    require(maxIntervalSec > 0, "maxIntervalSec must be positive")
    val e = events.withColumn("__ebucket",
      floor(epochSec(events.schema(tsCol).dataType, col(tsCol)) / bucketSec))
    val startSec = epochSec(intervals.schema(startCol).dataType, col(startCol))
    val endSec = epochSec(intervals.schema(endCol).dataType, col(endCol))
    val clamped0 = intervals
      .where(col(startCol).isNotNull && col(endCol).isNotNull && endSec >= startSec)
      .withColumn("__trunc", endSec > startSec + maxIntervalSec)
      .withColumn("__cend", least(endSec, startSec + maxIntervalSec))
    val truncExprs = Seq(
      sum(when(col("__trunc"), 1L).otherwise(0L)).as("truncated_intervals"),
      count(lit(1)).as("intervals"))
    val clamped = observed(clamped0, obs, "graft.temporal.range", truncExprs)
    val i = clamped
      .withColumn("__ibucket", explode(sequence(
        floor(startSec / bucketSec), floor(col("__cend") / bucketSec))))
      .drop("__trunc", "__cend")
      .withColumnRenamed(key, "__ikey")
    e.join(i, col("__ebucket") === col("__ibucket") && col(key) === col("__ikey"))
      .where(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__ebucket", "__ibucket", "__ikey")
  }
}
