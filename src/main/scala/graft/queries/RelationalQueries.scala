package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Temporal
import graft.pipeline._
import Query._

/** Relational plane: scan/filter/agg/join/window/sort/limit, as-of and range
  * joins, and the batch extraction metrics.
  */
object RelationalQueries {

  val all: Seq[Query] = Seq(
    Query("q1_pricing_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,2)")
            .cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("decimal(18,2)")
            .cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(28,4)")).cast("decimal(28,4)").cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }, _ =>
      "SELECT l_returnflag, l_linestatus, CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty, CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price, CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DECIMAL(28,4)) AS DOUBLE) AS sum_disc_price, count(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    // r9: lineitem pre-aggregates to per-order revenue BEFORE any join (guide
    // §2.3 "aggregate before you shuffle") — the fact table collapses 4x in
    // its own map-side-combined groupBy, the countDistinct(o_orderkey) (whose
    // Expand-based plan shuffled the joined fact table twice) becomes a plain
    // count of pre-aggregated rows, and only order-grain rows reach the
    // joins. DECIMAL addition is exact, so regrouping the sum cannot change a
    // single bit of the revenue; same inner-join semantics throughout (the
    // twin is unchanged and stays hash-green).
    Query("q_join_revenue", (s, dir) => {
      val orders = t(s, dir, "orders")
      val lineitem = t(s, dir, "lineitem")
      val customer = t(s, dir, "customer")
      val perOrder = lineitem.groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(28,4)")).as("o_rev"))
      perOrder.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"))
        .agg(
          sum(col("o_rev")).cast("decimal(28,4)").cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }, _ =>
      "SELECT c_custkey, CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DECIMAL(28,4)) AS DOUBLE) AS revenue, count(DISTINCT o_orderkey) AS n_orders FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey GROUP BY c_custkey ORDER BY revenue DESC, c_custkey LIMIT 20"),
    Query("q_window_top_orders", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 2)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
    }, _ =>
      "SELECT o_custkey, rk, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders) WHERE rk <= 2 ORDER BY o_custkey, rk"),
    Query("q_events_sessionize", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_s")).as("n_sessions"), count(lit(1)).as("n_events"))
    }, _ =>
      "WITH g AS (SELECT user_id, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800 THEN 1 ELSE 0 END AS new_s FROM events) SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events FROM g GROUP BY user_id ORDER BY user_id"),
    // AS-OF join (point-in-time lookup): every event picks up the value of the
    // user's LATEST purchase at or before its own timestamp; DuckDB's native
    // ASOF LEFT JOIN is the oracle.
    Query("q_asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.Temporal.asofJoin(ev, purchases, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("asof_value"))
    }, _ =>
      ("SELECT a.event_id, b.value AS asof_value FROM events a " +
        "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') b " +
        "ON a.user_id = b.user_id AND a.ts >= b.ts ORDER BY a.event_id")),
    // AS-OF with a staleness bound: like q_asof_join but matches older than 2
    // hours are discarded whole-row (the production feature-lookup guard);
    // DuckDB's ASOF join + a second-truncated CASE is the oracle.
    // the tolerance compare is SECOND-truncated on the Spark side (epoch
    // seconds ride in the carried struct), so the oracle truncates identically
    // via epoch_ms // 1000
    Query("q_asof_tolerance", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.Temporal.asofJoin(ev, purchases, "user_id", "ts", Seq("value"),
        toleranceSec = Some(7200L))
        .select(col("event_id"), col("asof_value"))
    }, _ =>
      ("SELECT a.event_id, CASE WHEN epoch_ms(b.ts) // 1000 >= epoch_ms(a.ts) // 1000 - 7200 " +
        "THEN b.value END AS asof_value FROM events a " +
        "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') b " +
        "ON a.user_id = b.user_id AND a.ts >= b.ts ORDER BY a.event_id")),
    // FORWARD as-of: every event picks up the user's NEXT purchase at/after
    // its timestamp (the attribution / conversion-window lookup); DuckDB's
    // ASOF join with the inequality flipped is the oracle.
    Query("q_asof_forward", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.Temporal.asofJoin(ev, purchases, "user_id", "ts", Seq("value"),
        forward = true)
        .select(col("event_id"), col("asof_value"))
    }, _ =>
      ("SELECT a.event_id, b.value AS asof_value FROM events a " +
        "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') b " +
        "ON a.user_id = b.user_id AND a.ts <= b.ts ORDER BY a.event_id")),
    // NEAREST as-of (round 5): the closest purchase in EITHER direction,
    // backward winning second-truncated ties — completes the
    // backward/forward/nearest family; oracle composes DuckDB's two
    // directional ASOF joins with the same tie rule.
    // nearest twin: the two directional ASOF joins composed with the engine's
    // tie rule — backward wins when it exists and its MICROSECOND distance
    // (epoch_us, mirroring unix_micros) is <= forward's. NOTE: the JOIN
    // USING (event_id) recomposition assumes event_id is the events table's
    // unique key (the generator's contract; every driver table keys its id)
    Query("q_asof_nearest", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.Temporal.asofNearest(ev, purchases, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("asof_value"))
    }, _ =>
      ("WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
        "bk AS (SELECT a.event_id, a.ts, b.ts AS bts, b.value AS bval FROM events a " +
        "ASOF LEFT JOIN p b ON a.user_id = b.user_id AND a.ts >= b.ts), " +
        "fw AS (SELECT a.event_id, f.ts AS fts, f.value AS fval FROM events a " +
        "ASOF LEFT JOIN p f ON a.user_id = f.user_id AND a.ts <= f.ts) " +
        "SELECT bk.event_id, CASE WHEN bts IS NOT NULL AND (fts IS NULL OR " +
        "(epoch_us(bk.ts) - epoch_us(bts)) <= (epoch_us(fts) - epoch_us(bk.ts))) " +
        "THEN bval ELSE fval END AS asof_value " +
        "FROM bk JOIN fw USING (event_id) ORDER BY bk.event_id")),
    // RANGE join: events falling inside [purchase, purchase + 30min] windows of
    // the same user, counted per purchase. Bucketed equi-join under the hood
    // (no per-key nested loop); plain inclusive BETWEEN join is the oracle.
    Query("q_range_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val intervals = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("win_end"))
      graft.operators.Temporal.rangeJoin(ev, intervals, "user_id", "ts",
        "win_start", "win_end", bucketSec = 1800L)
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_events_in_window"))
    }, _ =>
      ("SELECT p.event_id AS purchase_id, count(*) AS n_events_in_window " +
        "FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p " +
        "JOIN events e ON e.user_id = p.user_id " +
        "AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 30 MINUTE " +
        "GROUP BY p.event_id ORDER BY purchase_id")),
    // Cross-tab via pivot with EXPLICIT values (no values-discovery scan —
    // the scale-correct form): per user, event counts by type; missing
    // combinations fill 0 like the oracle's FILTER counts.
    Query("q_pivot", (s, dir) => {
      t(s, dir, "events").groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("click", "view", "purchase"))
    }, _ =>
      ("SELECT user_id, count(*) FILTER (WHERE event_type = 'click') AS click, " +
        "count(*) FILTER (WHERE event_type = 'view') AS view, " +
        "count(*) FILTER (WHERE event_type = 'purchase') AS purchase " +
        "FROM events GROUP BY user_id ORDER BY user_id")),
    // Trailing-window feature engineering (RANGE frame, not ROWS): per event,
    // the count and exact DECIMAL sum of the same user's events in the
    // preceding hour — the rolling-aggregate shape behind rate limits,
    // engagement features, and fraud scores. RANGE frames include ALL peer
    // rows at equal order values, which both engines define identically.
    // Round 5: re-expressed through Temporal.rollingAgg — the time-sliced
    // trailing-window operator — so one power-law user no longer serializes
    // into a single window task (the plain partitionBy(user_id) window was the
    // engine's last per-key serialization point).
    // RANGE frame over epoch seconds (epoch_ms // 1000 == unix_timestamp's
    // floor); DECIMAL sums are order-independent, so the window is hash-exact
    Query("q_rolling_features", (s, dir) => {
      Temporal.rollingAgg(t(s, dir, "events"), "user_id", "ts",
          Seq((count(lit(1)), "n_events_1h"),
            (sum(col("value").cast("decimal(18,4)")), "sum_raw")),
          windowSec = 3600L)
        .select(col("event_id"), col("user_id"), col("n_events_1h"),
          col("sum_raw").cast("decimal(28,4)").cast("double").as("sum_value_1h"))
    }, _ =>
      ("SELECT event_id, user_id, count(*) OVER w AS n_events_1h, " +
        "CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DECIMAL(28,4)) AS DOUBLE) AS sum_value_1h " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts) // 1000 " +
        "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) ORDER BY event_id")),
    // Grouped TOP-K via the custom bounded Catalyst aggregate (round 5):
    // per user, the 3 highest-value events — the "best N per key" shape that
    // a row_number window serializes per key and a collect_list agg OOMs on;
    // TopKPairs keeps k pairs of state per group at every stage (map-side
    // partials merge like a sum). Deterministic ties: value DESC, event_id
    // ASC — the oracle's row_number twin orders identically.
    Query("q_topk_per_key", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(graft.functions.TopK.topK(col("value"), col("event_id"), 3).as("top"))
        .select(col("user_id"), posexplode(col("top")))
        .select(col("user_id"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("event_id"), col("col.score").as("value"))
    }, _ =>
      ("SELECT user_id, CAST(rk AS INT) AS rank, event_id, CAST(value AS DOUBLE) AS value FROM " +
        "(SELECT user_id, event_id, value, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY CAST(value AS DOUBLE) DESC, event_id) AS rk " +
        "FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL) " +
        "WHERE rk <= 3 ORDER BY user_id, rank")),
    Query("q_sort_topk", (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").cast("decimal(18,2)").as("price"))
        .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(25)
        .withColumn("price", col("price").cast("double"))
    }, _ =>
      "SELECT l_orderkey, l_linenumber, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price FROM lineitem ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)) DESC, l_orderkey, l_linenumber LIMIT 25"),
    // P7 extraction-rate metrics, value-checked: extract the documents table
    // as plain turns and total rows, errors and chars in one aggregate (the
    // totals of the per-shard rows and bytes runWithManifests counts in its
    // extraction map); the oracle recomputes them relationally.
    Query("q_extract_metrics", (s, dir) => {
      import s.implicits._
      val turns = t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, text) => Turn(id.toString, 0, "user", text, "plain",
          new java.sql.Timestamp(0L)) }
      ExtractJob.extract(turns, partitions = 8)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("error").isNotNull.cast("long")), lit(0L)).as("n_errors"),
          coalesce(sum(length(col("extracted_text"))), lit(0L)).as("n_chars"))
    }, _ =>
      "SELECT count(*) AS n_rows, CAST(0 AS BIGINT) AS n_errors, CAST(sum(length(text)) AS BIGINT) AS n_chars FROM documents")
  )
}
