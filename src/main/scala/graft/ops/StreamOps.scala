package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import graft.Tables._

/** SURVEY §2.I — streaming-shaped queries (#51–#55) over the events
  * table.
  *
  * Structured Streaming's unified model means these transforms are
  * defined once and run identically over a batch DataFrame or a
  * `readStream` source; the driver-graded entries here execute in
  * batch mode (deterministic, oracle-checkable), and the same
  * transforms run under MemoryStream with watermarks/output modes in
  * the scalatest streaming suite (graft.streaming.StreamingSpec).
  *
  * Scale posture: tumbling/sliding/session windows group by (window,
  * key) — one keyed shuffle; session windows additionally merge state
  * per key. In true streaming these become incremental stateful
  * operators with watermark-bounded state, which is exactly how a
  * 100 TB/day event feed must be processed: state is bounded by
  * (keys × open windows), never by history.
  */
object StreamOps {

  /** #51 — tumbling 1-hour window × event_type: counts + exact sums. */
  def streamTumblingWindow(spark: SparkSession, sf: String): DataFrame =
    events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(money(col("value"))).cast("double").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
              col("n_events"), col("total_value"))
      .orderBy(col("hour_start"), col("event_type"))

  /** #52 — sliding window: 1 hour long, sliding every 30 minutes
    * (each event lands in exactly 2 windows). */
  def streamSlidingWindow(spark: SparkSession, sf: String): DataFrame =
    events(spark, sf)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
           sum(money(col("value"))).cast("double").as("total_value"))
      .select(col("window.start").as("w_start"), col("n_events"), col("total_value"))
      .orderBy(col("w_start"))

  /** #53 — session windows per user with a 30-minute inactivity gap
    * (a new session starts when the gap is >= 30 min; session end =
    * last event + gap, Spark's session_window semantics). */
  def streamSessionWindow(spark: SparkSession, sf: String): DataFrame =
    events(spark, sf)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
           sum(money(col("value"))).cast("double").as("total_value"))
      .select(col("user_id"),
              col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** #244 — windowed top-k (round 13; the "trending now" readout of
    * every streaming dashboard — per tumbling window, WHO dominated):
    * per 1-day window, the top-3 users by exact spend. Two-level
    * aggregate: (window, user) exact-DECIMAL pre-aggregate, then the
    * bounded-heap top-k per window (score DESC, id ASC ties —
    * identical to the oracle's row_number). Streaming form: the same
    * two-level aggregate under a watermark; StreamingSpec proves the
    * chunked MemoryStream replay equals this batch result. At 100 TB
    * the heap carries ≤ k rows per (window, partition) — the #38
    * argument per window. */
  def streamTopkWindowed(spark: SparkSession, sf: String): DataFrame = {
    import graft.streaming.EventStreams
    EventStreams.topkSpendFinish(EventStreams.windowUserSpend(events(spark, sf)))
      .orderBy(col("day_start"), col("rnk"))
  }

  /** #54 — streaming dropDuplicates semantics: keep the earliest event
    * per (user, type) key — in batch form, row_number over event time. */
  def streamDedupKeys(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events(spark, sf)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** #55 — the accumulation mapGroupsWithState would maintain: running
    * per-user event count at every event. */
  def streamStatefulCounts(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"),
              count(lit(1)).over(w).as("running_count"))
      .orderBy(col("event_id"))
  }

  /** #99 — watermark late-data semantics in graded batch form: which
    * events would a 5-minute watermark DROP? The corpus is perfectly
    * time-ordered per user, so arrival is modelled as event time plus
    * a deterministic 0–15-minute "network delay" (md5 nibble of the
    * event id — portable, reproducible on any engine). The watermark
    * high-water-mark is the max event time seen so far in arrival
    * order (per user — the key under which streaming state is
    * scoped); an event whose time trails it by more than the 5-minute
    * allowance is late. One keyed window pass, no global state — the
    * true incremental formulation runs under MemoryStream with
    * `withWatermark` in graft.streaming.StreamingSpec. */
  def streamWatermarkLate(spark: SparkSession, sf: String): DataFrame = {
    val tsMs = unix_millis(col("ts"))
    val delayMs = conv(substring(
        md5(concat(col("event_id").cast("string"), lit("#arr"))), 1, 1), 16, 10)
      .cast("long") * 60000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("arr_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"),
              tsMs.as("ts_ms"), (tsMs + delayMs).as("arr_ms"))
      .withColumn("hwm_ms", max(col("ts_ms")).over(w))
      .where(col("hwm_ms") - col("ts_ms") > 300000L)
      .select(col("event_id"), col("user_id"), col("ts"),
              (col("hwm_ms") - col("ts_ms")).as("late_ms"))
      .orderBy(col("event_id"))
  }

  /** #155 — stream-stream interval join in graded batch form: every
    * purchase joined to the SAME user's clicks in the trailing hour
    * [p−1h, p), aggregated to a per-purchase click count and exact
    * click-value sum — the enrichment join a streaming pipeline runs
    * with symmetric state on both sides. In true streaming this is
    * the watermarked stream-stream join (state bounded by the 1-hour
    * interval + watermark on both inputs — covered under MemoryStream
    * in graft.ScaleShapeSpec's signupClickJoin test); the batch form is a user
    * equi-join with a time residual, candidate pairs bounded per
    * user, aggregated by a partial-able count/sum — contrast #144
    * which keeps only the argmax click. Purchases with no clicks in
    * range survive with zero counts (left join). */
  def streamJoinInterval(spark: SparkSession, sf: String): DataFrame = {
    val ev = events(spark, sf)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
              unix_micros(col("ts")).as("p_us"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_micros(col("ts")).as("c_us"),
              money(col("value")).as("c_value"))
    p.join(c, col("p_user") === col("c_user") &&
           col("c_us") >= col("p_us") - lit(3600000000L) &&
           col("c_us") < col("p_us"), "left")
      .groupBy(col("purchase_id"))
      .agg(count(col("c_us")).as("n_clicks_1h"),
           coalesce(sum(col("c_value")), lit(0).cast("decimal(18,2)"))
             .cast("double").as("click_value_1h"))
      .orderBy(col("purchase_id"))
  }

  /** #255 — stream–static dimension enrichment (round 14; the
    * streaming join shape Structured Streaming supports with NO extra
    * state: joining a stream against a STATIC (or slowly-refreshed)
    * dimension broadcasts the dim into every micro-batch — no
    * watermark, no state store, unlike the stream-stream interval
    * join #155. It is how every event pipeline attaches user/region/
    * catalog attributes before aggregation): events keyed into the
    * nation dimension by `user_id mod 25` (the deterministic
    * region-assignment convention), then per-nation event counts and
    * exact-decimal purchase revenue. Batch form graded here; the
    * streaming twin (MemoryStream → broadcast static join →
    * aggregate) is proven result-identical by chunked replay in
    * StreamingSpec. At 100 TB the dim is metadata-scale by
    * definition — the broadcast is the plan you want on a cluster
    * too. */
  def streamStaticEnrich(spark: SparkSession, sf: String): DataFrame = {
    val dim = nation(spark, sf)
      .select(col("n_nationkey"), col("n_name"))
    events(spark, sf)
      .withColumn("nk", pmod(col("user_id"), lit(25)).cast("int"))
      .join(broadcast(dim), col("nk") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", money(col("value")))
          .otherwise(lit(0).cast("decimal(18,2)")))
          .cast("double").as("purchase_value"))
      .orderBy(col("n_name"))
  }

  /** #287 — streaming CDC upsert view (round 16; the materialized
    * last-state-per-key table every CDC consumer maintains — the
    * STREAMING sibling of #68's batch last-wins upsert, with delete
    * semantics: a key whose latest op is a delete leaves the view):
    * the event log is read as a change stream keyed by user; the view
    * holds each user's latest event (by the exact (ts, event_id)
    * order), its op count, and DROPS users whose last event is the
    * 'error' type (the delete op of this log). Graded batch form =
    * one per-user ordered window (the state fold's fixpoint); the
    * true incremental formulation — mapGroupsWithState holding
    * (last_ts, last_id, last_type, cents, n) per user — is proven
    * equal to this fixpoint by chunked MemoryStream replay in
    * StreamingSpec (the #165/#244 pattern). At 100 TB the state store
    * is keyed by user (bounded by live keys, not log length) and the
    * batch window partitions on the same high-cardinality key. */
  def streamCdcUpsert(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val wAll = Window.partitionBy(col("user_id"))
    events(spark, sf)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(wAll))
      .where(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("event_type").as("last_type"),
        money(col("value")).cast("double").as("last_value"),
        col("ts").as("last_ts"), col("n_ops"))
      .orderBy(col("user_id"))
  }

  /** One micro-batch of the streaming→lakehouse upsert sink (#296) —
    * shared VERBATIM by the graded chunked replay and the true
    * `foreachBatch` streaming query in StreamingSpec, so the two
    * surfaces cannot drift. Semantics: the batch's last event per
    * user (exact (ts, event_id) order) upserts into the snapshot
    * table; the delete event type writes a TOMBSTONE row (soft
    * delete), never a physical delete, so the stored (ts, event_id)
    * watermark survives and a LATE-arriving older event can never
    * resurrect a deleted key — the sink is order-insensitive across
    * micro-batches (the ADVICE-r16 CDC lesson applied at the sink).
    * The newer-than guard reads ONLY the batch's touched buckets
    * ([[graft.api.SnapshotTable.asOfBuckets]] prunes from the
    * manifest), so per-batch cost is O(changed buckets) for both the
    * guard read and the MERGE rewrite — at 100 TB the table never
    * gets scanned per batch. An all-stale batch publishes nothing. */
  def snapshotSinkApply(spark: SparkSession, base: String,
                        batch: DataFrame, numBuckets: Int): Unit = {
    import graft.api.SnapshotTable
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    // batch-key-bounded; persist so the bucket probe, the guard join
    // and (first batch) the emptiness probe + create share ONE window
    // pass over the batch instead of recomputing it per consumer
    val last = batch
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("last_type"),
        money(col("value")).as("last_value"), col("ts").as("last_ts"),
        col("event_id").as("last_id"),
        (col("event_type") === "error").as("deleted"))
      .persist()
    try {
    val v = SnapshotTable.latestVersion(spark, base)
    if (v < 0) {
      if (!last.isEmpty)
        SnapshotTable.create(spark, base, last, "user_id", numBuckets)
    } else {
      val touched = SnapshotTable.probeBuckets(spark, base, v, last,
        "user_id", numBuckets)
      val cur = SnapshotTable.asOfBuckets(spark, base, v, touched)
        .select(col("user_id"), col("last_ts").as("_cts"),
          col("last_id").as("_cid"))
      // the survivor set is batch-key-bounded (small); cache it so
      // the emptiness probe and the MERGE share one guard-join pass
      val fresh = last.join(cur, Seq("user_id"), "left")
        .where(col("_cts").isNull || col("last_ts") > col("_cts") ||
          (col("last_ts") === col("_cts") && col("last_id") > col("_cid")))
        .drop("_cts", "_cid")
        .persist()
      try {
        if (!fresh.isEmpty) {
          SnapshotTable.mergeInto(spark, base,
            fresh.withColumn("op", lit("U")), "user_id", numBuckets)
          ()
        }
      } finally { fresh.unpersist(); () }
    }
    } finally { last.unpersist(); () }
  }

  /** #296 — streaming upsert sink into the snapshot table (round 17;
    * the streaming→lakehouse bridge every production pipeline runs —
    * Delta's `foreachBatch` + MERGE pattern: the event stream
    * maintains a last-state-per-user TABLE, not a memory view, so
    * consumers get time travel, CDC diff and snapshot isolation over
    * the stream's result): the graded form replays the event log in
    * three chronological time slices through [[snapshotSinkApply]] —
    * the exact function the true `foreachBatch` query runs per
    * micro-batch (StreamingSpec proves the streaming form equal under
    * OUT-OF-ORDER residue-class delivery, the #287 shuffled-replay
    * bar). Graded output = the final table's live view (tombstones
    * filtered); oracle = last state per user off events. Scale: state
    * lives in the TABLE (bounded by live keys); per batch the sink
    * pays the guard read + MERGE of touched buckets only. */
  def streamSnapshotSink(spark: SparkSession, sf: String): DataFrame = {
    val base = graft.Tables.scratch("graft_streamsink")
    val ev = events(spark, sf).select(col("user_id"), col("event_type"),
      col("value"), col("ts"), col("event_id"))
    val mm = ev.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).collect()(0)
    require(!mm.isNullAt(0), "empty event log — nothing to sink")
    val lo = mm.getLong(0)
    // three chronological slices (round 19 — VERDICT r18 gate-budget
    // item: this was the slowest sweep row at 33 jobs; 4 slices →
    // 3 drops ~8 jobs/run). The graded output is the sink's LAST-STATE
    // FIXPOINT, which is slicing-invariant by the sink's own
    // order-insensitivity contract (StreamingSpec proves equality
    // under out-of-order residue-class delivery, a far harsher
    // schedule) — so the result and its oracle are bit-identical; the
    // multi-batch arm (create, then MERGEs) still runs twice over.
    val width = math.max(1L, (mm.getLong(1) - lo) / 3 + 1)
    (0 until 3).foreach { i =>
      snapshotSinkApply(spark, base,
        ev.where(unix_micros(col("ts")) >= lo + i * width &&
                 unix_micros(col("ts")) < lo + (i + 1) * width),
        numBuckets = 8)
    }
    val vFinal = graft.api.SnapshotTable.latestVersion(spark, base)
    // >= 0: a single-instant log lands wholly in slice 0 (create
    // only); the graded corpus spans days, so merges always follow
    require(vFinal >= 0, s"sink never committed a version: $vFinal")
    graft.api.SnapshotTable.asOf(spark, base, vFinal)
      .where(!col("deleted"))
      .select(col("user_id"), col("last_type"),
        col("last_value").cast("double").as("last_value"), col("last_ts"))
      .orderBy(col("user_id"))
  }

  /** #305 — CHANGE DATA FEED, graded end-to-end (round 18; Delta CDF
    * — `delta.enableChangeDataFeed` + `readStream.readChangeFeed` —
    * the consumer half of the lakehouse streaming loop: #296 streams
    * INTO the table, this streams OUT): the WRITER materializes each
    * commit's change set as cdc parquet files referenced by that
    * commit's own manifest (atomic — a lost commit race leaves only
    * vacuumable orphans), so followers scan O(delta) files and never
    * re-diff two table versions; offsets for the true streaming form
    * ([[graft.streaming.SnapshotCdcSource]], format "snapshot-cdc")
    * are TABLE VERSIONS. Fixture: create → un-fed merge →
    * enableChangeFeed → fed MERGE (price+7 for the %13 cohort) → fed
    * DELETE WHERE (price ≤ 10000 — 'D' rows carry the deleted
    * pre-image). Inline proofs: (a) a range crossing a pre-enable
    * version refuses loudly (its delta was never materialized);
    * (b) the enabling metadata commit contributes zero rows;
    * (c) REPLAY — folding the feed version-by-version onto
    * asOf(enable) reproduces asOf(head) exactly (one-pass
    * multiset equality): the feed IS the table's derivative. Graded output = the
    * feed aggregated per (commit_version, op), both derivable from
    * orders. Scale: a 100 TB table with GB-scale churn streams its
    * churn, not its size; per-version file lists are manifest
    * metadata. */
  def streamSnapshotChangeFeed(spark: SparkSession, sf: String): DataFrame = {
    import graft.api.SnapshotTable
    // v0 + v1 (the standard upd/del/ins merge) — BEFORE the feed is
    // on: the shared snapshot-orders fixture, 16 buckets
    val base = EtlOps.buildSnapshotOrders(spark, sf)
    val vOn = SnapshotTable.enableChangeFeed(spark, base)
    require(vOn == 2, s"enable must commit latest+1, got $vOn")
    // (a) v1's delta was never materialized — crossing it must refuse
    val preEnableLoud =
      try { SnapshotTable.changeFeed(spark, base, 0, vOn); false }
      catch { case _: IllegalStateException => true }
    require(preEnableLoud,
      "a feed range crossing a pre-enable version must refuse loudly")
    // (b) the enabling commit itself is an empty delta
    require(SnapshotTable.changeFeed(spark, base, vOn - 1, vOn)
      .count() == 0, "a metadata commit must contribute zero feed rows")
    // v3: fed MERGE; v4: fed DELETE WHERE (the 'D' pre-image path)
    val bump = EtlOps.upserts(SnapshotTable.asOf(spark, base, vOn),
      col("o_orderkey") % 13 === 0, (col("o_price") + lit(7)).cast(DEC2))
    val v3 = SnapshotTable.mergeInto(spark, base, bump, "o_orderkey",
      numBuckets = 16)
    val (v4, _, _) = SnapshotTable.deleteRange(spark, base, "o_orderkey",
      "o_price", java.math.BigDecimal.ZERO,
      java.math.BigDecimal.valueOf(10000), numBuckets = 16)
    require(v3 == 3 && v4 == 4, s"unexpected versions $v3/$v4")
    // (c) replay: fold the feed onto asOf(enable) — must equal head
    def fold(state: DataFrame, delta: DataFrame): DataFrame = {
      val keys = delta.select(col("o_orderkey")).distinct()
      state.join(keys, Seq("o_orderkey"), "left_anti")
        .unionByName(delta.where(col("op") === "U")
          .select(state.columns.map(col).toIndexedSeq: _*))
    }
    val replay = (vOn + 1 to v4).foldLeft(
      SnapshotTable.asOf(spark, base, vOn)) { (st, v) =>
      fold(st, SnapshotTable.changeFeed(spark, base, v - 1, v))
    }
    val head = SnapshotTable.asOf(spark, base, v4)
    require(graft.api.Transforms.multisetEqual(replay, head),
      "folding the change feed must reproduce the table head exactly")
    SnapshotTable.changeFeed(spark, base, vOn, v4)
      .groupBy(col("_commit_version").as("commit_version"), col("op"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("commit_version"), col("op"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "stream_tumbling_window" -> (streamTumblingWindow _),
    "stream_sliding_window"  -> (streamSlidingWindow _),
    "stream_session_window"  -> (streamSessionWindow _),
    "stream_dedup_keys"      -> (streamDedupKeys _),
    "stream_stateful_counts" -> (streamStatefulCounts _),
    "stream_watermark_late"  -> (streamWatermarkLate _),
    "stream_join_interval"   -> (streamJoinInterval _),
    "stream_topk_windowed"   -> (streamTopkWindowed _),
    "stream_static_enrich"   -> (streamStaticEnrich _),
    "stream_cdc_upsert"      -> (streamCdcUpsert _),
    "stream_snapshot_sink"   -> (streamSnapshotSink _),
    "stream_snapshot_change_feed" -> (streamSnapshotChangeFeed _),
  )

  val oracle: Map[String, String] = ListMap(
    "stream_snapshot_change_feed" ->
      (EtlOps.snapshotOrdersSql + """,
        |v3 AS (
        |  SELECT k, st,
        |    CASE WHEN k % 13 = 0 THEN CAST(price + 7 AS DECIMAL(18,2))
        |         ELSE price END AS price
        |  FROM v1)
        |SELECT 3 AS commit_version, 'U' AS op, count(*) AS n_rows,
        |  CAST(sum(k) AS BIGINT) AS key_sum
        |FROM v1 WHERE k % 13 = 0
        |UNION ALL
        |SELECT 4, 'D', count(*), CAST(sum(k) AS BIGINT)
        |FROM v3 WHERE price BETWEEN 0 AND 10000
        |ORDER BY commit_version""".stripMargin),
    "stream_snapshot_sink" ->
      """WITH r AS (
        |  SELECT user_id, event_type, value, ts,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type AS last_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS last_value,
        |  CAST(ts AS TIMESTAMP) AS last_ts
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "stream_cdc_upsert" ->
      """WITH r AS (
        |  SELECT user_id, event_type, value, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_ops
        |  FROM events)
        |SELECT user_id, event_type AS last_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS last_value,
        |  CAST(ts AS TIMESTAMP) AS last_ts, CAST(n_ops AS BIGINT) AS n_ops
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "stream_static_enrich" ->
      """SELECT n.n_name, count(*) AS n_events,
        |  CAST(sum(CASE WHEN e.event_type = 'purchase'
        |    THEN CAST(e.value AS DECIMAL(18,2))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_value
        |FROM events e
        |JOIN nation n ON n.n_nationkey = CAST(e.user_id % 25 AS INT)
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
    "stream_topk_windowed" ->
      """WITH pu AS (
        |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day_start,
        |    user_id,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY day_start
        |    ORDER BY spend DESC, user_id) AS rnk
        |  FROM pu)
        |SELECT day_start, CAST(rnk AS INT) AS rnk, user_id, spend
        |FROM r WHERE rnk <= 3 ORDER BY day_start, rnk""".stripMargin,
    "stream_tumbling_window" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY hour_start, event_type
        |ORDER BY hour_start, event_type""".stripMargin,
    "stream_sliding_window" ->
      """WITH e AS (
        |  SELECT time_bucket(INTERVAL 30 MINUTES, CAST(ts AS TIMESTAMP)) AS b,
        |         value
        |  FROM events),
        |x AS (
        |  SELECT unnest([b, b - INTERVAL 30 MINUTES]) AS w_start, value FROM e)
        |SELECT w_start, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM x GROUP BY w_start ORDER BY w_start""".stripMargin,
    "stream_session_window" ->
      """WITH x AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              IS NULL THEN 1
        |         WHEN epoch_us(CAST(ts AS TIMESTAMP))
        |              - epoch_us(CAST(lag(ts) OVER (PARTITION BY user_id
        |                ORDER BY ts, event_id) AS TIMESTAMP)) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |y AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM x)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTES AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM y GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_dedup_keys" ->
      """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts
        |FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "stream_stateful_counts" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_count
        |FROM events ORDER BY event_id""".stripMargin,
    "stream_watermark_late" ->
      """WITH a AS (
        |  SELECT event_id, user_id, ts,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
        |    epoch_ms(CAST(ts AS TIMESTAMP))
        |      + (strpos('0123456789abcdef',
        |           substr(md5(CAST(event_id AS VARCHAR) || '#arr'), 1, 1)) - 1)
        |        * 60000 AS arr_ms
        |  FROM events),
        |h AS (
        |  SELECT event_id, user_id, ts, ts_ms,
        |    max(ts_ms) OVER (PARTITION BY user_id ORDER BY arr_ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm_ms
        |  FROM a)
        |SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  hwm_ms - ts_ms AS late_ms
        |FROM h WHERE hwm_ms - ts_ms > 300000
        |ORDER BY event_id""".stripMargin,
    "stream_join_interval" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_us,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, count(c.c_us) AS n_clicks_1h,
        |  CAST(coalesce(sum(c.v), 0) AS DOUBLE) AS click_value_1h
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |  AND c.c_us >= p.p_us - 3600000000 AND c.c_us < p.p_us
        |GROUP BY p.purchase_id ORDER BY p.purchase_id""".stripMargin,
  )
}
