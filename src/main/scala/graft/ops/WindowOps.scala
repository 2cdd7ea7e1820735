package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import graft.Tables._

/** SURVEY §2.E — window functions (#31–#36).
  *
  * Scale posture: every window partitions by a high-cardinality key
  * (customer / user / segment), so the single exchange hash-partitions
  * by that key and each partition sorts locally — no global sort, no
  * skew (150+ users, 1500+ customers spread over partitions). Frames
  * are ROWS/RANGE over per-key data, evaluated streaming within the
  * sorted partition.
  *
  * Determinism: rank/dense_rank order by a tie-prone bucket (that is
  * the point of rank vs row_number); row_number always adds a unique
  * tie-break key. Millisecond epoch arithmetic (exact BIGINT in both
  * engines) instead of fractional-second epochs.
  */
object WindowOps {

  /** #31 — rank / dense_rank / row_number per market segment over a
    * tie-prone acctbal bucket (1000-wide bands). */
  def winRankDenseRownum(spark: SparkSession, sf: String): DataFrame = {
    val bucket = floor(col("c_acctbal") / 1000).cast("long")
    val tieProne = Window.partitionBy(col("c_mktsegment")).orderBy(bucket.desc)
    val unique = Window.partitionBy(col("c_mktsegment")).orderBy(bucket.desc, col("c_custkey"))
    customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"), bucket.as("bal_bucket"),
        rank().over(tieProne).cast("long").as("rnk"),
        dense_rank().over(tieProne).cast("long").as("drnk"),
        row_number().over(unique).cast("long").as("rn"))
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  /** #32 — top-3 orders per customer (row_number + filter; the
    * per-group top-k shape that replaces a global sort at scale). */
  def winTopkPerGroup(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
              row_number().over(w).cast("long").as("rn"))
      .where(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** #33 — running revenue per customer (ROWS unbounded-preceding
    * frame over exact decimal sums → every prefix is exact). */
  def winRunningSum(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
              sum(money(col("o_totalprice"))).over(w).cast("double").as("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** #34 — lag/lead per user over the event stream: inter-event gap
    * in exact milliseconds + next event type (reference heritage:
    * successive-reading deltas). */
  def winLagLead(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        (unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w)).as("gap_ms"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .orderBy(col("event_id"))
  }

  /** #35 — RANGE frame: 10-minute trailing sum of value per user,
    * ordered by exact epoch-millis. */
  def winRangeFrame(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(unix_millis(col("ts")))
      .rangeBetween(-600000L, 0L)
    events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"),
              sum(money(col("value"))).over(w).cast("double").as("trailing_10m"))
      .orderBy(col("event_id"))
  }

  /** #36 — ntile quartiles of order totals (unique ordering so the
    * bucket assignment is deterministic). NOT `ntile(4) OVER (ORDER
    * BY …)` — a partition-less window funnels every row through one
    * sorting task. [[graft.api.Transforms.ntileByRange]] computes the
    * SQL-identical bucket assignment from a distributed global rank:
    * an approx-percentile sketch of the price (1-row broadcast)
    * yields 32 DATA-ADAPTIVE coarse buckets — bucket count and
    * per-bucket share stay constant at any scale, unlike a fixed
    * 20k price width whose per-bucket rows grow linearly with data —
    * rows shuffle once by bucket, per-bucket counts prefix-sum at
    * metadata scale, and the exact NTILE formula runs on rank + the
    * total N riding the same bucket-counts broadcast (no scalar-count
    * join; PlanShapeSpec pins the shape). Property-tested equal to
    * SQL NTILE on skewed/uniform/constant distributions. */
  def winNtile(spark: SparkSession, sf: String): DataFrame = {
    val o = orders(spark, sf).select(col("o_orderkey"), col("o_totalprice"))
    graft.api.Transforms.ntileBySketch(o,
        money(col("o_totalprice")),
        struct(col("o_totalprice"), col("o_orderkey")),
        n = 4, coarseBuckets = 32)
      .select(col("o_orderkey"), col("o_totalprice"),
              col("ntile").cast("long").as("quartile"))
      .orderBy(col("o_orderkey"))
  }

  /** #82 — analytic completions: first/last/nth value over an
    * explicit full frame, percent_rank, cume_dist (exact rational
    * doubles — deterministic without rounding under a unique
    * ordering). */
  def winAnalyticExtras(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        first(col("c_custkey")).over(w).as("poorest_key"),
        last(col("c_custkey")).over(wFull).as("richest_key"),
        nth_value(col("c_custkey"), 3).over(wFull).as("third_key"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
  }

  /** #119 — gaps-and-islands: maximal runs of CONSECUTIVE days with
    * activity per user (R: the reference's contiguous-coverage
    * detection — which spans of a meter's history have readings
    * every day [RECONSTRUCTED, §1.1 interval validation family]).
    * The arithmetic-key trick: within a user, day_number − row_number
    * is constant exactly on a consecutive run, so one per-user window
    * plus one keyed aggregate finds all islands — no self-join, no
    * iteration. Day numbering is exact integer `datediff` from a
    * fixed epoch; every column is an integer or date, so the result
    * is bit-exact cross-engine. Scale: the window partitions by
    * user_id (high cardinality) over per-(user, day) pre-aggregated
    * rows — the heavy reduction happens in the groupBy BEFORE the
    * window sees the data. */
  def winGapIslands(spark: SparkSession, sf: String): DataFrame = {
    val days = events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_day_events"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("island",
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("long")
          - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("day")).cast("timestamp").as("island_start"),
           max(col("day")).cast("timestamp").as("island_end"),
           count(lit(1)).as("n_days"),
           sum(col("n_day_events")).as("n_events"))
      .select(col("user_id"), col("island_start"), col("island_end"),
              col("n_days"), col("n_events"))
      .orderBy(col("user_id"), col("island_start"))
  }

  /** #126 — batch sessionization: tag EVERY event with its session
    * id, where a session breaks after a 30-minute inactivity gap per
    * user (R: the reference's grouping of consecutive meter
    * communications into reading sessions [RECONSTRUCTED, §1.1
    * interval family]; also the standard clickstream shape). The
    * conditional prefix sum: flag rows whose gap from the previous
    * event exceeds the threshold, then a running sum of flags numbers
    * the sessions — two passes over ONE per-user window, no
    * self-join, no iteration. Contrast #53, which AGGREGATES into
    * session windows; this op ASSIGNS ids row-wise, the form
    * downstream joins need (every event keeps its identity). All
    * integer-microsecond arithmetic; ties broken by event_id.
    * Scale: the window partitions by user_id (high cardinality), so
    * each user's history sorts locally within its shuffle partition —
    * no global sort, and per-user event counts are human-bounded. */
  def winSessionAssign(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60L * 1000000L
    events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("__us", unix_micros(col("ts")))
      .withColumn("__prev", lag(col("__us"), 1).over(w))
      .withColumn("__new_sess",
        when(col("__prev").isNull || col("__us") - col("__prev") > gapUs,
          lit(1L)).otherwise(lit(0L)))
      .withColumn("session_id", sum(col("__new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("event_id"), col("user_id"), col("ts"), col("session_id"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  /** #163 — rolling regression slope (round 7): per-user least-squares
    * trend of the reading over its last 5 observations — the
    * time-series drift detector (is this meter trending up?) that
    * #111's whole-group regression cannot give per row. x is the
    * per-user observation index (consecutive ints ⇒ the denominator
    * 5Σx²−(Σx)² is the constant 50 — never zero), y is the exact
    * 2-dp decimal reading, so every window sum (Σx, Σy, Σxy, Σx²) is
    * EXACT integer/decimal arithmetic in both engines; only the final
    * slope division runs in double (on identical exact operands), 4-dp
    * rounded. One per-user window, two frame specs (ordering + the
    * trailing 5-row frame), O(1) state per row — the same keyed-window
    * family as #33/#35 at any scale. */
  def winMovingSlope(spark: SparkSession, sf: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val frame = ord.rowsBetween(-4, 0)
    events(spark, sf)
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("us"), money(col("value")).as("y"))
      .withColumn("x", row_number().over(ord).cast("long"))
      .withColumn("n", count(lit(1)).over(frame))
      .withColumn("sx", sum(col("x")).over(frame))
      .withColumn("sy", sum(col("y")).over(frame))
      .withColumn("sxy", sum(col("x") * col("y")).over(frame))
      .withColumn("sxx", sum(col("x") * col("x")).over(frame))
      .where(col("n") === 5)
      .select(col("event_id"), col("user_id"),
        // + 0.0 normalizes IEEE −0.0 to +0.0 (Spark's round already
        // does; DuckDB's keeps the sign — both sides add zero so the
        // cross-engine hash agrees on exact-zero slopes)
        (round((lit(5.0) * col("sxy").cast("double")
               - col("sx").cast("double") * col("sy").cast("double"))
              / (lit(5.0) * col("sxx").cast("double")
                 - col("sx").cast("double") * col("sx").cast("double")), 4)
          + lit(0.0)).as("slope_5"))
      .orderBy(col("event_id"))
  }

  /** #170 — exact rolling median of the per-user reading stream over
    * a trailing 5-row frame: the robust rolling statistic (#163's
    * least-squares slope is moment-based and outlier-sensitive; a
    * rolling median is the standard spike-immune alternative).
    * Spark's window surface has no holistic `median` over a frame, so
    * the frame's values are collected (`collect_list` over ROWS
    * BETWEEN 4 PRECEDING — O(k)=5 state per row, NOT a per-key
    * unbounded collect), sorted, and the middle element (odd n) or
    * the mean of the two middles (even n — the warm-up rows) taken.
    * Cross-engine exact: both engines see identical doubles, pick the
    * same order statistics, and average with the same single IEEE op;
    * 4-dp display rounding. One keyed window, one exchange on the
    * high-cardinality user key — the same shape as #33/#163 at any
    * scale; the O(k log k) per-row sort is bounded by the constant
    * frame width (for wide frames prefer a two-heap UDAF or
    * approx_percentile — out of scope for the exact-frame spec). */
  def winRollingMedian(spark: SparkSession, sf: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val frame = ord.rowsBetween(-4, 0)
    events(spark, sf)
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("vals", sort_array(collect_list(col("value")).over(frame)))
      .withColumn("n", size(col("vals")))
      .select(col("event_id"), col("user_id"),
        col("n").cast("long").as("n_window"),
        round(when(col("n") % 2 === 1,
                   element_at(col("vals"), ((col("n") + 1) / 2).cast("int")))
          .otherwise((element_at(col("vals"), (col("n") / 2).cast("int"))
                      + element_at(col("vals"), (col("n") / 2).cast("int") + 1)) / 2.0),
          4).as("med5"))
      .orderBy(col("event_id"))
  }

  /** #195 — exponentially weighted moving average (round 12; the
    * pandas-`ewm` smoother on the daily value series, α = 1/2 so
    * every weight 2^-k is an EXACT dyadic): the window form a
    * streaming smoother cannot express — a lookback-8 renormalized
    * EWMA, num = Σ 2^-k·lag_k and den = Σ 2^-k over the lags that
    * EXIST (early days renormalize rather than bias toward zero).
    * Determinism: daily totals are DECIMAL(18,2)-exact cast to
    * (exact) doubles, the 8 weighted terms are summed in ONE fixed
    * left-associated expression written identically in both engines
    * — no window SUM whose order an engine could choose — so
    * num/den is bit-identical before the 4 dp display round. The day
    * table is metadata-scale by construction (#192's argument), so
    * the constant-partition lag window is a statement of fact. */
  def winEwmaSmooth(spark: SparkSession, sf: String): DataFrame = {
    val daily = events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(money(col("value"))).as("dsum"))
      .withColumn("d", col("dsum").cast("double"))
    val w = Window.partitionBy(pmod(length(col("day").cast("string")), lit(1)))
      .orderBy(col("day"))
    val lags = (0 to 7).map(k =>
      if (k == 0) col("d") else lag(col("d"), k).over(w))
    val num = lags.zipWithIndex
      .map { case (l, k) => lit(math.pow(0.5, k)) * coalesce(l, lit(0.0)) }
      .reduce(_ + _)
    val den = lags.zipWithIndex
      .map { case (l, k) =>
        lit(math.pow(0.5, k)) * when(l.isNotNull, lit(1.0)).otherwise(lit(0.0)) }
      .reduce(_ + _)
    daily
      .select(col("day").cast("timestamp").as("day"), col("d").as("daily"),
              round(num / den, 4).as("ewma8"))
      .orderBy(col("day"))
  }

  /** #249 — maximum drawdown of the daily revenue series per year
    * (round 14; the peak-to-trough risk statistic every monitoring /
    * finance dashboard reports on a level series — how far below its
    * historical peak did the series fall, and when): daily revenue =
    * exact-decimal sum per ship day; peak = running max over the
    * date-ordered series (frame UNBOUNDED PRECEDING..CURRENT ROW);
    * drawdown = peak − rev, EXACT decimal subtraction, so the
    * per-year argmax (`min_by` over (−dd, day): deepest drawdown,
    * earliest day on ties) is decided on exact values — doubles only
    * at display. Shape: one keyed corpus aggregate (partial,
    * map-side) then windows over the DAILY series — metadata-scale
    * (one row per ship day, bounded by the calendar), the #199/#195
    * posture; the per-year fold is a partial-able aggregate. The
    * running peak and drawdown are [[graft.api.Transforms.drawdown]]. */
  def winDrawdownMax(spark: SparkSession, sf: String): DataFrame = {
    val daily = lineitem(spark, sf)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(money(col("l_extendedprice"))).as("rev"))
    graft.api.Transforms.drawdown(daily, col("day"), col("rev"))
      .groupBy(year(col("day")).as("yr"))
      .agg(count(lit(1)).as("n_days"),
        max(col("drawdown")).cast("double").as("max_drawdown"),
        min_by(col("day"), struct(-col("drawdown"), col("day")))
          .cast("timestamp").as("trough_day"))
      .orderBy(col("yr"))
  }

  /** #260 — share-of-group-total analytic (round 14; Oracle's
    * RATIO_TO_REPORT, the "what fraction of this customer's lifetime
    * spend was this one order" readout behind whale detection and
    * concentration alerts): per order, its share of the customer's
    * total spend. The window partitions by the HIGH-CARDINALITY
    * customer key (the family-E posture — one hash exchange, per-key
    * local work, no global sort); the share is the #232 integer grid
    * (cents·10⁸ DIV total_cents — exact longs, cents ≤ ~10⁸ so the
    * product holds in 63 bits with 10⁹ headroom), so the global
    * top-20 ordering cannot drift; doubles only at display. */
  def winShareOfGroup(spark: SparkSession, sf: String): DataFrame = {
    val cents = (money(col("o_totalprice")) * 100).cast("long")
    val w = Window.partitionBy(col("o_custkey"))
    orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), cents.as("c"))
      .withColumn("tot", sum(col("c")).over(w))
      .withColumn("share8", expr("c * 100000000 DIV tot"))
      .orderBy(col("share8").desc, col("o_orderkey"))
      .limit(20)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("c").cast("double") / lit(100.0)).as("order_value"),
        (col("tot").cast("double") / lit(100.0)).as("customer_total"),
        (col("share8").cast("double") / 100000000L).as("share"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "win_rank_dense_rownum" -> (winRankDenseRownum _),
    "win_topk_per_group"    -> (winTopkPerGroup _),
    "win_running_sum"       -> (winRunningSum _),
    "win_lag_lead"          -> (winLagLead _),
    "win_range_frame"       -> (winRangeFrame _),
    "win_ntile"             -> (winNtile _),
    "win_analytic_extras"   -> (winAnalyticExtras _),
    "win_gap_islands"       -> (winGapIslands _),
    "win_session_assign"    -> (winSessionAssign _),
    "win_moving_slope"      -> (winMovingSlope _),
    "win_rolling_median"    -> (winRollingMedian _),
    "win_ewma_smooth"       -> (winEwmaSmooth _),
    "win_drawdown_max"      -> (winDrawdownMax _),
    "win_share_of_group"    -> (winShareOfGroup _),
  )

  val oracle: Map[String, String] = ListMap(
    "win_share_of_group" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM orders),
        |w AS (
        |  SELECT o_orderkey, o_custkey, c,
        |    sum(c) OVER (PARTITION BY o_custkey) AS tot
        |  FROM o),
        |s AS (
        |  SELECT o_orderkey, o_custkey, c, tot,
        |    c * 100000000 // tot AS share8
        |  FROM w)
        |SELECT o_orderkey, o_custkey,
        |  CAST(c AS DOUBLE) / 100.0 AS order_value,
        |  CAST(tot AS DOUBLE) / 100.0 AS customer_total,
        |  CAST(share8 AS DOUBLE) / 100000000 AS share
        |FROM s ORDER BY share8 DESC, o_orderkey LIMIT 20""".stripMargin,
    "win_drawdown_max" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS day,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        |  FROM lineitem GROUP BY 1),
        |p AS (
        |  SELECT day, rev,
        |    max(rev) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - rev AS dd
        |  FROM daily),
        |r AS (
        |  SELECT year(day) AS yr, day, dd,
        |    row_number() OVER (PARTITION BY year(day)
        |                       ORDER BY dd DESC, day) AS rn,
        |    count(*) OVER (PARTITION BY year(day)) AS n_days
        |  FROM p)
        |SELECT CAST(yr AS INT) AS yr, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(dd AS DOUBLE) AS max_drawdown,
        |  CAST(day AS TIMESTAMP) AS trough_day
        |FROM r WHERE rn = 1 ORDER BY yr""".stripMargin,
    "win_ewma_smooth" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1),
        |lg AS (
        |  SELECT day, CAST(dsum AS DOUBLE) AS l0,
        |    lag(CAST(dsum AS DOUBLE), 1) OVER (ORDER BY day) AS l1,
        |    lag(CAST(dsum AS DOUBLE), 2) OVER (ORDER BY day) AS l2,
        |    lag(CAST(dsum AS DOUBLE), 3) OVER (ORDER BY day) AS l3,
        |    lag(CAST(dsum AS DOUBLE), 4) OVER (ORDER BY day) AS l4,
        |    lag(CAST(dsum AS DOUBLE), 5) OVER (ORDER BY day) AS l5,
        |    lag(CAST(dsum AS DOUBLE), 6) OVER (ORDER BY day) AS l6,
        |    lag(CAST(dsum AS DOUBLE), 7) OVER (ORDER BY day) AS l7
        |  FROM daily)
        |SELECT CAST(day AS TIMESTAMP) AS day, l0 AS daily,
        |  round((1.0 * coalesce(l0, 0.0) + 0.5 * coalesce(l1, 0.0) + 0.25 * coalesce(l2, 0.0) + 0.125 * coalesce(l3, 0.0) + 0.0625 * coalesce(l4, 0.0) + 0.03125 * coalesce(l5, 0.0) + 0.015625 * coalesce(l6, 0.0) + 0.0078125 * coalesce(l7, 0.0))
        |      / (1.0 * (CASE WHEN l0 IS NOT NULL THEN 1.0 ELSE 0.0 END) + 0.5 * (CASE WHEN l1 IS NOT NULL THEN 1.0 ELSE 0.0 END) + 0.25 * (CASE WHEN l2 IS NOT NULL THEN 1.0 ELSE 0.0 END) + 0.125 * (CASE WHEN l3 IS NOT NULL THEN 1.0 ELSE 0.0 END) + 0.0625 * (CASE WHEN l4 IS NOT NULL THEN 1.0 ELSE 0.0 END) + 0.03125 * (CASE WHEN l5 IS NOT NULL THEN 1.0 ELSE 0.0 END) + 0.015625 * (CASE WHEN l6 IS NOT NULL THEN 1.0 ELSE 0.0 END) + 0.0078125 * (CASE WHEN l7 IS NOT NULL THEN 1.0 ELSE 0.0 END)), 4) AS ewma8
        |FROM lg ORDER BY day""".stripMargin,
    "win_rank_dense_rownum" ->
      """SELECT c_custkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
        |  rank() OVER (PARTITION BY c_mktsegment
        |               ORDER BY CAST(floor(c_acctbal / 1000) AS BIGINT) DESC) AS rnk,
        |  dense_rank() OVER (PARTITION BY c_mktsegment
        |               ORDER BY CAST(floor(c_acctbal / 1000) AS BIGINT) DESC) AS drnk,
        |  row_number() OVER (PARTITION BY c_mktsegment
        |               ORDER BY CAST(floor(c_acctbal / 1000) AS BIGINT) DESC, c_custkey) AS rn
        |FROM customer ORDER BY c_mktsegment, rn""".stripMargin,
    "win_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "win_running_sum" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "win_lag_lead" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |  epoch_ms(CAST(ts AS TIMESTAMP))
        |    - lag(epoch_ms(CAST(ts AS TIMESTAMP)), 1)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS next_type
        |FROM events ORDER BY event_id""".stripMargin,
    "win_range_frame" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    OVER (PARTITION BY user_id ORDER BY epoch_ms(CAST(ts AS TIMESTAMP))
        |          RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing_10m
        |FROM events ORDER BY event_id""".stripMargin,
    "win_ntile" ->
      """SELECT o_orderkey, o_totalprice,
        |  ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "win_analytic_extras" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  first_value(c_custkey) OVER w AS poorest_key,
        |  last_value(c_custkey) OVER
        |    (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS richest_key,
        |  nth_value(c_custkey, 3) OVER
        |    (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS third_key,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin,
    "win_gap_islands" ->
      """WITH d AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    count(*) AS n_day_events
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *, date_diff('day', DATE '2024-01-01', day)
        |    - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        |  FROM d)
        |SELECT user_id,
        |  CAST(min(day) AS TIMESTAMP) AS island_start,
        |  CAST(max(day) AS TIMESTAMP) AS island_end,
        |  count(*) AS n_days, CAST(sum(n_day_events) AS BIGINT) AS n_events
        |FROM r GROUP BY user_id, island
        |ORDER BY user_id, island_start""".stripMargin,
    "win_session_assign" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |l AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER
        |             (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER
        |             (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e)
        |SELECT event_id, user_id, ts,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id
        |FROM l ORDER BY user_id, ts, event_id""".stripMargin,
    "win_moving_slope" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(value AS DECIMAL(18,2)) AS y,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS x
        |  FROM events),
        |f AS (
        |  SELECT event_id, user_id,
        |    count(*) OVER w AS n,
        |    sum(x) OVER w AS sx,
        |    sum(y) OVER w AS sy,
        |    sum(x * y) OVER w AS sxy,
        |    sum(x * x) OVER w AS sxx
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY x
        |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |  round((5.0 * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (5.0 * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) + 0 AS slope_5
        |FROM f WHERE n = 5 ORDER BY event_id""".stripMargin,
    "win_rolling_median" ->
      """SELECT event_id, user_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_window,
        |  round(median(value) OVER w, 4) AS med5
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
  )
}
