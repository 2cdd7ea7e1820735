package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.collection.immutable.ListMap
import graft.Tables._

/** SURVEY §2.D — aggregation (#20–#30).
  *
  * Scale posture: every aggregate here is algebraic (sum/count/moments
  * or mergeable partial state), so Spark plans partial aggregation
  * before the exchange — the shuffle carries one row per (group,
  * partition), not per input row. Exact-decimal sums make results
  * order-independent; averages are derived as sum/count in double at
  * the end (identical IEEE division in both engines). `grouping sets`
  * and `WITHIN GROUP` percentiles use the SQL surface via temp views.
  */
object AggOps {

  /** #20 — TPC-H Q1-shape pricing summary: the canonical hash
    * aggregate with map-side combine. */
  def aggHashGroupby(spark: SparkSession, sf: String): DataFrame = {
    val f2 = (lit(1) - money(col("l_discount"))).cast(DecimalType(4, 2))
    val f3 = (lit(1) + money(col("l_tax"))).cast(DecimalType(4, 2))
    lineitem(spark, sf)
      .where(col("l_shipdate") <= ts("2001-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(money(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(money(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(money(col("l_extendedprice")) * f2, 24, 4)).cast("double").as("sum_disc_price"),
        sum((dec(money(col("l_extendedprice")) * f2, 24, 4) * f3).cast(DecimalType(30, 6)))
          .cast("double").as("sum_charge"),
        (sum(money(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(money(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        (sum(money(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** #21 — exact distinct count per group (expands to a two-level
    * aggregate: distinct on (group, key), then count — both shuffles
    * are keyed, no global distinct). */
  def aggDistinctCount(spark: SparkSession, sf: String): DataFrame =
    lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy(col("l_returnflag"))

  /** #22 — multiple distinct aggregates + a plain one in a single pass
    * (Catalyst rewrites via expand). */
  def aggMultiDistinct(spark: SparkSession, sf: String): DataFrame =
    lineitem(spark, sf)
      .groupBy(col("l_linestatus"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        sum(money(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy(col("l_linestatus"))

  private def rollupCubeSelect(g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    g.agg(
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        count(lit(1)).as("n_rows"),
        sum(money(col("l_quantity"))).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("g_rf"), col("g_ls"), col("n_rows"), col("sum_qty"))
      .orderBy(col("returnflag"), col("linestatus"))

  /** #23 — ROLLUP with GROUPING() markers (subtotal levels coalesced
    * to 'ALL' so no NULL ever reaches the sort — cross-engine NULL
    * ordering is not portable). */
  def aggRollup(spark: SparkSession, sf: String): DataFrame =
    rollupCubeSelect(lineitem(spark, sf).rollup(col("l_returnflag"), col("l_linestatus")))

  /** #24 — CUBE over the same shape. */
  def aggCube(spark: SparkSession, sf: String): DataFrame =
    rollupCubeSelect(lineitem(spark, sf).cube(col("l_returnflag"), col("l_linestatus")))

  private val groupingSetsSql =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY returnflag, linestatus""".stripMargin

  /** #25 — explicit GROUPING SETS (SQL surface; identical text runs in
    * both engines). */
  def aggGroupingSets(spark: SparkSession, sf: String): DataFrame = {
    views(spark, sf, "lineitem")
    spark.sql(groupingSetsSql)
  }

  /** #26 — moment statistics per group, rounded to 4 dp (both engines
    * accumulate doubles; last-ulp drift is bridged by rounding). */
  def aggStats(spark: SparkSession, sf: String): DataFrame =
    lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 4).as("corr_price_qty"),
        round(covar_samp(col("l_extendedprice"), col("l_quantity")), 4).as("cov_price_qty"))
      .orderBy(col("l_returnflag"))

  private val percentileSql =
    """SELECT l_returnflag,
      |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 4) AS p50_qty,
      |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p90_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** #27 — interpolated percentiles (WITHIN GROUP, SQL surface). */
  def aggPercentile(spark: SparkSession, sf: String): DataFrame = {
    views(spark, sf, "lineitem")
    spark.sql(percentileSql)
  }

  /** #28 — HLL++ approximate distinct. No oracle (approximation is
    * engine-specific); property-tested within 5% of exact in the
    * scalatest suite. At 100 TB this is the only sane distinct-count:
    * fixed-size sketch per group, no distinct expand. */
  def aggApproxDistinct(spark: SparkSession, sf: String): DataFrame =
    lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))
      .orderBy(col("l_returnflag"))

  /** #85 — approximate quantiles via the Greenwald-Khanna sketch
    * (approx_percentile): like #28, a fixed-size mergeable sketch —
    * the only sane percentile at 100 TB (exact percentile_cont sorts
    * per group). No oracle (sketch is engine-specific); property-
    * tested within 2% rank error of the exact percentile. The sketch
    * array is projected to scalar p50/p90 columns so the driver's
    * rows-only canonicalization never sees a raw array. */
  def aggApproxQuantile(spark: SparkSession, sf: String): DataFrame =
    lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)")
          .as("qs"))
      .select(col("l_returnflag"),
              element_at(col("qs"), 1).as("p50_price"),
              element_at(col("qs"), 2).as("p90_price"))
      .orderBy(col("l_returnflag"))

  /** #29 — per-group sorted array (order forced by array_sort so the
    * unordered collect is deterministic). The array is serialized to a
    * comma-joined string in the graded projection (the driver's
    * comparator can't hash raw array cells); the collect/sort
    * semantics are unchanged. */
  def aggCollectSorted(spark: SparkSession, sf: String): DataFrame =
    nation(spark, sf)
      .groupBy(col("n_regionkey"))
      .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"),
           count(lit(1)).as("n_nations"))
      .orderBy(col("n_regionkey"))

  /** #30 — custom UDAF: per-label embedding centroid via the typed
    * [[graft.functions.VectorMean]] Aggregator. Elements are rounded
    * 4 dp, fixed to DECIMAL(12,4) (both engines render scale-4
    * decimals identically, e.g. "0.5000"), and comma-joined so the
    * graded output has no raw array column. */
  def aggUdafVectorMean(spark: SparkSession, sf: String): DataFrame = {
    val vecMean = udaf(graft.functions.VectorMean)
    embeddings(spark, sf)
      .groupBy(col("label"))
      .agg(vecMean(col("embedding")).as("raw"), count(lit(1)).as("n_vecs"))
      .select(col("label"),
              concat_ws(",",
                transform(col("raw"), x => round(x, 4).cast(DecimalType(12, 4))))
                .as("centroid"),
              col("n_vecs"))
      .orderBy(col("label"))
  }

  /** #83 — pivot (cross-tab): per-language doc counts across an
    * explicit source-column list (explicit values keep the output
    * schema static — the only sane form at scale; absent cells
    * zero-filled to match conditional-aggregation semantics). */
  def aggPivot(spark: SparkSession, sf: String): DataFrame = {
    val srcs = Seq("src0", "src1", "src2", "src3", "src4")
    documents(spark, sf)
      .groupBy(col("lang"))
      .pivot("source", srcs)
      .agg(count(lit(1)))
      .select(col("lang") +: srcs.map(s => coalesce(col(s), lit(0L)).as(s)): _*)
      .orderBy(col("lang"))
  }

  /** #101 — per-group mode (most frequent value) via argmax, NOT a
    * window: counts aggregate once (map-side partials), then
    * `max_by(payload, struct(n, -key))` picks the winner per group —
    * highest count, smallest key on ties — in a second partial-able
    * aggregate. A `row_number` window over the counts would sort each
    * group's candidate rows; `max_by` keeps one struct per group per
    * partition. Output: modal nation per market segment. */
  def aggModeArgmax(spark: SparkSession, sf: String): DataFrame =
    customer(spark, sf)
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("c_mktsegment"))
      .agg(max_by(
          struct(col("c_nationkey"), col("n")),
          struct(col("n"), (-col("c_nationkey")).as("nk"))).as("m"))
      .select(col("c_mktsegment"),
              col("m.c_nationkey").as("mode_nation"),
              col("m.n").as("n_mode"))
      .orderBy(col("c_mktsegment"))

  /** #103 — EXACT weighted median (quantity weighted by revenue) per
    * return flag: the weighted-quantile shape `percentile_approx`
    * cannot express. One keyed aggregate collapses the data to
    * (flag, quantity, total weight) rows — ~50 distinct quantities ×
    * 3 flags, metadata scale — then the cumulative-weight windows and
    * the first-crossing pick run over those aggregated rows, never
    * the data. `cum * 2 >= tot` compares exact decimals, so both
    * engines pick the identical crossing row. */
  def aggWeightedMedian(spark: SparkSession, sf: String): DataFrame = {
    val wq = lineitem(spark, sf)
      .groupBy(col("l_returnflag"), money(col("l_quantity")).as("q"))
      .agg(sum(money(col("l_extendedprice"))).as("w"))
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("l_returnflag"))
    wq.withColumn("cum", sum(col("w")).over(wCum))
      .withColumn("tot", sum(col("w")).over(wTot))
      .where(col("cum") * 2 >= col("tot"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("q")).cast("double").as("weighted_median_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** #113 — per-group least-squares line fit via the SQL:2016
    * regression aggregates: slope/intercept/r² of extendedprice over
    * quantity per returnflag ([RECONSTRUCTED] the reference's
    * downstream is exactly this shape — energy-use-vs-temperature
    * model fitting per meter). regr_* stream co-moments in ONE pass
    * with map-side partials — the only regression formulation that
    * works at 100 TB (no design-matrix materialization, state is 6
    * doubles per group). Rounded 4 dp to bridge engines' accumulation-
    * order ulp drift, same policy as #26. */
  def aggRegression(spark: SparkSession, sf: String): DataFrame =
    lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n_pts"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 4).as("r2"))
      .orderBy(col("l_returnflag"))

  /** #116 — boolean aggregates: conditional counting (`count_if`) and
    * group-wide predicates (`bool_and`/`bool_or`, the SQL:1999
    * EVERY/ANY) — the data-quality assertion shape ("every reading
    * positive, any reading flagged?") a validation pass runs per
    * partition key. All partial-able single-pass aggregates; exact
    * 2-dp decimal comparisons so both engines test identical values. */
  def aggBoolean(spark: SparkSession, sf: String): DataFrame =
    lineitem(spark, sf)
      .groupBy(col("l_linestatus"))
      .agg(
        count_if(money(col("l_discount")) > lit(0.05)).as("n_highdisc"),
        bool_and(money(col("l_quantity")) > lit(0)).as("all_qty_positive"),
        bool_or(money(col("l_tax")) > lit(0.07)).as("any_high_tax"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_linestatus"))

  /** #118 — unpivot (melt), the dual of #83's pivot: a wide per-flag
    * aggregate row melts into (group, measure, value) long form — the
    * shape that feeds generic per-metric pipelines (one downstream
    * operator per METRIC instead of per COLUMN). Spark 4's native
    * `unpivot` is a zero-shuffle projection expansion (each input row
    * emits one row per measure — no exchange, no window); the only
    * shuffle is the upstream aggregate's. Measures are exact decimal
    * sums cast to double AFTER aggregation, so the melted values are
    * bit-identical to the wide form's. */
  def aggUnpivot(spark: SparkSession, sf: String): DataFrame =
    lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(money(col("l_quantity"))).cast("double").as("sum_qty"),
           sum(money(col("l_extendedprice"))).cast("double").as("sum_price"),
           sum(money(col("l_discount"))).cast("double").as("sum_disc"))
      .unpivot(Array(col("l_returnflag")),
               Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
               "measure", "value")
      .orderBy(col("l_returnflag"), col("measure"))

  private val bitmapDistinctSql =
    """SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n_distinct_parts
      |FROM (
      |  SELECT l_returnflag, bitmap_bucket_number(l_partkey) AS bkt,
      |    bitmap_count(bitmap_construct_agg(bitmap_bit_position(l_partkey)))
      |      AS cnt
      |  FROM lineitem GROUP BY l_returnflag, bkt)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** #159 — EXACT distinct counting via bitmap aggregates (round 7,
    * Spark's bitmap_construct_agg family): keys map to (bucket, bit
    * position), per-(group, bucket) bitmaps OR-merge as fixed-4KB
    * partials, and the per-group distinct count is the sum of bucket
    * popcounts — exact like #21's count(DISTINCT) but MERGEABLE: no
    * distinct expand, no re-shuffle of raw keys, partial state
    * bounded at 4KB per (group, bucket) regardless of row count. At
    * 100 TB this is the exact-distinct analogue of #28's HLL (use
    * bitmaps when exactness is required and the key domain is dense;
    * HLL when 2% error buys 100× less state). The oracle is DuckDB's
    * plain count(DISTINCT) — the bitmap machinery must reproduce it
    * bit-exactly. */
  def aggBitmapDistinct(spark: SparkSession, sf: String): DataFrame = {
    views(spark, sf, "lineitem")
    spark.sql(bitmapDistinctSql)
  }

  private val listaggSql =
    """SELECT c_mktsegment, count(*) AS n_customers,
      |  listagg(c_name, '|') WITHIN GROUP (ORDER BY c_custkey) AS names
      |FROM customer WHERE c_acctbal < -900
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** #154 — ordered string aggregation (round 7, SQL:2016 LISTAGG —
    * Spark 4's native implementation; DuckDB spells it
    * `string_agg(... ORDER BY ...)`): the per-group concatenation
    * that feeds display layers and denormalized exports. The WITHIN
    * GROUP order makes the output deterministic — an unordered
    * string_agg would hash-differ run to run, the same reason #29's
    * collect_list sorts. Scale note: output size grows with group
    * size, so the op belongs on SELECTIVE groups (here a filtered
    * slice); the aggregation itself is single-pass with sort-based
    * partials. */
  def aggListagg(spark: SparkSession, sf: String): DataFrame = {
    views(spark, sf, "customer")
    spark.sql(listaggSql)
  }

  private val filterClauseSql =
    """SELECT l_returnflag,
      |  count(*) AS n_rows,
      |  count(*) FILTER (WHERE year(l_shipdate) >= 1997) AS n_recent,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
      |    FILTER (WHERE year(l_shipdate) >= 1997) AS DOUBLE) AS qty_recent,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
      |    FILTER (WHERE CAST(l_discount AS DECIMAL(18,2)) > 0.05)
      |    AS DOUBLE) AS price_highdisc,
      |  count(DISTINCT l_suppkey) FILTER (WHERE l_linestatus = 'F')
      |    AS n_supp_f
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** #152 — FILTER-clause aggregates (SQL:2003), the SQL surface: one
    * scan produces several differently-predicated aggregates instead
    * of N self-joined subqueries — at 100 TB the difference between
    * one pass and five. Catalyst rewrites each FILTER into the
    * conditional-partial form (#116's count_if shape generalized to
    * sum/distinct), all map-side-combinable in a single hash
    * aggregate; decimal sums cast to double post-agg per the oracle
    * decimal policy. */
  def aggFilterClause(spark: SparkSession, sf: String): DataFrame = {
    views(spark, sf, "lineitem")
    spark.sql(filterClauseSql)
  }

  /** #149 — robust outlier detection via MAD (round 7): per-group
    * median absolute deviation and the modified z-score
    * 0.6745·|x−med|/MAD > 3.5 (Iglewicz–Hoaglin) — the outlier test
    * that, unlike #128's moment z-score, is not itself dragged by the
    * outliers it hunts (50% breakdown point vs 0%).
    *
    * Shape: three passes over the fact — exact `percentile` per group
    * (median), broadcast the 3-row medians back, exact percentile of
    * |x−med| (MAD), broadcast again, count violators with `count_if`.
    * The group keys are low-cardinality so both join-backs are
    * broadcasts; no window touches the fact. Exact percentile is the
    * oracle-able contract here — at 100 TB the same three-pass shape
    * runs on #85's mergeable KLL-style sketch instead (per-group
    * state goes from sort-buffer to fixed-size sketch); MAD is
    * rank-based, so the sketch substitution changes only tolerance,
    * not shape. 4-dp rounding bridges interpolation ulp drift (#27's
    * policy). */
  def aggMadRobust(spark: SparkSession, sf: String): DataFrame = {
    val li = lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice").as("v"))
    val med = li.groupBy(col("l_returnflag"))
      .agg(percentile(col("v"), lit(0.5)).as("med"))
    val mad = li.join(broadcast(med), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(first(col("med")).as("med"),
           percentile(abs(col("v") - col("med")), lit(0.5)).as("mad"))
    li.join(broadcast(mad), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
           round(first(col("med")), 4).as("median"),
           round(first(col("mad")), 4).as("mad"),
           count_if(col("mad") > lit(0.0) &&
             lit(0.6745) * abs(col("v") - col("med")) / col("mad") > lit(3.5))
             .as("n_outliers"))
      .orderBy(col("l_returnflag"))
  }

  /** #172 — mergeable HLL sketch columns (Apache DataSketches via
    * Spark's `hll_sketch_agg`/`hll_union_agg`): the pre-aggregation
    * surface #28's one-shot `approx_count_distinct` cannot give. A
    * production cube stores PER-PARTITION sketches (here: per
    * (event_type, day)) and answers coarser rollups by UNIONING
    * sketches — re-scanning no raw data; HLL union is register-wise
    * max, so merging daily partials is LOSSLESS vs sketching the
    * whole corpus directly (asserted exactly in the spec). The graded
    * output pins the tolerance contract rather than the estimate
    * itself (estimates are engine-specific, so no cross-engine hash
    * could pin them): per event_type, the EXACT distinct-user count
    * plus a flag that the merged-sketch estimate lands within 5% of
    * it — DuckDB emits the exact counts and literal `true`, so an
    * estimator drift > 5% flips the flag and fails the hash. Two
    * keyed aggregates (day-partials → union) + one exact distinct for
    * the comparison; at 100 TB the exact side is the expensive one —
    * production keeps only the sketch path. */
  def aggHllSketchMerge(spark: SparkSession, sf: String): DataFrame = {
    val daily = events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = events(spark, sf).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(merged, "event_type")
      .select(col("event_type"), col("exact_users"),
        (abs(col("est") - col("exact_users"))
          <= col("exact_users").cast("double") * 0.05).as("est_within_5pct"))
      .orderBy(col("event_type"))
  }

  /** #180 — theta sketch set algebra (round 11): the audience-overlap
    * surface HLL (#172) cannot give — theta sketches support
    * INTERSECTION and DIFFERENCE, not just union (DataSketches theta
    * family, Spark 4.1 `theta_*`). Per-(event_type, day) sketch
    * partials over user_id are UNIONED to type level (the mergeable
    * pre-aggregation, same shape as #172), then every type pair's
    * audience intersection / A-minus-B / union is estimated from the
    * SKETCHES ALONE — no raw re-scan — and graded with the #172
    * tolerance CONTRACT: the output carries the exact set-op counts
    * (distinct pairs + one user-keyed equi-self-join; the
    * verification harness, not the 100 TB path) plus within-5% flags,
    * and the oracle emits the same exacts with literal `true`, so
    * estimator drift fails the hash. At the graded scales the
    * sketches run in exact mode (< 4096 retained hashes) so the flags
    * pin equality; at 100 TB only the KB-sized sketch partials flow —
    * the k-smallest-hash retention is order-independent and the
    * default seed is fixed, so results are deterministic. */
  def aggThetaAudienceOverlap(spark: SparkSession, sf: String): DataFrame = {
    val daily = events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(expr("theta_sketch_agg(user_id)").as("sk"))
    val sk = daily.groupBy(col("event_type"))
      .agg(expr("theta_union_agg(sk)").as("sk"))
    val d = events(spark, sf).select(col("event_type"), col("user_id")).distinct()
    val n = d.groupBy(col("event_type")).agg(count(lit(1)).as("nu"))
    val inter = d.toDF("ta", "ua").join(d.toDF("tb", "ub"),
        col("ua") === col("ub") && col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("ie"))
    val pairs = n.toDF("type_a", "n_a").join(n.toDF("type_b", "n_b"),
        col("type_a") < col("type_b"))
      .join(inter, col("type_a") === col("ta") && col("type_b") === col("tb"), "left")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        coalesce(col("ie"), lit(0L)).as("inter_exact"))
    val withSk = pairs
      .join(sk.select(col("event_type").as("type_a"), col("sk").as("sk_a")), "type_a")
      .join(sk.select(col("event_type").as("type_b"), col("sk").as("sk_b")), "type_b")
    def ok(est: String, exact: Column): Column =
      abs(expr(est).cast("double") - exact.cast("double")) <=
        exact.cast("double") * 0.05 + lit(1e-9)
    val diffE = col("n_a") - col("inter_exact")
    val unionE = col("n_a") + col("n_b") - col("inter_exact")
    withSk.select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("inter_exact"), diffE.as("diff_exact"), unionE.as("union_exact"),
        ok("theta_sketch_estimate(theta_intersection(sk_a, sk_b))",
           col("inter_exact")).as("inter_within_5pct"),
        ok("theta_sketch_estimate(theta_difference(sk_a, sk_b))", diffE)
          .as("diff_within_5pct"),
        ok("theta_sketch_estimate(theta_union(sk_a, sk_b))", unionE)
          .as("union_within_5pct"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** #181 — mergeable KLL quantile sketches (round 11; DataSketches
    * KLL via Spark 4.1 `kll_sketch_*_double`): the quantile analogue
    * of #172/#180 — per-(event_type, day) sketch partials of the
    * value column MERGE to type level with no raw re-scan, answering
    * p50/p90 from KB-sized state where exact percentiles sort the
    * group. Graded with the rank-error CONTRACT the KLL guarantee
    * actually makes (normalized rank error ≈1.65% at the default
    * k=200): the output carries the EXACT interpolated percentiles
    * (the verification harness) plus flags asserting the sketch
    * estimate's true rank is within 4% of the target rank — computed
    * by ranking the estimate against the real data, not by value
    * distance, because KLL bounds rank, not value. The oracle emits
    * the exacts + literal `true`, so estimator drift beyond the bound
    * fails the hash (4% ≈ 2.4× the 99%-confidence bound — sketch
    * randomness cannot plausibly cross it). At 100 TB only the
    * mergeable partials flow; the exact side exists only to grade. */
  def aggKllQuantileMerge(spark: SparkSession, sf: String): DataFrame = {
    val ev = events(spark, sf)
      .select(col("event_type"), col("value").cast("double").as("v"),
              to_date(col("ts")).as("day"))
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(expr("kll_sketch_agg_double(v)").as("sk"))
    // kll_sketch_merge_double is a pairwise scalar merge; fold it over
    // the per-day partials (days-per-type = metadata-scale list).
    // collect_list order is nondeterministic, so collect (day, sk)
    // structs and sort_array by day first — the merge order (and with
    // it the graded rank flags) is then deterministic run-to-run
    // instead of leaning on the 4% rank-error headroom to mask
    // order-dependent sketch compaction.
    val merged = daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("sk")))).as("sks"))
      .select(col("event_type"),
        expr("""reduce(sks, CAST(NULL AS BINARY),
                (acc, x) -> CASE WHEN acc IS NULL THEN x.sk
                            ELSE kll_sketch_merge_double(acc, x.sk) END)""").as("sk"))
      .select(col("event_type"),
        expr("kll_sketch_get_quantile_double(sk, 0.5)").as("q50"),
        expr("kll_sketch_get_quantile_double(sk, 0.9)").as("q90"))
    val exact = ev.groupBy(col("event_type"))
      .agg(round(expr("percentile(v, 0.5)"), 4).as("p50_exact"),
           round(expr("percentile(v, 0.9)"), 4).as("p90_exact"))
    def rank(q: Column): Column =
      sum(when(col("v") <= q, 1.0).otherwise(0.0)) / count(lit(1))
    val ranks = ev.join(broadcast(merged), "event_type")
      .groupBy(col("event_type"))
      .agg(rank(col("q50")).as("r50"), rank(col("q90")).as("r90"))
    exact.join(ranks, "event_type")
      .select(col("event_type"), col("p50_exact"), col("p90_exact"),
        (abs(col("r50") - 0.5) <= 0.04).as("p50_rank_ok"),
        (abs(col("r90") - 0.9) <= 0.04).as("p90_rank_ok"))
      .orderBy(col("event_type"))
  }

  /** #187 — mergeable frequent-items sketch (round 12; DataSketches
    * frequent-items via Spark 4.1 `approx_top_k_accumulate/_combine/
    * _estimate`): the FREQUENCY member that completes the mergeable
    * sketch quartet — distinct counts (#172 HLL), set algebra (#180
    * theta), quantiles (#181 KLL), and now heavy hitters — in the
    * same partial → merge shape: per-source token sketches ACCUMULATE
    * (map-side, bounded slots), COMBINE to one corpus sketch with no
    * raw re-scan, ESTIMATE yields the heavy hitters. Graded under the
    * #172 tolerance CONTRACT: the output rows are the exact top-10
    * tokens by (count DESC, token) — fully deterministic in both
    * engines — each carrying its exact count plus a flag that the
    * combined sketch's estimate lands within 1% of it; DuckDB emits
    * the exacts and literal `true`. At the graded scales the corpus
    * vocabulary (31 tokens at sf0.01) sits far under the 100 tracked
    * slots, so the sketch runs in exact mode and the flags pin
    * equality — the #180 policy; at 100 TB `maxItemsTracked` ≪ vocab
    * and the DataSketches εN error guarantee takes over, with the
    * exact side (the groupBy count) remaining the verification
    * harness, not the scale path. KB-sized state per shard, merge
    * associative — the pre-aggregated heavy-hitter cube #131's exact
    * scan cannot give. */
  def aggFreqSketchTopk(spark: SparkSession, sf: String): DataFrame = {
    val toks = documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
    val partials = toks.groupBy(col("source"))
      .agg(expr("approx_top_k_accumulate(token, 100)").as("sk"))
    // the partials are |sources| KB-sized sketch rows — metadata scale
    // — so the combine is a 1-partition fold by design; coalesce(1)
    // also sidesteps SPARK's ApproxTopKCombine crash on EMPTY
    // partitions (serialize of an uninitialized combine buffer throws
    // MatchError when shuffle.partitions > |sources|, observed at
    // sf0.1 with 32 partitions over 5 partial rows)
    val est = partials.coalesce(1)
      .agg(expr("approx_top_k_estimate(approx_top_k_combine(sk, 100), 50)")
        .as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item").as("token"), col("e.count").as("est"))
    val top10 = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("token"))
      .limit(10)
    top10.join(broadcast(est), Seq("token"), "left")
      .select(col("token"), col("n_exact"),
        coalesce(abs(col("est") - col("n_exact"))
          <= col("n_exact").cast("double") * 0.01, lit(false))
          .as("est_within_1pct"))
      .orderBy(col("n_exact").desc, col("token"))
  }

  /** #198 — mutual information between two categorical columns
    * (round 12; the feature-selection / drift-detection statistic):
    * I(X;Y) for X = event_type, Y = day-of-week (epoch-day mod 7 —
    * the #192 idiom), plus both marginal entropies and the
    * sqrt-normalized NMI. The contingency table is ONE keyed corpus
    * aggregate; everything after runs on the ≤|X|·|Y| cell table
    * (35 rows here; metadata-scale for any real categorical pair).
    * Determinism: counts are exact longs; each cell's and marginal's
    * ln-term is rounded to an 8 dp grid and summed as DECIMAL(18,8)
    * (order-independent — the #189 policy), so MI/H are
    * engine-identical before the 4 dp display round, and NMI is
    * computed FROM the rounded aggregates (exact doubles). */
  def aggMutualInfo(spark: SparkSession, sf: String): DataFrame = {
    val cells = events(spark, sf)
      .groupBy(col("event_type").as("x"),
        (datediff(to_date(col("ts")), to_date(lit("1970-01-01"))) % 7)
          .cast("int").as("y"))
      .agg(count(lit(1)).as("n_xy"))
    val nx = cells.groupBy(col("x")).agg(sum(col("n_xy")).as("n_x"))
    val ny = cells.groupBy(col("y")).agg(sum(col("n_xy")).as("n_y"))
    val tot = cells.agg(sum(col("n_xy")).as("n"))
    val mi = cells.join(broadcast(nx), "x").join(broadcast(ny), "y")
      .crossJoin(broadcast(tot))
      .agg(round(sum(grid8(
        (col("n_xy").cast("double") / col("n")) *
          log((col("n_xy") * col("n")).cast("double") /
              (col("n_x") * col("n_y"))))).cast("double"), 4).as("mi"))
    def entropy(m: DataFrame, cnt: String): DataFrame =
      m.crossJoin(broadcast(tot))
        .agg(round(sum(grid8(-(col(cnt).cast("double") / col("n")) *
          log(col(cnt).cast("double") / col("n")))).cast("double"), 4)
          .as(if (cnt == "n_x") "h_x" else "h_y"))
    mi.crossJoin(entropy(nx, "n_x")).crossJoin(entropy(ny, "n_y"))
      .select(col("mi"), col("h_x"), col("h_y"),
        round(col("mi") / sqrt(col("h_x") * col("h_y")), 4).as("nmi"))
  }

  /** #215 — chi-square test of independence (round 12; Pearson 1900 —
    * the categorical-association test beside #198's mutual
    * information: MI measures HOW MUCH association, χ² tests WHETHER
    * it clears chance) over the orders status × priority contingency
    * table: χ² = Σ_cells (obs − exp)²/exp with exp = row·col/N.
    * Exactness: marginals and N are exact longs; each cell term is an
    * identical double expression both engines, 8 dp-gridded and
    * summed as DECIMAL (order-independent — #198's policy verbatim),
    * so χ² is engine-identical before the final double cast; the
    * significance flag compares that exact value against the
    * χ²(.05, dof=8) literal 15.5073 — dof follows the corpus's 3×5
    * table the way #175 fixes its z literals. Shape: ONE keyed
    * corpus aggregate to the ≤15-cell table; marginals, N, the term
    * sum and dof are all metadata-scale broadcasts — at 100 TB the
    * corpus is touched exactly once. The contingency grid is the
    * CROSS of the observed row/column marginals (round 13): a
    * structurally-empty cell (obs = 0) contributes its full expected
    * count to the sum — dropping such cells (the groupBy-only shape)
    * understates χ² whenever a status×priority combination is absent
    * from the data. */
  def aggChi2Independence(spark: SparkSession, sf: String): DataFrame = {
    val cells = contingencyCells(spark, sf)
    cells
      .agg(max(col("n")).as("n_orders"),
        count(lit(1)).as("n_cells"),
        ((countDistinct(col("st")) - 1) * (countDistinct(col("pri")) - 1))
          .cast("int").as("dof"),
        sum(chi2Term).cast("double").as("chi2"))
      .withColumn("significant", col("chi2") > lit(15.5073))
  }

  /** #215/#240 shared machinery: the zero-filled o_orderstatus ×
    * o_orderpriority contingency grid (|st| × |pri| rows, metadata
    * scale) with marginals and the grand total attached. */
  private def contingencyCells(spark: SparkSession, sf: String): DataFrame = {
    val observed = orders(spark, sf)
      .groupBy(col("o_orderstatus").as("st"), col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("obs"))
    val rt = observed.groupBy(col("st")).agg(sum(col("obs")).as("rt"))
    val ct = observed.groupBy(col("pri")).agg(sum(col("obs")).as("ct"))
    val tot = observed.agg(sum(col("obs")).as("n"))
    // `observed` is catalog-bounded (|st| × |pri| groups) but its
    // planner ESTIMATE grows with the scan, so hint the broadcast —
    // without it the 10× stress run correctly showed the cell attach
    // falling back to sort-merge on a ~15-row table
    broadcast(rt).crossJoin(broadcast(ct))
      .join(broadcast(observed), Seq("st", "pri"), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
      .crossJoin(broadcast(tot))
  }

  /** Per-cell (obs−exp)²/exp on the #215 8dp DECIMAL grid. */
  private def chi2Term: Column = {
    val expd = col("rt").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    val dev = col("obs").cast("double") - expd
    grid8(dev * dev / expd)
  }

  /** #265 — mutual information between event type and value bucket
    * (round 15; the model-agnostic dependence measure feature stores
    * rank candidate features by — #215's χ² tests "is there ANY
    * dependence", MI measures HOW MANY NATS the bucket tells you
    * about the type): I(T;B) = Σ p(t,b)·ln(p(t,b)/(p(t)p(b))) over
    * the observed (type, floor(value) mod 10) cells. Observed-only is
    * CORRECT here (unlike #215's zero-filled grid): an empty cell's
    * term has limit 0. Exactness: all counts exact longs from one
    * keyed aggregate; each cell term is the identical double
    * expression over those longs (counts cast to double BEFORE the
    * products so no 63-bit overflow at any scale), 6dp-gridded to
    * DECIMAL(18,6) BEFORE the per-type sum, so the reported parts are
    * exact sums of gridded terms. Per-type rows carry the Σ_b part
    * (signed; only the grand total is ≥ 0 — the spec pins both).
    * Shape: ONE keyed corpus aggregate to the ≤ |T|·10 cell table;
    * marginals and N are metadata-scale broadcasts. */
  def aggMutualInformation(spark: SparkSession, sf: String): DataFrame = {
    val cells = events(spark, sf)
      .groupBy(col("event_type").as("t"),
               pmod(floor(col("value")).cast("long"), lit(10L)).as("b"))
      .agg(count(lit(1)).as("n_tb"))
      // ≤ |T|·10 rows, read by FOUR consumers (cells + three
      // marginals) — without the barrier each consumer re-scans the
      // corpus (measured: 8 parquet scans in the un-checkpointed
      // plan), breaking the touched-once posture
      .localCheckpoint()
    val nt = cells.groupBy(col("t")).agg(sum(col("n_tb")).as("n_t"))
    val nb = cells.groupBy(col("b")).agg(sum(col("n_tb")).as("n_b"))
    val tot = cells.agg(sum(col("n_tb")).as("n"))
    val term = (col("n_tb").cast("double") / col("n")) *
      log((col("n_tb").cast("double") * col("n")) /
          (col("n_t").cast("double") * col("n_b")))
    cells
      .join(broadcast(nt), "t").join(broadcast(nb), "b")
      .crossJoin(broadcast(tot))
      .withColumn("term6",
        (floor(term * 1000000 + 0.5) / 1000000.0).cast(DecimalType(18, 6)))
      .groupBy(col("t").as("event_type"))
      .agg(max(col("n_t")).as("n_events"),
           count(lit(1)).as("n_buckets"),
           sum(col("term6")).cast("double").as("mi_part"))
      .orderBy(col("event_type"))
  }

  /** #268 — Herfindahl–Hirschman concentration per nation (round 15;
    * the market-concentration index beside #228's Pareto share and
    * #the Gini row — regulators and revenue dashboards read HHI =
    * Σ shareᵢ², 1/n for perfect competition, 1 for monopoly): per
    * nation, each customer's share of national spend on the #232
    * integer grid (cents·10⁸ DIV total — exact longs), HHI = Σ s8² as
    * an exact DECIMAL(38,0) sum (s8 ≤ 10⁸ ⇒ s8² ≤ 10¹⁶; 10²² digits
    * of headroom at any customer count) — deterministic where a
    * double Σ share² would be partition-order-dependent. /10¹⁶ at
    * display. Shape: one orders-keyed aggregate, one BROADCAST
    * customer attach, one nation aggregate — the corpus is touched
    * once and nothing data-scale crosses a second exchange. */
  def aggHerfindahlShare(spark: SparkSession, sf: String): DataFrame = {
    val dim = customer(spark, sf).select(col("c_custkey"), col("c_nationkey"))
    // per-customer national spend — the staged intermediate BOTH the
    // totals and the share pass read (localCheckpoint: without it the
    // corpus aggregate re-runs per consumer; at 100 TB this is the
    // persisted per-customer stage, customer-scale, far below corpus)
    val perCust = orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("c"))
      .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nation_key"), col("c"))
      .localCheckpoint()
    val totals = perCust.groupBy(col("nation_key"))
      .agg(sum(col("c")).as("tot"), count(lit(1)).as("n_customers"))
    perCust
      .join(broadcast(totals), "nation_key")
      .withColumn("s8", expr("c * 100000000 DIV tot"))
      .groupBy(col("nation_key"))
      .agg(max(col("n_customers")).as("n_customers"),
        (max(col("tot")).cast("double") / 100).as("total_revenue"),
        (sum(dec(col("s8"), 38, 0) * col("s8")).cast("double") / 1e16)
          .as("hhi"),
        (max(col("s8")).cast("double") / 1e8).as("top_share"))
      .orderBy(col("nation_key"))
  }

  /** Per-value counts of the two #183 md5 arms over events' 2dp
    * value: one row per distinct `v` with `na` / `nb` (the KS and
    * Mann–Whitney distinct-value table). */
  private def abCountsByValue(spark: SparkSession, sf: String): DataFrame = {
    val arm = when(
      expArm2IsA,
      lit("A")).otherwise(lit("B"))
    events(spark, sf)
      .select(money(col("value")).as("v"), arm.as("arm"))
      .groupBy(col("v"))
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("na"),
           sum(when(col("arm") === "B", 1L).otherwise(0L)).as("nb"))
  }

  /** The #203 distributed prefix over a distinct-value table `byV`
    * (value column `v`, bucket column `bkt`): for each `(count, bucket
    * total, offset)` name triple, the count summed per bucket and its
    * exclusive running sum over the metadata-scale bucket table,
    * broadcast back onto `byV` (bucket key `bkt_o`). Returns the
    * joined table and the per-bucket local window ordered by `v`,
    * ending `frameEnd` rows from the current one (0 inclusive, −1
    * exclusive) — never a single-partition window over the values. */
  private def bucketOffsets(byV: DataFrame, v: String,
      counts: Seq[(String, String, String)],
      frameEnd: Long): (DataFrame, WindowSpec) = {
    val totals = byV.groupBy(col("bkt")).agg(
      sum(col(counts.head._1)).as(counts.head._2),
      counts.tail.map { case (c, b, _) => sum(col(c)).as(b) }: _*)
    val wKey = coalesce(pmod(col("bkt"), lit(1)), lit(0L))
    val wOff = Window.partitionBy(wKey).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = counts.foldLeft(totals) { case (df, (_, b, off)) =>
        df.withColumn(off, coalesce(sum(col(b)).over(wOff), lit(0L)))
      }
      .select(col("bkt").as("bkt_o") +: counts.map(c => col(c._3)): _*)
    val wLoc = Window.partitionBy(col("bkt")).orderBy(col(v))
      .rowsBetween(Window.unboundedPreceding, frameEnd)
    (byV.join(broadcast(offs), col("bkt") <=> col("bkt_o")), wLoc)
  }

  /** #216's rank base: `cb`, the number of rows with a smaller value,
    * beside each row of the distinct-value table `byV` (count `t`), so
    * 2·avgrank(v) = 2·cb + t + 1 is an exact integer. */
  private def countBefore(byV: DataFrame, v: String): DataFrame = {
    val (withOffs, wLoc) = bucketOffsets(byV, v, Seq(("t", "bt", "off")), -1)
    withOffs
      .withColumn("cb", col("off") + coalesce(sum(col("t")).over(wLoc), lit(0L)))
  }

  /** #203 — two-sample Kolmogorov–Smirnov test (round 12; the
    * distribution-shift detector behind every data-drift monitor —
    * #175's t-test sees mean shifts, KS sees ANY shape change):
    * events split into the #183 md5 arms, D = sup_v |F_A(v) − F_B(v)|
    * over the empirical CDFs of `value`. Exactness: the sup is taken
    * over the DISTINCT-value table with ECDFs compared as
    * cross-multiplied INTEGERS — |cum_a·n_b − cum_b·n_a| — so the
    * argsup needs no tolerance; only the final D and the critical
    * value c(α)·√((n_a+n_b)/(n_a·n_b)) (α = .05, c = 1.3581…, both
    * engines evaluating the identical double expression over exact
    * longs) are doubles. Shape: one keyed count aggregate to the
    * distinct-value table, then the [[graft.api.Transforms]]
    * distributed-prefix idiom (per-bucket cumsums + broadcast bucket
    * offsets over floor(value) buckets — no single-partition window
    * over the value table), then a 1-row max. At 100 TB the distinct
    * table is the only corpus-scale exchange. */
  def aggKsTest(spark: SparkSession, sf: String): DataFrame = {
    val byV = abCountsByValue(spark, sf)
      .withColumn("bkt", floor(col("v") / 10))
    // distributed prefix-sums of the two arm counts: per-bucket local
    // cumsum + exclusive offsets over the metadata-scale bucket table
    val (withOffs, wLoc) = bucketOffsets(byV, "v",
      Seq(("na", "bna", "offa"), ("nb", "bnb", "offb")), 0)
    val cum = withOffs
      .withColumn("cuma", col("offa") + sum(col("na")).over(wLoc))
      .withColumn("cumb", col("offb") + sum(col("nb")).over(wLoc))
    val tot = byV.agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"))
    cum.crossJoin(broadcast(tot))
      // cross-multiplied ECDF comparison in DECIMAL(38,0): exact at any
      // n (long products overflow past ~3e9 rows/arm; DuckDB's HUGEINT
      // side is already 128-bit)
      .agg(max(abs(dec(col("cuma"), 38, 0) * col("n_b") -
                   dec(col("cumb"), 38, 0) * col("n_a")))
        .as("dnum"), first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
      .select(col("n_a"), col("n_b"),
        round(col("dnum").cast("double") / (col("n_a") * col("n_b")), 6)
          .as("ks_d"),
        round(lit(1.3581015157406195) *
          sqrt((col("n_a") + col("n_b")).cast("double") /
               (col("n_a") * col("n_b"))), 6).as("d_crit"),
        (col("dnum").cast("double") / (col("n_a") * col("n_b")) >
          lit(1.3581015157406195) *
          sqrt((col("n_a") + col("n_b")).cast("double") /
               (col("n_a") * col("n_b")))).as("reject_h0"))
  }

  /** #216 — two-sample Mann–Whitney U test (round 12; the
    * nonparametric LOCATION test that completes the experimentation
    * battery — #175's t assumes normal-ish means, #203's KS detects
    * any shape change, MW-U detects a rank shift without either
    * assumption, the standard readout for skewed revenue metrics):
    * events split into the #183 md5 arms, U_A derived from the
    * tie-averaged rank sum of arm A, z-scored with the exact tie
    * correction σ² = (n_a·n_b/12)·((n+1) − Σ(t³−t)/(n(n−1))).
    * Exactness: ranks live in HALF-UNITS so they stay integral —
    * 2·avgrank(v) = 2·cum_before(v) + t(v) + 1 — and the rank sum
    * 2·R_A = Σ n_a(v)·(2cb+t+1) and tie term Σ(t³−t) are exact
    * DECIMAL(38,0) sums over the distinct-value table (t ≤ n so t³
    * fits at any realistic n; longs would overflow past n ≈ 2×10⁶
    * ties); U, μ_U, σ_U and z are then identical double expressions
    * over those exact integers in both engines, the rejection flag
    * compares the UNROUNDED z to the two-sided 5% literal 1.959964,
    * and only the displayed z is 6dp-rounded. Shape: one keyed count
    * aggregate to the distinct-value table, the #203 distributed-
    * prefix cumsum (per-bucket local windows + broadcast exclusive
    * offsets — no single-partition window over values), one 1-row
    * fold. At 100 TB the distinct table is the only corpus-scale
    * exchange, same as KS. */
  def aggMannwhitneyU(spark: SparkSession, sf: String): DataFrame = {
    val byV = abCountsByValue(spark, sf)
      .withColumn("t", col("na") + col("nb"))
      .withColumn("bkt", floor(col("v") / 10))
    // distributed prefix-sum of the combined count: per-bucket local
    // cumsum (exclusive) + broadcast bucket offsets — #203's idiom
    val cum = countBefore(byV, "v")
    val folded = cum.agg(
      sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
      sum(dec(col("na"), 38, 0) * (col("cb") * 2 + col("t") + 1)).as("r2a"),
      sum(dec(col("t"), 38, 0) * col("t") * col("t") - col("t")).as("tie3"))
    val uA = (col("r2a") - dec(col("n_a"), 38, 0) * col("n_a") - col("n_a"))
      .cast("double") / lit(2)
    val zRaw = (uA - col("n_a").cast("double") * col("n_b") / lit(2)) /
      sqrt(col("n_a").cast("double") * col("n_b") / lit(12) *
        ((col("n_a") + col("n_b") + 1) -
         col("tie3").cast("double") /
           ((col("n_a") + col("n_b")) *
            (col("n_a") + col("n_b") - 1).cast("double"))))
    folded.select(col("n_a"), col("n_b"), uA.as("u_a"),
      round(zRaw, 6).as("z"), (abs(zRaw) > lit(1.959964)).as("reject_h0"))
  }

  /** #222 — one-pass covariance / correlation matrix (round 12; the
    * multivariate completion of #26's per-column moments and #111's
    * single-pair regression — the feature-covariance pass every
    * feature-selection / PCA-prep pipeline runs): over lineitem's
    * four 2dp-money measures, ONE hash aggregate computes n, the 4
    * exact-DECIMAL sums Σxᵢ and the 10 exact-DECIMAL product sums
    * Σxᵢxⱼ (i ≤ j), then the 10 (pair, cov, corr) rows assemble from
    * the 1-row result via an inline explode — the moment matrix
    * shuffles ONE row regardless of corpus size, the textbook
    * "sufficient statistics" shape. Exactness: the sums are exact
    * decimals; covₚₒₚ = (n·Σxy − Σx·Σy)/n² and the correlation
    * assemble as identical double expressions over the exact sums in
    * both engines (the #175 policy — doubles only after the exact
    * aggregate), displayed at 6dp; diagonal corr pins exactly 1.0
    * via the same formula, a built-in self-check. At 100 TB: k
    * columns cost k(k+3)/2 partial-aggregated sums in the same
    * single pass — no per-pair scans.
    *
    * Round 17 (data-path comparator): the moments run on the CENTS
    * grid as a LONG-CHUNKED exact fold — per-row products are codegen
    * long multiplies (cents ≤ ~1e7, products ≤ ~1.2e14), partial-
    * summed per ≤8192-row chunk (8192 × 1.2e14 ≪ 2⁶³, ANSI mode
    * guards the bound) so the hot loop is whole-stage-codegen long
    * arithmetic, and only the ~n/8192 chunk subtotals fold into
    * DECIMAL(38,0) — the same exact integers the one-shot decimal
    * aggregate produced, at a fraction of the cost (the all-decimal
    * fold measured 0.94 s of sf0.01→sf0.1 slope vs DuckDB's 0.03 s;
    * the chunked fold closes that gap). Scale-0 cents² sums also keep
    * the decimal→double cast a SINGLE rounding in every engine at any
    * magnitude (the #275 lesson — scale-s casts double-round in
    * engines that divide by 10^s after an integer conversion). */
  def aggCorrMatrix(spark: SparkSession, sf: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- i until cols.length
    } yield (cols(i), cols(j))
    val cents = cols.map(c => (money(col(c)) * 100).cast("long").as(s"c_$c"))
    val chunked = lineitem(spark, sf).select(cents: _*)
      // monotonically_increasing_id = (partition << 33) | row-index,
      // so >>13 yields ≤8192-row blocks that never straddle
      // partitions — the partial agg is entirely map-side
      .withColumn("_chunk", shiftright(monotonically_increasing_id(), 13))
    val partials =
      Seq(count(lit(1)).as("pn")) ++
      cols.map(c => sum(col(s"c_$c")).as(s"ps_$c")) ++
      pairs.map { case (a, b) =>
        sum(col(s"c_$a") * col(s"c_$b")).as(s"pq_${a}_$b") }
    val chunkSums = chunked.groupBy(col("_chunk"))
      .agg(partials.head, partials.tail: _*)
    val folds =
      Seq(sum(col("pn")).as("n")) ++
      cols.map(c => sum(dec(col(s"ps_$c"), 38, 0)).as(s"s_$c")) ++
      pairs.map { case (a, b) =>
        sum(dec(col(s"pq_${a}_$b"), 38, 0)).as(s"q_${a}_$b") }
    val one = chunkSums.agg(folds.head, folds.tail: _*)
    val nD = col("n").cast("double")
    // num() is in cents² units; the 1e4 factor cancels inside corr
    // and divides out of cov_pop explicitly
    def num(a: String, b: String): Column =
      nD * col(s"q_${a}_$b").cast("double") -
        col(s"s_$a").cast("double") * col(s"s_$b").cast("double")
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("col_x"), lit(b).as("col_y"), col("n").as("n"),
        round(num(a, b) / (nD * nD) / lit(10000.0), 6).as("cov_pop"),
        round(num(a, b) / sqrt(num(a, a) * num(b, b)), 6).as("corr"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
      .orderBy(col("col_x"), col("col_y"))
  }

  /** #223 — exact winsorized and trimmed means (round 12; the robust-
    * metric hygiene pass — Tukey's answer to outlier-dominated KPIs,
    * what #149's MAD flags and this op corrects: clamp to the 5th/
    * 95th-percentile ORDER STATISTICS (winsorize) or drop outside
    * them (trim) before averaging). k₀₅ = n·5 DIV 100 and k₉₅ =
    * n·95 DIV 100 are EXACT integers; the three means are exact
    * DECIMAL sums with final double divisions at 6dp under #175's
    * scaled-integer display rounding.
    *
    * Round 17 (data-path comparator): SELECTION BY COUNTING replaces
    * the materialized global rank — every quantity this op emits
    * (boundary order-statistic VALUES, sums of the lowest-k values)
    * is invariant to tie ordering among equal values, so no per-row
    * rank is ever needed: (1) one histogram pass groups by coarse
    * value bucket (count + exact sum — ~dozen rows); (2) a metadata
    * prefix locates the ≤3 buckets containing ranks k₀₅, k₀₅+1, k₉₅;
    * (3) a second pass groups ONLY those buckets by exact value
    * (per-value counts — grid-bounded, metadata-scale), and a
    * per-value prefix yields the boundary values and exact lowest-k
    * sums, with partial-tie take (k − cum)·v as an exact decimal
    * product. Winsorized sum assembles algebraically: k₀₅·lo +
    * (Σ_low(k₉₅) − Σ_low(k₀₅)) + (n−k₉₅)·hi. Replaces the previous
    * prefix-rank + localCheckpoint pipeline (1.0 s of sf0.01→sf0.1
    * slope → the cost of two narrow scans); at 100 TB both passes are
    * partial-aggregated histograms and everything downstream is
    * metadata-scale — strictly better than shipping a ranked copy of
    * the corpus through a checkpoint. */
  def aggWinsorizedMean(spark: SparkSession, sf: String): DataFrame = {
    val dec0 = lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")
    val cent = lit(new java.math.BigDecimal("0.01"))
    def dollars(centsDec: Column): Column = centsDec.cast(DecimalType(38, 0)) * cent
    // corpus pass 1: cents-long histogram with the #222 chunk fold —
    // per-row work is a long DIV and long adds in codegen; per-chunk
    // partials (≤8192 × ~1e7 cents ≪ 2⁶³) fold to exact DECIMAL
    // bucket sums on the ~dozen-row table
    val c = lineitem(spark, sf)
      .select((money(col("l_extendedprice")) * 100).cast("long").as("vc"))
      .withColumn("bkt", expr("vc DIV 1000000"))
    val chunkAgg = c
      .withColumn("_chunk", shiftright(monotonically_increasing_id(), 13))
      .groupBy(col("bkt"), col("_chunk"))
      .agg(count(lit(1)).as("pc"), sum(col("vc")).as("ps"))
    val stats = chunkAgg.groupBy(col("bkt"))
      .agg(sum(col("pc")).as("c"), sum(dec(col("ps"), 38, 0)).as("s"))
    // metadata-scale prefix over the ~dozen bucket rows (the #204
    // constant-but-non-foldable partition-key idiom)
    val wKey = coalesce(pmod(col("bkt"), lit(1)), lit(0L))
    val wOff = Window.partitionBy(wKey).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(wKey)
    val cum = stats
      .withColumn("below_c", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .withColumn("below_s", coalesce(sum(col("s")).over(wOff), dec0))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("stot", sum(col("s")).over(wAll))
      .withColumn("k05", expr("n * 5 DIV 100"))
      .withColumn("k95", expr("n * 95 DIV 100"))
      // ~dozen rows, THREE consumers (cand + glob + the pv meta
      // attach): the barrier stops the histogram pass over the
      // corpus from running once per consumer
      .localCheckpoint()
    def contains(t: Column) =
      col("below_c") < t && t <= col("below_c") + col("c")
    val cand = cum
      .filter(contains(col("k05")) || contains(col("k05") + 1) ||
        contains(col("k95")))
      .select(col("bkt").as("cb"))
    val glob = cum.agg(max(col("n")).as("n"), max(col("stot")).as("stot"),
      max(col("k05")).as("k05"), max(col("k95")).as("k95"))
    // corpus pass 2: LONG-keyed per-value counts over just the ≤3
    // boundary buckets (grid-bounded output); bucket metadata joins
    // onto the tiny per-value table afterwards, never onto the corpus
    val perVal = c.join(broadcast(cand), col("bkt") === col("cb"))
      .groupBy(col("bkt"), col("vc")).agg(count(lit(1)).as("cnt"))
    val wv = Window.partitionBy(col("bkt")).orderBy(col("vc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pv = perVal
      .join(broadcast(cum.select(col("bkt"), col("below_c"), col("below_s"))),
        "bkt")
      .withColumn("cum_c",
        col("below_c") + coalesce(sum(col("cnt")).over(wv), lit(0L)))
      .withColumn("cum_s",
        col("below_s") +
          coalesce(sum(dec(col("vc"), 38, 0) * col("cnt")).over(wv), dec0))
      .crossJoin(broadcast(glob))
    def valAt(t: Column) =
      max(when(col("cum_c") < t && t <= col("cum_c") + col("cnt"), col("vc")))
    def sumLow(t: Column) =
      max(when(col("cum_c") < t && t <= col("cum_c") + col("cnt"),
        col("cum_s") + (t - col("cum_c")) * dec(col("vc"), 38, 0)))
    val folded = pv.groupBy(col("n"), col("stot"), col("k05"), col("k95"))
      .agg(valAt(col("k05") + 1).as("lo"), valAt(col("k95")).as("hi"),
        coalesce(sumLow(col("k05")), dec0).as("sl05"),
        sumLow(col("k95")).as("sl95"))
    // winsorized sum assembles algebraically in exact cents decimals,
    // then converts to the dollar grid via one exact ×0.01 before the
    // double cast — identical values to summing DECIMAL(18,2) rows
    val swin = col("k05") * dec(col("lo"), 38, 0) +
      (col("sl95") - col("sl05")) +
      (col("n") - col("k95")) * dec(col("hi"), 38, 0)
    val strim = col("sl95") - col("sl05")
    folded.select(col("n").as("n_rows"),
      dollars(col("lo")).cast("double").as("p05"),
      dollars(col("hi")).cast("double").as("p95"),
      // #175's scaled-integer display rounding: floor(x·10⁶ + ½) is
      // engine-identical by construction where round() can split on
      // a .5·10⁻⁶ boundary (observed: the winsorized quotient of 2dp
      // sums over n lands exactly on one)
      (floor(dollars(col("stot")).cast("double") / col("n") * 1000000 + 0.5) /
        1000000.0).as("mean_raw"),
      (floor(dollars(swin).cast("double") / col("n") * 1000000 + 0.5) /
        1000000.0).as("mean_winsorized"),
      (floor(dollars(strim).cast("double") / (col("k95") - col("k05")) *
        1000000 + 0.5) / 1000000.0).as("mean_trimmed"))
  }

  /** #228 — tail risk: Value-at-Risk + expected shortfall (round 12;
    * the Basel/RiskMetrics pair, equally the SLO tail-latency readout
    * — VaR_p is the exact p-quantile ORDER STATISTIC, ES_p the exact
    * mean BEYOND it, the coherent risk measure VaR alone is not):
    * over per-order revenue under the #223 machinery — global
    * deterministic rank via the distributed prefix rank (never a
    * single-partition window), k₉₅/k₉₉ exact integers, VaR the 1-row
    * rank pick, ES an exact-DECIMAL conditional sum divided by the
    * exact tail count (n − k), displayed under the #223 scaled-
    * integer contract. One ranked pass (localCheckpoint'd — two
    * consumers), one bounds broadcast, one aggregate. */
  def aggTailRisk(spark: SparkSession, sf: String): DataFrame = {
    val v = orders(spark, sf)
      .select(money(col("o_totalprice")).as("v"), col("o_orderkey"))
    val ranked = graft.api.Transforms.globalRowNumber(v,
        struct(col("v"), col("o_orderkey")),
        floor(col("v") / 100000L))
      .withColumnRenamed("__row_number", "rk")
      .select(col("v"), col("rk"))
      .localCheckpoint()
    val tot = ranked.agg(count(lit(1)).as("n"))
    val wb = ranked.crossJoin(broadcast(tot))
    val k95 = expr("n * 95 DIV 100")
    val k99 = expr("n * 99 DIV 100")
    val bounds = wb.agg(
      max(when(col("rk") === k95, col("v"))).as("var95"),
      max(when(col("rk") === k99, col("v"))).as("var99"))
    wb.crossJoin(broadcast(bounds))
      .groupBy(col("n"), col("var95"), col("var99"))
      .agg(sum(when(col("rk") > k95, col("v"))).as("t95"),
           sum(when(col("rk") > k99, col("v"))).as("t99"))
      .select(col("n").as("n_orders"),
        col("var95").cast("double").as("var_95"),
        col("var99").cast("double").as("var_99"),
        fp6(col("t95").cast("double") / expr("n - n * 95 DIV 100"))
          .as("es_95"),
        fp6(col("t99").cast("double") / expr("n - n * 99 DIV 100"))
          .as("es_99"))
  }

  /** #204 — Gini coefficient / revenue concentration (round 12; the
    * inequality statistic of every marketplace health dashboard):
    * over per-customer order revenue x₍ᵢ₎ ranked ascending,
    * G = (2·Σ i·xᵢ − (N+1)·Σxᵢ) / (N·Σxᵢ), plus the top-decile
    * revenue share (revenue held by the N DIV 10 highest-ranked
    * customers). The global rank comes from
    * [[graft.api.Transforms.globalRowNumber]] — the distributed
    * prefix-sum rank over floor(rev/100k) coarse buckets (monotone in
    * the rank order; percentile-sketch bucketization, #36's helper,
    * is the drop-in when the range is unknown) — never a
    * single-partition window over customers. Exactness: revenue is
    * DECIMAL(18,2), rank·revenue products and all three sums are
    * exact decimals (rank ≤ 2³¹ · rev ≤ 10¹⁶ fits DECIMAL(38,2)), so
    * both Gini and the decile share are single exact-double divisions
    * at the end, 6 dp-rounded. Ties on revenue are rank-broken by
    * custkey, which cannot move either statistic (equal x, any
    * permutation of equal values leaves Σi·xᵢ unchanged within the
    * tie block… the tiebreak exists so the RANK ITSELF is
    * deterministic). */
  def aggGiniConcentration(spark: SparkSession, sf: String): DataFrame =
    rankedRevenue(spark, sf)
      .agg(first(col("n_customers")).as("n_customers"),
        first(col("tot")).as("tot"),
        sum(dec(col("rk") * col("rev"), 38, 2)).as("ranksum"),
        sum(when(col("rk") > col("n_customers") -
                 expr("n_customers DIV 10"), col("rev"))).as("top_rev"))
      .select(col("n_customers"), col("tot").cast("double").as("total_rev"),
        round((lit(2.0) * col("ranksum").cast("double") -
               (col("n_customers") + 1) * col("tot").cast("double")) /
              (col("n_customers") * col("tot").cast("double")), 6).as("gini"),
        round(col("top_rev").cast("double") / col("tot").cast("double"), 6)
          .as("top_decile_share"))

  /** Per-customer exact revenue `rev` ranked `rk` 1..n under the
    * (rev, custkey) total order by the #36 distributed row number,
    * crossed with the 1-row totals (`n_customers`, `tot`) — the shared
    * base of #204's Gini and the Pareto share curve. */
  private def rankedRevenue(spark: SparkSession, sf: String): DataFrame = {
    val rev = orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(money(col("o_totalprice"))).as("rev"))
    val ranked = graft.api.Transforms.globalRowNumber(rev,
        struct(col("rev"), col("o_custkey")),
        floor(col("rev") / 100000L))
      .withColumnRenamed("__row_number", "rk")
    val tot = ranked.agg(count(lit(1)).as("n_customers"),
      sum(col("rev")).as("tot"))
    ranked.crossJoin(broadcast(tot))
  }

  /** #205 — RFM customer segmentation (round 12; the
    * recency/frequency/monetary quartile grid of every CRM /
    * marketing-analytics stack): per customer R = days from last
    * order to the corpus max order date, F = order count, M = exact
    * DECIMAL spend; each dimension quartiled 1–4 by
    * [[graft.api.Transforms.ntileBySketch]] — EXACT SQL NTILE
    * semantics via the percentile-sketch coarse buckets + distributed
    * prefix-rank (#36's machinery; never a single-partition window
    * over customers), ties broken by custkey so the assignment is
    * deterministic; then one segment aggregate: customers, mean spend
    * and mean recency per (r,f,m) cell (≤64 rows). The oracle replays
    * the same quartiles with plain NTILE(4) windows — exact-ntile
    * equivalence is what the helper guarantees. */
  def aggRfmSegments(spark: SparkSession, sf: String): DataFrame = {
    import graft.api.Transforms.ntileBySketch
    val per = orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_dt"),
           count(lit(1)).as("n_orders"),
           sum(money(col("o_totalprice"))).as("spend"))
    val maxd = per.agg(max(col("last_dt")).as("ref_dt"))
    // checkpoint BETWEEN the chained ntile passes: each pass's sketch
    // is an eager job over its input, so without a barrier pass 3
    // re-executes pass 1+2's whole rank machinery once per internal
    // branch (sketch, bucket counts, join back) — measured 5.4 s at
    // sf0.1 vs ~2 s checkpointed. The checkpointed tables are
    // CUSTOMER-scale (bounded by keys, not orders), the same
    // deliberate materialization as the iterative graph ops.
    val base = per.crossJoin(broadcast(maxd))
      .withColumn("recency_days",
        datediff(to_date(col("ref_dt")), to_date(col("last_dt"))).cast("long"))
      .localCheckpoint()
    val r = ntileBySketch(base, col("recency_days"),
        struct(col("recency_days"), col("o_custkey")), 4)
      .withColumnRenamed("ntile", "r_q")
      .localCheckpoint()
    val f = ntileBySketch(r, col("n_orders"),
        struct(col("n_orders"), col("o_custkey")), 4)
      .withColumnRenamed("ntile", "f_q")
      .localCheckpoint()
    val m = ntileBySketch(f, col("spend"),
        struct(col("spend"), col("o_custkey")), 4)
      .withColumnRenamed("ntile", "m_q")
    m.groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("spend")).cast("double") / count(lit(1)), 4)
          .as("avg_spend"),
        round(sum(col("recency_days")).cast("double") / count(lit(1)), 4)
          .as("avg_recency"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  /** The 3-way experiment arm used by #229/#230: md5 of the user id,
    * first hex char's code point mod 3 — the deterministic hash-split
    * every multi-variant experiment uses, the k=3 extension of the
    * #183 two-arm split. */
  private def arm3: Column =
    ascii(substring(md5(col("user_id").cast("string")), 1, 1)) % 3

  /** #229 — one-way ANOVA F test (round 13; Fisher 1925 — the k-sample
    * MEAN test completing the experimentation battery's parametric
    * side: #175's t compares two means, ANOVA compares k of them in
    * one shot, the standard readout of a multi-variant experiment):
    * events split into THREE md5 arms (mod 3), F = (SSB/(k−1)) /
    * (SSW/(N−k)) from per-arm exact moments. Exactness: ONE keyed
    * corpus aggregate produces per-arm n, Σv, Σv² as exact DECIMALs
    * (v is 2dp money, v² re-cast to DECIMAL(38,4) pre-sum — order-
    * independent); SSB = Σⱼ Sⱼ²/nⱼ − S²/N and SSW = Σⱼ Qⱼ − Σⱼ Sⱼ²/nⱼ
    * are then identical double expressions over those exact sums in
    * both engines (#175 policy), the rejection flag compares the
    * UNROUNDED F to the F(.05; 2, ∞) literal 2.995732 (fixture-pinned
    * like #175's z literals; N−k ≈ 6×10⁴ ≫ the asymptote), and only
    * the displayed SSB/SSW/F are 6dp. Shape: one partial-aggregated
    * corpus pass to a 1-row frame — at 100 TB nothing but the
    * conditional-sum aggregate touches the corpus. */
  def aggAnovaF(spark: SparkSession, sf: String): DataFrame = {
    val v = money(col("value"))
    val v2 = dec(v * v, 38, 4)
    def armAgg(g: Int, e: Column) = sum(when(arm3 === g, e))
    val one = events(spark, sf)
      .select(col("user_id"), col("value"))
      .agg(
        count(when(arm3 === 0, lit(1))).as("n_a"),
        count(when(arm3 === 1, lit(1))).as("n_b"),
        count(when(arm3 === 2, lit(1))).as("n_c"),
        armAgg(0, v).as("s_a"), armAgg(1, v).as("s_b"),
        armAgg(2, v).as("s_c"),
        armAgg(0, v2).as("q_a"), armAgg(1, v2).as("q_b"),
        armAgg(2, v2).as("q_c"))
    def d(c: Column) = c.cast("double")
    val bigN = d(col("n_a")) + d(col("n_b")) + d(col("n_c"))
    val s = d(col("s_a")) + d(col("s_b")) + d(col("s_c"))
    val sjsq = d(col("s_a")) * d(col("s_a")) / d(col("n_a")) +
      d(col("s_b")) * d(col("s_b")) / d(col("n_b")) +
      d(col("s_c")) * d(col("s_c")) / d(col("n_c"))
    val q = d(col("q_a")) + d(col("q_b")) + d(col("q_c"))
    val ssb = sjsq - s * s / bigN
    val ssw = q - sjsq
    val f = (ssb / lit(2.0)) / (ssw / (bigN - lit(3.0)))
    one.select(col("n_a"), col("n_b"), col("n_c"),
      round(ssb, 6).as("ss_between"), round(ssw, 6).as("ss_within"),
      round(f, 6).as("f_stat"), (f > lit(2.995732)).as("reject_h0"))
  }

  /** #230 — Kruskal–Wallis H test (round 13; Kruskal & Wallis 1952 —
    * the k-sample extension of #216's Mann–Whitney: a rank-based
    * location test across all three md5 arms at once, the
    * nonparametric counterpart of #229 for skewed metrics): H =
    * 12/(N(N+1)) · Σⱼ Rⱼ²/nⱼ − 3(N+1) over tie-averaged ranks,
    * tie-corrected H' = H / (1 − Σ(t³−t)/(N³−N)). Exactness: #216's
    * half-unit rank identity verbatim — 2·avgrank(v) = 2·cum_before
    * + t + 1 over the DISTINCT-value table, so the three rank sums
    * 2Rⱼ = Σ nⱼ(v)·(2cb+t+1) and the tie term Σ(t³−t) are exact
    * DECIMAL(38,0) sums; H, the correction and the χ²(.05, k−1=2)
    * comparison against 5.991465 are identical double expressions
    * over those integers, flag on the UNROUNDED value, displays 6dp.
    * Shape: one keyed count aggregate to the distinct-value table +
    * the #203 distributed-prefix cumsum (per-bucket local windows +
    * broadcast exclusive bucket offsets — never a single-partition
    * window over values) + one 1-row fold; at 100 TB the distinct
    * table is the only corpus-scale exchange. */
  def aggKruskalWallis(spark: SparkSession, sf: String): DataFrame = {
    val byV = events(spark, sf)
      .select(money(col("value")).as("v"), arm3.as("g"))
      .groupBy(col("v"))
      .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("na"),
           sum(when(col("g") === 1, 1L).otherwise(0L)).as("nb"),
           sum(when(col("g") === 2, 1L).otherwise(0L)).as("nc"))
      .withColumn("t", col("na") + col("nb") + col("nc"))
      .withColumn("bkt", floor(col("v") / 10))
    val cum = countBefore(byV, "v")
    val r2 = col("cb") * 2 + col("t") + 1
    val folded = cum.agg(
      sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
      sum(col("nc")).as("n_c"),
      sum(dec(col("na"), 38, 0) * r2).as("r2a"),
      sum(dec(col("nb"), 38, 0) * r2).as("r2b"),
      sum(dec(col("nc"), 38, 0) * r2).as("r2c"),
      sum(dec(col("t"), 38, 0) * col("t") * col("t") - col("t")).as("tie3"))
    def d(c: Column) = c.cast("double")
    val bigN = d(col("n_a")) + d(col("n_b")) + d(col("n_c"))
    // Rj = r2j/2; Σ Rj²/nj with the /4 folded out front
    val rsq = d(col("r2a")) * d(col("r2a")) / d(col("n_a")) +
      d(col("r2b")) * d(col("r2b")) / d(col("n_b")) +
      d(col("r2c")) * d(col("r2c")) / d(col("n_c"))
    val h = lit(12.0) / (bigN * (bigN + 1)) * (rsq / lit(4.0)) -
      lit(3.0) * (bigN + 1)
    val hc = h / (lit(1.0) - d(col("tie3")) / (bigN * bigN * bigN - bigN))
    folded.select(col("n_a"), col("n_b"), col("n_c"),
      round(h, 6).as("h_stat"), round(hc, 6).as("h_tie_corrected"),
      (hc > lit(5.991465)).as("reject_h0"))
  }

  /** #231 — Spearman rank correlation (round 13; Spearman 1904 — the
    * monotone-association coefficient every EDA/feature-screening
    * pass runs beside Pearson #26: correlation of the RANKS, robust
    * to monotone transforms and outliers): ρ between l_quantity and
    * l_extendedprice over lineitem, with ties averaged (the
    * textbook tie treatment — Pearson applied to average ranks).
    * Exactness: both rank tables use #216's half-unit identity
    * (2·avgrank = 2·cum_before + t + 1 on the DISTINCT-value table
    * via the #203 prefix idiom), so every rank is an exact integer
    * in doubled units and the five folded sums (n, Σ2rx, Σ2ry,
    * Σ(2rx)², Σ(2ry)², Σ2rx·2ry) are exact DECIMAL(38,0); ρ =
    * (n·Sxy − Sx·Sy)/√((n·Sxx − Sx²)(n·Syy − Sy²)) is one identical
    * double expression over them (#175 policy), 6dp display; the
    * doubled units cancel. Self-checks ride along: Σ2r = n(n+1)
    * exactly for BOTH columns (emitted as booleans). Shape: two
    * distinct-value rank tables (keyed aggregate + prefix cumsum
    * each), two row-level equi-joins keyed by value to attach ranks,
    * one 1-row fold — at 100 TB the joins shuffle on the value key
    * and everything else is metadata-scale. */
  def aggSpearmanCorr(spark: SparkSession, sf: String): DataFrame = {
    val rows = lineitem(spark, sf)
      .select(money(col("l_quantity")).as("vx"),
              money(col("l_extendedprice")).as("vy"))
    // distinct-value → (v, r2 = 2·avgrank) via the #203/#216 idiom
    def rank2(vals: DataFrame, vc: String, bktWidth: Int): DataFrame = {
      val byV = vals.groupBy(col(vc)).agg(count(lit(1)).as("t"))
        .withColumn("bkt", floor(col(vc) / bktWidth))
      countBefore(byV, vc).select(col(vc), (col("cb") * 2 + col("t") + 1).as(s"r2_$vc"))
    }
    val rx = rank2(rows.select(col("vx")), "vx", 10)
    val ry = rank2(rows.select(col("vy")), "vy", 10000)
    val j = rows.join(rx, "vx").join(ry, "vy")
    val folded = j.agg(
      count(lit(1)).as("n"),
      sum(dec(col("r2_vx"), 38, 0)).as("sx"),
      sum(dec(col("r2_vy"), 38, 0)).as("sy"),
      sum(dec(col("r2_vx"), 38, 0) * col("r2_vx")).as("sxx"),
      sum(dec(col("r2_vy"), 38, 0) * col("r2_vy")).as("syy"),
      sum(dec(col("r2_vx"), 38, 0) * col("r2_vy")).as("sxy"))
    def d(c: Column) = c.cast("double")
    val num = d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
    val den = sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
                   (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))))
    folded.select(col("n").as("n_rows"),
      round(num / den, 6).as("spearman_rho"),
      (col("sx") === dec(col("n"), 38, 0) * (col("n") + 1)).as("rank_sum_ok_x"),
      (col("sy") === dec(col("n"), 38, 0) * (col("n") + 1)).as("rank_sum_ok_y"))
  }

  /** #233 — fixed-width numeric histogram (round 13; the
    * distribution readout of every data-profiling / drift dashboard,
    * the exact-bin counterpart of #182's approx quantiles): order
    * totals bucketed into exact 25 000.00-wide bins with per-bin
    * counts, shares, and the cumulative ogive. Exactness: the bin
    * index is pure INTEGER arithmetic — the 2dp money value scaled
    * to cents and integer-DIV'd by 2 500 000 — so bin edges have no
    * double-boundary class at all (the #224 first-digit policy);
    * shares are identical double divisions over exact longs, 6dp.
    * Shape: ONE keyed corpus aggregate to the ≤ ~30-row bin table;
    * the cumulative window runs over that METADATA-scale table (the
    * #201 argument — a single-partition window over ~30 rows, never
    * over the corpus). At 100 TB this is a pure map + one partial-
    * aggregated exchange. */
  def aggHistogramNumeric(spark: SparkSession, sf: String): DataFrame = {
    val binned = orders(spark, sf)
      .select(expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
          " DIV 2500000").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_orders"))
    val tot = binned.agg(sum(col("n_orders")).as("n"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    binned.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("n_orders")).over(w))
      .select(col("bin"),
        (col("bin") * 25000).cast("double").as("lo"),
        ((col("bin") + 1) * 25000).cast("double").as("hi"),
        col("n_orders"),
        round(col("n_orders").cast("double") / col("n"), 6).as("share"),
        round(col("cum").cast("double") / col("n"), 6).as("cum_share"))
      .orderBy(col("bin"))
  }

  /** #240 — Cramér's V effect size (round 13; Cramér 1946 — what the
    * #215 χ² test cannot say: at n = 10⁵ ANY real association is
    * "significant", so every A/B/DQ readout pairs the test with an
    * EFFECT SIZE; V = √(χ²/(n·(min(r,c)−1))) ∈ [0,1] is the standard
    * one for contingency tables): the #215 machinery verbatim
    * (zero-filled marginal grid via [[contingencyCells]], per-cell
    * terms on the 8dp DECIMAL grid so χ² is an exact
    * order-independent sum), then V as one identical double
    * expression over (χ², n, r, c), displayed on the #175 6dp
    * scaled-integer grid. Shape: one keyed corpus aggregate + the
    * metadata-scale marginal grid — the #215 posture. */
  def aggCramersV(spark: SparkSession, sf: String): DataFrame = {
    val agg = contingencyCells(spark, sf)
      .agg(max(col("n")).as("n_orders"),
        countDistinct(col("st")).cast("long").as("n_rows"),
        countDistinct(col("pri")).cast("long").as("n_cols"),
        sum(chi2Term).cast("double").as("chi2"))
    agg.select(col("n_orders"), col("n_rows"), col("n_cols"), col("chi2"),
      fp6(sqrt(col("chi2") / (col("n_orders").cast("double") *
        (least(col("n_rows"), col("n_cols")) - 1).cast("double"))))
        .as("cramers_v"))
  }

  /** #245 — exponential (power-of-2) histogram (round 13; the
    * DDSketch/OTel-exponential-histogram SHAPE — relative-error bins
    * that every observability backend uses for latency/money
    * distributions spanning orders of magnitude, where #233's fixed
    * 25k-wide bins would put 90% of mass in two buckets): bucket =
    * ⌊log₂(cents)⌋ computed EXACTLY as the binary-string length of
    * the 2dp-exact integer cents (`length(bin(x))` — no floating
    * log anywhere, the #233/#224 integer-boundary policy), per-bin
    * counts/shares and the ogive as in #233; lo/hi edges are exact
    * powers of two. Shape: ONE keyed corpus aggregate to the ≤~64-row
    * bin table + a metadata-scale cumulative window (#201's
    * argument). */
  def aggLog2Histogram(spark: SparkSession, sf: String): DataFrame = {
    val cents = expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val binned = orders(spark, sf)
      .select(length(bin(cents)).cast("long").as("bin2"))
      .groupBy(col("bin2")).agg(count(lit(1)).as("n_orders"))
    val tot = binned.agg(sum(col("n_orders")).as("n"))
    val w = Window.orderBy(col("bin2"))
      .rowsBetween(Window.unboundedPreceding, 0)
    binned.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("n_orders")).over(w))
      .select(col("bin2"),
        pow(lit(2.0), col("bin2") - 1).as("lo_cents"),
        pow(lit(2.0), col("bin2")).as("hi_cents"),
        col("n_orders"),
        round(col("n_orders").cast("double") / col("n"), 6).as("share"),
        round(col("cum").cast("double") / col("n"), 6).as("cum_share"))
      .orderBy(col("bin2"))
  }

  /** #247 — Pareto concentration ladder (round 13; the "what share of
    * revenue comes from the top x% of customers" readout behind every
    * 80/20 claim — #204's Gini compresses concentration to one
    * number, this shows the CURVE at the 1/5/10/20% cut points the
    * business actually asks about): per-customer exact spend, the
    * #204 distributed rank under the (spend, custkey) total order
    * (never a single-partition window), kₚ = ⌈p·n/100⌉ by PURE
    * INTEGER arithmetic ((n·p + 99) DIV 100), top-kₚ revenue as
    * conditional exact-DECIMAL sums in ONE aggregate, shares as
    * identical double divisions, 6dp. Shape: one customer-keyed
    * aggregate + the prefix-rank machinery + a 1-row fold unpivoted
    * to 4 rows — #204's posture with a stack. */
  def aggParetoShare(spark: SparkSession, sf: String): DataFrame = {
    val ps = Seq(1, 5, 10, 20)
    val conds = ps.map(p => sum(when(
      col("rk") > col("n_customers") - expr(s"(n_customers * $p + 99) DIV 100"),
      col("rev"))).as(s"top_$p"))
    val heads = Seq(first(col("n_customers")).as("n"), first(col("tot")).as("t"))
    val a = rankedRevenue(spark, sf)
      .agg(heads.head, (heads.tail ++ conds): _*)
    val stackExpr = ps
      .map(p => s"$p, (n * $p + 99) DIV 100, CAST(top_$p AS DOUBLE)")
      .mkString(", ")
    a.select(col("n").as("n_customers"), col("t"),
        expr(s"stack(4, $stackExpr) AS (pct, k_customers, top_rev)"))
      .select(col("pct"), col("k_customers"), col("n_customers"),
        col("top_rev"),
        round(col("top_rev") / col("t").cast("double"), 6).as("share"))
      .orderBy(col("pct"))
  }

  /** #248 — exact-moment skewness / excess kurtosis per return flag
    * (round 14; the 3rd/4th standardized moments every distribution
    * screen reports beside mean/stddev #26 — heavy-tail and asymmetry
    * detection for price/value columns feeding outlier rules and
    * binning choices): the four power sums Σc..Σc⁴ over integer CENTS
    * are EXACT on both engines — c ≤ ~1.1·10⁷ so c⁴ ≤ ~1.5·10²⁸ and
    * the corpus sum ≤ ~10³⁴, inside Spark's DECIMAL(38,0) and
    * DuckDB's HUGEINT — then cast to double ONCE (correctly-rounded
    * cast of identical exact integers) and pushed through the
    * TEXTUALLY IDENTICAL raw-moment expansion (m₂/m₃/m₄ central
    * moments from raw sums), skew = m₃/(m₂√m₂), excess kurtosis =
    * m₄/m₂² − 3, rounded 6dp. Skew/kurtosis are scale-invariant, so
    * the cents grid changes nothing vs dollars. Shape: ONE algebraic
    * keyed aggregate — partial-aggregated map-side, the #26 posture;
    * the moment algebra is a 1-row-per-group projection. */
  def aggSkewKurtosis(spark: SparkSession, sf: String): DataFrame = {
    val c = (money(col("l_extendedprice")) * 100).cast(DecimalType(38, 0))
    val n = col("n").cast("double")
    val (s1, s2, s3, s4) = (col("s1").cast("double"), col("s2").cast("double"),
      col("s3").cast("double"), col("s4").cast("double"))
    val m1 = s1 / n
    val m2 = s2 / n - m1 * m1
    val m3 = s3 / n - lit(3.0) * m1 * (s2 / n) + lit(2.0) * m1 * m1 * m1
    val m4 = s4 / n - lit(4.0) * m1 * (s3 / n) +
      lit(6.0) * m1 * m1 * (s2 / n) - lit(3.0) * m1 * m1 * m1 * m1
    lineitem(spark, sf)
      .select(col("l_returnflag"), c.as("c"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"),
        sum(col("c") * col("c") * col("c")).as("s3"),
        sum(col("c") * col("c") * col("c") * col("c")).as("s4"))
      .select(col("l_returnflag"), col("n"),
        round(m3 / (m2 * sqrt(m2)), 6).as("skewness"),
        round(m4 / (m2 * m2) - lit(3.0), 6).as("kurtosis_excess"))
      .orderBy(col("l_returnflag"))
  }

  /** #256 — empirical-Bayes shrunk group means (round 14; the
    * James–Stein / "add-k smoothing toward the prior" estimator every
    * ranking pipeline applies before sorting small groups by their
    * mean — a 2-order customer with a lucky big order must not
    * outrank a 50-order regular): per-customer mean order value
    * shrunk toward the GLOBAL mean m with prior strength k = 20
    * pseudo-observations: shrunk = (Σv + 20·m) / (n + 20). EXACTNESS:
    * Σv and n are exact (decimal/long); m and the shrinkage are
    * computed in double with textually identical expressions from
    * identical exact inputs, so the 6dp-rounded ranking key is
    * bit-stable; top-20 ordered by (shrunk DESC, custkey). Shape: one
    * keyed aggregate (partial map-side) + a 1-row broadcast of the
    * global sums + TopK; at 100 TB, swap the display limit for the
    * #38 machinery. The estimator is [[graft.api.Transforms.shrunkMeans]];
    * this op binds it to orders and rounds to 6dp. */
  def aggEbShrunkMeans(spark: SparkSession, sf: String): DataFrame =
    graft.api.Transforms.shrunkMeans(orders(spark, sf),
        col("o_custkey"), money(col("o_totalprice")), priorStrength = 20.0)
      .select(col("group").as("o_custkey"), col("n").as("n_orders"),
        round(col("raw_mean"), 6).as("raw_mean"),
        round(col("shrunk_mean"), 6).as("shrunk_mean"))
      .orderBy(col("shrunk_mean").desc, col("o_custkey"))
      .limit(20)

  /** #257 — per-group OLS worst-residual diagnostics (round 14; the
    * "which point does the fitted line miss hardest" readout behind
    * every regression-based DQ screen — #111 reports the fit, this
    * names the outlier): y = price on x = quantity per return flag.
    * The WHOLE decision path is integer-exact: with exact cent sums
    * Sx, Sy, Sxy, Sxx and D = n·Sxx − Sx², N = n·Sxy − Sx·Sy, the
    * residual scaled by n·D is r·n·D = n·D·y − n·N·x − D·Sy + N·Sx —
    * pure products of exact integers (≤ ~10³⁴ at sf1, inside Spark's
    * DECIMAL(38,0) and DuckDB's HUGEINT), so the per-group argmax on
    * (|r·n·D| DESC, orderkey, linenumber) cannot drift; doubles
    * appear only in display columns (slope = N/D, residual =
    * scaled/(n·D)/100, both as casts of identical exact integers).
    * Shape: one algebraic keyed aggregate (partial), a ≤3-row
    * BROADCAST of the group stats back onto the scan, one
    * partial-able max_by — no window, no sort of the facts. */
  def aggRegressionOutlier(spark: SparkSession, sf: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val base = lineitem(spark, sf).select(col("l_returnflag"),
      col("l_orderkey"), col("l_linenumber"),
      (money(col("l_quantity")) * 100).cast(d38).as("x"),
      (money(col("l_extendedprice")) * 100).cast(d38).as("y"))
    val stats = base.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("dd", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("nn", col("n") * col("sxy") - col("sx") * col("sy"))
    base.join(broadcast(stats), "l_returnflag")
      .withColumn("rs", col("n") * col("dd") * col("y")
        - col("n") * col("nn") * col("x")
        - col("dd") * col("sy") + col("nn") * col("sx"))
      .groupBy(col("l_returnflag"))
      .agg(max_by(
        struct(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
          col("rs"), col("n"), col("dd"), col("nn")),
        struct(abs(col("rs")), -col("l_orderkey"), -col("l_linenumber")))
        .as("w"))
      .select(col("l_returnflag"),
        col("w.n").cast("long").as("n_pts"),
        round(col("w.nn").cast("double") / col("w.dd").cast("double"), 6)
          .as("slope"),
        col("w.l_orderkey").as("worst_orderkey"),
        col("w.l_linenumber").as("worst_linenumber"),
        (col("w.x").cast("double") / lit(100.0)).as("worst_qty"),
        (col("w.y").cast("double") / lit(100.0)).as("worst_price"),
        round(col("w.rs").cast("double")
          / (col("w.n") * col("w.dd")).cast("double") / lit(100.0), 4)
          .as("worst_residual"))
      .orderBy(col("l_returnflag"))
  }

  /** #275 — Brown–Forsythe / Levene variance-equality test (round 16;
    * Brown & Forsythe 1974 — the HOMOGENEITY precondition check for
    * #229's ANOVA, run first by every k-sample analysis: ANOVA's F
    * compares means assuming equal group variances; this op tests
    * that assumption by running the SAME one-way F over z = |x −
    * median(group)|, the median-centered absolute deviations (the
    * median variant is the robust Brown–Forsythe form)): groups = the
    * five o_orderpriority classes on o_totalprice. Exactness: group
    * medians via the exact-interpolated percentile (#149's
    * cross-engine pairing, 4dp-gridded BEFORE the deviations so both
    * engines center on bit-identical values); z is rounded to the
    * INTEGER grid (whole currency units — ≤1e-5 relative regrid on
    * these 1e4–1e5-magnitude deviations, statistically immaterial)
    * and summed as DECIMAL(18,0) / z² as DECIMAL(38,0) — order-free
    * exact moments whose scale-0 decimal→double cast is a SINGLE
    * rounding in every engine at every sf (a scale-s accumulator
    * past ~1e17 internal units double-rounds in engines that cast
    * hugeint→double before the /10^s step, the #290 centering
    * lesson; scale 0 has no second step, so the fold stays
    * bit-identical cross-engine at 100 TB magnitudes, not just
    * sf0.1); the five-group quotient chain Σⱼ Sⱼ²/nⱼ is a FIXED
    * left-associated literal expression in both engines (#229's
    * one-row conditional-sum policy — never a 5-row double fold whose
    * summation order could differ), the rejection flag compares the
    * UNROUNDED F to the F(.05; 4, ∞) literal 2.371902, displays 6dp.
    * Shape: one keyed percentile aggregate (5 rows, broadcast back) +
    * one partial-aggregated corpus pass to a 1-row frame. */
  def aggLeveneBf(spark: SparkSession, sf: String): DataFrame = {
    val grp = substring(col("o_orderpriority"), 1, 1).cast("int")
    val o = orders(spark, sf).select(grp.as("grp"), col("o_totalprice").as("tp"))
    val med = o.groupBy(col("grp"))
      .agg(round(percentile(col("tp"), lit(0.5)), 4).as("med"))
    val z = o.join(broadcast(med), "grp")
      .select(col("grp"),
        dec(round(abs(col("tp") - col("med")), 0), 18, 0).as("z"))
    def ng(j: Int) = count(when(col("grp") === j, lit(1))).as(s"n$j")
    def sg(j: Int) = sum(when(col("grp") === j, col("z"))).as(s"s$j")
    def qg(j: Int) =
      sum(when(col("grp") === j, dec(col("z") * col("z"), 38, 0))).as(s"q$j")
    val aggs = (1 to 5).map(ng) ++ (1 to 5).map(sg) ++ (1 to 5).map(qg)
    val one = z.agg(aggs.head, aggs.tail: _*)
    def d(c: Column) = c.cast("double")
    val bigN = (1 to 5).map(j => d(col(s"n$j"))).reduce(_ + _)
    val s = (1 to 5).map(j => d(col(s"s$j"))).reduce(_ + _)
    val sjsq =
      (1 to 5).map(j => d(col(s"s$j")) * d(col(s"s$j")) / d(col(s"n$j")))
        .reduce(_ + _)
    val q = (1 to 5).map(j => d(col(s"q$j"))).reduce(_ + _)
    val ssb = sjsq - s * s / bigN
    val ssw = q - sjsq
    val f = (ssb / lit(4.0)) / (ssw / (bigN - lit(5.0)))
    one.select(lit(5).as("k_groups"),
      (1 to 5).map(j => col(s"n$j")).reduce(_ + _).as("n_total"),
      round(ssb, 6).as("ss_between"), round(ssw, 6).as("ss_within"),
      round(f, 6).as("f_stat"), (f > lit(2.371902)).as("reject_equal_var"))
  }

  /** #276 — delete-one-group jackknife of the mean (round 16; Tukey
    * 1958 / the delete-a-GROUP variant every experimentation platform
    * uses for clustered metrics, where user/geo clustering makes the
    * i.i.d. bootstrap wrong): leave each customer NATION out in turn,
    * recompute the mean account balance from the complement's exact
    * sums — loo_g = (S − S_g)/(N − n_g), free: no per-replicate data
    * pass — then SE² = (G−1)/G · Σ_g (loo_g − mean(loo))² and the
    * jackknife bias estimate (G−1)(mean(loo) − θ̂). Exactness: S/S_g
    * are exact DECIMAL(18,2) money sums; each loo is one double
    * division over exact decimals, 6dp-gridded (grid ≫ the ~1e-12
    * division ulp) so Σloo and Σloo² re-sum as exact DECIMALs — the
    * 25-replicate fold is order-free — and Σ(loo−θ̇)² comes from the
    * algebraic identity Σloo² − (Σloo)²/G over those two exact folds;
    * only θ̂, SE and bias are final double expressions, 6dp
    * displayed. Shape: one keyed corpus
    * aggregate (25 rows) + a broadcast 1-row total + a 1-row fold —
    * at 100 TB the corpus is touched exactly once. */
  def aggJackknifeGroups(spark: SparkSession, sf: String): DataFrame = {
    val per = customer(spark, sf)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("ng"), sum(money(col("c_acctbal"))).as("sg"))
    val tot = per.agg(sum(col("ng")).as("n"),
      sum(col("sg")).as("s"), count(lit(1)).as("g"))
    val loo = per.crossJoin(broadcast(tot))
      .select(col("n"), col("s"), col("g"),
        dec(round((col("s") - col("sg")).cast("double")
          / (col("n") - col("ng")).cast("double"), 6), 18, 6).as("loo"))
    val folded = loo
      .groupBy(col("n"), col("s"), col("g"))
      .agg(sum(col("loo")).as("sl"),
           sum(dec(col("loo") * col("loo"), 38, 12)).as("ql"))
    def d(c: Column) = c.cast("double")
    val thetaHat = d(col("s")) / d(col("n"))
    val thetaDot = d(col("sl")) / d(col("g"))
    // Σ(loo−θ̇)² = Σloo² − (Σloo)²/G — one fixed expression over the
    // two exact decimal folds, no per-replicate double summation.
    val ssDev = d(col("ql")) - d(col("sl")) * d(col("sl")) / d(col("g"))
    val varJack = (d(col("g")) - 1.0) / d(col("g")) * ssDev
    folded.select(col("g").as("g_groups"), col("n").as("n_total"),
      round(thetaHat, 6).as("theta_hat"),
      round(thetaDot, 6).as("theta_jack"),
      round(sqrt(varJack), 6).as("se_jack"),
      round((d(col("g")) - 1.0) * (thetaDot - thetaHat), 6).as("bias_jack"))
  }

  /** #282 — information gain of a categorical feature (round 16;
    * Quinlan's ID3 split criterion — the feature-screening readout an
    * ML-prep pipeline runs before training: how many bits does
    * knowing event_type buy about whether the event's value lands
    * above the corpus median): IG = H(label) − Σ_b (n_b/N)·H(label|b)
    * over the event-type buckets, label = value > median. Exactness:
    * the median is the 4dp-gridded exact-interpolated percentile
    * (#149/#275 pairing); all bucket counts are exact longs from ONE
    * keyed aggregate; H(label) is a single fixed double expression
    * over the two global counts; each bucket's weighted-entropy term
    * is 12dp-gridded to DECIMAL before the ≤|types|-term fold (the
    * #269 term-grid policy — no bucket-order double summation); IG is
    * the difference of the two UNROUNDED entropies, 6dp displayed.
    * Shape: one corpus percentile + one keyed corpus aggregate to the
    * |types|-row frame + a 1-row fold. */
  def aggInfoGain(spark: SparkSession, sf: String): DataFrame = {
    val med = events(spark, sf)
      .agg(round(percentile(col("value"), lit(0.5)), 4).as("med"))
    val cells = events(spark, sf).crossJoin(broadcast(med))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("nb"),
           count_if(col("value") > col("med")).as("nb1"))
    val tot = cells.agg(sum(col("nb")).as("n"), sum(col("nb1")).as("n1"))
    def d(c: Column) = c.cast("double")
    def plogp(p: Column): Column = when(p > 0, p * log(p)).otherwise(lit(0.0))
    val hB = -(plogp(d(col("nb1")) / d(col("nb"))) +
               plogp((d(col("nb")) - d(col("nb1"))) / d(col("nb"))))
    val folded = cells.crossJoin(broadcast(tot))
      .select(col("n"), col("n1"),
        round((d(col("nb")) / d(col("n"))) * hB, 12)
          .cast("decimal(18,12)").as("term"))
      .groupBy(col("n"), col("n1"))
      .agg(count(lit(1)).cast("int").as("n_buckets"),
           sum(col("term")).as("hc"))
    val hLabel = -(plogp(d(col("n1")) / d(col("n"))) +
                   plogp((d(col("n")) - d(col("n1"))) / d(col("n"))))
    val hCond = col("hc").cast("double")
    folded.select(col("n").as("n_total"), col("n1").as("n_high"),
      col("n_buckets"),
      round(hLabel, 6).as("h_label"), round(hCond, 6).as("h_conditional"),
      round(hLabel - hCond, 6).as("info_gain"))
  }

  /** #285 — delta-method z-test for a RATIO metric (round 16; the
    * missing member of the experimentation battery: #175's t-test is
    * valid for per-EVENT means, but the headline metric of most
    * experiments is revenue-per-user — a ratio of two user-level
    * means whose numerator and denominator are correlated within
    * users, so the naive per-event variance is wrong; every
    * experimentation platform linearizes it with the delta method,
    * Deng et al. KDD'18): per user, x = value sum and y = event
    * count; per md5 arm (the #175 split), R = Σx/Σy and var(R̂) ≈
    * (σx² − 2Rσxy + R²σy²) / (n·μy²) from exact user-level moments;
    * z = (R_A − R_B)/√(SE_A²+SE_B²). Exactness: per-user x is an
    * exact DECIMAL(18,2) money sum, y an exact long; the five
    * user-level moment sums per arm (Σx, Σy, Σx², Σxy, Σy²) are
    * exact DECIMAL folds from ONE user-keyed aggregate; R/SE/z are
    * fixed double expressions over those sums (#175/#229 policy),
    * the flag compares the UNROUNDED |z| to 1.959964, 6dp displays.
    * Shape: one user-keyed corpus aggregate (partial-combined), one
    * conditional one-row arm fold — at 100 TB only the user
    * aggregate touches data. */
  def aggDeltaMethodRatio(spark: SparkSession, sf: String): DataFrame = {
    val arm = when(expArm2IsA, lit(0)).otherwise(lit(1))
    val perUser = events(spark, sf)
      .select(col("user_id"), money(col("value")).as("v"))
      .groupBy(col("user_id"))
      .agg(sum(col("v")).as("x"), count(lit(1)).as("y"))
      .select(arm.as("g"), col("x"), col("y"))
    def a(g: Int, c: Column) = sum(when(col("g") === g, c))
    val one = perUser.agg(
      count(when(col("g") === 0, lit(1))).as("n_a"),
      count(when(col("g") === 1, lit(1))).as("n_b"),
      a(0, col("x")).as("sx_a"), a(1, col("x")).as("sx_b"),
      a(0, col("y")).as("sy_a"), a(1, col("y")).as("sy_b"),
      a(0, dec(col("x") * col("x"), 38, 4)).as("sxx_a"),
      a(1, dec(col("x") * col("x"), 38, 4)).as("sxx_b"),
      a(0, dec(col("x") * col("y"), 38, 2)).as("sxy_a"),
      a(1, dec(col("x") * col("y"), 38, 2)).as("sxy_b"),
      a(0, col("y") * col("y")).as("syy_a"),
      a(1, col("y") * col("y")).as("syy_b"))
    def d(c: Column) = c.cast("double")
    def ratio(s: String) = d(col(s"sx_$s")) / d(col(s"sy_$s"))
    def se2(s: String): Column = {
      val n = d(col(s"n_$s"))
      val mx = d(col(s"sx_$s")) / n
      val my = d(col(s"sy_$s")) / n
      val vx = d(col(s"sxx_$s")) / n - mx * mx
      val vy = d(col(s"syy_$s")) / n - my * my
      val cxy = d(col(s"sxy_$s")) / n - mx * my
      val r = ratio(s)
      (vx - lit(2.0) * r * cxy + r * r * vy) / (n * my * my)
    }
    val z = (ratio("a") - ratio("b")) / sqrt(se2("a") + se2("b"))
    one.select(col("n_a").as("n_users_a"), col("n_b").as("n_users_b"),
      round(ratio("a"), 6).as("ratio_a"), round(ratio("b"), 6).as("ratio_b"),
      round(sqrt(se2("a")), 6).as("se_a"), round(sqrt(se2("b")), 6).as("se_b"),
      round(z, 6).as("z_stat"), (abs(z) > lit(1.959964)).as("significant"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "agg_hash_groupby"     -> (aggHashGroupby _),
    "agg_distinct_count"   -> (aggDistinctCount _),
    "agg_multi_distinct"   -> (aggMultiDistinct _),
    "agg_rollup"           -> (aggRollup _),
    "agg_cube"             -> (aggCube _),
    "agg_grouping_sets"    -> (aggGroupingSets _),
    "agg_stats"            -> (aggStats _),
    "agg_percentile"       -> (aggPercentile _),
    "agg_approx_distinct"  -> (aggApproxDistinct _),
    "agg_approx_quantile"  -> (aggApproxQuantile _),
    "agg_collect_sorted"   -> (aggCollectSorted _),
    "agg_udaf_vector_mean" -> (aggUdafVectorMean _),
    "agg_pivot"            -> (aggPivot _),
    "agg_mode_argmax"      -> (aggModeArgmax _),
    "agg_weighted_median"  -> (aggWeightedMedian _),
    "agg_regression"       -> (aggRegression _),
    "agg_boolean"          -> (aggBoolean _),
    "agg_unpivot"          -> (aggUnpivot _),
    "agg_mad_robust"       -> (aggMadRobust _),
    "agg_filter_clause"    -> (aggFilterClause _),
    "agg_listagg"          -> (aggListagg _),
    "agg_bitmap_distinct"  -> (aggBitmapDistinct _),
    "agg_hll_sketch_merge" -> (aggHllSketchMerge _),
    "agg_theta_audience_overlap" -> (aggThetaAudienceOverlap _),
    "agg_kll_quantile_merge" -> (aggKllQuantileMerge _),
    "agg_freq_sketch_topk" -> (aggFreqSketchTopk _),
    "agg_mutual_info"      -> (aggMutualInfo _),
    "agg_chi2_independence" -> (aggChi2Independence _),
    "agg_mutual_information" -> (aggMutualInformation _),
    "agg_herfindahl_share"   -> (aggHerfindahlShare _),
    "agg_ks_test"          -> (aggKsTest _),
    "agg_mannwhitney_u"    -> (aggMannwhitneyU _),
    "agg_corr_matrix"      -> (aggCorrMatrix _),
    "agg_winsorized_mean"  -> (aggWinsorizedMean _),
    "agg_tail_risk"        -> (aggTailRisk _),
    "agg_gini_concentration" -> (aggGiniConcentration _),
    "agg_rfm_segments"     -> (aggRfmSegments _),
    "agg_anova_f"          -> (aggAnovaF _),
    "agg_kruskal_wallis"   -> (aggKruskalWallis _),
    "agg_spearman_corr"    -> (aggSpearmanCorr _),
    "agg_histogram_numeric" -> (aggHistogramNumeric _),
    "agg_cramers_v"        -> (aggCramersV _),
    "agg_log2_histogram"   -> (aggLog2Histogram _),
    "agg_pareto_share"     -> (aggParetoShare _),
    "agg_skew_kurtosis"    -> (aggSkewKurtosis _),
    "agg_eb_shrunk_means"  -> (aggEbShrunkMeans _),
    "agg_regression_outlier" -> (aggRegressionOutlier _),
    "agg_levene_bf"          -> (aggLeveneBf _),
    "agg_jackknife_groups"   -> (aggJackknifeGroups _),
    "agg_info_gain"          -> (aggInfoGain _),
    "agg_delta_method_ratio" -> (aggDeltaMethodRatio _),
  )

  /** #222's oracle, generated from the same column/pair enumeration
    * as the Spark side so the two moment lists cannot drift. Round
    * 17: moments on the cents grid at DECIMAL scale 0, mirroring the
    * Spark side's long-chunked fold — identical exact integers, and
    * the scale-0 → double cast is a single rounding in both engines
    * (the widened DECIMAL(19,0) operand forces the hugeint multiply
    * path; see the #275 note). */
  private def corrMatrixOracle: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- i until cols.length
    } yield (cols(i), cols(j))
    def cents(c: String) =
      s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))"
    val cdefs = cols.map(c => s"${cents(c)} AS c_$c")
    val sums = cols.map(c => s"sum(c_$c) AS s_$c") ++
      pairs.map { case (a, b) =>
        s"sum(CAST(CAST(c_$a AS DECIMAL(19,0)) * c_$b AS DECIMAL(38,0))) AS q_${a}_$b" }
    def num(a: String, b: String) =
      s"(CAST(n AS DOUBLE) * CAST(q_${a}_$b AS DOUBLE)" +
        s" - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))"
    val arms = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
         |  round(${num(a, b)} / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 10000.0, 6)
         |    AS cov_pop,
         |  round(${num(a, b)} / sqrt(${num(a, a)} * ${num(b, b)}), 6)
         |    AS corr
         |FROM m""".stripMargin
    }
    s"""WITH c AS (
       |  SELECT ${cdefs.mkString(",\n    ")}
       |  FROM lineitem),
       |m AS (
       |  SELECT count(*) AS n,
       |    ${sums.mkString(",\n    ")}
       |  FROM c)
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY col_x, col_y""".stripMargin
  }

  /** ROLLUP / CUBE (`kind`) of lineitem's two flags with GROUPING ids. */
  private def groupingSql(kind: String): String =
    s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
      |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY $kind(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** The orders status × priority contingency table: observed counts,
    * row and column totals, the grand total `n`, and every cell with
    * its zero-filled count — the χ² and Cramér's V oracles append. */
  private val contingencySql: String =
    """WITH observed AS (
      |  SELECT o_orderstatus AS st, o_orderpriority AS pri,
      |    count(*) AS obs
      |  FROM orders GROUP BY 1, 2),
      |rt AS (SELECT st, sum(obs) AS rt FROM observed GROUP BY st),
      |ct AS (SELECT pri, sum(obs) AS ct FROM observed GROUP BY pri),
      |tot AS (SELECT sum(obs) AS n FROM observed),
      |cells AS (
      |  SELECT rt.st, ct.pri, rt.rt, ct.ct, coalesce(o.obs, 0) AS obs
      |  FROM rt CROSS JOIN ct
      |  LEFT JOIN observed o ON o.st = rt.st AND o.pri = ct.pri)""".stripMargin

  /** Σ of the 8-dp-gridded Pearson χ² cell terms over
    * [[contingencySql]]'s cells, its continuation lines indented by
    * `indent`. */
  private def chi2SumSql(indent: String): String =
    """CAST(sum(CAST(round(
      |  (CAST(obs AS DOUBLE)
      |     - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
      |  * (CAST(obs AS DOUBLE)
      |     - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
      |  / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)),
      |  8) AS DECIMAL(18,8))) AS DOUBLE)""".stripMargin.replace("\n", "\n" + indent)

  /** The two #183 md5 arms over events' 2dp value (`arm`, `v`): the CTE
    * the experiment oracles start with. */
  private[ops] val abArmSql: String =
    """WITH e AS (
      |  SELECT CASE WHEN (ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
      |                    % 2) = 0
      |         THEN 'A' ELSE 'B' END AS arm,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events)""".stripMargin

  /** The three md5 arms `g` (0, 1, 2) over events' 2dp value `v`: the
    * k-sample tests' twin of [[arm3]]. */
  private val arm3Sql: String =
    """WITH e AS (
      |  SELECT ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 3 AS g,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events)""".stripMargin

  /** [[abArmSql]] plus `byv`, the per-value arm counts `na` / `nb`. */
  private val abByValueSql: String = abArmSql + """,
      |byv AS (
      |  SELECT v,
      |    sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS na,
      |    sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS nb
      |  FROM e GROUP BY v)""".stripMargin

  val oracle: Map[String, String] = ListMap(
    "agg_delta_method_ratio" ->
      """WITH pu AS (
        |  SELECT user_id, sum(CAST(value AS DECIMAL(18,2))) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT ascii(substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2
        |      AS g, x, y
        |  FROM pu),
        |f AS (
        |  SELECT
        |    count(*) FILTER (WHERE g = 0) AS n_a,
        |    count(*) FILTER (WHERE g = 1) AS n_b,
        |    sum(x) FILTER (WHERE g = 0) AS sx_a,
        |    sum(x) FILTER (WHERE g = 1) AS sx_b,
        |    sum(y) FILTER (WHERE g = 0) AS sy_a,
        |    sum(y) FILTER (WHERE g = 1) AS sy_b,
        |    sum(CAST(CAST(x AS DECIMAL(19,2)) * x AS DECIMAL(38,4)))
        |      FILTER (WHERE g = 0) AS sxx_a,
        |    sum(CAST(CAST(x AS DECIMAL(19,2)) * x AS DECIMAL(38,4)))
        |      FILTER (WHERE g = 1) AS sxx_b,
        |    sum(CAST(CAST(x AS DECIMAL(19,2)) * y AS DECIMAL(38,2)))
        |      FILTER (WHERE g = 0) AS sxy_a,
        |    sum(CAST(CAST(x AS DECIMAL(19,2)) * y AS DECIMAL(38,2)))
        |      FILTER (WHERE g = 1) AS sxy_b,
        |    sum(y * y) FILTER (WHERE g = 0) AS syy_a,
        |    sum(y * y) FILTER (WHERE g = 1) AS syy_b
        |  FROM g),
        |d AS (
        |  SELECT CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(n_a AS BIGINT) AS n_users_a, CAST(n_b AS BIGINT) AS n_users_b,
        |    CAST(sx_a AS DOUBLE) AS sxa, CAST(sx_b AS DOUBLE) AS sxb,
        |    CAST(sy_a AS DOUBLE) AS sya, CAST(sy_b AS DOUBLE) AS syb,
        |    CAST(sxx_a AS DOUBLE) AS sxxa, CAST(sxx_b AS DOUBLE) AS sxxb,
        |    CAST(sxy_a AS DOUBLE) AS sxya, CAST(sxy_b AS DOUBLE) AS sxyb,
        |    CAST(syy_a AS DOUBLE) AS syya, CAST(syy_b AS DOUBLE) AS syyb
        |  FROM f),
        |e AS (
        |  SELECT n_users_a, n_users_b,
        |    sxa / sya AS ra, sxb / syb AS rb,
        |    (sxxa / na - (sxa / na) * (sxa / na)
        |      - 2.0 * (sxa / sya) * (sxya / na - (sxa / na) * (sya / na))
        |      + (sxa / sya) * (sxa / sya)
        |        * (syya / na - (sya / na) * (sya / na)))
        |      / (na * (sya / na) * (sya / na)) AS se2a,
        |    (sxxb / nb - (sxb / nb) * (sxb / nb)
        |      - 2.0 * (sxb / syb) * (sxyb / nb - (sxb / nb) * (syb / nb))
        |      + (sxb / syb) * (sxb / syb)
        |        * (syyb / nb - (syb / nb) * (syb / nb)))
        |      / (nb * (syb / nb) * (syb / nb)) AS se2b
        |  FROM d)
        |SELECT n_users_a, n_users_b,
        |  round(ra, 6) AS ratio_a, round(rb, 6) AS ratio_b,
        |  round(sqrt(se2a), 6) AS se_a, round(sqrt(se2b), 6) AS se_b,
        |  round((ra - rb) / sqrt(se2a + se2b), 6) AS z_stat,
        |  abs((ra - rb) / sqrt(se2a + se2b)) > 1.959964 AS significant
        |FROM e""".stripMargin,
    "agg_info_gain" ->
      """WITH m AS (
        |  SELECT round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 4)
        |    AS med FROM events),
        |cells AS (
        |  SELECT event_type, count(*) AS nb,
        |    count(*) FILTER (WHERE value > m.med) AS nb1
        |  FROM events CROSS JOIN m GROUP BY event_type),
        |tot AS (SELECT sum(nb) AS n, sum(nb1) AS n1 FROM cells),
        |terms AS (
        |  SELECT tot.n, tot.n1,
        |    CAST(round(
        |      (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (-((CASE WHEN CAST(nb1 AS DOUBLE) / CAST(nb AS DOUBLE) > 0
        |           THEN (CAST(nb1 AS DOUBLE) / CAST(nb AS DOUBLE))
        |                * ln(CAST(nb1 AS DOUBLE) / CAST(nb AS DOUBLE))
        |           ELSE 0.0 END)
        |        + (CASE WHEN (CAST(nb AS DOUBLE) - CAST(nb1 AS DOUBLE))
        |                     / CAST(nb AS DOUBLE) > 0
        |           THEN ((CAST(nb AS DOUBLE) - CAST(nb1 AS DOUBLE))
        |                 / CAST(nb AS DOUBLE))
        |                * ln((CAST(nb AS DOUBLE) - CAST(nb1 AS DOUBLE))
        |                     / CAST(nb AS DOUBLE))
        |           ELSE 0.0 END))), 12) AS DECIMAL(18,12)) AS term
        |  FROM cells CROSS JOIN tot),
        |f AS (
        |  SELECT n, n1, CAST(count(*) AS INT) AS n_buckets,
        |    sum(term) AS hc
        |  FROM terms GROUP BY n, n1),
        |g AS (
        |  SELECT CAST(n AS BIGINT) AS n_total, CAST(n1 AS BIGINT) AS n_high,
        |    n_buckets,
        |    -((CASE WHEN CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE) > 0
        |        THEN (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |             * ln(CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        ELSE 0.0 END)
        |      + (CASE WHEN (CAST(n AS DOUBLE) - CAST(n1 AS DOUBLE))
        |                   / CAST(n AS DOUBLE) > 0
        |        THEN ((CAST(n AS DOUBLE) - CAST(n1 AS DOUBLE))
        |              / CAST(n AS DOUBLE))
        |             * ln((CAST(n AS DOUBLE) - CAST(n1 AS DOUBLE))
        |                  / CAST(n AS DOUBLE))
        |        ELSE 0.0 END)) AS h_label,
        |    CAST(hc AS DOUBLE) AS h_cond
        |  FROM f)
        |SELECT n_total, n_high, n_buckets,
        |  round(h_label, 6) AS h_label,
        |  round(h_cond, 6) AS h_conditional,
        |  round(h_label - h_cond, 6) AS info_gain
        |FROM g""".stripMargin,
    "agg_levene_bf" ->
      """WITH o AS (
        |  SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS grp,
        |    o_totalprice AS tp FROM orders),
        |m AS (
        |  SELECT grp,
        |    round(percentile_cont(0.5) WITHIN GROUP (ORDER BY tp), 4) AS med
        |  FROM o GROUP BY grp),
        |z AS (
        |  SELECT o.grp,
        |    CAST(round(abs(o.tp - m.med), 0) AS DECIMAL(18,0)) AS z
        |  FROM o JOIN m ON o.grp = m.grp),
        |a AS (
        |  SELECT
        |    count(*) FILTER (WHERE grp = 1) AS n1,
        |    count(*) FILTER (WHERE grp = 2) AS n2,
        |    count(*) FILTER (WHERE grp = 3) AS n3,
        |    count(*) FILTER (WHERE grp = 4) AS n4,
        |    count(*) FILTER (WHERE grp = 5) AS n5,
        |    sum(z) FILTER (WHERE grp = 1) AS s1,
        |    sum(z) FILTER (WHERE grp = 2) AS s2,
        |    sum(z) FILTER (WHERE grp = 3) AS s3,
        |    sum(z) FILTER (WHERE grp = 4) AS s4,
        |    sum(z) FILTER (WHERE grp = 5) AS s5,
        |    sum(CAST(CAST(z AS DECIMAL(19,0)) * z AS DECIMAL(38,0))) FILTER (WHERE grp = 1) AS q1,
        |    sum(CAST(CAST(z AS DECIMAL(19,0)) * z AS DECIMAL(38,0))) FILTER (WHERE grp = 2) AS q2,
        |    sum(CAST(CAST(z AS DECIMAL(19,0)) * z AS DECIMAL(38,0))) FILTER (WHERE grp = 3) AS q3,
        |    sum(CAST(CAST(z AS DECIMAL(19,0)) * z AS DECIMAL(38,0))) FILTER (WHERE grp = 4) AS q4,
        |    sum(CAST(CAST(z AS DECIMAL(19,0)) * z AS DECIMAL(38,0))) FILTER (WHERE grp = 5) AS q5
        |  FROM z),
        |d AS (
        |  SELECT
        |    CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + CAST(n3 AS DOUBLE)
        |      + CAST(n4 AS DOUBLE) + CAST(n5 AS DOUBLE) AS bign,
        |    CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE) + CAST(s3 AS DOUBLE)
        |      + CAST(s4 AS DOUBLE) + CAST(s5 AS DOUBLE) AS s,
        |    CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      + CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)
        |      + CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE)
        |      + CAST(s4 AS DOUBLE) * CAST(s4 AS DOUBLE) / CAST(n4 AS DOUBLE)
        |      + CAST(s5 AS DOUBLE) * CAST(s5 AS DOUBLE) / CAST(n5 AS DOUBLE)
        |      AS sjsq,
        |    CAST(q1 AS DOUBLE) + CAST(q2 AS DOUBLE) + CAST(q3 AS DOUBLE)
        |      + CAST(q4 AS DOUBLE) + CAST(q5 AS DOUBLE) AS q,
        |    n1 + n2 + n3 + n4 + n5 AS n_total
        |  FROM a)
        |SELECT CAST(5 AS INT) AS k_groups, CAST(n_total AS BIGINT) AS n_total,
        |  round(sjsq - s * s / bign, 6) AS ss_between,
        |  round(q - sjsq, 6) AS ss_within,
        |  round(((sjsq - s * s / bign) / 4.0)
        |        / ((q - sjsq) / (bign - 5.0)), 6) AS f_stat,
        |  ((sjsq - s * s / bign) / 4.0) / ((q - sjsq) / (bign - 5.0))
        |    > 2.371902 AS reject_equal_var
        |FROM d""".stripMargin,
    "agg_jackknife_groups" ->
      """WITH per AS (
        |  SELECT c_nationkey, count(*) AS ng,
        |    sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sg
        |  FROM customer GROUP BY c_nationkey),
        |tot AS (
        |  SELECT sum(ng) AS n, sum(sg) AS s, count(*) AS g FROM per),
        |loo AS (
        |  SELECT tot.n, tot.s, tot.g,
        |    CAST(round(CAST(tot.s - per.sg AS DOUBLE)
        |      / CAST(tot.n - per.ng AS DOUBLE), 6) AS DECIMAL(18,6)) AS loo
        |  FROM per CROSS JOIN tot),
        |f AS (
        |  SELECT n, s, g, sum(loo) AS sl,
        |    sum(CAST(CAST(loo AS DECIMAL(19,6)) * loo AS DECIMAL(38,12))) AS ql
        |  FROM loo GROUP BY n, s, g)
        |SELECT CAST(g AS BIGINT) AS g_groups, CAST(n AS BIGINT) AS n_total,
        |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS theta_hat,
        |  round(CAST(sl AS DOUBLE) / CAST(g AS DOUBLE), 6) AS theta_jack,
        |  round(sqrt((CAST(g AS DOUBLE) - 1.0) / CAST(g AS DOUBLE)
        |    * (CAST(ql AS DOUBLE)
        |       - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)
        |         / CAST(g AS DOUBLE))), 6) AS se_jack,
        |  round((CAST(g AS DOUBLE) - 1.0)
        |    * (CAST(sl AS DOUBLE) / CAST(g AS DOUBLE)
        |       - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS bias_jack
        |FROM f""".stripMargin,
    "agg_hash_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2)) AS DECIMAL(24,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2)) AS DECIMAL(24,4)) * CAST(1 + CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(4,2)) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_distinct_count" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_multi_distinct" ->
      """SELECT l_linestatus,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "agg_rollup" -> groupingSql("ROLLUP"),
    "agg_cube" -> groupingSql("CUBE"),
    "agg_grouping_sets" -> groupingSetsSql,
    "agg_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_extendedprice, l_quantity), 4) AS corr_price_qty,
        |  round(covar_samp(l_extendedprice, l_quantity), 4) AS cov_price_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_percentile" -> percentileSql,
    "agg_collect_sorted" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n_nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "agg_udaf_vector_mean" ->
      """WITH u AS (
        |  SELECT label, unnest(embedding) AS e,
        |         generate_subscripts(embedding, 1) AS idx
        |  FROM embeddings),
        |m AS (
        |  SELECT label, idx,
        |    CAST(round(avg(CAST(e AS DOUBLE)), 4) AS DECIMAL(12,4)) AS mean_e
        |  FROM u GROUP BY label, idx),
        |c AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
        |SELECT m.label,
        |  string_agg(CAST(m.mean_e AS VARCHAR), ',' ORDER BY m.idx) AS centroid,
        |  c.n_vecs
        |FROM m JOIN c ON m.label = c.label
        |GROUP BY m.label, c.n_vecs ORDER BY m.label""".stripMargin,
    "agg_pivot" ->
      """SELECT lang,
        |  count(CASE WHEN source = 'src0' THEN 1 END) AS src0,
        |  count(CASE WHEN source = 'src1' THEN 1 END) AS src1,
        |  count(CASE WHEN source = 'src2' THEN 1 END) AS src2,
        |  count(CASE WHEN source = 'src3' THEN 1 END) AS src3,
        |  count(CASE WHEN source = 'src4' THEN 1 END) AS src4
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "agg_mode_argmax" ->
      """SELECT c_mktsegment, c_nationkey AS mode_nation, n AS n_mode FROM (
        |  SELECT c_mktsegment, c_nationkey, count(*) AS n,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY count(*) DESC, c_nationkey) AS rn
        |  FROM customer GROUP BY c_mktsegment, c_nationkey)
        |WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin,
    "agg_weighted_median" ->
      """WITH wq AS (
        |  SELECT l_returnflag, CAST(l_quantity AS DECIMAL(18,2)) AS q,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS w
        |  FROM lineitem GROUP BY l_returnflag, q),
        |c AS (
        |  SELECT l_returnflag, q,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM wq)
        |SELECT l_returnflag, CAST(min(q) AS DOUBLE) AS weighted_median_qty
        |FROM c WHERE cum * 2 >= tot
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_regression" ->
      """SELECT l_returnflag,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pts,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 4) AS r2
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_boolean" ->
      """SELECT l_linestatus,
        |  count(*) FILTER (WHERE CAST(l_discount AS DECIMAL(18,2)) > 0.05)
        |    AS n_highdisc,
        |  bool_and(CAST(l_quantity AS DECIMAL(18,2)) > 0) AS all_qty_positive,
        |  bool_or(CAST(l_tax AS DECIMAL(18,2)) > 0.07) AS any_high_tax,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "agg_unpivot" ->
      """WITH w AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, measure, value FROM (
        |  SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
        |  UNION ALL
        |  SELECT l_returnflag, 'sum_price', sum_price FROM w
        |  UNION ALL
        |  SELECT l_returnflag, 'sum_disc', sum_disc FROM w)
        |ORDER BY l_returnflag, measure""".stripMargin,
    "agg_mad_robust" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS med
        |  FROM lineitem GROUP BY 1),
        |s AS (
        |  SELECT l.l_returnflag,
        |    percentile_cont(0.5) WITHIN GROUP
        |      (ORDER BY abs(l.l_extendedprice - m.med)) AS mad
        |  FROM lineitem l JOIN m USING (l_returnflag) GROUP BY 1)
        |SELECT l.l_returnflag, count(*) AS n_rows,
        |  round(max(m.med), 4) AS median, round(max(s.mad), 4) AS mad,
        |  CAST(count(*) FILTER (WHERE s.mad > 0
        |    AND 0.6745 * abs(l.l_extendedprice - m.med) / s.mad > 3.5)
        |    AS BIGINT) AS n_outliers
        |FROM lineitem l JOIN m USING (l_returnflag) JOIN s USING (l_returnflag)
        |GROUP BY l.l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "agg_filter_clause" -> filterClauseSql,
    "agg_listagg" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |  string_agg(c_name, '|' ORDER BY c_custkey) AS names
        |FROM customer WHERE c_acctbal < -900
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "agg_bitmap_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_distinct_parts
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "agg_hll_sketch_merge" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  true AS est_within_5pct
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "agg_theta_audience_overlap" ->
      """WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
        |n AS (SELECT event_type, count(*) AS nu FROM d GROUP BY 1),
        |i AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS ie
        |  FROM d a JOIN d b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT na.event_type AS type_a, nb.event_type AS type_b,
        |  na.nu AS n_a, nb.nu AS n_b,
        |  coalesce(i.ie, 0) AS inter_exact,
        |  na.nu - coalesce(i.ie, 0) AS diff_exact,
        |  na.nu + nb.nu - coalesce(i.ie, 0) AS union_exact,
        |  true AS inter_within_5pct, true AS diff_within_5pct,
        |  true AS union_within_5pct
        |FROM n na JOIN n nb ON na.event_type < nb.event_type
        |LEFT JOIN i ON i.ta = na.event_type AND i.tb = nb.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    "agg_kll_quantile_merge" ->
      """SELECT event_type,
        |  round(percentile_cont(0.5) WITHIN GROUP
        |    (ORDER BY CAST(value AS DOUBLE)), 4) AS p50_exact,
        |  round(percentile_cont(0.9) WITHIN GROUP
        |    (ORDER BY CAST(value AS DOUBLE)), 4) AS p90_exact,
        |  true AS p50_rank_ok, true AS p90_rank_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_freq_sketch_topk" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |e AS (
        |  SELECT token, count(*) AS n_exact FROM t
        |  WHERE len(token) > 0 GROUP BY token)
        |SELECT token, n_exact, true AS est_within_1pct
        |FROM e ORDER BY n_exact DESC, token LIMIT 10""".stripMargin,
    "agg_mutual_info" ->
      """WITH cells AS (
        |  SELECT event_type AS x,
        |    CAST(CAST(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |              - DATE '1970-01-01' AS BIGINT) % 7 AS INT) AS y,
        |    count(*) AS n_xy
        |  FROM events GROUP BY 1, 2),
        |nx AS (SELECT x, sum(n_xy) AS n_x FROM cells GROUP BY x),
        |ny AS (SELECT y, sum(n_xy) AS n_y FROM cells GROUP BY y),
        |tot AS (SELECT sum(n_xy) AS n FROM cells),
        |mi AS (
        |  SELECT round(CAST(sum(CAST(round(
        |    (CAST(n_xy AS DOUBLE) / n) *
        |    ln(CAST(n_xy * n AS DOUBLE) / (n_x * n_y)), 8)
        |    AS DECIMAL(18,8))) AS DOUBLE), 4) AS mi
        |  FROM cells JOIN nx USING (x) JOIN ny USING (y) CROSS JOIN tot),
        |hx AS (
        |  SELECT round(CAST(sum(CAST(round(
        |    -(CAST(n_x AS DOUBLE) / n) * ln(CAST(n_x AS DOUBLE) / n), 8)
        |    AS DECIMAL(18,8))) AS DOUBLE), 4) AS h_x
        |  FROM nx CROSS JOIN tot),
        |hy AS (
        |  SELECT round(CAST(sum(CAST(round(
        |    -(CAST(n_y AS DOUBLE) / n) * ln(CAST(n_y AS DOUBLE) / n), 8)
        |    AS DECIMAL(18,8))) AS DOUBLE), 4) AS h_y
        |  FROM ny CROSS JOIN tot)
        |SELECT mi, h_x, h_y, round(mi / sqrt(h_x * h_y), 4) AS nmi
        |FROM mi CROSS JOIN hx CROSS JOIN hy""".stripMargin,
    "agg_chi2_independence" -> (contingencySql + s"""
        |SELECT CAST(max(n) AS BIGINT) AS n_orders,
        |  count(*) AS n_cells,
        |  CAST((count(DISTINCT st) - 1) * (count(DISTINCT pri) - 1) AS INT)
        |    AS dof,
        |  ${chi2SumSql("  ")} AS chi2,
        |  ${chi2SumSql("  ")} > 15.5073 AS significant
        |FROM cells CROSS JOIN tot""".stripMargin),
    "agg_mutual_information" ->
      """WITH cells AS (
        |  SELECT event_type AS t,
        |    ((CAST(floor(value) AS BIGINT) % 10) + 10) % 10 AS b,
        |    count(*) AS n_tb
        |  FROM events GROUP BY 1, 2),
        |nt AS (SELECT t, sum(n_tb) AS n_t FROM cells GROUP BY t),
        |nb AS (SELECT b, sum(n_tb) AS n_b FROM cells GROUP BY b),
        |tot AS (SELECT sum(n_tb) AS n FROM cells),
        |g AS (
        |  SELECT cells.t, nt.n_t,
        |    CAST(floor(
        |      (CAST(n_tb AS DOUBLE) / n)
        |      * ln((CAST(n_tb AS DOUBLE) * n)
        |           / (CAST(n_t AS DOUBLE) * n_b))
        |      * 1000000 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS term6
        |  FROM cells
        |  JOIN nt ON nt.t = cells.t
        |  JOIN nb ON nb.b = cells.b
        |  CROSS JOIN tot)
        |SELECT t AS event_type, CAST(max(n_t) AS BIGINT) AS n_events,
        |  count(*) AS n_buckets,
        |  CAST(sum(term6) AS DOUBLE) AS mi_part
        |FROM g GROUP BY t ORDER BY event_type""".stripMargin,
    "agg_herfindahl_share" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS c
        |  FROM orders GROUP BY o_custkey),
        |pcn AS (
        |  SELECT c_nationkey AS nation_key, c
        |  FROM pc JOIN customer ON c_custkey = o_custkey),
        |tt AS (
        |  SELECT nation_key, sum(c) AS tot, count(*) AS n_customers
        |  FROM pcn GROUP BY nation_key),
        |s AS (
        |  SELECT pcn.nation_key, tt.n_customers, tt.tot,
        |    pcn.c * 100000000 // tt.tot AS s8
        |  FROM pcn JOIN tt ON tt.nation_key = pcn.nation_key)
        |SELECT nation_key, CAST(max(n_customers) AS BIGINT) AS n_customers,
        |  CAST(max(tot) AS DOUBLE) / 100 AS total_revenue,
        |  CAST(sum(CAST(s8 AS HUGEINT) * s8) AS DOUBLE) / 1e16 AS hhi,
        |  CAST(max(s8) AS DOUBLE) / 1e8 AS top_share
        |FROM s GROUP BY nation_key ORDER BY nation_key""".stripMargin,
    "agg_cramers_v" -> (contingencySql + s""",
        |f AS (
        |  SELECT CAST(max(n) AS BIGINT) AS n_orders,
        |    CAST(count(DISTINCT st) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT pri) AS BIGINT) AS n_cols,
        |    ${chi2SumSql("    ")} AS chi2
        |  FROM cells CROSS JOIN tot)
        |SELECT n_orders, n_rows, n_cols, chi2,
        |  floor(sqrt(chi2 / (CAST(n_orders AS DOUBLE)
        |      * CAST(least(n_rows, n_cols) - 1 AS DOUBLE)))
        |    * 1000000 + 0.5) / 1000000.0 AS cramers_v
        |FROM f""".stripMargin),
    "agg_corr_matrix" -> corrMatrixOracle,
    "agg_tail_risk" ->
      """WITH v AS (
        |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v, o_orderkey
        |  FROM orders),
        |r AS (
        |  SELECT v, row_number() OVER (ORDER BY v, o_orderkey) AS rk
        |  FROM v),
        |t AS (SELECT count(*) AS n FROM r),
        |b AS (
        |  SELECT max(CASE WHEN rk = (n * 95) // 100 THEN v END) AS var95,
        |         max(CASE WHEN rk = (n * 99) // 100 THEN v END) AS var99
        |  FROM r CROSS JOIN t)
        |SELECT n AS n_orders,
        |  CAST(var95 AS DOUBLE) AS var_95, CAST(var99 AS DOUBLE) AS var_99,
        |  floor(CAST(sum(CASE WHEN rk > (n * 95) // 100 THEN v END)
        |             AS DOUBLE) / (n - (n * 95) // 100) * 1000000 + 0.5)
        |    / 1000000.0 AS es_95,
        |  floor(CAST(sum(CASE WHEN rk > (n * 99) // 100 THEN v END)
        |             AS DOUBLE) / (n - (n * 99) // 100) * 1000000 + 0.5)
        |    / 1000000.0 AS es_99
        |FROM r CROSS JOIN t CROSS JOIN b
        |GROUP BY n, var95, var99""".stripMargin,
    "agg_winsorized_mean" ->
      """WITH v AS (
        |  SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |    l_orderkey, l_linenumber FROM lineitem),
        |r AS (
        |  SELECT v, row_number()
        |    OVER (ORDER BY v, l_orderkey, l_linenumber) AS rk FROM v),
        |t AS (SELECT count(*) AS n FROM r),
        |b AS (
        |  SELECT max(CASE WHEN rk = (n * 5) // 100 + 1 THEN v END) AS lo,
        |         max(CASE WHEN rk = (n * 95) // 100 THEN v END) AS hi
        |  FROM r CROSS JOIN t)
        |SELECT n AS n_rows,
        |  CAST(lo AS DOUBLE) AS p05, CAST(hi AS DOUBLE) AS p95,
        |  floor(CAST(sum(v) AS DOUBLE) / n * 1000000 + 0.5) / 1000000.0
        |    AS mean_raw,
        |  floor(CAST(sum(CASE WHEN rk <= (n * 5) // 100 THEN lo
        |                      WHEN rk > (n * 95) // 100 THEN hi
        |                      ELSE v END) AS DOUBLE) / n * 1000000 + 0.5)
        |    / 1000000.0 AS mean_winsorized,
        |  floor(CAST(sum(CASE WHEN rk > (n * 5) // 100
        |                       AND rk <= (n * 95) // 100 THEN v END)
        |             AS DOUBLE) / ((n * 95) // 100 - (n * 5) // 100)
        |        * 1000000 + 0.5) / 1000000.0 AS mean_trimmed
        |FROM r CROSS JOIN t CROSS JOIN b
        |GROUP BY n, lo, hi""".stripMargin,
    "agg_mannwhitney_u" -> (abByValueSql + """,
        |cum AS (
        |  SELECT v, na, nb, na + nb AS t,
        |    coalesce(sum(na + nb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM byv),
        |f AS (
        |  SELECT CAST(sum(na) AS BIGINT) AS n_a,
        |         CAST(sum(nb) AS BIGINT) AS n_b,
        |    sum(CAST(na AS DECIMAL(38,0)) * (cb * 2 + t + 1)) AS r2a,
        |    sum(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie3
        |  FROM cum)
        |SELECT n_a, n_b,
        |  CAST((r2a - CAST(n_a AS DECIMAL(38,0)) * n_a - n_a) AS DOUBLE) / 2
        |    AS u_a,
        |  round((CAST((r2a - CAST(n_a AS DECIMAL(38,0)) * n_a - n_a) AS DOUBLE)
        |           / 2 - CAST(n_a AS DOUBLE) * n_b / 2)
        |    / sqrt(CAST(n_a AS DOUBLE) * n_b / 12 *
        |        ((n_a + n_b + 1) - CAST(tie3 AS DOUBLE) /
        |           ((n_a + n_b) * CAST(n_a + n_b - 1 AS DOUBLE)))), 6) AS z,
        |  abs((CAST((r2a - CAST(n_a AS DECIMAL(38,0)) * n_a - n_a) AS DOUBLE)
        |           / 2 - CAST(n_a AS DOUBLE) * n_b / 2)
        |    / sqrt(CAST(n_a AS DOUBLE) * n_b / 12 *
        |        ((n_a + n_b + 1) - CAST(tie3 AS DOUBLE) /
        |           ((n_a + n_b) * CAST(n_a + n_b - 1 AS DOUBLE)))))
        |    > 1.959964 AS reject_h0
        |FROM f""".stripMargin),
    "agg_ks_test" -> (abByValueSql + """,
        |cum AS (
        |  SELECT v,
        |    sum(na) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    sum(nb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
        |  FROM byv),
        |t AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
        |             CAST(sum(nb) AS BIGINT) AS n_b FROM byv)
        |SELECT n_a, n_b,
        |  round(CAST(max(abs(cuma * n_b - cumb * n_a)) AS DOUBLE)
        |        / (n_a * n_b), 6) AS ks_d,
        |  round(1.3581015157406195
        |        * sqrt(CAST(n_a + n_b AS DOUBLE) / (n_a * n_b)), 6) AS d_crit,
        |  CAST(max(abs(cuma * n_b - cumb * n_a)) AS DOUBLE) / (n_a * n_b) >
        |    1.3581015157406195 * sqrt(CAST(n_a + n_b AS DOUBLE) / (n_a * n_b))
        |    AS reject_h0
        |FROM cum CROSS JOIN t GROUP BY n_a, n_b""".stripMargin),
    "agg_gini_concentration" ->
      """WITH rev AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY o_custkey),
        |rk AS (
        |  SELECT rev, o_custkey,
        |    row_number() OVER (ORDER BY rev, o_custkey) AS rk
        |  FROM rev),
        |t AS (SELECT count(*) AS n_customers, sum(rev) AS tot FROM rev)
        |SELECT n_customers, CAST(tot AS DOUBLE) AS total_rev,
        |  round((2.0 * CAST(sum(CAST(CAST(rk AS DECIMAL(19,0)) * rev AS DECIMAL(38,2))) AS DOUBLE)
        |      - (n_customers + 1) * CAST(tot AS DOUBLE))
        |      / (n_customers * CAST(tot AS DOUBLE)), 6) AS gini,
        |  round(CAST(sum(CASE WHEN rk > n_customers - n_customers // 10
        |                 THEN rev END) AS DOUBLE)
        |      / CAST(tot AS DOUBLE), 6) AS top_decile_share
        |FROM rk CROSS JOIN t GROUP BY n_customers, tot""".stripMargin,
    "agg_rfm_segments" ->
      """WITH per AS (
        |  SELECT o_custkey, max(o_orderdate) AS last_dt, count(*) AS n_orders,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY o_custkey),
        |mx AS (SELECT max(last_dt) AS ref_dt FROM per),
        |b AS (
        |  SELECT per.*, date_diff('day', CAST(last_dt AS DATE),
        |                          CAST(ref_dt AS DATE)) AS recency_days
        |  FROM per CROSS JOIN mx),
        |q AS (
        |  SELECT o_custkey, spend, recency_days,
        |    ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r_q,
        |    ntile(4) OVER (ORDER BY n_orders, o_custkey) AS f_q,
        |    ntile(4) OVER (ORDER BY spend, o_custkey) AS m_q
        |  FROM b)
        |SELECT r_q, f_q, m_q, count(*) AS n_customers,
        |  round(CAST(sum(spend) AS DOUBLE) / count(*), 4) AS avg_spend,
        |  round(CAST(sum(recency_days) AS DOUBLE) / count(*), 4) AS avg_recency
        |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "agg_anova_f" -> (arm3Sql + """,
        |m AS (
        |  SELECT
        |    count(CASE WHEN g = 0 THEN 1 END) AS n_a,
        |    count(CASE WHEN g = 1 THEN 1 END) AS n_b,
        |    count(CASE WHEN g = 2 THEN 1 END) AS n_c,
        |    sum(CASE WHEN g = 0 THEN v END) AS s_a,
        |    sum(CASE WHEN g = 1 THEN v END) AS s_b,
        |    sum(CASE WHEN g = 2 THEN v END) AS s_c,
        |    sum(CASE WHEN g = 0 THEN CAST(v * v AS DECIMAL(38,4)) END) AS q_a,
        |    sum(CASE WHEN g = 1 THEN CAST(v * v AS DECIMAL(38,4)) END) AS q_b,
        |    sum(CASE WHEN g = 2 THEN CAST(v * v AS DECIMAL(38,4)) END) AS q_c
        |  FROM e),
        |d AS (
        |  SELECT n_a, n_b, n_c,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + CAST(n_c AS DOUBLE)
        |      AS nn,
        |    CAST(s_a AS DOUBLE) + CAST(s_b AS DOUBLE) + CAST(s_c AS DOUBLE)
        |      AS s,
        |    CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      + CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |      + CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE)
        |      AS sjsq,
        |    CAST(q_a AS DOUBLE) + CAST(q_b AS DOUBLE) + CAST(q_c AS DOUBLE)
        |      AS q
        |  FROM m)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(n_c AS BIGINT) AS n_c,
        |  round(sjsq - s * s / nn, 6) AS ss_between,
        |  round(q - sjsq, 6) AS ss_within,
        |  round(((sjsq - s * s / nn) / 2) / ((q - sjsq) / (nn - 3)), 6)
        |    AS f_stat,
        |  ((sjsq - s * s / nn) / 2) / ((q - sjsq) / (nn - 3)) > 2.995732
        |    AS reject_h0
        |FROM d""".stripMargin),
    "agg_kruskal_wallis" -> (arm3Sql + """,
        |byv AS (
        |  SELECT v,
        |    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS nb,
        |    sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS nc
        |  FROM e GROUP BY v),
        |cum AS (
        |  SELECT v, na, nb, nc, na + nb + nc AS t,
        |    coalesce(sum(na + nb + nc) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM byv),
        |f AS (
        |  SELECT CAST(sum(na) AS BIGINT) AS n_a,
        |         CAST(sum(nb) AS BIGINT) AS n_b,
        |         CAST(sum(nc) AS BIGINT) AS n_c,
        |    sum(CAST(na AS DECIMAL(38,0)) * (cb * 2 + t + 1)) AS r2a,
        |    sum(CAST(nb AS DECIMAL(38,0)) * (cb * 2 + t + 1)) AS r2b,
        |    sum(CAST(nc AS DECIMAL(38,0)) * (cb * 2 + t + 1)) AS r2c,
        |    sum(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie3
        |  FROM cum),
        |d AS (
        |  SELECT n_a, n_b, n_c, CAST(tie3 AS DOUBLE) AS tie3,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + CAST(n_c AS DOUBLE)
        |      AS nn,
        |    CAST(r2a AS DOUBLE) * CAST(r2a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      + CAST(r2b AS DOUBLE) * CAST(r2b AS DOUBLE)
        |        / CAST(n_b AS DOUBLE)
        |      + CAST(r2c AS DOUBLE) * CAST(r2c AS DOUBLE)
        |        / CAST(n_c AS DOUBLE) AS rsq
        |  FROM f)
        |SELECT n_a, n_b, n_c,
        |  round(12.0 / (nn * (nn + 1)) * (rsq / 4.0) - 3.0 * (nn + 1), 6)
        |    AS h_stat,
        |  round((12.0 / (nn * (nn + 1)) * (rsq / 4.0) - 3.0 * (nn + 1))
        |    / (1.0 - tie3 / (nn * nn * nn - nn)), 6) AS h_tie_corrected,
        |  (12.0 / (nn * (nn + 1)) * (rsq / 4.0) - 3.0 * (nn + 1))
        |    / (1.0 - tie3 / (nn * nn * nn - nn)) > 5.991465 AS reject_h0
        |FROM d""".stripMargin),
    "agg_spearman_corr" ->
      """WITH r AS (
        |  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS vx,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) AS vy
        |  FROM lineitem),
        |dx AS (SELECT vx, count(*) AS t FROM r GROUP BY vx),
        |cx AS (
        |  SELECT vx, coalesce(sum(t) OVER (ORDER BY vx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
        |    + t + 1 AS r2_vx
        |  FROM dx),
        |dy AS (SELECT vy, count(*) AS t FROM r GROUP BY vy),
        |cy AS (
        |  SELECT vy, coalesce(sum(t) OVER (ORDER BY vy
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
        |    + t + 1 AS r2_vy
        |  FROM dy),
        |j AS (
        |  SELECT r2_vx, r2_vy
        |  FROM r JOIN cx USING (vx) JOIN cy USING (vy)),
        |f AS (
        |  SELECT count(*) AS n,
        |    sum(CAST(r2_vx AS DECIMAL(38,0))) AS sx,
        |    sum(CAST(r2_vy AS DECIMAL(38,0))) AS sy,
        |    sum(CAST(r2_vx AS DECIMAL(38,0)) * r2_vx) AS sxx,
        |    sum(CAST(r2_vy AS DECIMAL(38,0)) * r2_vy) AS syy,
        |    sum(CAST(r2_vx AS DECIMAL(38,0)) * r2_vy) AS sxy
        |  FROM j)
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |    AS spearman_rho,
        |  sx = CAST(n AS DECIMAL(38,0)) * (n + 1) AS rank_sum_ok_x,
        |  sy = CAST(n AS DECIMAL(38,0)) * (n + 1) AS rank_sum_ok_y
        |FROM f""".stripMargin,
    "agg_pareto_share" ->
      """WITH rev AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY rev, o_custkey) AS rk
        |  FROM rev),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(rev) AS tot FROM rev),
        |a AS (
        |  SELECT max(n) AS n, max(tot) AS tot,
        |    sum(CASE WHEN rk > n - (n * 1 + 99) // 100 THEN rev END) AS top_1,
        |    sum(CASE WHEN rk > n - (n * 5 + 99) // 100 THEN rev END) AS top_5,
        |    sum(CASE WHEN rk > n - (n * 10 + 99) // 100 THEN rev END) AS top_10,
        |    sum(CASE WHEN rk > n - (n * 20 + 99) // 100 THEN rev END) AS top_20
        |  FROM r CROSS JOIN t),
        |u AS (
        |  SELECT 1 AS pct, CAST((n * 1 + 99) // 100 AS BIGINT) AS k_customers,
        |    n AS n_customers, CAST(top_1 AS DOUBLE) AS top_rev,
        |    CAST(tot AS DOUBLE) AS t FROM a
        |  UNION ALL
        |  SELECT 5, CAST((n * 5 + 99) // 100 AS BIGINT), n,
        |    CAST(top_5 AS DOUBLE), CAST(tot AS DOUBLE) FROM a
        |  UNION ALL
        |  SELECT 10, CAST((n * 10 + 99) // 100 AS BIGINT), n,
        |    CAST(top_10 AS DOUBLE), CAST(tot AS DOUBLE) FROM a
        |  UNION ALL
        |  SELECT 20, CAST((n * 20 + 99) // 100 AS BIGINT), n,
        |    CAST(top_20 AS DOUBLE), CAST(tot AS DOUBLE) FROM a)
        |SELECT pct, k_customers, n_customers, top_rev,
        |  round(top_rev / t, 6) AS share
        |FROM u ORDER BY pct""".stripMargin,
    "agg_log2_histogram" ->
      """WITH b AS (
        |  SELECT length(bin(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT))) AS bin2
        |  FROM orders),
        |g AS (SELECT CAST(bin2 AS BIGINT) AS bin2, count(*) AS n_orders
        |      FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n FROM g)
        |SELECT bin2, power(2.0, bin2 - 1) AS lo_cents,
        |  power(2.0, bin2) AS hi_cents, n_orders,
        |  round(CAST(n_orders AS DOUBLE) / n, 6) AS share,
        |  round(CAST(sum(n_orders) OVER (ORDER BY bin2
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / n, 6) AS cum_share
        |FROM g CROSS JOIN t ORDER BY bin2""".stripMargin,
    "agg_eb_shrunk_means" ->
      """WITH per AS (
        |  SELECT o_custkey, count(*) AS n,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sv
        |  FROM orders GROUP BY 1),
        |g AS (SELECT CAST(sum(n) AS DOUBLE) AS gn,
        |             CAST(sum(sv) AS DOUBLE) AS gs FROM per),
        |s AS (
        |  SELECT o_custkey, CAST(n AS BIGINT) AS n_orders,
        |    round(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_mean,
        |    round((CAST(sv AS DOUBLE) + 20.0 * (gs / gn))
        |      / (CAST(n AS DOUBLE) + 20.0), 6) AS shrunk_mean
        |  FROM per CROSS JOIN g)
        |SELECT o_custkey, n_orders, raw_mean, shrunk_mean
        |FROM s ORDER BY shrunk_mean DESC, o_custkey LIMIT 20""".stripMargin,
    "agg_regression_outlier" ->
      """WITH b AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS y
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx
        |  FROM b GROUP BY 1),
        |t AS (
        |  SELECT l_returnflag, n, sx, sy,
        |    n*sxx - sx*sx AS dd, n*sxy - sx*sy AS nn
        |  FROM s),
        |r AS (
        |  SELECT b.l_returnflag, b.l_orderkey, b.l_linenumber, b.x, b.y,
        |    t.n, t.dd, t.nn,
        |    t.n*t.dd*b.y - t.n*t.nn*b.x - t.dd*t.sy + t.nn*t.sx AS rs
        |  FROM b JOIN t USING (l_returnflag)),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY abs(rs) DESC, l_orderkey, l_linenumber) AS rn
        |  FROM r)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_pts,
        |  round(CAST(nn AS DOUBLE) / CAST(dd AS DOUBLE), 6) AS slope,
        |  l_orderkey AS worst_orderkey,
        |  CAST(l_linenumber AS INT) AS worst_linenumber,
        |  CAST(x AS DOUBLE) / 100.0 AS worst_qty,
        |  CAST(y AS DOUBLE) / 100.0 AS worst_price,
        |  round(CAST(rs AS DOUBLE) / CAST(n*dd AS DOUBLE) / 100.0, 4)
        |    AS worst_residual
        |FROM rk WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "agg_skew_kurtosis" ->
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS c
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, count(*) AS n, sum(c) AS s1, sum(c*c) AS s2,
        |    sum(c*c*c) AS s3, sum(c*c*c*c) AS s4
        |  FROM c GROUP BY 1),
        |d AS (
        |  SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |    CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1,
        |    CAST(s2 AS DOUBLE) AS s2, CAST(s3 AS DOUBLE) AS s3,
        |    CAST(s4 AS DOUBLE) AS s4
        |  FROM s),
        |m AS (
        |  SELECT l_returnflag, n,
        |    s1 / nd AS m1, s2 / nd - (s1 / nd) * (s1 / nd) AS m2,
        |    s3 / nd - 3.0 * (s1 / nd) * (s2 / nd)
        |      + 2.0 * (s1 / nd) * (s1 / nd) * (s1 / nd) AS m3,
        |    s4 / nd - 4.0 * (s1 / nd) * (s3 / nd)
        |      + 6.0 * (s1 / nd) * (s1 / nd) * (s2 / nd)
        |      - 3.0 * (s1 / nd) * (s1 / nd) * (s1 / nd) * (s1 / nd) AS m4
        |  FROM d)
        |SELECT l_returnflag, n,
        |  round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
        |  round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "agg_histogram_numeric" ->
      """WITH b AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    // 2500000 AS bin
        |  FROM orders),
        |g AS (SELECT bin, count(*) AS n_orders FROM b GROUP BY bin),
        |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n FROM g)
        |SELECT bin, CAST(bin * 25000 AS DOUBLE) AS lo,
        |  CAST((bin + 1) * 25000 AS DOUBLE) AS hi, n_orders,
        |  round(CAST(n_orders AS DOUBLE) / n, 6) AS share,
        |  round(CAST(sum(n_orders) OVER (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / n, 6) AS cum_share
        |FROM g CROSS JOIN t ORDER BY bin""".stripMargin,
  )
}
