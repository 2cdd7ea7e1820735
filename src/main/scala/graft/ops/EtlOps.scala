package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.collection.immutable.ListMap
import graft.Tables._
import graft.api.Transforms

/** SURVEY §2.K — ETL-heritage operators (#65–#70), the oeem-etl
  * semantics re-expressed as distributed transforms: unit
  * normalization, interval QA, gap-filling against a time spine,
  * last-write-wins upsert, deterministic chunking, incremental
  * high-watermark loads.
  *
  * Scale posture: upsert/dedup key by natural key (one shuffle);
  * gap-fill joins a generated spine against pre-aggregated hours (the
  * spine is tiny — broadcast); the incremental filter is a scalar
  * aggregate broadcast against the scan, the classic idempotent
  * re-run predicate of a Luigi-style pipeline; the chunker is the
  * distributed prefix-sum form (per-bucket ranks + broadcast bucket
  * offsets — no single-partition window over the data).
  */
object EtlOps {

  /** #65 — unit normalization (therms→kWh for purchase events),
    * exact decimal conversion factor. */
  def etlNormalizeUnits(spark: SparkSession, sf: String): DataFrame = {
    val factor = lit(29.3001).cast(DecimalType(6, 4))
    val kwh = when(col("event_type") === "purchase", money(col("value")) * factor)
      .otherwise(money(col("value"))).cast(DecimalType(28, 6))
    events(spark, sf)
      .select(col("event_type"), kwh.as("kwh"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("kwh")).cast("double").as("total_kwh"))
      .orderBy(col("event_type"))
  }

  /** #66 — interval QA over the per-user reading stream: flag gaps
    * > 2h and duplicate timestamps (lag-based validation). */
  def etlIntervalValidate(spark: SparkSession, sf: String): DataFrame =
    graft.api.Transforms.flagIntervalAnomalies(
        events(spark, sf).select(col("event_id"), col("user_id"), col("ts")),
        key = col("user_id"), ts = col("ts"), tieBreak = col("event_id"),
        maxGapMs = 7200000)
      .orderBy(col("event_id"))

  /** #67 — gap-fill: hourly resample of events against a generated
    * [2024-01-01, 2024-01-30] spine, zero-filling empty hours. */
  def etlGapFill(spark: SparkSession, sf: String): DataFrame =
    graft.api.Transforms.gapFill(events(spark, sf), col("ts"),
        ts("2024-01-01"), ts("2024-01-30"), expr("interval 1 hour"),
        c => date_trunc("hour", c),
        Seq(("n_events", count(lit(1)), lit(0L)),
            ("total_value", sum(money(col("value"))).cast("double"), lit(0.0))))
      .withColumnRenamed("bucket_start", "hour_start")
      .orderBy(col("hour_start"))

  /** #68 — last-write-wins upsert (datastore sync semantics): a delta
    * batch (events with k >= 50, values bumped) overlays the
    * snapshot; latest version wins per natural key. */
  def etlUpsertLastwins(spark: SparkSession, sf: String): DataFrame = {
    val base = events(spark, sf)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
    val snap = base.select(col("event_id"), lit(1).as("version"), money(col("value")).as("v"))
    val delta = base.where(col("k") >= 50)
      .select(col("event_id"), lit(2).as("version"), (money(col("value")) + 100).as("v"))
    graft.api.Transforms.upsertLastWins(snap, delta, Seq("event_id"), "version")
      .select(col("event_id"), col("version"), col("v").cast("double").as("value"))
      .orderBy(col("event_id"))
  }

  /** #69 — deterministic chunking for bulk upload: 1000-row batches
    * in event_id order, per-batch stats. Uses the distributed
    * prefix-sum chunker (coarse bucket = event_id/10000) — identical
    * batch ids to the sequential row_number formulation (proven in
    * TransformsSpec), no single-partition window over the data. */
  def etlChunkBatches(spark: SparkSession, sf: String): DataFrame = {
    graft.api.Transforms.chunkByRange(
        events(spark, sf).select(col("event_id"), money(col("value")).as("v")),
        col("event_id"), floor(col("event_id") / 10000).cast("long"), 1000)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_rows"),
           min(col("event_id")).as("min_id"),
           max(col("event_id")).as("max_id"),
           sum(col("v")).cast("double").as("total_value"))
      .orderBy(col("batch_id"))
  }

  /** #70 — incremental-load predicate: rows newer than the
    * high-watermark (max ts before 2024-01-29) — the idempotent
    * "new since last run" filter. */
  def etlIncrementalFilter(spark: SparkSession, sf: String): DataFrame =
    graft.api.Transforms.incrementalSince(events(spark, sf), col("ts"),
        col("ts") < ts("2024-01-29"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .orderBy(col("event_id"))

  /** #88 — deterministic train/val/test split (80/10/10) by hashed
    * doc_id ([[graft.api.Transforms.hashSplit]]): membership depends
    * only on the key — stable under reruns, partitioning, appends —
    * the reproducible-split contract every training-data pipeline
    * needs. Verified cross-engine (the split point is a portable
    * md5-hex comparison); output is per-(split, lang) counts. */
  def etlSplitHash(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .withColumn("split", graft.api.Transforms.hashSplit(col("doc_id"), "split",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("split"), col("lang"))

  /** #100 — SCD-2-style state intervals from the event stream: per
    * user, collapse runs of equal event_type into validity intervals
    * [valid_from, valid_to) with an open-ended current row — the
    * slowly-changing-dimension shape every warehouse load needs (the
    * reference's meter-state tracking re-expressed). Two keyed
    * windows (change detection via lag, interval close via lead),
    * both partitioned by the high-cardinality user key — no global
    * state, scales like any other keyed window. change_event_id keeps
    * the output totally ordered by a unique key. */
  def etlScd2Intervals(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id").as("change_event_id"),
              col("event_type"), col("ts").as("valid_from"),
              col("valid_to"), col("valid_to").isNull.as("is_current"))
      .orderBy(col("change_event_id"))
  }

  /** #108 — ordered funnel (view → click-after-view →
    * purchase-after-click): per-user first-event times thread through
    * three keyed aggregates, each stage an equi-join on user with a
    * strict time residual — the sequential-pattern analytics shape
    * (no window over the event stream, no per-user sort; three keyed
    * shuffles that each shrink the population). Output: one row per
    * stage with the surviving user count. */
  def eventsFunnelStages(spark: SparkSession, sf: String): DataFrame = {
    val ev = events(spark, sf).select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = ev.where(col("event_type") === "click").join(v, "user_id")
      .where(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = ev.where(col("event_type") === "purchase").join(c, "user_id")
      .where(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
    stage(v, "1_view")
      .unionByName(stage(c, "2_click_after_view"))
      .unionByName(stage(p, "3_purchase_after_click"))
      .orderBy(col("stage"))
  }

  /** #125 — merge overlapping intervals per key (interval UNION): each
    * event opens a 45-minute coverage interval; per user, transitively
    * overlapping intervals coalesce into one span (R: merging
    * overlapping billing/usage periods into coverage spans — the dual
    * of #66's overlap DETECTION). The classic formulation: a span
    * starts where an interval's start exceeds the running max of all
    * earlier ends (per-user window over exact epoch-micros), a prefix
    * sum numbers the spans, one keyed aggregate closes them. All
    * integer arithmetic — bit-exact cross-engine. Scale: window and
    * aggregate both partition by user_id; state per row is one long. */
  def etlMergeIntervals(spark: SparkSession, sf: String): DataFrame = {
    val lenUs = 45L * 60L * 1000000L
    val iv = events(spark, sf).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("s_us"),
      (unix_micros(col("ts")) + lenUs).as("e_us"))
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("s_us"), col("event_id"))
    val prevMaxEnd = max(col("e_us")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    iv.withColumn("new_span",
        when(prevMaxEnd.isNull || col("s_us") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("span_id",
        sum(col("new_span")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("span_id"))
      .agg(timestamp_micros(min(col("s_us"))).as("span_start"),
           timestamp_micros(max(col("e_us"))).as("span_end"),
           count(lit(1)).as("n_intervals"))
      .orderBy(col("user_id"), col("span_id"))
  }

  /** #128 — per-group z-score outlier flagging (R: the reference's
    * anomalous-reading screen — readings implausibly far from a
    * meter-class's norm [RECONSTRUCTED, §1.1 QA family]). Two-pass
    * moments: per-event_type count + EXACT DECIMAL sum and
    * sum-of-squares (the corpus's 2-dp doubles cast to DECIMAL(18,2),
    * so the sums are order-independent — double sums would drift
    * cross-engine), converted to double only at the end; mean, the
    * (n-1) sample variance and sqrt are then single IEEE operations
    * on identical inputs, so the z-values and the |z| > 3 flag are
    * bit-identical cross-engine with NO rounding bridge — the flag
    * compares the exact unrounded z. Scale: one keyed aggregate
    * (map-side partials) + a broadcast of the metadata-sized stats
    * row back onto the scan; no window, no second shuffle of facts. */
  def etlOutlierZscore(spark: SparkSession, sf: String): DataFrame = {
    val d = money(col("value"))
    val stats = events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(d).cast("double").as("s1"),
           sum(d * d).cast("double").as("s2"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("sd",
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)))
      .select(col("event_type"), col("n"), col("mean"), col("sd"))
    val z = (col("value") - col("mean")) / col("sd")
    events(spark, sf)
      .join(broadcast(stats), "event_type")
      // n > 1 excludes degenerate single-row groups explicitly: their
      // sd = sqrt(0/0) = NaN, and NaN > 0 is TRUE in both engines'
      // orderings, so `sd > 0` alone would let NaN z-scores through
      .where(col("n") > 1 && col("sd") > 0 && abs(z) > 3)
      .select(col("event_id"), col("event_type"), col("value"),
              round(z, 4).as("z"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** #132 — data-quality rule engine (R: the reference's validation
    * framework — named rules evaluated over every incoming reading,
    * violation counts reported per rule [RECONSTRUCTED, §1.1 QA
    * family]). All rules evaluate in ONE aggregate pass (each a
    * count_if partial — map-side combinable), then `stack` melts the
    * wide counts into (rule, n_violations) rows: rule count never
    * changes the number of data passes, and the long form is what a
    * quality dashboard joins/alerts on. A null predicate counts as a
    * violation (coalesce false) — unknown is not compliant. */
  /** #183 — CUPED variance reduction (round 11; Deng et al., WSDM'13
    * — the #175 A/B readout's standard companion on every
    * experimentation platform): each user's PRE-period value sum is
    * the covariate X, the POST-period sum the metric Y (cutoff
    * 2024-01-16, mid-corpus; users missing a period contribute 0 —
    * exact DECIMAL sums re-capped to (18,2) so the cross-moment
    * products stay inside both engines' exact decimal range), the
    * pooled θ = cov(X,Y)/var(X) assembles from exact second moments
    * in double with the identical expression tree both engines, and
    * each arm reports its raw and CUPED-adjusted mean
    * (ȳ − θ·(x̄_arm − x̄_global)) plus the achieved variance-reduction
    * ratio ρ². #169 floor-rounding at 4dp. Scale: one user-keyed
    * shuffle for the per-user sums, then a metadata-scale moment
    * aggregate (1 row) broadcast to the 2 arm rows — never a collect
    * of per-user residuals. */
  def eventsCupedAdjust(spark: SparkSession, sf: String): DataFrame = {
    val cutoff = ts("2024-01-16")
    val grp = when(expArm2IsA,
                   lit("A")).otherwise(lit("B"))
    def periodSum(cond: Column) =
      coalesce(sum(when(cond, money(col("value")))), lit(0)).cast(graft.Tables.DEC2)
    val per = events(spark, sf)
      .groupBy(col("user_id"))
      .agg(periodSum(col("ts") < cutoff).as("x"),
           periodSum(col("ts") >= cutoff).as("y"))
      .withColumn("grp", grp)
    val g = per.agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("y")).cast("double").as("sxy"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      sum(col("y") * col("y")).cast("double").as("syy"))
    val a = per.groupBy(col("grp")).agg(
      count(lit(1)).as("n_users"),
      sum(col("x")).cast("double").as("sxa"),
      sum(col("y")).cast("double").as("sya"))
    val n = col("n").cast("double")
    val thetaNum = n * col("sxy") - col("sx") * col("sy")
    val thetaDen = n * col("sxx") - col("sx") * col("sx")
    val theta = thetaNum / thetaDen
    val vary = n * col("syy") - col("sy") * col("sy")
    a.crossJoin(broadcast(g))
      .select(col("grp").as("arm"), col("n_users"),
        fp4(col("sya") / col("n_users")).as("mean_y"),
        fp4(col("sya") / col("n_users")
          - theta * (col("sxa") / col("n_users") - col("sx") / n)).as("mean_y_adj"),
        fp4(theta).as("theta"),
        fp4(thetaNum * thetaNum / (thetaDen * vary)).as("var_reduction"))
      .orderBy(col("arm"))
  }

  /** Typed profiling spec for lineitem — every column of the table,
    * each tagged with the metric family its type admits. Both the
    * exact (#182) and approx (#185) profilers and BOTH oracles are
    * generated from this one list, so the Spark plan and the DuckDB
    * SQL cannot drift column-by-column. Round 13: the machinery
    * behind both profilers moved to [[graft.api.Transforms.profile]]
    * / [[graft.api.Transforms.profileApprox]] — a platform user
    * profiles arbitrary tables through that public API (spec
    * inferred by `Transforms.profileSpec` or hand-written); these
    * graded queries are now thin lineitem bindings of it, plans and
    * hashes unchanged. */
  private val lineitemProfile: Seq[Transforms.ProfileColumn] = Seq(
    Transforms.ProfileColumn("l_orderkey", "int"),
    Transforms.ProfileColumn("l_partkey", "int"),
    Transforms.ProfileColumn("l_suppkey", "int"),
    Transforms.ProfileColumn("l_linenumber", "int"),
    Transforms.ProfileColumn("l_quantity", "num"),
    Transforms.ProfileColumn("l_extendedprice", "num"),
    Transforms.ProfileColumn("l_discount", "num"),
    Transforms.ProfileColumn("l_tax", "num"),
    Transforms.ProfileColumn("l_returnflag", "str"),
    Transforms.ProfileColumn("l_linestatus", "str"),
    Transforms.ProfileColumn("l_shipdate", "ts"))

  /** #182 — column profiler (round 11; widened to the FULL lineitem
    * table in round 12, generalized to [[Transforms.profile]] in
    * round 13; the Deequ / Great-Expectations profiling pass every
    * data platform schedules against every table): for ALL 11
    * lineitem columns, row count, null count, exact distinct count,
    * numeric min/max/mean (exact-DECIMAL sum ÷ count in double — the
    * #20 policy; integer keys profiled the same way), string min/max,
    * and timestamps profiled as exact epoch-microsecond bounds. See
    * [[Transforms.profile]] for the plan shape (one fixed-width hash
    * aggregate + one keyless string pass + the per-column distinct
    * union, each choice measured) and [[Transforms.profileApprox]]
    * for the 100 TB swap, graded side-by-side as #185. */
  def etlProfileColumns(spark: SparkSession, sf: String): DataFrame =
    Transforms.profile(lineitem(spark, sf), lineitemProfile, money)

  /** #185 — one-pass approx column profiler (round 12; generalized to
    * [[Transforms.profileApprox]] in round 13): the 100 TB form of
    * #182 — null counts plus a DataSketches HLL cardinality sketch
    * (lgK=14, ≈0.8% RSE) for all 11 lineitem columns in ONE hash
    * aggregate with NO distinct expand and no per-column re-scan.
    * Why DataSketches and not #28's `approx_count_distinct`: at
    * comparable precision the built-in HLL++ measured 9–12 s at sf0.1
    * (its ~2,731 buffer words per column disable codegen) vs ~1.0 s
    * for the DataSketches TypedImperativeAggregate. Graded under the
    * #172 tolerance CONTRACT via `withExactCheck = true`: the output
    * carries the EXACT distinct counts plus a flag that the sketch
    * estimate lands within 5% of each (measured worst error 0.45%
    * across graded scales — >10× slack, so the flag pins estimator
    * health, not luck); DuckDB emits the exacts and literal `true`,
    * so estimator drift >5% on any column flips a flag and fails the
    * hash. Production callers use `withExactCheck = false` and read
    * the estimate directly — that is the scale path. */
  def etlProfileApprox(spark: SparkSession, sf: String): DataFrame =
    Transforms.profileApprox(lineitem(spark, sf), lineitemProfile,
      withExactCheck = true)

  def etlDqRules(spark: SparkSession, sf: String): DataFrame = {
    val preds: Seq[(String, Column)] = Seq(
      "discount_le_8pct"  -> (col("l_discount") <= 0.08),
      "positive_price"    -> (col("l_extendedprice") > 0),
      "qty_le_45"         -> (col("l_quantity") <= 45),
      "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R"),
      "tax_le_6pct"       -> (col("l_tax") <= 0.06),
    )
    val aggCols = count(lit(1)).as("n_checked") +: preds.map { case (nm, p) =>
      count(when(!coalesce(p, lit(false)), 1)).as(s"v_$nm") }
    val wide = lineitem(spark, sf).agg(aggCols.head, aggCols.tail: _*)
    val stackSql = preds.map { case (nm, _) => s"'$nm', v_$nm" }
      .mkString(s"stack(${preds.size}, ", ", ", ") as (rule, n_violations)")
    wide.select(expr(stackSql), col("n_checked"))
      .select(col("rule"), col("n_checked"), col("n_violations"),
        round(col("n_violations").cast("double") / col("n_checked"), 4)
          .as("violation_rate"))
      .orderBy(col("rule"))
  }

  /** #135 — small-files compaction (R: the reference's datastore
    * maintenance — a streaming/incremental ingest leaves thousands of
    * kilobyte files whose per-file open/footer cost eventually
    * dominates scans [RECONSTRUCTED]). The op simulates the problem
    * (documents sprayed across 32 shard files), then runs the
    * compaction pass: `coalesce(4)` — a NARROW repack, no shuffle, no
    * sort, each output task concatenating ~8 input shards — and
    * re-reads the compacted layout, REQUIRE-ing the file count
    * actually dropped. At 100 TB the same pass runs per partition
    * directory with a target file size. Oracle-graded: compaction is
    * content-preserving, so the aggregate equals the same off the
    * documents parquet. */
  def etlCompactSmallFiles(spark: SparkSession, sf: String): DataFrame = {
    val smallDir = graft.Tables.scratch("graft_small_files")
    val compactDir = graft.Tables.scratch("graft_compacted")
    documents(spark, sf).repartition(32)
      .write.mode("overwrite").parquet(smallDir)
    spark.read.parquet(smallDir).coalesce(4)
      .write.mode("overwrite").parquet(compactDir)
    val back = spark.read.parquet(compactDir)
    val nFiles = back.select(input_file_name()).distinct().count()
    require(nFiles <= 4, s"etlCompactSmallFiles: $nFiles files after compaction")
    back.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  /** The attribution ops' two touch frames over events: purchases
    * (`purchase_id`, `user_id`, `p_us`) and clicks (`click_id`,
    * `user_id`, `c_us`, `campaign` = the props JSON's `k`), times in
    * exact integer micros. */
  private def purchasesAndClicks(spark: SparkSession,
      sf: String): (DataFrame, DataFrame) = {
    val ev = events(spark, sf)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
              unix_micros(col("ts")).as("p_us"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
              unix_micros(col("ts")).as("c_us"),
              get_json_object(col("props"), "$.k").cast("int").as("campaign"))
    (purchases, clicks)
  }

  /** #144 — last-touch attribution (round 7): every purchase is
    * credited to the user's most recent STRICTLY-earlier click, and
    * the click's campaign id (the `k` of its props JSON) becomes the
    * attributed channel — the marketing-attribution join every event
    * warehouse runs. Purchases with no prior click stay in the output
    * unattributed (null campaign).
    *
    * Shape: the #18 as-of pattern — a user-keyed equi-join
    * (clicks × purchases per user) with a strict time residual,
    * collapsed by a PARTIAL-able `max_by(struct(ts, event_id))` per
    * purchase (no window over the stream), then a left join back so
    * unattributed purchases survive. Candidate pairs are per-user
    * clicks × purchases — the as-of working set, never cross-user.
    * The attribution gap is exact integer micros. */
  def eventsAttributionLasttouch(spark: SparkSession, sf: String): DataFrame = {
    val (purchases, clicks) = purchasesAndClicks(spark, sf)
    val attributed = purchases.join(clicks, "user_id")
      .where(col("c_us") < col("p_us"))
      .groupBy(col("purchase_id"))
      .agg(max_by(struct(col("click_id"), col("campaign"), col("c_us")),
                  struct(col("c_us"), col("click_id"))).as("best"))
      .select(col("purchase_id"), col("best.click_id").as("click_id"),
              col("best.campaign").as("campaign"), col("best.c_us").as("c_us"))
    purchases.join(attributed, Seq("purchase_id"), "left")
      .select(col("purchase_id"), col("user_id"), col("click_id"),
              col("campaign"), (col("p_us") - col("c_us")).as("gap_us"))
      .orderBy(col("purchase_id"))
  }

  /** #145 — fact-to-SCD2 point-in-time join (round 7): signup events
    * define each user's TIER history (n-th signup ⇒ tier n, valid
    * until the next signup — the SCD-2 dimension #100 builds, keyed
    * on a business attribute); every purchase is joined to the tier
    * interval containing its timestamp — "what dimension state was
    * true when this fact happened", the temporal star-join every
    * warehouse needs. Purchases before the user's first signup keep
    * a null tier (left join).
    *
    * Shape: the dimension is built with one per-user window over
    * SIGNUP rows only (a filtered fraction of the stream); the fact
    * join is a user-keyed equi-join with a half-open-interval
    * residual — intervals are disjoint by construction, so at most
    * one row matches and no argmax is needed. All integer micros. */
  def joinScd2Pointintime(spark: SparkSession, sf: String): DataFrame = {
    val ev = events(spark, sf)
    val w = Window.partitionBy(col("user_id")).orderBy(col("s_us"), col("signup_id"))
    val tiers = ev.where(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"),
              unix_micros(col("ts")).as("s_us"))
      .withColumn("tier", row_number().over(w).cast("long"))
      .withColumn("next_us", lead(col("s_us"), 1).over(w))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
              unix_micros(col("ts")).as("p_us"), col("value"))
    purchases.join(tiers,
        purchases("user_id") === tiers("user_id") &&
        col("p_us") >= col("s_us") &&
        (col("next_us").isNull || col("p_us") < col("next_us")), "left")
      .select(col("purchase_id"), purchases("user_id"), col("tier"),
              col("signup_id"), round(col("value"), 2).as("value"))
      .orderBy(col("purchase_id"))
  }

  /** #146 — snapshot diff (round 7): the data-versioning audit —
    * given two versions of a keyed table, classify every key as
    * added / removed / changed / unchanged and report per-class
    * counts plus an order-independent key checksum. Versions are
    * carved deterministically from orders (v1 drops keys ≡ 3,
    * v2 drops keys ≡ 0 mod 97; v2 bumps the price of keys ≡ 0 mod
    * 89), so the oracle rebuilds both sides from the same parquet.
    *
    * Shape: ONE full-outer equi-join on the key, class assignment in
    * the projection, one keyed count — the minimal-shuffle diff; at
    * 100 TB both sides would be bucketed on the key (#109) and the
    * join exchange disappears. */
  def etlSnapshotDiff(spark: SparkSession, sf: String): DataFrame = {
    val o = orders(spark, sf).select(col("o_orderkey"), money(col("o_totalprice")).as("price"))
    val v1 = o.where(col("o_orderkey") % 97 =!= 3)
      .select(col("o_orderkey").as("k1"), col("price").as("price1"))
    val v2 = o.where(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey").as("k2"),
        when(col("o_orderkey") % 89 === 0, dec(col("price") + 1, 18, 2))
          .otherwise(col("price")).as("price2"))
    v1.join(v2, col("k1") === col("k2"), "full_outer")
      .select(
        when(col("k1").isNull, "added")
          .when(col("k2").isNull, "removed")
          .when(col("price1") =!= col("price2"), "changed")
          .otherwise("unchanged").as("class"),
        coalesce(col("k1"), col("k2")).as("k"))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("key_sum"))
      .orderBy(col("class"))
  }

  /** #147 — CDC changelog apply (round 7): the events stream read as
    * a change-data-capture log on user rows — every event is an
    * upsert carrying `value`, except `error` events which are
    * DELETES; ops apply in (ts, event_id) order and the final table
    * is the last-writer state of every surviving key. Extends #68
    * (upsert-only last-wins) with the delete semantics a real CDC
    * sink must honor: a key whose LAST op is a delete is absent,
    * regardless of how many upserts preceded it.
    *
    * Shape: one keyed `max_by(struct)` aggregate picks the last op
    * per key (partial-able, no window over the stream), then a
    * filter drops deleted keys. State per key is one struct. */
  def etlCdcApply(spark: SparkSession, sf: String): DataFrame = {
    events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
              col("event_type"), col("value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ops"),
           max_by(struct(col("event_id"), col("event_type"), col("value")),
                  struct(col("us"), col("event_id"))).as("last"))
      .where(col("last.event_type") =!= "error")
      .select(col("user_id"), col("n_ops"),
              col("last.event_id").as("last_event_id"),
              round(col("last.value"), 2).as("last_value"))
      .orderBy(col("user_id"))
  }

  /** #160 — forward-fill / LOCF (round 7): `error` events carry no
    * usable reading, so their value is nulled and replaced by the
    * user's LAST valid observation (last-observation-carried-forward
    * — the sensor-feed repair every metering/telemetry pipeline
    * runs). Events before a user's first valid reading stay null.
    *
    * Shape: ONE per-user window with `last(_, ignoreNulls = true)`
    * over an unbounded-preceding row frame — the running "most recent
    * non-null" is O(1) state per row; no self-join, no per-gap scan.
    * Partitioned by the entity key like every window here, so
    * partition size is a user's history, never the stream. */
  def etlForwardFill(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val valid = when(col("event_type") =!= "error", money(col("value")))
    events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
              last(valid, ignoreNulls = true).over(w)
                .cast("double").as("filled_value"))
      .orderBy(col("event_id"))
  }

  /** #148 — OHLC time-series downsample (round 7): the classic
    * bar-chart resample — per (event_type, day) the first (open),
    * max (high), min (low), and last (close) reading, ordered by
    * (ts, event_id) so ties are deterministic. The storage shape for
    * any dashboard that refuses to scan raw ticks.
    *
    * Shape: ONE hash aggregate — open/close are `min_by`/`max_by`
    * over a (ts, event_id) struct, both PARTIAL-able (each map task
    * keeps one candidate per group, merge picks the winner), so there
    * is no window over the stream and no per-key sort. State per
    * group is four scalars + two structs regardless of bucket size —
    * the only OHLC formulation that holds at 100 TB. */
  def tsDownsampleOhlc(spark: SparkSession, sf: String): DataFrame = {
    events(spark, sf)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
              unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"),
           round(min_by(col("value"), struct(col("us"), col("event_id"))), 2)
             .as("open_value"),
           round(max(col("value")), 2).as("high_value"),
           round(min(col("value")), 2).as("low_value"),
           round(max_by(col("value"), struct(col("us"), col("event_id"))), 2)
             .as("close_value"))
      .orderBy(col("event_type"), col("day"))
  }

  /** #164 — cohort retention matrix: users grouped by first-activity
    * day (their cohort), then for each cohort × day-offset the share
    * of the cohort active that day — the product-analytics view every
    * events warehouse serves, and for a training-data pipeline the
    * per-source freshness/decay profile. Shape: ONE scan — distinct
    * to (user, day), tag each row with the user's min day via a
    * user-keyed window (an unbounded-min over the already-deduped
    * set, not the raw stream), one (cohort, offset)-keyed count. No
    * join at all: every user is by definition active at offset 0, so
    * the cohort size IS the offset-0 count, recovered with a window
    * over the days×offsets-cardinality matrix (metadata scale). The
    * two fact-size shuffles are both on high-cardinality keys
    * ((user, day), then user). An earlier formulation joined a
    * first-activity aggregate back to the activity set — one more
    * fact scan and shuffle for the same matrix. */
  def eventsRetentionCohort(spark: SparkSession, sf: String): DataFrame = {
    val act = events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val perUser = Window.partitionBy(col("user_id"))
    val counts = act
      .withColumn("cohort_day", min(col("day")).over(perUser))
      .groupBy(col("cohort_day"),
               datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_active")) // (user, day) already distinct
    val perCohort = Window.partitionBy(col("cohort_day"))
    counts
      .withColumn("n_cohort",
        max(when(col("day_offset") === 0, col("n_active"))).over(perCohort))
      .select(col("cohort_day").cast("timestamp").as("cohort_day"),
              col("day_offset").cast("long").as("day_offset"),
              col("n_active"), col("n_cohort"),
              round(col("n_active").cast("double") / col("n_cohort"), 4)
                .as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** #165 — rolling 7-day distinct actives (DAU/WAU/stickiness per
    * day): for each day, the distinct users active that day (DAU) and
    * within the trailing 7 days (WAU). COUNT(DISTINCT) over a sliding
    * range is the classic scale trap — SQL window functions refuse
    * DISTINCT frames, and a 7-day range self-join re-scans the fact
    * 7×. The scalable form: dedup to (user, day) once, then fan each
    * activity day out to the ≤7 observation days it contributes to
    * (a bounded explode — linear, constant 7) and count per
    * observation day. Both distinct aggregations shuffle on the
    * high-cardinality (user, day) pair (Spark plans count-distinct as
    * partial dedup on the full key before the day-level rollup), so
    * no low-cardinality hot key carries raw events. The dau⋈wau join
    * is day-cardinality metadata. */
  def eventsRollingActive(spark: SparkSession, sf: String): DataFrame = {
    val act = events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val dau = act.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = act
      .select(explode(sequence(lit(0), lit(6))).as("i"), col("day"), col("user_id"))
      .select(date_add(col("day"), col("i")).as("day"), col("user_id"))
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
    // inner join keeps only days with actual activity (the corpus has
    // no silent days; trailing fan-out days beyond the range drop out)
    dau.join(wau, "day")
      .select(col("day").cast("timestamp").as("day"), col("dau"), col("wau"),
              round(col("dau").cast("double") / col("wau"), 4).as("stickiness"))
      .orderBy(col("day"))
  }

  /** #166 — behavioral transition matrix (first-order Markov): per
    * (from_type, to_type) the count of consecutive same-user event
    * pairs and the row-normalized transition probability — the
    * sequence-mining primitive behind behavior models and session
    * simulators, and the events-stream analogue of #96's text bigram
    * LM. Shape: ONE per-user keyed window (lead over the user's
    * timeline — user_id is high-cardinality, so each history sorts
    * locally in its shuffle partition), then a (from, to)-keyed count
    * whose output is |event_types|² metadata; row totals broadcast
    * back for the probability. Ties broken by event_id, so the
    * sequence — and therefore the matrix — is deterministic. */
  def eventsMarkovTransitions(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tr = events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val totals = tr.groupBy(col("from_type"))
      .agg(sum(col("n_transitions")).as("n_from"))
    tr.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n_transitions"),
              round(col("n_transitions").cast("double") / col("n_from"), 4)
                .as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** #169 — linear interpolation of a per-user hourly reading series:
    * the other half of #160's LOCF repair (forward-fill carries the
    * LAST value; interpolation estimates BETWEEN the surrounding two —
    * the standard meter-gap estimate of an interval-reading pipeline).
    * Purchase readings bucket to hours with `max` (order-free, so the
    * bucketed value is cross-engine exact where an `avg`'s summation
    * order would not be), resample against a 7-day per-user spine
    * (168 hours × users — the spine side is metadata, broadcast under
    * the cross join), and each empty hour gets
    * `pv + (nv − pv) · (t − tp)/(tn − tp)` from the nearest
    * observations on each side, found with two `last/first
    * ignoreNulls` windows — O(1) state per row, no self-join. Hours
    * before the first / after the last observation stay NULL (no
    * extrapolation). The interpolation runs on exact integer epoch
    * deltas; one division + one multiply + one add in double, same
    * association both engines. Display rounding is the FP-EXACT form
    * `floor(x*1e4 + 0.5)/1e4` rather than `round(x, 4)`: interpolated
    * values land on exact 4-dp ties (a 2-dp reading span times a
    * dyadic dt/dT like 3/8 ends in ...5), and the engines' round()
    * implementations disagree on which side of a tie the BINARY value
    * falls (Spark rounds the exact BigDecimal expansion, DuckDB
    * rounds x*1e4 in floating point — measured 8/25,200 rows apart).
    * floor over identical IEEE operands is identical everywhere (all
    * values positive here, so the +0.5 half-up form is safe).
    * Shuffles: one hash exchange on the user key for the windows —
    * the #67/#160 family shape at any scale. */
  def tsInterpolateLinear(spark: SparkSession, sf: String): DataFrame = {
    val obs = events(spark, sf)
      .where(col("event_type") === "purchase" &&
             col("ts") >= ts("2024-01-01") && col("ts") < ts("2024-01-08"))
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(max(col("value")).as("v"))
    val hours = spark.range(1).select(explode(sequence(
      ts("2024-01-01"), ts("2024-01-07 23:00:00"),
      expr("interval 1 hour"))).as("h"))
    val spine = events(spark, sf).select(col("user_id")).distinct()
      .crossJoin(broadcast(hours))
    val byH = Window.partitionBy(col("user_id")).orderBy(col("h"))
    val back = byH.rowsBetween(Window.unboundedPreceding, 0)
    val fwd = byH.rowsBetween(0, Window.unboundedFollowing)
    spine.join(obs, Seq("user_id", "h"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("ph", last(when(col("v").isNotNull, col("h")), ignoreNulls = true).over(back))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
      .withColumn("nh", first(when(col("v").isNotNull, col("h")), ignoreNulls = true).over(fwd))
      .select(col("user_id"), col("h"),
        (floor(when(col("v").isNotNull, col("v"))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            col("pv") + (col("nv") - col("pv"))
              * (unix_timestamp(col("h")) - unix_timestamp(col("ph"))).cast("double")
              / (unix_timestamp(col("nh")) - unix_timestamp(col("ph"))).cast("double"))
          * 10000 + 0.5) / 10000.0).as("v_interp"),
        col("v").isNotNull.as("observed"))
      .orderBy(col("user_id"), col("h"))
  }

  /** #173 — sequence-pattern mining over per-user event streams (the
    * MATCH_RECOGNIZE-lite surface): each user's events collapse to an
    * ordered type-initial string (v/c/p/s/e), and pattern occurrences
    * are counted with non-overlapping regex scans — conversions
    * `v[ce]*p` (a view leading to a purchase through clicks/errors)
    * and activations `se*v` (signup to first view through errors).
    * The sequence is assembled with sort_array over (ts, event_id,
    * char) structs inside ONE per-user aggregate — deterministic
    * total order, one shuffle on the high-cardinality user key, and
    * the collected state is bounded by events-per-user (sessions at
    * 100 TB; for unbounded histories, pre-slice by session with #126
    * first). Regex scanning is left-to-right non-overlapping in both
    * engines (Java regex / RE2 agree on this pattern class). */
  def eventsSequenceRegex(spark: SparkSession, sf: String): DataFrame = {
    events(spark, sf)
      .groupBy(col("user_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("c")))),
        x => x.getField("c")), "").as("s"))
      .select(col("user_id"), length(col("s")).cast("long").as("seq_len"),
        regexp_count(col("s"), lit("v[ce]*p")).cast("long").as("n_conversions"),
        regexp_count(col("s"), lit("se*v")).cast("long").as("n_activations"))
      .orderBy(col("user_id"))
  }

  /** Per-event-type moments of the two #183 md5 arms over events'
    * 2dp value — one scan, one (type, arm) aggregate, then the arms
    * pivoted to `n_a`/`n_b` and double `sv_*`/`svv_*` columns. A type
    * whose users all hashed into one arm has no readout and is dropped
    * (the oracles' inner join of the two arm CTEs). */
  private def abArmMoments(spark: SparkSession, sf: String): DataFrame = {
    val grp = when(expArm2IsA,
                   lit("A")).otherwise(lit("B"))
    val s = events(spark, sf)
      .select(col("event_type"), money(col("value")).as("v"), grp.as("grp"))
      .groupBy(col("event_type"), col("grp"))
      .agg(count(lit(1)).as("n"),
           sum(col("v")).as("sv"),
           sum(col("v") * col("v")).as("svv"))
    def arm(g: String, c: Column) = max(when(col("grp") === g, c))
    s.groupBy(col("event_type")).agg(
      arm("A", col("n")).as("n_a"), arm("B", col("n")).as("n_b"),
      arm("A", col("sv").cast("double")).as("sv_a"),
      arm("B", col("sv").cast("double")).as("sv_b"),
      arm("A", col("svv").cast("double")).as("svv_a"),
      arm("B", col("svv").cast("double")).as("svv_b"))
      .where(col("n_a").isNotNull && col("n_b").isNotNull)
  }

  /** Arm A's mean minus arm B's over [[abArmMoments]]. */
  private def abMeanDiff: Column = col("sv_a") / col("n_a") - col("sv_b") / col("n_b")

  /** Welch's statistic over [[abArmMoments]]: the mean difference over
    * the unpooled standard error. */
  private def welchStat: Column = {
    val va = (col("svv_a") - col("sv_a") * col("sv_a") / col("n_a")) / (col("n_a") - 1)
    val vb = (col("svv_b") - col("sv_b") * col("sv_b") / col("n_b")) / (col("n_b") - 1)
    abMeanDiff / sqrt(va / col("n_a") + vb / col("n_b"))
  }

  /** #175 — A/B experiment readout with Welch's t: users assigned to
    * arms by a deterministic hash (md5 first-nibble parity — the
    * stable experiment-assignment everyone reimplements; same
    * arithmetic in the oracle), then per event_type the two arms'
    * moments reduce in ONE keyed aggregate (count / Σv / Σv² in
    * exact DECIMAL — order-independent, so the moments are
    * bit-identical cross-engine) and the t-statistic is assembled
    * from the exact moments in double with the identical expression
    * tree both engines. Rounding uses the #169 FP-exact
    * floor(x·10⁴+0.5)/10⁴ form, and significance compares the SCALED
    * INTEGER against 19 600 (|t| > 1.96) so no epsilon or round-tie
    * crosses engines. Scale: ONE scan of the events fact, one shuffle
    * on (event_type, arm), then the arms pivot to columns in a second
    * aggregate over the |types|·2 moment rows (metadata scale) — no
    * self-join re-scanning the fact; output is |types| rows. The
    * exact-moment formulation is the 100 TB shape — never a collect
    * of samples. */
  def eventsAbTtest(spark: SparkSession, sf: String): DataFrame = {
    val t = welchStat
    abArmMoments(spark, sf)
      .select(col("event_type"), col("n_a"), col("n_b"),
        fp4(abMeanDiff).as("mean_diff"),
        fp4(t).as("t_stat"),
        (floor(abs(t) * 10000 + 0.5) > 19600).as("significant"))
      .orderBy(col("event_type"))
  }

  /** #221 — difference-in-differences estimator (round 12; Card &
    * Krueger 1994 shape — the workhorse QUASI-experimental readout
    * when assignment isn't randomized per event: the #175/#183 tests
    * compare arms in one period, DiD removes arm-level baseline
    * differences AND period-level shocks by differencing twice:
    * δ = (μ_B,post − μ_B,pre) − (μ_A,post − μ_A,pre)): events in the
    * #183 md5 arms, the period split at the corpus midpoint (first
    * post day = d₀ + ⌈span/2⌉, derived via exact integer day
    * arithmetic from the 1-row min/max broadcast — no calendar
    * constant to drift), per-cell exact DECIMAL moments (n, Σv, Σv²)
    * in ONE keyed aggregate, then the 4-cell pivot, δ, its pooled
    * standard error √(Σ s²ᵢ/nᵢ) over the four cells and the t ratio
    * assembled from identical double expressions both engines,
    * displayed under #175's scaled-integer fpRound4/significance
    * contract. Shape: one corpus pass + a 4-row pivot — the #175
    * posture with a broadcast date span; at 100 TB the only exchange
    * is the (arm, period) partial aggregate. */
  def eventsDiffInDiff(spark: SparkSession, sf: String): DataFrame = {
    val grp = when(
      expArm2IsA,
      lit("A")).otherwise(lit("B"))
    val ev = events(spark, sf)
      .select(to_date(col("ts")).as("day"), money(col("value")).as("v"),
              grp.as("grp"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val cells = ev.crossJoin(broadcast(span))
      .withColumn("period",
        when(datediff(col("day"), col("d0")) * 2 <
             datediff(col("d1"), col("d0")) + 1, lit("pre"))
          .otherwise(lit("post")))
      .groupBy(col("grp"), col("period"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
           sum(col("v") * col("v")).as("svv"))
    def cell(g: String, p: String, c: Column) =
      max(when(col("grp") === g && col("period") === p, c))
    val piv = cells.agg(
      cell("A", "pre", col("n")).as("n_a_pre"),
      cell("A", "post", col("n")).as("n_a_post"),
      cell("B", "pre", col("n")).as("n_b_pre"),
      cell("B", "post", col("n")).as("n_b_post"),
      cell("A", "pre", col("sv").cast("double")).as("sv_a_pre"),
      cell("A", "post", col("sv").cast("double")).as("sv_a_post"),
      cell("B", "pre", col("sv").cast("double")).as("sv_b_pre"),
      cell("B", "post", col("sv").cast("double")).as("sv_b_post"),
      cell("A", "pre", col("svv").cast("double")).as("svv_a_pre"),
      cell("A", "post", col("svv").cast("double")).as("svv_a_post"),
      cell("B", "pre", col("svv").cast("double")).as("svv_b_pre"),
      cell("B", "post", col("svv").cast("double")).as("svv_b_post"))
    def m(s: String) = col(s"sv_$s") / col(s"n_$s")
    def vn(s: String) =
      ((col(s"svv_$s") - col(s"sv_$s") * col(s"sv_$s") / col(s"n_$s")) /
        (col(s"n_$s") - 1)) / col(s"n_$s")
    val did = (m("b_post") - m("b_pre")) - (m("a_post") - m("a_pre"))
    val t = did /
      sqrt(vn("a_pre") + vn("a_post") + vn("b_pre") + vn("b_post"))
    piv.select(
      col("n_a_pre"), col("n_a_post"), col("n_b_pre"), col("n_b_post"),
      fp4(m("a_pre")).as("m_a_pre"),
      fp4(m("a_post")).as("m_a_post"),
      fp4(m("b_pre")).as("m_b_pre"),
      fp4(m("b_post")).as("m_b_post"),
      fp4(did).as("did"),
      fp4(t).as("t_stat"),
      (floor(abs(t) * 10000 + 0.5) > 19600).as("significant"))
  }

  /** Shared fixture for #212/#214: v0 = the %5≠0 orders snapshotted
    * into a fresh 16-bucket SnapshotTable, then ONE MERGE with
    * updates (%7=1: status→'X', price+100), deletes (%7=2) and
    * inserts (the held-out %5=0, %7=3 keys). Returns the table base
    * path with versions 0 and 1 committed. The snapshot ops and
    * StreamOps' change-feed op (#305) build on it. Its SQL twin is
    * [[snapshotOrdersSql]], the `o`/`v0`/`v1` CTE every one of their
    * oracles starts with; SnapshotOrdersSpec holds the two equal. */
  private[ops] def buildSnapshotOrders(spark: SparkSession, sf: String): String = {
    // Each invocation builds a fresh table on purpose — the secondary
    // bench times the MERGE's copy-on-write cost, so a cached table
    // would silently un-measure it. The shared scratch registry keeps
    // repeated runs from accumulating orders-sized temp copies across
    // JVMs (each JVM deletes every fixture it wrote when it exits).
    val base = graft.Tables.scratch("graft_snaptbl")
    val o = orders(spark, sf).select(col("o_orderkey"), col("o_orderstatus"),
      money(col("o_totalprice")).as("o_price"))
    val v0rows = o.where(col("o_orderkey") % 5 =!= 0)
    graft.api.SnapshotTable.create(spark, base, v0rows, "o_orderkey", numBuckets = 16)
    graft.api.SnapshotTable.mergeInto(spark, base, ordersChangeSet(o),
      "o_orderkey", numBuckets = 16)
    base
  }

  /** [[buildSnapshotOrders]] in DuckDB SQL: `v0` and `v1` are the
    * table's two versions over (k, st, price). Each snapshot oracle
    * appends its own CTEs and SELECT to this text. */
  private[ops] val snapshotOrdersSql: String =
    """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |           FROM orders),
      |v0 AS (SELECT * FROM o WHERE k % 5 <> 0),
      |v1 AS (
      |  SELECT k,
      |    CASE WHEN k % 7 = 1 THEN 'X' ELSE st END AS st,
      |    CASE WHEN k % 7 = 1 THEN CAST(price + 100 AS DECIMAL(18,2))
      |         ELSE price END AS price
      |  FROM v0 WHERE k % 7 <> 2
      |  UNION ALL
      |  SELECT k, st, price FROM o WHERE k % 5 = 0 AND k % 7 = 3)""".stripMargin

  /** The canonical v0→v1 change set over the projected orders frame
    * (o_orderkey, o_orderstatus, o_price) — updates (%5≠0 ∧ %7=1:
    * status→'X', price+100), deletes (%5≠0 ∧ %7=2) and inserts (the
    * held-out %5=0 ∧ %7=3 keys) — built in ONE pass (round 19, guide
    * §1.2/§2.3: the former upd/del/ins three-arm unionAll put THREE
    * scan legs of the same parquet under every consumer of the change
    * set — the merge's fused probe, the broadcast key build and the
    * persist all paid 3x the scan tasks). A single projection with
    * the same residue-class arms emits the identical row multiset
    * (mergeInto is orderless), so every graded output and oracle is
    * untouched. Used by [[buildSnapshotOrders]], the one
    * snapshot-orders fixture (the snapshot ops and the change-feed
    * op in StreamOps). */
  private def ordersChangeSet(o: DataFrame): DataFrame = {
    val k = col("o_orderkey")
    val isUpd = k % 5 =!= 0 && k % 7 === 1
    val isDel = k % 5 =!= 0 && k % 7 === 2
    val isIns = k % 5 === 0 && k % 7 === 3
    o.select(k.as("o_orderkey"),
        when(isUpd || isIns, lit("U")).when(isDel, lit("D")).as("op"),
        when(isUpd, lit("X")).when(isIns, col("o_orderstatus"))
          .as("o_orderstatus"),
        when(isUpd, (col("o_price") + lit(100)).cast(DEC2))
          .when(isIns, col("o_price")).as("o_price"))
      .where(col("op").isNotNull)
  }

  /** The content aggregate the snapshot ops grade: `n_rows` and
    * `total_price` (the DECIMAL price sum as a double), then `extra`. */
  private def ordersContent(df: DataFrame, extra: Column*): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
      (sum(col("o_price")).cast("double").as("total_price") +: extra): _*)

  /** Rows the fixture's merge set to status 'X'. */
  private val nUpdated: Column =
    sum(when(col("o_orderstatus") === "X", 1L).otherwise(0L)).as("n_updated")

  /** One (version, n_rows, total_price, n_updated) row per version of
    * the table at `base`, ordered by version. */
  private def versionRows(spark: SparkSession, base: String, versions: Int*)
      : DataFrame =
    versions.map(v => ordersContent(
        graft.api.SnapshotTable.asOf(spark, base, v), nUpdated)
        .select(lit(v).as("version"), col("n_rows"), col("total_price"),
          col("n_updated")))
      .reduce(_ unionAll _).orderBy(col("version"))

  /** An all-'U' change set: the `cohort` rows of `df` with `price` and
    * `status` as their new o_price and o_orderstatus. */
  private[ops] def upserts(df: DataFrame, cohort: Column, price: Column,
      status: Column = col("o_orderstatus")): DataFrame =
    df.where(cohort).select(col("o_orderkey"), lit("U").as("op"),
      status.as("o_orderstatus"), price.as("o_price"))

  /** #212 — snapshot-versioned table with MERGE + time travel, over
    * [[graft.api.SnapshotTable]] (manifest-based versioned parquet —
    * the lakehouse slice the engine otherwise lacks: versioned reads
    * for reproducible training runs, snapshot-isolated readers, and
    * copy-on-write MERGE whose write cost is O(changed buckets), not
    * O(table)). v0 = the %5≠0 orders; one MERGE applies updates
    * (%7=1: status→'X', price+100), deletes (%7=2) and inserts (the
    * held-out %5=0, %7=3 keys) in a single change set; the graded
    * output reads BOTH versions via `asOf` AFTER the merge committed
    * — time travel is the semantics under test, and the v0 row
    * proves the old snapshot is byte-stable under a later commit.
    * File-reference reuse (untouched buckets carried by manifest
    * reference, not rewritten) is pinned in SnapshotTableSpec, where
    * paths are observable. Scale: manifests are metadata (one line
    * per live file), MERGE reads only changed buckets' files — the
    * iceberg cost model re-expressed on plain parquet + one atomic
    * rename, with the S3-catalog caveat documented on the API. */
  def etlSnapshotMergeTimetravel(spark: SparkSession, sf: String): DataFrame =
    versionRows(spark, buildSnapshotOrders(spark, sf), 0, 1)

  /** #263 — snapshot-table COMPACTION as a graded round-trip
    * (round 15; iceberg's rewrite_data_files re-expressed on the
    * manifest machinery): #212's merged table carries 16 small
    * per-bucket files (one file per bucket per rewrite — the
    * small-file problem every bucketed writer accumulates);
    * [[graft.api.SnapshotTable.compact]] bin-packs them into a
    * 4-bucket layout published as v2 — an ATOMIC manifest commit
    * like any write, readers of v1 untouched. The graded hash proves
    * CONTENT preservation (v1 and v2 aggregate identically, both
    * derivable from orders alone); the file-count drop — the point
    * of compaction — is asserted in-op (paths are not
    * SQL-observable) and again in SnapshotTableSpec together with
    * the vacuum interplay (old layout reclaimed, compacted version
    * intact). */
  def etlSnapshotCompact(spark: SparkSession, sf: String): DataFrame = {
    val base = buildSnapshotOrders(spark, sf)
    val v2 = graft.api.SnapshotTable.compact(spark, base, "o_orderkey",
      numBuckets = 4)
    val before = graft.api.SnapshotTable.liveFiles(spark, base, 1).size
    val after = graft.api.SnapshotTable.liveFiles(spark, base, v2).size
    require(after < before && after <= 4,
      s"compaction must bin-pack the layout: $before -> $after files")
    versionRows(spark, base, 1, v2)
  }

  /** #214 — incremental read (CDC) between table versions over
    * [[graft.api.SnapshotTable.diff]]: the semantic row delta v0→v1
    * of #212's merged table, classified added/removed/changed. The
    * scale argument is MANIFEST-DIFF PRUNING — immutable files
    * referenced by both manifests cannot contribute a diff, so only
    * the symmetric difference of the file lists is read (an
    * incremental consumer of a 100 TB table reads the rewritten
    * buckets, not the table), and co-resident rows of a rewritten
    * bucket that didn't change are filtered by a null-safe payload
    * compare. The hash-graded classes land exactly on the merge's
    * update/delete/insert key sets — proving diff ∘ merge = the
    * change set, with the oracle deriving both from orders alone. */
  def etlSnapshotIncremental(spark: SparkSession, sf: String): DataFrame = {
    val base = buildSnapshotOrders(spark, sf)
    graft.api.SnapshotTable.diff(spark, base, 0, 1, "o_orderkey")
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n_keys"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("change"))
  }

  /** #264 — year-over-year growth per calendar month (round 15; the
    * comparable-period readout every revenue dashboard leads with —
    * "this June vs last June", immune to the seasonality a
    * month-over-month delta conflates): monthly revenue = exact cent
    * sums per (year, month); YoY joins month m of year y to (y−1, m)
    * BY KEY — a calendar self-join, not lag-12 over a month-ordered
    * window, which silently mispairs across gaps in sparse months.
    * Growth is the identical double expression over exact cent longs
    * on the 6dp floor-grid; months without a prior-year partner
    * report null. Shape: ONE keyed corpus aggregate to the
    * metadata-scale month table (bounded by the calendar), then a
    * broadcast self-join over it — at 100 TB the corpus is touched
    * exactly once. */
  def tsYoyGrowth(spark: SparkSession, sf: String): DataFrame = {
    val monthly = lineitem(spark, sf)
      .groupBy(year(col("l_shipdate")).as("yr"),
               month(col("l_shipdate")).as("mo"))
      .agg((sum(money(col("l_extendedprice"))) * 100).cast("long").as("rev_c"))
      // calendar-bounded rows, TWO consumers (current + shifted prior
      // year) — the barrier keeps the corpus touched once
      .localCheckpoint()
    val prev = monthly.select((col("yr") + 1).as("yr"), col("mo"),
      col("rev_c").as("prev_c"))
    monthly.join(broadcast(prev), Seq("yr", "mo"), "left")
      .select(col("yr").cast("long").as("yr"), col("mo").cast("long").as("mo"),
        (col("rev_c").cast("double") / 100).as("revenue"),
        (col("prev_c").cast("double") / 100).as("prev_revenue"),
        (floor(((col("rev_c") - col("prev_c")).cast("double") / col("prev_c"))
          * 1000000 + 0.5) / 1000000.0).as("yoy_growth"))
      .orderBy(col("yr"), col("mo"))
  }

  /** #267 — late-arriving dimension handling (round 15; the UNKNOWN
    * MEMBER pattern every warehouse load implements — facts must land
    * even when their dimension row hasn't arrived yet, and re-point
    * once it does): lateness is simulated by withholding customers
    * with c_custkey % 13 = 0 from the dimension; orders LEFT-join the
    * present dim and misses route to the unknown member (nation key
    * −1), which the revenue-per-nation readout carries as a
    * first-class bucket (the load never drops or stalls a fact — the
    * alternative, an inner join, silently loses revenue; a stalled
    * load blocks the pipeline on the slowest upstream). Exactness:
    * cent sums exact, double at display. Shape: one BROADCAST dim
    * join (customer is dimension-scale) + one keyed aggregate. */
  def etlLateArrivingDim(spark: SparkSession, sf: String): DataFrame = {
    val dim = customer(spark, sf)
      .where(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey"), col("c_nationkey"))
    orders(spark, sf)
      .join(broadcast(dim), col("o_custkey") === col("c_custkey"), "left")
      .select(coalesce(col("c_nationkey"), lit(-1)).as("nation_key"),
        money(col("o_totalprice")).as("p"))
      .groupBy(col("nation_key"))
      .agg(count(lit(1)).as("n_orders"),
           sum(col("p")).cast("double").as("revenue"))
      .orderBy(col("nation_key"))
  }

  /** #270 — inter-arrival-time histogram per event type (round 15;
    * the cadence fingerprint behind rate-limiting, bot detection and
    * session-gap tuning — #126's 30-minute session threshold is
    * exactly a cut through this histogram): per (type, USER) stream,
    * the gap to the previous event in capped whole minutes (0..9,
    * 10 = "10+"), counted per (type, bucket). The window partitions
    * by the HIGH-CARDINALITY (type, user) pair — never by type alone,
    * which would funnel each type's whole history through one
    * reducer — and (µs, event_id) ordering makes same-µs ties
    * deterministic. All integer arithmetic (µs longs, DIV buckets);
    * nothing floats anywhere. Shape: one keyed window over
    * pre-projected rows + one keyed aggregate. */
  def eventsInterarrivalHist(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("us"), col("event_id"))
    events(spark, sf)
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("event_type"),
        least(expr("(us - prev) DIV 60000000"), lit(10L)).as("gap_bucket_min"),
        (col("us") - col("prev")).as("gap_us"))
      .groupBy(col("event_type"), col("gap_bucket_min"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("gap_us")).as("sum_gap_us"))
      .orderBy(col("event_type"), col("gap_bucket_min"))
  }

  /** #272 — baseline-vs-reporting usage split (round 15; the
    * reference's BUSINESS readout — oeem projects carry
    * `baseline_period_end` / `reporting_period_start` and the
    * datastore compares usage across them [RECONSTRUCTED, §1.1
    * project record]; re-expressed on the graded corpus: each user's
    * INTERVENTION is their first purchase, baseline = strictly-before
    * events, reporting = strictly-after): per user with activity on
    * both sides, exact cent sums and event counts per side, savings =
    * baseline − reporting cents; graded as the top-20 savers
    * (savings desc, user asc — decided on exact longs). Shape: one
    * user-keyed aggregate for the cutover (partial-able min), one
    * user-keyed conditional aggregate for the sides — the corpus is
    * touched twice at most and both exchanges share the user key. */
  def etlBaselineReportingUsage(spark: SparkSession, sf: String): DataFrame = {
    val ev = events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), (money(col("value")) * 100).cast("long").as("c"))
    val cutover = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("us")).as("cut_us"))
    ev.join(cutover, "user_id")
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("us") < col("cut_us"), col("c"))).as("b_cents"),
        sum(when(col("us") > col("cut_us"), col("c"))).as("r_cents"),
        sum(when(col("us") < col("cut_us"), 1L).otherwise(0L)).as("n_baseline"),
        sum(when(col("us") > col("cut_us"), 1L).otherwise(0L)).as("n_reporting"))
      .where(col("n_baseline") > 0 && col("n_reporting") > 0)
      .withColumn("savings_c", col("b_cents") - col("r_cents"))
      .orderBy(col("savings_c").desc, col("user_id"))
      .limit(20)
      .select(col("user_id"), col("n_baseline"), col("n_reporting"),
        (col("b_cents").cast("double") / 100).as("baseline_value"),
        (col("r_cents").cast("double") / 100).as("reporting_value"),
        (col("savings_c").cast("double") / 100).as("savings"))
  }

  /** #234 — cross-correlation function between two daily series
    * (round 13; the lead/lag detector of every KPI pair — does spend
    * LEAD volume or follow it? — the bivariate completion of #201's
    * ACF, same Box–Jenkins identification toolkit): r_k =
    * Σ cx_t·cy_{t+k} / √(Σcx²·Σcy²) for row lags k = −3..+3 between
    * daily revenue (x) and daily event count (y). Exactness: #201's
    * policy verbatim — day totals are exact DECIMAL/long, each
    * centered term is 6dp-gridded to DECIMAL(18,6) BEFORE any
    * product so numerators and the two denominators are exact
    * DECIMAL(38,12) order-independent sums, and the only doubles are
    * the final ratio and the √ of exact values (identical
    * expressions both engines), 4dp display. Shape: ONE keyed corpus
    * aggregate to the metadata-scale day table, the ±3 lags as
    * lead/lag columns of ONE window pass over that table (#201's
    * argument), stacked and aggregated — at 100 TB the corpus is
    * touched exactly once. */
  def tsCrossCorrelation(spark: SparkSession, sf: String): DataFrame = {
    val daily = events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(money(col("value"))).as("dsum"), count(lit(1)).as("cnt"))
    val const = pmod(length(col("day").cast("string")), lit(1))
    val wAll = Window.partitionBy(const)
    val wOrd = Window.partitionBy(const).orderBy(col("day"))
    val meanX =
      sum(col("dsum")).over(wAll).cast("double") / count(lit(1)).over(wAll)
    val meanY =
      sum(col("cnt")).over(wAll).cast("double") / count(lit(1)).over(wAll)
    val c = daily
      .withColumn("cx", round(col("dsum").cast("double") - meanX, 6)
        .cast("decimal(18,6)"))
      .withColumn("cy", round(col("cnt").cast("double") - meanY, 6)
        .cast("decimal(18,6)"))
    val lags = -3 to 3
    val withShifts = lags.foldLeft(c) { (df, k) =>
      val shifted = if (k >= 0) lead(col("cy"), k).over(wOrd)
                    else lag(col("cy"), -k).over(wOrd)
      df.withColumn(s"y_${k + 3}", shifted)
    }
    val den = c.agg(
      sum(dec(col("cx") * col("cx"), 38, 12)).cast("double").as("denx"),
      sum(dec(col("cy") * col("cy"), 38, 12)).cast("double").as("deny"),
      count(lit(1)).as("n_days"))
    val stackExpr = lags.map(k => s"${k}, y_${k + 3}").mkString(", ")
    withShifts
      .select(col("cx"), expr(s"stack(7, $stackExpr) AS (lag, cy_s)"))
      .groupBy(col("lag"))
      .agg(sum(dec(col("cx") * col("cy_s"), 38, 12)).cast("double").as("num"),
           count(col("cy_s")).as("n_pairs"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n_days"), col("n_pairs"),
        round(col("num") / sqrt(col("denx") * col("deny")), 4).as("ccf"))
      .orderBy(col("lag"))
  }

  /** #235 — position-based (U-shaped) multi-touch attribution
    * (round 13; the 40/20/40 credit split every marketing-analytics
    * stack offers beside last-touch #144 — first and last touch get
    * 40% each, the middle splits the remaining 20%): every purchase
    * is a conversion; its touchpoints are the user's STRICTLY-earlier
    * clicks within 7 days; credit per click is 1.0 (one touch),
    * 0.5/0.5 (two), or 0.4 / 0.2/(k−2) / 0.4 (k ≥ 3, first/middle/
    * last by click time, ties broken by click id). Credited revenue
    * = credit × purchase value. Exactness: credits are 8dp-gridded
    * DECIMAL(18,8) BEFORE any sum (0.2/(k−2) is the one non-dyadic
    * quotient — floor-scaled identically in both engines via the
    * #223 scaled-integer contract), credit×value re-cast to
    * DECIMAL(38,2) — exact, since it is 2dp money × an integer grid
    * credit; per-campaign sums are exact decimals, doubles
    * only at display. Σcredit per conversion is 1 up to the floor's
    * k·10⁻⁸ grid loss (total_credit rides along as the self-check
    * against n_conversions). Shape:
    * the #18/#144 as-of working set — one user-keyed equi-join
    * (clicks × purchases per user, never cross-user), one
    * purchase-keyed aggregate for (k, first, last), a purchase-keyed
    * join back to per-click rows, one campaign aggregate. */
  def eventsAttributionPosition(spark: SparkSession, sf: String): DataFrame = {
    val ev = events(spark, sf)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
              unix_micros(col("ts")).as("p_us"), money(col("value")).as("pv"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
              unix_micros(col("ts")).as("c_us"),
              get_json_object(col("props"), "$.k").cast("int").as("campaign"))
    val touches = purchases.join(clicks, "user_id")
      .where(col("c_us") < col("p_us") &&
             col("c_us") >= col("p_us") - lit(7L * 86400L * 1000000L))
    val shape = touches.groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("k"),
           min_by(col("click_id"), struct(col("c_us"), col("click_id")))
             .as("first_id"),
           max_by(col("click_id"), struct(col("c_us"), col("click_id")))
             .as("last_id"))
    // credit in 8dp grid units (integer): 10^8-scaled, floor for the
    // middle quotient — exact in both engines; the /10^8 happens ONCE
    // on the final exact sums (decimal division semantics differ
    // across engines, integer grids don't)
    val credit8 = when(col("k") === 1, lit(100000000L))
      .when(col("k") === 2, lit(50000000L))
      .when(col("click_id") === col("first_id"), lit(40000000L))
      .when(col("click_id") === col("last_id"), lit(40000000L))
      .otherwise(expr("20000000 DIV (k - 2)"))
    val credited = touches.join(shape, "purchase_id")
      .withColumn("credit8", credit8.cast(DecimalType(9, 0)))
      .withColumn("cred_rev8", dec(col("pv") * col("credit8"), 38, 2))
    credited.groupBy(col("campaign"))
      .agg(countDistinct(col("purchase_id")).as("n_conversions"),
           count(lit(1)).as("n_touches"),
           (sum(col("credit8")).cast("double") / lit(100000000.0))
             .as("total_credit"),
           (sum(col("cred_rev8")).cast("double") / lit(100000000.0))
             .as("credited_revenue"))
      .orderBy(col("campaign"))
  }

  /** Shared by #236/#237/#240: the two-sided normal tail probability
    * P(|Z| > |z|) = erfc(|z|/√2) via Abramowitz–Stegun 7.1.26 (max
    * abs error 1.5·10⁻⁷) — pure +,×,/,exp so BOTH engines evaluate
    * the textually-identical expression; exp() is the only libm call.
    * Cross-engine ulp noise note: consumers floor p to a 10dp integer
    * grid before comparing, which makes almost all of the grid
    * DIFFERENCE-stable, but flooring cannot absorb a 1-ulp exp()
    * difference that straddles a grid boundary — and at a BH step-up
    * threshold boundary (#236) such a flip of one p10 could flip the
    * rejected set for the family. Both engines' libm exp() have
    * agreed on this corpus every round; if a cross-engine flake ever
    * appears in the oracle sweep, the documented remedy is an integer
    * slack at the BH comparison (treat |p10·m − i·α·10¹⁰| ≤ m as a
    * tie resolved toward rejection on both sides), not a wider
    * float tolerance — IMPLEMENTED round 15 in Transforms.bhSelect
    * and the #236 oracle, with a 1-ulp perturbation spec pinning the
    * rejected set's stability. */
  private def normTwoSided(z: Column): Column = {
    val x = abs(z) / lit(1.4142135623730951)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    ((((lit(1.061405429) * t - 1.453152027) * t + 1.421413741) * t
      - 0.284496736) * t + 0.254829592) * t * exp(-(x * x))
  }

  /** #236 — Benjamini–Hochberg FDR across the per-type test family
    * (round 13; BH 1995 — the multiple-testing control every
    * experimentation platform applies when one experiment reads out
    * k metrics: #175 tests ONE metric, this runs the Welch z per
    * event type and controls the FALSE DISCOVERY RATE across the
    * family at α = 0.05): per-type Welch z from exact moments (#175's
    * machinery verbatim), two-sided p via [[normTwoSided]] floored to
    * the 10dp integer grid, then the BH step-up: order by (p10,
    * type), i = rank, reject all i ≤ k* = max{i : p₍ᵢ₎ ≤ i·α/m} —
    * the threshold comparison is PURE INTEGER (p10·m ≤ i·5·10⁸), so
    * the selection is exact in both engines given the gridded p.
    * Shape: ONE keyed corpus aggregate to (type, arm) moments; the
    * BH windows run over the m-row METADATA-scale test table (#201's
    * argument). */
  def eventsFdrBh(spark: SparkSession, sf: String): DataFrame = {
    val z = welchStat
    val scored = abArmMoments(spark, sf)
      .select(col("event_type"), col("n_a"), col("n_b"),
        fp6(z).as("z_welch"),
        floor(normTwoSided(z) * 1e10).cast("long").as("p10"))
    // the BH step-up is the generic platform helper (round 13 —
    // Transforms.bhSelect); at α = 5/100 its integer threshold
    // reduces to the p10·m ≤ rank·5·10⁸ the oracle replicates
    Transforms.bhSelect(scored, col("p10"), col("event_type"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("z_welch"),
        (col("p10").cast("double") / 1e10).as("p_value"),
        col("p_rank"), col("m_tests"), col("rejected"))
      .orderBy(col("p_rank"))
  }

  /** #237 — Bayesian A/B conversion readout (round 13; the
    * Beta-Binomial conjugate posterior every "bayesian" experiment
    * dashboard shows instead of a p-value — with a uniform Beta(1,1)
    * prior the posterior is Beta(1+c, 1+n−c) in closed form): per
    * arm, users and converters (a user converts if they have ≥1
    * purchase event), posterior mean/variance, the B−A lift, and
    * P(B > A) under the normal approximation of the posterior
    * difference, Φ(Δ/√(σ²A+σ²B)) via [[normTwoSided]]'s erf machinery.
    * Exactness: user/convert counts are exact longs from one
    * user-keyed aggregate + one fold; every statistic is an identical
    * double expression over those integers, displayed on the #175
    * 6dp scaled-integer grid. Shape: one user-keyed exchange, one
    * 1-row fold — at 100 TB the user aggregate is the only
    * corpus-scale work. */
  def eventsBayesAb(spark: SparkSession, sf: String): DataFrame = {
    val isA = expArm2IsA
    val perUser = events(spark, sf)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
    val arms = perUser.agg(
      sum(when(isA, 1L).otherwise(0L)).as("n_a"),
      sum(when(isA, col("conv")).otherwise(0L)).as("c_a"),
      sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
      sum(when(!isA, col("conv")).otherwise(0L)).as("c_b"))
    def d(c: Column) = c.cast("double")
    def postMean(cv: Column, n: Column) = (d(cv) + 1.0) / (d(n) + 2.0)
    def postVar(cv: Column, n: Column) = {
      val a = d(cv) + 1.0
      val b = d(n) - d(cv) + 1.0
      a * b / ((a + b) * (a + b) * (a + b + 1.0))
    }
    val meanA = postMean(col("c_a"), col("n_a"))
    val meanB = postMean(col("c_b"), col("n_b"))
    val dd = (meanB - meanA) /
      sqrt(postVar(col("c_a"), col("n_a")) + postVar(col("c_b"), col("n_b")))
    // Φ(dd): 1 − tail/2 for dd ≥ 0, tail/2 below (normTwoSided = 2(1−Φ(|d|)))
    val half = normTwoSided(dd) / 2.0
    val phi = when(dd >= 0, lit(1.0) - half).otherwise(half)
    arms.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      fp6(meanA).as("post_mean_a"), fp6(meanB).as("post_mean_b"),
      fp6(meanB - meanA).as("lift"),
      fp6(phi).as("prob_b_gt_a"))
  }

  /** #238 — 14-day rolling correlation between the two daily series
    * (round 13; the regime-shift readout on every pairs dashboard —
    * #234's CCF gives ONE global number, this tracks how the
    * revenue↔volume coupling MOVES): Pearson over each trailing
    * 14-day window of (daily revenue, daily count), full windows
    * only (the graded corpus spans 30 days, so the 14-day window
    * yields a 17-row readout; the window length is a constant with
    * no plan consequence). Exactness: day totals exact DECIMAL/long; the five window
    * sums are exact DECIMALs (products re-cast pre-sum: x² to (38,4),
    * x·y to (38,2), y² to (38,0)); corr is one identical double
    * expression per row, displayed on the 4dp scaled-integer grid.
    * Shape: one keyed corpus aggregate to the day table; ALL windows
    * run over that metadata-scale table (#201's argument — a
    * single-partition window over ≤ a few thousand rows at any
    * corpus size). */
  def tsRollingCorr(spark: SparkSession, sf: String): DataFrame = {
    val daily = events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(money(col("value"))).as("x"), count(lit(1)).as("y"))
    val const = pmod(length(col("day").cast("string")), lit(1))
    val w = Window.partitionBy(const).orderBy(col("day")).rowsBetween(-13, 0)
    val wr = Window.partitionBy(const).orderBy(col("day"))
    def d(c: Column) = c.cast("double")
    val sums = daily
      .withColumn("rn", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxx", sum(dec(col("x") * col("x"), 38, 4)).over(w))
      .withColumn("syy", sum(dec(col("y"), 38, 0) * col("y")).over(w))
      .withColumn("sxy", sum(dec(col("x") * col("y"), 38, 2)).over(w))
      .where(col("rn") >= 14)
    val num = d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
    val den = sqrt(
      (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
      (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))))
    sums.select(col("day").cast("timestamp").as("day"), col("n").as("n_win"),
        (floor(num / den * 10000 + 0.5) / 10000.0).as("corr14"))
      .orderBy(col("day"))
  }

  /** #239 — uplift by pre-period-activity decile (round 13; the
    * heterogeneous-treatment readout of uplift modeling — an average
    * lift hides WHO responds, so the standard decile chart scores
    * units, slices them into ten ranked buckets and reads the arm
    * gap per bucket): score = the user's PRE-period event count
    * (#221's exact midpoint split from the 1-row span broadcast),
    * outcome = POST-period conversion (≥1 purchase), deciles via the
    * exact distributed ntile (Transforms.ntileBySketch under the
    * (score, user_id) total order — the #205 machinery, never a
    * single-partition NTILE window), per (decile, arm) exact counts,
    * rates and uplift on the #175 6dp scaled-integer grid. Shape:
    * one user-keyed aggregate + the sketch-ntile rank machinery
    * (per-bucket windows + broadcast offsets) + one 10-row rollup. */
  def eventsUpliftDeciles(spark: SparkSession, sf: String): DataFrame = {
    import graft.api.Transforms.ntileBySketch
    val isA = expArm2IsA
    val ev = events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val perUser = ev.crossJoin(broadcast(span))
      .withColumn("pre",
        datediff(col("day"), col("d0")) * 2 <
          datediff(col("d1"), col("d0")) + 1)
      .groupBy(col("user_id"))
      .agg(sum(when(col("pre"), 1L).otherwise(0L)).as("score"),
           max(when(!col("pre") && col("event_type") === "purchase", 1L)
             .otherwise(0L)).as("conv"))
    val dec10 = ntileBySketch(perUser, col("score"),
        struct(col("score"), col("user_id")), 10)
      .withColumnRenamed("ntile", "decile")
    // a decile whose users all hashed into one arm has no rate for the
    // other (NULL, mirrored in the oracle) — seen at tiny SF
    val rateA = when(col("n_a") > 0, col("conv_a").cast("double") / col("n_a"))
    val rateB = when(col("n_b") > 0, col("conv_b").cast("double") / col("n_b"))
    dec10.groupBy(col("decile"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("n_a"),
           sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
           sum(when(isA, col("conv")).otherwise(0L)).as("conv_a"),
           sum(when(!isA, col("conv")).otherwise(0L)).as("conv_b"))
      .select(col("decile"), col("n_a"), col("n_b"),
        col("conv_a"), col("conv_b"),
        fp6(rateA).as("rate_a"), fp6(rateB).as("rate_b"),
        fp6(rateB - rateA).as("uplift"))
      .orderBy(col("decile"))
  }

  /** #242 — PSI population-stability drift report (round 13; the
    * standard ML-monitoring drift metric — every model/feature
    * dashboard gates retraining on PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) between
    * a baseline and a current window, with 0.2 the canonical "action"
    * threshold): order totals in #233's EXACT integer bins, split
    * pre/post at #221's exact midpoint (1-row span broadcast),
    * Laplace-smoothed shares p = (n+1)/(T+B) so zero bins contribute
    * finitely (the standard PSI zero-bin guard, identical arithmetic
    * both engines), per-bin terms 8dp-gridded to DECIMAL BEFORE the
    * sum (#224's policy — ln's cross-engine ulp noise is absorbed by
    * the grid) so total PSI is an exact order-independent sum; the
    * drift verdict compares that exact sum to the 0.2 literal.
    * Shape: ONE keyed corpus aggregate to the ≤~30-row bin table +
    * two 1-row broadcasts — at 100 TB only the binned aggregate
    * touches the corpus. The fold from bin counts to PSI is
    * [[graft.api.Transforms.psiDrift]]'s own (`psiFold`). */
  def etlPsiDrift(spark: SparkSession, sf: String): DataFrame = {
    val o = orders(spark, sf)
      .select(to_date(col("o_orderdate")).as("day"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
          " DIV 2500000").as("bin"))
    val span = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val binned = o.crossJoin(broadcast(span))
      .withColumn("pre", datediff(col("day"), col("d0")) * 2 <
        datediff(col("d1"), col("d0")) + 1)
      .groupBy(col("bin"))
      .agg(sum(when(col("pre"), 1L).otherwise(0L)).as("n_base"),
           sum(when(!col("pre"), 1L).otherwise(0L)).as("n_cur"))
    graft.api.Transforms.psiFold(binned, threshold = 0.2)
      .select(col("bin"), col("n_base").as("n_pre"), col("n_cur").as("n_post"),
        col("share_base").as("share_pre"), col("share_cur").as("share_post"),
        col("psi_term"), col("psi"), col("drifted"))
      .orderBy(col("bin"))
  }

  /** #246 — coarsened-exact-matching ATT (round 13; Iacus–King–Porro
    * 2012 — the OBSERVATIONAL counterpart completing the causal
    * toolkit: #221 needs parallel trends, #183 needs randomization,
    * CEM instead matches treated to control units within coarsened
    * covariate strata and reads the treated-unit effect off the
    * matched strata only): units = users, covariate = pre-period
    * event count coarsened to strata `least(pre DIV 5, 10)`, outcome
    * = post-period purchase spend (exact DECIMAL), arms = the #183
    * md5 split (B treated). Strata with BOTH arms are matched; ATT =
    * Σₛ n_Tₛ·(ȳ_Tₛ − ȳ_Cₛ) / N_T with the per-stratum terms
    * 8dp-gridded to DECIMAL BEFORE the sum (#224's policy — the
    * stratum fold must be order-independent) and N_T = matched
    * treated count. Output: one row per matched stratum (counts,
    * 6dp means, diff) with the broadcast ATT/N_T riding along
    * (#224's verdict pattern). Shape: one user-keyed aggregate →
    * stratum-keyed aggregate (≤11 rows) → 1-row fold broadcast
    * back — at 100 TB only the user aggregate is corpus-scale. */
  def eventsCemAtt(spark: SparkSession, sf: String): DataFrame = {
    val isB = !expArm2IsA
    val ev = events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day"),
              col("event_type"), money(col("value")).as("v"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val perUser = ev.crossJoin(broadcast(span))
      .withColumn("pre", datediff(col("day"), col("d0")) * 2 <
        datediff(col("d1"), col("d0")) + 1)
      .groupBy(col("user_id"))
      .agg(sum(when(col("pre"), 1L).otherwise(0L)).as("pre_events"),
           sum(when(!col("pre") && col("event_type") === "purchase", col("v"))
             .otherwise(lit(0).cast(DecimalType(18, 2)))).as("y"))
    val strata = perUser
      .withColumn("stratum", least(expr("pre_events DIV 5"), lit(10L)))
      .groupBy(col("stratum"))
      .agg(sum(when(isB, 1L).otherwise(0L)).as("n_t"),
           sum(when(!isB, 1L).otherwise(0L)).as("n_c"),
           sum(when(isB, col("y"))).as("s_t"),
           sum(when(!isB, col("y"))).as("s_c"))
      .where(col("n_t") > 0 && col("n_c") > 0)
    def d(c: Column) = c.cast("double")
    val meanT = d(col("s_t")) / col("n_t")
    val meanC = d(col("s_c")) / col("n_c")
    val terms = strata.withColumn("term8", grid8(col("n_t") * (meanT - meanC), 28))
    val att = terms.agg(sum(col("term8")).as("tsum"), sum(col("n_t")).as("nt"))
      .select((col("tsum").cast("double") / col("nt")).as("att_raw"),
              col("nt").as("n_treated_matched"))
    terms.crossJoin(broadcast(att))
      .select(col("stratum"), col("n_t"), col("n_c"),
        fp6(meanT).as("mean_t"), fp6(meanC).as("mean_c"),
        fp6(meanT - meanC).as("diff"),
        col("n_treated_matched"),
        fp6(col("att_raw")).as("att"))
      .orderBy(col("stratum"))
  }

  /** #253 — SMA(5)/SMA(20) crossover detection on the daily revenue
    * series (round 14; the moving-average crossover is the canonical
    * trend-shift detector on any monitored level series — deploy
    * health, spend, volume — "golden cross" = short-term average
    * rising through long-term): daily revenue is an exact-decimal
    * keyed aggregate; both moving sums ride ROWS frames over the
    * date-ordered series. EXACTNESS: the comparison SMA5 vs SMA20
    * never divides — s5/5 ≷ s20/20 ⟺ 4·s5 ≷ s20 on exact decimals
    * (cross-multiplied integers), so the signal, its lag, and every
    * crossover flag are integer-exact in both engines; only display
    * columns cast to double. First 19 days are warm-up (no full
    * SMA20 window) and are excluded by row_number. Output: per year,
    * golden/death crossover counts. Shape: one keyed corpus
    * aggregate (partial, map-side) + metadata-scale windows over the
    * daily series (calendar-bounded), the #199 posture. */
  def tsSmaCrossover(spark: SparkSession, sf: String): DataFrame = {
    val daily = lineitem(spark, sf)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(money(col("l_extendedprice"))).as("rev"))
    val ord = Window.partitionBy(pmod(length(col("day").cast("string")), lit(1)))
      .orderBy(col("day"))
    val s5 = sum(col("rev")).over(ord.rowsBetween(-4, 0))
    val s20 = sum(col("rev")).over(ord.rowsBetween(-19, 0))
    val sig = when(s5 * 4 > s20, lit(1))
      .when(s5 * 4 < s20, lit(-1)).otherwise(lit(0))
    daily
      .withColumn("rn", row_number().over(ord))
      .withColumn("sig", sig)
      .withColumn("prev_sig", lag(col("sig"), 1).over(ord))
      .where(col("rn") >= 21) // prev_sig must also be a full-window signal
      .groupBy(year(col("day")).as("yr"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("sig") === 1 && col("prev_sig") <= 0, 1)
          .otherwise(0)).as("n_golden"),
        sum(when(col("sig") === -1 && col("prev_sig") >= 0, 1)
          .otherwise(0)).as("n_death"))
      .orderBy(col("yr"))
  }

  /** #251 — Wald SPRT sequential conversion test per event type
    * (round 14; the sequential probability-ratio test is the
    * always-valid early-stopping design behind every "peeking-safe"
    * experimentation readout — fixed-n tests #175/#229 answer "after
    * n", SPRT answers "as the data streams"): H₀ p=0.2 vs H₁ p=0.3 on
    * the per-event success indicator value > 100.00 (exact decimal
    * compare), sequenced by DAY. Per type, the day-cumulative (n, k)
    * ride windows over the per-type DAILY trial table; LLR_n =
    * k·ln(p₁/p₀) + (n−k)·ln((1−p₁)/(1−p₀)) with the two log factors
    * and the ±ln(19) Wald bounds (α=β=0.05) embedded as 17-digit
    * DOUBLE LITERALS — identical text in both engines, so the double
    * arithmetic (int×literal + int×literal) is bit-identical and the
    * boundary comparisons cannot drift. Output per type: the first
    * boundary crossing (decision + day + n/k/LLR) or the final-day
    * state with decision 'continue'. Shape: one keyed corpus
    * aggregate to (type, day) — partial, map-side — then windows and
    * folds over the metadata-scale daily table; first/last rows are
    * partial-able min_by/max_by, no global sort. */
  def eventsSprtSequential(spark: SparkSession, sf: String): DataFrame = {
    // ln(0.3/0.2), ln(0.7/0.8), ln(0.95/0.05) to 17 significant
    // digits — parsed identically as doubles by both engines
    val c1 = 0.40546510810816438
    val c2 = -0.13353139262452263
    val bound = 2.9444389791664403
    val dailyTrials = events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_d"),
        sum(when(money(col("value")) > 100, 1).otherwise(0)).as("k_d"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = dailyTrials
      .withColumn("n", sum(col("n_d")).over(w))
      .withColumn("k", sum(col("k_d")).over(w))
      .withColumn("llr",
        col("k") * lit(c1) + (col("n") - col("k")) * lit(c2))
    val crossed = cum.where(col("llr") >= lit(bound) || col("llr") <= lit(-bound))
      .groupBy(col("event_type"))
      .agg(min_by(struct(col("day"), col("n"), col("k"), col("llr")),
        col("day")).as("st"))
      .select(col("event_type"), lit(true).as("decided"), col("st.*"))
    val finals = cum.groupBy(col("event_type"))
      .agg(max_by(struct(col("day"), col("n"), col("k"), col("llr")),
        col("day")).as("st"))
      .select(col("event_type"), col("st.*"))
    finals.join(crossed.withColumnRenamed("day", "c_day")
        .withColumnRenamed("n", "c_n").withColumnRenamed("k", "c_k")
        .withColumnRenamed("llr", "c_llr"),
        Seq("event_type"), "left")
      .select(col("event_type"),
        when(col("decided").isNull, "continue")
          .when(col("c_llr") >= bound, "accept_h1")
          .otherwise("accept_h0").as("decision"),
        coalesce(col("c_day"), col("day")).cast("timestamp").as("decision_day"),
        coalesce(col("c_n"), col("n")).as("n_trials"),
        coalesce(col("c_k"), col("k")).as("n_success"),
        round(coalesce(col("c_llr"), col("llr")), 8).as("llr"))
      .orderBy(col("event_type"))
  }

  /** #258 — surrogate-key assignment for a dimension (round 14; the
    * key-generation step of every warehouse dimension load — replace
    * natural keys with dense integers WITHOUT a database sequence,
    * the thing Spark cannot do with `monotonically_increasing_id`
    * (partition-dependent) and must not do with a single-partition
    * window over facts): distinct (source, lang) attribute combos of
    * the documents corpus get dense keys 1..|dim| ordered by the
    * natural key. The window runs over the AGGREGATED dimension
    * table only — metadata-scale by definition (a dimension IS the
    * distinct-attribute table; facts never enter a window). For a
    * data-scale key domain (e.g. per-document ids) the #130/#204
    * distributed-rank machinery is the documented swap. The keys come
    * from [[graft.api.Transforms.surrogateKeys]]. */
  def etlSurrogateKeyAssign(spark: SparkSession, sf: String): DataFrame = {
    val dim = documents(spark, sf)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    graft.api.Transforms.surrogateKeys(dim, col("source"), col("lang"))
      .select(col("sk"), col("source"), col("lang"), col("n_docs"))
      .orderBy(col("sk"))
  }

  /** #259 — time-to-convert percentiles per campaign (round 14; the
    * latency readout of every attribution pipeline — "how long after
    * the ad click does the purchase land?" — feeding attribution
    * window choices like #144/#235's 7 days): each purchase's
    * NEAREST strictly-earlier click within 7 days (max c_us, click_id
    * tie-break — one partial-able max_by over the #18/#235 user-keyed
    * working set, no window over the touches), lag in exact integer
    * microseconds, then interpolated p50/p90 in minutes per the
    * nearest click's campaign via the SQL percentile surface (#27's
    * contract — interpolation runs on identical exact-integer-derived
    * doubles). Shape: user-keyed equi-join (never cross-user),
    * purchase-keyed aggregate, campaign aggregate. */
  def eventsTimeToConvert(spark: SparkSession, sf: String): DataFrame = {
    val (purchases, clicks) = purchasesAndClicks(spark, sf)
    val lags = purchases.join(clicks, "user_id")
      .where(col("c_us") < col("p_us") &&
             col("c_us") >= col("p_us") - lit(7L * 86400L * 1000000L))
      .groupBy(col("purchase_id"))
      .agg(max(col("p_us")).as("p_us"),
        max_by(struct(col("campaign"), col("c_us")),
          struct(col("c_us"), col("click_id"))).as("nc"))
      .select(col("nc.campaign").as("campaign"),
        ((col("p_us") - col("nc.c_us")).cast("double") / lit(60000000.0))
          .as("lag_min"))
    // percentile() is the exact-interpolated percentile_cont pairing
    // (#149/#275's cross-engine discipline) — expressed directly so
    // no session temp view exists (review r17: the previous FIXED
    // view name was the one mutable session binding in the ops tree;
    // two threads at different sf could re-bind it under each other)
    lags.groupBy(col("campaign"))
      .agg(count(lit(1)).as("n_conversions"),
        round(percentile(col("lag_min"), lit(0.5)), 4).as("p50_minutes"),
        round(percentile(col("lag_min"), lit(0.9)), 4).as("p90_minutes"))
      .orderBy(col("campaign"))
  }

  /** #261 — DAU/WAU stickiness per ISO week (round 14; the
    * engagement ratio every product dashboard tracks beside #165's
    * rolling actives — "of the users active this week, what fraction
    * shows up on an average day"): per week, WAU = distinct users,
    * ΣDAU = sum of per-day distinct users, stickiness =
    * (ΣDAU/n_days)/WAU. EXACTNESS: ΣDAU, n_days and WAU are exact
    * integers from two keyed distinct aggregates; the ratio is the
    * #232 integer grid — ΣDAU·10⁸ DIV (n_days·WAU) — so the graded
    * value cannot drift; the display double is the final /10⁸.
    * Shape: per-(week, day) distinct pre-aggregate (partial +
    * distinct expand on the keyed exchange), a week-keyed fold, and
    * the week-keyed WAU distinct — all keyed by calendar columns,
    * windows nowhere. Both engines truncate 'week' to the ISO
    * Monday. */
  def eventsStickinessRatio(spark: SparkSession, sf: String): DataFrame = {
    val base = events(spark, sf)
      .select(date_trunc("week", col("ts")).as("week"),
        to_date(col("ts")).as("day"), col("user_id"))
    val daily = base.groupBy(col("week"), col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
    val wau = base.groupBy(col("week"))
      .agg(countDistinct(col("user_id")).as("wau"))
    daily.join(wau, "week")
      .withColumn("st8", expr("sum_dau * 100000000 DIV (n_days * wau)"))
      .select(col("week"), col("n_days"), col("sum_dau"), col("wau"),
        (col("st8").cast("double") / 100000000L).as("stickiness"))
      .orderBy(col("week"))
  }

  /** #279 — referential-integrity-preserving pseudonymization (round
    * 16; the GDPR-era sibling of #92's PII redaction: a training-data
    * or analytics export replaces natural keys with salted one-way
    * pseudonyms, and the CONTRACT is that every join that worked on
    * the plaintext key still works on the pseudonym — same
    * cardinalities, same groups): customer and orders both map their
    * customer key through the same salted md5; the graded readout
    * joins orders→customer ON THE PSEUDONYM per nation and proves (a)
    * the pseudonymized join count equals the plaintext join count and
    * (b) pseudonyms stay distinct (no collision collapsed two
    * customers — md5 collisions at any realistic key volume would be
    * a generator defect, and the flag would catch it). Determinism:
    * md5 over an identical salt+key string in both engines — exact
    * string equality end to end, zero floating point. Shape: two
    * narrow projections + one equi-join shuffled on the 32-hex
    * pseudonym + one keyed aggregate; at 100 TB identical cost to the
    * plaintext join (the pseudonym is just a wider key), and the salt
    * keeps the mapping unlinkable without the secret. */
  def etlAnonymizeReferential(spark: SparkSession, sf: String): DataFrame = {
    def pseud(c: Column): Column = md5(concat(lit("g16:"), c.cast("string")))
    val cust = customer(spark, sf)
      .select(col("c_nationkey"), col("c_custkey"),
              pseud(col("c_custkey")).as("p_key"))
    val ords = orders(spark, sf)
      .select(col("o_custkey"), pseud(col("o_custkey")).as("p_okey"))
    val viaPseudo = cust.join(ords, col("p_key") === col("p_okey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders_pseudo"),
           countDistinct(col("p_key")).as("n_pseudonyms"))
    val viaPlain = customer(spark, sf)
      .select(col("c_nationkey").as("nk"), col("c_custkey"))
      .join(orders(spark, sf).select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"))
      .groupBy(col("nk"))
      .agg(count(lit(1)).as("n_orders_plain"),
           countDistinct(col("c_custkey")).as("n_customers"))
    viaPseudo.join(viaPlain, col("c_nationkey") === col("nk"))
      .select(col("c_nationkey"), col("n_customers"), col("n_pseudonyms"),
        col("n_orders_plain"), col("n_orders_pseudo"),
        (col("n_orders_plain") === col("n_orders_pseudo") &&
         col("n_pseudonyms") === col("n_customers")).as("integrity_ok"))
      .orderBy(col("c_nationkey"))
  }

  /** #280 — Granger lagged-predictability F test (round 16; Granger
    * 1969 — the standard "does series X help predict series Y"
    * readout, run here on the daily purchase-value series vs the
    * daily click-value series: the bivariate CAUSAL-screening
    * companion of #234's symmetric cross-correlation): restricted
    * model y_t ~ y_{t-1} vs full model y_t ~ y_{t-1} + x_{t-1}, both
    * fit by exact-moment OLS on mean-centered series; F = (RSS_r −
    * RSS_f) / (RSS_f/(n−3)) for the one added regressor. Exactness:
    * the #201/#234 centering discipline verbatim — daily sums are
    * exact DECIMAL(18,2), centered values 6dp-gridded to
    * DECIMAL(18,6), every second-moment sum (Saa, Sbb, Sab, Say, Sby,
    * Syy) an exact DECIMAL(38,12) fold; both RSS values and F are
    * then FIXED closed-form double expressions over those exact sums
    * (RSS_f via the 2×2 normal-equation determinant — no iterative
    * solver), the rejection flag compares the UNROUNDED F to the
    * asymptotic F(.05; 1, ∞) = χ²(.05;1) literal 3.841459
    * (fixture-pinned: n−3 here is ~26, where the exact critical value
    * is 4.22 — documented looseness, same policy as #229's ∞-df
    * literal), 6dp displays. Shape: one keyed corpus aggregate to the
    * ~30-row day table, lag alignment via one ordered window over
    * that METADATA-scale table (the #201 const-partition idiom), one
    * 1-row fold. */
  def tsGrangerF(spark: SparkSession, sf: String): DataFrame = {
    val daily = events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "purchase", money(col("value")))
             .otherwise(lit(0).cast("decimal(18,2)"))).as("ysum"),
           sum(when(col("event_type") === "click", money(col("value")))
             .otherwise(lit(0).cast("decimal(18,2)"))).as("xsum"))
    val const = pmod(length(col("day").cast("string")), lit(1))
    val wAll = Window.partitionBy(const)
    val wOrd = Window.partitionBy(const).orderBy(col("day"))
    def centered(c: Column): Column =
      round(c.cast("double") -
        sum(c).over(wAll).cast("double") / count(lit(1)).over(wAll), 6)
        .cast("decimal(18,6)")
    val rows = daily
      .select(col("day"), centered(col("ysum")).as("yc"),
              centered(col("xsum")).as("xc"))
      .select(col("yc").as("y"),
              lag(col("yc"), 1).over(wOrd).as("a"),
              lag(col("xc"), 1).over(wOrd).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
    def m(p: Column): Column = sum(dec(p, 38, 12))
    val folded = rows.agg(count(lit(1)).as("n"),
      m(col("a") * col("a")).as("saa"), m(col("b") * col("b")).as("sbb"),
      m(col("a") * col("b")).as("sab"), m(col("a") * col("y")).as("say"),
      m(col("b") * col("y")).as("sby"), m(col("y") * col("y")).as("syy"))
    def d(c: Column) = c.cast("double")
    val (nn, saa, sbb, sab, say, sby, syy) =
      (d(col("n")), d(col("saa")), d(col("sbb")), d(col("sab")),
       d(col("say")), d(col("sby")), d(col("syy")))
    val rssR = syy - say * say / saa
    val det = saa * sbb - sab * sab
    val rssF = syy -
      (sbb * say * say - lit(2.0) * sab * say * sby + saa * sby * sby) / det
    val f = (rssR - rssF) / (rssF / (nn - lit(3.0)))
    folded.select(col("n").as("n_pairs"),
      round(rssR, 6).as("rss_restricted"), round(rssF, 6).as("rss_full"),
      round(f, 6).as("f_stat"), (f > lit(3.841459)).as("x_helps_predict_y"))
  }

  /** #281 — top session paths (round 16; the JOURNEY readout every
    * product-analytics stack ships beside funnels #108/#206: which
    * event-type sequences do sessions actually take — the input to
    * navigation redesign and to behavioral-cohort definitions):
    * sessions are 30-minute-gap bounded per user (#126's batch
    * sessionization semantics), each session contributes the
    * '>'-joined sequence of its FIRST FIVE event types (the head of
    * the journey — capping bounds the path-string length at any
    * scale), and the readout is the top-20 paths by session count.
    * Determinism: within-session order is (ts, event_id) — the exact
    * tiebreak every ordered op here uses; ranking ties break to the
    * lexicographically smaller path. Shape: one per-user ordered
    * window (high-cardinality key) for the session cumsum, one
    * per-(user, session) window for the head ranks, one keyed
    * aggregate per session, one keyed count per path, top-20 via
    * TakeOrdered — no corpus-wide window anywhere. */
  /** #281's per-session head-path table (user_id, sess, path) —
    * exposed so the streaming equivalence spec compares the FULL
    * session set against [[graft.streaming.EventStreams.sessionPathsTws]]
    * (same machinery as the graded top-20, so the proof cannot drift
    * from what executes). */
  def sessionHeadPaths(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessioned = events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        (col("prev_ts").isNull ||
         unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L)
          .cast("long"))
      .withColumn("sess", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ws = Window.partitionBy(col("user_id"), col("sess"))
      .orderBy(col("ts"), col("event_id"))
    sessioned
      .withColumn("rn", row_number().over(ws))
      .where(col("rn") <= 5)
      .groupBy(col("user_id"), col("sess"))
      .agg(concat_ws(">",
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          s => s.getField("event_type"))).as("path"))
  }

  def eventsTopPaths(spark: SparkSession, sf: String): DataFrame =
    sessionHeadPaths(spark, sf)
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)

  /** #286 — OPTIMIZE … CLUSTER BY on the snapshot table (round 16;
    * the layout-maintenance command every lakehouse ships —
    * Delta/Iceberg OPTIMIZE with clustering: #263 bin-packs small
    * files, this op additionally makes each key-bucket's files cover
    * DISJOINT ranges of a scan column so zone-map pruning works on
    * range predicates while MERGE's bucket addressing stays intact):
    * v2 = [[graft.api.SnapshotTable.optimizeCluster]] of the
    * merged orders table, clustered by price into 4 sub-files per
    * bucket. The op PROVES the layout inline (require): per bucket,
    * the files' REAL footer-level [min,max] price ranges — read back
    * per physical file via input_file_name — are pairwise disjoint
    * (ties may touch at boundaries), and a bottom-of-range probe can
    * skip at least half the files; the graded output is the #263
    * content-identity contract (optimize must not change the table)
    * plus exact min/max price columns. Scale: one bucket-parallel
    * rewrite (O(table), run off-peak like any OPTIMIZE), after which
    * range scans read footers + matching sub-files only. */
  def etlSnapshotOptimizeCluster(spark: SparkSession, sf: String): DataFrame = {
    val base = buildSnapshotOrders(spark, sf)
    val v2 = graft.api.SnapshotTable.optimizeCluster(
      spark, base, "o_orderkey", "o_price", numBuckets = 4, subFiles = 4)
    // layout proof from the REAL files: per bucket, sub-file price
    // ranges are disjoint and a narrow probe skips most files
    val files = graft.api.SnapshotTable.liveFiles(spark, base, v2)
    val stats = spark.read.parquet(files: _*)
      .withColumn("f", input_file_name())
      .groupBy(col("f"))
      .agg(min(col("o_price")).as("lo"), max(col("o_price")).as("hi"),
           count(lit(1)).as("nr"))
      .withColumn("b", regexp_extract(col("f"), "_bucket=(\\d+)", 1).cast("int"))
      .collect()
    stats.groupBy(_.getAs[Int]("b")).foreach { case (b, fs) =>
      val sorted = fs.sortBy(r => BigDecimal(r.getAs[java.math.BigDecimal]("lo")))
      sorted.sliding(2).foreach { p =>
        if (p.length == 2)
          require(p(0).getAs[java.math.BigDecimal]("hi")
              .compareTo(p(1).getAs[java.math.BigDecimal]("lo")) <= 0,
            s"bucket $b: sub-file ranges overlap beyond a tie")
      }
    }
    val probeHi = new java.math.BigDecimal("50000.00")
    val skippable = stats.count(r =>
      r.getAs[java.math.BigDecimal]("lo").compareTo(probeHi) > 0)
    require(skippable >= stats.length / 2,
      s"probe <= $probeHi must skip at least half the files: " +
      s"$skippable/${stats.length}")
    def snap(v: Int): DataFrame =
      ordersContent(graft.api.SnapshotTable.asOf(spark, base, v),
          min(col("o_price")).cast("double").as("min_price"),
          max(col("o_price")).cast("double").as("max_price"))
        .select(lit(v).as("version"), col("n_rows"), col("total_price"),
          col("min_price"), col("max_price"))
    snap(1).unionAll(snap(v2)).orderBy(col("version"))
  }

  /** #292 — snapshot-table schema evolution round-trip (round 17;
    * VERDICT r16 ask 4 — the lakehouse ADD COLUMN:
    * [[graft.api.SnapshotTable.addColumn]] publishes a new version
    * whose manifest pins a WIDENED schema over the SAME data files —
    * a pure metadata commit, proven inline by file-list identity —
    * old files null-fill the new column on read, a later MERGE whose
    * change set carries the column writes it physically for the
    * buckets it touches, and time travel returns each version's OWN
    * schema): v2 = addColumn(o_tier STRING) on the merged orders
    * table, v3 = mergeInto populating o_tier for the k%11 cohort.
    * Graded output = one row per version with the schema WIDTH
    * (n_cols: 3 → 4 → 4), the invariant row count/total, and the
    * tier population counts (0 before the backfill merge, cohort-
    * sized after). Scale: ADD COLUMN is O(manifest); the backfill
    * pays only the touched buckets (copy-on-write MERGE), never an
    * O(table) rewrite. */
  def etlSnapshotAddColumn(spark: SparkSession, sf: String): DataFrame = {
    val base = buildSnapshotOrders(spark, sf)
    val v2 = graft.api.SnapshotTable.addColumn(spark, base, "o_tier", "STRING")
    require(graft.api.SnapshotTable.liveFiles(spark, base, v2) ==
            graft.api.SnapshotTable.liveFiles(spark, base, 1),
      "ADD COLUMN must be a metadata-only commit (identical file list)")
    val tier = when(col("o_price") >= 150000, lit("high")).otherwise(lit("low"))
    val changes = graft.api.SnapshotTable.asOf(spark, base, v2)
      .where(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"), lit("U").as("op"), col("o_orderstatus"),
        col("o_price"), tier.as("o_tier"))
    val v3 = graft.api.SnapshotTable.mergeInto(spark, base, changes,
      "o_orderkey", numBuckets = 16)
    def snap(v: Int): DataFrame = {
      val df = graft.api.SnapshotTable.asOf(spark, base, v)
      val hasTier = df.columns.contains("o_tier")
      ordersContent(df,
          (if (hasTier) count(col("o_tier")) else lit(0L)).as("n_tier_set"),
          (if (hasTier) count(when(col("o_tier") === "high", lit(1)))
           else lit(0L)).as("n_tier_high"))
        .select(lit(v).as("version"), lit(df.columns.length).as("n_cols"),
          col("n_rows"), col("total_price"), col("n_tier_set"),
          col("n_tier_high"))
    }
    snap(1).unionAll(snap(v2)).unionAll(snap(v3)).orderBy(col("version"))
  }

  /** #291 — manifest-stats pruned range scan on the snapshot table
    * (round 17; VERDICT r16 ask 3 — the iceberg manifest-statistics
    * posture: #286 proved the FOOTERS carry usable [min,max] zone
    * maps, but footer pruning still opens every file at plan time;
    * iceberg-class tables record per-file stats IN THE MANIFEST so
    * planning prunes from metadata alone): v2 =
    * [[graft.api.SnapshotTable.optimizeCluster]] — whose manifest
    * now carries per-file [min,max] of the cluster column, gathered
    * from the just-written footers at commit time — then a price-band
    * read via [[graft.api.SnapshotTable.asOfRange]], which keeps only
    * files whose MANIFEST range intersects the band (no footer of a
    * skipped file is ever opened; stats-less files are always kept —
    * correctness over pruning). The op PROVES pruning inline: the
    * kept list must be a strict nonempty subset of the live files,
    * and every skipped file's manifest range must be disjoint from
    * the band. Graded output = the band aggregate (`pruned` pins the
    * strict-subset fact into the hash-checked row); oracle = the same
    * band off orders. Scale: planning cost is manifest-size (driver
    * metadata), scan cost is kept-files only — on a clustered table
    * that is ~(band width / bucket range) of the data, the entire
    * point of recording stats at OPTIMIZE time. */
  def etlSnapshotStatsPruned(spark: SparkSession, sf: String): DataFrame = {
    val base = buildSnapshotOrders(spark, sf)
    val v2 = graft.api.SnapshotTable.optimizeCluster(
      spark, base, "o_orderkey", "o_price", numBuckets = 4, subFiles = 4)
    val lo = new java.math.BigDecimal("50000.00")
    val hi = new java.math.BigDecimal("150000.00")
    val (kept, total) =
      graft.api.SnapshotTable.prunedFiles(spark, base, v2, "o_price", lo, hi)
    require(kept.nonEmpty && kept.size < total,
      s"manifest stats must prune the file list: kept ${kept.size}/$total")
    val keptSet = kept.toSet
    graft.api.SnapshotTable.fileEntries(spark, base, v2)
      .filterNot(e => keptSet.contains(e.path))
      .foreach { e =>
        require(e.min.isDefined &&
          (e.max.get.compareTo(lo) < 0 || e.min.get.compareTo(hi) > 0),
          s"skipped file ${e.path} has a manifest range overlapping the band")
      }
    ordersContent(
        graft.api.SnapshotTable.asOfRange(spark, base, v2, "o_price", lo, hi),
        min(col("o_price")).cast("double").as("min_price"),
        max(col("o_price")).cast("double").as("max_price"))
      .select(lit(true).as("pruned"), col("n_rows"), col("total_price"),
        col("min_price"), col("max_price"))
  }

  /** #299 — SHALLOW CLONE table branching (round 17; Delta's
    * `SHALLOW CLONE` / iceberg snapshot branching — the try-it-on-a-
    * branch primitive every risky backfill wants:
    * [[graft.api.SnapshotTable.cloneShallow]] creates a NEW table
    * whose v0 manifest references the source's data files verbatim —
    * zero bytes copied — and copy-on-write MERGEs into the clone land
    * in the CLONE's own data directory, so the branch diverges while
    * the source never notices): clone the merged orders table, merge
    * a +9 price bump for the %17 cohort INTO THE BRANCH. Inline
    * proofs: the clone's v0 file list is the source's v1 list
    * verbatim (zero-copy); after the branch merge the source's
    * manifest and version are untouched. Graded output = one row per
    * table (source, branch) with the content aggregate — the branch
    * diverged, the source did not. Scale: clone is O(manifest);
    * divergence costs only the branch's touched buckets. Retention:
    * the source's vacuum must cover live clones (spec pins the
    * documented break when it does not). */
  def etlSnapshotCloneBranch(spark: SparkSession, sf: String): DataFrame = {
    import graft.api.SnapshotTable
    val base = buildSnapshotOrders(spark, sf)
    val dst = graft.Tables.scratch("graft_snaptbl_branch")
    SnapshotTable.cloneShallow(spark, base, dst)
    require(SnapshotTable.liveFiles(spark, dst, 0) ==
            SnapshotTable.liveFiles(spark, base, 1),
      "shallow clone must reference the source's files verbatim")
    SnapshotTable.mergeInto(spark, dst, upserts(
        SnapshotTable.asOf(spark, dst, 0), col("o_orderkey") % 17 === 0,
        (col("o_price") + lit(9)).cast(DEC2)),
      "o_orderkey", numBuckets = 16)
    require(SnapshotTable.latestVersion(spark, base) == 1,
      "a branch merge must never advance the source")
    def snap(label: String, b: String, v: Int): DataFrame =
      ordersContent(SnapshotTable.asOf(spark, b, v))
        .select(lit(label).as("table"), col("n_rows"), col("total_price"))
    snap("branch", dst, 1).unionAll(snap("source", base, 1))
      .orderBy(col("table"))
  }

  /** #300 — branch MERGE-BACK, fast-forward only (round 18 — VERDICT
    * r17 item 5; the second half of #299's branch story and the git
    * model for linear lakehouse histories: try the risky backfill on
    * a branch, then land it on the parent as ONE atomic metadata
    * commit): clone the merged orders table, commit a +9 price bump
    * for the %17 cohort on the BRANCH, then
    * [[graft.api.SnapshotTable.mergeBack]] fast-forwards the parent
    * to the branch head. Inline proofs, both arms: (a) ROUND-TRIP —
    * the parent's post-merge content equals the branch head exactly
    * (one-pass multiset equality), i.e. the history is as if
    * every branch commit had been made on the parent directly;
    * (b) CONFLICT — a second branch taken at the same branch point
    * must REFUSE to merge after the parent moved
    * (VersionConflictException), because fast-forward is no longer
    * possible and a silent three-way merge would need row-level
    * conflict policy. Graded output = the parent's post-merge content
    * aggregate (derivable from orders alone). Scale: the merge is
    * O(manifest) — zero data moved, the branch's files are referenced
    * in place. */
  def etlSnapshotBranchMergeback(spark: SparkSession, sf: String): DataFrame = {
    import graft.api.SnapshotTable
    val base = buildSnapshotOrders(spark, sf)
    val dst = graft.Tables.scratch("graft_snaptbl_mb")
    val dst2 = graft.Tables.scratch("graft_snaptbl_mb2")
    SnapshotTable.cloneShallow(spark, base, dst)
    SnapshotTable.cloneShallow(spark, base, dst2) // same branch point (v1)
    SnapshotTable.mergeInto(spark, dst, upserts(
        SnapshotTable.asOf(spark, dst, 0), col("o_orderkey") % 17 === 0,
        (col("o_price") + lit(9)).cast(DEC2)),
      "o_orderkey", numBuckets = 16)
    val v2 = SnapshotTable.mergeBack(spark, dst)
    require(v2 == 2, s"fast-forward must publish parent latest+1, got $v2")
    val parentHead = SnapshotTable.asOf(spark, base, v2)
    val branchHead = SnapshotTable.asOf(spark, dst, 1)
    require(Transforms.multisetEqual(parentHead, branchHead),
      "merge-back must land the branch head on the parent exactly")
    // the parent moved (v1 -> v2): the second branch's fast-forward is
    // now impossible and must refuse loudly, never silently merge
    val conflicted =
      try { SnapshotTable.mergeBack(spark, dst2); false }
      catch { case _: SnapshotTable.VersionConflictException => true }
    require(conflicted,
      "merge-back after the parent moved must raise VersionConflictException")
    ordersContent(parentHead)
      .select(lit(true).as("merged_back"), lit(2).as("parent_version"),
        col("n_rows"), col("total_price"))
  }

  /** #301 — bucket-count evolution: REBUCKET + lookups across the
    * boundary (round 18 — VERDICT r17 item 7, closing the ADVICE r17
    * numBuckets-trust hole end-to-end: the table's bucket addressing
    * now lives in a `#buckets` manifest header written by every
    * commit, every bucket-addressed read/write validates against it,
    * and [[graft.api.SnapshotTable.rebucket]] is the one door that
    * changes it — a full rewrite, the same cost class as OPTIMIZE):
    * the 16-bucket merged orders table is rebucketed to 32; the op
    * proves, inline, (a) LOUD MISMATCH — probing the pre-rebucket
    * version with a wrong count throws instead of silently returning
    * "key absent" (the r17 corruption path, now an error); (b) the
    * recorded addressing reads back as 16 at v1 and 32 at v2 — time
    * travel keeps each version's OWN bucketing; (c) the same 5-key
    * point lookup returns identical rows under both addressings, each
    * probing a strict subset of its version's buckets. Graded output =
    * the post-rebucket lookup rows. Scale: rebucket is ONE
    * table-scale shuffle ("grow the hash space before the buckets get
    * hot"); lookups stay (probed/total buckets)-priced on either side
    * of the boundary. */
  def etlSnapshotRebucket(spark: SparkSession, sf: String): DataFrame = {
    import graft.api.SnapshotTable
    val base = buildSnapshotOrders(spark, sf)
    val keys = SnapshotTable.asOf(spark, base, 1)
      .select(col("o_orderkey")).orderBy(col("o_orderkey")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    val keyDf = spark.createDataFrame(keys.map(Tuple1(_))).toDF("o_orderkey")
    // (a) a mismatched caller count is the silent-corruption path the
    // manifest header closes — it must now fail loudly
    val loud =
      try { SnapshotTable.probeBuckets(spark, base, 1, keyDf, "o_orderkey", 8); false }
      catch { case _: IllegalArgumentException => true }
    require(loud, "probing with a wrong bucket count must throw")
    val v2 = SnapshotTable.rebucket(spark, base, "o_orderkey", 32)
    // (b) each version keeps its own recorded addressing
    require(SnapshotTable.recordedBuckets(spark, base, 1)._1 == 16,
      "v1 must stay addressed by 16 buckets")
    require(SnapshotTable.recordedBuckets(spark, base, v2)._1 == 32,
      "v2 must be addressed by 32 buckets")
    // (c) the lookup answers identically across the boundary, pruned
    // under each version's own count
    def lookup(v: Int, n: Int): DataFrame = {
      val bs = SnapshotTable.probeBuckets(spark, base, v, keyDf,
        "o_orderkey", n)
      val all = SnapshotTable.fileEntries(spark, base, v).map(_.bucket).toSet
      require(bs.subsetOf(all) && (all.size <= keys.size || bs.size < all.size),
        s"lookup at v$v must probe a subset of buckets: ${bs.size}/${all.size}")
      SnapshotTable.asOfBuckets(spark, base, v, bs)
        .where(col("o_orderkey").isin(keys: _*))
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_price").cast("double").as("o_price"))
    }
    val before = lookup(1, 16)
    val after = lookup(v2, 32)
    require(Transforms.multisetEqual(after, before),
      "rebucket must preserve every row's content")
    after.withColumn("num_buckets", lit(32)).orderBy(col("o_orderkey"))
  }

  /** #302 — VACUUM as a graded round-trip (round 18; Delta's VACUUM /
    * iceberg's expire_snapshots + remove_orphan_files — the retention
    * GC without which a lakehouse table's storage grows monotonically
    * with every copy-on-write commit): the merged orders table is
    * compacted (v2 supersedes every v0/v1 file), a fake crashed-writer
    * orphan is planted in the data directory, then
    * [[graft.api.SnapshotTable.vacuum]] with keepVersions=1 runs. The
    * op proves, inline: (a) both expired manifests dropped; (b) every
    * superseded data file AND the unreferenced orphan physically
    * deleted; (c) every file of the kept version survives and its
    * content aggregate is bit-identical before/after (GC never touches
    * live data); (d) reading an expired version now fails loudly
    * instead of returning a file-not-found mid-scan. Graded output =
    * the kept head's content aggregate (derivable from orders alone).
    * Scale: the live set is ONE manifest-union (metadata), the
    * candidate walk is a namespace listing — no data read; at 100 TB
    * this runs as the off-peak maintenance job with the orphan age
    * guard sized to the longest writer latency. */
  def etlSnapshotVacuum(spark: SparkSession, sf: String): DataFrame = {
    import graft.api.SnapshotTable
    import org.apache.hadoop.fs.Path
    val base = buildSnapshotOrders(spark, sf)
    val v2 = SnapshotTable.compact(spark, base, "o_orderkey", numBuckets = 4)
    val fsys = new Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new Path(s"$base/data/orphan-dead-writer.parquet")
    val out = fsys.create(orphan, true)
    try out.write(Array[Byte](80, 65, 82, 49)) finally out.close()
    val liveV2 = SnapshotTable.liveFiles(spark, base, v2)
    val oldOnly = SnapshotTable.liveFiles(spark, base, 0).toSet -- liveV2.toSet
    require(oldOnly.nonEmpty, "fixture must leave superseded files to collect")
    val headBefore = ordersContent(SnapshotTable.asOf(spark, base, v2))
      .collect()(0)
    val (droppedManifests, deletedFiles) =
      SnapshotTable.vacuum(spark, base, keepVersions = 1)
    require(droppedManifests == 2,
      s"keepVersions=1 must drop manifests v0 and v1, dropped $droppedManifests")
    require(deletedFiles >= oldOnly.size + 1,
      s"must collect the ${oldOnly.size} superseded files + the orphan, " +
      s"deleted $deletedFiles")
    require(liveV2.forall(p => fsys.exists(new Path(p))),
      "every file of the kept version must survive the vacuum")
    require(!fsys.exists(orphan), "the unreferenced orphan must be collected")
    require(oldOnly.forall(p => !fsys.exists(new Path(p))),
      "every superseded data file must be physically deleted")
    val expiredLoud =
      try { SnapshotTable.asOf(spark, base, 0); false }
      catch { case scala.util.control.NonFatal(_) => true }
    require(expiredLoud, "reading an expired version must fail loudly")
    val headAfter = ordersContent(SnapshotTable.asOf(spark, base, v2))
      .collect()(0)
    require(headBefore == headAfter,
      "vacuum must not change the kept version's content")
    ordersContent(SnapshotTable.asOf(spark, base, v2), nUpdated)
      .select(lit(true).as("vacuumed"), lit(2).as("kept_version"),
        col("n_rows"), col("total_price"), col("n_updated"))
  }

  /** #303 — CHECK constraint enforcement (round 18; Delta's `ALTER
    * TABLE … ADD CONSTRAINT … CHECK` — the write-side data-quality
    * gate: bad rows are refused at the commit door, not discovered by
    * a downstream audit like #132/#288): adds `o_price >= 0` to the
    * merged orders table and proves the full contract inline —
    * (a) ADD scans existing rows and commits the metadata version;
    * (b) an ADD the existing data violates refuses with
    * ConstraintViolationException and commits NOTHING; (c) a valid
    * MERGE passes the gate; (d) a violating MERGE is refused BEFORE
    * any file is written and the version does not advance; (e) SQL
    * three-valued CHECK — a NULL-valued row PASSES (only FALSE
    * violates), proven by a null-price merge that commits; (f) the
    * constraint set is versioned — time travel to v1 sees none.
    * Graded output = the final head's content aggregate. Scale: ADD
    * is one table scan (once); every merge pays O(change set) per
    * constraint — the scan-free door a 100 TB table needs. */
  def etlSnapshotCheckConstraint(spark: SparkSession, sf: String): DataFrame = {
    import graft.api.SnapshotTable
    val base = buildSnapshotOrders(spark, sf)
    val v2 = SnapshotTable.addCheckConstraint(spark, base,
      "price_nonneg", "o_price >= 0")
    require(v2 == 2, s"ADD CONSTRAINT must commit latest+1, got $v2")
    val refusedAdd =
      try {
        SnapshotTable.addCheckConstraint(spark, base,
          "status_x_only", "o_orderstatus = 'X'"); false
      } catch {
        case _: SnapshotTable.ConstraintViolationException => true
      }
    require(refusedAdd && SnapshotTable.latestVersion(spark, base) == v2,
      "an ADD existing rows violate must refuse and commit nothing")
    val head = SnapshotTable.asOf(spark, base, v2)
    val bump = upserts(head, col("o_orderkey") % 11 === 0,
      (col("o_price") + lit(1)).cast(DEC2))
    val v3 = SnapshotTable.mergeInto(spark, base, bump, "o_orderkey",
      numBuckets = 16)
    val bad = upserts(head, col("o_orderkey") % 11 === 1, lit(-1).cast(DEC2))
    val refusedMerge =
      try {
        SnapshotTable.mergeInto(spark, base, bad, "o_orderkey",
          numBuckets = 16); false
      } catch {
        case _: SnapshotTable.ConstraintViolationException => true
      }
    require(refusedMerge && SnapshotTable.latestVersion(spark, base) == v3,
      "a violating MERGE must refuse before writing and not advance")
    // SQL CHECK three-valued logic: NULL is not FALSE — this commits
    val nullify = upserts(head, col("o_orderkey") % 1000 === 7,
      lit(null).cast(DEC2))
    val v4 = SnapshotTable.mergeInto(spark, base, nullify, "o_orderkey",
      numBuckets = 16)
    require(SnapshotTable.checkConstraints(spark, base, 1).isEmpty &&
      SnapshotTable.checkConstraints(spark, base, v4)
        .map(_._1) == Seq("price_nonneg"),
      "the constraint set must be versioned with the manifest")
    ordersContent(SnapshotTable.asOf(spark, base, v4),
        sum(when(col("o_price").isNull, 1L).otherwise(0L))
          .as("n_null_price"),
        nUpdated)
      .select(lit(true).as("enforced"), lit(4).as("version"),
        col("n_rows"), col("total_price"), col("n_null_price"),
        col("n_updated"))
  }

  /** #304 — CONCURRENT writers through optimistic-commit retry as a
    * graded round-trip (round 18; the lakehouse ACID claim exercised
    * under real contention, not just spec'd: two writers race
    * [[graft.api.SnapshotTable.mergeInto]] on the same table through
    * [[graft.api.SnapshotTable.retryingCommit]], the loser REBASES —
    * recomputes its change set from the new head — and re-merges, the
    * iceberg/delta commit-retry contract): writer A bumps price +5
    * for the %3=1 cohort, writer B sets status 'C' for the %3=2
    * cohort, both released from the same latch so the commit race is
    * real. Disjoint cohorts make the outcome ORDER-INDEPENDENT, so a
    * deterministic oracle can grade a genuinely concurrent schedule.
    * Inline proofs: both writers land (versions {2,3} exactly, no
    * lost update), and the final head EQUALS the sequential fold of
    * both changes over v1 (multiset equality — serializability, not
    * just row counts). Graded output = the head's content aggregate.
    * Scale: conflicts cost O(changed buckets) re-merge, not a table
    * rewrite; at 1000 executors this is the many-writer ingestion
    * posture (per-table commit serialization, bucket-priced work). */
  def etlSnapshotConcurrentMerge(spark: SparkSession, sf: String): DataFrame = {
    import graft.api.SnapshotTable
    val base = buildSnapshotOrders(spark, sf)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val gate = new java.util.concurrent.CountDownLatch(2)
    def writer(mk: DataFrame => DataFrame): scala.concurrent.Future[Int] =
      scala.concurrent.Future {
        gate.countDown(); gate.await() // line both up: race the commit
        SnapshotTable.retryingCommit() {
          // rebase each attempt from the CURRENT head — the loser of
          // a commit race must recompute, not just re-publish
          val head = SnapshotTable.asOf(spark, base,
            SnapshotTable.latestVersion(spark, base))
          SnapshotTable.mergeInto(spark, base, mk(head), "o_orderkey",
            numBuckets = 16)
        }
      }
    val fa = writer(upserts(_, col("o_orderkey") % 3 === 1,
      (col("o_price") + lit(5)).cast(DEC2)))
    val fb = writer(upserts(_, col("o_orderkey") % 3 === 2, col("o_price"),
      lit("C")))
    val timeout = scala.concurrent.duration.Duration(5, "min")
    val (va, vb) =
      try (scala.concurrent.Await.result(fa, timeout),
           scala.concurrent.Await.result(fb, timeout))
      finally pool.shutdown()
    require(Set(va, vb) == Set(2, 3),
      s"both writers must land as versions 2 and 3, got $va/$vb")
    val head = SnapshotTable.asOf(spark, base, 3)
    val expected = SnapshotTable.asOf(spark, base, 1).select(
      col("o_orderkey"),
      when(col("o_orderkey") % 3 === 2, lit("C"))
        .otherwise(col("o_orderstatus")).as("o_orderstatus"),
      when(col("o_orderkey") % 3 === 1,
        (col("o_price") + lit(5)).cast(DEC2))
        .otherwise(col("o_price")).as("o_price"))
    require(Transforms.multisetEqual(head, expected),
      "the concurrent schedule must equal the sequential fold of both " +
      "changes (serializability)")
    ordersContent(head,
        sum(when(col("o_orderstatus") === "C", 1L).otherwise(0L))
          .as("n_status_c"),
        nUpdated)
      .select(lit(3).as("version"), col("n_rows"), col("total_price"),
        col("n_status_c"), col("n_updated"))
  }

  /** #306 — WRITE-AUDIT-PUBLISH as a graded round-trip (round 18;
    * iceberg's WAP workflow — `spark.wap.branch` + audit + publish —
    * the staging discipline production lakehouse pipelines run so a
    * bad batch can NEVER become readable: land the batch on a
    * BRANCH ([[graft.api.SnapshotTable.cloneShallow]] — O(manifest),
    * zero copy), run the audit suite against the staged head, and
    * only a passing audit fast-forwards the parent
    * ([[graft.api.SnapshotTable.mergeBack]] — one atomic metadata
    * commit); a failing audit leaves the parent UNTOUCHED and the
    * quarantined branch inspectable. Complements #303: CHECK
    * constraints gate per-row at the door, WAP audits gate
    * whole-batch invariants (row-count drift, aggregate sanity) that
    * no row predicate can express. Both arms proven inline: the GOOD
    * batch (price+3 for the %19 cohort) audits clean and publishes;
    * the BAD batch (price −7: negative prices) fails the audit, is
    * NOT published, and the parent's content is bit-identical before/
    * after the refusal. Graded output = the parent head after the
    * good publish. Scale: staging is O(manifest) + the batch's
    * touched buckets; audits read the STAGED delta-touched state,
    * never the production table; publish is metadata-only. */
  def etlSnapshotWriteAuditPublish(spark: SparkSession, sf: String)
      : DataFrame = {
    import graft.api.SnapshotTable
    val base = buildSnapshotOrders(spark, sf)
    // the drift bound's denominator is the PARENT's row count at audit
    // time — v1 for both staged batches (the bad batch never
    // publishes, so the parent hasn't moved when the good batch
    // audits). Computed once (round 19: each audit re-counted the
    // parent — one redundant full-table job per stage, guide §1.2).
    val parentN = SnapshotTable.asOf(spark, base,
      SnapshotTable.latestVersion(spark, base)).count()
    // audit suite: whole-batch invariants over a staged head
    def audit(stage: String): Seq[(String, Boolean)] = {
      val r = SnapshotTable.asOf(spark, stage,
        SnapshotTable.latestVersion(spark, stage))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nullk"),
          sum(when(col("o_price") < 0, 1L).otherwise(0L)).as("neg"))
        .collect()(0)
      Seq(
        "no_null_keys" -> (r.getLong(1) == 0L),
        "no_negative_prices" -> (r.getLong(2) == 0L),
        "row_drift_bounded" ->
          (math.abs(r.getLong(0) - parentN) <= parentN / 5))
    }
    def stageAuditPublish(tag: String, mk: DataFrame => DataFrame)
        : Boolean = {
      val br = graft.Tables.scratch(s"graft_snaptbl_wap_$tag")
      SnapshotTable.cloneShallow(spark, base, br)
      SnapshotTable.mergeInto(spark, br,
        mk(SnapshotTable.asOf(spark, br, 0)), "o_orderkey",
        numBuckets = 16)
      val failed = audit(br).filterNot(_._2)
      if (failed.isEmpty) { SnapshotTable.mergeBack(spark, br); true }
      else false // quarantined: branch kept for inspection, never read
    }
    val beforeBad = SnapshotTable.asOf(spark, base,
      SnapshotTable.latestVersion(spark, base))
    val badPublished = stageAuditPublish("bad",
      upserts(_, col("o_orderkey") % 23 === 0, lit(-7).cast(DEC2)))
    require(!badPublished, "a failing audit must never publish")
    val afterBad = SnapshotTable.asOf(spark, base,
      SnapshotTable.latestVersion(spark, base))
    require(Transforms.multisetEqual(afterBad, beforeBad),
      "a refused batch must leave the parent bit-identical")
    val goodPublished = stageAuditPublish("good",
      upserts(_, col("o_orderkey") % 19 === 0,
        (col("o_price") + lit(3)).cast(DEC2)))
    require(goodPublished &&
      SnapshotTable.latestVersion(spark, base) == 2,
      "a passing audit must fast-forward the parent")
    ordersContent(SnapshotTable.asOf(spark, base, 2),
        sum(when(col("o_orderkey") % 19 === 0, 1L).otherwise(0L))
          .as("n_audited_cohort"))
      .select(lit(true).as("published"), lit(false).as("bad_published"),
        col("n_rows"), col("total_price"), col("n_audited_cohort"))
  }

  /** #293 — RESTORE TABLE … VERSION AS OF on the snapshot table
    * (round 17; Delta's RESTORE — the bad-deploy undo every lakehouse
    * operator reaches for: [[graft.api.SnapshotTable.restore]]
    * publishes latest+1 carrying the target version's manifest
    * VERBATIM, a pure metadata commit): v2 = restore(v0) on the
    * merged orders table. The op PROVES the posture inline: the new
    * version's file list is IDENTICAL to v0's (no data moved), and
    * history is intact — v1 still time-travels to the merged state.
    * Graded output = one row per version (0, 1, 2) with the content
    * aggregate; v2's row must equal v0's exactly, v1's must still
    * show the merge. Scale: O(manifest) — a 100 TB table restores in
    * milliseconds, and the restored files are live again so retention
    * GC keeps them ([[graft.api.SnapshotTable.vacuum]]'s live set is
    * the union of surviving manifests). */
  def etlSnapshotRestore(spark: SparkSession, sf: String): DataFrame = {
    val base = buildSnapshotOrders(spark, sf)
    val v2 = graft.api.SnapshotTable.restore(spark, base, 0)
    require(v2 == 2, s"restore must publish latest+1, got $v2")
    require(graft.api.SnapshotTable.liveFiles(spark, base, v2) ==
            graft.api.SnapshotTable.liveFiles(spark, base, 0),
      "RESTORE must be metadata-only (the target's file list, verbatim)")
    versionRows(spark, base, 0, 1, 2)
  }

  /** #294 — RENAME COLUMN schema evolution on the snapshot table
    * (round 17; the other half of #292's evolution contract and the
    * half that separates real lakehouse formats from naive ones —
    * without a name-mapping layer a rename either rewrites 100 TB or
    * corrupts old files' reads; iceberg solves it with field ids,
    * [[graft.api.SnapshotTable.renameColumn]] with a stable PHYSICAL
    * name + a manifest `#colmap` physical→logical mapping): v2 =
    * rename o_price→o_amount — a pure metadata commit (file-list
    * identity proven inline) — then a MERGE ACROSS the rename
    * boundary written in LOGICAL names (v3). Inline proofs: time
    * travel returns each version's OWN names (v1 reads o_price, v2
    * reads o_amount); post-rename writes still store the PHYSICAL
    * name (read a v3-new file raw and find o_price), so the table's
    * files never fork into two name dialects. Graded output = one row
    * per version with the version-local column name pinned into the
    * hash plus the content aggregate (v3 = +50 on the k%13 cohort).
    * Scale: rename is O(manifest); every read pays one
    * `withColumnRenamed` (plan-time alias, zero data cost). */
  def etlSnapshotRenameColumn(spark: SparkSession, sf: String): DataFrame = {
    val base = buildSnapshotOrders(spark, sf)
    val v2 = graft.api.SnapshotTable.renameColumn(spark, base,
      "o_price", "o_amount")
    require(graft.api.SnapshotTable.liveFiles(spark, base, v2) ==
            graft.api.SnapshotTable.liveFiles(spark, base, 1),
      "RENAME COLUMN must be a metadata-only commit (identical file list)")
    require(graft.api.SnapshotTable.asOf(spark, base, 1)
      .columns.contains("o_price"),
      "time travel to v1 must return the pre-rename name")
    val v2cols = graft.api.SnapshotTable.asOf(spark, base, v2).columns
    require(v2cols.contains("o_amount") && !v2cols.contains("o_price"),
      "v2 must read under the new logical name")
    val changes = graft.api.SnapshotTable.asOf(spark, base, v2)
      .where(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), lit("U").as("op"), col("o_orderstatus"),
        (col("o_amount") + lit(50)).cast(DEC2).as("o_amount"))
    val v3 = graft.api.SnapshotTable.mergeInto(spark, base, changes,
      "o_orderkey", numBuckets = 16)
    val newFiles = (graft.api.SnapshotTable.liveFiles(spark, base, v3).toSet --
      graft.api.SnapshotTable.liveFiles(spark, base, v2).toSet).toSeq
    require(newFiles.nonEmpty &&
      spark.read.parquet(newFiles: _*).columns.contains("o_price"),
      "post-rename writes must keep the stable physical column name")
    def snap(v: Int): DataFrame = {
      val df = graft.api.SnapshotTable.asOf(spark, base, v)
      val c = if (df.columns.contains("o_amount")) "o_amount" else "o_price"
      df.agg(count(lit(1)).as("n_rows"),
          sum(col(c)).cast("double").as("total_amount"))
        .select(lit(v).as("version"), lit(c).as("col_name"),
          col("n_rows"), col("total_amount"))
    }
    snap(1).unionAll(snap(v2)).unionAll(snap(v3)).orderBy(col("version"))
  }

  /** #295 — DELETE WHERE with manifest-stats file skipping on the
    * snapshot table (round 17; Delta's `DELETE FROM … WHERE` pruning
    * posture — the GDPR/bad-batch bulk delete that must NOT rewrite
    * 100 TB: [[graft.api.SnapshotTable.deleteRange]] carries every
    * file whose manifest [min,max] is band-disjoint into the new
    * manifest BY REFERENCE — never opened — and rewrites only the
    * candidates, in one scan, under the same bucket addressing):
    * v2 = OPTIMIZE CLUSTER BY price (so the manifest carries stats),
    * v3 = delete the [60k, 120k] price band. Inline proofs: some
    * files were skipped AND some rewritten; every band-disjoint v2
    * file appears VERBATIM (same path) in v3's manifest. Graded
    * output = the surviving content aggregate with the in-band
    * survivor count (0) pinned into the hash; oracle = the same
    * NOT-BETWEEN off orders. Scale: rewrite cost is ~(band width /
    * value range) of the table on a clustered layout — the reason
    * Delta docs say OPTIMIZE before bulk deletes. */
  def etlSnapshotDeleteWhere(spark: SparkSession, sf: String): DataFrame = {
    val base = buildSnapshotOrders(spark, sf)
    val v2 = graft.api.SnapshotTable.optimizeCluster(
      spark, base, "o_orderkey", "o_price", numBuckets = 4, subFiles = 4)
    val lo = new java.math.BigDecimal("60000.00")
    val hi = new java.math.BigDecimal("120000.00")
    val before = graft.api.SnapshotTable.fileEntries(spark, base, v2)
    val (v3, rewritten, skipped) = graft.api.SnapshotTable.deleteRange(
      spark, base, "o_orderkey", "o_price", lo, hi, numBuckets = 4)
    require(v3 == v2 + 1 && rewritten > 0 && skipped > 0,
      s"stats must split the file list: rewritten=$rewritten skipped=$skipped")
    val after = graft.api.SnapshotTable.fileEntries(spark, base, v3)
      .map(_.path).toSet
    before.filter(e => e.min.isDefined &&
        (e.max.get.compareTo(lo) < 0 || e.min.get.compareTo(hi) > 0))
      .foreach(e => require(after.contains(e.path),
        s"band-disjoint file ${e.path} must be carried by reference"))
    ordersContent(graft.api.SnapshotTable.asOf(spark, base, v3),
      min(col("o_price")).cast("double").as("min_price"),
      max(col("o_price")).cast("double").as("max_price"),
      count(when(col("o_price").between(lit(lo), lit(hi)), lit(1)))
        .as("n_in_band"))
  }

  /** #297 — bucket-pruned point lookup on the snapshot table (round
    * 17; the SERVING path beside the analytics scans — "give me these
    * 5 orders" must not read a 100 TB table: the probe keys' bucket
    * ids are computed driver-side from the table's own addressing
    * ([[graft.api.SnapshotTable.bucketExpr]]), and
    * [[graft.api.SnapshotTable.asOfBuckets]] opens ONLY files whose
    * manifest bucket id matches — manifest-planned, no listing, no
    * full scan; parquet bloom filters (#284) and manifest stats
    * (#291) then prune within the opened buckets): look up the 5
    * smallest live keys. The op PROVES the pruning inline: the probed
    * bucket set must be a strict subset of the table's buckets.
    * Graded output = the looked-up rows themselves; oracle = the same
    * keys off the v1 CTE. Scale: cost is (probed buckets / total
    * buckets) of the table regardless of table size — the serving
    * fraction, not the table. */
  def etlSnapshotPointLookup(spark: SparkSession, sf: String): DataFrame = {
    import graft.api.SnapshotTable
    val base = buildSnapshotOrders(spark, sf)
    val v = SnapshotTable.latestVersion(spark, base)
    val keys = SnapshotTable.asOf(spark, base, v)
      .select(col("o_orderkey")).orderBy(col("o_orderkey")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    val keyDf = spark.createDataFrame(keys.map(Tuple1(_)))
      .toDF("o_orderkey")
    val buckets = SnapshotTable.probeBuckets(spark, base, v, keyDf,
      "o_orderkey", 16)
    val allBuckets = SnapshotTable.fileEntries(spark, base, v)
      .map(_.bucket).toSet
    // strictness is only provable when there are spare buckets to NOT
    // probe: 5 keys can touch at most 5 buckets, so demand a strict
    // subset only when the table has more live buckets than probe
    // keys; a tiny corpus (≤5 live buckets) degrades to a full-bucket
    // read instead of throwing (ADVICE r17)
    require(buckets.subsetOf(allBuckets) &&
        (allBuckets.size <= keys.size || buckets.size < allBuckets.size),
      s"point lookup must probe a subset of buckets: " +
      s"${buckets.size}/${allBuckets.size}")
    SnapshotTable.asOfBuckets(spark, base, v, buckets)
      .where(col("o_orderkey").isin(keys: _*))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_price").cast("double").as("o_price"))
      .orderBy(col("o_orderkey"))
  }

  /** #298 — CDC follower round-trip (round 17; the CONSUMER half of
    * #146's diff — every downstream materialization, search index or
    * cache that tails a lakehouse table's change feed relies on
    * deltas COMPOSING: state ∘ diff(v0→v1) ∘ diff(v1→v2) must equal
    * asOf(v2) exactly, including delete propagation and update
    * after-images): v2 adds a third commit (price+7 on the %9==4
    * cohort, delete of the %9==5 cohort), then a follower starts from
    * the materialized v0 and folds both deltas via
    * [[graft.api.SnapshotTable.applyDiff]]. The op PROVES the
    * fixpoint inline (reconstruction == head, one-pass multiset
    * equality); the graded output is the reconstruction's content
    * aggregate. Scale: each fold is O(state + delta) — the follower
    * never re-reads the source table, the entire point of a change
    * feed at 100 TB. */
  def etlSnapshotCdcFollow(spark: SparkSession, sf: String): DataFrame = {
    import graft.api.SnapshotTable
    val base = buildSnapshotOrders(spark, sf)
    val v1 = SnapshotTable.asOf(spark, base, 1)
    // one pass over v1 builds the upd+del change set (round 19 — the
    // same single-projection rewrite as buildSnapshotOrders: the
    // two-arm unionAll read the v1 file set twice under every change
    // set consumer); identical row multiset, output and oracle
    // untouched
    val k9 = col("o_orderkey") % 9
    val changes = v1.select(col("o_orderkey"),
        when(k9 === 4, lit("U")).when(k9 === 5, lit("D")).as("op"),
        when(k9 === 4, col("o_orderstatus")).as("o_orderstatus"),
        when(k9 === 4, (col("o_price") + lit(7)).cast(DEC2)).as("o_price"))
      .where(col("op").isNotNull)
    val v2 = SnapshotTable.mergeInto(spark, base, changes,
      "o_orderkey", numBuckets = 16)
    // the fold lineage (3 diffs + anti-join/union chain) is consumed
    // by ONE multiset-equality action (was: two exceptAll directions
    // under a persist) — single pass, no cache residency
    val rebuilt = (1 to v2).foldLeft(SnapshotTable.asOf(spark, base, 0)) {
      (state, v) => SnapshotTable.applyDiff(state,
        SnapshotTable.diff(spark, base, v - 1, v, "o_orderkey"),
        "o_orderkey")
    }
    val head = SnapshotTable.asOf(spark, base, v2)
    require(Transforms.multisetEqual(rebuilt, head),
      "folded deltas must reconstruct the head exactly")
    // graded output reads the HEAD (one scan): the requires above
    // prove it equals the reconstruction, so the oracle grades the
    // fold without re-running its lineage
    ordersContent(head, nUpdated)
      .select(lit(true).as("cdc_followed"), col("n_rows"),
        col("total_price"), col("n_updated"))
  }

  /** #288 — data-quality rule suggestion (round 16; the
    * deequ/Great-Expectations "profile → suggest constraints" step
    * that seeds #132's rule engine: instead of a human writing the DQ
    * rules, ONE profiling pass proposes them from what the data
    * already satisfies): over the orders fact — `unique` when a key's
    * NDV equals the row count, `not_null` when a column has zero
    * nulls, `range` (observed lo/hi; dates as epoch days — no
    * engine-formatted strings) for numerics, `in_set` with the sorted
    * value domain for low-cardinality strings (NDV ≤ 10). Exactness:
    * every decision input is an exact count/NDV/min/max from one
    * aggregate; the only doubles are canonical 2dp money bounds and
    * integer epoch days. Shape: ONE partial-aggregated corpus pass to
    * a 1-row stats frame, then a driver-free explode of the
    * conditional rule array — at 100 TB the profile pass is the whole
    * cost (NDVs would swap to HLL sketches with the suggestion
    * thresholds unchanged). KNOWN BOUND (review r17): the two
    * `collect_set` domain buffers accumulate the string columns' FULL
    * distinct domains in one aggregation buffer even though the
    * in_set rule is discarded at NDV > 10 — against a table whose
    * "low-cardinality" column turns out high-cardinality, that buffer
    * is NDV-sized on a single task. The production profile pass runs
    * the HLL-NDV probe FIRST (profileApprox) and only collects
    * domains for columns whose estimate clears the threshold; the
    * graded single-pass form keeps the one-scan shape because the
    * graded schema's string columns are enum-like by construction. */
  def etlDqSuggest(spark: SparkSession, sf: String): DataFrame = {
    val o = orders(spark, sf)
    val epoch = lit("1970-01-01").cast("date")
    val st = o.agg(
      count(lit(1)).as("n"),
      countDistinct(col("o_orderkey")).as("ndv_key"),
      count(col("o_orderkey")).as("nn_key"),
      count(col("o_custkey")).as("nn_cust"),
      count(col("o_orderstatus")).as("nn_status"),
      count(col("o_totalprice")).as("nn_price"),
      count(col("o_orderdate")).as("nn_date"),
      count(col("o_orderpriority")).as("nn_prio"),
      min(col("o_custkey")).cast("double").as("min_cust"),
      max(col("o_custkey")).cast("double").as("max_cust"),
      min(money(col("o_totalprice"))).cast("double").as("min_price"),
      max(money(col("o_totalprice"))).cast("double").as("max_price"),
      datediff(to_date(min(col("o_orderdate"))), epoch)
        .cast("double").as("min_day"),
      datediff(to_date(max(col("o_orderdate"))), epoch)
        .cast("double").as("max_day"),
      countDistinct(col("o_orderstatus")).as("ndv_status"),
      countDistinct(col("o_orderpriority")).as("ndv_prio"),
      concat_ws(",", sort_array(collect_set(col("o_orderstatus"))))
        .as("dom_status"),
      concat_ws(",", sort_array(collect_set(col("o_orderpriority"))))
        .as("dom_prio"))
    val nullD = lit(null).cast("double")
    val nullS = lit(null).cast("string")
    def rule(cond: Column, cn: String, r: String, lo: Column, hi: Column,
             dom: Column): Column =
      when(cond, struct(lit(cn).as("col_name"), lit(r).as("rule"),
        lo.cast("double").as("lo"), hi.cast("double").as("hi"),
        dom.cast("string").as("domain")))
    def notNull(cn: String, nnCol: String): Column =
      rule(col(nnCol) === col("n"), cn, "not_null", nullD, nullD, nullS)
    st.select(explode(array(
        rule(col("ndv_key") === col("n"), "o_orderkey", "unique",
          nullD, nullD, nullS),
        notNull("o_orderkey", "nn_key"),
        notNull("o_custkey", "nn_cust"),
        notNull("o_orderstatus", "nn_status"),
        notNull("o_totalprice", "nn_price"),
        notNull("o_orderdate", "nn_date"),
        notNull("o_orderpriority", "nn_prio"),
        rule(lit(true), "o_custkey", "range",
          col("min_cust"), col("max_cust"), nullS),
        rule(lit(true), "o_totalprice", "range",
          col("min_price"), col("max_price"), nullS),
        rule(lit(true), "o_orderdate", "range_epoch_day",
          col("min_day"), col("max_day"), nullS),
        rule(col("ndv_status") <= 10, "o_orderstatus", "in_set",
          nullD, nullD, col("dom_status")),
        rule(col("ndv_prio") <= 10, "o_orderpriority", "in_set",
          nullD, nullD, col("dom_prio")))).as("r"))
      .where(col("r").isNotNull)
      .select(col("r.col_name").as("col_name"), col("r.rule").as("rule"),
        col("r.lo").as("lo"), col("r.hi").as("hi"),
        col("r.domain").as("domain"))
      .orderBy(col("col_name"), col("rule"))
  }

  /** #290 — seasonal/trend strength of the decomposition (round 16;
    * Hyndman's STL-features readout — turns #192's component TABLE
    * into the two scalars a forecasting pipeline actually branches
    * on: F_s = max(0, 1 − Var(R)/Var(S+R)) and F_t = max(0, 1 −
    * Var(R)/Var(T+R)); near-zero F_s says "don't fit a seasonal
    * model"): components come from #192's op VERBATIM (same code
    * path, so the two can never disagree), variances are computed on
    * the 4dp component grid via exact DECIMAL folds (Σc, Σc² as
    * DECIMAL(38,8) over the ~30-row day table — order-free), and the
    * strengths are fixed double expressions, 6dp displayed. Shape:
    * #192's one keyed corpus aggregate + metadata-scale windows, then
    * a 1-row fold. */
  def tsSeasonalStrength(spark: SparkSession, sf: String): DataFrame = {
    val comp = tsSeasonalDecompose(spark, sf)
      .select(dec(col("residual"), 18, 4).as("r"),
        // components are 4dp doubles; cast each to DECIMAL FIRST and
        // add exactly — never round a double sum (engine round() on a
        // boundary-adjacent double is the one place engines can split);
        // narrow the (19,4) sum back to (18,4) (exact here) so squares
        // stay inside precision 38
        dec(dec(col("seasonal"), 18, 4) + dec(col("residual"), 18, 4),
          18, 4).as("sr"),
        dec(dec(col("trend"), 18, 4) + dec(col("residual"), 18, 4),
          18, 4).as("tr"))
    // CENTER each component on its own 4dp-gridded mean before the
    // square fold (the #201 discipline): variance is translation-
    // invariant, and the centered squares keep the DECIMAL(38,8)
    // accumulator's internal magnitude inside the exactly-double-
    // castable range — DuckDB casts a huge decimal to double via
    // int->double THEN /10^scale (two roundings), which at ~10^19
    // internal units drifts ~1e-6 against the correctly-rounded
    // single conversion Spark does.
    val wAll = Window.partitionBy(lit(1))
    def centered(cn: String): Column =
      dec(col(cn) - dec(round(sum(col(cn)).over(wAll).cast("double")
        / count(lit(1)).over(wAll), 4), 18, 4), 18, 4)
    val c = comp.select(centered("r").as("r"), centered("sr").as("sr"),
      centered("tr").as("tr"))
    def m(p: Column) = sum(dec(p, 38, 8))
    val folded = c.agg(count(lit(1)).as("n_days"),
      m(col("r") * col("r")).as("qr"), sum(col("r")).as("sr1"),
      m(col("sr") * col("sr")).as("qsr"), sum(col("sr")).as("ssr"),
      m(col("tr") * col("tr")).as("qtr"), sum(col("tr")).as("str"))
    def d(c2: Column) = c2.cast("double")
    def vr(q: String, s: String): Column = {
      val n = d(col("n_days"))
      (d(col(q)) - d(col(s)) * d(col(s)) / n) / n
    }
    val (vR, vSR, vTR) = (vr("qr", "sr1"), vr("qsr", "ssr"), vr("qtr", "str"))
    folded.select(col("n_days"),
      round(vR, 6).as("var_resid"),
      round(vSR, 6).as("var_seas_resid"),
      round(vTR, 6).as("var_trend_resid"),
      round(greatest(lit(0.0), lit(1.0) - vR / vSR), 6).as("f_seasonal"),
      round(greatest(lit(0.0), lit(1.0) - vR / vTR), 6).as("f_trend"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "etl_normalize_units"    -> (etlNormalizeUnits _),
    "etl_interval_validate"  -> (etlIntervalValidate _),
    "etl_gap_fill"           -> (etlGapFill _),
    "etl_upsert_lastwins"    -> (etlUpsertLastwins _),
    "etl_chunk_batches"      -> (etlChunkBatches _),
    "etl_incremental_filter" -> (etlIncrementalFilter _),
    "etl_split_hash"         -> (etlSplitHash _),
    "etl_scd2_intervals"     -> (etlScd2Intervals _),
    "events_funnel_stages"   -> (eventsFunnelStages _),
    "etl_merge_intervals"    -> (etlMergeIntervals _),
    "etl_outlier_zscore"     -> (etlOutlierZscore _),
    "etl_dq_rules"           -> (etlDqRules _),
    "etl_compact_small_files" -> (etlCompactSmallFiles _),
    "events_attribution_lasttouch" -> (eventsAttributionLasttouch _),
    "events_retention_cohort" -> (eventsRetentionCohort _),
    "events_rolling_active"  -> (eventsRollingActive _),
    "events_markov_transitions" -> (eventsMarkovTransitions _),
    "join_scd2_pointintime"  -> (joinScd2Pointintime _),
    "etl_snapshot_diff"      -> (etlSnapshotDiff _),
    "etl_cdc_apply"          -> (etlCdcApply _),
    "ts_downsample_ohlc"     -> (tsDownsampleOhlc _),
    "etl_forward_fill"       -> (etlForwardFill _),
    "ts_interpolate_linear"  -> (tsInterpolateLinear _),
    "events_sequence_regex"  -> (eventsSequenceRegex _),
    "events_ab_ttest"        -> (eventsAbTtest _),
    "etl_profile_columns"    -> (etlProfileColumns _),
    "etl_profile_approx"     -> (etlProfileApprox _),
    "events_cuped_adjust"    -> (eventsCupedAdjust _),
    "ts_seasonal_decompose"  -> (tsSeasonalDecompose _),
    "events_srm_check"       -> (eventsSrmCheck _),
    "events_bootstrap_ci"    -> (eventsBootstrapCi _),
    "ts_changepoint_cusum"   -> (tsChangepointCusum _),
    "events_power_mde"       -> (eventsPowerMde _),
    "ts_autocorrelation"     -> (tsAutocorrelation _),
    "events_ltv_cohort"      -> (eventsLtvCohort _),
    "events_funnel_windowed" -> (eventsFunnelWindowed _),
    "etl_entity_resolution"  -> (etlEntityResolution _),
    "ts_anomaly_residual"    -> (tsAnomalyResidual _),
    "ts_holt_forecast"       -> (tsHoltForecast _),
    "events_diff_in_diff"    -> (eventsDiffInDiff _),
    "etl_benford_check"      -> (etlBenfordCheck _),
    "ts_theil_sen"           -> (tsTheilSen _),
    "etl_snapshot_merge_timetravel" -> (etlSnapshotMergeTimetravel _),
    "etl_snapshot_compact"   -> (etlSnapshotCompact _),
    "ts_yoy_growth"          -> (tsYoyGrowth _),
    "etl_late_arriving_dim"  -> (etlLateArrivingDim _),
    "events_interarrival_hist" -> (eventsInterarrivalHist _),
    "etl_baseline_reporting_usage" -> (etlBaselineReportingUsage _),
    "etl_snapshot_incremental" -> (etlSnapshotIncremental _),
    "ts_cross_correlation"   -> (tsCrossCorrelation _),
    "events_attribution_position" -> (eventsAttributionPosition _),
    "events_fdr_bh"          -> (eventsFdrBh _),
    "events_bayes_ab"        -> (eventsBayesAb _),
    "ts_rolling_corr"        -> (tsRollingCorr _),
    "events_uplift_deciles"  -> (eventsUpliftDeciles _),
    "etl_psi_drift"          -> (etlPsiDrift _),
    "events_cem_att"         -> (eventsCemAtt _),
    "ts_sma_crossover"       -> (tsSmaCrossover _),
    "events_sprt_sequential" -> (eventsSprtSequential _),
    "etl_surrogate_key_assign" -> (etlSurrogateKeyAssign _),
    "events_time_to_convert" -> (eventsTimeToConvert _),
    "events_stickiness_ratio" -> (eventsStickinessRatio _),
    "etl_anonymize_referential" -> (etlAnonymizeReferential _),
    "ts_granger_f"           -> (tsGrangerF _),
    "events_top_paths"       -> (eventsTopPaths _),
    "etl_snapshot_optimize_cluster" -> (etlSnapshotOptimizeCluster _),
    "etl_dq_suggest"         -> (etlDqSuggest _),
    "ts_seasonal_strength"   -> (tsSeasonalStrength _),
    "etl_snapshot_stats_pruned" -> (etlSnapshotStatsPruned _),
    "etl_snapshot_add_column" -> (etlSnapshotAddColumn _),
    "etl_snapshot_restore"   -> (etlSnapshotRestore _),
    "etl_snapshot_rename_column" -> (etlSnapshotRenameColumn _),
    "etl_snapshot_delete_where" -> (etlSnapshotDeleteWhere _),
    "etl_snapshot_point_lookup" -> (etlSnapshotPointLookup _),
    "etl_snapshot_cdc_follow" -> (etlSnapshotCdcFollow _),
    "etl_snapshot_clone_branch" -> (etlSnapshotCloneBranch _),
    "etl_snapshot_branch_mergeback" -> (etlSnapshotBranchMergeback _),
    "etl_snapshot_rebucket" -> (etlSnapshotRebucket _),
    "etl_snapshot_vacuum" -> (etlSnapshotVacuum _),
    "etl_snapshot_check_constraint" -> (etlSnapshotCheckConstraint _),
    "etl_snapshot_concurrent_merge" -> (etlSnapshotConcurrentMerge _),
    "etl_snapshot_write_audit_publish" -> (etlSnapshotWriteAuditPublish _),
  )

  /** #192 — additive seasonal decomposition (the classical
    * moving-average method every time-series toolkit ships as
    * `seasonal_decompose`): daily value totals → TREND = centered
    * 7-day moving average → SEASONAL = per-day-of-week mean of the
    * detrended series → RESIDUAL = daily − trend − seasonal. The
    * daily table is METADATA-SCALE BY CONSTRUCTION (rows = distinct
    * days — ~3.7k even for a decade of 100 TB telemetry), so the
    * centered window runs over the constant-partition idiom (#79's
    * hashSeeds policy) after ONE keyed corpus aggregation; nothing
    * wider than the day table is ever windowed. Determinism: daily
    * sums are exact DECIMAL(18,2) (value is 2 dp money), each mean is
    * exact-decimal-sum / exact-count rounded 4 dp, the detrended
    * input to the seasonal mean is 6 dp-gridded DECIMAL — so every
    * graded number is engine-independent. Day-of-week is epoch-day
    * mod 7 (no engine dow-origin trap). */
  def tsSeasonalDecompose(spark: SparkSession, sf: String): DataFrame = {
    val daily = events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(money(col("value"))).as("dsum"))
    // constant non-foldable partition: the window input is the
    // metadata-scale day table, not corpus rows
    val w = Window.partitionBy(pmod(length(col("day").cast("string")), lit(1)))
      .orderBy(col("day")).rowsBetween(-3, 3)
    val tr = daily
      .withColumn("trend",
        round(sum(col("dsum")).over(w).cast("double") /
              count(lit(1)).over(w), 4))
      .withColumn("dow",
        (datediff(col("day"), to_date(lit("1970-01-01"))) % 7).cast("int"))
      .withColumn("d6",
        round(col("dsum").cast("double") - col("trend"), 6)
          .cast("decimal(18,6)"))
    val se = tr.groupBy(col("dow"))
      .agg(round(sum(col("d6")).cast("double") / count(lit(1)), 4).as("seasonal"))
    tr.join(broadcast(se), "dow")
      .select(col("day").cast("timestamp").as("day"),
        col("dsum").cast("double").as("daily"),
        col("trend"), col("dow"), col("seasonal"),
        round(col("dsum").cast("double") - col("trend") - col("seasonal"), 4)
          .as("residual"))
      .orderBy(col("day"))
  }

  /** #193 — sample-ratio-mismatch check (the first gate of every A/B
    * readout: Fabijan et al., "Diagnosing Sample Ratio Mismatch"):
    * per experiment (event_type as the exposure dimension, plus the
    * ROLLUP total), distinct exposed users split by the #183 md5
    * arm coin, chi-square against the designed 50/50 —
    * χ² = (n_a−n_b)²/(n_a+n_b), flagged when > 3.841 (df=1, α=.05).
    * One distinct + one rollup aggregate, both keyed; counts are
    * exact longs and χ² is a single exact double division, so the
    * flag is engine-independent. At 100 TB the distinct is the only
    * corpus-scale exchange and it partial-aggregates. */
  def eventsSrmCheck(spark: SparkSession, sf: String): DataFrame = {
    val arm = when(
      expArm2IsA,
      lit("A")).otherwise(lit("B"))
    val ue = events(spark, sf)
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("arm", arm)
    val chi2 = (col("n_a") - col("n_b")) * (col("n_a") - col("n_b")) /
      (col("n_a") + col("n_b")).cast("double")
    ue.rollup(col("event_type"))
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
           sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"))
      .select(coalesce(col("event_type"), lit("__all__")).as("experiment"),
        col("n_a"), col("n_b"), round(chi2, 4).as("chi2"),
        (chi2 > lit(3.841)).as("srm_detected"))
      .orderBy(col("experiment"))
  }

  /** #197 — Poisson-bootstrap confidence intervals (round 12; Chamandy
    * et al., "Estimating Uncertainty for Massive Data Streams" — THE
    * bootstrap that works at 100 TB, because each row draws its
    * replicate weights independently in one pass instead of being
    * materialized B times by a sampler that must see the whole
    * dataset): B = 32 replicates; event e's weight in replicate b is
    * Poisson(1) inverse-CDF'd from the exact md5 4-nibble uniform of
    * (event_id, b) — thresholds are fixed literals of the Poisson(1)
    * CDF (truncated at w = 4, mass 3.7e-3 re-assigned to the tail
    * bucket; documented approximation), so every weight is an exact
    * integer both engines agree on. Per (arm, b): weighted mean =
    * exact DECIMAL(18,2) weighted sum / exact long weight count. The
    * CI is ORDER STATISTICS of the 32 replicate means (ranks 2/17/31
    * ascending ≈ p05/p50/p95 — fixed ranks, no interpolation), ranked
    * by (mean, b) so ties are deterministic. Shape: one ×B fan-out
    * (the only corpus-scale stage, map-side), one keyed aggregate,
    * then 64-row arithmetic. */
  def eventsBootstrapCi(spark: SparkSession, sf: String): DataFrame = {
    val B = 32
    val arm = when(
      expArm2IsA,
      lit("A")).otherwise(lit("B"))
    // Poisson(1) CDF at 0,1,2,3 on the 16-bit grid's scale
    val t = Seq(0.36787944117144233, 0.7357588823428847,
                0.9196986029286058, 0.9810118431238462)
    val u = conv(substring(md5(concat(col("event_id").cast("string"),
        lit("#bs"), col("b").cast("string"))), 1, 4), 16, 10)
      .cast("long").cast("double") / lit(65536.0)
    val w = when(u < t(0), 0).when(u < t(1), 1).when(u < t(2), 2)
      .when(u < t(3), 3).otherwise(4)
    val rep = events(spark, sf)
      .select(arm.as("arm"), col("event_id"), money(col("value")).as("v"),
        explode(sequence(lit(0), lit(B - 1))).as("b"))
      .select(col("arm"), col("b"), col("v"), w.as("w"))
      .groupBy(col("arm"), col("b"))
      .agg((sum(col("w") * col("v")).cast("double") /
            sum(col("w"))).as("mean_b"))
    val rk = Window.partitionBy(col("arm")).orderBy(col("mean_b"), col("b"))
    val stats = rep.withColumn("r", row_number().over(rk))
      .groupBy(col("arm"))
      .agg(max(when(col("r") === 2, col("mean_b"))).as("p05"),
           max(when(col("r") === 17, col("mean_b"))).as("p50"),
           max(when(col("r") === 31, col("mean_b"))).as("p95"))
    val full = events(spark, sf)
      .groupBy(arm.as("arm"))
      .agg((sum(money(col("value"))).cast("double") / count(lit(1)))
        .as("mean_full"))
    full.join(stats, "arm")
      .select(col("arm"), round(col("mean_full"), 4).as("mean_full"),
        round(col("p05"), 4).as("boot_p05"),
        round(col("p50"), 4).as("boot_p50"),
        round(col("p95"), 4).as("boot_p95"))
      .orderBy(col("arm"))
  }

  /** #199 — CUSUM changepoint detection (round 12; Page 1954 — the
    * classical drift detector every monitoring stack runs on a KPI
    * series): over the daily value totals, CUSUM_t = prefix_sum(t) −
    * t·mean, the changepoint = argmax |CUSUM| (earliest day wins
    * ties). All arithmetic is exact: daily totals and their prefix
    * sums are DECIMAL(18,2), the grand mean is exact-sum/exact-count,
    * and CUSUM_t = S_t − t·mean is a product/difference of exact
    * doubles — so the argmax flag is engine-independent with no
    * tolerance needed. Day table metadata-scale (#192's argument);
    * the only corpus-scale stage is the daily aggregate. */
  def tsChangepointCusum(spark: SparkSession, sf: String): DataFrame = {
    val daily = events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(money(col("value"))).as("dsum"))
    val wOrd = Window.partitionBy(pmod(length(col("day").cast("string")), lit(1)))
      .orderBy(col("day"))
    val wAll = Window.partitionBy(pmod(length(col("day").cast("string")), lit(1)))
    val n = count(lit(1)).over(wAll)
    val grand = sum(col("dsum")).over(wAll).cast("double")
    val t = row_number().over(wOrd)
    val s = sum(col("dsum")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0))
      .cast("double")
    val cusum = s - t * (grand / n)
    val flagRank = row_number().over(
      Window.partitionBy(pmod(length(col("day").cast("string")), lit(1)))
        .orderBy(abs(col("cusum_raw")).desc, col("day")))
    daily
      .withColumn("cusum_raw", cusum)
      .withColumn("is_changepoint", flagRank === 1)
      .select(col("day").cast("timestamp").as("day"),
        col("dsum").cast("double").as("daily"),
        round(col("cusum_raw"), 4).as("cusum"), col("is_changepoint"))
      .orderBy(col("day"))
  }

  /** #200 — power analysis / minimum-detectable-effect table (round
    * 12; the pre-registration arithmetic of every experimentation
    * platform): pooled per-arm variance from EXACT decimal moments
    * (n·Σv² − (Σv)² over n(n−1) — v and v² are DECIMAL(18,2)/(·,4)
    * exact), then for target relative effects {1%, 2%, 5%} of the
    * pooled mean: the absolute δ, the required per-arm n =
    * ceil(2σ²(z_α/2+z_β)²/δ²) at 80% power / 5% two-sided (z
    * literals), and whether the CURRENT smaller arm already powers
    * it. Every input to sqrt/ceil is the same exact double in both
    * engines, so the graded table needs no tolerance. One keyed
    * corpus aggregate; everything else is 2-row arithmetic. */
  def eventsPowerMde(spark: SparkSession, sf: String): DataFrame = {
    val arm = when(
      expArm2IsA,
      lit("A")).otherwise(lit("B"))
    val v2 = (money(col("value")) * money(col("value"))).cast("decimal(22,4)")
    val byArm = events(spark, sf)
      .groupBy(arm.as("arm"))
      .agg(count(lit(1)).as("n"), sum(money(col("value"))).as("sv"),
           sum(v2).as("svv"))
    val pooled = byArm.agg(
      sum(col("n")).as("n_tot"),
      min(col("n")).as("n_min"),
      sum(col("sv")).cast("double").as("sv"),
      sum(col("svv")).cast("double").as("svv"),
      // per-arm unbiased variances, combined by their dof weights:
      // sum((n_i Σv² − (Σv)²)/n_i) / (n_tot − 2)
      sum((col("n") * col("svv").cast("double") -
           col("sv").cast("double") * col("sv").cast("double")) / col("n"))
        .as("ssq_within"))
    val zsum = lit(1.959963984540054 + 0.8416212335729143) // z_.975 + z_.80
    pooled
      .select(col("n_min"), col("n_tot"),
        (col("sv") / col("n_tot")).as("mean_pooled"),
        (col("ssq_within") / (col("n_tot") - 2)).as("var_pooled"))
      .withColumn("effect_pct", explode(array(lit(1), lit(2), lit(5))))
      .select(col("effect_pct"),
        round(col("mean_pooled"), 4).as("mean_pooled"),
        round(col("var_pooled"), 4).as("var_pooled"),
        round(col("effect_pct") / lit(100.0) * col("mean_pooled"), 4)
          .as("delta_abs"),
        ceil(lit(2.0) * col("var_pooled") * zsum * zsum /
          ((col("effect_pct") / lit(100.0) * col("mean_pooled")) *
           (col("effect_pct") / lit(100.0) * col("mean_pooled"))))
          .cast("long").as("n_required"),
        col("n_min").as("n_available"))
      .withColumn("powered", col("n_available") >= col("n_required"))
      .orderBy(col("effect_pct"))
  }

  /** #201 — autocorrelation function (round 12; the Box–Jenkins ACF
    * every time-series toolkit ships, the identification step before
    * any ARIMA fit): over the day-ordered daily value totals,
    * r_k = Σ_t c_t·c_{t+k} / Σ_t c_t² for row lags k = 1..7, with
    * c_t = x_t − x̄ the centered series. Determinism: daily totals are
    * exact DECIMAL(18,2); x̄ is exact-sum/exact-count; every centered
    * term is 6 dp-gridded to DECIMAL(18,6) BEFORE any product (the
    * #192 grid policy), so numerator and denominator are exact
    * DECIMAL(38,12) sums — order-independent — and only the final
    * ratio is double. The day table is metadata-scale by construction
    * (#192's argument: rows = distinct days), so the lead() window
    * runs on the constant-partition idiom after ONE keyed corpus
    * aggregation; at 100 TB nothing wider than the day table is ever
    * windowed, and the 7 lags are columns of one window pass, not 7
    * self-joins. */
  def tsAutocorrelation(spark: SparkSession, sf: String): DataFrame = {
    val daily = events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(money(col("value"))).as("dsum"))
    val const = pmod(length(col("day").cast("string")), lit(1))
    val wAll = Window.partitionBy(const)
    val wOrd = Window.partitionBy(const).orderBy(col("day"))
    val mean =
      sum(col("dsum")).over(wAll).cast("double") / count(lit(1)).over(wAll)
    val c = daily.withColumn("c6",
      round(col("dsum").cast("double") - mean, 6).cast("decimal(18,6)"))
    val withLeads = (1 to 7).foldLeft(c) { (df, k) =>
      df.withColumn(s"c_lead_$k", lead(col("c6"), k).over(wOrd))
    }
    val den = c.agg(
      sum(dec(col("c6") * col("c6"), 38, 12)).cast("double").as("den"),
      count(lit(1)).as("n_days"))
    val stackExpr = (1 to 7).map(k => s"$k, c_lead_$k").mkString(", ")
    withLeads
      .select(col("c6"),
        expr(s"stack(7, $stackExpr) AS (lag, c_next)"))
      .groupBy(col("lag"))
      .agg(sum(dec(col("c6") * col("c_next"), 38, 12)).cast("double").as("num"),
           count(col("c_next")).as("n_pairs"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n_days"), col("n_pairs"),
        round(col("num") / col("den"), 4).as("acf"))
      .orderBy(col("lag"))
  }

  /** #202 — cohort LTV triangle (round 12; the lifetime-value readout
    * every growth team runs beside #164's retention grid): cohort =
    * epoch-week of the user's FIRST event (integer epoch-day div 7 —
    * no engine week-origin trap), age = weeks since cohort; per
    * (cohort, age) cell: active users, revenue, cumulative revenue
    * along the cohort's age axis, and cumulative LTV per cohort user.
    * Shape: one user-keyed aggregate (first week), one user-keyed
    * equi-join back to the facts, one keyed cell aggregate; the
    * cumulative window runs over the cohort×age table — metadata-scale
    * BY CONSTRUCTION (weeks², not rows) — and cohort sizes broadcast.
    * Determinism: weeks are exact integer division, revenue sums exact
    * DECIMAL(18,2), the only double is the final per-user division,
    * 4 dp-rounded. */
  def eventsLtvCohort(spark: SparkSession, sf: String): DataFrame = {
    val ev = events(spark, sf).select(col("user_id"),
      money(col("value")).as("v"),
      expr("CAST(datediff(to_date(ts), DATE'1970-01-01') AS BIGINT) div 7")
        .as("wk"))
    val firsts = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val sized = firsts.groupBy(col("cohort_wk"))
      .agg(countDistinct(col("user_id")).as("cohort_users"))
    val cells = ev.join(firsts, "user_id")
      .groupBy(col("cohort_wk"),
        (col("wk") - col("cohort_wk")).cast("int").as("age_wk"))
      .agg(countDistinct(col("user_id")).as("active_users"),
           sum(col("v")).as("rev"))
    val wCum = Window.partitionBy(col("cohort_wk")).orderBy(col("age_wk"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cells.join(broadcast(sized), "cohort_wk")
      .withColumn("cum_rev", sum(col("rev")).over(wCum))
      .select(col("cohort_wk"), col("age_wk"), col("cohort_users"),
        col("active_users"), col("rev").cast("double").as("rev"),
        col("cum_rev").cast("double").as("cum_rev"),
        round(col("cum_rev").cast("double") / col("cohort_users"), 4)
          .as("ltv_per_user"))
      .orderBy(col("cohort_wk"), col("age_wk"))
  }

  /** #211 — residual anomaly flags over the seasonal decomposition
    * (round 12; the STL-anomaly pattern every KPI monitor runs on
    * #192's output — a day is anomalous when its residual sits far
    * from the residual distribution's center): med = lower median of
    * residuals, MAD = lower median of |residual − med|, flagged when
    * |residual − med| > 3·MAD. Both medians are EXACT ORDER
    * STATISTICS — rank (n+1) DIV 2 under a (value, day) total order,
    * no interpolation, no percentile estimator — picked from the
    * metadata-scale day table (#192's argument) with
    * constant-partition windows; residuals arrive 4 dp-gridded from
    * the decomposition, so every comparison is over engine-identical
    * doubles and the flag needs no tolerance. The oracle embeds
    * #192's SQL verbatim as a subquery (shared constant), so the two
    * graded surfaces cannot drift. */
  def tsAnomalyResidual(spark: SparkSession, sf: String): DataFrame = {
    val base = tsSeasonalDecompose(spark, sf).select(col("day"), col("residual"))
    val const = pmod(length(col("day").cast("string")), lit(1))
    def lowerMedian(df: DataFrame, v: String, out: String): DataFrame = {
      val wOrd = Window.partitionBy(const).orderBy(col(v), col("day"))
      val wAll = Window.partitionBy(const)
      df.withColumn("rn", row_number().over(wOrd))
        .withColumn("nn", count(lit(1)).over(wAll))
        .where(col("rn") === expr("(nn + 1) DIV 2"))
        .select(col(v).as(out))
    }
    val med = lowerMedian(base, "residual", "med")
    val dev = base.crossJoin(broadcast(med))
      .withColumn("adev", abs(col("residual") - col("med")))
    val mad = lowerMedian(dev.select(col("day"), col("adev")), "adev", "mad")
    dev.crossJoin(broadcast(mad))
      .select(col("day"), col("residual"), col("med"), col("mad"),
        (col("adev") > lit(3.0) * col("mad")).as("is_anomaly"))
      .orderBy(col("day"))
  }

  /** #227 — Theil–Sen robust trend estimator (round 12; Theil 1950 /
    * Sen 1968 — the median-of-pairwise-slopes line, the robust
    * counterpart to #111's least squares: a 29% outlier fraction
    * cannot move it, which is why KPI anomaly tooling fits trends
    * with it): over the exact-DECIMAL day totals, slope = lower
    * median of (yⱼ−yᵢ)/(tⱼ−tᵢ) across all day pairs, intercept =
    * lower median of yᵢ − slope·tᵢ; graded: n_days, n_pairs, slope,
    * intercept, the fitted value at the last day. Exactness: t is
    * exact integer days from the 1-row min-date broadcast, y the
    * exact decimal total cast once to double, every slope the
    * identical double quotient both engines, and both medians are
    * EXACT ORDER STATISTICS (rank (n+1) DIV 2 under (value, tᵢ, tⱼ)
    * total order — the #211 policy, no interpolation); displays use
    * the #223 scaled-integer floor rounding since slopes are
    * quotients of 2dp-exact values and CAN land on round()'s
    * .5·10⁻ᵏ boundary. Shape: the day table is METADATA scale
    * (#192's argument) so the O(days²) pair join (~66k pairs/year),
    * the constant-partition rank windows, and the 1-row median picks
    * are all metadata work; the corpus cost is the single keyed day
    * aggregate. A 100 TB series is still ≤ a few thousand days —
    * pairwise-on-metadata is the honest cost model, not a limit. */
  def tsTheilSen(spark: SparkSession, sf: String): DataFrame = {
    val daily = events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(money(col("value"))).as("dsum"))
    val mn = daily.agg(min(col("day")).as("d0"))
    val pts = daily.crossJoin(broadcast(mn))
      .select(datediff(col("day"), col("d0")).as("t"),
              col("dsum").cast("double").as("y"))
      .localCheckpoint()
    val sl = pts.as("a").join(pts.as("b"), col("a.t") < col("b.t"))
      .select(col("a.t").as("ti"), col("b.t").as("tj"),
        ((col("b.y") - col("a.y")) / (col("b.t") - col("a.t"))).as("slope"))
    val wS = Window.partitionBy(pmod(col("ti"), lit(1)))
      .orderBy(col("slope"), col("ti"), col("tj"))
    val np = sl.agg(count(lit(1)).as("n_pairs"))
    val med = sl.withColumn("rn", row_number().over(wS))
      .crossJoin(broadcast(np))
      .where(col("rn") === expr("(n_pairs + 1) DIV 2"))
      .select(col("slope").as("slope_med"), col("n_pairs"))
    val ic = pts.crossJoin(broadcast(med))
      .select((col("y") - col("slope_med") * col("t")).as("b"), col("t"),
              col("slope_med"), col("n_pairs"))
    val wB = Window.partitionBy(pmod(col("t"), lit(1)))
      .orderBy(col("b"), col("t"))
    val nd = pts.agg(count(lit(1)).as("n_days"), max(col("t")).as("tmax"))
    def fp(c: Column, s: Long): Column = floor(c * s + 0.5) / (s.toDouble)
    ic.withColumn("rn", row_number().over(wB))
      .crossJoin(broadcast(nd))
      .where(col("rn") === expr("(n_days + 1) DIV 2"))
      .select(col("n_days"), col("n_pairs"),
        fp(col("slope_med"), 1000000L).as("slope"),
        fp(col("b"), 1000000L).as("intercept"),
        fp(col("slope_med") * col("tmax") + col("b"), 10000L).as("fit_last"))
  }

  /** #224 — Benford first-digit conformance check (round 12; Benford
    * 1938 / Nigrini's forensic-accounting standard — the DQ/fraud
    * screen every audit pipeline runs over money columns: natural
    * multiplicative amounts put digit d first with probability
    * log₁₀(1+1/d), and fabricated or truncated feeds don't):
    * first significant digit taken EXACTLY — the 2dp money value
    * scaled to an integer (v·100, rounding-free on DECIMAL(18,2))
    * and string-sliced, no log10 boundary arithmetic — then one
    * 9-group aggregate, observed share vs the expected literal
    * expression ln(1+1/d)/ln(10) (identical doubles both engines),
    * and the χ² statistic n·Σ(p−e)²/e 8dp-gridded and DECIMAL-summed
    * (#215's policy) against the χ²(.05, dof=8) literal. Graded: 9
    * digit rows with counts/shares/expected plus the broadcast χ²
    * and verdict on each row. Shape: ONE keyed corpus aggregate to
    * the 9-row digit table; everything after is metadata-scale. */
  def etlBenfordCheck(spark: SparkSession, sf: String): DataFrame = {
    val d = lineitem(spark, sf)
      .select(money(col("l_extendedprice")).as("v"))
      .where(col("v") > 0)
      .select(substring((col("v") * 100).cast("long").cast("string"), 1, 1)
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = d.agg(sum(col("n_obs")).as("n"))
    val wb = d.crossJoin(broadcast(tot))
      .withColumn("share", col("n_obs").cast("double") / col("n"))
      .withColumn("expected",
        log(lit(1.0) + lit(1.0) / col("digit").cast("int")) / log(lit(10.0)))
    val chi = wb.agg(
      sum(grid8((col("share") - col("expected")) *
                (col("share") - col("expected")) / col("expected") *
                col("n"))).cast("double").as("chi2"))
    wb.crossJoin(broadcast(chi))
      .select(col("digit"), col("n_obs"),
        round(col("share"), 6).as("share"),
        round(col("expected"), 6).as("expected"),
        round(col("chi2"), 4).as("chi2"),
        (col("chi2") > lit(15.5073)).as("benford_reject"))
      .orderBy(col("digit"))
  }

  /** #220 — Holt's linear-trend exponential smoothing + forecast
    * (round 12; Holt 1957 / Hyndman & Athanasopoulos FPP — the
    * engine's first true FORECASTING operator: #195's EWMA smooths a
    * level, Holt additionally tracks a trend and extrapolates it,
    * the capacity-planning readout of every KPI dashboard): over the
    * daily revenue series (#192's exact-DECIMAL day totals),
    * l_t = α·x_t + (1−α)(l + b), b_t = β(l_t − l) + (1−β)b with
    * α = 0.5, β = 0.25 (EXACT DYADIC coefficients: every multiply is
    * a power-of-two scale), initialized l₂ = x₂, b₂ = x₂ − x₁; one
    * graded row: n_days, final level/trend, one-step-ahead RMSE, and
    * the h = 1..3 forecasts l + h·b. Exactness: the recursion is
    * inherently sequential, so instead of gridding each step both
    * engines evaluate the IDENTICAL IEEE operation sequence — Spark
    * as an `aggregate` HOF fold over the day-sorted array, DuckDB as
    * a recursive CTE stepping the same expressions — making every
    * intermediate bit-identical (dyadic scales are rounding-free;
    * the additions round identically because IEEE is deterministic);
    * only display values are rounded. Shape: the corpus
    * partial-aggregates to the METADATA-scale day table (the only
    * corpus exchange), which collapses to ONE row carrying the
    * sorted series — the fold runs inside an executor task over
    * ~365 elements/year, the #201 argument: sequential state over
    * metadata-scale series, never over corpus rows. */
  def tsHoltForecast(spark: SparkSession, sf: String): DataFrame = {
    val daily = events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(money(col("value"))).as("dsum"))
    daily
      .agg(sort_array(collect_list(struct(col("day"),
        col("dsum").cast("double").as("x")))).as("s"))
      .select(expr(
        """aggregate(
          |  slice(s, 3, size(s) - 2),
          |  named_struct(
          |    'l', element_at(s, 2).x,
          |    'b', element_at(s, 2).x - element_at(s, 1).x,
          |    'sse', CAST(0.0 AS DOUBLE)),
          |  (acc, e) -> named_struct(
          |    'l', 0.5D * e.x + 0.5D * (acc.l + acc.b),
          |    'b', 0.25D * ((0.5D * e.x + 0.5D * (acc.l + acc.b)) - acc.l)
          |         + 0.75D * acc.b,
          |    'sse', acc.sse + (e.x - (acc.l + acc.b))
          |                   * (e.x - (acc.l + acc.b)))
          |) AS h""".stripMargin), size(col("s")).as("n_days"))
      .select(col("n_days").cast("long").as("n_days"),
        round(col("h.l"), 6).as("level"),
        round(col("h.b"), 6).as("trend"),
        round(sqrt(col("h.sse") / (col("n_days") - 2)), 6).as("rmse"),
        round(col("h.l") + col("h.b"), 4).as("forecast_1"),
        round(col("h.l") + lit(2) * col("h.b"), 4).as("forecast_2"),
        round(col("h.l") + lit(3) * col("h.b"), 4).as("forecast_3"))
  }

  /** #206 — time-bound conversion funnel (round 12; the windowed form
    * of #108's unordered stage funnel — real funnel products bound
    * each hop: "viewed within 7 days of signup, purchased within 7
    * days of that view"): per user, s = first signup, v = first view
    * in [s, s+7d], p = first purchase in [v, v+7d]; the graded table
    * reports per-stage user counts and step/overall conversion rates.
    * Shape: three user-keyed min-aggregates chained by equi-joins on
    * user_id (each hop's candidate set is the user's OWN events — the
    * #18 as-of working set), no windows, no cross joins; at 100 TB
    * each hop is one keyed shuffle and the stage table is 1 row.
    * Determinism: timestamps are exact µs, interval arithmetic
    * (ts + INTERVAL 7 DAY) is exact in both engines, rates are
    * exact-long divisions rounded 4 dp. */
  def eventsFunnelWindowed(spark: SparkSession, sf: String): DataFrame = {
    val ev = events(spark, sf).select(col("user_id"), col("event_type"), col("ts"))
    val s = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
    val v = ev.where(col("event_type") === "view").as("e")
      .join(s.as("s"), col("e.user_id") === col("s.user_id"))
      .where(col("e.ts") >= col("s_ts") &&
             col("e.ts") <= col("s_ts") + expr("INTERVAL 7 DAY"))
      .groupBy(col("e.user_id").as("user_id"), col("s_ts"))
      .agg(min(col("e.ts")).as("v_ts"))
    val p = ev.where(col("event_type") === "purchase").as("e")
      .join(v.as("v"), col("e.user_id") === col("v.user_id"))
      .where(col("e.ts") >= col("v_ts") &&
             col("e.ts") <= col("v_ts") + expr("INTERVAL 7 DAY"))
      .groupBy(col("e.user_id").as("user_id"))
      .agg(min(col("e.ts")).as("p_ts"))
    val counts = s.agg(count(lit(1)).as("n_signup"))
      .crossJoin(v.agg(count(lit(1)).as("n_view_7d")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_7d")))
    counts.select(col("n_signup"), col("n_view_7d"), col("n_purchase_7d"),
      round(col("n_view_7d").cast("double") / col("n_signup"), 4)
        .as("rate_view"),
      round(col("n_purchase_7d").cast("double") / col("n_view_7d"), 4)
        .as("rate_purchase"),
      round(col("n_purchase_7d").cast("double") / col("n_signup"), 4)
        .as("rate_overall"))
  }

  /** #207 — entity resolution by blocking + fuzzy match (round 12;
    * the dedupe/record-linkage pass of every customer-data platform,
    * Fellegi–Sunter shape): the corpus is customers PLUS deterministic
    * "dirty" variants (every 3rd custkey re-enters with one name
    * character dropped at md5-free modular position 11 +
    * custkey mod 7 — 1-based, inside the digit run — under synthetic
    * id custkey + 10⁹); candidate pairs are generated ONLY inside
    * blocks (c_nationkey — the blocking-key equi-self-join; at 100 TB
    * blocks come from nation × name-prefix and candidate cost is
    * Σ block², never n²), matched when levenshtein ≤ 2 (identical
    * classic-DP edit distance in both engines — ints, no tolerance).
    * Graded per nation: records, candidate pairs, matches, TRUE
    * duplicates among matches (pairs whose ids agree mod 10⁹) — i.e.
    * the precision readout of the matcher. */
  def etlEntityResolution(spark: SparkSession, sf: String): DataFrame = {
    val cust = customer(spark, sf)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val dropPos = (lit(11) + pmod(col("c_custkey"), lit(7))).cast("int")
    val variants = cust.where(pmod(col("c_custkey"), lit(3)) === 0)
      .select((col("c_custkey") + lit(1000000000L)).as("c_custkey"),
        concat(col("c_name").substr(lit(1), dropPos - 1),
               col("c_name").substr(dropPos + 1, lit(64)))
          .as("c_name"),
        col("c_nationkey"))
    val recs = cust.unionByName(variants)
    val pairs = recs.as("a").join(recs.as("b"),
        col("a.c_nationkey") === col("b.c_nationkey") &&
        col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_nationkey").as("nation"),
        levenshtein(col("a.c_name"), col("b.c_name")).as("d"),
        (pmod(col("a.c_custkey"), lit(1000000000L)) ===
         pmod(col("b.c_custkey"), lit(1000000000L))).as("same_entity"))
    val perNation = recs.groupBy(col("c_nationkey").as("nation"))
      .agg(count(lit(1)).as("n_records"))
    perNation.join(
        pairs.groupBy(col("nation"))
          .agg(count(lit(1)).as("n_candidates"),
            sum(when(col("d") <= 2, 1L).otherwise(0L)).as("n_matches"),
            sum(when(col("d") <= 2 && col("same_entity"), 1L).otherwise(0L))
              .as("n_true_dupes")),
        Seq("nation"))
      .select(col("nation"), col("n_records"), col("n_candidates"),
        col("n_matches"), col("n_true_dupes"),
        round(col("n_true_dupes").cast("double") / col("n_matches"), 4)
          .as("match_precision"))
      .orderBy(col("nation"))
  }

  /** DuckDB oracle for #182/#185, generated from [[lineitemProfile]]
    * so the SQL covers exactly the columns (and metric kinds) the
    * Spark plan profiles — one UNION ALL branch per column. */
  private def profileOracle(approx: Boolean): String = {
    val parts = lineitemProfile.map { c =>
      val nullExpr =
        s"CAST(sum(CASE WHEN ${c.name} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
      if (approx)
        s"""SELECT '${c.name}' AS col_name, count(*) AS n_rows,
           |  $nullExpr AS n_null, count(DISTINCT ${c.name}) AS n_distinct,
           |  true AS approx_within_5pct
           |FROM lineitem""".stripMargin
      else {
        val (nmin, nmax, nmean, smin, smax) = c.kind match {
          case "num" => (
            s"CAST(min(CAST(${c.name} AS DECIMAL(18,2))) AS DOUBLE)",
            s"CAST(max(CAST(${c.name} AS DECIMAL(18,2))) AS DOUBLE)",
            s"CAST(sum(CAST(${c.name} AS DECIMAL(18,2))) AS DOUBLE) / count(*)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
          case "int" => (
            s"CAST(min(${c.name}) AS DOUBLE)",
            s"CAST(max(${c.name}) AS DOUBLE)",
            s"CAST(sum(CAST(${c.name} AS DECIMAL(18,2))) AS DOUBLE) / count(*)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
          case "ts" => (
            s"CAST(min(epoch_us(CAST(${c.name} AS TIMESTAMP))) AS DOUBLE)",
            s"CAST(max(epoch_us(CAST(${c.name} AS TIMESTAMP))) AS DOUBLE)",
            "CAST(NULL AS DOUBLE)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
          case _ => (
            "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
            "CAST(NULL AS DOUBLE)",
            s"min(${c.name})", s"max(${c.name})")
        }
        s"""SELECT '${c.name}' AS col_name, count(*) AS n_rows,
           |  $nullExpr AS n_null, count(DISTINCT ${c.name}) AS n_distinct,
           |  $nmin AS num_min, $nmax AS num_max, $nmean AS num_mean,
           |  $smin AS str_min, $smax AS str_max
           |FROM lineitem""".stripMargin
      }
    }
    parts.mkString("\nUNION ALL\n") + "\nORDER BY col_name"
  }

  /** #192's oracle, shared verbatim with #211 (which reads its
    * residual column as a subquery) so the two cannot drift. */
  private val seasonalDecomposeSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
      |  FROM events GROUP BY 1),
      |tr AS (
      |  SELECT day, dsum,
      |    round(CAST(sum(dsum) OVER w AS DOUBLE) / count(*) OVER w, 4)
      |      AS trend
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |se AS (
      |  SELECT *, CAST(CAST(day - DATE '1970-01-01' AS BIGINT) % 7 AS INT)
      |      AS dow,
      |    CAST(round(CAST(dsum AS DOUBLE) - trend, 6) AS DECIMAL(18,6)) AS d6
      |  FROM tr),
      |sm AS (
      |  SELECT dow, round(CAST(sum(d6) AS DOUBLE) / count(*), 4) AS seasonal
      |  FROM se GROUP BY dow)
      |SELECT CAST(se.day AS TIMESTAMP) AS day, CAST(dsum AS DOUBLE) AS daily,
      |  trend, se.dow, seasonal,
      |  round(CAST(dsum AS DOUBLE) - trend - seasonal, 4) AS residual
      |FROM se JOIN sm USING (dow) ORDER BY day""".stripMargin

  /** Click touches `c` (`click_id`, `user_id`, `c_us`, `campaign` =
    * the props JSON's `k`), micros since the epoch. */
  private val clicksSql: String =
    """c AS (
      |  SELECT event_id AS click_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS c_us,
      |    CAST(json_extract_string(props, '$.k') AS INT) AS campaign
      |  FROM events WHERE event_type = 'click')""".stripMargin

  /** Purchases `p` (`purchase_id`, `user_id`, `p_us`) and
    * [[clicksSql]]: the twin of [[purchasesAndClicks]]. */
  private val purchasesAndClicksSql: String =
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |""".stripMargin + clicksSql

  /** The day-split user panel: events `ev` with their UTC `day` and
    * `evCols`, the span `sp` (d0, d1), and the per-user CTE `pu` up to
    * its first column — the user's event count in the first half of
    * the span, which the caller names and follows with its own. */
  private def daySplitSql(evCols: String): String =
    s"""WITH ev AS (
      |  SELECT user_id,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    $evCols
      |  FROM events),
      |sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
      |pu AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN date_diff('day', d0, day) * 2 <
      |                       date_diff('day', d0, d1) + 1
      |                  THEN 1 ELSE 0 END) AS BIGINT)""".stripMargin

  /** Row count, price total and updated-row count of snapshot versions
    * 0 and 1, unioned (the time-travel readout). */
  private val versionTotalsSql: String = snapshotOrdersSql + """
      |SELECT 0 AS version, count(*) AS n_rows,
      |  CAST(sum(price) AS DOUBLE) AS total_price,
      |  CAST(sum(CASE WHEN st = 'X' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_updated
      |FROM v0
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(price) AS DOUBLE),
      |  CAST(sum(CASE WHEN st = 'X' THEN 1 ELSE 0 END) AS BIGINT)
      |FROM v1""".stripMargin

  /** The branch `br` of version 1: every 17th order's price + 9. */
  private val branchSql: String = snapshotOrdersSql + """,
      |br AS (
      |  SELECT k, st,
      |    CASE WHEN k % 17 = 0 THEN CAST(price + 9 AS DECIMAL(18,2))
      |         ELSE price END AS price
      |  FROM v1)""".stripMargin

  val oracle: Map[String, String] = ListMap(
    "etl_dq_suggest" ->
      """WITH st AS (
        |  SELECT count(*) AS n,
        |    count(DISTINCT o_orderkey) AS ndv_key,
        |    count(o_orderkey) AS nn_key,
        |    count(o_custkey) AS nn_cust,
        |    count(o_orderstatus) AS nn_status,
        |    count(o_totalprice) AS nn_price,
        |    count(o_orderdate) AS nn_date,
        |    count(o_orderpriority) AS nn_prio,
        |    CAST(min(o_custkey) AS DOUBLE) AS min_cust,
        |    CAST(max(o_custkey) AS DOUBLE) AS max_cust,
        |    CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS min_price,
        |    CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS max_price,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |         CAST(min(o_orderdate) AS DATE)) AS DOUBLE) AS min_day,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |         CAST(max(o_orderdate) AS DATE)) AS DOUBLE) AS max_day,
        |    count(DISTINCT o_orderstatus) AS ndv_status,
        |    count(DISTINCT o_orderpriority) AS ndv_prio,
        |    (SELECT string_agg(v, ',' ORDER BY v) FROM
        |      (SELECT DISTINCT o_orderstatus AS v FROM orders) t)
        |      AS dom_status,
        |    (SELECT string_agg(v, ',' ORDER BY v) FROM
        |      (SELECT DISTINCT o_orderpriority AS v FROM orders) t)
        |      AS dom_prio
        |  FROM orders),
        |rules AS (
        |  SELECT 'o_orderkey' AS col_name, 'unique' AS rule,
        |    CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi,
        |    CAST(NULL AS VARCHAR) AS domain
        |  FROM st WHERE ndv_key = n
        |  UNION ALL SELECT 'o_orderkey', 'not_null', NULL, NULL, NULL
        |    FROM st WHERE nn_key = n
        |  UNION ALL SELECT 'o_custkey', 'not_null', NULL, NULL, NULL
        |    FROM st WHERE nn_cust = n
        |  UNION ALL SELECT 'o_orderstatus', 'not_null', NULL, NULL, NULL
        |    FROM st WHERE nn_status = n
        |  UNION ALL SELECT 'o_totalprice', 'not_null', NULL, NULL, NULL
        |    FROM st WHERE nn_price = n
        |  UNION ALL SELECT 'o_orderdate', 'not_null', NULL, NULL, NULL
        |    FROM st WHERE nn_date = n
        |  UNION ALL SELECT 'o_orderpriority', 'not_null', NULL, NULL, NULL
        |    FROM st WHERE nn_prio = n
        |  UNION ALL SELECT 'o_custkey', 'range', min_cust, max_cust, NULL
        |    FROM st
        |  UNION ALL SELECT 'o_totalprice', 'range', min_price, max_price,
        |    NULL FROM st
        |  UNION ALL SELECT 'o_orderdate', 'range_epoch_day', min_day,
        |    max_day, NULL FROM st
        |  UNION ALL SELECT 'o_orderstatus', 'in_set', NULL, NULL,
        |    dom_status FROM st WHERE ndv_status <= 10
        |  UNION ALL SELECT 'o_orderpriority', 'in_set', NULL, NULL,
        |    dom_prio FROM st WHERE ndv_prio <= 10)
        |SELECT * FROM rules ORDER BY col_name, rule""".stripMargin,
    "ts_seasonal_strength" ->
      s"""WITH base AS ($seasonalDecomposeSql),
         |c0 AS (
         |  SELECT CAST(residual AS DECIMAL(18,4)) AS r,
         |    CAST(CAST(seasonal AS DECIMAL(18,4))
         |      + CAST(residual AS DECIMAL(18,4)) AS DECIMAL(18,4)) AS sr,
         |    CAST(CAST(trend AS DECIMAL(18,4))
         |      + CAST(residual AS DECIMAL(18,4)) AS DECIMAL(18,4)) AS tr
         |  FROM base),
         |c AS (
         |  SELECT
         |    CAST(r - CAST(round(CAST(sum(r) OVER () AS DOUBLE)
         |      / count(*) OVER (), 4) AS DECIMAL(18,4))
         |      AS DECIMAL(18,4)) AS r,
         |    CAST(sr - CAST(round(CAST(sum(sr) OVER () AS DOUBLE)
         |      / count(*) OVER (), 4) AS DECIMAL(18,4))
         |      AS DECIMAL(18,4)) AS sr,
         |    CAST(tr - CAST(round(CAST(sum(tr) OVER () AS DOUBLE)
         |      / count(*) OVER (), 4) AS DECIMAL(18,4))
         |      AS DECIMAL(18,4)) AS tr
         |  FROM c0),
         |f AS (
         |  SELECT count(*) AS n,
         |    sum(CAST(CAST(r AS DECIMAL(19,4)) * r AS DECIMAL(38,8))) AS qr,
         |    sum(r) AS sr1,
         |    sum(CAST(CAST(sr AS DECIMAL(19,4)) * sr AS DECIMAL(38,8)))
         |      AS qsr,
         |    sum(sr) AS ssr,
         |    sum(CAST(CAST(tr AS DECIMAL(19,4)) * tr AS DECIMAL(38,8)))
         |      AS qtr,
         |    sum(tr) AS str
         |  FROM c),
         |d AS (
         |  SELECT CAST(n AS BIGINT) AS n_days, CAST(n AS DOUBLE) AS nd,
         |    (CAST(qr AS DOUBLE) - CAST(sr1 AS DOUBLE) * CAST(sr1 AS DOUBLE)
         |      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS vr,
         |    (CAST(qsr AS DOUBLE) - CAST(ssr AS DOUBLE) * CAST(ssr AS DOUBLE)
         |      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS vsr,
         |    (CAST(qtr AS DOUBLE) - CAST(str AS DOUBLE) * CAST(str AS DOUBLE)
         |      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS vtr
         |  FROM f)
         |SELECT n_days, round(vr, 6) AS var_resid,
         |  round(vsr, 6) AS var_seas_resid,
         |  round(vtr, 6) AS var_trend_resid,
         |  round(greatest(0.0, 1.0 - vr / vsr), 6) AS f_seasonal,
         |  round(greatest(0.0, 1.0 - vr / vtr), 6) AS f_trend
         |FROM d""".stripMargin,
    "events_top_paths" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch_us(CAST(ts AS TIMESTAMP))
        |         - epoch_us(CAST(prev_ts AS TIMESTAMP)) > 1800000000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |c AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM s),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, sess
        |                               ORDER BY ts, event_id) AS rn
        |  FROM c),
        |p AS (
        |  SELECT user_id, sess,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id, sess)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    "etl_anonymize_referential" ->
      """WITH cust AS (
        |  SELECT c_nationkey, c_custkey,
        |    md5('g16:' || CAST(c_custkey AS VARCHAR)) AS p_key
        |  FROM customer),
        |ords AS (
        |  SELECT o_custkey,
        |    md5('g16:' || CAST(o_custkey AS VARCHAR)) AS p_okey
        |  FROM orders),
        |vp AS (
        |  SELECT c_nationkey, count(*) AS n_orders_pseudo,
        |    count(DISTINCT p_key) AS n_pseudonyms
        |  FROM cust JOIN ords ON p_key = p_okey
        |  GROUP BY c_nationkey),
        |pl AS (
        |  SELECT c_nationkey AS nk, count(*) AS n_orders_plain,
        |    count(DISTINCT c_custkey) AS n_customers
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_nationkey)
        |SELECT c_nationkey,
        |  CAST(n_customers AS BIGINT) AS n_customers,
        |  CAST(n_pseudonyms AS BIGINT) AS n_pseudonyms,
        |  CAST(n_orders_plain AS BIGINT) AS n_orders_plain,
        |  CAST(n_orders_pseudo AS BIGINT) AS n_orders_pseudo,
        |  n_orders_plain = n_orders_pseudo
        |    AND n_pseudonyms = n_customers AS integrity_ok
        |FROM vp JOIN pl ON c_nationkey = nk
        |ORDER BY c_nationkey""".stripMargin,
    "ts_granger_f" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |    sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(value AS DECIMAL(18,2))
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS ysum,
        |    sum(CASE WHEN event_type = 'click'
        |        THEN CAST(value AS DECIMAL(18,2))
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS xsum
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT day,
        |    CAST(round(CAST(ysum AS DOUBLE)
        |        - CAST(sum(ysum) OVER () AS DOUBLE) / count(*) OVER (), 6)
        |      AS DECIMAL(18,6)) AS yc,
        |    CAST(round(CAST(xsum AS DOUBLE)
        |        - CAST(sum(xsum) OVER () AS DOUBLE) / count(*) OVER (), 6)
        |      AS DECIMAL(18,6)) AS xc
        |  FROM daily),
        |p AS (
        |  SELECT yc AS y,
        |    lag(yc) OVER (ORDER BY day) AS a,
        |    lag(xc) OVER (ORDER BY day) AS b
        |  FROM c),
        |r AS (SELECT * FROM p WHERE a IS NOT NULL AND b IS NOT NULL),
        |f AS (
        |  SELECT count(*) AS n,
        |    sum(CAST(CAST(a AS DECIMAL(19,6)) * a AS DECIMAL(38,12))) AS saa,
        |    sum(CAST(CAST(b AS DECIMAL(19,6)) * b AS DECIMAL(38,12))) AS sbb,
        |    sum(CAST(CAST(a AS DECIMAL(19,6)) * b AS DECIMAL(38,12))) AS sab,
        |    sum(CAST(CAST(a AS DECIMAL(19,6)) * y AS DECIMAL(38,12))) AS say,
        |    sum(CAST(CAST(b AS DECIMAL(19,6)) * y AS DECIMAL(38,12))) AS sby,
        |    sum(CAST(CAST(y AS DECIMAL(19,6)) * y AS DECIMAL(38,12))) AS syy
        |  FROM r),
        |d AS (
        |  SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
        |    CAST(saa AS DOUBLE) AS saa, CAST(sbb AS DOUBLE) AS sbb,
        |    CAST(sab AS DOUBLE) AS sab, CAST(say AS DOUBLE) AS say,
        |    CAST(sby AS DOUBLE) AS sby, CAST(syy AS DOUBLE) AS syy
        |  FROM f),
        |g AS (
        |  SELECT n, nd,
        |    syy - say * say / saa AS rss_r,
        |    syy - (sbb * say * say - 2.0 * sab * say * sby
        |           + saa * sby * sby) / (saa * sbb - sab * sab) AS rss_f
        |  FROM d)
        |SELECT n AS n_pairs,
        |  round(rss_r, 6) AS rss_restricted,
        |  round(rss_f, 6) AS rss_full,
        |  round((rss_r - rss_f) / (rss_f / (nd - 3.0)), 6) AS f_stat,
        |  (rss_r - rss_f) / (rss_f / (nd - 3.0)) > 3.841459
        |    AS x_helps_predict_y
        |FROM g""".stripMargin,
    "events_stickiness_ratio" ->
      """WITH b AS (
        |  SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |    user_id
        |  FROM events),
        |d AS (
        |  SELECT week, day, count(DISTINCT user_id) AS dau
        |  FROM b GROUP BY 1, 2),
        |dm AS (
        |  SELECT week, count(*) AS n_days, sum(dau) AS sum_dau
        |  FROM d GROUP BY 1),
        |m AS (
        |  SELECT week, count(DISTINCT user_id) AS wau FROM b GROUP BY 1)
        |SELECT dm.week, CAST(dm.n_days AS BIGINT) AS n_days,
        |  CAST(dm.sum_dau AS BIGINT) AS sum_dau, CAST(m.wau AS BIGINT) AS wau,
        |  CAST(CAST(dm.sum_dau AS BIGINT) * 100000000
        |    // (dm.n_days * m.wau) AS DOUBLE) / 100000000 AS stickiness
        |FROM dm JOIN m USING (week) ORDER BY dm.week""".stripMargin,
    "etl_surrogate_key_assign" ->
      """WITH dim AS (
        |  SELECT source, lang, count(*) AS n_docs
        |  FROM documents GROUP BY 1, 2)
        |SELECT CAST(row_number() OVER (ORDER BY source, lang) AS BIGINT) AS sk,
        |  source, lang, n_docs
        |FROM dim ORDER BY sk""".stripMargin,
    "events_time_to_convert" -> (purchasesAndClicksSql + """,
        |t AS (
        |  SELECT p.purchase_id, p.p_us, c.click_id, c.c_us, c.campaign,
        |    row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY c.c_us DESC, c.click_id DESC) AS rn
        |  FROM p JOIN c ON c.user_id = p.user_id
        |  WHERE c.c_us < p.p_us AND c.c_us >= p.p_us - 604800000000),
        |lags AS (
        |  SELECT campaign,
        |    CAST(p_us - c_us AS DOUBLE) / 60000000.0 AS lag_min
        |  FROM t WHERE rn = 1)
        |SELECT campaign, count(*) AS n_conversions,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY lag_min), 4)
        |    AS p50_minutes,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY lag_min), 4)
        |    AS p90_minutes
        |FROM lags GROUP BY campaign ORDER BY campaign""".stripMargin),
    "ts_sma_crossover" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS day,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        |  FROM lineitem GROUP BY 1),
        |w AS (
        |  SELECT day,
        |    sum(rev) OVER (ORDER BY day
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS s5,
        |    sum(rev) OVER (ORDER BY day
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS s20,
        |    row_number() OVER (ORDER BY day) AS rn
        |  FROM daily),
        |sg AS (
        |  SELECT day, rn, CASE WHEN s5 * 4 > s20 THEN 1
        |    WHEN s5 * 4 < s20 THEN -1 ELSE 0 END AS sig
        |  FROM w),
        |lg AS (
        |  SELECT day, rn, sig, lag(sig, 1) OVER (ORDER BY day) AS prev_sig
        |  FROM sg)
        |SELECT CAST(year(day) AS INT) AS yr, count(*) AS n_days,
        |  CAST(sum(CASE WHEN sig = 1 AND prev_sig <= 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_golden,
        |  CAST(sum(CASE WHEN sig = -1 AND prev_sig >= 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_death
        |FROM lg WHERE rn >= 21 GROUP BY 1 ORDER BY yr""".stripMargin,
    "events_sprt_sequential" ->
      """WITH dt AS (
        |  SELECT event_type,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |    count(*) AS n_d,
        |    sum(CASE WHEN CAST(value AS DECIMAL(18,2)) > 100
        |        THEN 1 ELSE 0 END) AS k_d
        |  FROM events GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, day,
        |    sum(n_d) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
        |    sum(k_d) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
        |  FROM dt),
        |l AS (
        |  SELECT event_type, day, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |    CAST(k AS DOUBLE) * 0.40546510810816438
        |      + (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
        |        * (-0.13353139262452263) AS llr
        |  FROM cum),
        |cr AS (
        |  SELECT event_type, day, n, k, llr,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM l
        |  WHERE llr >= 2.9444389791664403 OR llr <= -2.9444389791664403),
        |fst AS (SELECT * FROM cr WHERE rn = 1),
        |fin AS (
        |  SELECT event_type, day, n, k, llr,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day DESC) AS rn
        |  FROM l)
        |SELECT f.event_type,
        |  CASE WHEN c.event_type IS NULL THEN 'continue'
        |       WHEN c.llr >= 2.9444389791664403 THEN 'accept_h1'
        |       ELSE 'accept_h0' END AS decision,
        |  CAST(coalesce(c.day, f.day) AS TIMESTAMP) AS decision_day,
        |  coalesce(c.n, f.n) AS n_trials,
        |  coalesce(c.k, f.k) AS n_success,
        |  round(coalesce(c.llr, f.llr), 8) AS llr
        |FROM fin f LEFT JOIN fst c ON c.event_type = f.event_type
        |WHERE f.rn = 1
        |ORDER BY f.event_type""".stripMargin,
    "etl_normalize_units" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(CASE WHEN event_type = 'purchase'
        |    THEN CAST(value AS DECIMAL(18,2)) * CAST(29.3001 AS DECIMAL(6,4))
        |    ELSE CAST(value AS DECIMAL(18,2)) END AS DECIMAL(28,6))) AS DOUBLE)
        |    AS total_kwh
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "etl_interval_validate" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, gap_ms,
        |  CASE WHEN gap_ms = 0 THEN 'dup' ELSE 'gap' END AS flag
        |FROM (
        |  SELECT event_id, user_id, ts,
        |    epoch_ms(CAST(ts AS TIMESTAMP))
        |      - lag(epoch_ms(CAST(ts AS TIMESTAMP)), 1)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
        |  FROM events)
        |WHERE gap_ms > 7200000 OR gap_ms = 0
        |ORDER BY event_id""".stripMargin,
    "etl_gap_fill" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
        |    TIMESTAMP '2024-01-30', INTERVAL 1 HOUR)) AS hour_start),
        |h AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS tv
        |  FROM events GROUP BY 1)
        |SELECT s.hour_start, coalesce(h.n, 0) AS n_events,
        |  coalesce(h.tv, 0.0) AS total_value
        |FROM spine s LEFT JOIN h ON s.hour_start = h.hour_start
        |ORDER BY s.hour_start""".stripMargin,
    "etl_upsert_lastwins" ->
      """WITH snap AS (
        |  SELECT event_id, 1 AS version, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |delta AS (
        |  SELECT event_id, 2 AS version, CAST(value AS DECIMAL(18,2)) + 100 AS v
        |  FROM events
        |  WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 50),
        |u AS (SELECT * FROM snap UNION ALL SELECT * FROM delta),
        |r AS (
        |  SELECT event_id, version, v,
        |    row_number() OVER (PARTITION BY event_id ORDER BY version DESC) AS rn
        |  FROM u)
        |SELECT event_id, version, CAST(v AS DOUBLE) AS value FROM r
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "etl_chunk_batches" ->
      """SELECT batch_id, count(*) AS n_rows, min(event_id) AS min_id,
        |  max(event_id) AS max_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT event_id, value,
        |    CAST(floor((row_number() OVER (ORDER BY event_id) - 1) / 1000) AS INT)
        |      AS batch_id
        |  FROM events)
        |GROUP BY batch_id ORDER BY batch_id""".stripMargin,
    "etl_incremental_filter" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |FROM events
        |WHERE ts > (SELECT max(ts) FROM events
        |            WHERE ts < TIMESTAMP '2024-01-29')
        |ORDER BY event_id""".stripMargin,
    "etl_split_hash" ->
      """SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM (
        |  SELECT CASE
        |      WHEN substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 4) < 'cccd'
        |        THEN 'train'
        |      WHEN substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 4) < 'e666'
        |        THEN 'val'
        |      ELSE 'test' END AS split,
        |    lang, n_chars
        |  FROM documents)
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "etl_scd2_intervals" ->
      """WITH m AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |c AS (
        |  SELECT user_id, event_id, ts, event_type FROM m
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_id AS change_event_id, event_type,
        |  ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    AS is_current
        |FROM c ORDER BY change_event_id""".stripMargin,
    "events_funnel_stages" ->
      """WITH v AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t1
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t2
        |  GROUP BY e.user_id)
        |SELECT '1_view' AS stage, count(*) AS n_users FROM v
        |UNION ALL SELECT '2_click_after_view', count(*) FROM c
        |UNION ALL SELECT '3_purchase_after_click', count(*) FROM p
        |ORDER BY stage""".stripMargin,
    "etl_merge_intervals" ->
      """WITH iv AS (
        |  SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + 2700000000 AS e_us
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN max(e_us) OVER (PARTITION BY user_id
        |      ORDER BY s_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR s_us > max(e_us) OVER (PARTITION BY user_id
        |      ORDER BY s_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS new_span
        |  FROM iv),
        |g AS (
        |  SELECT *, sum(new_span) OVER (PARTITION BY user_id
        |      ORDER BY s_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        |  FROM f)
        |SELECT user_id, CAST(span_id AS BIGINT) AS span_id,
        |  make_timestamp(min(s_us)) AS span_start,
        |  make_timestamp(max(e_us)) AS span_end,
        |  count(*) AS n_intervals
        |FROM g GROUP BY user_id, span_id
        |ORDER BY user_id, span_id""".stripMargin,
    "etl_outlier_zscore" ->
      """WITH s AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))
        |             * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM events GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n, s1 / n AS mean,
        |    sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sd
        |  FROM s)
        |SELECT e.event_id, e.event_type, e.value,
        |  round((e.value - m.mean) / m.sd, 4) AS z
        |FROM events e JOIN m USING (event_type)
        |WHERE m.n > 1 AND m.sd > 0 AND abs((e.value - m.mean) / m.sd) > 3
        |ORDER BY e.event_type, e.event_id""".stripMargin,
    "etl_dq_rules" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    count(*) FILTER (WHERE NOT coalesce(l_discount <= 0.08, false))
        |      AS v_discount,
        |    count(*) FILTER (WHERE NOT coalesce(l_extendedprice > 0, false))
        |      AS v_price,
        |    count(*) FILTER (WHERE NOT coalesce(l_quantity <= 45, false))
        |      AS v_qty,
        |    count(*) FILTER (WHERE NOT coalesce(l_returnflag IN ('A','N','R'),
        |                                        false)) AS v_flag,
        |    count(*) FILTER (WHERE NOT coalesce(l_tax <= 0.06, false)) AS v_tax
        |  FROM lineitem),
        |long AS (
        |  SELECT 'discount_le_8pct' AS rule, n, v_discount AS v FROM a
        |  UNION ALL SELECT 'positive_price', n, v_price FROM a
        |  UNION ALL SELECT 'qty_le_45', n, v_qty FROM a
        |  UNION ALL SELECT 'returnflag_domain', n, v_flag FROM a
        |  UNION ALL SELECT 'tax_le_6pct', n, v_tax FROM a)
        |SELECT rule, n AS n_checked, v AS n_violations,
        |  round(CAST(v AS DOUBLE) / n, 4) AS violation_rate
        |FROM long ORDER BY rule""".stripMargin,
    "etl_compact_small_files" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "events_attribution_lasttouch" -> (purchasesAndClicksSql + """,
        |cand AS (
        |  SELECT p.purchase_id, c.click_id, c.campaign, c.c_us,
        |    row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY c.c_us DESC, c.click_id DESC) AS rn
        |  FROM p JOIN c ON c.user_id = p.user_id AND c.c_us < p.p_us)
        |SELECT p.purchase_id, p.user_id, cand.click_id, cand.campaign,
        |  p.p_us - cand.c_us AS gap_us
        |FROM p LEFT JOIN cand ON cand.purchase_id = p.purchase_id AND cand.rn = 1
        |ORDER BY p.purchase_id""".stripMargin),
    "events_attribution_position" ->
      ("""WITH p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS p_us,
        |    CAST(value AS DECIMAL(18,2)) AS pv
        |  FROM events WHERE event_type = 'purchase'),
        |""".stripMargin + clicksSql + """,
        |t AS (
        |  SELECT p.purchase_id, p.pv, c.click_id, c.campaign, c.c_us
        |  FROM p JOIN c ON c.user_id = p.user_id
        |  WHERE c.c_us < p.p_us AND c.c_us >= p.p_us - 604800000000),
        |s AS (
        |  SELECT purchase_id, pv, click_id, campaign,
        |    count(*) OVER wp AS k,
        |    first_value(click_id) OVER (PARTITION BY purchase_id
        |      ORDER BY c_us, click_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS first_id,
        |    last_value(click_id) OVER (PARTITION BY purchase_id
        |      ORDER BY c_us, click_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS last_id
        |  FROM t WINDOW wp AS (PARTITION BY purchase_id)),
        |cr AS (
        |  SELECT campaign, purchase_id, pv,
        |    CAST(CASE WHEN k = 1 THEN 100000000
        |         WHEN k = 2 THEN 50000000
        |         WHEN click_id = first_id THEN 40000000
        |         WHEN click_id = last_id THEN 40000000
        |         ELSE 20000000 // (k - 2) END AS DECIMAL(9,0)) AS credit8
        |  FROM s)
        |SELECT campaign, count(DISTINCT purchase_id) AS n_conversions,
        |  count(*) AS n_touches,
        |  CAST(sum(credit8) AS DOUBLE) / 100000000.0 AS total_credit,
        |  CAST(sum(CAST(pv * credit8 AS DECIMAL(38,2))) AS DOUBLE)
        |    / 100000000.0 AS credited_revenue
        |FROM cr GROUP BY campaign ORDER BY campaign""".stripMargin),
    "ts_cross_correlation" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT day,
        |    CAST(round(CAST(dsum AS DOUBLE)
        |        - CAST(sum(dsum) OVER () AS DOUBLE) / count(*) OVER (), 6)
        |      AS DECIMAL(18,6)) AS cx,
        |    CAST(round(CAST(cnt AS DOUBLE)
        |        - CAST(sum(cnt) OVER () AS DOUBLE) / count(*) OVER (), 6)
        |      AS DECIMAL(18,6)) AS cy,
        |    row_number() OVER (ORDER BY day) AS rn
        |  FROM daily),
        |den AS (
        |  SELECT CAST(sum(CAST(cx AS DECIMAL(19,6))
        |                  * CAST(cx AS DECIMAL(19,6))) AS DOUBLE) AS denx,
        |         CAST(sum(CAST(cy AS DECIMAL(19,6))
        |                  * CAST(cy AS DECIMAL(19,6))) AS DOUBLE) AS deny,
        |         count(*) AS n_days
        |  FROM c),
        |p AS (
        |  SELECT l.lag, a.cx, b.cy AS cy_s
        |  FROM c a
        |  CROSS JOIN (SELECT unnest([-3,-2,-1,0,1,2,3]) AS lag) l
        |  LEFT JOIN c b ON b.rn = a.rn + l.lag)
        |SELECT p.lag, den.n_days, count(p.cy_s) AS n_pairs,
        |  round(CAST(sum(CAST(p.cx AS DECIMAL(19,6))
        |              * CAST(p.cy_s AS DECIMAL(19,6))) AS DOUBLE)
        |        / sqrt(den.denx * den.deny), 4) AS ccf
        |FROM p CROSS JOIN den
        |GROUP BY p.lag, den.n_days, den.denx, den.deny
        |ORDER BY p.lag""".stripMargin,
    "events_fdr_bh" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
        |              % 2 = 0
        |         THEN 'A' ELSE 'B' END AS grp,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |s AS (
        |  SELECT event_type, grp, count(*) AS n, sum(v) AS sv,
        |    sum(v * v) AS svv
        |  FROM e GROUP BY 1, 2),
        |piv AS (
        |  SELECT event_type,
        |    max(CASE WHEN grp='A' THEN n END) AS n_a,
        |    max(CASE WHEN grp='B' THEN n END) AS n_b,
        |    max(CASE WHEN grp='A' THEN CAST(sv AS DOUBLE) END) AS sv_a,
        |    max(CASE WHEN grp='B' THEN CAST(sv AS DOUBLE) END) AS sv_b,
        |    max(CASE WHEN grp='A' THEN CAST(svv AS DOUBLE) END) AS svv_a,
        |    max(CASE WHEN grp='B' THEN CAST(svv AS DOUBLE) END) AS svv_b
        |  FROM s GROUP BY 1),
        |zt AS (
        |  SELECT event_type, n_a, n_b,
        |    (sv_a / n_a - sv_b / n_b)
        |      / sqrt(((svv_a - sv_a * sv_a / n_a) / (n_a - 1)) / n_a
        |           + ((svv_b - sv_b * sv_b / n_b) / (n_b - 1)) / n_b) AS z
        |  FROM piv WHERE n_a IS NOT NULL AND n_b IS NOT NULL),
        |xt AS (
        |  SELECT event_type, n_a, n_b, z,
        |    abs(z) / 1.4142135623730951 AS x,
        |    1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)) AS t
        |  FROM zt),
        |pc AS (
        |  SELECT event_type, n_a, n_b,
        |    floor(z * 1000000 + 0.5) / 1000000.0 AS z_welch,
        |    CAST(floor((((((1.061405429 * t - 1.453152027) * t
        |      + 1.421413741) * t - 0.284496736) * t + 0.254829592) * t
        |      * exp(-(x * x))) * 1e10) AS BIGINT) AS p10
        |  FROM xt),
        |r AS (
        |  SELECT *, count(*) OVER () AS m_tests,
        |    row_number() OVER (ORDER BY p10, event_type) AS p_rank
        |  FROM pc),
        |k AS (
        |  SELECT *, max(CASE WHEN p10 * m_tests <= p_rank * 500000000
        |                                           + m_tests
        |                     THEN p_rank END) OVER () AS kstar
        |  FROM r)
        |SELECT event_type, n_a, n_b, z_welch,
        |  CAST(p10 AS DOUBLE) / 1e10 AS p_value,
        |  p_rank, m_tests,
        |  p_rank <= coalesce(kstar, 0) AS rejected
        |FROM k ORDER BY p_rank""".stripMargin,
    "events_bayes_ab" ->
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)),
        |      1, 1)) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)),
        |      1, 1)) % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
        |    CAST(sum(CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)),
        |      1, 1)) % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)),
        |      1, 1)) % 2 = 0 THEN 0 ELSE conv END) AS BIGINT) AS c_b
        |  FROM u),
        |d AS (
        |  SELECT n_a, c_a, n_b, c_b,
        |    CAST(c_a AS DOUBLE) + 1.0 AS aa,
        |    CAST(n_a AS DOUBLE) - CAST(c_a AS DOUBLE) + 1.0 AS ba,
        |    CAST(c_b AS DOUBLE) + 1.0 AS ab,
        |    CAST(n_b AS DOUBLE) - CAST(c_b AS DOUBLE) + 1.0 AS bb
        |  FROM a),
        |m AS (
        |  SELECT *,
        |    aa / (CAST(n_a AS DOUBLE) + 2.0) AS mean_a,
        |    ab / (CAST(n_b AS DOUBLE) + 2.0) AS mean_b,
        |    aa * ba / ((aa + ba) * (aa + ba) * (aa + ba + 1.0)) AS var_a,
        |    ab * bb / ((ab + bb) * (ab + bb) * (ab + bb + 1.0)) AS var_b
        |  FROM d),
        |sd AS (
        |  SELECT *, (mean_b - mean_a) / sqrt(var_a + var_b) AS dd FROM m),
        |xd AS (
        |  SELECT *, abs(dd) / 1.4142135623730951 AS xx,
        |    1.0 / (1.0 + 0.3275911 * (abs(dd) / 1.4142135623730951)) AS t
        |  FROM sd),
        |pd AS (
        |  SELECT *, (((((1.061405429 * t - 1.453152027) * t
        |    + 1.421413741) * t - 0.284496736) * t + 0.254829592) * t
        |    * exp(-(xx * xx))) / 2.0 AS half
        |  FROM xd)
        |SELECT n_a, c_a, n_b, c_b,
        |  floor(mean_a * 1000000 + 0.5) / 1000000.0 AS post_mean_a,
        |  floor(mean_b * 1000000 + 0.5) / 1000000.0 AS post_mean_b,
        |  floor((mean_b - mean_a) * 1000000 + 0.5) / 1000000.0 AS lift,
        |  floor((CASE WHEN dd >= 0 THEN 1.0 - half ELSE half END)
        |    * 1000000 + 0.5) / 1000000.0 AS prob_b_gt_a
        |FROM pd""".stripMargin,
    "ts_rolling_corr" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |      AS day,
        |    sum(CAST(value AS DECIMAL(18,2))) AS x, count(*) AS y
        |  FROM events GROUP BY 1),
        |s AS (
        |  SELECT day,
        |    row_number() OVER wo AS rn,
        |    count(*) OVER w30 AS n,
        |    sum(x) OVER w30 AS sx,
        |    sum(y) OVER w30 AS sy,
        |    sum(CAST(CAST(x AS DECIMAL(19,2)) * x AS DECIMAL(38,4))) OVER w30 AS sxx,
        |    sum(CAST(y AS DECIMAL(38,0)) * y) OVER w30 AS syy,
        |    sum(CAST(CAST(x AS DECIMAL(19,2)) * y AS DECIMAL(38,2))) OVER w30 AS sxy
        |  FROM daily
        |  WINDOW wo AS (ORDER BY day),
        |    w30 AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT day, CAST(n AS BIGINT) AS n_win,
        |  floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    * 10000 + 0.5) / 10000.0 AS corr14
        |FROM s WHERE rn >= 14 ORDER BY day""".stripMargin,
    "events_uplift_deciles" -> (daySplitSql("event_type") + """ AS score,
        |    CAST(max(CASE WHEN NOT (date_diff('day', d0, day) * 2 <
        |                            date_diff('day', d0, d1) + 1)
        |                   AND event_type = 'purchase'
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS conv
        |  FROM ev CROSS JOIN sp GROUP BY user_id),
        |dq AS (
        |  SELECT user_id, conv,
        |    ntile(10) OVER (ORDER BY score, user_id) AS decile
        |  FROM pu),
        |g AS (
        |  SELECT decile,
        |    CAST(sum(CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)),
        |      1, 1)) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)),
        |      1, 1)) % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)),
        |      1, 1)) % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)),
        |      1, 1)) % 2 = 0 THEN 0 ELSE conv END) AS BIGINT) AS conv_b
        |  FROM dq GROUP BY decile)
        |SELECT decile, n_a, n_b, conv_a, conv_b,
        |  floor(CASE WHEN n_a > 0 THEN CAST(conv_a AS DOUBLE) / n_a END
        |    * 1000000 + 0.5) / 1000000.0 AS rate_a,
        |  floor(CASE WHEN n_b > 0 THEN CAST(conv_b AS DOUBLE) / n_b END
        |    * 1000000 + 0.5) / 1000000.0 AS rate_b,
        |  floor((CASE WHEN n_b > 0 THEN CAST(conv_b AS DOUBLE) / n_b END
        |       - CASE WHEN n_a > 0 THEN CAST(conv_a AS DOUBLE) / n_a END)
        |    * 1000000 + 0.5) / 1000000.0 AS uplift
        |FROM g ORDER BY decile""".stripMargin),
    "events_cem_att" -> (daySplitSql("event_type, CAST(value AS DECIMAL(18,2)) AS v") + """ AS pre_events,
        |    sum(CASE WHEN NOT (date_diff('day', d0, day) * 2 <
        |                       date_diff('day', d0, d1) + 1)
        |              AND event_type = 'purchase'
        |             THEN v ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
        |  FROM ev CROSS JOIN sp GROUP BY user_id),
        |st AS (
        |  SELECT least(pre_events // 5, 10) AS stratum,
        |    CAST(sum(CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)),
        |      1, 1)) % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(sum(CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)),
        |      1, 1)) % 2 <> 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_c,
        |    sum(CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)),
        |      1, 1)) % 2 <> 0 THEN y END) AS s_t,
        |    sum(CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)),
        |      1, 1)) % 2 <> 0 THEN NULL ELSE y END) AS s_c
        |  FROM pu GROUP BY 1
        |  HAVING n_t > 0 AND n_c > 0),
        |tm AS (
        |  SELECT *,
        |    CAST(round(n_t * (CAST(s_t AS DOUBLE) / n_t
        |                    - CAST(s_c AS DOUBLE) / n_c), 8)
        |      AS DECIMAL(28,8)) AS term8
        |  FROM st),
        |f AS (
        |  SELECT CAST(sum(term8) AS DOUBLE) / CAST(sum(n_t) AS BIGINT)
        |      AS att_raw,
        |    CAST(sum(n_t) AS BIGINT) AS n_treated_matched
        |  FROM tm)
        |SELECT stratum, n_t, n_c,
        |  floor(CAST(s_t AS DOUBLE) / n_t * 1000000 + 0.5) / 1000000.0
        |    AS mean_t,
        |  floor(CAST(s_c AS DOUBLE) / n_c * 1000000 + 0.5) / 1000000.0
        |    AS mean_c,
        |  floor((CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c)
        |    * 1000000 + 0.5) / 1000000.0 AS diff,
        |  n_treated_matched,
        |  floor(att_raw * 1000000 + 0.5) / 1000000.0 AS att
        |FROM tm CROSS JOIN f ORDER BY stratum""".stripMargin),
    "etl_psi_drift" ->
      """WITH o AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      // 2500000 AS bin
        |  FROM orders),
        |sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM o),
        |b AS (
        |  SELECT bin,
        |    CAST(sum(CASE WHEN date_diff('day', d0, day) * 2 <
        |                       date_diff('day', d0, d1) + 1
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
        |    CAST(sum(CASE WHEN date_diff('day', d0, day) * 2 <
        |                       date_diff('day', d0, d1) + 1
        |                  THEN 0 ELSE 1 END) AS BIGINT) AS n_post
        |  FROM o CROSS JOIN sp GROUP BY bin),
        |t AS (
        |  SELECT CAST(sum(n_pre) AS BIGINT) AS t_pre,
        |    CAST(sum(n_post) AS BIGINT) AS t_post,
        |    CAST(count(*) AS BIGINT) AS n_bins
        |  FROM b),
        |c AS (
        |  SELECT b.bin, b.n_pre, b.n_post,
        |    (CAST(n_pre AS DOUBLE) + 1.0)
        |      / (CAST(t_pre AS DOUBLE) + CAST(n_bins AS DOUBLE)) AS p,
        |    (CAST(n_post AS DOUBLE) + 1.0)
        |      / (CAST(t_post AS DOUBLE) + CAST(n_bins AS DOUBLE)) AS q
        |  FROM b CROSS JOIN t),
        |g AS (
        |  SELECT *, CAST(round((p - q) * ln(p / q), 8) AS DECIMAL(18,8))
        |    AS term8
        |  FROM c),
        |s AS (SELECT CAST(sum(term8) AS DOUBLE) AS psi FROM g)
        |SELECT bin, n_pre, n_post,
        |  floor(p * 1000000 + 0.5) / 1000000.0 AS share_pre,
        |  floor(q * 1000000 + 0.5) / 1000000.0 AS share_post,
        |  CAST(term8 AS DOUBLE) AS psi_term,
        |  psi, psi > 0.2 AS drifted
        |FROM g CROSS JOIN s ORDER BY bin""".stripMargin,
    "events_retention_cohort" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
        |  FROM events),
        |fd AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, day FROM ev),
        |cs AS (SELECT cohort_day, count(*) AS n_cohort FROM fd GROUP BY cohort_day)
        |SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
        |  CAST(a.day - f.cohort_day AS BIGINT) AS day_offset,
        |  count(*) AS n_active, cs.n_cohort,
        |  round(CAST(count(*) AS DOUBLE) / cs.n_cohort, 4) AS retention
        |FROM act a JOIN fd f USING (user_id) JOIN cs ON cs.cohort_day = f.cohort_day
        |GROUP BY f.cohort_day, a.day - f.cohort_day, cs.n_cohort
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "events_rolling_active" ->
      """WITH act AS (
        |  SELECT DISTINCT
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |    user_id
        |  FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM act GROUP BY day),
        |fan AS (SELECT day + CAST(i AS INT) AS day, user_id
        |        FROM act, LATERAL (SELECT unnest(range(0, 7)) AS i)),
        |wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM fan GROUP BY day)
        |SELECT CAST(d.day AS TIMESTAMP) AS day, d.dau, w.wau,
        |  round(CAST(d.dau AS DOUBLE) / w.wau, 4) AS stickiness
        |FROM dau d JOIN wau w USING (day) ORDER BY day""".stripMargin,
    "events_markov_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS to_type
        |  FROM events),
        |tr AS (SELECT from_type, to_type, count(*) AS n_transitions
        |       FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |tot AS (SELECT from_type, sum(n_transitions) AS n_from
        |        FROM tr GROUP BY from_type)
        |SELECT t.from_type, t.to_type, t.n_transitions,
        |  round(CAST(t.n_transitions AS DOUBLE) / tot.n_from, 4) AS p
        |FROM tr t JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "join_scd2_pointintime" ->
      """WITH s AS (
        |  SELECT user_id, event_id AS signup_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS BIGINT) AS tier,
        |    lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS next_us
        |  FROM events WHERE event_type = 'signup'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS p_us, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, s.tier, s.signup_id,
        |  round(p.value, 2) AS value
        |FROM p LEFT JOIN s ON s.user_id = p.user_id
        |  AND p.p_us >= s.s_us AND (s.next_us IS NULL OR p.p_us < s.next_us)
        |ORDER BY p.purchase_id""".stripMargin,
    "etl_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |           FROM orders),
        |v1 AS (SELECT o_orderkey AS k1, price AS price1 FROM o
        |       WHERE o_orderkey % 97 <> 3),
        |v2 AS (SELECT o_orderkey AS k2,
        |         CASE WHEN o_orderkey % 89 = 0
        |              THEN CAST(price + 1 AS DECIMAL(18,2)) ELSE price END AS price2
        |       FROM o WHERE o_orderkey % 97 <> 0)
        |SELECT CASE WHEN k1 IS NULL THEN 'added'
        |            WHEN k2 IS NULL THEN 'removed'
        |            WHEN price1 <> price2 THEN 'changed'
        |            ELSE 'unchanged' END AS class,
        |  count(*) AS n_rows,
        |  CAST(sum(coalesce(k1, k2)) AS BIGINT) AS key_sum
        |FROM v1 FULL OUTER JOIN v2 ON k1 = k2
        |GROUP BY 1 ORDER BY class""".stripMargin,
    "etl_cdc_apply" ->
      """WITH r AS (
        |  SELECT user_id, event_id, event_type, value,
        |    count(*) OVER (PARTITION BY user_id) AS n_ops,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, CAST(n_ops AS BIGINT) AS n_ops,
        |  event_id AS last_event_id, round(value, 2) AS last_value
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "ts_downsample_ohlc" ->
      """WITH e AS (
        |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY us, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY us DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, day, count(*) AS n_events,
        |  round(max(CASE WHEN rn_a = 1 THEN value END), 2) AS open_value,
        |  round(max(value), 2) AS high_value,
        |  round(min(value), 2) AS low_value,
        |  round(max(CASE WHEN rn_d = 1 THEN value END), 2) AS close_value
        |FROM r GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin,
    "etl_forward_fill" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(last_value(CASE WHEN event_type <> 'error'
        |      THEN CAST(value AS DECIMAL(18,2)) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id
        |          ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS filled_value
        |FROM events ORDER BY event_id""".stripMargin,
    "ts_interpolate_linear" ->
      """WITH spine AS (
        |  SELECT u.user_id, h.h
        |  FROM (SELECT DISTINCT user_id FROM events) u
        |  CROSS JOIN (SELECT unnest(generate_series(
        |    TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-07 23:00:00',
        |    INTERVAL 1 HOUR)) AS h) h),
        |obs AS (
        |  SELECT user_id,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |    max(value) AS v
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01'
        |    AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-08'
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT s.user_id, s.h, o.v FROM spine s
        |  LEFT JOIN obs o ON o.user_id = s.user_id AND o.h = s.h),
        |w AS (
        |  SELECT user_id, h, v,
        |    last_value(v IGNORE NULLS) OVER wb AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
        |      OVER wb AS ph,
        |    first_value(v IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
        |      OVER wf AS nh
        |  FROM j
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY user_id ORDER BY h
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, h,
        |  floor(CASE
        |    WHEN v IS NOT NULL THEN v
        |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |      pv + (nv - pv)
        |        * (epoch(h) - epoch(ph)) / (epoch(nh) - epoch(ph))
        |    END * 10000 + 0.5) / 10000.0 AS v_interp,
        |  v IS NOT NULL AS observed
        |FROM w ORDER BY user_id, h""".stripMargin,
    "events_ab_ttest" ->
      """WITH s AS (
        |  SELECT event_type,
        |    CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2 = 0
        |         THEN 'A' ELSE 'B' END AS grp,
        |    count(*) AS n,
        |    sum(CAST(value AS DECIMAL(18,2))) AS sv,
        |    sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS svv
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, n AS n_a, CAST(sv AS DOUBLE) AS sv_a,
        |             CAST(svv AS DOUBLE) AS svv_a FROM s WHERE grp = 'A'),
        |b AS (SELECT event_type, n AS n_b, CAST(sv AS DOUBLE) AS sv_b,
        |             CAST(svv AS DOUBLE) AS svv_b FROM s WHERE grp = 'B'),
        |m AS (
        |  SELECT a.event_type, n_a, n_b,
        |    sv_a / n_a - sv_b / n_b AS md,
        |    (sv_a / n_a - sv_b / n_b)
        |      / sqrt(((svv_a - sv_a * sv_a / n_a) / (n_a - 1)) / n_a
        |           + ((svv_b - sv_b * sv_b / n_b) / (n_b - 1)) / n_b) AS t
        |  FROM a JOIN b ON a.event_type = b.event_type)
        |SELECT event_type, n_a, n_b,
        |  floor(md * 10000 + 0.5) / 10000.0 AS mean_diff,
        |  floor(t * 10000 + 0.5) / 10000.0 AS t_stat,
        |  floor(abs(t) * 10000 + 0.5) > 19600 AS significant
        |FROM m ORDER BY event_type""".stripMargin,
    "etl_profile_columns" -> profileOracle(approx = false),
    "etl_profile_approx"  -> profileOracle(approx = true),
    "events_cuped_adjust" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2 = 0
        |         THEN 'A' ELSE 'B' END AS grp,
        |    CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |      THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2)) AS x,
        |    CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |      THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2)) AS y
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x AS DECIMAL(19,2)) * y) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x AS DECIMAL(19,2)) * x) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y AS DECIMAL(19,2)) * y) AS DOUBLE) AS syy
        |  FROM per),
        |a AS (
        |  SELECT grp, count(*) AS n_users,
        |    CAST(sum(x) AS DOUBLE) AS sxa, CAST(sum(y) AS DOUBLE) AS sya
        |  FROM per GROUP BY grp)
        |SELECT grp AS arm, n_users,
        |  floor(sya / n_users * 10000 + 0.5) / 10000.0 AS mean_y,
        |  floor((sya / n_users
        |    - ((g.n * g.sxy - g.sx * g.sy) / (g.n * g.sxx - g.sx * g.sx))
        |      * (sxa / n_users - g.sx / g.n)) * 10000 + 0.5) / 10000.0
        |    AS mean_y_adj,
        |  floor(((g.n * g.sxy - g.sx * g.sy) / (g.n * g.sxx - g.sx * g.sx))
        |    * 10000 + 0.5) / 10000.0 AS theta,
        |  floor(((g.n * g.sxy - g.sx * g.sy) * (g.n * g.sxy - g.sx * g.sy)
        |    / ((g.n * g.sxx - g.sx * g.sx) * (g.n * g.syy - g.sy * g.sy)))
        |    * 10000 + 0.5) / 10000.0 AS var_reduction
        |FROM a, g ORDER BY arm""".stripMargin,
    "events_sequence_regex" ->
      """WITH seq AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), ''
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS s
        |  FROM events GROUP BY user_id)
        |SELECT user_id, CAST(len(s) AS BIGINT) AS seq_len,
        |  CAST(len(regexp_extract_all(s, 'v[ce]*p')) AS BIGINT)
        |    AS n_conversions,
        |  CAST(len(regexp_extract_all(s, 'se*v')) AS BIGINT)
        |    AS n_activations
        |FROM seq ORDER BY user_id""".stripMargin,
    "ts_seasonal_decompose" -> seasonalDecomposeSql,
    "events_diff_in_diff" ->
      """WITH e AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |      AS day,
        |    CAST(value AS DECIMAL(18,2)) AS v,
        |    CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
        |              % 2 = 0
        |         THEN 'A' ELSE 'B' END AS grp
        |  FROM events),
        |sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
        |c AS (
        |  SELECT grp,
        |    CASE WHEN date_diff('day', d0, day) * 2 <
        |              date_diff('day', d0, d1) + 1
        |         THEN 'pre' ELSE 'post' END AS period,
        |    count(*) AS n, sum(v) AS sv, sum(v * v) AS svv
        |  FROM e CROSS JOIN sp GROUP BY 1, 2),
        |piv AS (
        |  SELECT
        |    max(CASE WHEN grp='A' AND period='pre'  THEN n END) AS n_a_pre,
        |    max(CASE WHEN grp='A' AND period='post' THEN n END) AS n_a_post,
        |    max(CASE WHEN grp='B' AND period='pre'  THEN n END) AS n_b_pre,
        |    max(CASE WHEN grp='B' AND period='post' THEN n END) AS n_b_post,
        |    max(CASE WHEN grp='A' AND period='pre'
        |             THEN CAST(sv AS DOUBLE) END) AS sv_a_pre,
        |    max(CASE WHEN grp='A' AND period='post'
        |             THEN CAST(sv AS DOUBLE) END) AS sv_a_post,
        |    max(CASE WHEN grp='B' AND period='pre'
        |             THEN CAST(sv AS DOUBLE) END) AS sv_b_pre,
        |    max(CASE WHEN grp='B' AND period='post'
        |             THEN CAST(sv AS DOUBLE) END) AS sv_b_post,
        |    max(CASE WHEN grp='A' AND period='pre'
        |             THEN CAST(svv AS DOUBLE) END) AS svv_a_pre,
        |    max(CASE WHEN grp='A' AND period='post'
        |             THEN CAST(svv AS DOUBLE) END) AS svv_a_post,
        |    max(CASE WHEN grp='B' AND period='pre'
        |             THEN CAST(svv AS DOUBLE) END) AS svv_b_pre,
        |    max(CASE WHEN grp='B' AND period='post'
        |             THEN CAST(svv AS DOUBLE) END) AS svv_b_post
        |  FROM c),
        |st AS (
        |  SELECT *,
        |    (sv_b_post / n_b_post - sv_b_pre / n_b_pre)
        |      - (sv_a_post / n_a_post - sv_a_pre / n_a_pre) AS did,
        |    ((sv_b_post / n_b_post - sv_b_pre / n_b_pre)
        |      - (sv_a_post / n_a_post - sv_a_pre / n_a_pre))
        |    / sqrt(
        |      ((svv_a_pre - sv_a_pre * sv_a_pre / n_a_pre)
        |         / (n_a_pre - 1)) / n_a_pre
        |      + ((svv_a_post - sv_a_post * sv_a_post / n_a_post)
        |         / (n_a_post - 1)) / n_a_post
        |      + ((svv_b_pre - sv_b_pre * sv_b_pre / n_b_pre)
        |         / (n_b_pre - 1)) / n_b_pre
        |      + ((svv_b_post - sv_b_post * sv_b_post / n_b_post)
        |         / (n_b_post - 1)) / n_b_post) AS t
        |  FROM piv)
        |SELECT n_a_pre, n_a_post, n_b_pre, n_b_post,
        |  floor(sv_a_pre / n_a_pre * 10000 + 0.5) / 10000.0 AS m_a_pre,
        |  floor(sv_a_post / n_a_post * 10000 + 0.5) / 10000.0 AS m_a_post,
        |  floor(sv_b_pre / n_b_pre * 10000 + 0.5) / 10000.0 AS m_b_pre,
        |  floor(sv_b_post / n_b_post * 10000 + 0.5) / 10000.0 AS m_b_post,
        |  floor(did * 10000 + 0.5) / 10000.0 AS did,
        |  floor(t * 10000 + 0.5) / 10000.0 AS t_stat,
        |  floor(abs(t) * 10000 + 0.5) > 19600 AS significant
        |FROM st""".stripMargin,
    "ts_theil_sen" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |    AS day, sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1),
        |mn AS (SELECT min(day) AS d0 FROM daily),
        |pts AS (
        |  SELECT date_diff('day', d0, day) AS t, CAST(dsum AS DOUBLE) AS y
        |  FROM daily CROSS JOIN mn),
        |sl AS (
        |  SELECT a.t AS ti, b.t AS tj, (b.y - a.y) / (b.t - a.t) AS slope
        |  FROM pts a JOIN pts b ON a.t < b.t),
        |np AS (SELECT count(*) AS n_pairs FROM sl),
        |rs AS (SELECT slope,
        |         row_number() OVER (ORDER BY slope, ti, tj) AS rn FROM sl),
        |med AS (SELECT slope AS slope_med, n_pairs FROM rs CROSS JOIN np
        |        WHERE rn = (n_pairs + 1) // 2),
        |ic AS (
        |  SELECT y - slope_med * t AS b, t, slope_med, n_pairs
        |  FROM pts CROSS JOIN med),
        |nd AS (SELECT count(*) AS n_days, max(t) AS tmax FROM pts),
        |ri AS (SELECT b, slope_med, n_pairs,
        |         row_number() OVER (ORDER BY b, t) AS rn FROM ic)
        |SELECT n_days, n_pairs,
        |  floor(slope_med * 1000000 + 0.5) / 1000000.0 AS slope,
        |  floor(b * 1000000 + 0.5) / 1000000.0 AS intercept,
        |  floor((slope_med * tmax + b) * 10000 + 0.5) / 10000.0 AS fit_last
        |FROM ri CROSS JOIN nd WHERE rn = (n_days + 1) // 2""".stripMargin,
    "etl_benford_check" ->
      """WITH d AS (
        |  SELECT substr(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * 100 AS BIGINT) AS VARCHAR), 1, 1) AS digit,
        |    count(*) AS n_obs
        |  FROM lineitem WHERE CAST(l_extendedprice AS DECIMAL(18,2)) > 0
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM d),
        |wb AS (
        |  SELECT digit, n_obs, n,
        |    CAST(n_obs AS DOUBLE) / n AS share,
        |    ln(CAST(1.0 AS DOUBLE)
        |       + CAST(1.0 AS DOUBLE) / CAST(digit AS INT))
        |      / ln(CAST(10.0 AS DOUBLE)) AS expected
        |  FROM d CROSS JOIN t),
        |chi AS (
        |  SELECT CAST(sum(CAST(round(
        |    (share - expected) * (share - expected) / expected * n, 8)
        |    AS DECIMAL(18,8))) AS DOUBLE) AS chi2
        |  FROM wb)
        |SELECT digit, n_obs, round(share, 6) AS share,
        |  round(expected, 6) AS expected, round(chi2, 4) AS chi2,
        |  chi2 > 15.5073 AS benford_reject
        |FROM wb CROSS JOIN chi ORDER BY digit""".stripMargin,
    "ts_holt_forecast" ->
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |    AS day, sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1),
        |d AS (SELECT CAST(dsum AS DOUBLE) AS x,
        |             row_number() OVER (ORDER BY day) AS i FROM daily),
        |n AS (SELECT count(*) AS c FROM d),
        |rec AS (
        |  SELECT 2 AS i,
        |    (SELECT x FROM d WHERE i = 2) AS l,
        |    (SELECT x FROM d WHERE i = 2) - (SELECT x FROM d WHERE i = 1)
        |      AS b,
        |    CAST(0.0 AS DOUBLE) AS sse
        |  UNION ALL
        |  SELECT r.i + 1,
        |    CAST(0.5 AS DOUBLE) * d.x + CAST(0.5 AS DOUBLE) * (r.l + r.b),
        |    CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * d.x
        |        + CAST(0.5 AS DOUBLE) * (r.l + r.b)) - r.l)
        |      + CAST(0.75 AS DOUBLE) * r.b,
        |    r.sse + (d.x - (r.l + r.b)) * (d.x - (r.l + r.b))
        |  FROM rec r JOIN d ON d.i = r.i + 1)
        |SELECT c AS n_days, round(l, 6) AS level, round(b, 6) AS trend,
        |  round(sqrt(sse / (c - 2)), 6) AS rmse,
        |  round(l + b, 4) AS forecast_1, round(l + 2 * b, 4) AS forecast_2,
        |  round(l + 3 * b, 4) AS forecast_3
        |FROM rec CROSS JOIN n WHERE i = c""".stripMargin,
    "ts_anomaly_residual" ->
      (s"""WITH base AS (
          |  SELECT day, residual FROM ($seasonalDecomposeSql) t),
          |""".stripMargin +
       """r1 AS (
         |  SELECT day, residual,
         |    row_number() OVER (ORDER BY residual, day) AS rn,
         |    count(*) OVER () AS nn
         |  FROM base),
         |med AS (SELECT residual AS med FROM r1 WHERE rn = (nn + 1) // 2),
         |dev AS (
         |  SELECT base.day, base.residual, med.med,
         |    abs(base.residual - med.med) AS adev
         |  FROM base CROSS JOIN med),
         |r2 AS (
         |  SELECT day, adev,
         |    row_number() OVER (ORDER BY adev, day) AS rn,
         |    count(*) OVER () AS nn
         |  FROM dev),
         |mad AS (SELECT adev AS mad FROM r2 WHERE rn = (nn + 1) // 2)
         |SELECT dev.day, dev.residual, dev.med, mad.mad,
         |  dev.adev > 3.0 * mad.mad AS is_anomaly
         |FROM dev CROSS JOIN mad ORDER BY dev.day""".stripMargin),
    "events_srm_check" ->
      """WITH ue AS (
        |  SELECT DISTINCT event_type, user_id FROM events),
        |au AS (
        |  SELECT event_type,
        |    CASE WHEN (ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2) = 0
        |         THEN 'A' ELSE 'B' END AS arm
        |  FROM ue),
        |g AS (
        |  SELECT event_type,
        |    sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS n_b
        |  FROM au GROUP BY ROLLUP (event_type))
        |SELECT coalesce(event_type, '__all__') AS experiment,
        |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  round((n_a - n_b) * (n_a - n_b) / CAST(n_a + n_b AS DOUBLE), 4)
        |    AS chi2,
        |  ((n_a - n_b) * (n_a - n_b) / CAST(n_a + n_b AS DOUBLE)) > 3.841
        |    AS srm_detected
        |FROM g ORDER BY experiment""".stripMargin,
    "events_bootstrap_ci" ->
      """WITH e AS (
        |  SELECT event_id,
        |    CASE WHEN (ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2) = 0
        |         THEN 'A' ELSE 'B' END AS arm,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |rep AS (
        |  SELECT arm, b, v,
        |    CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)
        |      AS DOUBLE) / 65536.0 AS u
        |  FROM (
        |    SELECT e.*, b.b,
        |      md5(CAST(event_id AS VARCHAR) || '#bs' || CAST(b.b AS VARCHAR)) AS h
        |    FROM e, LATERAL (SELECT unnest(range(0, 32)) AS b) b)),
        |wts AS (
        |  SELECT arm, b, v,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847  THEN 1
        |         WHEN u < 0.9196986029286058  THEN 2
        |         WHEN u < 0.9810118431238462  THEN 3
        |         ELSE 4 END AS w
        |  FROM rep),
        |mb AS (
        |  SELECT arm, b, CAST(sum(w * v) AS DOUBLE) / sum(w) AS mean_b
        |  FROM wts GROUP BY arm, b),
        |rk AS (
        |  SELECT arm, mean_b,
        |    row_number() OVER (PARTITION BY arm ORDER BY mean_b, b) AS r
        |  FROM mb),
        |st AS (
        |  SELECT arm,
        |    max(CASE WHEN r = 2  THEN mean_b END) AS p05,
        |    max(CASE WHEN r = 17 THEN mean_b END) AS p50,
        |    max(CASE WHEN r = 31 THEN mean_b END) AS p95
        |  FROM rk GROUP BY arm),
        |fl AS (
        |  SELECT arm, CAST(sum(v) AS DOUBLE) / count(*) AS mean_full
        |  FROM e GROUP BY arm)
        |SELECT fl.arm, round(mean_full, 4) AS mean_full,
        |  round(p05, 4) AS boot_p05, round(p50, 4) AS boot_p50,
        |  round(p95, 4) AS boot_p95
        |FROM fl JOIN st ON fl.arm = st.arm ORDER BY fl.arm""".stripMargin,
    "ts_changepoint_cusum" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT day, dsum,
        |    CAST(sum(dsum) OVER (ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    - row_number() OVER (ORDER BY day)
        |      * (CAST(sum(dsum) OVER () AS DOUBLE) / count(*) OVER ())
        |      AS cusum_raw
        |  FROM daily),
        |f AS (SELECT *, row_number() OVER (ORDER BY abs(cusum_raw) DESC, day)
        |        AS fr FROM c)
        |SELECT CAST(day AS TIMESTAMP) AS day, CAST(dsum AS DOUBLE) AS daily,
        |  round(cusum_raw, 4) AS cusum, fr = 1 AS is_changepoint
        |FROM f ORDER BY day""".stripMargin,
    "events_power_mde" -> (AggOps.abArmSql + """,
        |a AS (
        |  SELECT arm, count(*) AS n, sum(v) AS sv,
        |         sum(CAST(v * v AS DECIMAL(22,4))) AS svv
        |  FROM e GROUP BY arm),
        |p AS (
        |  SELECT sum(n) AS n_tot, min(n) AS n_min,
        |    CAST(sum(sv) AS DOUBLE) AS sv,
        |    sum((n * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
        |        / n) AS ssq_within
        |  FROM a),
        |m AS (
        |  SELECT n_min, sv / n_tot AS mean_pooled,
        |         ssq_within / (n_tot - 2) AS var_pooled
        |  FROM p),
        |x AS (SELECT m.*, ef.effect_pct FROM m,
        |        LATERAL (SELECT unnest([1, 2, 5]) AS effect_pct) ef)
        |SELECT effect_pct,
        |  round(mean_pooled, 4) AS mean_pooled,
        |  round(var_pooled, 4) AS var_pooled,
        |  round(effect_pct / 100.0 * mean_pooled, 4) AS delta_abs,
        |  CAST(ceil(2.0 * var_pooled
        |      * (1.959963984540054 + 0.8416212335729143)
        |      * (1.959963984540054 + 0.8416212335729143)
        |      / ((effect_pct / 100.0 * mean_pooled)
        |         * (effect_pct / 100.0 * mean_pooled))) AS BIGINT) AS n_required,
        |  n_min AS n_available,
        |  n_min >= CAST(ceil(2.0 * var_pooled
        |      * (1.959963984540054 + 0.8416212335729143)
        |      * (1.959963984540054 + 0.8416212335729143)
        |      / ((effect_pct / 100.0 * mean_pooled)
        |         * (effect_pct / 100.0 * mean_pooled))) AS BIGINT) AS powered
        |FROM x ORDER BY effect_pct""".stripMargin),
    "ts_autocorrelation" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |         sum(CAST(value AS DECIMAL(18,2))) AS dsum
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT day,
        |    CAST(round(CAST(dsum AS DOUBLE)
        |        - CAST(sum(dsum) OVER () AS DOUBLE) / count(*) OVER (), 6)
        |      AS DECIMAL(18,6)) AS c6,
        |    row_number() OVER (ORDER BY day) AS rn
        |  FROM daily),
        |den AS (
        |  SELECT CAST(sum(CAST(c6 AS DECIMAL(19,6))
        |                  * CAST(c6 AS DECIMAL(19,6))) AS DOUBLE) AS den,
        |         count(*) AS n_days
        |  FROM c),
        |p AS (
        |  SELECT l.lag, a.c6, b.c6 AS c_next
        |  FROM c a
        |  CROSS JOIN (SELECT unnest([1,2,3,4,5,6,7]) AS lag) l
        |  LEFT JOIN c b ON b.rn = a.rn + l.lag)
        |SELECT p.lag, den.n_days, count(p.c_next) AS n_pairs,
        |  round(CAST(sum(CAST(p.c6 AS DECIMAL(19,6))
        |              * CAST(p.c_next AS DECIMAL(19,6))) AS DOUBLE)
        |        / den.den, 4) AS acf
        |FROM p CROSS JOIN den
        |GROUP BY p.lag, den.n_days, den.den
        |ORDER BY p.lag""".stripMargin,
    "events_ltv_cohort" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk
        |  FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id),
        |s AS (SELECT cohort_wk, count(DISTINCT user_id) AS cohort_users
        |      FROM f GROUP BY cohort_wk),
        |cells AS (
        |  SELECT f.cohort_wk, CAST(ev.wk - f.cohort_wk AS INT) AS age_wk,
        |    count(DISTINCT ev.user_id) AS active_users, sum(v) AS rev
        |  FROM ev JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT cells.cohort_wk, age_wk, cohort_users, active_users,
        |  CAST(rev AS DOUBLE) AS rev,
        |  CAST(sum(rev) OVER (PARTITION BY cells.cohort_wk ORDER BY age_wk
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS cum_rev,
        |  round(CAST(sum(rev) OVER (PARTITION BY cells.cohort_wk ORDER BY age_wk
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      / cohort_users, 4) AS ltv_per_user
        |FROM cells JOIN s ON cells.cohort_wk = s.cohort_wk
        |ORDER BY cells.cohort_wk, age_wk""".stripMargin,
    "events_funnel_windowed" ->
      """WITH s AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS s_ts
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |v AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS v_ts
        |  FROM events e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'view'
        |    AND CAST(e.ts AS TIMESTAMP) >= s.s_ts
        |    AND CAST(e.ts AS TIMESTAMP) <= s.s_ts + INTERVAL 7 DAY
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS p_ts
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND CAST(e.ts AS TIMESTAMP) >= v.v_ts
        |    AND CAST(e.ts AS TIMESTAMP) <= v.v_ts + INTERVAL 7 DAY
        |  GROUP BY e.user_id),
        |c AS (
        |  SELECT (SELECT count(*) FROM s) AS n_signup,
        |         (SELECT count(*) FROM v) AS n_view_7d,
        |         (SELECT count(*) FROM p) AS n_purchase_7d)
        |SELECT n_signup, n_view_7d, n_purchase_7d,
        |  round(CAST(n_view_7d AS DOUBLE) / n_signup, 4) AS rate_view,
        |  round(CAST(n_purchase_7d AS DOUBLE) / n_view_7d, 4) AS rate_purchase,
        |  round(CAST(n_purchase_7d AS DOUBLE) / n_signup, 4) AS rate_overall
        |FROM c""".stripMargin,
    "etl_entity_resolution" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_name, c_nationkey FROM customer),
        |var AS (
        |  SELECT c_custkey + 1000000000 AS c_custkey,
        |    substr(c_name, 1, CAST(11 + c_custkey % 7 AS INT) - 1)
        |      || substr(c_name, CAST(11 + c_custkey % 7 AS INT) + 1, 64)
        |      AS c_name,
        |    c_nationkey
        |  FROM cust WHERE c_custkey % 3 = 0),
        |recs AS (SELECT * FROM cust UNION ALL SELECT * FROM var),
        |pairs AS (
        |  SELECT a.c_nationkey AS nation,
        |    levenshtein(a.c_name, b.c_name) AS d,
        |    (a.c_custkey % 1000000000) = (b.c_custkey % 1000000000)
        |      AS same_entity
        |  FROM recs a JOIN recs b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey),
        |pn AS (SELECT c_nationkey AS nation, count(*) AS n_records
        |       FROM recs GROUP BY 1),
        |pa AS (
        |  SELECT nation, count(*) AS n_candidates,
        |    CAST(sum(CASE WHEN d <= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_matches,
        |    CAST(sum(CASE WHEN d <= 2 AND same_entity THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_true_dupes
        |  FROM pairs GROUP BY nation)
        |SELECT pn.nation, n_records, n_candidates, n_matches, n_true_dupes,
        |  round(CAST(n_true_dupes AS DOUBLE) / n_matches, 4)
        |    AS match_precision
        |FROM pn JOIN pa ON pn.nation = pa.nation
        |ORDER BY pn.nation""".stripMargin,
    "etl_snapshot_merge_timetravel" -> (versionTotalsSql + """
        |ORDER BY version""".stripMargin),
    "etl_snapshot_optimize_cluster" ->
      (snapshotOrdersSql + """
        |SELECT 1 AS version, count(*) AS n_rows,
        |  CAST(sum(price) AS DOUBLE) AS total_price,
        |  CAST(min(price) AS DOUBLE) AS min_price,
        |  CAST(max(price) AS DOUBLE) AS max_price
        |FROM v1
        |UNION ALL
        |SELECT 2, count(*), CAST(sum(price) AS DOUBLE),
        |  CAST(min(price) AS DOUBLE), CAST(max(price) AS DOUBLE)
        |FROM v1
        |ORDER BY version""".stripMargin),
    "etl_snapshot_add_column" ->
      (snapshotOrdersSql + """,
        |v3 AS (
        |  SELECT k, st, price,
        |    CASE WHEN k % 11 = 0 THEN
        |      CASE WHEN price >= 150000 THEN 'high' ELSE 'low' END
        |    END AS tier
        |  FROM v1)
        |SELECT CAST(1 AS INT) AS version, CAST(3 AS INT) AS n_cols,
        |  count(*) AS n_rows, CAST(sum(price) AS DOUBLE) AS total_price,
        |  CAST(0 AS BIGINT) AS n_tier_set, CAST(0 AS BIGINT) AS n_tier_high
        |FROM v1
        |UNION ALL
        |SELECT 2, 4, count(*), CAST(sum(price) AS DOUBLE), 0, 0 FROM v1
        |UNION ALL
        |SELECT 3, 4, count(*), CAST(sum(price) AS DOUBLE),
        |  count(tier), count(CASE WHEN tier = 'high' THEN 1 END) FROM v3
        |ORDER BY version""".stripMargin),
    "etl_snapshot_stats_pruned" ->
      (snapshotOrdersSql + """
        |SELECT TRUE AS pruned, count(*) AS n_rows,
        |  CAST(sum(price) AS DOUBLE) AS total_price,
        |  CAST(min(price) AS DOUBLE) AS min_price,
        |  CAST(max(price) AS DOUBLE) AS max_price
        |FROM v1
        |WHERE price BETWEEN 50000.00 AND 150000.00""".stripMargin),
    "etl_snapshot_clone_branch" -> (branchSql + """
        |SELECT 'branch' AS "table", count(*) AS n_rows,
        |  CAST(sum(price) AS DOUBLE) AS total_price
        |FROM br
        |UNION ALL
        |SELECT 'source', count(*), CAST(sum(price) AS DOUBLE) FROM v1
        |ORDER BY "table"""".stripMargin),
    "etl_snapshot_branch_mergeback" -> (branchSql + """
        |SELECT TRUE AS merged_back, 2 AS parent_version,
        |  count(*) AS n_rows, CAST(sum(price) AS DOUBLE) AS total_price
        |FROM br""".stripMargin),
    "etl_snapshot_rebucket" ->
      (snapshotOrdersSql + """
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS o_price, 32 AS num_buckets
        |FROM v1
        |WHERE k IN (SELECT k FROM v1 ORDER BY k LIMIT 5)
        |ORDER BY o_orderkey""".stripMargin),
    "etl_snapshot_vacuum" ->
      (snapshotOrdersSql + """
        |SELECT TRUE AS vacuumed, 2 AS kept_version, count(*) AS n_rows,
        |  CAST(sum(price) AS DOUBLE) AS total_price,
        |  CAST(sum(CASE WHEN st = 'X' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_updated
        |FROM v1""".stripMargin),
    "etl_snapshot_check_constraint" ->
      (snapshotOrdersSql + """,
        |v3 AS (
        |  SELECT k, st,
        |    CASE WHEN k % 11 = 0 THEN CAST(price + 1 AS DECIMAL(18,2))
        |         ELSE price END AS price
        |  FROM v1),
        |v4 AS (
        |  SELECT k, st,
        |    CASE WHEN k % 1000 = 7 THEN NULL ELSE price END AS price
        |  FROM v3)
        |SELECT TRUE AS enforced, 4 AS version, count(*) AS n_rows,
        |  CAST(sum(price) AS DOUBLE) AS total_price,
        |  CAST(sum(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_price,
        |  CAST(sum(CASE WHEN st = 'X' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_updated
        |FROM v4""".stripMargin),
    "etl_snapshot_concurrent_merge" ->
      (snapshotOrdersSql + """,
        |vf AS (
        |  SELECT k,
        |    CASE WHEN k % 3 = 2 THEN 'C' ELSE st END AS st,
        |    CASE WHEN k % 3 = 1 THEN CAST(price + 5 AS DECIMAL(18,2))
        |         ELSE price END AS price
        |  FROM v1)
        |SELECT 3 AS version, count(*) AS n_rows,
        |  CAST(sum(price) AS DOUBLE) AS total_price,
        |  CAST(sum(CASE WHEN st = 'C' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_status_c,
        |  CAST(sum(CASE WHEN st = 'X' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_updated
        |FROM vf""".stripMargin),
    "etl_snapshot_write_audit_publish" ->
      (snapshotOrdersSql + """,
        |wap AS (
        |  SELECT k, st,
        |    CASE WHEN k % 19 = 0 THEN CAST(price + 3 AS DECIMAL(18,2))
        |         ELSE price END AS price
        |  FROM v1)
        |SELECT TRUE AS published, FALSE AS bad_published,
        |  count(*) AS n_rows,
        |  CAST(sum(price) AS DOUBLE) AS total_price,
        |  CAST(sum(CASE WHEN k % 19 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_audited_cohort
        |FROM wap""".stripMargin),
    "etl_snapshot_point_lookup" ->
      (snapshotOrdersSql + """
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS o_price
        |FROM v1
        |WHERE k IN (SELECT k FROM v1 ORDER BY k LIMIT 5)
        |ORDER BY o_orderkey""".stripMargin),
    "etl_snapshot_cdc_follow" ->
      (snapshotOrdersSql + """,
        |v2 AS (
        |  SELECT k, st,
        |    CASE WHEN k % 9 = 4 THEN CAST(price + 7 AS DECIMAL(18,2))
        |         ELSE price END AS price
        |  FROM v1 WHERE k % 9 <> 5)
        |SELECT TRUE AS cdc_followed, count(*) AS n_rows,
        |  CAST(sum(price) AS DOUBLE) AS total_price,
        |  CAST(sum(CASE WHEN st = 'X' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_updated
        |FROM v2""".stripMargin),
    "etl_snapshot_restore" -> (versionTotalsSql + """
        |UNION ALL
        |SELECT 2, count(*), CAST(sum(price) AS DOUBLE),
        |  CAST(sum(CASE WHEN st = 'X' THEN 1 ELSE 0 END) AS BIGINT)
        |FROM v0
        |ORDER BY version""".stripMargin),
    "etl_snapshot_rename_column" ->
      (snapshotOrdersSql + """,
        |v3 AS (
        |  SELECT k, st,
        |    CASE WHEN k % 13 = 0 THEN CAST(price + 50 AS DECIMAL(18,2))
        |         ELSE price END AS price
        |  FROM v1)
        |SELECT CAST(1 AS INT) AS version, 'o_price' AS col_name,
        |  count(*) AS n_rows, CAST(sum(price) AS DOUBLE) AS total_amount
        |FROM v1
        |UNION ALL
        |SELECT 2, 'o_amount', count(*), CAST(sum(price) AS DOUBLE) FROM v1
        |UNION ALL
        |SELECT 3, 'o_amount', count(*), CAST(sum(price) AS DOUBLE) FROM v3
        |ORDER BY version""".stripMargin),
    "etl_snapshot_delete_where" ->
      (snapshotOrdersSql + """,
        |v3 AS (SELECT * FROM v1
        |       WHERE price NOT BETWEEN 60000.00 AND 120000.00)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(price) AS DOUBLE) AS total_price,
        |  CAST(min(price) AS DOUBLE) AS min_price,
        |  CAST(max(price) AS DOUBLE) AS max_price,
        |  count(CASE WHEN price BETWEEN 60000.00 AND 120000.00
        |        THEN 1 END) AS n_in_band
        |FROM v3""".stripMargin),
    "etl_snapshot_compact" ->
      (snapshotOrdersSql + """
        |SELECT 1 AS version, count(*) AS n_rows,
        |  CAST(sum(price) AS DOUBLE) AS total_price,
        |  CAST(sum(CASE WHEN st = 'X' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_updated
        |FROM v1
        |UNION ALL
        |SELECT 2, count(*), CAST(sum(price) AS DOUBLE),
        |  CAST(sum(CASE WHEN st = 'X' THEN 1 ELSE 0 END) AS BIGINT)
        |FROM v1
        |ORDER BY version""".stripMargin),
    "ts_yoy_growth" ->
      """WITH m AS (
        |  SELECT EXTRACT(YEAR FROM l_shipdate) AS yr,
        |    EXTRACT(MONTH FROM l_shipdate) AS mo,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
        |         AS BIGINT) AS rev_c
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT CAST(a.yr AS BIGINT) AS yr, CAST(a.mo AS BIGINT) AS mo,
        |  CAST(a.rev_c AS DOUBLE) / 100 AS revenue,
        |  CAST(b.rev_c AS DOUBLE) / 100 AS prev_revenue,
        |  floor((CAST(a.rev_c - b.rev_c AS DOUBLE) / b.rev_c) * 1000000
        |        + 0.5) / 1000000.0 AS yoy_growth
        |FROM m a LEFT JOIN m b ON b.yr = a.yr - 1 AND b.mo = a.mo
        |ORDER BY yr, mo""".stripMargin,
    "etl_baseline_reporting_usage" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |cut AS (
        |  SELECT user_id, min(us) AS cut_us
        |  FROM e WHERE event_type = 'purchase' GROUP BY user_id),
        |s AS (
        |  SELECT e.user_id,
        |    sum(CASE WHEN us < cut_us THEN c END) AS b_cents,
        |    sum(CASE WHEN us > cut_us THEN c END) AS r_cents,
        |    sum(CASE WHEN us < cut_us THEN 1 ELSE 0 END) AS n_baseline,
        |    sum(CASE WHEN us > cut_us THEN 1 ELSE 0 END) AS n_reporting
        |  FROM e JOIN cut ON cut.user_id = e.user_id
        |  GROUP BY e.user_id
        |  HAVING n_baseline > 0 AND n_reporting > 0)
        |SELECT user_id, CAST(n_baseline AS BIGINT) AS n_baseline,
        |  CAST(n_reporting AS BIGINT) AS n_reporting,
        |  CAST(b_cents AS DOUBLE) / 100 AS baseline_value,
        |  CAST(r_cents AS DOUBLE) / 100 AS reporting_value,
        |  CAST(b_cents - r_cents AS DOUBLE) / 100 AS savings
        |FROM s ORDER BY b_cents - r_cents DESC, user_id LIMIT 20""".stripMargin,
    "events_interarrival_hist" ->
      """WITH e AS (
        |  SELECT event_type, user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    us - lag(us) OVER (PARTITION BY event_type, user_id
        |                       ORDER BY us, event_id) AS gap_us
        |  FROM e)
        |SELECT event_type,
        |  least(gap_us // 60000000, 10) AS gap_bucket_min,
        |  count(*) AS n_pairs, CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, gap_bucket_min""".stripMargin,
    "etl_late_arriving_dim" ->
      """WITH dim AS (
        |  SELECT c_custkey, c_nationkey FROM customer
        |  WHERE c_custkey % 13 <> 0)
        |SELECT coalesce(c_nationkey, -1) AS nation_key,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders LEFT JOIN dim ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY nation_key""".stripMargin,
    "etl_snapshot_incremental" ->
      """WITH o AS (SELECT o_orderkey AS k FROM orders),
        |c AS (
        |  SELECT 'added' AS change, k FROM o WHERE k % 5 = 0 AND k % 7 = 3
        |  UNION ALL
        |  SELECT 'removed', k FROM o WHERE k % 5 <> 0 AND k % 7 = 2
        |  UNION ALL
        |  SELECT 'changed', k FROM o WHERE k % 5 <> 0 AND k % 7 = 1)
        |SELECT change, count(*) AS n_keys, CAST(sum(k) AS BIGINT) AS key_sum
        |FROM c GROUP BY change ORDER BY change""".stripMargin,
  )
}
