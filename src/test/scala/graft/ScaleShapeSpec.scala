package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.api.Transforms
import graft.streaming.{EventRow, EventStreams}

/** Scale-shape capabilities: stream-stream interval joins with
  * bounded state, salted joins for skew, bucketed co-located joins
  * without a shuffle. */
class ScaleShapeSpec extends SparkSpec {

  private def ev(id: Long, t: String, user: Long, typ: String): EventRow =
    EventRow(id, Timestamp.valueOf(t), user, typ, 1.0)

  test("stream-stream interval join matches clicks to in-window signups") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val signups = MemoryStream[EventRow]
    val clicks = MemoryStream[EventRow]
    val q = EventStreams.signupClickJoin(signups.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("t_ss_join")
      .outputMode(OutputMode.Append).start()
    try {
      signups.addData(ev(1, "2024-01-01 10:00:00", user = 7, typ = "signup"))
      clicks.addData(
        ev(2, "2024-01-01 10:20:00", user = 7, typ = "click"),  // in window
        ev(3, "2024-01-01 11:20:00", user = 7, typ = "click"),  // out of window
        ev(4, "2024-01-01 10:30:00", user = 8, typ = "click"))  // other user
      q.processAllAvailable()
      val rows = spark.table("t_ss_join").collect()
      assert(rows.map(_.getAs[Long]("click_id")).toSet == Set(2L))
    } finally q.stop()
  }

  test("salted join returns exactly the plain join's rows") {
    val orders = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, sf001)
      .select(col("c_custkey"), col("c_mktsegment"))
    val plain = orders.join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"))
    val salted = Transforms.saltedJoin(orders, cust,
        col("o_custkey"), col("c_custkey"), col("o_orderkey"), saltFactor = 4)
      .select(col("o_orderkey"), col("c_mktsegment"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    assert(plain.count() > 0 && salted.count() == plain.count())
  }

  test("salted join splits a planted 90%-hot key across reducers") {
    import spark.implicits._
    // 90% of 20k left rows share key 1 — the skew the graded corpus
    // lacks. The shuffle key after salting is (key, salt): assert the
    // hot key's rows actually spread across the 8 salts (max group
    // shrinks ~8x) AND the salted join still returns the plain join's
    // exact multiset.
    val left = spark.range(20000L).toDF("id")
      .select(when(col("id") % 10 < 9, 1L).otherwise(col("id")).as("k"), col("id"))
    // independent lineage (not derived from `left`) so the equi-join
    // columns can't alias each other
    val right = spark.range(20000L).toDF("rid")
      .select(when(col("rid") % 10 < 9, 1L).otherwise(col("rid")).as("rk"))
      .distinct().withColumn("v", col("rk") * 2)
    val plain = left.join(right, col("k") === col("rk"))
      .select(col("id"), col("v"))
    val salted = Transforms.saltedJoin(left, right,
        col("k"), col("rk"), col("id"), saltFactor = 8)
      .select(col("id"), col("v"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    assert(salted.count() == plain.count())
    val hotPlain = left.groupBy(col("k")).count()
      .agg(max(col("count"))).head.getLong(0)
    // observe saltedJoin's OWN salt derivation (Transforms.saltOf) so
    // this assertion can't drift from the production formula
    val hotSalted = left
      .groupBy(col("k"), Transforms.saltOf(col("id"), 8))
      .count().agg(max(col("count"))).head.getLong(0)
    assert(hotPlain == 18000L, s"planted skew missing: $hotPlain")
    assert(hotSalted <= hotPlain / 6,
      s"salt did not split the hot key: $hotSalted vs $hotPlain")
  }

  test("AQE skew join splits the hot partition at runtime") {
    // the runtime counterpart of Transforms.saltedJoin: same planted
    // 90%-one-key skew, but AQE's OptimizeSkewedJoin splits the hot
    // sort-merge partition instead of an explicit salt. Thresholds are
    // shrunk so toy-scale partitions register as skewed.
    // an isolated child session (own SQLConf, shared context): the
    // suites run in parallel against one SparkSession, so mutating
    // the shared conf would race other suites' plan assertions
    val s = spark.newSession()
    val conf = s.conf
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", "4")
    val left = s.range(200000L).toDF("id")
      .select(when(col("id") % 10 < 9, 1L).otherwise(col("id")).as("k"),
              col("id"))
    // distinct keys WITHOUT an aggregate: OptimizeSkewedJoin only
    // matches SMJ(Sort(Shuffle), Sort(Shuffle)) — a distinct()'s
    // HashAggregate between shuffle and sort defeats the rule
    val right = s.range(200000L).toDF("rid")
      .where(col("rid") % 10 === 9 || col("rid") === 1)
      .select(col("rid").as("rk"))
    val joined = left.join(right, col("k") === col("rk"))
      .select(col("id")) // keep the collect narrow
    // collect() executes THIS Dataset's QueryExecution — count()
    // would build a fresh one and leave this AQE plan unfinalized
    assert(joined.collect().length == 200000)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(2000))
    assert(p.contains("skew=true"), p.take(4000))
  }

  test("dynamic partition pruning fires on a partitioned fact join") {
    val dir = tempDir("graft_dpp")
    Tables.orders(spark, sf001)
      .withColumn("order_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("order_year").parquet(dir)
    val fact = spark.read.parquet(dir)
    import spark.implicits._
    // dim filtered on a non-partition column; only the join reveals
    // which fact partitions matter -> DPP inserts a runtime filter.
    // The dim must be a file source: a local relation folds the filter
    // away before the PartitionPruning rule can see it.
    val dimDir = tempDir("graft_dpp_dim")
    Seq((1995, "old"), (1996, "old"), (2000, "new"))
      .toDF("dim_year", "era").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(dim,
        col("order_year") === col("dim_year") && col("era") === "new")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
    assert(joined.count() ==
      Tables.orders(spark, sf001).where(year(col("o_orderdate")) === 2000).count())
  }

  test("prefix-sum chunker and packer stay distributed at 1M rows") {
    // N rows through chunkByRange/packSequences: the per-bucket data
    // windows run across N/5000 buckets (no single-partition funnel)
    // and finish in seconds; only the bucket-count metadata rows see
    // the scan window. Full 1M under GRAFT_FULL_TESTS=1; 100k default
    // (same plan shape, 10x less pre-commit wall time).
    import spark.implicits._
    val n = sized(1000000L, 100000L)
    val df = spark.range(n).toDF("id")
      .withColumn("w", (col("id") % 97 + 1).cast("long")).repartition(16)
    val chunked = Transforms.chunkByRange(df, col("id"),
      floor(col("id") / 5000).cast("long"), 1000)
    val sizes = chunked.groupBy(col("batch_id")).count()
      .agg(min(col("count")), max(col("count")), count(lit(1))).head
    assert(sizes.getLong(0) == 1000 && sizes.getLong(1) == 1000 &&
           sizes.getLong(2) == n / 1000) // exact batches of 1000
    val packed = Transforms.packSequences(df, col("id"),
      floor(col("id") / 5000).cast("long"), col("w"), capacity = 8192L)
    val total = df.agg(sum(col("w"))).head.getLong(0)
    val seqs = packed.agg(countDistinct(col("seq_id")), max(col("seq_token_start"))).head
    // stream length / capacity bounds the sequence count
    assert(math.abs(seqs.getLong(0) - total / 8192) <= 1)
    assert(seqs.getLong(1) < total)
  }

  test("join_bucketed_colocated (#109): no exchange anywhere below the merge join") {
    val df = graft.ops.JoinOps.joinBucketedColocated(spark, sf001)
    val lines = df.queryExecution.executedPlan.toString.linesIterator.toSeq
    // toString prints parents first, so everything from the
    // SortMergeJoin line down IS its subtree: the bucketed layout must
    // leave zero Exchange in it (the only shuffles allowed are the
    // aggregate/sort ABOVE the join)
    val idx = lines.indexWhere(_.contains("SortMergeJoin"))
    assert(idx >= 0, lines.mkString("\n"))
    val below = lines.drop(idx)
    assert(!below.exists(_.contains("Exchange")), below.mkString("\n"))
    // the bucketed round trip returns the plain corpus join's result
    val plain = Tables.lineitem(spark, sf001)
      .join(Tables.orders(spark, sf001), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_items"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val got = df.collect().map(r => (r.getString(0), r.getAs[Long]("n_items"))).toMap
    assert(got == plain)
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = tempDir("graft_buckets")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sf001).select(col("o_orderkey"), col("o_custkey"))
        .write.mode("overwrite").bucketBy(4, "o_custkey")
        .sortBy("o_custkey").option("path", s"$wh/orders_b")
        .saveAsTable("orders_bucketed")
      Tables.customer(spark, sf001).select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite").bucketBy(4, "c_custkey")
        .sortBy("c_custkey").option("path", s"$wh/cust_b")
        .saveAsTable("customer_bucketed")
      val joined = spark.table("orders_bucketed")
        .join(spark.table("customer_bucketed"),
              col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan) // co-located: no shuffle
      assert(joined.count() ==
        Tables.orders(spark, sf001).join(Tables.customer(spark, sf001),
          col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS customer_bucketed")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
