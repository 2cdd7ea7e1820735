package graft

import org.apache.spark.sql.functions._
import graft.ops._
import graft.Tables._

/** SURVEY §5.3 unit + invariant tests over sf0.001 (plus the
  * non-oracle operators #3/#5/#28 that the driver only rows-checks). */
class OperatorSpec extends SparkSpec {

  test("entry (flagship) returns rows with positive revenue") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("revenue") > 0))
  }

  test("queries and oracleSql keys line up") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle-only keys: ${o.diff(q)}")
    val noOracle = q.diff(o)
    // round 5: the file round-trips are oracle-graded (lossless, so
    // the oracle is the same aggregate off the corpus parquet); only
    // the two approx sketches remain un-oracle-able by design
    assert(noOracle == Set("agg_approx_distinct", "agg_approx_quantile"),
      s"unexpected oracle-less queries: $noOracle")
  }

  test("SURVEY §2 count guard: 307 declared operators, 305 oracle-checked") {
    // SURVEY.md §2's count line is hand-maintained; this pin makes a
    // family-map edit that drops (or double-adds) a binding fail in
    // CI instead of in the driver's correctness run. Update BOTH this
    // test and the SURVEY count line when adding an operator.
    assert(SparkEntry.queries.size == 307,
      s"queries.size=${SparkEntry.queries.size} drifted from SURVEY §2's declared 307")
    assert(SparkEntry.oracleSql.size == 305,
      s"oracleSql.size=${SparkEntry.oracleSql.size} drifted from SURVEY §2's oracle-checked 305")
  }

  test("csv roundtrip preserves the nation aggregation") {
    val viaCsv = ScanOps.sourceCsvRoundtrip(spark, sf001).collect()
    val direct = nation(spark, sf001)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), max(col("n_name")).as("max_name"))
      .orderBy(col("n_regionkey")).collect()
    assert(viaCsv.toSeq == direct.toSeq)
  }

  test("xml roundtrip preserves the nation aggregation") {
    val viaXml = ScanOps.sourceXmlRoundtrip(spark, sf001).collect()
    val direct = nation(spark, sf001)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), max(col("n_name")).as("max_name"))
      .orderBy(col("n_regionkey")).collect()
    assert(viaXml.toSeq == direct.toSeq)
  }

  test("GraftExtensions expose vec_dot and topk_by_score to SQL") {
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val ext = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .getOrCreate()
    try {
      import ext.implicits._
      Seq((1L, Array(1.0f, 2.0f)), (2L, Array(0.5f, 4.0f)))
        .toDF("id", "v").createOrReplaceTempView("vecs")
      val d = ext.sql("SELECT id, vec_dot(v, v) AS d FROM vecs ORDER BY id")
        .collect().map(_.getDouble(1))
      assert(d.toSeq == Seq(5.0, 16.25))
      val c = ext.sql("SELECT vec_cosine(v, v) FROM vecs").collect().map(_.getDouble(0))
      assert(c.forall(x => math.abs(x - 1.0) < 1e-12)) // self-cosine = 1
      val top = ext.sql(
        """SELECT topk_by_score(CAST(id AS DOUBLE), id, 1) AS t
          |FROM vecs""".stripMargin).head.getSeq[org.apache.spark.sql.Row](0)
      assert(top.length == 1 && top.head.getLong(1) == 2L)
      // round 15: the portable split/sample surface for SQL users —
      // must agree bit-for-bit with the Scala Transforms API
      import org.apache.spark.sql.functions.col
      val keys = ext.range(0, 2000).toDF("k")
      keys.createOrReplaceTempView("keys")
      val sqlSplit = ext.sql(
        """SELECT k, CASE WHEN hash_split_point(k, 's1') < 52429 THEN 'train'
          |            ELSE 'rest' END AS split,
          |  hash_sample(k, 's1', 0.25) AS kept
          |FROM keys""".stripMargin).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
      val apiSplit = keys.select(col("k"),
          graft.api.Transforms.hashSplit(col("k"), "s1",
            Seq("train" -> 0.8, "rest" -> 0.2)).as("split"),
          graft.api.Transforms.hashSample(col("k"), "s1", 0.25).as("kept"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
      assert(sqlSplit == apiSplit,
        "SQL hash_split_point/hash_sample must match the Scala API exactly")
      val trainFrac = sqlSplit.values.count(_._1 == "train").toDouble / 2000
      assert(math.abs(trainFrac - 0.8) < 0.05, s"split skewed: $trainFrac")
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      SparkSpec.session.sparkContext // reattach shared session
      org.apache.spark.sql.SparkSession.setDefaultSession(SparkSpec.session)
      org.apache.spark.sql.SparkSession.setActiveSession(SparkSpec.session)
    }
  }

  test("ESPI nested XML roundtrip preserves per-user reading counts and sums") {
    val viaXml = ScanOps.sourceXmlEspi(spark, sf001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val direct = events(spark, sf001)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
           min(unix_micros(col("ts"))).as("first_start"),
           sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
             .cast("double").as("tv"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(viaXml == direct)
    assert(viaXml.values.map(_._1).sum == events(spark, sf001).count())
  }

  test("text-lines roundtrip preserves document count and char totals") {
    val row = ScanOps.sourceTextLines(spark, sf001).head
    assert(row.getLong(0) == Tables.documents(spark, sf001).count())
    val wantChars = Tables.documents(spark, sf001)
      .agg(sum(length(col("text")))).head.getLong(0)
    assert(row.getLong(1) == wantChars)
  }

  test("partitioned sink writes hive-style partition dirs and preserves counts") {
    // the sink writes under a per-invocation random-suffix scratch dir
    // (concurrent-caller safety); snapshot tmpdir BEFORE the call so a
    // stale dir from an earlier run can never satisfy the assertion
    def sinkDirs(): Set[String] =
      new java.io.File(System.getProperty("java.io.tmpdir"))
        .listFiles().filter(_.getName.startsWith("graft_sink_partitioned_"))
        .map(_.getName).toSet
    val before = sinkDirs()
    val out = ScanOps.sinkParquetPartitioned(spark, sf001)
    val total = out.agg(sum(col("n_rows"))).head.getLong(0)
    assert(total == lineitem(spark, sf001).count())
    val fresh = (sinkDirs() -- before).toSeq
    assert(fresh.nonEmpty, "this invocation wrote no new scratch dir")
    assert(fresh.exists(n =>
      Option(new java.io.File(System.getProperty("java.io.tmpdir"), n).listFiles())
        .exists(_.exists(_.getName.startsWith("l_returnflag=")))))
  }

  test("approx_count_distinct within 5% of exact") {
    val approx = AggOps.aggApproxDistinct(spark, sf01).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = AggOps.aggDistinctCount(spark, sf01).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      assert(math.abs(approx(k) - ex).toDouble / ex <= 0.05, s"$k: ${approx(k)} vs $ex")
    }
  }

  test("sketch error bounds hold at sf0.1 (10x the oracle-sweep scale), ungated") {
    // VERDICT r13 item 7: the two declared no-oracle sketches (#28/#85)
    // carried sf0.01-scale assertions only; HLL/KLL error is
    // size-dependent in principle, so the same bounds are re-pinned at
    // 10x in the default suite — a sketch-parameter regression that
    // only surfaces at scale would otherwise hide until production.
    val sf1 = "/root/testdata/sf0.1"
    val approxD = AggOps.aggApproxDistinct(spark, sf1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactD = AggOps.aggDistinctCount(spark, sf1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exactD.foreach { case (k, ex) =>
      assert(math.abs(approxD(k) - ex).toDouble / ex <= 0.05,
        s"approx_distinct at sf0.1, $k: ${approxD(k)} vs $ex")
    }
    val approxP = AggOps.aggApproxQuantile(spark, sf1).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("p90_price")).toMap
    val exactP = AggOps.aggPercentile(spark, sf1).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toMap // p90_price
    exactP.foreach { case (k, p90) =>
      assert(math.abs(approxP(k) - p90) / p90 <= 0.02,
        s"approx_percentile at sf0.1, $k: approx=${approxP(k)} exact=$p90")
    }
  }

  test("approx_percentile within 2% rank error of exact percentile_cont") {
    val approx = AggOps.aggApproxQuantile(spark, sf01).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("p90_price")).toMap
    val exact = AggOps.aggPercentile(spark, sf01).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toMap // p90_price
    exact.foreach { case (k, p90) =>
      assert(math.abs(approx(k) - p90) / p90 <= 0.02,
        s"$k: approx=${approx(k)} exact=$p90")
    }
  }

  test("vec_dot/vec_cosine return NULL on mismatched vector lengths") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)),
                 (Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val rows = df.select(
      org.apache.spark.sql.graft.VectorExprs.vecDot(col("a"), col("b")).as("d"),
      org.apache.spark.sql.graft.VectorExprs.vecCosine(col("a"), col("b")).as("c"))
      .collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).getDouble(0) == 11.0 && !rows(1).isNullAt(1))
  }

  test("hyperplane_bands: codegen == interpreted, NULL on dim mismatch") {
    import spark.implicits._
    val planes = Array.fill(8)(Array.fill(4)(1.0f))
    val df = Seq((1L, Array(1.0f, -1.0f, 0.5f, 0.25f)),
                 (2L, Array(1.0f, 2.0f))).toDF("id", "v")
    val c = org.apache.spark.sql.graft.VectorExprs.hyperplaneBands(col("v"), planes, 4)
    val rows = df.select(c.as("bands")).collect()
    // sum of elements 0.75 > 0 -> every bit set in both 4-bit bands
    assert(rows(0).getSeq[Int](0) == Seq(15, 15))
    assert(rows(1).isNullAt(0)) // dim 2 vs planes dim 4
  }

  test("topk_by_score validates k and input types at plan time") {
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.TopKAgg.topK(lit(1.0), lit(1L), 0)
    }
    import spark.implicits._
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1.0, "x")).toDF("d", "s").groupBy()
        .agg(org.apache.spark.sql.graft.TopKAgg.topK(col("d"), col("s"), 2))
        .collect()
    }
    assert(e.getMessage.contains("BIGINT"), e.getMessage)
  }

  test("exact dedup is idempotent and keys by content hash") {
    val d = TextOps.dedupExactMd5(spark, sf001)
    assert(d.count() == d.select(col("text_hash")).distinct().count())
    assert(d.agg(sum(col("n_dups"))).head.getLong(0) ==
      documents(spark, sf001).count())
  }

  test("minhash candidate pairs are ordered and unique") {
    val pairs = TextOps.dedupMinhashNear(spark, sf01).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).distinct.length == pairs.length)
  }

  test("gap fill produces the full spine and preserves event totals") {
    val g = EtlOps.etlGapFill(spark, sf001)
    assert(g.count() == 697) // 29 days * 24h + 1 inclusive endpoint
    val total = g.agg(sum(col("n_events"))).head.getLong(0)
    val inRange = events(spark, sf001)
      .where(col("ts") >= ts("2024-01-01") && col("ts") < ts("2024-01-30 01:00:00"))
      .count()
    assert(total == inRange)
  }

  test("chunking: batch sizes bounded, concatenation = input") {
    val c = EtlOps.etlChunkBatches(spark, sf001).collect()
    assert(c.forall(_.getAs[Long]("n_rows") <= 1000))
    assert(c.map(_.getAs[Long]("n_rows")).sum == events(spark, sf001).count())
    // batches tile the keyspace in order
    val sorted = c.sortBy(_.getAs[Int]("batch_id"))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("max_id") < b.getAs[Long]("min_id"))
      case _ =>
    }
  }

  test("upsert is last-write-wins on the natural key") {
    val u = EtlOps.etlUpsertLastwins(spark, sf001)
    assert(u.count() == events(spark, sf001).count()) // one row per key
    val base = events(spark, sf001)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
    val deltaKeys = base.where(col("k") >= 50).select(col("event_id"))
    val v2 = u.where(col("version") === 2).select(col("event_id"))
    assert(v2.except(deltaKeys).count() == 0)
    assert(deltaKeys.except(v2).count() == 0)
  }

  test("decimal aggregation is partition-permutation invariant") {
    val one = lineitem(spark, sf001).repartition(1)
      .agg(sum(money(col("l_extendedprice")))).head.getDecimal(0)
    val eight = lineitem(spark, sf001).repartition(8)
      .agg(sum(money(col("l_extendedprice")))).head.getDecimal(0)
    assert(one == eight)
  }

  test("VectorMean matches a hand-computed centroid") {
    val vm = udaf(graft.functions.VectorMean)
    val got = embeddings(spark, sf001).where(col("label") === 0)
      .agg(vm(col("embedding"))).head.getSeq[Double](0)
    val rows = embeddings(spark, sf001).where(col("label") === 0)
      .select(col("embedding")).collect().map(_.getSeq[Float](0))
    val want = (0 until rows.head.length).map(i =>
      rows.map(_(i).toDouble).sum / rows.length)
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
  }

  test("FloatVecDot equals the fold formulation bit-for-bit") {
    val e = embeddings(spark, sf001).limit(50)
    val withBoth = e.select(
      org.apache.spark.sql.graft.VectorExprs.vecDot(col("embedding"), col("embedding"))
        .as("fast"),
      aggregate(zip_with(col("embedding"), col("embedding"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("ref"))
    assert(withBoth.where(col("fast") =!= col("ref")).count() == 0)
  }

  test("FloatVecCosine equals the composed dot/sqrt formulation bit-for-bit") {
    val e = embeddings(spark, sf001)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    val vd = org.apache.spark.sql.graft.VectorExprs.vecDot _
    val pairs = a.join(b, col("a_id") + 1 === col("b_id"))
      .select(
        org.apache.spark.sql.graft.VectorExprs.vecCosine(col("ea"), col("eb")).as("fused"),
        (vd(col("ea"), col("eb")) /
          (sqrt(vd(col("ea"), col("ea"))) * sqrt(vd(col("eb"), col("eb"))))).as("composed"))
    assert(pairs.where(col("fused") =!= col("composed")).count() == 0)
  }

  test("TopKByScore matches the row_number window formulation") {
    val scored = events(spark, sf001)
      .select(col("user_id"), col("value").as("score"), col("event_id"))
    val viaAgg = scored.groupBy(col("user_id"))
      .agg(org.apache.spark.sql.graft.TopKAgg
        .topK(col("score"), col("event_id"), 3).as("top"))
      .select(col("user_id"), posexplode(col("top")))
      .select(col("user_id"), (col("pos") + 1).as("rnk"),
              col("col.id").as("event_id"), col("col.score").as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("score").desc, col("event_id"))
    val viaWindow = scored
      .withColumn("rnk", row_number().over(w).cast("long")).where(col("rnk") <= 3)
      .select(col("user_id"), col("rnk"), col("event_id"), col("score"))
    assert(viaAgg.exceptAll(viaWindow).count() == 0)
    assert(viaWindow.exceptAll(viaAgg).count() == 0)
  }

  test("Session.timed counts its own call's jobs and stages, the same on every call") {
    // compiles are JVM-wide and depend on the codegen cache, so only
    // jobs and stages are compared across calls
    def counts() = Session.timed(spark, "join_anti", sf001).get.tally.counts
    def jobsStages(c: Session.Counts) = (c.jobs, c.stages)
    counts() // a first load also infers the tables' schemas (Tables' memo)
    val first = counts()
    assert(jobsStages(counts()) == jobsStages(first))
    assert(first.stages >= first.jobs && first.jobs >= 1, first)
    // a thread started before the call does not inherit its tag: the
    // jobs it launches while the call runs are not the call's
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val untagged = new java.util.concurrent.atomic.AtomicInteger()
    val other = new Thread(() => while (running.get) {
      spark.range(10).count(); untagged.incrementAndGet(); ()
    })
    other.start()
    try {
      while (untagged.get == 0) Thread.sleep(5)
      val before = untagged.get
      val during = Session.timed(spark, "join_anti", sf001).get.tally
      assert(untagged.get > before, "no untagged job ran during the call")
      assert(jobsStages(during.counts) == jobsStages(first))
    } finally { running.set(false); other.join() }
  }

  test("Session.timed counts Janino compiles: none on a second consecutive call") {
    def counts() = Session.timed(spark, "agg_hash_groupby", sf001).get.tally.counts
    // each call builds a fresh plan (new expression ids), but its
    // generated classes are the same text, so the codegen cache serves
    // the second call
    counts()
    val second = counts()
    assert(second.compiles == 0, second)
    assert(second.jobs >= 1, second)
  }

  test("Session.bestOf is None when every attempt fails") {
    assert(Session.bestOf(spark, "no_such_op", sf001, 3).isEmpty)
  }
}
