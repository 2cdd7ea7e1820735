package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loader contract tests: the corpus regenerates between rounds and has
  * already drifted its timestamp encoding once (TIMESTAMP(NANOS) →
  * timestamp[us] in round 8, which broke 34 operators at analysis
  * time). These cases pin the guarantees that recovery relied on:
  *  - `Tables.events` yields identical TimestampType values whichever
  *    documented encoding is on disk (ns-long legacy, µs NTZ, µs UTC);
  *  - a drift OUTSIDE the allowed kind set fails AT LOAD with a
  *    message naming the table and column, not deep inside a query.
  */
class TablesSpec extends SparkSpec {

  /** A tiny events table with deterministic µs-aligned instants. */
  private def sampleRows: Seq[(Long, Long, Long, String, Double, String)] =
    (0L until 10L).map { i =>
      // 2024-01-01T00:00:00Z plus i minutes and i microseconds
      val us = 1704067200000000L + i * 60000000L + i
      (i, us, i % 3, s"type${i % 2}", i * 1.5, s"""{"k":$i}""")
    }

  /** Write the sample as events.parquet under `dir` (a fresh dir by
    * default) with `ts` encoded by `enc`, returning the dir usable as
    * an sfDir. */
  private def writeEvents(enc: String,
      dir: String = tempDir("tables_spec_ev")): String = {
    import spark.implicits._
    val base = sampleRows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val ts = enc match {
      case "ns_long" => (col("us") * 1000L).as("ts")                       // legacy NANOS surfaced as ns-long
      case "us_ntz"  => timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")
      case "us_utc"  => timestamp_micros(col("us")).as("ts")
      case "string"  => col("us").cast("string").as("ts")                  // outside the KTs kind
    }
    base.select(col("event_id"), ts, col("user_id"), col("event_type"),
        col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def loaded(dir: String): Seq[(Long, Long)] =
    Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("events loader: all three ts encodings load to identical TimestampType instants") {
    val expected = sampleRows.map(r => (r._1, r._2)).sorted
    for (enc <- Seq("ns_long", "us_ntz", "us_utc")) {
      val df: DataFrame = Tables.events(spark, writeEvents(enc))
      assert(df.schema("ts").dataType == TimestampType, s"enc=$enc")
      assert(loaded(writeEvents(enc)) == expected, s"enc=$enc")
    }
  }

  test("events loader: a ts drift outside the kind set fails at load, naming the column") {
    import spark.implicits._
    val dir = tempDir("tables_spec_bad")
    sampleRows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("us").cast("string").as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events"), e.getMessage)
    assert(e.getMessage.contains("ts"), e.getMessage)
  }

  test("events loader: DateType ts is rejected at load like any other kind drift") {
    // DateType is outside KTs (the normalizer can't recover an instant
    // from a date), so it must fail with the same require-based
    // IllegalArgumentException as any contract drift — not a separate
    // exception type deeper in the loader.
    import spark.implicits._
    val dir = tempDir("tables_spec_date")
    sampleRows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).cast(DateType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events"), e.getMessage)
    assert(e.getMessage.contains("ts"), e.getMessage)
  }

  test("KTs normalization is generic: drifted o_orderdate encodings load as TimestampType") {
    // The round-8 drift hit events.ts; if a future regeneration does
    // the same to orders/lineitem timestamps, the SAME normalization
    // must apply (ADVICE r9: previously only events normalized, so an
    // ns-long o_orderdate would pass the load contract then break
    // date arithmetic downstream).
    import spark.implicits._
    val us0 = 1704067200000000L // 2024-01-01T00:00:00Z
    for (enc <- Seq("ns_long", "us_ntz", "us_utc")) {
      val dir = tempDir(s"tables_spec_ord_$enc")
      val base = Seq((1L, 1L, "O", 10.0, us0, "1-URGENT"))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "us", "o_orderpriority")
      val od = enc match {
        case "ns_long" => (col("us") * 1000L).as("o_orderdate")
        case "us_ntz"  => timestamp_micros(col("us")).cast(TimestampNTZType).as("o_orderdate")
        case "us_utc"  => timestamp_micros(col("us")).as("o_orderdate")
      }
      base.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), od, col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val df = Tables.orders(spark, dir)
      assert(df.schema("o_orderdate").dataType == TimestampType, s"enc=$enc")
      val got = df.select(unix_micros(col("o_orderdate"))).collect()(0).getLong(0)
      assert(got == us0, s"enc=$enc got=$got")
    }
  }

  test("loader contract: a missing column fails at load with the table named") {
    import spark.implicits._
    val dir = tempDir("tables_spec_miss")
    Seq((1, "AFRICA")).toDF("r_regionkey", "wrong_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val e = intercept[IllegalArgumentException](Tables.region(spark, dir))
    assert(e.getMessage.contains("region"), e.getMessage)
    assert(e.getMessage.contains("r_name"), e.getMessage)
  }

  test("loader contract: a missing table raises Spark's path error") {
    val dir = tempDir("tables_spec_none")
    val e = intercept[org.apache.spark.sql.AnalysisException](Tables.region(spark, dir))
    assert(e.getMessage.contains("region.parquet"), e.getMessage)
  }

  test("graded corpus passes the kind contract for every table") {
    for (sf <- Seq(sf001, sf01)) {
      Seq(Tables.region(spark, sf), Tables.nation(spark, sf),
        Tables.customer(spark, sf), Tables.supplier(spark, sf),
        Tables.part(spark, sf), Tables.orders(spark, sf),
        Tables.lineitem(spark, sf), Tables.events(spark, sf),
        Tables.documents(spark, sf), Tables.embeddings(spark, sf))
        .foreach(df => assert(df.columns.nonEmpty))
    }
  }

  /** A small lineitem table under a fresh dir, returned as an sfDir. */
  private def writeLineitem(): String = {
    import spark.implicits._
    val dir = tempDir("tables_spec_li")
    (1L to 20L).map(i => (i, i % 7, i % 3, 1, i * 1.0, i * 10.25, 0.05, 0.02, "N", "O",
        1704067200000000L + i))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "us")
      .withColumn("l_shipdate", timestamp_micros(col("us"))).drop("us")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("schema memo: a repeat load of an unchanged table launches no Spark job") {
    val dir = writeLineitem()
    val (first, c1) = Session.counted(spark)(Tables.lineitem(spark, dir))
    val (second, c2) = Session.counted(spark)(Tables.lineitem(spark, dir))
    assert(c1.jobs == 1, s"first load launched ${c1.jobs} jobs")
    assert(c2.jobs == 0, s"repeat load launched ${c2.jobs} jobs")
    assert(first.schema == second.schema)
    assert(first.collect().toSeq == second.collect().toSeq)
  }

  test("schema memo: a table overwritten in place is never read with its stale schema") {
    val expected = sampleRows.map(r => (r._1, r._2)).sorted
    val dir = writeEvents("us_utc")
    assert(loaded(dir) == expected)
    // a new ts encoding: the next load infers it and normalizes it again
    writeEvents("ns_long", dir)
    assert(loaded(dir) == expected)
    // an out-of-kind type: the next load raises the drift error
    writeEvents("string", dir)
    val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
    assert(e.getMessage.contains("ts"), e.getMessage)
  }

  test("schema memo: flipping a parquet inference conf infers again") {
    val dir = writeLineitem()
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      Tables.lineitem(spark, dir)
      assert(Session.counted(spark)(Tables.lineitem(spark, dir))._2.jobs == 0)
      spark.conf.set(key, (!spark.conf.get(key).toBoolean).toString)
      assert(Session.counted(spark)(Tables.lineitem(spark, dir))._2.jobs == 1)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("schema memo: concurrent loads of one table agree") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val dir = writeLineitem()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val got = Await.result(Future.sequence((1 to 8).map(_ => Future {
        val df = Tables.lineitem(spark, dir)
        (df.schema, df.collect().toSeq)
      })), 5.minutes)
      val want = Tables.lineitem(spark, dir)
      assert(got.forall(_ == ((want.schema, want.collect().toSeq))))
    } finally pool.shutdown()
  }
}
