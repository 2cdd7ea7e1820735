package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{EtlPipeline, SchemaValidator}

/** End-to-end pipeline integration: raw CSV → validate → normalize →
  * upsert → partitioned sink, with Luigi-style idempotence. */
class PipelineSpec extends SparkSpec {

  private def writeRawCsv(dir: String, rows: Seq[(Long, String, Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("reading_id", "ts", "meter_id", "fuel", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
  }

  test("pipeline: quarantine, dedup, unit conversion, partitioned load") {
    val raw = tempDir("graft_raw")
    val sink = tempDir("graft_sink") + "/readings"
    writeRawCsv(raw, Seq(
      (1L, "2024-01-01 00:00:00", 10L, "electricity", 5.00),
      (2L, "2024-01-01 00:00:00", 10L, "electricity", 5.00),  // dup (meter, ts)
      (3L, "2024-01-01 01:00:00", 10L, "natural_gas", 2.00),  // therms -> kWh
      (4L, "2024-01-02 00:00:00", 11L, "electricity", -1.0),  // negative: quarantine
      (5L, "2024-01-02 01:00:00", 11L, "electricity", 7.25)))
    val s = EtlPipeline.run(spark, raw, sink)
    // 5 in, 1 quarantined, dup (meter 10 @ 00:00) collapsed -> 3 survive
    assert(s == EtlPipeline.Summary(ingested = 5, quarantined = 1, deduped = 3, loaded = 3))
    val out = spark.read.parquet(sink)
    // unit conversion exact: 2.00 therms * 29.3001 = 58.6002 kWh
    val gas = out.where(col("reading_id") === 3).head
    assert(gas.getDecimal(gas.fieldIndex("kwh")).doubleValue() == 58.6002)
    // dup keeps the earliest reading_id
    assert(out.where(col("meter_id") === 10 && col("ts") === "2024-01-01 00:00:00")
      .head.getLong(0) == 1L)
    // date partitions on disk
    val dirs = new java.io.File(sink).listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("reading_date=2024-01-01")))
    assert(dirs.exists(_.startsWith("reading_date=2024-01-02")))
  }

  test("pipeline re-run is idempotent; delta batch upserts last-write-wins") {
    val raw = tempDir("graft_raw2")
    val sink = tempDir("graft_sink2") + "/readings"
    writeRawCsv(raw, Seq(
      (1L, "2024-01-01 00:00:00", 10L, "electricity", 5.00),
      (2L, "2024-01-01 01:00:00", 10L, "electricity", 6.00)))
    val first = EtlPipeline.run(spark, raw, sink)
    val again = EtlPipeline.run(spark, raw, sink)
    assert(first.loaded == 2 && again.loaded == 2) // converged
    // delta: reading 2 restated, reading 3 new
    writeRawCsv(raw, Seq(
      (2L, "2024-01-01 01:00:00", 10L, "electricity", 9.99),
      (3L, "2024-01-01 02:00:00", 10L, "electricity", 1.00)))
    val delta = EtlPipeline.run(spark, raw, sink)
    assert(delta.loaded == 3)
    val out = spark.read.parquet(sink)
    val v2 = out.where(col("reading_id") === 2).head
    assert(v2.getDecimal(v2.fieldIndex("kwh")).doubleValue() == 9.99) // new batch won
  }

  test("one counting pass: Summary equals the three recounts; a re-run plans and loads in 2 jobs") {
    import spark.implicits._
    val raw = tempDir("graft_raw3")
    val sink = tempDir("graft_sink3") + "/readings"
    Seq[(Option[Long], Option[String], Option[Long], String, Option[Double])](
      (Some(1L), Some("2024-01-01 00:00:00"), Some(10L), "electricity", Some(5.0)),
      // the same (meter, ts) delivered as both fuels, and again: dedup
      // keeps one row per (meter, ts) whatever the fuel
      (Some(2L), Some("2024-01-01 00:00:00"), Some(10L), "natural_gas", Some(1.0)),
      (Some(3L), Some("2024-01-01 00:00:00"), Some(10L), "natural_gas", Some(1.0)),
      (Some(4L), Some("2024-01-01 01:00:00"), Some(10L), "natural_gas", Some(2.0)),
      (Some(5L), Some("2024-01-01 01:00:00"), Some(11L), "electricity", Some(3.0)),
      (Some(6L), Some("2024-01-01 01:00:00"), Some(11L), "natural_gas", Some(3.0)),
      // one row per quarantine reason
      (None, Some("2024-01-02 00:00:00"), Some(12L), "electricity", Some(1.0)),
      (Some(8L), None, Some(12L), "electricity", Some(1.0)),
      (Some(9L), Some("2024-01-02 00:00:00"), None, "electricity", Some(1.0)),
      (Some(10L), Some("2024-01-02 00:00:00"), Some(12L), "electricity", None),
      (Some(11L), Some("2024-01-02 00:00:00"), Some(12L), "electricity", Some(-1.0)),
      // a bad row sharing a valid row's (meter, ts) adds no dedup group
      (Some(12L), Some("2024-01-01 00:00:00"), Some(10L), "electricity", Some(-2.0))
    ).toDF("reading_id", "ts", "meter_id", "fuel", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(raw)
    val s = EtlPipeline.run(spark, raw, sink)
    val parsed = EtlPipeline.parse(spark, raw)
    val (valid, rejects) = EtlPipeline.split(parsed)
    assert(s == EtlPipeline.Summary(parsed.count(), rejects.count(),
      EtlPipeline.normalize(valid).count(), s.loaded))
    assert(s == EtlPipeline.Summary(ingested = 12, quarantined = 6, deduped = 3, loaded = 3))
    // a re-run over the existing sink in the default session (AQE on)
    // counts the same through its observed metrics
    assert(EtlPipeline.run(spark, raw, sink) == s)
    // and in a session with the graded setting AQE off (with AQE on
    // every shuffle stage is a job of its own): the sink read plans
    // from the declared schema and every count is observed, so the
    // jobs are the checkpoint and the sink write
    val graded = spark.newSession()
    graded.conf.set("spark.sql.adaptive.enabled", "false")
    val (again, c) = Session.counted(spark)(EtlPipeline.run(graded, raw, sink))
    assert(again == s)
    assert(c.jobs <= 2, s"re-run launched ${c.jobs} jobs")
  }

  test("an empty batch observes zero counts, with and without AQE") {
    val raw = tempDir("graft_raw_empty")
    java.nio.file.Files.write(java.nio.file.Paths.get(raw, "part-0.csv"),
      "reading_id,ts,meter_id,fuel,value\n".getBytes("UTF-8"))
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    val loadedRaw = tempDir("graft_raw_two")
    writeRawCsv(loadedRaw, Seq(
      (1L, "2024-01-01 00:00:00", 10L, "electricity", 5.00),
      (2L, "2024-01-01 01:00:00", 10L, "electricity", 6.00)))
    Seq(spark, noAqe).foreach { session =>
      val sink = tempDir("graft_sink_empty") + "/readings"
      assert(EtlPipeline.run(session, raw, sink) == EtlPipeline.Summary(0, 0, 0, 0))
      // onto an existing sink: the empty side of the upsert's union
      EtlPipeline.run(session, loadedRaw, sink)
      assert(EtlPipeline.run(session, raw, sink) == EtlPipeline.Summary(0, 0, 0, 2))
    }
  }

  test("concurrent runs into different sinks each count their own batch") {
    def batch(n: Int, bad: Int) =
      (1 to n).map(i => (i.toLong, s"2024-01-01 ${"%02d".format(i % 24)}:00:00",
        10L + i / 24, "electricity", if (i <= bad) -1.0 else 1.0))
    val runs = Seq((9, 2), (30, 5)).map { case (n, bad) =>
      val raw = tempDir("graft_raw_conc")
      writeRawCsv(raw, batch(n, bad))
      (raw, tempDir("graft_sink_conc") + "/readings",
        EtlPipeline.Summary(n, bad, n - bad, n - bad))
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val summaries = Await.result(Future.sequence(runs.map { case (raw, sink, _) =>
      Future(EtlPipeline.run(spark, raw, sink))
    }), scala.concurrent.duration.Duration(5, "min"))
    assert(summaries == runs.map(_._3))
  }

  test("schema validator fails fast on missing or mistyped columns") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("reading_id", "fuel")
    intercept[IllegalArgumentException] {
      SchemaValidator.requireColumns(df,
        Seq("reading_id" -> org.apache.spark.sql.types.LongType,
            "ts" -> org.apache.spark.sql.types.TimestampType))
    }
  }
}
