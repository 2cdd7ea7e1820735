package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.Transforms

/** The reference's end-to-end flow — a Luigi task DAG of
  * fetch → parse → normalize → upload — re-expressed as one
  * declarative Spark job over interval-reading data.
  *
  * Correspondence (SURVEY §1.1 / §3.1):
  *  - Luigi targets + marker files  → deterministic transforms +
  *    `mode(overwrite)` sinks: re-running any stage converges to the
  *    same output (idempotence by construction, not bookkeeping);
  *  - parse + column validation     → schema'd CSV read +
  *    [[SchemaValidator]] (hard fail on missing/mistyped columns,
  *    row-level quarantine instead of job abort for bad values);
  *  - pytz UTC normalization + unit maps → session-TZ UTC timestamps
  *    + exact-decimal unit conversion;
  *  - chunked bulk upsert (last-write-wins on natural key) →
  *    [[graft.api.Transforms.upsertLastWins]] against the existing sink;
  *  - datastore load              → date-partitioned parquet.
  *
  * Scale posture: every stage is a narrow transform or a single keyed
  * shuffle (the dedup/upsert); the sink partitions by reading date so
  * incremental consumers prune. Nothing collects to the driver.
  */
object EtlPipeline {

  /** Raw utility-export schema (CSV at rest). */
  val rawSchema: StructType = StructType(Seq(
    StructField("reading_id", LongType),
    StructField("ts", TimestampType),
    StructField("meter_id", LongType),
    StructField("fuel", StringType),
    StructField("value", DoubleType)))

  /** kWh per therm, exact to the reference's 4-dp factor. */
  private val ThermsToKwh = lit(29.3001).cast(DecimalType(6, 4))

  case class Summary(ingested: Long, quarantined: Long, deduped: Long, loaded: Long)

  /** Parse stage: schema'd CSV read (no inference — schema-on-read is
    * metadata, not a data pass) + structural validation. */
  def parse(spark: SparkSession, rawDir: String): DataFrame = {
    val df = spark.read.schema(rawSchema).option("header", "true").csv(rawDir)
    SchemaValidator.requireColumns(df,
      rawSchema.fields.map(f => f.name -> f.dataType))
    df
  }

  /** The quarantine predicate: a row missing its key, timestamp,
    * meter or value, or with a negative value. Never null. */
  private val bad = col("reading_id").isNull || col("ts").isNull ||
    col("meter_id").isNull || col("value").isNull || col("value") < 0

  /** Row-level QA: rows missing key/timestamp or with negative values
    * are quarantined, not fatal (the reference logged-and-skipped). */
  def split(parsed: DataFrame): (DataFrame, DataFrame) =
    (parsed.where(!bad), parsed.where(bad))

  /** Normalize: exact-decimal unit conversion to kWh + earliest-wins
    * dedup per (meter, ts) — duplicate interval readings are the
    * reference's most common data defect. */
  def normalize(valid: DataFrame): DataFrame = {
    val kwh = when(col("fuel") === "natural_gas",
        col("value").cast(DecimalType(18, 2)) * ThermsToKwh)
      .otherwise(col("value").cast(DecimalType(18, 2)))
      .cast(DecimalType(28, 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("meter_id"), col("ts"))
      .orderBy(col("reading_id"))
    valid
      .withColumn("kwh", kwh)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "value", "fuel")
  }

  /** Load: upsert onto the existing sink (last-write-wins by
    * reading_id, new batch wins) and overwrite the date-partitioned
    * parquet — rerunning the same batch converges (Luigi-target
    * idempotence). Returns per-stage counts.
    *
    * The existing sink is read with the schema this method writes —
    * `normalize`'s columns plus `reading_date: date` — so planning the
    * read opens no footer. A sink whose columns have other types (not
    * written by this method) fails when it is read.
    *
    * Two Spark jobs with AQE off (with AQE on, each shuffle stage is a
    * job of its own): the `localCheckpoint` that materializes the
    * upsert, and the sink write. Nothing is counted by a job of its
    * own — every `Summary` field is an observed metric
    * (`Dataset.observe`) of the checkpoint job, read once the write
    * has returned:
    *  - `ingested`: `count(1)` over the parsed batch;
    *  - `quarantined`: `count_if` of the quarantine predicate over the
    *    parsed batch;
    *  - `deduped`: `count(1)` over `normalize`'s output;
    *  - `loaded`: `count(1)` over the staged sink rows.
    * The observations are unnamed (each gets a unique name), so
    * concurrent runs in one session never share one. */
  def run(spark: SparkSession, rawDir: String, sinkDir: String): Summary = {
    val (batch, deduped, loaded) = (Observation(), Observation(), Observation())
    val parsed = parse(spark, rawDir)
      .observe(batch, count(lit(1)).as("n"), count_if(bad).as("bad"))
    val (valid, _) = split(parsed)
    val normalized = normalize(valid).observe(deduped, count(lit(1)).as("n"))

    // first run == sink path absent, checked explicitly. A transient
    // FS error, permission failure, or corrupt footer must FAIL the
    // job (propagate), not silently overwrite previously loaded data
    // as if nothing had been loaded.
    val sinkPath = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = sinkPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sinkSchema = StructType(
      normalized.schema.fields.map(_.copy(nullable = true)) :+
        StructField("reading_date", DateType))
    val existing =
      if (fs.exists(sinkPath))
        Some(spark.read.schema(sinkSchema).parquet(sinkDir)
          .select(normalized.columns.map(col): _*)
          .withColumn("__version", lit(1)))
      else None
    val incoming = normalized.withColumn("__version", lit(2))
    val merged = existing match {
      case Some(e) => Transforms
        .upsertLastWins(e, incoming, Seq("reading_id"), "__version")
        .drop("__version")
      case None => incoming.drop("__version")
    }

    // localCheckpoint materializes the merge and breaks lineage so the
    // sink can be overwritten while (logically) being read from — the
    // read-modify-overwrite cycle every idempotent upsert sink needs.
    val staged = merged.withColumn("reading_date", to_date(col("ts")))
      .observe(loaded, count(lit(1)).as("n"))
      .localCheckpoint()
    staged.write.mode("overwrite")
      .partitionBy("reading_date").parquet(sinkDir)
    def n(o: Observation, metric: String = "n") = o.get(metric).asInstanceOf[Long]
    Summary(n(batch), n(batch, "bad"), n(deduped), n(loaded))
  }
}

/** Structural schema validation (the reference's expected-column-list
  * check before upload). */
object SchemaValidator {
  def requireColumns(df: DataFrame, expected: Seq[(String, DataType)]): Unit = {
    val actual = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val problems = expected.flatMap { case (name, dt) =>
      actual.get(name) match {
        case None => Some(s"missing column $name")
        case Some(a) if a != dt => Some(s"column $name: expected $dt, found $a")
        case _ => None
      }
    }
    require(problems.isEmpty, s"schema validation failed: ${problems.mkString("; ")}")
  }
}
