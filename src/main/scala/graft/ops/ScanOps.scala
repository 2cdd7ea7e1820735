package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap
import graft.Tables._

/** SURVEY §2.A — scans, sources, sinks (#1–#5).
  *
  * Scale posture: scans stay bare `spark.read.parquet` so Catalyst can
  * push predicates/projections into the reader (verified via
  * `PushedFilters`/`ReadSchema` in explain); the CSV/sink round-trips
  * write to per-run temp dirs (idempotent overwrite, the Luigi-target
  * idempotence model of the reference re-expressed as deterministic
  * transforms + overwrite sinks).
  */
object ScanOps {

  /** #106's injected malformed CSV lines — the single source of truth
    * for BOTH the fixture writer and the oracle's corrupt count, so
    * growing the injection changes exactly this one list. Each line
    * must actually be malformed against the 3-column nation schema. */
  private val csvPermissiveInjected: Seq[String] = Seq("oops,BROKEN")

  /** #1 — full scan + count-style aggregate over the fact table. */
  def scanParquet(spark: SparkSession, sf: String): DataFrame =
    lineitem(spark, sf).agg(
      count(lit(1)).as("n_rows"),
      sum(money(col("l_quantity"))).cast("double").as("total_qty"))

  /** #2 — pruned + pushed-down scan: 3 columns, shipdate range. The
    * filter reaches the parquet reader (PushedFilters) and the scan
    * reads only 3 of 11 columns (ReadSchema) — at 100 TB this is the
    * difference between reading ~27% and 100% of the table. */
  def scanPrunedPushdown(spark: SparkSession, sf: String): DataFrame =
    lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      .where(col("l_shipdate") >= ts("2001-06-01") && col("l_shipdate") < ts("2001-09-01"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** #3 — CSV source round-trip (reference: raw utility CSV ingest):
    * write nation as headered CSV, read back with an explicit schema
    * (no inference — schema-on-read is driver-side metadata only),
    * aggregate. Oracle-graded: the round-trip is lossless (explicit
    * schema, int/string columns), so the result equals the same
    * aggregate straight off the nation parquet. */
  def sourceCsvRoundtrip(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.Tables.scratch("graft_csv_roundtrip")
    nation(spark, sf).coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    spark.read.schema(schema).option("header", "true").csv(dir)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), max(col("n_name")).as("max_name"))
      .orderBy(col("n_regionkey"))
  }

  /** #4 — JSON-lines payload parse (reference: API payload parsing):
    * events.props JSON → typed struct → group by extracted key. */
  def sourceJsonLines(spark: SparkSession, sf: String): DataFrame =
    events(spark, sf)
      .select(
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k"),
        col("value"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_events"),
           sum(money(col("value"))).cast("double").as("total_value"))
      .orderBy(col("k"))

  /** #81 — XML source round-trip (reference: Green-Button ESPI XML
    * ingest): write nation as element-per-row XML, read back with an
    * explicit schema via Spark 4's built-in XML source, aggregate.
    * Oracle-graded: lossless round-trip (explicit schema, XML
    * escaping handled by the source) — oracle is the same aggregate
    * off the nation parquet. */
  def sourceXmlRoundtrip(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.Tables.scratch("graft_xml_roundtrip")
    nation(spark, sf).coalesce(1)
      .write.mode("overwrite")
      .option("rootTag", "nations").option("rowTag", "nation")
      .format("xml").save(dir)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    spark.read.schema(schema).option("rowTag", "nation").format("xml").load(dir)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), max(col("n_name")).as("max_name"))
      .orderBy(col("n_regionkey"))
  }

  /** #87 — ESPI-shaped nested XML parse (reference: Green-Button
    * feed → entry → IntervalBlock → IntervalReading). Unlike #81's
    * flat element-per-row shape, this round-trips a NESTED document:
    * one entry per user holding an IntervalBlock with repeated
    * IntervalReading children, read back with an explicit nested
    * schema and exploded to reading rows — the reference's one parse
    * shape a flat rowTag cannot express. Oracle-graded: the nested
    * round-trip is lossless (longs + doubles whose Java toString
    * round-trips exactly), so the result equals the per-user
    * aggregate straight off the events parquet. */
  def sourceXmlEspi(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.Tables.scratch("graft_xml_espi")
    events(spark, sf)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("start"),
               col("value").cast("double").as("value")).as("r"))
      .groupBy(col("user_id"))
      .agg(struct(collect_list(col("r")).as("IntervalReading")).as("IntervalBlock"))
      .write.mode("overwrite")
      .option("rootTag", "feed").option("rowTag", "entry")
      .format("xml").save(dir)
      // (round 19: the former coalesce(1) serialized the whole XML
      // serialization onto ONE task — guide §2.6 idle-capacity — for a
      // single-file layout nothing needs: the rowTag read handles a
      // multi-file feed directory identically, and the graded output
      // aggregates per user, so file count cannot reach the hash)
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("IntervalBlock", StructType(Seq(
        StructField("IntervalReading", ArrayType(StructType(Seq(
          StructField("start", LongType),
          StructField("value", DoubleType))))))))))
    spark.read.schema(schema).option("rowTag", "entry").format("xml").load(dir)
      .select(col("user_id"),
        explode(col("IntervalBlock.IntervalReading")).as("reading"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_readings"),
           min(col("reading.start")).as("first_start"),
           sum(col("reading.value").cast(DecimalType(18, 2))).cast("double")
             .as("total_value"))
      .orderBy(col("user_id"))
  }

  /** #106 — PERMISSIVE CSV parse with corrupt-record capture: the
    * ingestion reality the strict round-trip (#3) skips. One
    * malformed line is injected into the written CSV; it is doubly
    * malformed: the token count (2) differs from the schema arity (3),
    * which UnivocityParser has flagged as a bad record since Spark 2.3
    * (parsable fields are still null-padded into the row), AND the
    * non-numeric key ("oops") fails the INT cast — either alone would
    * land it in `_corrupt_record`. The permissive reader must load
    * every good row, route the bad line into `_corrupt_record`, and
    * keep the aggregate over good rows untouched. Oracle-graded: good
    * rows == nation, corrupt count == the 1 injected line (SQL
    * constants). */
  def sourceCsvPermissive(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.Tables.scratch("graft_csv_permissive")
    nation(spark, sf).coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(dir)
    // a SEPARATE file, not an append — the local Hadoop fs keeps a
    // .crc sidecar per written part and appending breaks its
    // checksum. With header=true Spark skips the first line of EVERY
    // file, so the injected file carries its own header line.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "malformed-extra.csv"),
      "n_nationkey,n_name,n_regionkey\n" + csvPermissiveInjected.mkString("\n") + "\n")
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema).option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir)
      .agg(count(lit(1)).as("n_rows_total"),
           count(col("_corrupt_record")).as("n_corrupt"),
           count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
           max(col("n_nationkey")).as("max_key"))
  }

  /** #102 — ORC source round-trip (reference: columnar datastore
    * interchange): same contract as the CSV/XML round-trips over
    * Spark's built-in ORC source. Oracle-graded: lossless columnar
    * round-trip ⇒ oracle is the same aggregate off the nation
    * parquet. */
  def sourceOrcRoundtrip(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.Tables.scratch("graft_orc_roundtrip")
    nation(spark, sf).coalesce(1).write.mode("overwrite").orc(dir)
    spark.read.orc(dir)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), max(col("n_name")).as("max_name"))
      .orderBy(col("n_regionkey"))
  }

  /** #179 — Avro container round-trip (round 11; reference: the
    * row-oriented interchange format every Kafka-adjacent ingest
    * speaks): the orders fact is written as an Avro object-container
    * file and read back through Spark 4's bundled Avro source
    * (`org.apache.spark.sql.avro`, merged into spark-sql), then
    * aggregated. This exercises the logical types the columnar
    * round-trips don't: timestamps land as Avro `timestamp-micros`
    * and the graded output compares them at exact microseconds, so a
    * precision-truncating writer (or a millis-defaulting reader)
    * fails the hash. Oracle: lossless round-trip ⇒ the same aggregate
    * off the orders parquet. Scale: Avro is the streaming-ingest
    * interchange; the write is one narrow pass — `coalesce(1)` here is
    * a graded-fixture convenience (one container file), where a
    * production interchange write keeps the natural output
    * partitioning and shards — and the read scans with the same split
    * parallelism as any file source; downstream plans are
    * format-agnostic. */
  def sourceAvroRoundtrip(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.Tables.scratch("graft_avro_roundtrip")
    // the short name "avro" is not service-registered in this build's
    // spark-sql jar; the bundled FileFormat class loads by full name
    val avroFmt = "org.apache.spark.sql.avro.AvroFileFormat"
    orders(spark, sf).coalesce(1).write.mode("overwrite").format(avroFmt).save(dir)
    spark.read.format(avroFmt).load(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           sum(money(col("o_totalprice"))).cast("double").as("total_price"),
           min(unix_micros(col("o_orderdate"))).as("first_order_us"),
           max(unix_micros(col("o_orderdate"))).as("last_order_us"))
      .orderBy(col("o_orderstatus"))
  }

  /** #86 — raw text-lines source (reference: opaque raw-file fetch
    * stage): write document texts as plain lines, read back with
    * `spark.read.text`, aggregate line lengths. Oracle-graded: the
    * corpus texts are newline-free and non-null (asserted below), so
    * lines == documents and the aggregate equals the same lengths
    * straight off the documents parquet. */
  def sourceTextLines(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.Tables.scratch("graft_text_lines")
    // a text containing a line terminator would split into two lines
    // on read-back — fail loudly instead of silently diverging from
    // the documents-table oracle (same posture as the lsh dim guard).
    // Hadoop's line reader splits on \n, \r, AND \r\n, so a lone CR
    // is just as fatal as an LF.
    val bad = documents(spark, sf)
      .where(col("text").isNull || col("text").contains("\n") ||
             col("text").contains("\r")).count()
    require(bad == 0,
      s"sourceTextLines: $bad null/CR/LF texts break the line round-trip")
    documents(spark, sf).select(col("text"))
      .coalesce(1).write.mode("overwrite").text(dir)
    spark.read.text(dir)
      .select(length(col("value")).cast("long").as("line_len"))
      .agg(count(lit(1)).as("n_lines"),
           sum(col("line_len")).as("total_chars"),
           max(col("line_len")).as("max_len"))
  }

  /** #5 — partitioned parquet sink (reference: datastore load step):
    * write lineitem partitioned by returnflag, read back, verify by
    * aggregation. Oracle-graded: parquet round-trip is lossless and
    * the partition column (non-null strings) reads back as string, so
    * the result equals the same aggregate off the lineitem parquet. */
  def sinkParquetPartitioned(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.Tables.scratch("graft_sink_partitioned")
    lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    spark.read.parquet(dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
           sum(money(col("l_quantity"))).cast("double").as("total_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** #129 — parquet schema evolution (mergeSchema): the multi-year
    * datastore reality — early batches lack columns later batches
    * carry. Two batches of nation are written under partition
    * directories `batch=1` (original 3-column schema) and `batch=2`
    * (key shifted +100, plus a new `name_len` column); the merged
    * read must union the schemas, null-fill the missing column in
    * old batches, and surface `batch` as a partition column. Scale:
    * schema merge is a FOOTER-only operation (no data read) and the
    * scan stays partition-parallel. Oracle-graded: the round-trip is
    * lossless, so the per-batch aggregate is recomputable straight
    * off the nation parquet (the #102 pattern). */
  def sourceParquetEvolution(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.Tables.scratch("graft_parquet_evolution")
    val n = nation(spark, sf)
    n.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch=1")
    n.select((col("n_nationkey") + 100).as("n_nationkey"), col("n_name"),
             col("n_regionkey"),
             length(col("n_name")).cast("long").as("name_len"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch=2")
    spark.read.option("mergeSchema", "true").parquet(dir)
      .groupBy(col("batch").cast("long").as("batch"))
      .agg(count(lit(1)).as("n_rows"),
           count(col("name_len")).as("n_with_len"),
           sum(coalesce(col("name_len"), lit(0L))).as("total_len"),
           max(col("n_nationkey")).cast("long").as("max_key"))
      .orderBy(col("batch"))
  }

  /** #130 — globally-sorted sharded sink: write orders as 8
    * range-partitioned, internally-sorted parquet shards — the
    * distributed TOTAL SORT layout (sample → range shuffle → local
    * sort; no single sorting task, the thing `ORDER BY` into one file
    * cannot do at 100 TB). The read-back PROVES the global order:
    * per-file (min, max) of the sort key — computed distributed, 8
    * metadata rows to the driver — must be pairwise non-overlapping
    * in file-range order. Oracle-graded: lossless round-trip ⇒ the
    * per-year aggregate equals the same off the orders parquet. */
  def sinkSortedShards(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.Tables.scratch("graft_sorted_shards")
    orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .repartitionByRange(8, col("o_orderdate"), col("o_orderkey"))
      .sortWithinPartitions(col("o_orderdate"), col("o_orderkey"))
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    // numeric view of the sort key for the overlap check (typed date/
    // timestamp getters vary with the reader's java8 datetime config)
    val keyUs = unix_micros(col("o_orderdate").cast("timestamp"))
    val ranges = back
      .groupBy(input_file_name().as("f"))
      .agg(min(struct(keyUs.as("d"), col("o_orderkey").as("k"))).as("lo"),
           max(struct(keyUs.as("d"), col("o_orderkey").as("k"))).as("hi"))
      .collect() // one row per shard file — metadata scale
      .sortBy(r => (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))
    ranges.sliding(2).foreach {
      case Array(a, b) =>
        val hi = a.getStruct(2); val lo = b.getStruct(1)
        val ok = hi.getLong(0) < lo.getLong(0) ||
          (hi.getLong(0) == lo.getLong(0) && hi.getLong(1) < lo.getLong(1))
        require(ok, s"sinkSortedShards: shard ranges overlap: $a / $b")
      case _ => ()
    }
    back
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(count(lit(1)).as("n_orders"),
           sum(money(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy(col("o_year"))
  }

  /** Shared z-order arithmetic for #186 and its oracle: 8-bit
    * bucketize both keys against broadcast corpus bounds (pure integer
    * division, engine-exact — the only engine difference is the
    * integer-div spelling, `div` vs `//`), then interleave the bits:
    * z = Σᵢ bit_i(bx)·4^i·1 + bit_i(by)·4^i·2. Shift/mask operators
    * evaluate identically in Spark and DuckDB (probed), so the same
    * generated text runs in both. */
  private[graft] def zorderCols(intDiv: String): Seq[(String, String)] = {
    val bx = s"(((l_partkey - pk_min) * 256) $intDiv (pk_max - pk_min + 1))"
    val by = s"(((l_suppkey - sk_min) * 256) $intDiv (sk_max - sk_min + 1))"
    def interleave(e: String, off: Int): String =
      (0 until 8).map(i => s"(((($e) >> $i) & 1) << ${2 * i + off})")
        .mkString(" + ")
    Seq("zbx" -> bx, "zby" -> by,
        "z" -> s"${interleave(bx, 0)} + ${interleave(by, 1)}")
  }

  /** #186 — Z-order layout statistics (round 12; the OPTIMIZE
    * ZORDER / multi-dimensional clustering pass of every lakehouse
    * table format, as a verifiable computation): lineitem's
    * (l_partkey, l_suppkey) are 8-bit-bucketized against the corpus
    * bounds and BIT-INTERLEAVED into a Morton z-value, rows are cut
    * into 64 equal shards along the z-curve (the #36 distributed-rank
    * ntile — sketch coarse buckets + per-bucket offsets, NO
    * single-partition window), and the graded output is each shard's
    * bounding box in bucket space plus a data-skipping flag: does the
    * shard's bbox intersect the fixed center query box
    * [102,153]² (the 40–60% band of both key ranges)? That flag IS
    * the point of z-ordering — a file pruner consults exactly these
    * per-file min/max stats, and the interleaved curve keeps both
    * dimensions' ranges tight per shard where a 1-D sort leaves the
    * second dimension's range full-width in every shard (the property
    * test pins z strictly beating the 1-D layout's shard-touch
    * count). Oracle: identical integer arithmetic (shared generator,
    * `div` vs `//`) + `ntile(32)` under the same unique total order.
    * Scale: bucketize/interleave are per-row integer ops off a 1-row
    * broadcast bounds aggregate; the equal-cut is the #36 machinery;
    * a production write then range-partitions by z and writes like
    * #130 — per-shard stats stay metadata-scale (64 rows). */
  def layoutZorderPruning(spark: SparkSession, sf: String): DataFrame = {
    val li = lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"), col("l_suppkey"))
    val bounds = li.agg(
      min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"),
      min(col("l_suppkey")).as("sk_min"), max(col("l_suppkey")).as("sk_max"))
    val z = zorderCols("div").foldLeft(li.crossJoin(broadcast(bounds))) {
      case (df, (name, sql)) => df.withColumn(name, expr(sql))
    // localCheckpoint: a lineage barrier, not a correctness need —
    // Catalyst's projection collapse would otherwise inline the
    // 16-term interleave expression into every consumer inside the
    // rank machinery (bucket when-tree × count aggregate × join key),
    // re-evaluating it several times per row: measured 5.4 s vs ~1 s
    // at sf0.1. At 100 TB the same barrier is the materialized
    // z-column write this op's production form does anyway.
    }.localCheckpoint()
    // coarseBuckets stays LOW on purpose: the coarse-bucket when-tree
    // is re-evaluated ~3× per row across the rank machinery, so its
    // depth is a per-row multiplier — measured 3.5 s at 128 buckets
    // vs 1.6 s at 32 for identical output (bucket granularity only
    // balances the window partitions, never changes the ntile)
    val sharded = graft.api.Transforms.ntileBySketch(z, col("z"),
      struct(col("z"), col("l_orderkey"), col("l_linenumber")),
      n = 64, coarseBuckets = 32)
    sharded.groupBy(col("ntile").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_rows"),
           min(col("zbx")).as("bx_min"), max(col("zbx")).as("bx_max"),
           min(col("zby")).as("by_min"), max(col("zby")).as("by_max"))
      .withColumn("box_hit",
        col("bx_max") >= 102 && col("bx_min") <= 153 &&
        col("by_max") >= 102 && col("by_min") <= 153)
      .orderBy(col("shard"))
  }

  /** DuckDB oracle for #186, generated from the same arithmetic. */
  private def zorderOracle: String = {
    val cols = zorderCols("//")
      .map { case (n, sql) => s"$sql AS $n" }.mkString(",\n    ")
    s"""WITH b AS (
       |  SELECT min(l_partkey) pk_min, max(l_partkey) pk_max,
       |         min(l_suppkey) sk_min, max(l_suppkey) sk_max FROM lineitem),
       |zt AS (
       |  SELECT l_orderkey, l_linenumber,
       |    $cols
       |  FROM lineitem, b),
       |t AS (
       |  SELECT zbx, zby,
       |    ntile(64) OVER (ORDER BY z, l_orderkey, l_linenumber) AS shard
       |  FROM zt)
       |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_rows,
       |  min(zbx) AS bx_min, max(zbx) AS bx_max,
       |  min(zby) AS by_min, max(zby) AS by_max,
       |  (max(zbx) >= 102 AND min(zbx) <= 153
       |   AND max(zby) >= 102 AND min(zby) <= 153) AS box_hit
       |FROM t GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** #115 — `binaryFile` source over a directory of real image files:
    * THE ingestion path for a multimodal corpus (millions of image/
    * audio files → one binary column, partition-parallel, no driver
    * involvement in the read). One real PNG per doc (first 100 ids,
    * filenames carry the id) is written from the driver, read back via
    * `spark.read.format("binaryFile")`, the id parsed from the path,
    * and the payload decoded by the same `javax.imageio` codec as
    * #80 — the oracle recomputes width/height/pixel-checksum from the
    * generator arithmetic, so a hash match proves the file write →
    * binaryFile scan → decode chain preserved every pixel. */
  def sourceBinaryFiles(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val dir = graft.Tables.scratch("graft_binfiles")
    // 100 small fixture files: written from the driver, no task
    // closure; the binaryFile read below is the partition-parallel part
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    documents(spark, sf).select(col("doc_id")).where(col("doc_id") < 100)
      .as[Long].collect().foreach { id =>
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, f"doc_$id%05d.png"),
          graft.multimodal.BinaryDecode.syntheticPng(id))
      }
    val parsed = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
      .select(regexp_extract(col("path"), "doc_(\\d+)\\.png", 1)
                .cast("long").as("doc_id"),
              col("content"))
      .as[(Long, Array[Byte])]
    graft.multimodal.BinaryDecode.decode(spark, parsed).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("pix_sum"))
      .orderBy(col("doc_id"))
  }

  /** #142 — training-shard sink with manifest (round 7): documents
    * are hash-sharded (first md5 nibble of the salted doc_id, mod 8 —
    * balanced under any id distribution, stable under appends) and
    * written as partitioned parquet; the read-back produces the
    * MANIFEST a training dataloader consumes: per shard, the doc
    * count, total characters, and an ORDER-INDEPENDENT content
    * checksum (sum over docs of the first 8 md5(text) nibbles as an
    * integer — commutative, so any read order / parallelism yields
    * the same value; the WebDataset-style shard+manifest layout).
    * The row-count round trip is REQUIRE'd; the oracle recomputes
    * the manifest straight off the documents parquet, so a hash
    * match proves the shard write+read lost nothing.
    *
    * Scale posture: one partitioned write (shuffle by shard), one
    * read-back aggregate keyed by shard; manifest is shard-count
    * rows. At 100 TB the shard count grows with the corpus (fixed 8
    * here mirrors the graded scale) — the shape is unchanged. */
  def sinkShardManifest(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.Tables.scratch("graft_shard_manifest")
    val docs = documents(spark, sf)
    val sharded = docs.withColumn("shard",
      (conv(substring(md5(concat(col("doc_id").cast("string"), lit("#shard"))),
        1, 1), 16, 10).cast("int") % 8).cast("long"))
    sharded.write.mode("overwrite").partitionBy("shard").parquet(dir)
    val back = spark.read.parquet(dir)
    val nIn = docs.count(); val nOut = back.count()
    require(nIn == nOut, s"sinkShardManifest: wrote $nIn rows, read $nOut")
    back.groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("total_chars"),
           sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
             .as("content_sum"))
      .orderBy(col("shard"))
  }

  /** #284 — parquet bloom-filter point lookups (round 16; the
    * needle-in-haystack scan path: zone maps (#186's z-order story)
    * prune RANGES, but a point lookup on a high-cardinality
    * UNSORTED key — "all orders of customer X" — gets nothing from
    * min/max; parquet's split-block bloom filters are the format's
    * answer, letting the reader skip row groups that provably lack
    * the key): the orders fact is written with a bloom filter on
    * o_custkey (`parquet.bloom.filter.enabled#o_custkey`, ndv sized
    * to the key space), read back, and point-looked-up for five
    * deterministic customers. The graded aggregate proves the
    * bloom-enabled write round-trips values exactly (oracle = the
    * same lookup off the original table); the SPEC opens the written
    * footer with parquet's own reader and asserts a bloom filter is
    * physically present for the column AND that it answers
    * membership correctly on present/absent keys. Scale: the write
    * is one narrow pass (bloom adds bytes per row group, no extra
    * pass); at 100 TB the lookup reads footers + the few row groups
    * whose filter matches instead of every page of the key column. */
  def scanParquetBloomLookup(spark: SparkSession, sf: String): DataFrame = {
    val dir = bloomFixtureDir(spark, sf)
    spark.read.parquet(dir)
      .where(col("o_custkey").isin(7L, 107L, 207L, 307L, 407L))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
           sum(money(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy(col("o_custkey"))
  }

  /** #284's fixture writer, shared with the footer-inspection spec:
    * orders written with a split-block bloom filter on o_custkey.
    * Dictionary encoding is disabled FOR THAT COLUMN because
    * parquet-mr deliberately drops the bloom filter when a chunk
    * stays fully dictionary-encoded (the dictionary already answers
    * membership exactly); at graded scale the key column would stay
    * dictionary-encoded and no filter would be written — at real
    * scale the dictionary overflows to plain and the bloom appears
    * either way, so the per-column toggle reproduces the production
    * layout, not a synthetic one. */
  def bloomFixtureDir(spark: SparkSession, sf: String): String = {
    val dir = graft.Tables.scratch("graft_bloom_lookup")
    orders(spark, sf).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#o_custkey", "true")
      .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
      .option("parquet.enable.dictionary#o_custkey", "false")
      .parquet(dir)
    dir
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "scan_parquet"             -> (scanParquet _),
    "scan_pruned_pushdown"     -> (scanPrunedPushdown _),
    "source_csv_roundtrip"     -> (sourceCsvRoundtrip _),
    "source_csv_permissive"    -> (sourceCsvPermissive _),
    "source_xml_roundtrip"     -> (sourceXmlRoundtrip _),
    "source_orc_roundtrip"     -> (sourceOrcRoundtrip _),
    "source_avro_roundtrip"    -> (sourceAvroRoundtrip _),
    "source_xml_espi"          -> (sourceXmlEspi _),
    "source_text_lines"        -> (sourceTextLines _),
    "source_json_lines"        -> (sourceJsonLines _),
    "sink_parquet_partitioned" -> (sinkParquetPartitioned _),
    "source_binary_files"      -> (sourceBinaryFiles _),
    "source_parquet_evolution" -> (sourceParquetEvolution _),
    "sink_sorted_shards"       -> (sinkSortedShards _),
    "sink_shard_manifest"      -> (sinkShardManifest _),
    "sink_partition_overwrite" -> (sinkPartitionOverwrite _),
    "scan_parquet_bloom_lookup" -> (scanParquetBloomLookup _),
    "layout_zorder_pruning"    -> (layoutZorderPruning _),
  )

  /** #158 — dynamic partition overwrite (round 7): the lake
    * re-statement primitive — a partitioned table gets a CORRECTED
    * slice for one partition, and only the partitions PRESENT in the
    * written frame are replaced (`partitionOverwriteMode=dynamic`;
    * the static default would wipe the whole table). Proven
    * end-to-end: a full 3-partition snapshot of orders, then a
    * dynamic overwrite of only status 'F' with prices +1; the
    * read-back aggregate shows 'F' carrying the corrected values
    * while 'O'/'P' still carry the v1 snapshot — if the static wipe
    * had happened, their rows would be gone and the oracle would
    * mismatch. At 100 TB this is how daily re-statements avoid
    * rewriting the lake: the write cost is one partition, the
    * others' files are untouched. */
  def sinkPartitionOverwrite(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.Tables.scratch("graft_dyn_overwrite")
    val o = orders(spark, sf)
      .select(col("o_orderkey"), money(col("o_totalprice")).as("price"),
              col("o_orderstatus"))
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    o.where(col("o_orderstatus") === "F")
      .withColumn("price", dec(col("price") + 1, 18, 2))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderstatus").parquet(dir)
    spark.read.parquet(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
           sum(col("price")).cast("double").as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  val oracle: Map[String, String] = ListMap(
    "scan_parquet" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem""".stripMargin,
    "scan_pruned_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2001-06-01'
        |  AND l_shipdate <  TIMESTAMP '2001-09-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "source_json_lines" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY k ORDER BY k""".stripMargin,
    // the round-trip sources/sinks are lossless, so each oracle is the
    // same aggregate computed straight off the corpus parquet — the
    // hash-match then proves the write+read preserved every value
    "source_csv_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n_nations, max(n_name) AS max_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "source_csv_permissive" ->
      s"""SELECT count(*) + ${csvPermissiveInjected.size} AS n_rows_total,
        |  CAST(${csvPermissiveInjected.size} AS BIGINT) AS n_corrupt,
        |  count(*) AS n_good,
        |  max(n_nationkey) AS max_key
        |FROM nation""".stripMargin,
    "source_xml_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n_nations, max(n_name) AS max_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "source_orc_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n_nations, max(n_name) AS max_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "source_avro_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  min(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS first_order_us,
        |  max(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS last_order_us
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "source_xml_espi" ->
      """SELECT user_id, count(*) AS n_readings,
        |  min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_start,
        |  CAST(sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "source_text_lines" ->
      """SELECT count(*) AS n_lines,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  max(length(text)) AS max_len
        |FROM documents""".stripMargin,
    "sink_parquet_partitioned" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // recomputes the decoded-pixel metadata from the PNG generator's
    // arithmetic (same oracle shape as #80 multimodal_binary): a hash
    // match proves file write -> binaryFile scan -> imageio decode
    // preserved every pixel of every file
    "source_binary_files" -> LlmOps.pixelSumSql(" WHERE doc_id < 100", ""),
    "source_parquet_evolution" ->
      """SELECT CAST(1 AS BIGINT) AS batch, count(*) AS n_rows,
        |  CAST(0 AS BIGINT) AS n_with_len, CAST(0 AS BIGINT) AS total_len,
        |  CAST(max(n_nationkey) AS BIGINT) AS max_key
        |FROM nation
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*), count(*),
        |  CAST(sum(length(n_name)) AS BIGINT),
        |  CAST(max(n_nationkey) + 100 AS BIGINT)
        |FROM nation
        |ORDER BY batch""".stripMargin,
    "sink_sorted_shards" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin,
    "sink_shard_manifest" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars, text,
        |    CAST((strpos('0123456789abcdef',
        |      substr(md5(CAST(doc_id AS VARCHAR) || '#shard'), 1, 1)) - 1) % 8
        |      AS BIGINT) AS shard,
        |    ((strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 268435456
        |    + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 16777216
        |    + (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 1048576
        |    + (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(md5(text), 5, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(md5(text), 6, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(md5(text), 7, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(md5(text), 8, 1)) - 1)) AS csum
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(csum) AS BIGINT) AS content_sum
        |FROM d GROUP BY shard ORDER BY shard""".stripMargin,
    "sink_partition_overwrite" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS DECIMAL(18,2))
        |    ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "layout_zorder_pruning" -> zorderOracle,
    "scan_parquet_bloom_lookup" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders
        |WHERE o_custkey IN (7, 107, 207, 307, 407)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
  )
}
