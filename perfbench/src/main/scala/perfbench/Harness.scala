package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Bench, SparkEntry, Tables}
import graft.api.SnapshotTable
import graft.ops._
import graft.pipeline.EtlPipeline

/** The JVM side of the benchmark: one Spark session at `local[cpus]`, one
  * client thread issuing calls closed-loop, every call timed from outside
  * the program through its public entry points.
  *
  * Usage (run.py builds the arguments):
  *   Harness --workload W --data DIR --warm DIR --work DIR --out FILE
  *           --units N --cpus N --seed S --trace 0|1
  *
  * `--units` is the fixed amount of timed work: panel passes for op_sweep,
  * meter batches for meter_ingest. The result is one JSON object
  * written to `--out`.
  */
object Harness {

  /** op_sweep: a fixed panel, the same ops on every seed (only the order and
    * the data change with the seed), so a run's median compares across
    * seeds. One op or more from each of the 15 families, eight of them
    * from the headline suite, with both staged memos: the LLM dedup memo
    * (dedup_simhash_band) and the graph memo (graph_family_stage stages it,
    * graph_adamic_adar reads it). */
  val sweepPanel: Seq[String] = Seq(
    "agg_hash_groupby", "join_multiway_5", "win_topk_per_group", "topk_global",
    "stream_session_window", "text_tokenize_wordcount", "json_funcs", "etl_gap_fill",
    "scan_parquet", "filter_compound", "set_intersect", "dedup_simhash_band",
    "text_bpe_encode", "graph_family_stage", "graph_adamic_adar", "sim_maxsim_multivec")

  val families: Seq[(String, Map[String, _])] = Seq(
    "scan" -> ScanOps.queries, "filter" -> FilterOps.queries,
    "join" -> JoinOps.queries, "agg" -> AggOps.queries,
    "window" -> WindowOps.queries, "sort" -> SortOps.queries,
    "setops" -> SetOpsFamily.queries, "scalar" -> ScalarOps.queries,
    "stream" -> StreamOps.queries, "text" -> TextOps.queries,
    "llm" -> LlmOps.queries, "corpus" -> CorpusOps.queries,
    "graph" -> GraphOps.queries, "etl" -> EtlOps.queries,
    "vec" -> VecOps.queries)

  def familyOf(op: String): String =
    families.collectFirst { case (f, m) if m.contains(op) => f }.getOrElse("?")

  final case class Opts(workload: String, data: String, warm: String,
                        work: String, out: String, units: Int, cpus: Int,
                        seed: Long, trace: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("warm"), m("work"), m("out"),
      m("units").toInt, m("cpus").toInt, m("seed").toLong, m("trace") == "1")
  }

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the graded session settings (graft.Bench)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs `df`'s executed plan to completion: every output column of every
    * row is computed, nothing is written, and the plan that
    * `catalyst.plan` forced is the one that runs (a `noop` sink would
    * analyze and plan the write command again inside the action). */
  def materialize(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench"))(qe.toRdd.foreach(_ => ()))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.cpus)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val out = mutable.LinkedHashMap[String, Any]("identity" -> identity(spark, o))
    try {
      val tracer = if (o.trace) Some(new Tracer(spark)) else None
      val workload = o.workload match {
        case "op_sweep"     => new Sweep(spark, o, sweepPanel, tracer)
        case "meter_ingest" => new MeterIngest(spark, o, tracer)
        case w              => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val w0 = System.nanoTime()
      val warmErrors = workload.warmUp()
      out("setup") = Map(
        "setup_s" -> (System.currentTimeMillis() - jvmStart) / 1e3,
        "session_s" -> sessionS, "warmup_s" -> (System.nanoTime() - w0) / 1e9,
        "warmup_failed" -> warmErrors.size, "warmup_errors" -> warmErrors)
      val gc0 = gcSeconds()
      out ++= workload.run()
      out("jvm_gc_s") = gcSeconds() - gc0
      System.gc()
      val rt = Runtime.getRuntime
      out("heap_used_mb") = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    } catch {
      case NonFatal(e) =>
        out("fatal") = msg(e)
        e.printStackTrace()
    } finally {
      writeJson(new File(o.out), out.toMap)
      spark.stop()
    }
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    mapper.writeValue(f, v)
  }

  def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
      .take(300)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def identity(spark: SparkSession, o: Opts): Map[String, Any] = {
    val bootId = try {
      val s = scala.io.Source.fromFile("/proc/sys/kernel/random/boot_id")
      try s.mkString.trim finally s.close()
    } catch { case NonFatal(_) => "" }
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0
    Map("cpus" -> o.cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "boot_id" -> bootId, "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"), "seed" -> o.seed,
      "storage_budget_mb" -> storageMb,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
  }
}

/** Block-manager storage held by persisted and localCheckpoint-ed RDDs. */
final case class Storage(rdds: Int, memMb: Double, diskMb: Double) {
  def totalMb: Double = memMb + diskMb
}
object Storage {
  def sample(spark: SparkSession): Storage = {
    val infos = spark.sparkContext.getRDDStorageInfo
    Storage(spark.sparkContext.getPersistentRDDs.size,
      infos.map(_.memSize).sum / 1048576.0, infos.map(_.diskSize).sum / 1048576.0)
  }
}

/** One timed call: its phases and, when traced, its span id and the
  * block-manager storage held after it. */
final class CallRecord(val op: String, val kind: String, val pass: Int) {
  var wall = 0.0
  val phases = mutable.LinkedHashMap[String, Double]()
  var error: Option[String] = None
  var spanId = -1
  var storage: Option[Storage] = None
  val extra = mutable.LinkedHashMap[String, Any]()

  def toJson: Map[String, Any] = Map("op" -> op, "kind" -> kind, "pass" -> pass,
    "wall_s" -> wall, "phases" -> phases.toMap, "error" -> error.orNull,
    "span" -> spanId) ++ storage.map(s => "storage" -> Map("rdds" -> s.rdds,
      "mem_mb" -> s.memMb, "disk_mb" -> s.diskMb)) ++ extra
}

/** Shared closed-loop machinery: time a phase, record it on the call, and
  * open a span for it when tracing. */
abstract class Workload(spark: SparkSession, o: Harness.Opts, tracer: Option[Tracer]) {
  val calls = mutable.ArrayBuffer[CallRecord]()

  /** The untimed warm-up, part of set-up; returns the failures, by name. */
  def warmUp(): Seq[String]

  /** The timed work and the workload's own results. */
  def run(): Map[String, Any]

  def phase[T](c: CallRecord, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.fold(body)(_.span(name)(body))
    finally c.phases(name) = c.phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def call(op: String, kind: String, pass: Int)(body: CallRecord => Unit): Unit = {
    val c = new CallRecord(op, kind, pass)
    val t0 = System.nanoTime()
    try tracer match {
      case Some(t) => c.spanId = t.rootSpan(op)(body(c))
      case None    => body(c)
    } catch { case NonFatal(e) => c.error = Some(Harness.msg(e)) }
    c.wall = (System.nanoTime() - t0) / 1e9
    if (tracer.nonEmpty) c.storage = Some(Storage.sample(spark))
    calls += c
  }

  def finish(): Map[String, Any] = {
    val spans = tracer.map { t =>
      t.drain()
      val path = new File(o.work, "trace.json")
      Harness.writeJson(path, Map("spans" -> t.spansJson, "calls" -> t.perCall(calls.toSeq)))
      path.getPath
    }
    Map("calls" -> calls.map(_.toJson).toSeq) ++ spans.map("trace_file" -> _)
  }
}

/** op_sweep. The warm-up is the check pass: each op's first call in the
  * session, untimed, which digests its output (and pays its codegen and JIT
  * warm-up). The timed passes then run the panel in seeded orders, each
  * call = [tables.load] + ops.build + catalyst.plan + exec.action; after
  * each call, outside its timing, the DataFrame it built is digested too. */
final class Sweep(spark: SparkSession, o: Harness.Opts, panel: Seq[String],
                  tracer: Option[Tracer]) extends Workload(spark, o, tracer) {
  private val qs = SparkEntry.queries
  private val rng = new scala.util.Random(o.seed)
  private val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  /** The corpus tables an op reads: those its DuckDB oracle names. */
  private def tablesOf(op: String): Seq[String] =
    SparkEntry.oracleSql.get(op).toSeq.flatMap { sql =>
      loaders.keys.filter(t => s"\\b$t\\b".r.findFirstIn(sql).nonEmpty)
    }

  private def digest(df: => DataFrame): Map[String, Any] = try {
    val (rows, h) = Digest.of(df)
    Map("rows" -> rows, "hash" -> java.lang.Long.toUnsignedString(h))
  } catch { case NonFatal(e) => Map("error" -> Harness.msg(e)) }

  private var digests = Map.empty[String, Map[String, Any]]

  def warmUp(): Seq[String] = {
    require(panel.forall(qs.contains), s"unknown ops: ${panel.filterNot(qs.contains)}")
    digests = rng.shuffle(panel.distinct).map(op => op -> digest(qs(op)(spark, o.data))).toMap
    digests.collect { case (op, d) if d.contains("error") => s"$op: ${d("error")}" }.toSeq
  }

  def run(): Map[String, Any] = {
    val before = Storage.sample(spark)
    (0 until o.units).foreach { pass =>
      rng.shuffle(panel).foreach { op =>
        var built: Option[DataFrame] = None
        call(op, "op", pass) { c =>
          if (tracer.nonEmpty) {
            val ts = tablesOf(op)
            phase(c, "tables.load")(ts.foreach(t => loaders(t)(spark, o.data).schema))
          }
          val df = phase(c, "ops.build")(qs(op)(spark, o.data))
          built = Some(df)
          phase(c, "catalyst.plan")(df.queryExecution.executedPlan)
          val tracker = df.queryExecution.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { p =>
            c.extra(s"catalyst.${p}_s") = tracker.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
          }
          phase(c, "exec.action")(Harness.materialize(df))
        }
        val c = calls.last
        if (c.error.isEmpty) built.foreach(df => c.extra("digest") = digest(df))
      }
    }
    val retained = Storage.sample(spark)
    val base = finish()
    val families = panel.distinct.map(op => op -> Harness.familyOf(op)).toMap
    val oracles = panel.distinct.flatMap(op => SparkEntry.oracleSql.get(op).map(op -> _)).toMap
    base ++ Map("timed_s" -> calls.map(_.wall).sum, "passes" -> o.units,
      "cache_retained_mb" -> retained.totalMb,
      "stage_growth_mb" -> (retained.totalMb - before.totalMb) / o.units,
      "digests" -> digests,
      "oracles" -> oracles, "families" -> families,
      "headline" -> Bench.headline, "secondary" -> Bench.secondary)
  }
}

/** meter_ingest: per batch, EtlPipeline.run into a date-partitioned sink,
  * SnapshotTable.mergeInto of the batch's readings (U) and deletes (D),
  * staged to parquet before the timed call, into one bucketed table, then
  * asOf(latest) and changeFeed(v-1, v) reads; every 2nd batch, compact and
  * then vacuum down to the last two versions. Each committed version's
  * row count and checksum are read back, untimed, for run.py to check. */
final class MeterIngest(spark: SparkSession, o: Harness.Opts, tracer: Option[Tracer])
    extends Workload(spark, o, tracer) {
  private val buckets = 4
  private val sink = new File(o.work, "sink").getPath
  private val table = new File(o.work, "table").getPath
  private val day0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime * 1000L

  private val tableSchema = StructType(Seq(
    StructField("key", LongType), StructField("meter_id", LongType),
    StructField("ts", TimestampType), StructField("kwh", DecimalType(28, 6))))

  private def changes(batchDir: String, deletes: Seq[Long]): DataFrame = {
    val (valid, _) = EtlPipeline.split(EtlPipeline.parse(spark, batchDir))
    val ups = EtlPipeline.normalize(valid).select(
      (col("meter_id") * 1000000L + (unix_micros(col("ts")) - day0) / 900000000L)
        .cast(LongType).as("key"),
      col("meter_id"), col("ts"), col("kwh"), lit("U").as("op"))
    val dels = spark.createDataFrame(deletes.map(Tuple1(_))).toDF("key").select(
      col("key"), lit(null).cast(LongType).as("meter_id"),
      lit(null).cast(TimestampType).as("ts"), lit(null).cast(DecimalType(28, 6)).as("kwh"),
      lit("D").as("op"))
    ups.unionByName(dels)
  }

  /** The batch's change set, written to parquet before the timed merge, so
    * the merge reads a concrete input and times SnapshotTable.mergeInto
    * alone rather than a second CSV parse and dedup as well. */
  private def staged(batchDir: String, deletes: Seq[Long], path: String): DataFrame = {
    changes(batchDir, deletes).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** (rows, sum(key), sum(pmod(key, 9973) * kwh)) of a committed version. */
  private def checksum(version: Int): Seq[Any] = {
    val r = SnapshotTable.asOf(spark, table, version).agg(
      count(lit(1)), sum(col("key")),
      sum(pmod(col("key"), lit(9973L)).cast(DecimalType(10, 0)) *
        col("kwh").cast(DecimalType(18, 6)))).head()
    Seq(r.getLong(0), Option(r.get(1)).map(_.toString).getOrElse("0"),
      Option(r.getDecimal(2)).map(_.toPlainString).getOrElse("0"))
  }

  private def emptyTable: DataFrame = spark.createDataFrame(
    java.util.Collections.emptyList[org.apache.spark.sql.Row](), tableSchema)

  private def deletesOf(dir: String, b: Int): Seq[Long] = {
    val s = scala.io.Source.fromFile(new File(dir, f"deletes_$b%03d.json"))
    try s.mkString.trim.stripPrefix("[").stripSuffix("]").split(",").map(_.trim)
      .filter(_.nonEmpty).map(_.toLong).toSeq finally s.close()
  }

  /** One ingest cycle of a small warm-up batch into a throwaway sink and
    * table: every call the timed batches make, made once, untimed. */
  def warmUp(): Seq[String] = try {
    val (wSink, wTable) = (new File(o.work, "warm_sink").getPath, new File(o.work, "warm_table").getPath)
    val dir = new File(o.warm, "batch_000").getPath
    EtlPipeline.run(spark, dir, wSink)
    SnapshotTable.create(spark, wTable, emptyTable, "key", buckets)
    SnapshotTable.enableChangeFeed(spark, wTable)
    val ch = staged(dir, deletesOf(o.warm, 0), new File(o.work, "warm_changes").getPath)
    SnapshotTable.mergeInto(spark, wTable, ch, "key", buckets)
    val v = SnapshotTable.latestVersion(spark, wTable)
    Harness.materialize(SnapshotTable.asOf(spark, wTable, v))
    Harness.materialize(SnapshotTable.changeFeed(spark, wTable, v - 1, v))
    SnapshotTable.compact(spark, wTable, "key", buckets)
    SnapshotTable.vacuum(spark, wTable, 2)
    Nil
  } catch { case NonFatal(e) => Seq(s"meter warm-up: ${Harness.msg(e)}") }

  /** Files under the sink and table, by path -> size. */
  private def files(): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f.getPath -> f.length()) else Nil
    (walk(new File(sink)) ++ walk(new File(table))).toMap
  }

  def run(): Map[String, Any] = {
    val batches = new File(o.data).listFiles().filter(_.getName.startsWith("batch_"))
      .map(_.getName).sorted.toSeq
    SnapshotTable.create(spark, table, emptyTable, "key", buckets)
    SnapshotTable.enableChangeFeed(spark, table)
    val versions = mutable.ArrayBuffer[Map[String, Any]]()
    val summaries = mutable.ArrayBuffer[Map[String, Any]]()
    var before = files()
    var written = Map.empty[String, (Long, Int)] // kind -> (bytes, files)
    def account(kind: String): Unit = {
      val now = files()
      val fresh = now.filter { case (p, n) => !before.get(p).contains(n) }
      val (b, f) = written.getOrElse(kind, (0L, 0))
      written += kind -> (b + fresh.values.sum, f + fresh.size)
      before = now
    }
    def commitCheck(b: Int, kind: String): Unit = {
      val v = SnapshotTable.latestVersion(spark, table)
      versions += Map("version" -> v, "batch" -> b, "kind" -> kind, "state" -> checksum(v))
    }
    val n = math.min(o.units, batches.size)
    (0 until n).foreach { b =>
      val dir = new File(o.data, batches(b)).getPath
      val deletes = deletesOf(o.data, b)
      call("pipeline.run", "pipeline", b) { c =>
        val s = phase(c, "pipeline.run")(EtlPipeline.run(spark, dir, sink))
        summaries += Map("batch" -> b, "ingested" -> s.ingested,
          "quarantined" -> s.quarantined, "deduped" -> s.deduped, "loaded" -> s.loaded)
      }
      account("pipeline")
      val ch = staged(dir, deletes, new File(o.work, f"changes/batch_$b%03d").getPath)
      call("snapshot.merge", "merge", b) { c =>
        phase(c, "snapshot.merge")(SnapshotTable.mergeInto(spark, table, ch, "key", buckets))
      }
      account("snapshot")
      commitCheck(b, "merge")
      val v = SnapshotTable.latestVersion(spark, table)
      call("snapshot.asOf", "read", b) { c =>
        phase(c, "snapshot.read")(Harness.materialize(SnapshotTable.asOf(spark, table, v)))
      }
      call("snapshot.changeFeed", "read", b) { c =>
        phase(c, "snapshot.read")(Harness.materialize(SnapshotTable.changeFeed(spark, table, v - 1, v)))
      }
      val feedRows = SnapshotTable.changeFeed(spark, table, v - 1, v).count()
      versions(versions.size - 1) = versions.last + ("feed_rows" -> feedRows)
      if (b % 2 == 1) {
        call("snapshot.compact", "maintain", b) { c =>
          phase(c, "snapshot.maintain")(SnapshotTable.compact(spark, table, "key", buckets))
        }
        account("snapshot")
        commitCheck(b, "compact")
        call("snapshot.vacuum", "maintain", b) { c =>
          phase(c, "snapshot.maintain")(SnapshotTable.vacuum(spark, table, 2))
        }
        before = files()
      }
    }
    val latest = SnapshotTable.latestVersion(spark, table)
    val end = files()
    val liveFiles = SnapshotTable.liveFiles(spark, table, latest)
    val live = liveFiles.map(p => new File(new java.net.URI(p).getPath).length()).sum
    val sinkBytes = end.collect { case (p, n) if p.startsWith(sink) => n }.sum
    finish() ++ Map(
      "timed_s" -> calls.map(_.wall).sum, "batches" -> n, "versions" -> versions.toSeq,
      "cache_retained_mb" -> Storage.sample(spark).totalMb,
      "summaries" -> summaries.toSeq,
      "bytes_written" -> written.map { case (k, (n, _)) => k -> n },
      "files_written" -> written.map { case (k, (_, f)) => k -> f },
      "bytes_on_disk" -> end.values.sum, "bytes_referenced" -> (live + sinkBytes),
      "files_live" -> liveFiles.size,
      "table_versions" -> (latest + 1))
  }
}

/** Order-insensitive digest of a DataFrame: (rows, sum of per-row hashes
  * mod 2^64). A row hashes the canonical text of its cells, columns sorted
  * by name; run.py computes the same digest of the DuckDB oracle's rows. */
object Digest {
  def of(df: DataFrame): (Long, Long) = {
    val sorted = df.select(df.columns.sorted.map(c => col(s"`$c`")): _*)
    sorted.rdd.mapPartitions { rows =>
      var n = 0L; var h = 0L
      rows.foreach { r => n += 1; h += rowHash(r) }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  def rowHash(r: org.apache.spark.sql.Row): Long = {
    val sb = new StringBuilder
    (0 until r.length).foreach { i => cell(sb, r.get(i)); sb.append('|') }
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(md, 0, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
  }

  private val TwoTo53 = 9007199254740992.0

  def cell(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb.append("n")
    case b: Boolean => sb.append(if (b) "i:1" else "i:0")
    case x: Byte => sb.append("i:").append(x.toLong)
    case x: Short => sb.append("i:").append(x.toLong)
    case x: Int => sb.append("i:").append(x.toLong)
    case x: Long => sb.append("i:").append(x)
    case x: Float => double(sb, x.toDouble)
    case x: Double => double(sb, x)
    case x: java.math.BigDecimal =>
      val s = x.stripTrailingZeros()
      if (s.scale <= 0) sb.append("i:").append(s.toBigIntegerExact)
      else sb.append("m:").append(s.toPlainString)
    case x: String => sb.append("s:").append(x.getBytes(java.nio.charset.StandardCharsets.UTF_8).length).append(':').append(x)
    case x: java.sql.Timestamp =>
      sb.append("t:").append(Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000)
    case x: java.time.LocalDateTime =>
      val i = x.toInstant(java.time.ZoneOffset.UTC)
      sb.append("t:").append(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case x: java.sql.Date => sb.append("D:").append(x.toLocalDate.toEpochDay)
    case x: java.time.LocalDate => sb.append("D:").append(x.toEpochDay)
    case x: Array[Byte] => sb.append("x:").append(x.map(b => f"${b & 0xff}%02x").mkString)
    case x: scala.collection.Seq[_] =>
      sb.append('['); x.foreach { e => cell(sb, e); sb.append(',') }; sb.append(']')
    case x: scala.collection.Map[_, _] =>
      sb.append('{')
      x.toSeq.map { case (k, e) =>
        val s = new StringBuilder; cell(s, k); s.append(':'); cell(s, e); s.toString
      }.sorted.foreach(s => sb.append(s).append(','))
      sb.append('}')
    case x: org.apache.spark.sql.Row =>
      sb.append('('); (0 until x.length).foreach { i => cell(sb, x.get(i)); sb.append(',') }
      sb.append(')')
    case x => sb.append("?:").append(x.toString)
  }

  private def double(sb: StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append("d:nan")
    else if (d == Math.rint(d) && Math.abs(d) < TwoTo53 &&
      !(d == 0.0 && 1.0 / d < 0)) sb.append("i:").append(d.toLong)
    else sb.append("d:").append(java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d)))
}
