package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The graded session policy, the timing loop and the job counter shared
  * by every `main` (Bench, Verify, Plans, DatapathBench) and the test
  * session. Settings that genuinely differ per caller (AQE, strict
  * codegen, a warehouse dir) are passed as extra confs at the call site;
  * everything else lives here once.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`; the default is the target host (local[32]), so a
    * bare `runMain graft.Bench` measures the documented config. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** `SPARK_GRAFT_SF_DIR`: the corpus the benchmarks time. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Local session with one shuffle partition per core and the shared
    * settings; `confs` are applied last, so a caller can override any. */
  def local(cpus: Int, confs: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet may carry TIMESTAMP(NANOS); Spark 4 refuses it
      // unless read as long (Tables.events converts ns→µs)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep bounded-heap top-k aggregates hash-based (the default
      // fallback is 128 groups, far too conservative for k-element
      // buffers); set at build time so no query mutates shared conf
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .config(confs.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The sf0.001 sibling of `sf` for untimed warm-up passes (whole-stage
    * codegen caches generated classes by source text and plans are
    * path-independent, so the smallest corpus pays janino + JIT), or
    * `sf` itself when there is no such sibling. */
  def warmDir(sf: String): String = {
    val p = java.nio.file.Paths.get(sf).resolveSibling("sf0.001")
    if (java.nio.file.Files.isDirectory(p)) p.toString else sf
  }

  /** Structural fingerprint of an executed plan string: the counts a
    * genuine plan CHANGE would move (join strategies, exchanges) plus
    * the count AQE always adds at tiny scale (coalesced reads). Bench
    * records it per op, so a named time growth self-triages as plan
    * change vs host stall, and compares it across AQE modes. */
  def shape(plan: String): Map[String, Int] = Map(
    "bhj" -> "BroadcastHashJoin".r.findAllIn(plan).size,
    "smj" -> "SortMergeJoin".r.findAllIn(plan).size,
    "shj" -> "ShuffledHashJoin".r.findAllIn(plan).size,
    "bnlj" -> "BroadcastNestedLoopJoin".r.findAllIn(plan).size,
    // shuffle exchanges only: "Exchange hashpartitioning/rangepartitioning/
    // SinglePartition" — a bare "Exchange " prefix also matches
    // "BroadcastExchange ", which would double-move two counters on a
    // broadcast<->shuffle swap
    "exchange" -> "(?<!Broadcast)Exchange ".r.findAllIn(plan).size,
    "aqeRead" -> "AQEShuffleRead".r.findAllIn(plan).size
  )

  /** Jobs and stages Spark ran for one call, and the Janino
    * compilations (generated classes that missed Spark's codegen cache)
    * made while it ran. The compile count is JVM-wide, so it belongs to
    * the call only when no other call runs at the same time (Bench
    * times one op at a time). */
  final case class Counts(jobs: Int, stages: Int, compiles: Long)

  /** The jobs and stages started under one call's local-property tag,
    * on its thread and on threads it starts (they inherit the tag).
    * Listener events arrive asynchronously, so `counts` first settles:
    * one tagged marker job, whose start proves every earlier event was
    * delivered (the listener bus keeps order). A settle covers every
    * call that had finished by then, so reading the tallies of many
    * calls costs one marker job, and none runs inside a timed call. */
  final class Tally private[Session] (sc: SparkContext) {
    private[Session] val jobs, stages = new AtomicInteger
    private[Session] val started = new CountDownLatch(1)
    @volatile private[Session] var finished, settled = false
    @volatile private[Session] var compiles = 0L
    def counts: Counts = {
      require(finished, "counts of a call that is still running")
      if (!settled) settle(sc)
      Counts(jobs.get, stages.get, compiles)
    }
  }

  private val TagKey = "graft.tag"

  /** The one Spark listener: tallies jobs and stages by tag. */
  private final class Counter extends SparkListener {
    val open = new ConcurrentHashMap[String, Tally]
    private def tally(p: java.util.Properties) =
      Option(p).flatMap(x => Option(x.getProperty(TagKey))).flatMap(t => Option(open.get(t)))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      tally(e.properties).foreach { t => t.jobs.incrementAndGet(); t.started.countDown() }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      tally(e.properties).foreach(_.stages.incrementAndGet())
  }

  /** The counter of the live SparkContext (a JVM runs one at a time). */
  private var current: Option[(SparkContext, Counter)] = None

  private def counter(sc: SparkContext): Counter = synchronized {
    current.collect { case (s, c) if s eq sc => c }.getOrElse {
      val c = new Counter
      sc.addSparkListener(c)
      current = Some((sc, c))
      c
    }
  }

  private def settle(sc: SparkContext): Unit = {
    val open = counter(sc).open
    val done = open.asScala.filter(_._2.finished).toSeq
    val marker = tagged(sc) { t => sc.parallelize(Seq(1), 1).count(); t }
    require(marker.started.await(60, TimeUnit.SECONDS), "marker job unseen by the listener")
    done.foreach { case (tag, t) => t.settled = true; open.remove(tag) }
  }

  private def tagged[T](sc: SparkContext)(body: Tally => T): T = {
    val tally = new Tally(sc)
    val tag = java.util.UUID.randomUUID().toString
    counter(sc).open.put(tag, tally)
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try body(tally)
    finally {
      sc.setLocalProperty(TagKey, prev)
      tally.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
      tally.finished = true
    }
  }

  /** Runs `body` and counts the Spark jobs and stages it launched. */
  def counted[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val (out, tally) = tagged(spark.sparkContext)(t => (body, t))
    (out, tally.counts)
  }

  /** One timed call: wall seconds of build + count, the DataFrame, and
    * the tally of the jobs and stages it ran. */
  final case class Run(sec: Double, df: DataFrame, tally: Tally)

  /** Builds op `name` on `dir` and runs `count()`, or None when either
    * throws (the failure goes to stderr; its time-to-exception is never
    * reported). */
  def timed(spark: SparkSession, name: String, dir: String): Option[Run] =
    tagged(spark.sparkContext) { tally =>
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        df.count()
        Some(Run((System.nanoTime() - t0) / 1e9, df, tally))
      } catch { case e: Throwable =>
        System.err.println(s"[graft] $name failed on $dir: ${e.getMessage}")
        None
      }
    }

  /** `n` consecutive timed calls of `name`: the best wall seconds and the
    * last successful run, or None when every call failed. */
  def bestOf(spark: SparkSession, name: String, dir: String, n: Int): Option[(Double, Run)] = {
    val runs = (1 to n).flatMap(_ => timed(spark, name, dir))
    runs.lastOption.map(last => (runs.map(_.sec).min, last))
  }

  /** Untimed warm-up run of each op; returns the ops that failed. */
  def warm(spark: SparkSession, names: Seq[String], dir: String): Seq[String] =
    names.filter(timed(spark, _, dir).isEmpty)
}
