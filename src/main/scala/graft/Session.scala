package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The graded session policy and the measurement loop shared by every
  * `main` (Bench, Verify, Plans, OpProbe, AqeProbe, CodegenAudit,
  * DatapathBench) and the test session. Settings that genuinely differ
  * per caller (AQE, strict codegen, a warehouse dir) are passed as
  * extra confs at the call site; everything else lives here once.
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
    * the count AQE always adds at tiny scale (coalesced reads). AqeProbe
    * compares it across AQE modes; Bench records it per op so a named
    * time growth self-triages as plan change vs host stall. */
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

  /** Builds op `name` on `dir` and runs `count()`: the wall seconds of
    * build + count and the DataFrame, or None when either throws (the
    * failure goes to stderr; its time-to-exception is never reported). */
  def timed(spark: SparkSession, name: String, dir: String): Option[(Double, DataFrame)] = {
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      df.count()
      Some(((System.nanoTime() - t0) / 1e9, df))
    } catch { case e: Throwable =>
      System.err.println(s"[graft] $name failed on $dir: ${e.getMessage}")
      None
    }
  }

  /** Untimed warm-up run of each op; returns the ops that failed. */
  def warm(spark: SparkSession, names: Seq[String], dir: String): Seq[String] =
    names.filter(timed(spark, _, dir).isEmpty)
}
