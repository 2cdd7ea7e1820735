package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.jdk.CollectionConverters._

/** The one stage store: derived tables that several operators read,
  * built once per (live session, stage name, corpus dir) and
  * `localCheckpoint`ed, so every later consumer reads the materialized
  * blocks instead of replaying the lineage. At 100 TB this is the
  * "stage the shared table once, let every consumer read it" pattern —
  * a parquet stage in production, a session-scoped checkpoint here.
  * Staged builders are deterministic, so a stage can never change a
  * graded hash; each family's reason for staging sits at its call site.
  *
  * Keyed on the SparkSession REFERENCE: SparkSession does not override
  * equals/hashCode, so tuple equality is identity equality for the
  * session slot (identityHashCode is not unique, and a collision
  * between two live sessions would return a checkpoint bound to the
  * wrong one). The strong reference does not leak: entries of stopped
  * sessions are evicted on every access, and their blocks died with
  * the context anyway.
  *
  * Blocks are released in two cases: the losing build of a first-build
  * race, which nobody else holds, and a generation two [[swap]]s old.
  * The generation a swap replaces is retired rather than released,
  * because a reader may still hold it, so at most two generations of
  * a stage are held.
  */
object Staged {

  private val current = new ConcurrentHashMap[(SparkSession, String, String), DataFrame]()
  private val retired = new ConcurrentHashMap[(SparkSession, String, String), DataFrame]()
  private val hits = new ConcurrentHashMap[String, LongAdder]()
  private val swapCounts = new ConcurrentHashMap[String, LongAdder]()

  /** Stage `name` of `corpus`: the current entry, or `build` checkpointed
    * and installed. NOT computeIfAbsent: a builder may itself read
    * another stage (`simhash_cc` builds from `simhash_pairs`), and
    * nesting computeIfAbsent on one ConcurrentHashMap is forbidden by
    * its contract — when both keys land in the same bin the JDK throws
    * IllegalStateException("Recursive update"). get-then-putIfAbsent
    * tolerates re-entrancy; two concurrent misses both build, and the
    * loser's blocks are released at once. */
  def apply(spark: SparkSession, name: String, corpus: String)
           (build: => DataFrame): DataFrame = {
    evictStopped()
    val k = (spark, name, corpus)
    val hit = current.get(k)
    if (hit != null) {
      hits.computeIfAbsent(name, _ => new LongAdder).increment()
      hit
    } else {
      val built = build.localCheckpoint()
      val prev = current.putIfAbsent(k, built)
      if (prev == null) built else { release(built); prev }
    }
  }

  /** Installs `fresh` as the current generation of the stage, retires
    * the one it replaces and releases the one retired before. */
  def swap(spark: SparkSession, name: String, corpus: String, fresh: DataFrame): Unit = {
    evictStopped()
    swapCounts.computeIfAbsent(name, _ => new LongAdder).increment()
    val k = (spark, name, corpus)
    Option(current.put(k, fresh)).flatMap(r => Option(retired.put(k, r))).foreach(release)
  }

  /** Hits per stage name so far, over every session. */
  def reads: Map[String, Long] = sums(hits)

  /** [[swap]]s per stage name so far, over every session: the op whose
    * call swaps a stage is the one that prices its build. */
  def swaps: Map[String, Long] = sums(swapCounts)

  private def sums(m: ConcurrentHashMap[String, LongAdder]): Map[String, Long] =
    m.asScala.map { case (n, c) => n -> c.sum }.toMap

  private def evictStopped(): Unit =
    Seq(current, retired).foreach(_.entrySet().removeIf(
      e => e.getValue.sparkSession.sparkContext.isStopped))

  /** Drops a checkpointed table's blocks (its RDD; `Dataset.unpersist`
    * would not reach them). */
  private def release(df: DataFrame): Unit =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))
}
