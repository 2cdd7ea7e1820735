package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** SURVEY §2's determinism rule, proven globally rather than per-op:
  * a graded query must return the SAME row sequence regardless of
  * physical parallelism. Every `SparkEntry.queries` entry runs under
  * `shuffle.partitions=1` and `=32` (child sessions — the shared
  * session's conf is never mutated) and the canonicalized row
  * sequences must match exactly. This catches an operator that
  * forgets a total-order tie-break (or leans on partition count —
  * e.g. a quantile sketch whose merge order changed the RESULT, not
  * just the bucketing) before the driver's hash gate does. */
class PermutationInvarianceSpec extends SparkSpec {

  /** Canonical string form of one value — the same idea as the
    * driver's hash canonicalization: structural for arrays/structs/
    * maps (map entries sorted — map iteration order is not part of
    * the contract), plain toString for scalars. */
  private def norm(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case a: scala.collection.Seq[_] => a.map(norm).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, mv) => norm(k) + "->" + norm(mv) }
        .sorted.mkString("{", ",", "}")
    case x => x.toString
  }

  test("every graded query returns identical rows at shuffle.partitions=1 vs 32") {
    val (s1, s32) = (spark.newSession(), spark.newSession())
    s1.conf.set("spark.sql.shuffle.partitions", "1")
    s32.conf.set("spark.sql.shuffle.partitions", "32")
    // strict codegen: a stage whose generated code fails to compile
    // (janino's 64 KB method limit, constant-pool overflow) throws
    // instead of silently running interpreted, so this sweep is the
    // codegen audit of every graded query too
    Seq(s1, s32).foreach(_.conf.set("spark.sql.codegen.fallback", "false"))
    assert(Seq(s1, s32).map(_.conf.get("spark.sql.codegen.fallback")) == Seq("false", "false"),
      "the sweep must run with strict codegen")
    // 12 queries in flight (the Verify pattern; raised from 4 in the
    // round-19 gate-budget pass — the sweep is the suite's single
    // largest row at 132 s and its ops are independent: distinct temp
    // dirs/views, per-invocation table names; each op's own jobs are
    // small at sf0.001, so spare cores were idle at 4-wide)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = SparkEntry.queries.toSeq.map { case (name, fn) =>
        Future {
          val rows1 = fn(s1, sf001).collect()
            .map(r => r.toSeq.map(norm).mkString("|")).toSeq
          val rows32 = fn(s32, sf001).collect()
            .map(r => r.toSeq.map(norm).mkString("|")).toSeq
          val diff =
            if (rows1 == rows32) None
            else Some(rows1.zipAll(rows32, "<missing>", "<missing>")
              .zipWithIndex.collectFirst {
                case ((a, b), i) if a != b => s"row $i: [$a] vs [$b]"
              }.getOrElse(s"sizes ${rows1.size} vs ${rows32.size}"))
          (name, diff)
        }
      }
      val results = Await.result(Future.sequence(futures), Duration.Inf)
      val bad = results.collect { case (name, Some(d)) => s"$name: $d" }
      assert(bad.isEmpty, s"partition-count-sensitive queries:\n${bad.mkString("\n")}")
      assert(results.size == SparkEntry.queries.size)
    } finally pool.shutdown()
  }
}
