package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.graft.ListenerBusShim

/** Optimization-round measurement aid (guide §1): time named operators
  * in isolation AND count the Spark jobs/stages each invocation
  * schedules — the metric the snapshot-family optimizations move
  * (fused probe jobs, persisted change sets), which wall time alone
  * can't attribute. Also dumps the graded DataFrame's formatted plan
  * when GRAFT_PLAN_DIR is set (the plans/r18 before/after artifacts).
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     GRAFT_PLAN_DIR=plans/r18 GRAFT_PLAN_SUFFIX=_before \
  *     sbt "runMain graft.OpProbe etl_snapshot_merge_timetravel ..."
  *
  * Runs in Bench's session (AQE off, one shuffle partition per core),
  * so its times read on the same scale as FULLBENCH rows. One warm pass
  * at sf0.001 (codegen/JIT), then best-of-3 timed runs; jobs/stages are
  * counted on the LAST timed run, after draining the listener bus.
  */
object OpProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: OpProbe <op> [<op> ...]")
    val sfDir = Session.sfDir
    val warmDir = Session.warmDir(sfDir)
    val planDir = sys.env.get("GRAFT_PLAN_DIR")
    val planSuffix = sys.env.getOrElse("GRAFT_PLAN_SUFFIX", "")
    val spark = Session.local(Session.cpus, "spark.sql.adaptive.enabled" -> "false")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        { stages.incrementAndGet(); () }
    })
    args.foreach { name =>
      require(SparkEntry.queries.contains(name), s"unknown op $name")
      Session.warm(spark, Seq(name), warmDir)
      val runs = (1 to 3).flatMap { _ =>
        ListenerBusShim.drain(spark.sparkContext)
        jobs.set(0); stages.set(0)
        Session.timed(spark, name, sfDir).map { case (t, df) =>
          ListenerBusShim.drain(spark.sparkContext)
          (t, jobs.get(), stages.get(), df)
        }
      }
      if (runs.isEmpty) println(s"""{"op":"$name","failed":true}""")
      else {
        val best = runs.map(_._1).min
        val (_, j, s, df) = runs.last
        planDir.foreach { dir =>
          val p = java.nio.file.Paths.get(dir)
          java.nio.file.Files.createDirectories(p)
          java.nio.file.Files.write(p.resolve(s"$name$planSuffix.txt"),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
        }
        println(f"""{"op":"$name","best_sec":$best%.3f,"jobs":$j,"stages":$s}""")
      }
    }
    spark.stop()
  }
}
