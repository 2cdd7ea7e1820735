package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans of a traced run, kept in memory and written out when it ends.
  *
  * Client spans (a call and its phases) are opened by the benchmark on its
  * one client thread. Spark jobs hang under whichever client span was open
  * when they started: the span and call ids travel in local properties of
  * the client thread, which Spark copies into every job it submits. Stage
  * spans hang under their jobs; task metrics are summed per stage.
  * Times are epoch milliseconds.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val t0n = System.nanoTime()
  private val t0ms = System.currentTimeMillis().toDouble
  private def nowMs: Double = t0ms + (System.nanoTime() - t0n) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var open: List[Span] = Nil
  private val jobSpan = mutable.Map[Int, Span]()
  private val stageSpan = mutable.Map[Int, Span]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageTasks = mutable.Map[Int, TaskAgg]()

  sc.addSparkListener(this)

  private def newSpan(parent: Int, call: Int, name: String, start: Double): Span =
    spans.synchronized {
      nextId += 1
      val s = Span(nextId, parent, call, name, start)
      spans += s
      s
    }

  private def setProps(): Unit = {
    sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
    sc.setLocalProperty(CallProp, open.lastOption.map(_.id.toString).orNull)
  }

  /** A call: the root span of everything it causes; returns its id. */
  def rootSpan(name: String)(body: => Unit): Int = {
    val s = newSpan(0, 0, name, nowMs)
    s.call = s.id
    open = List(s); setProps()
    try body finally { s.end = nowMs; open = Nil; setProps() }
    s.id
  }

  def span[T](name: String)(body: => T): T = {
    val root = open.lastOption.map(_.id).getOrElse(0)
    val s = newSpan(open.headOption.map(_.id).getOrElse(0), root, name, nowMs)
    open = s :: open; setProps()
    try body finally { s.end = nowMs; open = open.tail; setProps() }
  }

  private def prop(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = spans.synchronized {
    val s = newSpan(prop(e.properties, SpanProp), prop(e.properties, CallProp),
      "job", e.time.toDouble)
    jobSpan(e.jobId) = s
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = spans.synchronized {
    jobSpan.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = spans.synchronized {
    val info = e.stageInfo
    val job = stageJob.get(info.stageId).flatMap(jobSpan.get)
    val s = newSpan(job.map(_.id).getOrElse(0), job.map(_.call).getOrElse(0), "stage",
      info.submissionTime.map(_.toDouble).getOrElse(nowMs))
    stageSpan(info.stageId) = s
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = spans.synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach { s =>
      s.end = e.stageInfo.completionTime.map(_.toDouble).getOrElse(nowMs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = spans.synchronized {
    val a = stageTasks.getOrElseUpdate(e.stageId, new TaskAgg)
    a.durations += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spillDisk += m.diskBytesSpilled
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def spansJson: Seq[Map[String, Any]] = spans.synchronized {
    spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "call" -> s.call,
      "name" -> s.name, "start" -> s.start, "end" -> s.end))
  }

  /** Layer counts and times of each call, from its spans. */
  def perCall(calls: Seq[CallRecord]): Seq[Map[String, Any]] = spans.synchronized {
    val byCall = spans.groupBy(_.call)
    val stageOfSpan = stageSpan.map { case (st, s) => s.id -> st }
    calls.filter(_.spanId > 0).map { c =>
      val mine = byCall.getOrElse(c.spanId, mutable.ArrayBuffer())
      val root = spans.find(_.id == c.spanId).get
      val phases = mine.filter(s => s.parent == root.id && s.name != "job" && s.name != "stage")
      val phaseIds = phases.map(s => s.id -> s.name).toMap
      val jobs = mine.filter(_.name == "job")
      val stages = mine.filter(_.name == "stage")
      val aggs = stages.flatMap(s => stageOfSpan.get(s.id)).flatMap(stageTasks.get)
      val action = phases.find(_.name == "exec.action")
        .orElse(phases.find(_.name.startsWith("snapshot.")))
        .orElse(phases.find(_.name == "pipeline.run"))
      val actionJobs = action.map(a => jobs.filter(_.parent == a.id)).getOrElse(Nil)
      val actionJobIds = actionJobs.map(_.id).toSet
      val actionAggs = stages.filter(s => actionJobIds.contains(s.parent))
        .flatMap(s => stageOfSpan.get(s.id)).flatMap(stageTasks.get)
      val actionWall = action.map(a => (a.end - a.start) / 1e3).getOrElse(0.0)
      val gap = action.map(a => (a.end - a.start - covered(a, actionJobs)) / 1e3).getOrElse(0.0)
      val skew = aggs.filter(_.durations.size >= 2).map { a =>
        val d = a.durations.sorted
        d.last.toDouble / math.max(1.0, d(d.size / 2).toDouble)
      }.maxOption.getOrElse(1.0)
      Map("span" -> c.spanId, "op" -> c.op, "kind" -> c.kind,
        "wall_s" -> (root.end - root.start) / 1e3,
        "covered_s" -> covered(root, phases) / 1e3,
        "jobs" -> jobs.size,
        "jobs_by_phase" -> jobs.groupBy(j => phaseIds.getOrElse(j.parent, "unattributed"))
          .map { case (k, v) => k -> v.size },
        "stages" -> stages.size, "tasks" -> aggs.map(_.durations.size).sum,
        "action_s" -> actionWall, "action_jobs" -> actionJobs.size,
        "driver_gap_s" -> gap,
        "task_run_s" -> aggs.map(_.runMs).sum / 1e3,
        "action_task_run_s" -> actionAggs.map(_.runMs).sum / 1e3,
        "task_cpu_s" -> aggs.map(_.cpuNs).sum / 1e9,
        "task_gc_s" -> aggs.map(_.gcMs).sum / 1e3,
        "input_mb" -> aggs.map(_.inputBytes).sum / 1048576.0,
        "shuffle_write_mb" -> aggs.map(_.shuffleWrite).sum / 1048576.0,
        "shuffle_read_mb" -> aggs.map(_.shuffleRead).sum / 1048576.0,
        "spill_disk_mb" -> aggs.map(_.spillDisk).sum / 1048576.0,
        "stage_skew" -> skew)
    }
  }

  /** Milliseconds of `outer` covered by the union of `inner` intervals. */
  private def covered(outer: Span, inner: Iterable[Span]): Double = {
    val iv = inner.map(s => (math.max(s.start, outer.start), math.min(s.end, outer.end)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val CallProp = "perfbench.call"

  final case class Span(id: Int, parent: Int, var call: Int, name: String, start: Double) {
    var end: Double = start
  }

  final class TaskAgg {
    val durations = mutable.ArrayBuffer[Long]()
    var runMs, cpuNs, gcMs, inputBytes, shuffleWrite, shuffleRead, spillDisk = 0L
  }
}
