package graft

/** Diagnostic main (not driver-invoked): measures every headline
  * query best-of-3 with AQE OFF and AQE ON on otherwise-identical
  * fresh sessions, and summarizes the FINAL adaptive plan (post-
  * re-optimization) structurally — join-strategy counts, exchange
  * count, AQEShuffleRead (partition-coalesce) count — next to the
  * static AQE-off plan. Output: one JSON line per query + a total
  * line. This is the evidence behind BASELINE.md's "AQE-on gap"
  * section: at 100 TB AQE defaults ON, so its per-query cost at
  * bench scale must be attributed (fixed per-stage re-planning
  * latency vs a genuine plan change), not assumed.
  *
  * Usage: sbt "runMain graft.AqeProbe [query ...]" (corpus and cores
  * from `Session.sfDir` / `Session.cpus`, as in Bench).
  */
object AqeProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = Session.sfDir
    val names = if (args.nonEmpty) args.toSeq else Bench.headline

    def measure(aqe: Boolean): Map[String, (Double, Map[String, Int])] = {
      val s = Session.local(Session.cpus, "spark.sql.adaptive.enabled" -> aqe.toString)
      try {
        Session.warm(s, names, Session.warmDir(sfDir))
        names.map { n =>
          val runs = (1 to 3).flatMap(_ => Session.timed(s, n, sfDir))
          // plan shape from the last executed run (AQE finalizes the
          // physical plan only after execution)
          n -> (runs.map(_._1).min, Session.shape(runs.last._2.queryExecution.executedPlan.toString))
        }.toMap
      } finally s.stop()
    }

    // Both orders must be run to attribute any delta: the second
    // session inherits a JIT-warm JVM, so a single ordering conflates
    // AQE cost with warm-up (observed: whichever mode runs second
    // wins by ~0.5-1 s on the 12-query suite).
    val onFirst = sys.env.get("SPARK_GRAFT_AQE_ORDER").contains("on_first")
    val (off, on) = if (onFirst) {
      val o = measure(aqe = true); (measure(aqe = false), o)
    } else {
      val o = measure(aqe = false); (o, measure(aqe = true))
    }
    names.foreach { n =>
      val (tOff, sOff) = off(n)
      val (tOn, sOn) = on(n)
      val structural = (sOff - "aqeRead").exists { case (k, v) => sOn(k) != v }
      println(f"""{"q":"$n","off_s":$tOff%.3f,"on_s":$tOn%.3f,"delta_s":${tOn - tOff}%.3f,""" +
        f""""off_shape":${sOff.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")},""" +
        f""""on_shape":${sOn.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")},""" +
        f""""structural_change":$structural}""")
    }
    val tOff = off.values.map(_._1).sum
    val tOn = on.values.map(_._1).sum
    println(f"""{"total_off_s":$tOff%.3f,"total_on_s":$tOn%.3f,"delta_s":${tOn - tOff}%.3f}""")
  }
}
