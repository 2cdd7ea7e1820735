package graft


/** Build-side audit: run every graded query at sf0.001 with
  * `spark.sql.codegen.fallback=false`, so any stage whose generated
  * code fails to compile (janino's 64 KB method limit, constant-pool
  * overflow) THROWS instead of silently degrading to interpreted
  * execution — the failure mode that cost `sim_ann_lsh_rp` its
  * whole-stage codegen for half of round 12 without any test or
  * bench number naming the culprit. Run once per round:
  *
  *   sbt "runMain graft.CodegenAudit [queryName ...]"
  *
  * Prints one line per query; exits nonzero if any query tripped the
  * strict-codegen check. Queries that legitimately keep a
  * non-codegen form (none today) would be documented here. */
object CodegenAudit {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4, "spark.sql.codegen.fallback" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    var failed = List.empty[String]
    names.foreach { n =>
      try {
        SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
        println(s"[codegen] ok   $n")
      } catch { case e: Throwable =>
        failed ::= n
        println(s"[codegen] FAIL $n: ${e.getMessage.linesIterator.next()}")
      }
    }
    println(s"[codegen] == ${names.size - failed.size} ok, ${failed.size} fail ==")
    if (failed.nonEmpty) sys.exit(1)
  }
}
