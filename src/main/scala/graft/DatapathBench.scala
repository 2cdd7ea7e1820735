package graft

/** Data-path comparator (round 17 — VERDICT r16 item 2b).
  *
  * The headline 2x gate at sf0.1 is dominated by fixed local-mode
  * session constants (~0.1-0.3 s/query planning + scheduling), so its
  * conservative reading drifts with JVM ambient state rather than
  * with the library's data-path quality. This bench isolates the data
  * path by DIFFERENCING the constants out: each op is timed warm,
  * best-of-3, at BOTH sf0.01 and sf0.1 in the same session, and the
  * comparator is the per-op SLOPE t(sf0.1) - t(sf0.01) — the marginal
  * cost of 10x the data, with per-query fixed overhead cancelled by
  * construction. The DuckDB twin (scripts/baseline_datapath.py) runs
  * the exact oracle SQL texts under the identical two-point protocol;
  * BASELINE.md carries both tables and the slope-ratio gate. A session
  * constant cannot move a difference of two measurements taken in the
  * same session — which is precisely what the r16 verdict asked the
  * comparator to guarantee.
  *
  * Op set = the 10 slowest data-path rows of the FULLBENCH sweep
  * (maintenance/write-fixture ops excluded: snapshot compact /
  * optimize / incremental rewrite the table by design; the bucketed
  * join is a write-I/O fixture) + sim_knn_topk, the one headline op
  * with real compute, kept as the cross-check against BASELINE.md's
  * per-op reading.
  */
object DatapathBench {

  val ops: Seq[String] = Seq(
    "sim_sparse_cosine_topk",
    "graph_clustering_coefficient",
    "agg_rfm_segments",
    "graph_jaccard_links",
    "graph_adamic_adar",
    "agg_winsorized_mean",
    "sim_ann_ivfpq",
    "graph_degree_assortativity",
    "text_kneser_ney_lm",
    "agg_corr_matrix",
    "sim_knn_topk",
  )

  def main(args: Array[String]): Unit = {
    val lo = sys.env.getOrElse("SPARK_GRAFT_SF_LO", "/root/testdata/sf0.01")
    val hi = sys.env.getOrElse("SPARK_GRAFT_SF_HI", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local(cpus, "spark.sql.adaptive.enabled" -> "false") // match Bench
    spark.sparkContext.setLogLevel("ERROR")
    def bestOf3(name: String, dir: String): Double =
      (1 to 3).flatMap(_ => Session.timed(spark, name, dir)).map(_._1).min
    // one untimed warm pass (codegen + JIT) at the LO point per op,
    // then the two timed points back-to-back so the session state the
    // slope subtracts away is as identical as possible
    val rows = ops.map { name =>
      Session.warm(spark, Seq(name), lo)
      val tLo = bestOf3(name, lo)
      val tHi = bestOf3(name, hi)
      (name, tLo, tHi, tHi - tLo)
    }
    val js = rows.map { case (n, a, b, s) =>
      f""""$n":{"t_lo":$a%.3f,"t_hi":$b%.3f,"slope":$s%.3f}"""
    }.mkString(",")
    val tot = rows.map(_._4).sum
    println(f"""{"metric":"graft_datapath_slope","value":$tot%.3f,"unit":"sec","lo":"$lo","hi":"$hi","cpus":$cpus,"ops":{$js%s}}""")
    spark.stop()
  }
}
