package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — the optional tail is a
    // build-side iteration filter; the driver always passes exactly 2.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = Session.local(Session.cpus) // Spark's default AQE (on)
    new java.io.File(outDir).mkdirs()
    // 12 queries in flight (round 19 — raised from 4 in the
    // gate-budget pass): Spark schedules concurrent jobs from separate
    // threads; queries are independent (distinct output dirs,
    // idempotent temp-view registration), so this only cuts wall time.
    // Each query's jobs are small at sf0.01, so 4-wide left most of
    // the 32 cores idle; 12-wide is the width the permutation sweep
    // runs every op at, twice over, every test run — measured 102 s →
    // ~80 s with identical outputs (305/305 oracle-pass either way).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
    val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
    val futures = selected.map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }(ec)
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures)(
        scala.collection.BuildFrom.buildFromIterableOps, ec),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
