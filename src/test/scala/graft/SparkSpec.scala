package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (built once per test JVM). */
object SparkSpec {
  lazy val session: SparkSession = Session.local(4, "spark.sql.warehouse.dir" ->
    java.nio.file.Files.createTempDirectory("graft_wh").toString)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  /** Heavyweight test sizing: full scale when GRAFT_FULL_TESTS=1 (the
    * once-a-round CI-equivalent run), a smaller default so plain
    * `sbt test` stays a pre-commit gate rather than a 20-minute event.
    * Every property still runs on every invocation — only the row
    * count shrinks. */
  def sized(full: Long, quick: Long): Long =
    if (sys.env.get("GRAFT_FULL_TESTS").contains("1")) full else quick
}
