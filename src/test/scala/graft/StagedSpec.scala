package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The stage store's contract: re-entrant builds, hits that run nothing
  * and are counted, at most two generations held across swaps, and a
  * lost first-build race that leaves no blocks behind. Stage names are
  * unique per test because every suite shares one session. */
class StagedSpec extends SparkSpec {

  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def fresh(): String = java.util.UUID.randomUUID().toString

  test("a builder may read another stage of the same session and corpus") {
    // "Aa" and "BB" share a String hash, so the two keys hash alike and
    // share a bin of the store at any table size: where nested
    // computeIfAbsent throws "Recursive update"
    val p = fresh()
    val (outer, inner) = (s"$p-Aa", s"$p-BB")
    assert((spark, outer, "c").hashCode == (spark, inner, "c").hashCode)
    val df = Staged(spark, outer, "c") {
      Staged(spark, inner, "c")(spark.range(3).toDF()).select(col("id") + 1)
    }
    assert(df.count() == 3)
  }

  test("a second get returns the same DataFrame, runs no job and counts one read") {
    val name = fresh()
    val first = Staged(spark, name, "c")(spark.range(5).toDF())
    assert(Staged.reads.get(name).isEmpty, "a miss is not a read")
    val (second, c) = Session.counted(spark)(Staged(spark, name, "c")(sys.error("rebuilt")))
    assert(second eq first)
    assert(c.jobs == 0, s"hit launched ${c.jobs} jobs")
    assert(Staged.reads(name) == 1L)
  }

  test("swap keeps the current and the retired generation and releases older ones") {
    val name = fresh()
    val gens = (1 to 3).map { i =>
      val g = spark.range(i * 10).toDF().localCheckpoint()
      Staged.swap(spark, name, "c", g)
      rddIds(g)
    }
    assert(gens.forall(_.nonEmpty))
    assert(Staged.swaps(name) == 3L)
    val live = persisted
    assert(gens(0).forall(id => !live(id)), "first generation still persisted")
    assert(gens.drop(1).flatten.forall(live), "current or retired generation released")
    assert(Staged(spark, name, "c")(sys.error("rebuilt")).count() == 30)
  }

  test("graph_family_stage 3x holds at most two generations of the co-purchase stages") {
    val (before, swapsBefore) = (persisted, Staged.swaps)
    for (_ <- 1 to 3) assert(SparkEntry.queries("graph_family_stage")(spark, sf001).count() == 1)
    val added = persisted -- before
    assert(added.size <= 2 * 3, s"${added.size} new persisted RDDs after three stagings")
    for (st <- Seq("copurchase_edges", "copurchase_deg", "copurchase_wedges"))
      assert(Staged.swaps(st) - swapsBefore.getOrElse(st, 0L) == 3L, s"$st swaps")
  }

  test("a lost concurrent first build leaves exactly one persisted checkpoint") {
    val name = fresh()
    val bothBuilding = new CountDownLatch(2)
    val before = persisted
    val pool = Executors.newFixedThreadPool(2)
    try {
      val runs = (1 to 2).map(_ => pool.submit(new Callable[DataFrame] {
        def call(): DataFrame = Staged(spark, name, "c") {
          bothBuilding.countDown()
          assert(bothBuilding.await(60, TimeUnit.SECONDS), "builders never overlapped")
          spark.range(100).toDF()
        }
      }))
      val got = runs.map(_.get(120, TimeUnit.SECONDS))
      assert(got(0) eq got(1))
      assert((persisted -- before) == rddIds(got(0)).toSet)
    } finally pool.shutdown()
  }
}
