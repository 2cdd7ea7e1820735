package graft.ops

import graft.{SparkSpec, Tables}
import graft.api.{SnapshotTable, Transforms}

/** The snapshot-orders fixture has two representations: the table
  * [[EtlOps.buildSnapshotOrders]] writes, and [[EtlOps.snapshotOrdersSql]],
  * the `v0`/`v1` CTE every snapshot oracle starts from. An edit to one
  * that misses the other fails here instead of only in the oracle sweep. */
class SnapshotOrdersSpec extends SparkSpec {

  test("the snapshot-orders fixture's v0 and v1 equal its SQL twin's rows") {
    val base = EtlOps.buildSnapshotOrders(spark, sf001)
    Tables.views(spark, sf001, "orders")
    for (v <- Seq(0, 1)) {
      val table = SnapshotTable.asOf(spark, base, v)
      val twin = spark.sql(EtlOps.snapshotOrdersSql +
        s"\nSELECT k AS o_orderkey, st AS o_orderstatus, price AS o_price FROM v$v")
      assert(table.schema.map(f => f.name -> f.dataType) ==
        twin.schema.map(f => f.name -> f.dataType))
      assert(table.count() > 0)
      assert(Transforms.multisetEqual(table, twin), s"v$v differs from its SQL twin")
    }
  }
}
