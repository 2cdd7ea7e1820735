package graft

import org.apache.spark.sql.functions._
import graft.ops._
import scala.jdk.CollectionConverters._

/** Round-17 additions: manifest-level column statistics on the
  * snapshot table (#291) — contracts the DuckDB hash-compare cannot
  * articulate: that the manifest stats agree with the real footers,
  * that pruning is decided from the manifest alone and loses no rows,
  * and that stats survive a merge's carry-by-reference. */
class Round17OpsSpec extends SparkSpec {

  test("manifest stats (#291): manifest [min,max] equals the footer truth per file") {
    val df = EtlOps.etlSnapshotStatsPruned(spark, sf001)
    // the graded op's inline requires already ran; rebuild a table
    // here to hold the base dir open for footer inspection
    val base = tempDir("graft_stats_spec")
    val o = Tables.orders(spark, sf001).select(col("o_orderkey"),
      Tables.money(col("o_totalprice")).as("o_price"))
    graft.api.SnapshotTable.create(spark, base, o, "o_orderkey", numBuckets = 4)
    val v2 = graft.api.SnapshotTable.optimizeCluster(
      spark, base, "o_orderkey", "o_price", numBuckets = 4, subFiles = 3)
    val entries = graft.api.SnapshotTable.fileEntries(spark, base, v2)
    assert(entries.nonEmpty && entries.forall(_.statsCol.contains("o_price")),
      "every OPTIMIZE-written line must carry o_price stats")
    val conf = spark.sparkContext.hadoopConfiguration
    entries.foreach { e =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(e.path), conf))
      try {
        val stats = reader.getFooter.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala.filter(_.getPath.toDotString == "o_price")
            .map(_.getStatistics)
        }
        val scale = 2
        val mins = stats.map(s => java.math.BigDecimal.valueOf(
          s.genericGetMin().asInstanceOf[java.lang.Long], scale))
        val maxs = stats.map(s => java.math.BigDecimal.valueOf(
          s.genericGetMax().asInstanceOf[java.lang.Long], scale))
        assert(e.min.get.compareTo(mins.min) == 0 &&
               e.max.get.compareTo(maxs.max) == 0,
          s"manifest stats drift from footer for ${e.path}: " +
          s"manifest [${e.min.get}, ${e.max.get}] vs footer " +
          s"[${mins.min}, ${maxs.max}]")
      } finally reader.close()
    }
    // manifest-only pruning loses no rows: pruned + residual filter
    // equals the full filtered read, and the kept set is minimal wrt
    // the manifest ranges (every kept file's range intersects)
    val lo = new java.math.BigDecimal("50000.00")
    val hi = new java.math.BigDecimal("150000.00")
    val (kept, total) = graft.api.SnapshotTable.prunedFiles(
      spark, base, v2, "o_price", lo, hi)
    assert(kept.size < total, s"no pruning: $kept of $total")
    val viaPruned = graft.api.SnapshotTable
      .asOfRange(spark, base, v2, "o_price", lo, hi)
      .agg(count(lit(1)), sum(col("o_price"))).collect()(0)
    val full = graft.api.SnapshotTable.asOf(spark, base, v2)
      .where(col("o_price").between(lit(lo), lit(hi)))
      .agg(count(lit(1)), sum(col("o_price"))).collect()(0)
    assert(viaPruned == full, s"pruned read lost rows: $viaPruned vs $full")
    val keptSet = kept.toSet
    entries.filter(e => keptSet.contains(e.path)).foreach { e =>
      assert(e.max.get.compareTo(lo) >= 0 && e.min.get.compareTo(hi) <= 0,
        s"kept file ${e.path} does not intersect the band (over-keeping)")
    }
    assert(df.collect().length == 1)
  }

  test("schema evolution (#292): per-version schemas, boundary diff, maintenance materialization") {
    import graft.api.SnapshotTable
    val base = tempDir("graft_evo_spec")
    val o = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), Tables.money(col("o_totalprice")).as("o_price"))
    SnapshotTable.create(spark, base, o, "o_orderkey", numBuckets = 4)
    val v1 = SnapshotTable.addColumn(spark, base, "o_tag", "STRING")
    assert(v1 == 1)
    // time travel: each version's OWN schema
    assert(SnapshotTable.asOf(spark, base, 0).columns.toSeq ==
      Seq("o_orderkey", "o_price"))
    assert(SnapshotTable.asOf(spark, base, 1).columns.toSeq ==
      Seq("o_orderkey", "o_price", "o_tag"))
    // pure metadata commit: same files, new column all-null
    assert(SnapshotTable.liveFiles(spark, base, 1) ==
      SnapshotTable.liveFiles(spark, base, 0))
    assert(SnapshotTable.asOf(spark, base, 1)
      .where(col("o_tag").isNotNull).count() == 0)
    // a schema-only version transition produces NO CDC rows
    assert(SnapshotTable.diff(spark, base, 0, 1, "o_orderkey").count() == 0)
    // backfill merge across the boundary
    val cohort = o.where(col("o_orderkey") % 3 === 0)
    val changes = cohort.select(col("o_orderkey"), lit("U").as("op"),
      col("o_price"), lit("tagged").as("o_tag"))
    val v2 = SnapshotTable.mergeInto(spark, base, changes, "o_orderkey",
      numBuckets = 4)
    val after = SnapshotTable.asOf(spark, base, v2)
    assert(after.count() == o.count(), "backfill merge must not change rows")
    assert(after.where(col("o_tag") === "tagged").count() == cohort.count())
    // diff STRADDLING the evolution: exactly the cohort, classified
    // 'changed', with before.o_tag null under the aligned schema
    val d = SnapshotTable.diff(spark, base, 0, v2, "o_orderkey")
    assert(d.count() == cohort.count(),
      s"${d.count()} vs ${cohort.count()}")
    assert(d.where(col("change") =!= "changed").count() == 0)
    assert(d.where(col("before.o_tag").isNotNull).count() == 0 &&
           d.where(col("after.o_tag") =!= "tagged").count() == 0)
    // compact after evolution MATERIALIZES the column physically
    val v3 = SnapshotTable.compact(spark, base, "o_orderkey", 2)
    val rawCols = spark.read
      .parquet(SnapshotTable.liveFiles(spark, base, v3): _*).columns.toSeq
    assert(rawCols.contains("o_tag"),
      s"compact must write the evolved column physically, got $rawCols")
    assert(SnapshotTable.asOf(spark, base, v3).exceptAll(after).count() == 0)
    // optimizeCluster after evolution: schema declaration AND
    // manifest stats coexist on the same version
    val v4 = SnapshotTable.optimizeCluster(spark, base, "o_orderkey",
      "o_price", numBuckets = 2, subFiles = 2)
    assert(SnapshotTable.declaredSchema(spark, base, v4).fieldNames.toSeq ==
      Seq("o_orderkey", "o_price", "o_tag"))
    assert(SnapshotTable.fileEntries(spark, base, v4)
      .forall(_.statsCol.contains("o_price")))
    assert(SnapshotTable.asOf(spark, base, v4).columns.toSeq ==
      Seq("o_orderkey", "o_price", "o_tag"))
  }

  test("review r17: asOfRange is schema-first over mixed pre/post-evolution files; merge guards evolved columns") {
    import graft.api.SnapshotTable
    val base = tempDir("graft_evo_range")
    val o = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), Tables.money(col("o_totalprice")).as("o_price"))
    SnapshotTable.create(spark, base, o, "o_orderkey", numBuckets = 4)
    SnapshotTable.optimizeCluster(spark, base, "o_orderkey", "o_price",
      numBuckets = 4, subFiles = 3)
    val v2 = SnapshotTable.addColumn(spark, base, "o_tag", "STRING")
    // a merge that OMITS the evolved column must fail fast, not
    // silently null the column across touched buckets
    val badChanges = o.limit(3)
      .select(col("o_orderkey"), lit("U").as("op"), col("o_price"))
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.mergeInto(spark, base, badChanges, "o_orderkey", 4)
    }
    assert(err.getMessage.contains("o_tag"), err.getMessage)
    // backfill ONE bucket so the version mixes old (no o_tag) and new
    // (with o_tag) physical files
    val oneKey = o.select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .limit(1).collect()(0).getLong(0)
    val v3 = SnapshotTable.mergeInto(spark, base,
      o.where(col("o_orderkey") === oneKey)
        .select(col("o_orderkey"), lit("U").as("op"), col("o_price"),
          lit("tagged").as("o_tag")),
      "o_orderkey", numBuckets = 4)
    val lo = new java.math.BigDecimal("0.00")
    val hi = new java.math.BigDecimal("99999999.99")
    val ranged = SnapshotTable.asOfRange(spark, base, v3, "o_price", lo, hi)
    assert(ranged.columns.toSeq == Seq("o_orderkey", "o_price", "o_tag"),
      s"asOfRange must read the DECLARED schema, got ${ranged.columns.toSeq}")
    assert(ranged.where(col("o_tag") === "tagged").count() == 1,
      "the backfilled row's physical o_tag value must survive the range read")
    assert(ranged.count() == o.count())
  }

  test("review r17: joinAdvisory handles '10MB' and the disable sentinel '-1'") {
    val s = spark.newSession()
    val df = Tables.orders(s, sf001).join(Tables.customer(s, sf001),
      col("o_custkey") === col("c_custkey"))
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val mb = graft.api.CostExplain.joinAdvisory(df).collect()
    assert(mb.length == 1 && mb(0).getAs[Long]("threshold_bytes") == 10L << 20)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val off = graft.api.CostExplain.joinAdvisory(df).collect()
    assert(off.length == 1 && !off(0).getAs[Boolean]("broadcast_left") &&
      !off(0).getAs[Boolean]("broadcast_right") &&
      off(0).getAs[String]("advisory").contains("shuffles"),
      off.mkString(","))
  }

  test("manifest stats (#291): stats ride a merge by reference; rewritten buckets degrade safely") {
    val base = tempDir("graft_stats_merge")
    val o = Tables.orders(spark, sf001).select(col("o_orderkey"),
      Tables.money(col("o_totalprice")).as("o_price"))
    graft.api.SnapshotTable.create(spark, base, o, "o_orderkey", numBuckets = 4)
    val v2 = graft.api.SnapshotTable.optimizeCluster(
      spark, base, "o_orderkey", "o_price", numBuckets = 4, subFiles = 3)
    // touch ONE key → exactly one bucket rewrites; the other buckets'
    // stats lines must be carried verbatim
    val oneKey = o.select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .limit(1).collect()(0).getLong(0)
    val changes = o.where(col("o_orderkey") === oneKey)
      .select(col("o_orderkey"), lit("U").as("op"),
        (col("o_price") + lit(1)).cast("decimal(18,2)").as("o_price"))
    val v3 = graft.api.SnapshotTable.mergeInto(spark, base, changes,
      "o_orderkey", numBuckets = 4)
    val before = graft.api.SnapshotTable.fileEntries(spark, base, v2)
    val after = graft.api.SnapshotTable.fileEntries(spark, base, v3)
    val carried = after.filter(e => before.exists(_.path == e.path))
    assert(carried.nonEmpty && carried.forall(_.statsCol.contains("o_price")),
      "carried-by-reference lines must keep their stats fields")
    val rewritten = after.filterNot(e => before.exists(_.path == e.path))
    assert(rewritten.nonEmpty && rewritten.forall(_.statsCol.isEmpty),
      "freshly merged files carry no stats (re-OPTIMIZE re-adds them)")
    // a range read on the post-merge version stays correct: the
    // stats-less rewritten files are always kept
    val lo = new java.math.BigDecimal("0.00")
    val hi = new java.math.BigDecimal("999999.99")
    val n = graft.api.SnapshotTable
      .asOfRange(spark, base, v3, "o_price", lo, hi).count()
    assert(n == graft.api.SnapshotTable.asOf(spark, base, v3).count(),
      "full-range asOfRange must see every row incl. stats-less files")
  }

  test("restore (#293): metadata-only undo, history intact, restored files survive vacuum, merge-on-top works") {
    import graft.api.SnapshotTable
    val base = tempDir("graft_restore")
    val o = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), Tables.money(col("o_totalprice")).as("o_price"))
    SnapshotTable.create(spark, base, o, "o_orderkey", numBuckets = 4)
    val total0 = o.count()
    // v1: delete a cohort via merge
    val dels = o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), lit("D").as("op"),
        lit(null).cast("decimal(18,2)").as("o_price"))
    SnapshotTable.mergeInto(spark, base, dels, "o_orderkey", numBuckets = 4)
    assert(SnapshotTable.asOf(spark, base, 1).count() < total0)
    val v2 = SnapshotTable.restore(spark, base, 0)
    assert(v2 == 2)
    assert(SnapshotTable.liveFiles(spark, base, 2) ==
           SnapshotTable.liveFiles(spark, base, 0),
      "restore must carry the target manifest verbatim")
    assert(SnapshotTable.asOf(spark, base, 2).count() == total0)
    // history intact: v1 still shows the deletion
    assert(SnapshotTable.asOf(spark, base, 1).count() < total0)
    // the restored files are LIVE again: a retention window that
    // drops v0 itself must not collect files v2 re-references
    val (dropped, deleted) = SnapshotTable.vacuum(spark, base, keepVersions = 2)
    assert(dropped == 1, s"expected to drop v0 only, dropped $dropped")
    assert(SnapshotTable.asOf(spark, base, 2).count() == total0,
      s"vacuum deleted $deleted files still referenced by the restored head")
    // a merge on top of the restored head works unchanged
    val oneKey = o.select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .limit(1).collect()(0).getLong(0)
    val v3 = SnapshotTable.mergeInto(spark, base,
      o.where(col("o_orderkey") === oneKey)
        .select(col("o_orderkey"), lit("U").as("op"),
          (col("o_price") + lit(1)).cast("decimal(18,2)").as("o_price")),
      "o_orderkey", numBuckets = 4)
    assert(SnapshotTable.asOf(spark, base, v3).count() == total0)
    // restoring to a dropped version fails loudly
    intercept[IllegalArgumentException] {
      SnapshotTable.restore(spark, base, 99)
    }
  }

  test("rename column (#294): logical surface everywhere — CDC, range reads, stats, rename-back, collisions") {
    import graft.api.SnapshotTable
    val base = tempDir("graft_rename")
    val o = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), Tables.money(col("o_totalprice")).as("o_price"))
    SnapshotTable.create(spark, base, o, "o_orderkey", numBuckets = 4)
    val v1 = SnapshotTable.renameColumn(spark, base, "o_price", "o_amount")
    // CDC across the rename: a content change made AFTER the rename
    // reports under the LATER version's logical names
    val oneKey = o.select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .limit(1).collect()(0).getLong(0)
    val v2 = SnapshotTable.mergeInto(spark, base,
      o.where(col("o_orderkey") === oneKey)
        .select(col("o_orderkey"), lit("U").as("op"),
          (col("o_price") + lit(7)).cast("decimal(18,2)").as("o_amount")),
      "o_orderkey", numBuckets = 4)
    val d = SnapshotTable.diff(spark, base, 0, v2, "o_orderkey")
    assert(d.count() == 1 &&
      d.select(col("after.o_amount")).collect()(0).get(0) != null,
      "diff straddling a rename must surface the logical name")
    // OPTIMIZE + manifest-stats range read, both addressed logically
    val v3 = SnapshotTable.optimizeCluster(spark, base, "o_orderkey",
      "o_amount", numBuckets = 4, subFiles = 3)
    val lo = new java.math.BigDecimal("50000.00")
    val hi = new java.math.BigDecimal("150000.00")
    val (kept, totalFiles) = SnapshotTable.prunedFiles(
      spark, base, v3, "o_amount", lo, hi)
    assert(kept.size < totalFiles, "stats pruning must work post-rename")
    val viaRange = SnapshotTable.asOfRange(spark, base, v3, "o_amount", lo, hi)
    assert(viaRange.columns.contains("o_amount"))
    assert(viaRange.count() ==
      SnapshotTable.asOf(spark, base, v3)
        .where(col("o_amount").between(lit(lo), lit(hi))).count())
    // collisions: the old physical name is reserved in BOTH name spaces
    intercept[IllegalArgumentException] {
      SnapshotTable.addColumn(spark, base, "o_price", "STRING")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, base, "o_orderkey", "o_price")
    }
    // rename-back to the physical name drops the mapping entirely
    val v4 = SnapshotTable.renameColumn(spark, base, "o_amount", "o_price")
    assert(SnapshotTable.asOf(spark, base, v4).columns.toSeq ==
      Seq("o_orderkey", "o_price"))
    // and the add that previously collided now succeeds
    val v5 = SnapshotTable.addColumn(spark, base, "o_amount", "STRING")
    assert(SnapshotTable.asOf(spark, base, v5).columns.toSeq ==
      Seq("o_orderkey", "o_price", "o_amount"))
  }

  test("rename + add column (#292×#294): evolution and mapping compose in both orders") {
    import graft.api.SnapshotTable
    val base = tempDir("graft_rename_add")
    val o = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), Tables.money(col("o_totalprice")).as("o_price"))
    SnapshotTable.create(spark, base, o, "o_orderkey", numBuckets = 4)
    SnapshotTable.addColumn(spark, base, "o_tag", "STRING")
    val v2 = SnapshotTable.renameColumn(spark, base, "o_tag", "o_label")
    assert(SnapshotTable.asOf(spark, base, v2).columns.toSeq ==
      Seq("o_orderkey", "o_price", "o_label"))
    // merge carrying the renamed evolved column: the declared-columns
    // guard speaks logical names too (changes carry o_label)
    val cohort = o.where(col("o_orderkey") % 3 === 0)
    val v3 = SnapshotTable.mergeInto(spark, base,
      cohort.select(col("o_orderkey"), lit("U").as("op"), col("o_price"),
        lit("x").as("o_label")),
      "o_orderkey", numBuckets = 4)
    val head = SnapshotTable.asOf(spark, base, v3)
    assert(head.where(col("o_label") === "x").count() == cohort.count())
    // the physically-written column name is the PHYSICAL o_tag
    val newFiles = (SnapshotTable.liveFiles(spark, base, v3).toSet --
      SnapshotTable.liveFiles(spark, base, v2).toSet).toSeq
    assert(spark.read.parquet(newFiles: _*).columns.contains("o_tag"))
    // a merge omitting the renamed evolved column fails fast, naming
    // the PHYSICAL column (the declared schema's name space)
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.mergeInto(spark, base,
        o.limit(2).select(col("o_orderkey"), lit("U").as("op"), col("o_price")),
        "o_orderkey", numBuckets = 4)
    }
    assert(err.getMessage.contains("o_tag"), err.getMessage)
  }

  test("delete where (#295): null rows survive, stats-less tables rewrite everything, no-match bands publish nothing") {
    import graft.api.SnapshotTable
    val base = tempDir("graft_delete")
    val o = Tables.orders(spark, sf001)
      .select(col("o_orderkey"),
        // null out a cohort's price: DELETE's three-valued WHERE must
        // keep them (predicate UNKNOWN, not TRUE)
        when(col("o_orderkey") % 17 === 0, lit(null))
          .otherwise(Tables.money(col("o_totalprice")))
          .cast("decimal(18,2)").as("o_price"))
    SnapshotTable.create(spark, base, o, "o_orderkey", numBuckets = 4)
    val nulls = o.where(col("o_price").isNull).count()
    assert(nulls > 0)
    val lo = new java.math.BigDecimal("0.00")
    val hi = new java.math.BigDecimal("100000.00")
    // stats-less table: every file is a candidate (skipped == 0),
    // correctness unchanged
    val (v1, rewritten, skipped) = SnapshotTable.deleteRange(
      spark, base, "o_orderkey", "o_price", lo, hi, numBuckets = 4)
    assert(v1 == 1 && skipped == 0 && rewritten > 0)
    val head = SnapshotTable.asOf(spark, base, v1)
    assert(head.where(col("o_price").isNull).count() == nulls,
      "null-predicate rows must survive a DELETE WHERE")
    assert(head.where(col("o_price").between(lit(lo), lit(hi))).count() == 0)
    assert(head.count() ==
      o.where(col("o_price").isNull ||
        !col("o_price").between(lit(lo), lit(hi))).count())
    // merge on top of the delete works (bucket addressing preserved)
    val k = head.select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .limit(1).collect()(0).getLong(0)
    val v2 = SnapshotTable.mergeInto(spark, base,
      head.where(col("o_orderkey") === k)
        .select(col("o_orderkey"), lit("U").as("op"),
          lit(new java.math.BigDecimal("123456.00")).as("o_price")),
      "o_orderkey", numBuckets = 4)
    assert(SnapshotTable.asOf(spark, base, v2).count() == head.count())
    // a band no live row can match: after OPTIMIZE the manifest stats
    // prove it, so NOTHING is published and the version stands
    val v3 = SnapshotTable.optimizeCluster(spark, base, "o_orderkey",
      "o_price", numBuckets = 4, subFiles = 2)
    val (v4, rw2, sk2) = SnapshotTable.deleteRange(
      spark, base, "o_orderkey", "o_price",
      new java.math.BigDecimal("-500.00"), new java.math.BigDecimal("-1.00"),
      numBuckets = 4)
    assert(v4 == v3 && rw2 == 0 && sk2 > 0,
      s"no-match delete must be a no-op: v=$v4 rw=$rw2 sk=$sk2")
    assert(SnapshotTable.latestVersion(spark, base) == v3)
  }

  test("review r17b: header-unsafe column names are refused at the evolution doors; probes cast to the table's key type") {
    import graft.api.SnapshotTable
    val base = tempDir("graft_safety")
    val o = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), Tables.money(col("o_totalprice")).as("o_price"))
    SnapshotTable.create(spark, base, o, "o_orderkey", numBuckets = 8)
    // a ',' or '=' in an evolved name would serialize a #colmap/#schema
    // header the parser cannot re-read — refuse at the door
    intercept[IllegalArgumentException] {
      SnapshotTable.addColumn(spark, base, "a,b", "STRING")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, base, "o_price", "a=b")
    }
    // probeBuckets casts the probe to the TABLE's key type: an int32
    // probe frame against this bigint-keyed table must land in the
    // same buckets as the stored rows (xxhash64 is type-sensitive)
    val k0 = o.agg(min(col("o_orderkey"))).collect()(0).getLong(0)
    val intProbe = spark.createDataFrame(Seq(Tuple1(k0.toInt)))
      .toDF("o_orderkey") // IntegerType on purpose
    val bks = SnapshotTable.probeBuckets(spark, base, 0, intProbe,
      "o_orderkey", 8)
    val hit = SnapshotTable.asOfBuckets(spark, base, 0, bks)
      .where(col("o_orderkey") === k0)
    assert(hit.count() == 1,
      s"int32 probe must resolve to the stored key's bucket (got $bks)")
  }

  test("point lookup (#297): absent keys read empty through the same pruned path") {
    import graft.api.SnapshotTable
    val base = tempDir("graft_lookup")
    val o = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), Tables.money(col("o_totalprice")).as("o_price"))
    SnapshotTable.create(spark, base, o, "o_orderkey", numBuckets = 8)
    // keys that are certainly absent: above the max live key
    val maxKey = o.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val ghosts = Seq(maxKey + 1, maxKey + 7, maxKey + 13)
    val buckets = spark.createDataFrame(ghosts.map(Tuple1(_))).toDF("k")
      .select(SnapshotTable.bucketExpr("k", 8).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val hit = SnapshotTable.asOfBuckets(spark, base, 0, buckets)
      .where(col("o_orderkey").isin(ghosts: _*))
    assert(hit.count() == 0, "ghost keys must read empty")
    // and a real key read through its bucket equals the full-scan row
    val k0 = o.agg(min(col("o_orderkey"))).collect()(0).getLong(0)
    val b0 = spark.createDataFrame(Seq(Tuple1(k0))).toDF("k")
      .select(SnapshotTable.bucketExpr("k", 8).as("b"))
      .collect()(0).getInt(0)
    val viaBucket = SnapshotTable.asOfBuckets(spark, base, 0, Set(b0))
      .where(col("o_orderkey") === k0).collect()
    val viaScan = SnapshotTable.asOf(spark, base, 0)
      .where(col("o_orderkey") === k0).collect()
    assert(viaBucket.toSeq == viaScan.toSeq && viaScan.nonEmpty)
  }

  test("CDC follower (#298): deltas compose forwards AND rewind backwards across the whole history") {
    import graft.api.SnapshotTable
    val base = tempDir("graft_follow")
    val o = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), Tables.money(col("o_totalprice")).as("o_price"))
    SnapshotTable.create(spark, base, o, "o_orderkey", numBuckets = 4)
    // three commits: update, delete, insert-back
    SnapshotTable.mergeInto(spark, base,
      o.where(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), lit("U").as("op"),
          (col("o_price") + lit(5)).cast("decimal(18,2)").as("o_price")),
      "o_orderkey", numBuckets = 4)
    SnapshotTable.mergeInto(spark, base,
      o.where(col("o_orderkey") % 4 === 1)
        .select(col("o_orderkey"), lit("D").as("op"),
          lit(null).cast("decimal(18,2)").as("o_price")),
      "o_orderkey", numBuckets = 4)
    val vHead = SnapshotTable.mergeInto(spark, base,
      o.where(col("o_orderkey") % 4 === 1 && col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), lit("U").as("op"),
          (col("o_price") * lit(2)).cast("decimal(18,2)").as("o_price")),
      "o_orderkey", numBuckets = 4)
    assert(vHead == 3)
    // forwards: v0 + all deltas == head
    val fwd = (1 to vHead).foldLeft(SnapshotTable.asOf(spark, base, 0)) {
      (st, v) => SnapshotTable.applyDiff(st,
        SnapshotTable.diff(spark, base, v - 1, v, "o_orderkey"), "o_orderkey")
    }
    val head = SnapshotTable.asOf(spark, base, vHead)
    assert(fwd.exceptAll(head).isEmpty && head.exceptAll(fwd).isEmpty)
    // backwards: head + reversed deltas == v0 (diff is directional,
    // so a follower can REWIND through the same API)
    val back = (vHead to 1 by -1).foldLeft(head) {
      (st, v) => SnapshotTable.applyDiff(st,
        SnapshotTable.diff(spark, base, v, v - 1, "o_orderkey"), "o_orderkey")
    }
    val v0 = SnapshotTable.asOf(spark, base, 0)
    assert(back.exceptAll(v0).isEmpty && v0.exceptAll(back).isEmpty)
    // an empty delta is the identity fold
    val same = SnapshotTable.applyDiff(head,
      SnapshotTable.diff(spark, base, vHead, vHead, "o_orderkey"), "o_orderkey")
    assert(same.exceptAll(head).isEmpty && head.exceptAll(same).isEmpty)
  }

  test("shallow clone (#299): branch isolation, clone-side vacuum safety, and the source-retention hazard") {
    import graft.api.SnapshotTable
    val src = tempDir("graft_clone_src")
    val dst = tempDir("graft_clone_dst") + "/t"
    val o = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), Tables.money(col("o_totalprice")).as("o_price"))
    SnapshotTable.create(spark, src, o, "o_orderkey", numBuckets = 4)
    SnapshotTable.cloneShallow(spark, src, dst)
    assert(SnapshotTable.liveFiles(spark, dst, 0) ==
           SnapshotTable.liveFiles(spark, src, 0), "zero-copy clone")
    // cloning over an existing table is refused
    intercept[IllegalArgumentException] {
      SnapshotTable.cloneShallow(spark, src, dst)
    }
    // branch diverges; source never advances
    val oneKey = o.agg(min(col("o_orderkey"))).collect()(0).getLong(0)
    SnapshotTable.mergeInto(spark, dst,
      o.where(col("o_orderkey") === oneKey)
        .select(col("o_orderkey"), lit("U").as("op"),
          (col("o_price") + lit(1)).cast("decimal(18,2)").as("o_price")),
      "o_orderkey", numBuckets = 4)
    assert(SnapshotTable.latestVersion(spark, src) == 0)
    assert(SnapshotTable.asOf(spark, src, 0).exceptAll(o).isEmpty)
    // CLONE-side vacuum can never touch source files: drop the
    // clone's v0, vacuum it, and both tables stay fully readable
    val (dropped, _) = SnapshotTable.vacuum(spark, dst, keepVersions = 1)
    assert(dropped == 1)
    assert(SnapshotTable.asOf(spark, dst, 1).count() == o.count())
    assert(SnapshotTable.asOf(spark, src, 0).count() == o.count(),
      "clone vacuum must not delete source data")
    // SOURCE-retention hazard (the documented Delta clone contract):
    // advance the source so v0's files become src-unreferenced, then
    // vacuum the source past the cloned-from version — the clone's
    // untouched buckets now dangle and its read breaks. Source
    // retention must cover live clones; this pins the failure mode
    // so the contract is tested, not just prose.
    SnapshotTable.mergeInto(spark, src,
      o.select(col("o_orderkey"), lit("U").as("op"),
        (col("o_price") + lit(2)).cast("decimal(18,2)").as("o_price")),
      "o_orderkey", numBuckets = 4) // rewrites every bucket
    val (d2, deleted2) = SnapshotTable.vacuum(spark, src, keepVersions = 1)
    assert(d2 == 1 && deleted2 > 0, s"dropped=$d2 deleted=$deleted2")
    val broken = intercept[Exception] {
      SnapshotTable.asOf(spark, dst, 1).count()
    }
    assert(broken != null)
  }
}
