package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Py4J-friendly facade over the DataFrame-level [[Transforms]] and
  * [[SnapshotTable]] surface (round 16 — VERDICT r15 ask 4, the
  * PySpark half of the reachability story; the SQL half landed in
  * round 15 via GraftExtensions).
  *
  * PySpark already reaches everything SQL-registered through
  * `spark.sql(...)`; what it cannot comfortably reach are the
  * DataFrame-level library calls, because py4j cannot synthesize
  * Scala `Column` arguments, default parameters, or `Seq[(String,
  * Double)]`. This object therefore exposes ONE overload per entry
  * point with py4j-native signatures only: `DataFrame` (PySpark's
  * `df._jdf`), `SparkSession` (`spark._jsparkSession`), `String`
  * column NAMES, primitives, and `java.util.List` (what a Python
  * list arrives as). Results are plain `DataFrame`s — wrap with
  * `pyspark.sql.DataFrame(jdf, spark)` on the Python side.
  *
  * Committed usage example: `python/graft_pybridge_example.py`,
  * smoke-run end-to-end by `scripts/pybridge_smoke.sh` (sbt package →
  * spark-submit with the library jar → semantic assertions on every
  * call below).
  *
  * Determinism contract is inherited, not re-implemented: hashSplit /
  * hashSample membership is the md5 hash point (identical from SQL,
  * Scala, and Python); ntileBySketch is the distributed exact-rank
  * machinery; saltedJoin replicates the right side `saltFactor` ways.
  */
object PyBridge {

  import scala.jdk.CollectionConverters._

  /** [[Transforms.hashSplit]]: adds `outCol` labeling each row with
    * its deterministic split. `labels` and `fractions` must be equal
    * length; fractions sum to <= 1 (shortfall falls into the last
    * label). */
  def hashSplit(df: DataFrame, keyCol: String, salt: String,
                labels: java.util.List[String],
                fractions: java.util.List[java.lang.Double],
                outCol: String): DataFrame = {
    require(labels.size == fractions.size,
      s"labels (${labels.size}) and fractions (${fractions.size}) must " +
      "be equal length — zip-truncation would silently mis-split")
    val splits = labels.asScala.toSeq
      .zip(fractions.asScala.toSeq.map(_.doubleValue()))
    df.withColumn(outCol, Transforms.hashSplit(col(keyCol), salt, splits))
  }

  /** [[Transforms.hashSample]]: keeps ~`fraction` of rows, membership
    * a pure function of (key, salt). */
  def hashSample(df: DataFrame, keyCol: String, salt: String,
                 fraction: Double): DataFrame =
    df.where(Transforms.hashSample(col(keyCol), salt, fraction))

  /** [[Transforms.profile]] with the spec inferred from the schema
    * ([[Transforms.profileSpec]]): one row per profiled column. */
  def profile(df: DataFrame): DataFrame =
    Transforms.profile(df, Transforms.profileSpec(df))

  /** [[Transforms.ntileBySketch]]: adds an `ntile` column in 1..n by
    * `valueCol`, ties broken by `tieBreakCol` (must be unique per
    * row for a total order) — the distributed exact-rank path, never
    * a single-partition window. */
  def ntileBySketch(df: DataFrame, valueCol: String, tieBreakCol: String,
                    n: Int): DataFrame =
    Transforms.ntileBySketch(df, col(valueCol),
      struct(col(valueCol), col(tieBreakCol)), n)

  /** [[Transforms.saltedJoin]]: inner equi-join with the left side's
    * hot keys split `saltFactor` ways (salt derived from the left
    * key). Result equals the plain inner join, row for row. */
  def saltedJoin(left: DataFrame, right: DataFrame,
                 leftKey: String, rightKey: String,
                 saltFactor: Int): DataFrame =
    Transforms.saltedJoin(left, right, col(leftKey), col(rightKey),
      col(leftKey), saltFactor)

  // ------------------------------------------------ SnapshotTable

  def snapshotCreate(spark: SparkSession, base: String, rows: DataFrame,
                     keyCol: String, numBuckets: Int): Unit =
    SnapshotTable.create(spark, base, rows, keyCol, numBuckets)

  /** [[SnapshotTable.mergeInto]] (changes carry `keyCol`, an `op`
    * column 'U'/'D', and the payload). Returns the new version. Any
    * `op` other than 'U'/'D' throws and commits no version. */
  def snapshotMerge(spark: SparkSession, base: String, changes: DataFrame,
                    keyCol: String, numBuckets: Int): Int =
    SnapshotTable.mergeInto(spark, base, changes, keyCol, numBuckets)

  def snapshotLatestVersion(spark: SparkSession, base: String): Int =
    SnapshotTable.latestVersion(spark, base)

  /** Snapshot read of the LATEST committed version. */
  def snapshotRead(spark: SparkSession, base: String): DataFrame =
    SnapshotTable.asOf(spark, base, SnapshotTable.latestVersion(spark, base))

  /** Time travel to an exact committed version. */
  def snapshotAsOf(spark: SparkSession, base: String, version: Int): DataFrame =
    SnapshotTable.asOf(spark, base, version)

  /** [[CostExplain.nodeStats]]: per-node optimizer statistics of the
    * optimized plan (size estimates + row counts when stats exist). */
  def costNodeStats(df: DataFrame): DataFrame = CostExplain.nodeStats(df)

  /** [[CostExplain.joinAdvisory]]: per-join broadcastability under
    * the session's current autoBroadcastJoinThreshold. */
  def costJoinAdvisory(df: DataFrame): DataFrame =
    CostExplain.joinAdvisory(df)

  /** [[CostExplain.analyze]]: save as a catalog table, run ANALYZE
    * (all columns), return the collected column statistics. */
  def costAnalyze(spark: SparkSession, df: DataFrame,
                  table: String): DataFrame =
    CostExplain.analyze(spark, df, table)

  /** [[SnapshotTable.optimizeCluster]]: OPTIMIZE … CLUSTER BY —
    * rewrite each key-hash bucket into clusterCol-disjoint sub-files
    * (zone-map pruning for range scans; merge addressing intact). */
  def snapshotOptimizeCluster(spark: SparkSession, base: String,
                              keyCol: String, clusterCol: String,
                              numBuckets: Int, subFiles: Int): Int =
    SnapshotTable.optimizeCluster(spark, base, keyCol, clusterCol,
      numBuckets, subFiles)

  /** Time travel by wall clock (epoch millis). */
  def snapshotAsOfTimestamp(spark: SparkSession, base: String,
                            tsMillis: Long): DataFrame =
    SnapshotTable.asOfTimestamp(spark, base, tsMillis)

  /** [[SnapshotTable.compact]]: bin-pack the latest version into
    * fresh per-bucket files (content-identical new version; a
    * smaller numBuckets merges small files). Returns the version. */
  def snapshotCompact(spark: SparkSession, base: String, keyCol: String,
                      numBuckets: Int): Int =
    SnapshotTable.compact(spark, base, keyCol, numBuckets)

  /** [[SnapshotTable.diff]]: exact semantic CDC delta between two
    * committed versions — only the manifests' symmetric file
    * difference is read. */
  def snapshotDiff(spark: SparkSession, base: String, vFrom: Int,
                   vTo: Int, keyCol: String): DataFrame =
    SnapshotTable.diff(spark, base, vFrom, vTo, keyCol)

  /** [[SnapshotTable.vacuum]]: drop versions older than the newest
    * `keepVersions` and collect unreferenced data files older than
    * `orphanMinAgeMs`. Returns [versionsDropped, filesDeleted] (an
    * array, so py4j callers need no Scala tuple handling). */
  def snapshotVacuum(spark: SparkSession, base: String,
                     keepVersions: Int, orphanMinAgeMs: Long): Array[Int] = {
    val (v, f) = SnapshotTable.vacuum(spark, base, keepVersions, orphanMinAgeMs)
    Array(v, f)
  }

  /** [[SnapshotTable.asOfRange]]: manifest-statistics pruned range
    * read — only files whose manifest [min,max] intersects [lo, hi]
    * are scanned (stats are recorded by OPTIMIZE; stats-less files
    * are always read). Bounds are decimal STRINGS so Python callers
    * pass "50000.00" instead of constructing java.math.BigDecimal. */
  def snapshotReadRange(spark: SparkSession, base: String, version: Int,
                        statsCol: String, lo: String, hi: String): DataFrame =
    SnapshotTable.asOfRange(spark, base, version, statsCol,
      new java.math.BigDecimal(lo), new java.math.BigDecimal(hi))

  /** [[Transforms.profileApprox]] with the spec inferred from the
    * schema: one-pass null counts + HLL distinct estimates per
    * column — the scheduled-profiling shape for big tables (the
    * exact [[profile]] stays the verification twin). */
  def profileApprox(df: DataFrame): DataFrame =
    Transforms.profileApprox(df, Transforms.profileSpec(df))

  /** [[SnapshotTable.restore]]: publish latest+1 carrying an earlier
    * version's files and metadata — the metadata-only undo. The
    * change feed refuses the restore's version. */
  def snapshotRestore(spark: SparkSession, base: String, toVersion: Int): Int =
    SnapshotTable.restore(spark, base, toVersion)

  /** [[SnapshotTable.renameColumn]]: metadata-only RENAME COLUMN via
    * the manifest's physical→logical name mapping. */
  def snapshotRenameColumn(spark: SparkSession, base: String,
                           from: String, to: String): Int =
    SnapshotTable.renameColumn(spark, base, from, to)

  /** [[SnapshotTable.deleteRange]]: copy-on-write DELETE WHERE
    * `statsCol BETWEEN lo AND hi` with manifest-stats file skipping.
    * Bounds are decimal strings (see [[snapshotReadRange]]). Returns
    * [newVersion, filesRewritten, filesSkipped] for py4j. */
  def snapshotDeleteRange(spark: SparkSession, base: String, keyCol: String,
                          statsCol: String, lo: String, hi: String,
                          numBuckets: Int): Array[Int] = {
    val (v, rw, sk) = SnapshotTable.deleteRange(spark, base, keyCol, statsCol,
      new java.math.BigDecimal(lo), new java.math.BigDecimal(hi), numBuckets)
    Array(v, rw, sk)
  }

  /** [[SnapshotTable.applyDiff]]: fold one CDC delta (from
    * [[snapshotDiff]]) into a materialized state — the follower side
    * of the change feed. */
  def snapshotApplyDiff(state: DataFrame, delta: DataFrame,
                        keyCol: String): DataFrame =
    SnapshotTable.applyDiff(state, delta, keyCol)

  /** [[SnapshotTable.asOfBuckets]]: manifest-pruned read of specific
    * buckets — the point-lookup path. Bucket ids come from
    * [[snapshotBucketsOf]] over the probe keys. */
  def snapshotReadBuckets(spark: SparkSession, base: String, version: Int,
                          buckets: Array[Int]): DataFrame =
    SnapshotTable.asOfBuckets(spark, base, version, buckets.toSet)

  /** [[SnapshotTable.cloneShallow]]: zero-copy table branching —
    * `dstBase`'s v0 references the source version's files verbatim;
    * branch writes land in the clone's own data directory. Source
    * retention must cover live clones (see the Scala doc). */
  def snapshotCloneShallow(spark: SparkSession, srcBase: String,
                           dstBase: String, version: Int): Int =
    SnapshotTable.cloneShallow(spark, srcBase, dstBase, version)

  /** The table's bucket ids for a frame of probe keys (column
    * `keyCol`), computed with the table's own addressing AND the
    * table's key type (the bucket hash is type-sensitive — an int32
    * probe against a bigint key would silently miss). */
  def snapshotBucketsOf(spark: SparkSession, base: String, version: Int,
                        keys: DataFrame, keyCol: String,
                        numBuckets: Int): Array[Int] =
    SnapshotTable.probeBuckets(spark, base, version, keys, keyCol,
      numBuckets).toArray

  /** [[SnapshotTable.mergeBack]]: fast-forward a branch (made with
    * [[snapshotCloneShallow]]) onto its parent; raises
    * VersionConflictException if the parent moved past the branch
    * point. Returns the parent's new version. */
  def snapshotMergeBack(spark: SparkSession, branchBase: String): Int =
    SnapshotTable.mergeBack(spark, branchBase)

  /** [[SnapshotTable.rebucket]]: change the table's bucket addressing
    * (full rewrite; the one door past the recorded-count validation).
    * Returns the new version. */
  def snapshotRebucket(spark: SparkSession, base: String, keyCol: String,
                       newNumBuckets: Int): Int =
    SnapshotTable.rebucket(spark, base, keyCol, newNumBuckets)

  /** The bucket addressing `[numBuckets, logicalKeyCol]` recorded in a
    * version's manifest. Arrays cross py4j cleanly; the count parses
    * back with int(). */
  def snapshotRecordedBuckets(spark: SparkSession, base: String,
                              version: Int): Array[String] = {
    val (n, k) = SnapshotTable.recordedBuckets(spark, base, version)
    Array(n.toString, k)
  }

  /** [[SnapshotTable.addCheckConstraint]]: record a CHECK constraint
    * every future merge enforces; refuses (ConstraintViolationException)
    * if existing rows violate. Returns the new version. */
  def snapshotAddCheckConstraint(spark: SparkSession, base: String,
                                 name: String, checkExpr: String): Int =
    SnapshotTable.addCheckConstraint(spark, base, name, checkExpr)

  /** [[SnapshotTable.dropCheckConstraint]]: remove a named CHECK
    * constraint (loud on an unknown name). Returns the new version. */
  def snapshotDropCheckConstraint(spark: SparkSession, base: String,
                                  name: String): Int =
    SnapshotTable.dropCheckConstraint(spark, base, name)

  /** [[SnapshotTable.checkConstraints]] as `[name, expr]` pairs —
    * nested arrays cross py4j cleanly. */
  def snapshotCheckConstraints(spark: SparkSession, base: String,
                               version: Int): Array[Array[String]] =
    SnapshotTable.checkConstraints(spark, base, version)
      .map { case (n, e) => Array(n, e) }.toArray

  /** [[SnapshotTable.enableChangeFeed]]: from the next commit on,
    * merges/deletes materialize their change set as cdc files (Delta
    * CDF). Returns the enabling version. */
  def snapshotEnableChangeFeed(spark: SparkSession, base: String): Int =
    SnapshotTable.enableChangeFeed(spark, base)

  /** [[SnapshotTable.changeFeed]]: the row deltas of versions
    * (vFrom, vTo] with `op` and `_commit_version` columns. The
    * streaming form is `spark.readStream.format("snapshot-cdc")
    * .option("path", base)` — plain PySpark, no bridge needed. */
  def snapshotChangeFeed(spark: SparkSession, base: String,
                         vFrom: Int, vTo: Int): DataFrame =
    SnapshotTable.changeFeed(spark, base, vFrom, vTo)
}
