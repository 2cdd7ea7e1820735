package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.SnapshotTable

/** The lakehouse contract of [[graft.api.SnapshotTable]] beyond the
  * DuckDB hash sweep (which grades #212's VALUES): the parts only
  * observable through file paths and commit races — copy-on-write
  * reuse, snapshot isolation of an already-resolved version, atomic
  * single-winner publishing, and invisibility of unpublished data. */
class SnapshotTableSpec extends SparkSpec {

  private def freshBase(): String = graft.Tables.scratch("graft_snapspec")

  /** keys 0..99, val = key*10, grp = key%3 — small enough to reason
    * about exactly, keyed like a real table. */
  private def fixture(): DataFrame = {
    import spark.implicits._
    spark.range(0, 100)
      .select(col("id").as("k"), (col("id") * 10).as("v"),
        (col("id") % 3).cast("string").as("grp"))
  }

  private def manifestLines(base: String, v: Int): Seq[String] =
    rawManifest(base, v).filterNot(_.startsWith("#")) // drop the headers

  /** A manifest's lines as `commit` publishes them: headers and file
    * lines, without the completeness trailer. */
  private def rawManifest(base: String, v: Int): Seq[String] =
    scala.io.Source.fromFile(s"$base/manifest/v$v").getLines().toList
      .filterNot(_.startsWith("#eof "))

  test("mergeInto applies update/delete/insert row-exactly and bumps the version") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    import spark.implicits._
    val changes = Seq(
      (5L, "U", 999L, "u"),   // update existing
      (7L, "D", 0L, ""),      // delete existing
      (200L, "U", 2000L, "i") // insert new key
    ).toDF("k", "op", "v", "grp")
    val v1 = SnapshotTable.mergeInto(spark, base, changes, "k", numBuckets = 8)
    assert(v1 == 1 && SnapshotTable.latestVersion(spark, base) == 1)
    val after = SnapshotTable.asOf(spark, base, 1)
      .collect().map(r => r.getAs[Long]("k") -> (r.getAs[Long]("v"), r.getAs[String]("grp"))).toMap
    assert(after.size == 100, "100 - 1 delete + 1 insert")
    assert(after(5L) == ((999L, "u")), "updated payload")
    assert(!after.contains(7L), "deleted key gone")
    assert(after(200L) == ((2000L, "i")), "inserted key present")
    assert(after(6L) == ((60L, "0")), "untouched row intact")
  }

  test("copy-on-write: untouched buckets' files are carried by reference, touched ones rewritten") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    import spark.implicits._
    val changes = Seq((5L, "U", 999L, "u")).toDF("k", "op", "v", "grp")
    SnapshotTable.mergeInto(spark, base, changes, "k", numBuckets = 8)
    val m0 = manifestLines(base, 0).map(_.split('\t')).map(a => a(0).toInt -> a(1)).toMap
    val m1 = manifestLines(base, 1).map(_.split('\t')).map(a => a(0).toInt -> a(1)).toMap
    assert(m0.keySet == m1.keySet, "one change neither adds nor empties a bucket")
    val changedBucket = m0.keySet.filter(b => m0(b) != m1(b))
    assert(changedBucket.size == 1, s"exactly one bucket rewritten: $changedBucket")
    val reused = m0.keySet.filter(b => m0(b) == m1(b))
    assert(reused.size == m0.size - 1 && reused.nonEmpty,
      "every other file referenced verbatim — O(changed buckets) write cost")
  }

  test("snapshot isolation: v0 read after the v1 commit equals the pre-merge table") {
    val base = freshBase()
    val before = fixture().collect().map(_.toSeq).toSet
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    import spark.implicits._
    SnapshotTable.mergeInto(spark, base,
      Seq((1L, "D", 0L, ""), (2L, "U", -1L, "x")).toDF("k", "op", "v", "grp"),
      "k", numBuckets = 8)
    val v0 = SnapshotTable.asOf(spark, base, 0)
      .select(col("k"), col("v"), col("grp")).collect().map(_.toSeq).toSet
    assert(v0 == before, "time travel: the old version is byte-stable under later commits")
  }

  test("publishing a version is single-winner: the second commit of the same version fails") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    // two optimistic writers both computed their merge on top of v0
    // and race to publish v1 — exactly one link/rename publish may
    // win
    SnapshotTable.commit(spark, base, 1, Seq("0\tfile:/nonexistent-a"))
    val ex = intercept[SnapshotTable.VersionConflictException] {
      SnapshotTable.commit(spark, base, 1, Seq("0\tfile:/nonexistent-b"))
    }
    assert(ex.getMessage.contains("1"))
    // the loser retries on the new latest, as the protocol prescribes
    assert(SnapshotTable.latestVersion(spark, base) == 1)
  }

  test("data files without a manifest are invisible: latestVersion ignores them") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    // a crashed writer's orphan data dir
    new java.io.File(s"$base/data/deadbeef/_bucket=0").mkdirs()
    assert(SnapshotTable.latestVersion(spark, base) == 0)
    assert(SnapshotTable.asOf(spark, base, 0).count() == 100)
  }

  test("mergeInto rejects a change set with duplicate keys (last-wins is the caller's contract)") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    import spark.implicits._
    val dup = Seq((5L, "U", 1L, "a"), (5L, "U", 2L, "b")).toDF("k", "op", "v", "grp")
    intercept[IllegalArgumentException] {
      SnapshotTable.mergeInto(spark, base, dup, "k", numBuckets = 8)
    }
  }

  test("diff classifies added/removed/changed and suppresses unchanged co-residents of rewritten buckets") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    import spark.implicits._
    SnapshotTable.mergeInto(spark, base,
      Seq((5L, "U", 999L, "u")).toDF("k", "op", "v", "grp"), "k", numBuckets = 8)
    // v0→v1: ONE changed key, even though its whole bucket (≈12 of
    // 100 keys) was rewritten — unchanged co-residents are filtered
    val d1 = SnapshotTable.diff(spark, base, 0, 1, "k").collect()
    assert(d1.length == 1)
    assert(d1.head.getAs[Long]("k") == 5L && d1.head.getAs[String]("change") == "changed")
    assert(d1.head.getAs[org.apache.spark.sql.Row]("before").getAs[Long]("v") == 50L)
    assert(d1.head.getAs[org.apache.spark.sql.Row]("after").getAs[Long]("v") == 999L)
    SnapshotTable.mergeInto(spark, base,
      Seq((7L, "D", 0L, ""), (200L, "U", 2000L, "i")).toDF("k", "op", "v", "grp"),
      "k", numBuckets = 8)
    // transitive diff across two merges
    val d2 = SnapshotTable.diff(spark, base, 0, 2, "k")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change")).toMap
    assert(d2 == Map(5L -> "changed", 7L -> "removed", 200L -> "added"))
    // diff of a version against itself is empty (all files shared)
    assert(SnapshotTable.diff(spark, base, 1, 1, "k").count() == 0)
  }

  test("compaction publishes a content-identical version: CDC delta is empty, old versions untouched") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    import spark.implicits._
    SnapshotTable.mergeInto(spark, base,
      Seq((5L, "U", 999L, "u")).toDF("k", "op", "v", "grp"), "k", numBuckets = 8)
    val v2 = SnapshotTable.compact(spark, base, "k", numBuckets = 8)
    assert(v2 == 2)
    // every file rewritten, yet the semantic delta is empty — the
    // contract that makes compaction safe behind incremental consumers
    val m1 = manifestLines(base, 1).toSet
    val m2 = manifestLines(base, 2).toSet
    assert((m1 intersect m2).isEmpty, "compaction shares no files with its input")
    assert(SnapshotTable.diff(spark, base, 1, 2, "k").count() == 0)
    // pre-compaction versions still read exactly
    assert(SnapshotTable.asOf(spark, base, 0).count() == 100)
    assert(SnapshotTable.asOf(spark, base, 2)
      .where(col("k") === 5L).head().getAs[Long]("v") == 999L)
  }

  test("vacuum drops old versions and orphans, keeps shared files that survivors still reference") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    import spark.implicits._
    SnapshotTable.mergeInto(spark, base,
      Seq((5L, "U", 999L, "u")).toDF("k", "op", "v", "grp"), "k", numBuckets = 8)
    SnapshotTable.mergeInto(spark, base,
      Seq((6L, "U", 888L, "w")).toDF("k", "op", "v", "grp"), "k", numBuckets = 8)
    // a crashed writer's orphan (never referenced by any manifest)
    val orphanDir = new java.io.File(s"$base/data/orphan"); orphanDir.mkdirs()
    val orphan = new java.io.File(orphanDir, "junk.parquet")
    assert(orphan.createNewFile())
    val (droppedV, deletedF) = SnapshotTable.vacuum(spark, base, keepVersions = 2)
    assert(droppedV == 1, "v0 expired")
    // v0's bucket file(s) for keys 5/6 were rewritten in v1/v2 →
    // unreferenced by survivors → deleted, along with the orphan;
    // v0's OTHER files are still referenced by v1/v2 and must survive
    // (≥2 = at least one rewritten original + the orphan — keys 5 and
    // 6 may hash to the same bucket)
    assert(deletedF >= 2, s"rewritten original(s) + orphan, got $deletedF")
    assert(!orphan.exists, "orphan collected")
    intercept[IllegalArgumentException] {
      SnapshotTable.asOf(spark, base, 0)
    }
    // survivors read fully — including v1, whose manifest still
    // references v0-era files for the untouched buckets
    assert(SnapshotTable.asOf(spark, base, 1).count() == 100)
    val after = SnapshotTable.asOf(spark, base, 2)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("v")).toMap
    assert(after(5L) == 999L && after(6L) == 888L && after(7L) == 70L)
  }

  test("vacuum's orphanMinAgeMs spares young unreferenced files (in-flight writer guard)") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    // a "writer mid-commit": fully-written data file, manifest not yet
    // published — with a generous age window it must survive vacuum
    val inflightDir = new java.io.File(s"$base/data/inflight"); inflightDir.mkdirs()
    val young = new java.io.File(inflightDir, "pending.parquet")
    assert(young.createNewFile())
    val (_, deletedGuarded) =
      SnapshotTable.vacuum(spark, base, keepVersions = 1,
        orphanMinAgeMs = 60L * 60 * 1000)
    assert(deletedGuarded == 0 && young.exists,
      "young unreferenced file must survive an age-guarded vacuum")
    // with the default (no grace) the same file is collected as an orphan
    val (_, deletedNow) = SnapshotTable.vacuum(spark, base, keepVersions = 1)
    assert(deletedNow == 1 && !young.exists, "ungarded vacuum collects it")
    assert(SnapshotTable.asOf(spark, base, 0).count() == 100)
  }

  test("retryingCommit rebases the loser: a conflicting merge lands on the new latest") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    import spark.implicits._
    // simulate losing one race: the first attempt publishes the same
    // version number a concurrent writer just took
    var attempts = 0
    val v = SnapshotTable.retryingCommit(maxAttempts = 3) {
      attempts += 1
      if (attempts == 1) {
        // concurrent winner lands v1 between our read and our publish
        SnapshotTable.mergeInto(spark, base,
          Seq((7L, "U", 777L, "r")).toDF("k", "op", "v", "grp"), "k", 8)
        // our own attempt now conflicts on v1
        SnapshotTable.commit(spark, base, 1, Seq("0\tbogus"))
        fail("commit of an already-taken version must throw")
      }
      // re-evaluated attempt: reads the NEW latest and lands v2
      SnapshotTable.mergeInto(spark, base,
        Seq((8L, "U", 888L, "r")).toDF("k", "op", "v", "grp"), "k", 8)
    }
    assert(attempts == 2 && v == 2)
    val after = SnapshotTable.asOf(spark, base, 2)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("v")).toMap
    // both the concurrent winner's change and the rebased one landed
    assert(after(7L) == 777L && after(8L) == 888L)
    // and it gives up after maxAttempts, rethrowing the conflict
    intercept[SnapshotTable.VersionConflictException] {
      SnapshotTable.retryingCommit(maxAttempts = 2) {
        SnapshotTable.commit(spark, base, 2, Seq("0\tbogus"))
      }
    }
  }

  test("asOfTimestamp resolves the newest version committed at or before the instant") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    val t0 = new java.io.File(s"$base/manifest/v0").lastModified()
    import spark.implicits._
    // ensure v1's mtime granule is strictly later than v0's
    Thread.sleep(1100)
    SnapshotTable.mergeInto(spark, base,
      Seq((5L, "U", 999L, "u")).toDF("k", "op", "v", "grp"), "k", 8)
    val t1 = new java.io.File(s"$base/manifest/v1").lastModified()
    assert(t1 > t0, "commit instants must be ordered for the pin below")
    def vAt(ts: Long): Long = SnapshotTable.asOfTimestamp(spark, base, ts)
      .where(col("k") === 5L).head().getAs[Long]("v")
    assert(vAt(t0) == 50L, "instant of the v0 commit reads v0")
    assert(vAt(t1 - 1) == 50L, "just before the v1 commit still reads v0")
    assert(vAt(t1) == 999L, "the v1 commit instant reads v1")
    assert(vAt(System.currentTimeMillis() + 10000) == 999L, "future reads latest")
    intercept[IllegalArgumentException] {
      SnapshotTable.asOfTimestamp(spark, base, t0 - 10000)
    }
  }

  test("diff of two empty-manifest versions short-circuits to an empty result") {
    val base = freshBase()
    import spark.implicits._
    SnapshotTable.create(spark, base,
      Seq((42L, 420L, "z")).toDF("k", "v", "grp"), "k", numBuckets = 4)
    SnapshotTable.mergeInto(spark, base,
      Seq((42L, "D", 0L, "")).toDF("k", "op", "v", "grp"), "k", numBuckets = 4)
    // v1 references zero files; diff(v1, v1) previously threw from a
    // zero-path parquet read (ADVICE r12)
    val d = SnapshotTable.diff(spark, base, 1, 1, "k")
    assert(d.count() == 0)
    assert(d.columns.toSeq == Seq("k", "change", "before", "after"))
  }

  test("deletes that empty a bucket drop its file from the manifest") {
    val base = freshBase()
    import spark.implicits._
    // 2 keys in 4 buckets — find two keys sharing a bucket is fiddly;
    // instead: single-key table, delete it, manifest must go empty
    SnapshotTable.create(spark, base,
      Seq((42L, 420L, "z")).toDF("k", "v", "grp"), "k", numBuckets = 4)
    assert(manifestLines(base, 0).count(_.nonEmpty) == 1)
    SnapshotTable.mergeInto(spark, base,
      Seq((42L, "D", 0L, "")).toDF("k", "op", "v", "grp"), "k", numBuckets = 4)
    assert(manifestLines(base, 1).count(_.nonEmpty) == 0)
    assert(SnapshotTable.asOf(spark, base, 0).count() == 1, "v0 still readable")
  }

  test("TRUE concurrent commit race [link-rename]: two threads publish the same version, exactly one wins") {
    // VERDICT r13 item 5 (part 1): the single-winner property under
    // REAL threads, not a deterministic interleave — both writers
    // aligned on a barrier, both publish v1, the protocol's atomic
    // publish arbitrates.
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def racer(tag: String): Thread = {
      val t = new Thread(() => {
        try {
          barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
          SnapshotTable.commit(spark, base, 1, Seq(s"0\tfile:/race-$tag"))
        } catch {
          case _: SnapshotTable.VersionConflictException =>
            conflicts.incrementAndGet()
          case t2: Throwable => errs.add(t2)
        }
      }, s"graft-race-$tag")
      t.start(); t
    }
    val (a, b) = (racer("a"), racer("b"))
    a.join(60000); b.join(60000)
    assert(!a.isAlive && !b.isAlive, "racers must terminate")
    assert(errs.isEmpty, s"unexpected racer failure: ${errs.peek()}")
    assert(conflicts.get == 1, s"exactly one loser, got ${conflicts.get}")
    val line = manifestLines(base, 1).mkString
    assert(line == "0\tfile:/race-a" || line == "0\tfile:/race-b",
      s"winner's manifest intact, not interleaved: $line")
  }

  test("TRUE concurrent writers [link-rename]: racing mergeInto via retryingCommit lands both changes; guarded vacuum mid-race spares in-flight files") {
    // VERDICT r13 item 5 (part 2): the full optimistic-concurrency
    // story under real contention — two threads merge DISJOINT key
    // ranges through retryingCommit while the main thread repeatedly
    // vacuums with the in-flight age guard. Must hold: both changes
    // land (no lost update), versions are consecutive, every version
    // stays readable (vacuum never ate a referenced file), and the
    // young unreferenced file of a simulated mid-commit writer
    // survives every guarded vacuum.
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    import spark.implicits._
    // a writer mid-flight: data fully written, manifest not yet
    // published — indistinguishable from a crashed writer's orphan
    // except by age
    val inflight = new java.io.File(s"$base/data/inflight00/_bucket=0")
    assert(inflight.mkdirs())
    val young = new java.io.File(inflight, "pending.parquet")
    assert(young.createNewFile())

    val gate = new java.util.concurrent.CountDownLatch(1)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(tag: String, keys: Range, bump: Long): Thread = {
      val t = new Thread(() => {
        try {
          gate.await()
          SnapshotTable.retryingCommit(maxAttempts = 10) {
            attempts.incrementAndGet()
            // built INSIDE the attempt: a rebased retry recomputes its
            // merge against the new latest, per the protocol
            val ch = keys.map(k => (k.toLong, "U", k * 10L + bump, tag))
              .toDF("k", "op", "v", "grp")
            SnapshotTable.mergeInto(spark, base, ch, "k", numBuckets = 8)
          }
        } catch { case t2: Throwable => errs.add(t2) }
      }, s"graft-merge-$tag")
      t.start(); t
    }
    val a = writer("a", 10 until 20, 100000L)
    val b = writer("b", 50 until 60, 200000L)
    gate.countDown()
    // vacuum UNDER CONTENTION: age-guarded, interleaved with the live
    // writers' data-file writes and commits
    var vacuums = 0
    while (a.isAlive || b.isAlive) {
      val (_, deleted) = SnapshotTable.vacuum(spark, base,
        keepVersions = 1000, orphanMinAgeMs = 60L * 60 * 1000)
      assert(deleted == 0,
        "guarded vacuum must never collect young (possibly in-flight) files")
      vacuums += 1
      Thread.sleep(25)
    }
    a.join(120000); b.join(120000)
    assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
    info(s"merge attempts=${attempts.get} (2 = no collision, 3+ = real " +
      s"conflict rebased), guarded vacuums under race=$vacuums")
    assert(attempts.get >= 2 && vacuums >= 1)
    // both commits landed, consecutively, with no lost update
    assert(SnapshotTable.latestVersion(spark, base) == 2)
    assert(!new java.io.File(s"$base/manifest/v3").exists())
    val after = SnapshotTable.asOf(spark, base, 2).collect()
      .map(r => r.getAs[Long]("k") -> (r.getAs[Long]("v"), r.getAs[String]("grp")))
      .toMap
    assert(after.size == 100)
    (10 until 20).foreach(k =>
      assert(after(k.toLong) == ((k * 10L + 100000L, "a")), s"a's update on $k"))
    (50 until 60).foreach(k =>
      assert(after(k.toLong) == ((k * 10L + 200000L, "b")), s"b's update on $k"))
    assert(after(0L) == ((0L, "0")) && after(99L) == ((990L, "0")), "untouched rows intact")
    // every version still fully readable: no referenced file was eaten
    (0 to 2).foreach(v =>
      assert(SnapshotTable.asOf(spark, base, v).count() == 100, s"v$v readable"))
    // the in-flight file survived the whole race ...
    assert(young.exists, "age guard spared the in-flight writer's file")
    // ... and a post-race unguarded vacuum collects it — along with the
    // rebased loser's ABANDONED first-attempt files, which are exactly
    // the protocol's expected orphans (data written, commit lost, retry
    // re-derived and re-wrote). keepVersions=3 keeps every manifest, so
    // only unreferenced files go; the table must stay fully readable.
    val (_, deletedNow) = SnapshotTable.vacuum(spark, base, keepVersions = 3)
    assert(deletedNow >= 1 && !young.exists,
      s"unguarded vacuum collects the orphan(s), got $deletedNow")
    (0 to 2).foreach(v =>
      assert(SnapshotTable.asOf(spark, base, v).count() == 100,
        s"v$v readable after orphan collection"))
  }

  test("compact bin-packs the layout; vacuum reclaims the old files; content preserved") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    import spark.implicits._
    SnapshotTable.mergeInto(spark, base,
      Seq((5L, "U", 999L, "u")).toDF("k", "op", "v", "grp"), "k", 8)
    val filesV1 = SnapshotTable.liveFiles(spark, base, 1)
    assert(filesV1.size == 8, "one file per non-empty bucket pre-compaction")
    val before = SnapshotTable.asOf(spark, base, 1).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"), r.getAs[String]("grp")))
      .sortBy(_._1).toSeq
    val v2 = SnapshotTable.compact(spark, base, "k", numBuckets = 2)
    val filesV2 = SnapshotTable.liveFiles(spark, base, v2)
    assert(filesV2.size <= 2 && filesV2.size < filesV1.size,
      s"bin-pack 8 -> ${filesV2.size} files")
    assert(filesV1.toSet.intersect(filesV2.toSet).isEmpty,
      "compaction writes fresh files; old versions keep theirs")
    // vacuum to the compacted version only: the old layout's files
    // are unreferenced by the survivor and must be reclaimed
    val (droppedV, deletedF) = SnapshotTable.vacuum(spark, base, keepVersions = 1)
    assert(droppedV == 2, "v0 and v1 manifests dropped")
    assert(deletedF >= filesV1.size, s"old layout reclaimed, got $deletedF")
    val after = SnapshotTable.asOf(spark, base, v2).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"), r.getAs[String]("grp")))
      .sortBy(_._1).toSeq
    assert(after == before, "compaction + vacuum preserve content exactly")
  }

  test("publish is all-or-nothing: a lost commit leaves no residue and no wedged version") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    // losing a race for v0 must not wedge anything: the winner's
    // manifest is untouched and immediately complete, and no .tmp
    // claim files accumulate in the manifest dir
    intercept[SnapshotTable.VersionConflictException] {
      SnapshotTable.commit(spark, base, 0, Seq("0\tfake.parquet"))
    }
    val entries = new java.io.File(s"$base/manifest").list().toSeq
    assert(entries == Seq("v0"),
      s"conflict must leave only the winner's manifest, got $entries")
    assert(SnapshotTable.asOf(spark, base, 0).count() == 100,
      "winner's version readable immediately after the lost race")
  }

  test("empty trailer-less manifest (a crashed claim) fails loudly instead of reading as empty") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    // a manifest counts only once its '#eof <n>' trailer seals it.
    // (1) the claim-then-crash signature: version file exists, zero
    // content — must NOT be accepted as an empty table (a mergeInto
    // reading it as empty would silently replace the table)
    assert(new java.io.File(s"$base/manifest/v1").createNewFile())
    // (2) a NONEMPTY trailer-less manifest: v0's file lines with no
    // trailer — what a crashed or stalled CREATE_NEW fallback write
    // leaves, and no graft writer publishes; accepting it could hand
    // a truncated file list to a mergeInto
    val mf2 = new java.io.File(s"$base/manifest/v2")
    val w = new java.io.PrintWriter(mf2)
    try w.write(manifestLines(base, 0).mkString("\n")) finally w.close()
    assert(manifestLines(base, 2).nonEmpty)
    Seq(1, 2).foreach { v =>
      val e = intercept[IllegalStateException] {
        SnapshotTable.asOf(spark, base, v).count()
      }
      assert(e.getMessage.contains("incomplete"), s"v$v: ${e.getMessage}")
    }
    assert(SnapshotTable.asOf(spark, base, 0).count() == 100,
      "other versions unaffected")
  }

  test("vacuum sweeps aged .tmp manifest claims; live publishers' temp files survive") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    val hourMs = 60L * 60 * 1000
    val freshTmp = new java.io.File(s"$base/manifest/.tmp-v9-fresh111")
    val staleTmp = new java.io.File(s"$base/manifest/.tmp-v9-stale111")
    assert(freshTmp.createNewFile() && staleTmp.createNewFile())
    assert(staleTmp.setLastModified(System.currentTimeMillis() - 2 * hourMs))
    val (_, d) = SnapshotTable.vacuum(spark, base, 1, orphanMinAgeMs = hourMs)
    assert(!staleTmp.exists, "killed publisher's aged claim swept")
    assert(freshTmp.exists, "in-flight publisher's temp file spared")
    assert(d >= 1)
  }

  test("a live writer's _temporary subtree with an old top dir but fresh deep churn is spared") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    val hourMs = 60L * 60 * 1000
    // POSIX: deep churn does NOT refresh the top _temporary dir's
    // mtime — the gate must look at the NEWEST entry in the subtree
    val deep = new java.io.File(s"$base/data/job1/_temporary/0/task7")
    deep.mkdirs()
    val finished = new java.io.File(deep, "part-00000.parquet")
    assert(finished.createNewFile())
    val old = System.currentTimeMillis() - 2 * hourMs
    // age the FINISHED task file and every dir above it…
    Seq(finished, deep, deep.getParentFile, deep.getParentFile.getParentFile)
      .foreach(f => assert(f.setLastModified(old)))
    // …but the writer is alive: a sibling task is writing right now
    val live = new java.io.File(deep.getParentFile, "task9")
    live.mkdirs()
    assert(new java.io.File(live, "part-00001.parquet").createNewFile())
    val (_, d1) = SnapshotTable.vacuum(spark, base, 1, orphanMinAgeMs = hourMs)
    assert(d1 == 0 && finished.exists,
      "finished task files of a LIVE writer must survive the age-guarded vacuum")
  }

  test("aged _temporary scratch of a crashed writer is eventually vacuumed; fresh scratch survives") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    // a crashed Spark writer's commit-protocol scratch
    val tmpDir = new java.io.File(s"$base/data/dead/_temporary/0")
    tmpDir.mkdirs()
    val scratch = new java.io.File(tmpDir, "part-00000.parquet")
    assert(scratch.createNewFile())
    val hourMs = 60L * 60 * 1000
    // fresh scratch (mtime = now) survives an age-guarded vacuum —
    // indistinguishable from a LIVE writer's churn
    val (_, d1) = SnapshotTable.vacuum(spark, base, 1, orphanMinAgeMs = hourMs)
    assert(d1 == 0 && scratch.exists, "fresh _temporary scratch spared")
    // once the subtree is stale past the guard it must be collected
    // (pre-r15 the unconditional skip leaked it forever)
    val old = System.currentTimeMillis() - 2 * hourMs
    Seq(scratch, tmpDir, tmpDir.getParentFile, tmpDir.getParentFile.getParentFile)
      .foreach(f => assert(f.setLastModified(old)))
    val (_, d2) = SnapshotTable.vacuum(spark, base, 1, orphanMinAgeMs = hourMs)
    assert(d2 == 1 && !scratch.exists, "stale crashed-writer scratch collected")
    // ADVICE r15: the directory SKELETON must go with the files —
    // deleting only the files refreshes the parent mtime, so the
    // empty skeleton would otherwise survive every future vacuum
    assert(!new java.io.File(s"$base/data/dead/_temporary").exists,
      "stale scratch skeleton reclaimed, not just its files")
    assert(SnapshotTable.asOf(spark, base, 0).count() == 100)
  }

  test("stale scratch with non-parquet litter and an empty skeleton is fully reclaimed (ADVICE r15)") {
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    val hourMs = 60L * 60 * 1000
    val old = System.currentTimeMillis() - 2 * hourMs
    // (a) a crashed writer's scratch holding a NON-parquet marker file
    val deadDir = new java.io.File(s"$base/data/j2/_temporary/0/task3")
    deadDir.mkdirs()
    val marker = new java.io.File(deadDir, "_started_attempt_1")
    assert(marker.createNewFile())
    // (b) an already-EMPTY skeleton (a prior files-only sweep's residue)
    val skel = new java.io.File(s"$base/data/j3/_temporary/0/task9")
    skel.mkdirs()
    var f: java.io.File = deadDir
    while (f.getName != "data") { assert(f.setLastModified(old)); f = f.getParentFile }
    assert(marker.setLastModified(old))
    f = skel
    while (f.getName != "data") { assert(f.setLastModified(old)); f = f.getParentFile }
    SnapshotTable.vacuum(spark, base, 1, orphanMinAgeMs = hourMs)
    assert(!marker.exists, "non-parquet litter in whole-stale scratch collected")
    assert(!new java.io.File(s"$base/data/j2/_temporary").exists &&
           !new java.io.File(s"$base/data/j3/_temporary").exists,
      "stale skeletons (with and without files) reclaimed")
    assert(SnapshotTable.asOf(spark, base, 0).count() == 100)
  }

  test("PROPERTY: vacuum under a live writer never eats a referenced file across 100+ real interleavings") {
    // round 16 (VERDICT r15 ask 7): the newest-entry _temporary gate
    // and the age guard, exercised against a GENUINELY live writer —
    // 100 mergeInto commits (each producing real FileOutputCommitter
    // scratch churn in data/) interleaved with continuous guarded
    // vacuums from this thread, plus staged aged garbage each round so
    // vacuum is actually DELETING throughout, not idling. Properties:
    // (1) no file referenced by any committed manifest is ever
    // deleted — every version stays readable with exact content;
    // (2) aged unreferenced garbage IS collected (the sweep works);
    // (3) fresh scratch is always spared. Gated: ~1 min of wall time.
    assume(sys.env.get("GRAFT_FULL_TESTS").contains("1"),
      "100-interleaving vacuum race; enable with GRAFT_FULL_TESTS=1")
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    import spark.implicits._
    val hourMs = 60L * 60 * 1000
    val old = System.currentTimeMillis() - 2 * hourMs
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val rounds = 100
    val writer = new Thread(() => {
      try {
        (1 to rounds).foreach { i =>
          val ch = Seq(((i % 100).toLong, "U", i.toLong, s"w$i"))
            .toDF("k", "op", "v", "grp")
          SnapshotTable.mergeInto(spark, base, ch, "k", numBuckets = 8)
        }
      } catch { case t: Throwable => errs.add(t) }
      finally done.set(true)
    }, "graft-vacuum-race-writer")
    var collected = 0
    var vacuums = 0
    var staged = 0
    writer.start()
    try {
      while (!done.get()) {
        // stage aged garbage for THIS pass: an unreferenced parquet and
        // a whole-stale scratch subtree (both mtimes past the guard)
        val tag = s"stage$staged"; staged += 1
        val orphan = new java.io.File(s"$base/data/$tag/aged.parquet")
        orphan.getParentFile.mkdirs()
        if (orphan.createNewFile()) {
          orphan.setLastModified(old); orphan.getParentFile.setLastModified(old)
        }
        val scratch = new java.io.File(s"$base/data/$tag/_temporary/0/t.parquet")
        scratch.getParentFile.mkdirs()
        if (scratch.createNewFile()) {
          var f: java.io.File = scratch
          while (f.getName != tag) { f.setLastModified(old); f = f.getParentFile }
        }
        val (_, d) = SnapshotTable.vacuum(spark, base,
          keepVersions = 1000, orphanMinAgeMs = hourMs)
        collected += d; vacuums += 1
      }
    } finally writer.join(300000)
    assert(!writer.isAlive, "writer must terminate")
    assert(errs.isEmpty, s"writer failed mid-race: ${errs.peek()}")
    assert(vacuums >= 10, s"interleaving too coarse: only $vacuums vacuums")
    assert(collected >= staged, // every aged orphan + scratch eventually went
      s"sweep idle under churn: $collected collected vs $staged staged rounds")
    // no referenced file was ever eaten: EVERY version readable, exact
    val latest = SnapshotTable.latestVersion(spark, base)
    assert(latest == rounds, s"all $rounds commits landed, got $latest")
    (0 to latest).foreach { v =>
      assert(SnapshotTable.asOf(spark, base, v).count() == 100, s"v$v readable")
    }
    // spot-check content of the final version: last write per key wins
    val after = SnapshotTable.asOf(spark, base, latest)
      .where(col("k") === (rounds % 100).toLong).collect()
    assert(after.length == 1 && after(0).getAs[Long]("v") == rounds.toLong)
    info(s"$vacuums vacuums over $rounds commits, $collected aged files collected")
  }

  test("a reader overlapping a CREATE_NEW write gets the sealed list, not a prefix") {
    // the no-hard-link fallback publishes by creating the manifest and
    // then writing it: a reader that opens it mid-write must wait out
    // the window via the EofMarker trailer, never return a prefix
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 8)
    val mf = new java.io.File(s"$base/manifest/v1")
    val lines = rawManifest(base, 0)
    val files = manifestLines(base, 0)
    assert(files.size >= 3, "fixture must span several buckets")
    // stage the mid-write state by hand: a FLUSHED, MOTIONLESS
    // trailer-less prefix — exactly what a reader sees when the
    // publisher stalls mid-write
    val w = new java.io.FileWriter(mf)
    w.write(lines.take(2).mkString("\n")); w.flush()
    val got = new java.util.concurrent.atomic.AtomicReference[Seq[String]](null)
    val r2 = new Thread(() => got.set(SnapshotTable.liveFiles(spark, base, 1)))
    r2.start()
    Thread.sleep(500) // the reader polls the stalled prefix ~10 times
    assert(got.get == null, "reader must not accept a trailer-less prefix")
    w.write("\n" + lines.drop(2).mkString("\n") +
      s"\n#eof ${lines.size}")
    w.close()
    r2.join(5000)
    assert(!r2.isAlive && got.get != null, "reader must complete")
    assert(got.get.size == files.size,
      s"reader returned the sealed list, not the prefix: ${got.get.size} of ${files.size}")
  }

  test("create records the schema: asOf and changeFeed plan with 0 jobs and equal a footer-inferred read of their files") {
    // every shape the declared schema must report as the parquet
    // reader does: non-nullable top-level columns, a decimal, a
    // timestamp, and nested array/struct/map types
    val rows = fixture().select(col("k"), col("v"), col("grp"),
      (col("k") / 7).cast("decimal(28,6)").as("kwh"),
      timestamp_seconds(col("k") * 900).as("ts"),
      array(col("v"), lit(1L)).as("arr"),
      struct(col("v").as("a"), col("grp").as("b")).as("st"),
      map(col("grp"), col("v")).as("mp"))
    def changes(keys: Seq[Long], op: String) =
      rows.where(col("k").isin(keys: _*))
        .withColumn("v", col("v") + 1).withColumn("op", lit(op))
    val base = freshBase()
    SnapshotTable.create(spark, base, rows, "k", numBuckets = 8)
    val v0 = SnapshotTable.enableChangeFeed(spark, base)
    SnapshotTable.mergeInto(spark, base,
      changes(Seq(1L, 2L, 3L), "U").unionByName(changes(Seq(4L), "D")), "k", 8)
    val v2 = SnapshotTable.mergeInto(spark, base,
      changes(Seq(2L, 40L), "U").unionByName(changes(Seq(5L, 6L), "D")), "k", 8)
    // the reference arm: a plain footer-inferred parquet read of the
    // same files — the live files for asOf, each version's cdc files
    // (tagged with their version) for changeFeed
    def cdcFiles(v: Int) = rawManifest(base, v)
      .filter(_.startsWith("#cdcfile\t")).map(_.stripPrefix("#cdcfile\t"))
    def rowsOf(df: DataFrame) = df.collect().map(_.toSeq.map {
      case m: scala.collection.Map[_, _] => m.toSeq.sortBy(_.toString)
      case x => x
    }.toString).sorted.toSeq
    Seq[(String, () => DataFrame, () => DataFrame)](
      ("asOf", () => SnapshotTable.asOf(spark, base, v2),
        () => spark.read.parquet(SnapshotTable.liveFiles(spark, base, v2): _*)),
      ("changeFeed", () => SnapshotTable.changeFeed(spark, base, v0, v2),
        () => ((v0 + 1) to v2).map(v => spark.read.parquet(cdcFiles(v): _*)
          .withColumn("_commit_version", lit(v))).reduce(_ unionByName _))
    ).foreach { case (name, read, reference) =>
      val (declared, c) = Session.counted(spark)(read())
      assert(c.jobs == 0, s"$name launched ${c.jobs} jobs to plan")
      val inferred = reference().select(declared.columns.map(col): _*)
      // _commit_version is a literal on the reference side, so only
      // its nullability differs; every stored column must match
      def stored(df: DataFrame) = df.drop("_commit_version").schema
      assert(stored(declared) == stored(inferred), name)
      assert(rowsOf(declared) == rowsOf(inferred), name)
    }
    assert(SnapshotTable.changeFeed(spark, base, v0, v2).count() == 8)
  }

  test("changeFeed compiles no new code for a version not read before") {
    import spark.implicits._
    import org.apache.spark.metrics.source.CodegenMetrics
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 4)
    val v0 = SnapshotTable.enableChangeFeed(spark, base)
    val vs = (1 to 4).map { i =>
      SnapshotTable.mergeInto(spark, base,
        Seq((i.toLong, "U", 1000L + i, "u"), (50L + i, "D", 0L, ""))
          .toDF("k", "op", "v", "grp"), "k", numBuckets = 4)
    }
    def read(from: Int, to: Int) = SnapshotTable.changeFeed(spark, base, from, to)
      .select("k", "op", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // warm-up: the feed's first read compiles its classes
    assert(read(v0, vs(0)) == Set((1L, "U", vs(0)), (51L, "D", vs(0))))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    vs.sliding(2).foreach { case Seq(prev, v) =>
      val before = compiles.getCount
      val i = v - v0
      assert(read(prev, v) == Set((i.toLong, "U", v), (50L + i, "D", v)))
      assert(compiles.getCount == before, s"reading version $v compiled new code")
    }
    // a multi-version range tags each row with its own version
    assert(read(v0, vs.last).map(r => r._1 -> r._3) ==
      (1 to 4).flatMap(i => Seq(i.toLong -> (v0 + i), (50L + i) -> (v0 + i))).toSet)
  }

  private def cdcWriterAlive(): Boolean = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName == SnapshotTable.CdcWriterThread && t.isAlive)
  }

  // feed on, the data or the cdc write fails: a regular file planted
  // where its directory goes. The table is a shallow clone, so its own
  // base holds neither directory yet and reads go to the source's files
  for ((writer, dir) <- Seq("mergeInto" -> "cdc", "mergeInto" -> "data",
                            "deleteRange" -> "cdc", "deleteRange" -> "data"))
    test(s"feed on, a failed $dir write in $writer commits nothing and leaves no cdc writer alive") {
      import spark.implicits._
      val src = freshBase()
      SnapshotTable.create(spark, src, fixture(), "k", numBuckets = 4)
      val base = freshBase()
      SnapshotTable.cloneShallow(spark, src, base)
      val v = SnapshotTable.enableChangeFeed(spark, base)
      def write(): Int =
        if (writer == "mergeInto")
          SnapshotTable.mergeInto(spark, base,
            Seq((5L, "U", 999L, "u"), (7L, "D", 0L, "")).toDF("k", "op", "v", "grp"),
            "k", numBuckets = 4)
        else SnapshotTable.deleteRange(spark, base, "k", "v",
          java.math.BigDecimal.ZERO, java.math.BigDecimal.valueOf(100), numBuckets = 4)._1
      val planted = new java.io.File(s"$base/$dir")
      assert(planted.createNewFile())
      intercept[org.apache.hadoop.fs.ParentNotDirectoryException](write())
      assert(!cdcWriterAlive(), "the cdc writer thread outlived a failed write")
      assert(SnapshotTable.latestVersion(spark, base) == v)
      // the failure left the table intact: the same write then commits
      assert(planted.delete())
      assert(write() == v + 1)
      assert(!cdcWriterAlive())
      val feed = SnapshotTable.changeFeed(spark, base, v, v + 1)
      assert(feed.count() == (if (writer == "mergeInto") 2 else 11))
    }

  test("a failed data write returns only after the concurrent cdc write has ended") {
    val base = freshBase()
    assert(new java.io.File(base).mkdirs() && new java.io.File(s"$base/data").createNewFile())
    val slow = udf { (k: Long) => Thread.sleep(1000); k }
    val t0 = System.nanoTime()
    intercept[org.apache.hadoop.fs.ParentNotDirectoryException] {
      SnapshotTable.writeDataAndCdcFiles(spark, base,
        SnapshotTable.ManifestMeta(Nil, fixture().schema, Nil, (4, "k"), cdf = true),
        fixture(), "k", 4,
        spark.range(1).select(slow(col("id")).as("k")))
    }
    assert(!cdcWriterAlive(), "the cdc writer thread outlived a failed data write")
    assert(System.nanoTime() - t0 >= 1000L * 1000 * 1000)
    // the cdc write itself succeeded: its files exist, referenced by no manifest
    assert(new java.io.File(s"$base/cdc").listFiles().length == 1)
  }

  test("restore, cloneShallow and mergeBack record no delta: changeFeed refuses their versions") {
    import spark.implicits._
    def kv(rows: (Long, Long, String)*) = rows.toDF("k", "v", "op")
    val base = freshBase()
    SnapshotTable.create(spark, base, kv((1L, 10L, "U"), (2L, 20L, "U")).drop("op"),
      "k", numBuckets = 2)
    val vOn = SnapshotTable.enableChangeFeed(spark, base)
    val v2 = SnapshotTable.mergeInto(spark, base, kv((1L, 11L, "U")), "k", 2)
    // restore to the head (content unchanged), then to the pre-merge
    // version (k=1 back to 10): neither may replay v2's delta
    val v3 = SnapshotTable.restore(spark, base, v2)
    val v4 = SnapshotTable.restore(spark, base, vOn)
    assert(SnapshotTable.liveFiles(spark, base, v3) == SnapshotTable.liveFiles(spark, base, v2))
    assert(SnapshotTable.liveFiles(spark, base, v4) == SnapshotTable.liveFiles(spark, base, vOn))
    assert(SnapshotTable.asOf(spark, base, v4).where(col("k") === 1)
      .head.getLong(1) == 10L)
    assert(SnapshotTable.changeFeed(spark, base, vOn, v2)
      .select("op", "k", "v", "_commit_version").collect().map(_.toString).toSeq ==
      Seq(s"[U,1,11,$v2]"))
    def refused(from: Int, to: Int): String =
      intercept[IllegalStateException](SnapshotTable.changeFeed(spark, base, from, to))
        .getMessage
    Seq(v3, v4).foreach { v =>
      assert(refused(v - 1, v).contains(s"version $v "), v)
    }
    assert(refused(vOn, v4).contains(s"version $v3 "))
    // a merge after the restores feeds again
    val v5 = SnapshotTable.mergeInto(spark, base, kv((2L, 21L, "U")), "k", 2)
    assert(SnapshotTable.changeFeed(spark, base, v4, v5).count() == 1)
    // a branch's v0 carries no cdc reference, and a fast-forward
    // merge-back publishes the branch head's files without its delta
    val br = freshBase()
    SnapshotTable.cloneShallow(spark, base, br)
    assert(!scala.io.Source.fromFile(s"$br/manifest/v0").getLines()
      .exists(l => l.startsWith("#cdcfile") || l.startsWith("#cdcschema")))
    SnapshotTable.mergeInto(spark, br, kv((1L, 12L, "U")), "k", 2)
    val v6 = SnapshotTable.mergeBack(spark, br)
    assert(SnapshotTable.asOf(spark, base, v6).where(col("k") === 1)
      .head.getLong(1) == 12L)
    assert(refused(v5, v6).contains(s"version $v6 "))
  }

  test("every public writer records #schema and #buckets: each version's schema, addressing and rows read") {
    import spark.implicits._
    val base = freshBase()
    def changes(k: Long, v: Long) =
      Seq((k, "U", v, "c", "n")).toDF("k", "op", "v", "grp2", "note")
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 4)
    SnapshotTable.addColumn(spark, base, "note", "STRING")
    SnapshotTable.renameColumn(spark, base, "grp", "grp2")
    SnapshotTable.addCheckConstraint(spark, base, "pos", "v >= 0")
    SnapshotTable.dropCheckConstraint(spark, base, "pos")
    val vOn = SnapshotTable.enableChangeFeed(spark, base)
    val vMerge = SnapshotTable.mergeInto(spark, base, changes(5L, 999L), "k", 4)
    val vDel = SnapshotTable.deleteRange(spark, base, "k", "v",
      java.math.BigDecimal.ZERO, java.math.BigDecimal.valueOf(50), 4)._1
    SnapshotTable.optimizeCluster(spark, base, "k", "v", numBuckets = 4, subFiles = 2)
    SnapshotTable.compact(spark, base, "k", numBuckets = 4)
    SnapshotTable.rebucket(spark, base, "k", 8)
    SnapshotTable.restore(spark, base, vMerge)
    val br = freshBase()
    SnapshotTable.cloneShallow(spark, base, br)
    SnapshotTable.mergeInto(spark, br, changes(6L, 888L), "k", 4)
    val head = SnapshotTable.mergeBack(spark, br)
    assert(head == 12, "one version per writer after create")
    for ((b, latest) <- Seq(base -> head, br -> 1); v <- 0 to latest) {
      val cols = SnapshotTable.declaredSchema(spark, b, v).fieldNames.toSeq
      assert(cols.take(3) == Seq("k", "v", "grp"), s"$b v$v: $cols")
      assert(SnapshotTable.recordedBuckets(spark, b, v)._2 == "k", s"$b v$v")
      assert(SnapshotTable.asOf(spark, b, v).count() > 0, s"$b v$v")
    }
    assert(SnapshotTable.recordedBuckets(spark, base, head - 2)._1 == 8)
    assert(SnapshotTable.changeFeed(spark, base, vOn, vDel).count() == 1 + 5)
    assert(SnapshotTable.asOf(spark, base, head).columns.toSeq ==
      Seq("k", "v", "grp2", "note"))
  }

  test("a manifest missing a required header is refused by name, and mergeInto on it commits nothing") {
    import spark.implicits._
    val base = freshBase()
    SnapshotTable.create(spark, base, fixture(), "k", numBuckets = 4)
    val vOn = SnapshotTable.enableChangeFeed(spark, base)
    val head = SnapshotTable.mergeInto(spark, base,
      Seq((5L, "U", 999L, "u")).toDF("k", "op", "v", "grp"), "k", 4)
    val probe = Seq(5L).toDF("k")
    Seq[(String, String => Any)](
      "#schema" -> (b => SnapshotTable.asOf(spark, b, head)),
      "#buckets" -> (b => SnapshotTable.probeBuckets(spark, b, head, probe, "k", 4)),
      "#cdcschema" -> (b => SnapshotTable.changeFeed(spark, b, vOn, head))
    ).foreach { case (header, read) =>
      // the table's manifests under a second base, each without `header`
      val copy = freshBase()
      (0 to head).foreach { v =>
        SnapshotTable.commit(spark, copy, v,
          rawManifest(base, v).filterNot(_.startsWith(header + "\t")))
      }
      val e = intercept[IllegalStateException](read(copy))
      assert(e.getMessage.contains(s"v$head of $copy has no $header header"),
        e.getMessage)
      intercept[IllegalStateException] {
        SnapshotTable.mergeInto(spark, copy,
          Seq((7L, "U", 777L, "w")).toDF("k", "op", "v", "grp"), "k", 4)
      }
      assert(SnapshotTable.latestVersion(spark, copy) == head, header)
    }
  }
}
