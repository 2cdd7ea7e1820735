package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Round-16 additions (#274–#280): invariants the DuckDB hash-compare
  * cannot articulate — driver-side exact replays of the BFS, the
  * jackknife, the Granger fold and the VAD window generator, plus the
  * algebraic/structural contracts of the Levene F, the sparse-cosine
  * ranking and the pseudonymization integrity flags. */
class Round16OpsSpec extends SparkSpec {

  test("shortest paths (#274): exact vs a driver-side BFS over the collected edge list") {
    val got = GraphOps.graphShortestPaths(spark, sf001).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
      .toMap
    // metadata-scale replay: the trade edge list is <= |nations|^2
    val edges = Tables.lineitem(spark, sf001)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, sf001)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf001)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, sf001)
        .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .distinct().collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
    var dist = Map(0L -> 0L)
    for (_ <- 1 to 4) {
      val relaxed = edges.filter(e => dist.contains(e._1))
        .groupBy(_._2).map { case (v, es) =>
          v -> (es.map(e => dist(e._1)).min + 1L) }
      dist = (dist.keySet ++ relaxed.keySet).map { v =>
        v -> math.min(dist.getOrElse(v, Long.MaxValue),
                      relaxed.getOrElse(v, Long.MaxValue))
      }.toMap
    }
    assert(got == dist, s"BFS mismatch: got $got expected $dist")
    assert(got(0L) == 0L)
    assert(got.values.forall(d => d >= 0 && d <= 4))
  }

  test("levene/BF (#275): matches a driver-side replay; components non-negative") {
    val r = AggOps.aggLeveneBf(spark, sf001).collect()(0)
    val rows = Tables.orders(spark, sf001)
      .select(substring(col("o_orderpriority"), 1, 1).cast("int").as("g"),
              col("o_totalprice").as("tp")).collect()
      .map(x => (x.getInt(0), x.getDouble(1)))
    def interpMedian(vs: Array[Double]): Double = {
      val s = vs.sorted
      val pos = (s.length - 1) * 0.5
      val lo = s(pos.toInt)
      val hi = s(math.ceil(pos).toInt)
      lo + (pos - pos.toInt) * (hi - lo)
    }
    val meds = rows.groupBy(_._1).map { case (g, xs) =>
      g -> BigDecimal(interpMedian(xs.map(_._2)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble }
    val z = rows.map { case (g, tp) =>
      (g, BigDecimal(math.abs(tp - meds(g)))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP)) }
    val byG = z.groupBy(_._1)
    val (ns, ss, qs) = (
      (1 to 5).map(g => byG(g).length.toDouble),
      (1 to 5).map(g => byG(g).map(_._2).sum.toDouble),
      (1 to 5).map(g => byG(g).map(x => x._2 * x._2).sum.toDouble))
    val bigN = ns.sum
    val s = ss.sum
    val sjsq = (0 until 5).map(j => ss(j) * ss(j) / ns(j)).sum
    val q = qs.sum
    val ssb = sjsq - s * s / bigN
    val ssw = q - sjsq
    val f = (ssb / 4.0) / (ssw / (bigN - 5.0))
    assert(r.getAs[Long]("n_total") == rows.length)
    assert(math.abs(r.getAs[Double]("ss_between") - ssb) <= 1e-3 * math.abs(ssb) + 1e-3,
      s"ssb ${r.getAs[Double]("ss_between")} vs $ssb")
    assert(math.abs(r.getAs[Double]("f_stat") - f) <= 1e-6 * math.abs(f) + 1e-6,
      s"f ${r.getAs[Double]("f_stat")} vs $f")
    assert(r.getAs[Double]("ss_between") >= 0 && r.getAs[Double]("ss_within") >= 0)
    assert(r.getAs[Boolean]("reject_equal_var") == (f > 2.371902))
  }

  test("jackknife (#276): matches a driver-side replay on exact sums") {
    val r = AggOps.aggJackknifeGroups(spark, sf001).collect()(0)
    val per = Tables.customer(spark, sf001)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("ng"),
           sum(col("c_acctbal").cast("decimal(18,2)")).as("sg"))
      .collect().map(x => (x.getLong(1), x.getDecimal(2)))
    val n = per.map(_._1).sum
    val s = per.map(x => BigDecimal(x._2)).sum
    val g = per.length
    val loo = per.map { case (ng, sg) =>
      BigDecimal((s - BigDecimal(sg)).toDouble / (n - ng).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) }
    val sl = loo.sum
    val ql = loo.map(l => l * l).sum
    val thetaHat = s.toDouble / n.toDouble
    val thetaDot = sl.toDouble / g.toDouble
    val ssDev = ql.toDouble - sl.toDouble * sl.toDouble / g.toDouble
    val se = math.sqrt((g - 1.0) / g * ssDev)
    assert(r.getAs[Long]("g_groups") == g && r.getAs[Long]("n_total") == n)
    assert(math.abs(r.getAs[Double]("theta_hat") - thetaHat) <= 1e-5)
    assert(math.abs(r.getAs[Double]("theta_jack") - thetaDot) <= 1e-5)
    assert(math.abs(r.getAs[Double]("se_jack") - se) <= 1e-4,
      s"se ${r.getAs[Double]("se_jack")} vs $se")
    assert(r.getAs[Double]("se_jack") >= 0)
  }

  test("sparse cosine (#277): ranking contract and score bounds") {
    val out = CorpusOps.simSparseCosineTopk(spark, sf001).collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size <= 8)
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq ==
        (1 to sorted.length).toSeq, s"rnk gap for query $q")
      assert(sorted.length <= 5)
      // scores descend; ties broken by smaller doc_id
      sorted.sliding(2).foreach { p =>
        if (p.length == 2) {
          val (a, b) = (p(0), p(1))
          val (ca, cb) = (a.getAs[Double]("cos_sim"), b.getAs[Double]("cos_sim"))
          assert(ca > cb ||
            (ca == cb && a.getAs[Long]("doc_id") < b.getAs[Long]("doc_id")))
        }
      }
      assert(rows.forall(r => r.getAs[Long]("doc_id") != q), "self-match leaked")
      assert(rows.forall(r => {
        val c = r.getAs[Double]("cos_sim"); c >= -1.0001 && c <= 1.0001 }))
    }
  }

  test("audio VAD (#278): exact vs a generator replay; window/segment closure") {
    val out = LlmOps.multimodalAudioVad(spark, sf001).collect()
    val nDocs = Tables.documents(spark, sf001).count()
    assert(out.length == nDocs)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val nWin = ((id % 5) + 1).toInt
      // per-window replay of the generator arithmetic (the oracle's
      // formula, independently re-derived here in Scala)
      val active = (0 until nWin).map { w =>
        val sumAbs = (w * 100 until (w + 1) * 100).map(s =>
          math.abs(((id * 37 + s.toLong * 11) % 65536 - 32768).toInt).toLong).sum
        sumAbs > 1638400L
      }
      val nActive = active.count(identity)
      val nSeg = active.zipWithIndex.count { case (a, i) =>
        a && (i == 0 || !active(i - 1)) }
      assert(r.getAs[Int]("n_windows") == nWin, s"doc $id windows")
      assert(r.getAs[Int]("n_active") == nActive, s"doc $id active")
      assert(r.getAs[Int]("n_segments") == nSeg, s"doc $id segments")
      assert(r.getAs[Long]("active_samples") == 100L * nActive)
    }
    // the corpus must exercise both states and a real run boundary
    assert(out.exists(_.getAs[Int]("n_active") > 0))
    assert(out.exists(r => r.getAs[Int]("n_active") < r.getAs[Int]("n_windows")))
  }

  test("pseudonymization (#279): integrity flags all true; order counts close over nations") {
    val out = EtlOps.etlAnonymizeReferential(spark, sf001).collect()
    assert(out.forall(_.getAs[Boolean]("integrity_ok")),
      "pseudonym join must reproduce the plaintext join exactly")
    assert(out.forall(r =>
      r.getAs[Long]("n_orders_plain") == r.getAs[Long]("n_orders_pseudo")))
    val totalOrders = Tables.orders(spark, sf001).count()
    assert(out.map(_.getAs[Long]("n_orders_plain")).sum == totalOrders,
      "every order's customer exists, so the nation cells partition orders")
  }

  test("top paths (#281): matches a driver-side sessionize+count replay") {
    val got = EtlOps.eventsTopPaths(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val ev = Tables.events(spark, sf001)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000, r.getLong(2), r.getString(3)))
    val paths = ev.groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._2, e._3))
      val sess = scala.collection.mutable.ArrayBuffer.empty[List[String]]
      var cur = List.empty[String]
      var prev = Long.MinValue
      sorted.foreach { e =>
        if (prev == Long.MinValue || e._2 - prev > 1800000000L) {
          if (cur.nonEmpty) sess += cur.reverse
          cur = Nil
        }
        cur = e._4 :: cur
        prev = e._2
      }
      if (cur.nonEmpty) sess += cur.reverse
      sess.map(_.take(5).mkString(">"))
    }.toSeq
    val exp = paths.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (p, n) => (-n, p) }.take(20)
    assert(got == exp,
      s"top-20 path mismatch:\n got=${got.take(5)}\n exp=${exp.take(5)}")
  }

  test("info gain (#282): replay matches; 0 <= IG <= H(label)") {
    val r = AggOps.aggInfoGain(spark, sf001).collect()(0)
    val hLabel = r.getAs[Double]("h_label")
    val hCond = r.getAs[Double]("h_conditional")
    val ig = r.getAs[Double]("info_gain")
    assert(hLabel >= 0 && hCond >= 0)
    assert(hCond <= hLabel + 1e-6, "conditioning cannot raise entropy")
    assert(ig >= -1e-6 && ig <= hLabel + 1e-6)
    assert(math.abs(ig - (hLabel - hCond)) <= 2e-6)
    val n = Tables.events(spark, sf001).count()
    assert(r.getAs[Long]("n_total") == n)
    assert(r.getAs[Int]("n_buckets") == Tables.events(spark, sf001)
      .select(col("event_type")).distinct().count())
  }

  test("image entropy (#283): exact vs a generator replay; bounded by ln 16") {
    val out = LlmOps.multimodalImageEntropy(spark, sf001).collect()
    val nDocs = Tables.documents(spark, sf001).count()
    assert(out.length == nDocs)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (w, h) = ((1 + id % 16).toInt, (1 + (id / 16) % 16).toInt)
      val counts = Array.ofDim[Long](16)
      for (y <- 0 until h; x <- 0 until w) {
        val s = ((id * 31 + x * 7 + y * 13) % 256 +
                 (id * 17 + x * 5 + y * 11) % 256 +
                 (id * 13 + x * 3 + y * 19) % 256) / 3
        counts((s / 16).toInt) += 1
      }
      val n = counts.sum
      val terms = counts.filter(_ > 0).map { c =>
        val p = c.toDouble / n
        BigDecimal(p * math.log(p)).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }
      val hExp = BigDecimal(-(terms.sum.toDouble) + 0.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Long]("n_px") == n, s"doc $id n_px")
      assert(r.getAs[Int]("n_buckets") == counts.count(_ > 0), s"doc $id buckets")
      assert(r.getAs[Double]("entropy") == hExp, s"doc $id entropy")
      assert(r.getAs[Double]("entropy") >= 0 &&
             r.getAs[Double]("entropy") <= math.log(16.0) + 1e-9)
    }
  }

  test("bloom lookup (#284): filter physically present in the footer and answers membership") {
    import scala.jdk.CollectionConverters._
    val dir = ScanOps.bloomFixtureDir(spark, sf001)
    val conf = spark.sessionState.newHadoopConf()
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(files.nonEmpty, s"no parquet files under $dir")
    val presentKeys = Tables.orders(spark, sf001)
      .select(col("o_custkey")).limit(3).collect().map(_.getLong(0))
    var sawBloom = false
    val foundPresent = Array.fill(presentKeys.length)(false)
    var absentRejectedEverywhere = true
    files.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf))
      try {
        reader.getFooter.getBlocks.asScala.foreach { block =>
          val cc = block.getColumns.asScala
            .find(_.getPath.toDotString == "o_custkey").get
          val bf = reader.getBloomFilterDataReader(block).readBloomFilter(cc)
          if (bf != null) {
            sawBloom = true
            presentKeys.zipWithIndex.foreach { case (k, i) =>
              if (bf.findHash(bf.hash(k))) foundPresent(i) = true
            }
            if (bf.findHash(bf.hash(-987654321098L)))
              absentRejectedEverywhere = false
          }
        }
      } finally reader.close()
    }
    assert(sawBloom, "no bloom filter found for o_custkey in any row group")
    assert(foundPresent.forall(identity),
      "a present key must never be rejected (bloom has no false negatives)")
    assert(absentRejectedEverywhere,
      "the far-out-of-domain key should be rejected by every row group " +
      "(ndv-sized filter; a false positive here is a sizing bug)")
    // and the graded lookup equals the same query off the source table
    val got = ScanOps.scanParquetBloomLookup(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exp = Tables.orders(spark, sf001)
      .where(col("o_custkey").isin(7L, 107L, 207L, 307L, 407L))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
           sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("t"))
      .orderBy(col("o_custkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == exp)
  }

  test("delta-method ratio (#285): matches a driver-side replay on user-level moments") {
    val r = AggOps.aggDeltaMethodRatio(spark, sf001).collect()(0)
    val pu = Tables.events(spark, sf001)
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("x"),
           count(lit(1)).as("y"))
      .select(col("user_id"), col("x"), col("y")).collect()
      .map(x => (x.getLong(0), BigDecimal(x.getDecimal(1)), x.getLong(2)))
    def armOf(u: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString
      hex.charAt(0).toInt % 2
    }
    def stats(g: Int) = {
      val rows = pu.filter(p => armOf(p._1) == g)
      val n = rows.length.toDouble
      val sx = rows.map(_._2).sum.toDouble
      val sy = rows.map(_._3).sum.toDouble
      val sxx = rows.map(p => p._2 * p._2).sum.toDouble
      val sxy = rows.map(p => p._2 * BigDecimal(p._3)).sum.toDouble
      val syy = rows.map(p => p._3 * p._3).sum.toDouble
      val (mx, my, rr) = (sx / n, sy / n, sx / sy)
      val vx = sxx / n - mx * mx
      val vy = syy / n - my * my
      val cxy = sxy / n - mx * my
      (n, rr, (vx - 2.0 * rr * cxy + rr * rr * vy) / (n * my * my))
    }
    val (na, ra, se2a) = stats(0)
    val (nb, rb, se2b) = stats(1)
    assert(r.getAs[Long]("n_users_a") == na.toLong &&
           r.getAs[Long]("n_users_b") == nb.toLong)
    assert(math.abs(r.getAs[Double]("ratio_a") - ra) <= 1e-6)
    assert(math.abs(r.getAs[Double]("ratio_b") - rb) <= 1e-6)
    assert(math.abs(r.getAs[Double]("se_a") - math.sqrt(se2a)) <= 1e-6)
    val z = (ra - rb) / math.sqrt(se2a + se2b)
    assert(math.abs(r.getAs[Double]("z_stat") - z) <= 1e-5)
    assert(r.getAs[Boolean]("significant") == (math.abs(z) > 1.959964))
    assert(r.getAs[Double]("se_a") > 0 && r.getAs[Double]("se_b") > 0)
  }

  test("optimize-cluster (#286): MERGE after a clustered rewrite stays correct; layout is sub-filed") {
    import graft.api.SnapshotTable
    val base = graft.Tables.scratch("graft_optclus")
    val rows = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("o_price"))
    SnapshotTable.create(spark, base, rows, "o_orderkey", numBuckets = 4)
    val v1 = SnapshotTable.optimizeCluster(spark, base, "o_orderkey",
      "o_price", numBuckets = 4, subFiles = 4)
    // the clustered layout splits every bucket: more live files than buckets
    assert(SnapshotTable.liveFiles(spark, base, v1).size > 4)
    // content identity across the rewrite
    assert(SnapshotTable.asOf(spark, base, 0)
      .exceptAll(SnapshotTable.asOf(spark, base, v1)).isEmpty)
    // and the critical interplay: bucket addressing survived, so a
    // MERGE on the clustered layout produces exactly the expected table
    val changes = rows.where(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"), lit("U").as("op"),
        lit("Z").as("o_orderstatus"),
        (col("o_price") + lit(1)).cast("decimal(18,2)").as("o_price"))
      .unionAll(rows.where(col("o_orderkey") % 11 === 1)
        .select(col("o_orderkey"), lit("D").as("op"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("decimal(18,2)").as("o_price")))
    val v2 = SnapshotTable.mergeInto(spark, base, changes, "o_orderkey", 4)
    val expected = rows.where(col("o_orderkey") % 11 =!= 1)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 11 === 0, lit("Z"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 11 === 0,
          (col("o_price") + lit(1)).cast("decimal(18,2)"))
          .otherwise(col("o_price")).as("o_price"))
    val got = SnapshotTable.asOf(spark, base, v2)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "merge after optimizeCluster must produce exactly the expected table")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(base))
  }

  test("cdc upsert (#287): view rows are each user's true last non-delete state") {
    val got = StreamOps.streamCdcUpsert(spark, sf001).collect()
    val ev = Tables.events(spark, sf001)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3)))
    val byUser = ev.groupBy(_._1)
    val expected = byUser.flatMap { case (u, es) =>
      val last = es.maxBy(e => (e._2.getTime, e._2.getNanos, e._3))
      if (last._4 == "error") None else Some(u -> last._4)
    }
    assert(got.length == expected.size)
    got.foreach { r =>
      val u = r.getAs[Long]("user_id")
      assert(expected(u) == r.getAs[String]("last_type"), s"user $u")
      assert(r.getAs[Long]("n_ops") == byUser(u).length)
    }
    // the delete semantics must actually bite on this corpus
    assert(expected.size < byUser.size,
      "some user's last op should be a delete")
  }

  test("dq suggest (#288): every suggested rule actually holds on the data") {
    val rules = EtlOps.etlDqSuggest(spark, sf001).collect()
    val o = Tables.orders(spark, sf001)
    val n = o.count()
    rules.foreach { r =>
      val cn = r.getAs[String]("col_name")
      r.getAs[String]("rule") match {
        case "unique" =>
          assert(o.select(col(cn)).distinct().count() == n, s"$cn unique")
        case "not_null" =>
          assert(o.where(col(cn).isNull).count() == 0, s"$cn not_null")
        case "range" =>
          val lo = r.getAs[Double]("lo"); val hi = r.getAs[Double]("hi")
          val viol = o.where(col(cn).cast("double") < lo ||
                             col(cn).cast("double") > hi).count()
          assert(viol == 0, s"$cn range [$lo,$hi]")
        case "range_epoch_day" =>
          val lo = r.getAs[Double]("lo"); val hi = r.getAs[Double]("hi")
          val d = datediff(to_date(col(cn)), lit("1970-01-01").cast("date"))
          assert(o.where(d < lo || d > hi).count() == 0, s"$cn date range")
        case "in_set" =>
          val dom = r.getAs[String]("domain").split(',').toSet
          val out = o.select(col(cn)).distinct().collect()
            .map(_.getString(0)).toSet
          assert(out == dom, s"$cn domain $dom vs $out")
      }
    }
    // the profile must have found the key unique and every column clean
    assert(rules.exists(r => r.getAs[String]("rule") == "unique"))
    assert(rules.count(_.getAs[String]("rule") == "not_null") == 6)
  }

  test("pii scan (#289): per-source sums close over the per-doc redaction counts") {
    val scan = LlmOps.textPiiScan(spark, sf001).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_emails"),
         r.getAs[Long]("n_longnums"), r.getAs[Double]("pii_doc_rate"))).toMap
    // #92 computes the same regex hits per document — the audit rolls
    // them up, so the two surfaces must agree exactly
    val perDoc = LlmOps.textPiiRedact(spark, sf001)
      .join(Tables.documents(spark, sf001).select(col("doc_id"), col("source")),
        "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_emails")).as("e"),
           sum(col("n_longnums")).as("l"))
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n"), r.getAs[Long]("e"), r.getAs[Long]("l"))).toMap
    assert(scan.keySet == perDoc.keySet)
    scan.foreach { case (s, (n, e, l, rate)) =>
      assert((n, e, l) == perDoc(s), s"source $s")
      assert(rate >= 0.0 && rate <= 1.0)
    }
    assert(scan.values.map(_._1).sum == Tables.documents(spark, sf001).count())
  }

  test("seasonal strength (#290): replay from the #192 component table; strengths in [0,1]") {
    val r = EtlOps.tsSeasonalStrength(spark, sf001).collect()(0)
    val comp = EtlOps.tsSeasonalDecompose(spark, sf001).collect()
      .map(x => (x.getAs[Double]("trend"), x.getAs[Double]("seasonal"),
        x.getAs[Double]("residual")))
    def g4(d: Double) =
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    def centeredVar(vs: Seq[BigDecimal]): Double = {
      val n = vs.length
      val m = g4((vs.sum / n).toDouble)
      val c = vs.map(_ - m)
      val q = c.map(x => x * x).sum.toDouble
      val s = c.sum.toDouble
      (q - s * s / n) / n
    }
    val vR = centeredVar(comp.map(x => g4(x._3)))
    val vSR = centeredVar(comp.map(x => g4(x._2) + g4(x._3)))
    val vTR = centeredVar(comp.map(x => g4(x._1) + g4(x._3)))
    assert(r.getAs[Long]("n_days") == comp.length)
    assert(math.abs(r.getAs[Double]("var_resid") - vR) <= 1e-4 * vR)
    assert(math.abs(r.getAs[Double]("var_seas_resid") - vSR) <= 1e-4 * vSR)
    assert(math.abs(r.getAs[Double]("var_trend_resid") - vTR) <= 1e-4 * vTR)
    Seq("f_seasonal", "f_trend").foreach { c =>
      assert(r.getAs[Double](c) >= 0.0 && r.getAs[Double](c) <= 1.0, c)
    }
    assert(math.abs(r.getAs[Double]("f_seasonal")
      - math.max(0.0, 1.0 - vR / vSR)) <= 1e-4)
  }

  test("granger (#280): matches a driver-side replay; RSS ordering holds") {
    val r = EtlOps.tsGrangerF(spark, sf001).collect()(0)
    val daily = Tables.events(spark, sf001)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "purchase",
             col("value").cast("decimal(18,2)"))
             .otherwise(lit(0).cast("decimal(18,2)"))).as("y"),
           sum(when(col("event_type") === "click",
             col("value").cast("decimal(18,2)"))
             .otherwise(lit(0).cast("decimal(18,2)"))).as("x"))
      .orderBy(col("day")).collect()
      .map(x => (BigDecimal(x.getDecimal(1)), BigDecimal(x.getDecimal(2))))
    val ym = daily.map(_._1).sum.toDouble / daily.length
    val xm = daily.map(_._2).sum.toDouble / daily.length
    def grid6(d: Double) =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val yc = daily.map(d => grid6(d._1.toDouble - ym))
    val xc = daily.map(d => grid6(d._2.toDouble - xm))
    val trips = (1 until daily.length).map(i => (yc(i), yc(i - 1), xc(i - 1)))
    val saa = trips.map(t => (t._2 * t._2).toDouble).sum
    val sbb = trips.map(t => (t._3 * t._3).toDouble).sum
    val sab = trips.map(t => (t._2 * t._3).toDouble).sum
    val say = trips.map(t => (t._2 * t._1).toDouble).sum
    val sby = trips.map(t => (t._3 * t._1).toDouble).sum
    val syy = trips.map(t => (t._1 * t._1).toDouble).sum
    val rssR = syy - say * say / saa
    val det = saa * sbb - sab * sab
    val rssF = syy - (sbb * say * say - 2.0 * sab * say * sby + saa * sby * sby) / det
    assert(r.getAs[Long]("n_pairs") == trips.length)
    assert(math.abs(r.getAs[Double]("rss_restricted") - rssR)
      <= 1e-6 * math.abs(rssR) + 1e-4)
    assert(math.abs(r.getAs[Double]("rss_full") - rssF)
      <= 1e-6 * math.abs(rssF) + 1e-4)
    // the full model can only shrink the residual (6dp display slack)
    assert(r.getAs[Double]("rss_full") <= r.getAs[Double]("rss_restricted") + 1e-5)
  }
}
