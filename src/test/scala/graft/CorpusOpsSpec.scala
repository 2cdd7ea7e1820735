package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Unit + invariant tests for the round-6 corpus-hygiene operators
  * (#112–#114, CorpusOps). */
class CorpusOpsSpec extends SparkSpec {

  test("text_bpe_encode rounds an exact 4dp tie like its DuckDB oracle") {
    import spark.implicits._
    // 758 "th" words (one merge: 1 token, 2 chars) and 3621 "xz" words
    // (no merge: 2 tokens, 2 chars) give 8758 chars over 8000 tokens,
    // 1.09475 exactly: the double just below the tie, which the
    // oracle's floor(x * 10000 + 0.5) / 10000.0 puts at 1.0947 while
    // Spark's decimal round(x, 4) gives 1.0948
    val dir = tempDir("graft_bpe_tie")
    val text = (Seq.fill(758)("th") ++ Seq.fill(3621)("xz")).mkString(" ")
    Seq((1L, text, "en", "src5", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = CorpusOps.textBpeEncode(spark, dir).collect().head
    assert((r.getAs[Long]("total_chars"), r.getAs[Long]("total_tokens")) ==
      ((8758L, 8000L)))
    assert(r.getAs[Double]("chars_per_token") == 1.0947)
    assert(math.floor(8758.0 / 8000 * 10000 + 0.5) / 10000.0 == 1.0947)
    assert(spark.range(1).select(round(lit(8758.0) / lit(8000L), 4))
      .head().getDouble(0) == 1.0948)
  }

  test("repetition filter: closed form on planted repetitive/clean docs") {
    import spark.implicits._
    // "x y x y x y" — bigrams: (x y)*3, (y x)*2 → top frac 3/5;
    // 5-grams: "x y x y x", "y x y x y" both unique → dup frac 0
    // "a b c d e f" — all grams unique → 0 everywhere
    // "z z z z z z z z" — one bigram slot value (7/7), 5-grams all
    // "z z z z z" (4/4 duplicated) → flagged both ways
    val docs = Seq((1L, "x y x y x y"), (2L, "a b c d e f"),
                   (3L, "z z z z z z z z")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("corpus_rep_spec")
    val base = docs.withColumn("words", split(col("text"), " "))
    def gramStats(n: Int) = base
      .select(col("doc_id"),
        explode(graft.api.Transforms.shingles(col("words"), n)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as(s"top$n"),
           sum(when(col("n") >= 2, col("n")).otherwise(0L)).as(s"dup$n"),
           sum(col("n")).as(s"tot$n"))
    val got = gramStats(2).join(gramStats(5), "doc_id")
      .select(col("doc_id"),
        (col("top2").cast("double") / col("tot2")).as("topf"),
        (col("dup5").cast("double") / col("tot5")).as("dupf"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got(1L) == ((3.0 / 5.0, 0.0)))
    assert(got(2L) == ((1.0 / 5.0, 0.0)))
    assert(got(3L) == ((1.0, 1.0)))
    // and the graded operator flags only the degenerate doc on sf0.001
    val graded = CorpusOps.textRepetitionFilter(spark, sf001).collect()
    assert(graded.nonEmpty)
    graded.foreach { r =>
      val top = r.getAs[Double]("top_bigram_frac")
      val dup = r.getAs[Double]("dup_5gram_frac")
      assert(top >= 0.0 && top <= 1.0 && dup >= 0.0 && dup <= 1.0, r)
    }
  }

  test("bloom prefilter changes nothing: result == no-bloom formulation") {
    val withBloom = CorpusOps.dedupBloomPrefilter(spark, sf001).collect()
    // identical pipeline minus the bloom probe
    val sh = graft.Tables.documents(spark, sf001)
      .withColumn("words", split(col("text"), " "))
      .where(size(col("words")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(graft.api.Transforms.shingles(col("words"), 3)))
          .as("shingle"))
    val bench = sh.where(col("doc_id") < 5).select(col("shingle")).distinct()
    val noBloom = sh.where(col("doc_id") >= 5)
      .join(bench, "shingle")
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs_hit"),
           count(lit(1)).as("n_shingle_hits"))
      .orderBy(col("lang")).collect()
    assert(withBloom.toSeq == noBloom.toSeq)
  }

  test("bloom probe has no false negatives and actually prunes") {
    val sh = graft.Tables.documents(spark, sf001)
      .withColumn("words", split(col("text"), " "))
      .where(size(col("words")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(graft.api.Transforms.shingles(col("words"), 3)))
          .as("shingle"))
    val bench = sh.where(col("doc_id") < 5).select(col("shingle")).distinct()
    val bloom = org.apache.spark.sql.graft.BloomExprs.serialize(
      bench.select(xxhash64(col("shingle")).as("h"))
        .stat.bloomFilter("h", 1L << 13, 0.01))
    val corpus = sh.where(col("doc_id") >= 5)
    val candidates = corpus.where(org.apache.spark.sql.graft.BloomExprs
      .mightContain(bloom, xxhash64(col("shingle"))))
    val trueHits = corpus.join(bench, "shingle")
    val (nCorpus, nCand, nTrue) =
      (corpus.count(), candidates.count(), trueHits.count())
    assert(nCand >= nTrue, "bloom dropped a true hit (false negative)")
    // every true hit survives the prefilter (subset check, not just counts)
    assert(trueHits.join(candidates,
      Seq("doc_id", "shingle"), "left_anti").count() == 0)
    // and the prune is real: candidates are a small fraction of corpus
    assert(nCand < nCorpus / 2, s"bloom pruned nothing: $nCand of $nCorpus")
  }

  test("collapse-repeats: closed form on planted stutters") {
    import spark.implicits._
    val docs = Seq((1L, "x x y"), (2L, "a b c"), (3L, "z z z z"), (4L, "solo"))
      .toDF("doc_id", "text")
    val w = split(col("text"), " ")
    val nRep = when(size(w) >= 2,
        size(filter(sequence(lit(2), size(w)),
          i => element_at(w, i) === element_at(w, i - 1))))
      .otherwise(lit(0)).cast("long")
    val got = docs.select(col("doc_id"), nRep.as("r")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 0L, 3L -> 3L, 4L -> 0L))
    // graded shape on the corpus: collapse never grows a doc
    val graded = CorpusOps.textCollapseRepeats(spark, sf001).collect()
    graded.foreach { r =>
      assert(r.getAs[Long]("n_after_collapse") ==
        r.getAs[Long]("n_tokens") - r.getAs[Long]("n_repeats"), r)
      assert(r.getAs[Long]("n_repeats") >= 0 &&
        r.getAs[Long]("n_after_collapse") >= 1, r)
    }
  }

  test("source_binary_files decodes what the library codec decodes") {
    val rows = ScanOps.sourceBinaryFiles(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val expect = graft.multimodal.BinaryDecode.decodeOne(
        id, graft.multimodal.BinaryDecode.syntheticPng(id))
      assert(r.getAs[Int]("width") == expect.width, s"doc $id width")
      assert(r.getAs[Int]("height") == expect.height, s"doc $id height")
      assert(r.getAs[Long]("pix_sum") == expect.pix_sum, s"doc $id pix_sum")
    }
  }

  test("keep-best: keeper is a member with the cluster's max quality") {
    val comp = CorpusOps.dedupKeepBest(spark, sf001).collect()
    if (comp.nonEmpty) {
      // recompute via the window formulation and compare
      val pairs = LlmOps.dedupSimhashBand(spark, sf001)
        .select(col("d1"), col("d2"))
      val cc = graft.api.Transforms.connectedComponents(pairs, maxIters = 64)
      val q = LlmOps.qualityPerDoc(spark, sf001)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component"))
        .orderBy(col("quality").desc, col("doc_id"))
      val expected = cc.join(q, col("node") === col("doc_id"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("component"))
        .agg(max(when(col("rn") === 1, col("doc_id"))).as("keep_id"),
             count(lit(1)).as("n_members"),
             max(col("quality")).as("best_quality"))
        .orderBy(col("component")).collect()
      assert(comp.toSeq == expected.toSeq)
    }
    // sf0.01 has clusters (12 in the graded run); sf0.001 may not —
    // assert the graded form at least executes with a schema either way
    assert(CorpusOps.dedupKeepBest(spark, sf001).columns.toSeq ==
      Seq("component", "keep_id", "n_members", "best_quality"))
  }

  test("text_perplexity_lm: ppl > 1, consistent with avg_nll, bigram counts match") {
    val rows = CorpusOps.textPerplexityLm(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nll = r.getAs[Double]("avg_nll")
      val ppl = r.getAs[Double]("ppl")
      // smoothed probabilities are < 1, so nll > 0 and ppl = e^nll > 1
      assert(nll > 0 && ppl > 1, s"$r")
      assert(math.abs(ppl - math.exp(nll)) < ppl * 2e-4 + 1e-3, s"$r")
    }
    // every doc with >= 2 words is scored, with words-1 bigrams
    val expected = Tables.documents(spark, sf001)
      .select(col("doc_id"), (size(split(col("text"), " ")) - 1).as("nb"))
      .where(col("nb") >= 1).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("nb").toLong).toMap
    assert(rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bigrams"))
      .toMap == expected)
  }

  test("text_domain_mix: realized rates track the temperature targets") {
    val rows = CorpusOps.textDomainMix(spark, sf001).collect()
    val nTotal = rows.map(_.getAs[Long]("n_docs")).sum
    // alpha = 0.5 flattens: every target share must sit between uniform
    // (1/5) and the raw share, on whichever side the domain is skewed
    rows.foreach { r =>
      val raw = r.getAs[Long]("n_docs").toDouble / nTotal
      val tgt = r.getAs[Double]("target_share")
      val lo = math.min(raw, 1.0 / rows.length) - 1e-4
      val hi = math.max(raw, 1.0 / rows.length) + 1e-4
      assert(tgt >= lo && tgt <= hi, s"share not flattened: $r (raw $raw)")
      val realized = r.getAs[Long]("n_sampled").toDouble / r.getAs[Long]("n_docs")
      val target = math.min(1.0, tgt * (nTotal / 2.0) / r.getAs[Long]("n_docs"))
      assert(math.abs(realized - target) < 0.15, s"rate drift: $r (target $target)")
    }
    // the total draw lands near the half-corpus budget
    val sampled = rows.map(_.getAs[Long]("n_sampled")).sum.toDouble
    assert(math.abs(sampled / nTotal - 0.5) < 0.1, s"budget: $sampled of $nTotal")
  }

  test("dedup_sentence_global: exact-dup docs are fully dropped, kept spans are globally unique") {
    val out = CorpusOps.dedupSentenceGlobal(spark, sf001).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_dropped") <= r.getAs[Long]("n_spans"))
      // clean_text is null exactly when everything was dropped
      assert(r.isNullAt(r.fieldIndex("clean_text")) ==
        (r.getAs[Long]("n_dropped") == r.getAs[Long]("n_spans")), s"$r")
    }
    // planted exact duplicates (#59): the later copy keeps nothing
    val dupPairs = Tables.documents(spark, sf001)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("first"), max(col("doc_id")).as("last"),
           count(lit(1)).as("n"))
      .where(col("n") > 1).collect()
    assume(dupPairs.nonEmpty, "corpus drift: no planted exact dups")
    val byDoc = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    dupPairs.foreach { p =>
      val later = byDoc(p.getAs[Long]("last"))
      assert(later.getAs[Long]("n_dropped") == later.getAs[Long]("n_spans"),
        s"later exact dup not fully dropped: $later")
    }
    // sum of kept spans == number of distinct spans in the corpus
    val kept = out.map(r => r.getAs[Long]("n_spans") - r.getAs[Long]("n_dropped")).sum
    val distinctSpans = Tables.documents(spark, sf001)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(explode(transform(
        sequence(lit(0), ceil(size(col("w")) / lit(5.0)).cast("int") - 1),
        p => array_join(slice(col("w"), p * 5 + 1, lit(5)), " "))).as("span"))
      .select(col("span")).distinct().count()
    assert(kept == distinctSpans, s"kept $kept != distinct $distinctSpans")
  }

  test("dedup_sentence_global: first occurrence survives docs with >= 1000 spans; null text yields no spans") {
    import spark.implicits._
    // Regression for the integer occ encoding (doc_id*1000 + pos): with
    // 1500 spans in doc 1, the old code gave doc 1's span at pos 1500 the
    // key 1*1000+1500 = 2500 while doc 2's copy at pos 0 got 2*1000+0 =
    // 2000, mis-crowning the LATER document as the global first
    // occurrence. The struct(doc_id, pos) min orders (1, 1500) < (2, 0).
    val shared = (0 until 5).map(i => s"shared$i").mkString(" ")
    val doc1Words = (0 until 7500).map { i =>
      if (i >= 7500 - 5) s"shared${i - (7500 - 5)}" else s"w$i"
    }
    val docs = Seq(
      (1L, doc1Words.mkString(" "), "en", "t", doc1Words.mkString(" ").length.toLong),
      (2L, shared, "en", "t", shared.length.toLong),
      (3L, null.asInstanceOf[String], "en", "t", 0L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("sent_global_spec")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = CorpusOps.dedupSentenceGlobal(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_spans") == 1500)
    assert(out(1L).getAs[Long]("n_dropped") == 0,
      s"doc 1 lost spans to a later doc: ${out(1L)}")
    assert(out(2L).getAs[Long]("n_spans") == 1)
    assert(out(2L).getAs[Long]("n_dropped") == 1,
      s"doc 2's copy of the shared span was kept: ${out(2L)}")
    assert(out(2L).isNullAt(out(2L).fieldIndex("clean_text")))
    // null-text doc: no words, no spans, no output row (Spark's
    // sequence(0, -1) would have fabricated 2 phantom spans)
    assert(!out.contains(3L), s"phantom spans for null-text doc: ${out.get(3L)}")
  }

  test("linear classifier: scores bounded by the weight range, labels are the sign") {
    val rows = CorpusOps.textClassifierLinear(spark, sf001).collect()
    assert(rows.length == Tables.documents(spark, sf001).count())
    rows.foreach { r =>
      val score = r.getAs[Double]("score")
      // every weight lives in [-0.5, 0.5), so any token average must too
      assert(score >= -0.5 && score < 0.5, r.toString)
      assert(r.getAs[Long]("n_tokens") > 0L, r.toString)
      assert(r.getAs[String]("label") == (if (score > 0) "keep" else "drop"), r.toString)
    }
  }

  test("BPE pair counts: 2-char pairs, descending, and the top pair is the true max") {
    val rows = CorpusOps.textBpePairCounts(spark, sf001).collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getAs[String]("pair").length == 2))
    val ns = rows.map(_.getAs[Long]("n_occurrences"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "not descending")
    // brute-force the global max pair count
    val brute = Tables.documents(spark, sf001)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(ns.head == brute, s"top pair ${ns.head} != brute max $brute")
  }
}
