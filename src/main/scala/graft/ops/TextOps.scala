package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.collection.immutable.ListMap
import graft.Tables._
import graft.api.Transforms.shingles
import org.apache.spark.sql.graft.VectorExprs.vecNorm

/** SURVEY §2.J — LLM-data-pipeline operators (#56–#64): tokenization,
  * text stats, shingling, exact + MinHash-LSH near-dedup, cosine
  * similarity, brute-force kNN, centroid classification, multimodal
  * join.
  *
  * Everything is native higher-order expressions (`transform`,
  * `aggregate`, `zip_with`, `explode`) — no UDFs — so the hot paths
  * stay inside whole-stage codegen.
  *
  * Scale posture (the part that matters at 100 TB):
  *  - near-dedup NEVER materializes n² pairs: documents are reduced to
  *    fixed-size MinHash signatures, and candidates come from an
  *    equi-self-join on the signature tuple — a hash-partitioned
  *    shuffle by signature, the banded-LSH shape (more bands = more
  *    signature groups, same plan);
  *  - brute-force kNN broadcasts the smaller side and computes the
  *    dot product in codegen; per-query top-k is a bounded window.
  *    The scale path replaces the broadcast with an IVF-style
  *    bucket join (cluster vectors by centroid, probe only nearby
  *    buckets) — same residual scoring, equi-join on bucket id;
  *  - per-document ops (tokenize, shingle, fingerprint) are narrow
  *    and embarrassingly parallel.
  */
object TextOps {

  /** Exact double dot product of two (float- or double-typed) array
    * columns: sequential left fold, deterministic element order. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
              lit(0.0), (acc, x) => acc + x)

  private def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** #56 — tokenize + explode + global top-50 word frequencies. */
  def textTokenizeWordcount(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .select(explode(words).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(50)

  /** #57 — per-language corpus stats (doc counts, exact-sum averages). */
  def textStats(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .select(col("lang"), col("n_chars"), size(words).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
           (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"))
      .orderBy(col("lang"))

  /** #58 — 3-gram shingle expansion: (doc_id, shingle) multiplicity. */
  def textShingleGenerate(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .withColumn("words", words)
      .where(size(col("words")) >= 3)
      .select(col("doc_id"), explode(shingles(col("words"), 3)).as("shingle"))
      .groupBy(col("doc_id"), col("shingle"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("doc_id"), col("shingle"))

  /** #59 — exact dedup by content hash: cluster per md5(text), keep
    * the smallest doc_id as the canonical representative. */
  def dedupExactMd5(spark: SparkSession, sf: String): DataFrame =
    graft.api.Transforms
      .dedupExactByContent(documents(spark, sf), col("doc_id"), col("text"))
      .withColumnRenamed("content_hash", "text_hash")
      .orderBy(col("keep_id"))

  /** Per-doc MinHash signature columns sig0..sig3: min over shingles
    * of md5(shingle + seed), computed as an AGGREGATION
    * (explode → per-seed min with map-side partials) so the signature
    * values downstream are plain attributes — the candidate self-join
    * then infers/pushes constraints on cheap column references instead
    * of re-inlining the HOF signature trees into a non-codegen scan
    * filter (round 6: that re-inlining measured 12.9s of the query's
    * 13.3s at sf0.1, in ONE interpreted task; this form runs the md5
    * work exactly once — 15.1s → ~1.3s). */
  private def minhashSignatures(spark: SparkSession, sf: String): DataFrame = {
    // Repartition the RAW docs by id before any token/shingle
    // materialization: the graded corpus is one parquet file (one
    // scan task), so without this the split→shingle→md5 fan-out runs
    // in a single thread (measured 6-25s at sf0.1 vs ~0.5s wide).
    // The exchange carries one compact text row per doc; words and
    // shingles materialize ONCE post-exchange (projections do not get
    // pushed through a repartition), and the signature groupBy reuses
    // the same hash partitioning — no extra exchange.
    val base = documents(spark, sf)
      .transform(graft.api.Transforms.fanOut(_, col("doc_id")))
      .withColumn("words", words)
      .where(size(col("words")) >= 3)
      .withColumn("shingles", shingles(col("words"), 3))
    graft.api.Transforms
      .minhashSignaturesAgg(base, col("doc_id"), col("shingles"), 4)
      .withColumnRenamed("id", "doc_id")
  }

  /** #60 — MinHash near-dup candidates: docs equal on all 4 signature
    * slots, paired d1 < d2. Equi-join on the signature tuple — the
    * LSH-banded shape that scales (no n² pair scan). */
  def dedupMinhashNear(spark: SparkSession, sf: String): DataFrame = {
    graft.api.Transforms.minhashCandidates(minhashSignatures(spark, sf),
        "doc_id", (0 until 4).map(s => s"sig$s"))
      .orderBy(col("d1"), col("d2"))
  }

  /** #168 — asymmetric shingle containment on the minhash candidate
    * pairs: `C(A⊆B) = |S(A)∩S(B)| / |S(A)|` in both directions, plus
    * a `wrapped` flag when the directions disagree by ≥ 0.05 — the
    * doc-in-doc dedup signal Jaccard (#73) structurally misses: a
    * small document pasted into boilerplate has high containment in
    * one direction but low Jaccard, so a Jaccard-thresholded dedup
    * keeps both copies. Candidates come from #60's signature
    * equi-join (never n² pairs); the intersection is counted by
    * joining each candidate pair against the corpus's distinct
    * (doc, shingle) table on the shingle key — candidate pairs are
    * ≪ corpus, broadcast, and the shingle join is a keyed equi-join
    * whose left side carries only candidate docs. Set sizes come from
    * one keyed aggregate. Ratios are exact integer-over-integer in
    * double, 4-dp rounded; the flag compares on the rounded values
    * scaled to integers so no epsilon crosses engines. */
  def dedupMinhashContainment(spark: SparkSession, sf: String): DataFrame = {
    val cands = graft.api.Transforms.minhashCandidates(
      minhashSignatures(spark, sf), "doc_id", (0 until 4).map(s => s"sig$s"))
    val sh = documents(spark, sf)
      .transform(graft.api.Transforms.fanOut(_, col("doc_id")))
      .withColumn("words", words)
      .where(size(col("words")) >= 3)
      .select(col("doc_id"),
        explode_outer(array_distinct(shingles(col("words"), 3))).as("shingle"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(col("shingle")).as("nsh"))
    val inter = sh.join(broadcast(cands), col("doc_id") === col("d1"))
      .select(col("d1"), col("d2"), col("shingle"))
      .join(sh.select(col("doc_id").as("d2x"), col("shingle").as("sh2")),
            col("d2x") === col("d2") && col("sh2") === col("shingle"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("ninter"))
    val c1 = round(coalesce(col("ninter"), lit(0L)).cast("double") / col("nsh1"), 4)
    val c2 = round(coalesce(col("ninter"), lit(0L)).cast("double") / col("nsh2"), 4)
    // attach sizes by broadcasting the SMALL side (candidates) against
    // the corpus-scale size table — never the reverse
    val withS1 = sizes.select(col("doc_id").as("d1"), col("nsh").as("nsh1"))
      .join(broadcast(cands), "d1")
    val withS2 = sizes.select(col("doc_id").as("d2"), col("nsh").as("nsh2"))
      .join(broadcast(withS1), "d2")
    withS2
      .join(inter, Seq("d1", "d2"), "left")
      .select(col("d1"), col("d2"),
        c1.as("cont_1in2"), c2.as("cont_2in1"),
        (round(abs(c1 - c2) * 10000, 0).cast("int") >= 500).as("wrapped"))
      .orderBy(col("d1"), col("d2"))
  }

  /** #61 — cosine similarity on given pairs (adjacent vec_ids), native
    * zip_with/aggregate dot product, rounded 4 dp. */
  def simCosinePairs(spark: SparkSession, sf: String): DataFrame = {
    val e = embeddings(spark, sf)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    a.join(b, col("a_id") + 1 === col("b_id"))
      .select(col("a_id"), col("b_id"),
        graft.api.Transforms.cosine(col("ea"), col("eb")).as("cos_sim"))
      .orderBy(col("a_id"))
  }

  /** #62 — brute-force cosine top-5 per vector. Norms are computed
    * once per side (not per pair), the small side is broadcast, the
    * per-pair work is one codegen'd dot product
    * ([[org.apache.spark.sql.graft.FloatVecDot]]), and the per-query
    * top-5 is a bounded-heap aggregate
    * ([[org.apache.spark.sql.graft.TopKByScore]]) — no sort or shuffle of the
    * n*m scored pairs ever happens (the window/row_number
    * formulation measured ~8s of 25M-row sorting at sf0.1; this runs
    * the same scoring in <1s). Ranking uses the rounded score so
    * cross-engine ulp drift cannot reorder neighbors (ties break by
    * b_id). */
  def simKnnTopk(spark: SparkSession, sf: String): DataFrame = {
    // NOTE: performance wants spark.sql.objectHashAggregate.sortBased.
    // fallbackThreshold raised (default 128 groups forces the top-k
    // aggregate to sort-based far too early for 5-element buffers);
    // it is set in the Verify/Bench/test session builders — never
    // mutated here, so concurrent queries see a stable session conf.
    val e = embeddings(spark, sf)
    graft.api.Transforms.knnTopK(e, e,
        qId = col("vec_id"), qVec = col("embedding"),
        iId = col("vec_id"), iVec = col("embedding"), k = 5)
      .select(col("q_id").as("a_id"), col("rnk"),
              col("i_id").as("b_id"), col("cos_sim"))
      .orderBy(col("a_id"), col("rnk"))
  }

  /** #63 — nearest-centroid classification: per-label centroids (via
    * the VectorMean UDAF), broadcast to every vector, argmax cosine
    * (rounded-score ranking, label tie-break), confusion-matrix
    * counts. */
  def simCentroidClassify(spark: SparkSession, sf: String): DataFrame = {
    val vecMean = udaf(graft.functions.VectorMean)
    val cents = embeddings(spark, sf)
      .groupBy(col("label").as("cand_label"))
      .agg(vecMean(col("embedding")).as("cvec"))
      .select(col("cand_label"), col("cvec"), l2norm(col("cvec")).as("cnrm"))
    val vecs = embeddings(spark, sf)
      .select(col("vec_id"), col("label").as("true_label"), col("embedding"),
              vecNorm(col("embedding")).as("vnrm"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos_sim").desc, col("cand_label"))
    vecs.join(broadcast(cents))
      .select(col("vec_id"), col("true_label"), col("cand_label"),
        round(dot(col("embedding"), col("cvec")) / (col("vnrm") * col("cnrm")), 4)
          .as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .groupBy(col("true_label"), col("cand_label").as("pred_label"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  /** #95 — TF-IDF term weighting, the classic corpus-statistics
    * shape: per-doc term frequencies join per-term document
    * frequencies ON THE TERM (hash-partitioned by term — the vocab is
    * never assumed broadcastable; Catalyst broadcasts it when small),
    * the 1-row corpus size broadcast, top-3 terms per doc by
    * round(tf·ln(N/df), 4) with term tie-break (round BEFORE ranking
    * so cross-engine ulp drift cannot reorder). */
  def textTfidf(spark: SparkSession, sf: String): DataFrame = {
    val docs = documents(spark, sf)
    val terms = docs.select(col("doc_id"), explode(words).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    terms.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
              col("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** #96 — bigram language-model statistics: corpus-wide bigram
    * counts + conditional probability P(w2|w1) = n(w1 w2)/n(w1 ·) —
    * the n-gram-LM building block. The prefix marginal comes from the
    * bigram table itself (sum over w2), so one tokenize pass feeds
    * both; count/count division is IEEE-exact cross-engine. Top-30 by
    * (count desc, bigram). */
  def textBigramLm(spark: SparkSession, sf: String): DataFrame = {
    val bigrams = documents(spark, sf)
      .withColumn("words", words)
      .where(size(col("words")) >= 2)
      .select(explode(shingles(col("words"), 2)).as("bg"))
      .select(element_at(split(col("bg"), " "), 1).as("w1"),
              element_at(split(col("bg"), " "), 2).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val prefix = bigrams.groupBy(col("w1")).agg(sum(col("n")).as("n1"))
    bigrams.join(prefix, "w1")
      .select(col("w1"), col("w2"), col("n"),
              round(col("n").cast("double") / col("n1"), 4).as("p_cond"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(30)
  }

  /** #127 — per-doc n-gram novelty: the fraction of a document's
    * DISTINCT 3-gram shingles that occur in NO other document — the
    * corpus-diversity / memorization diagnostic (boilerplate scores
    * ~0, fresh text ~1) that complements the pairwise dedup family
    * with a corpus-global per-doc signal. Shape: distinct (doc, gram)
    * pairs, then gram document-frequency as a COUNT OVER (PARTITION
    * BY shingle) window — shuffled once by shingle, no join back —
    * then one per-doc aggregate. Every stage is keyed by gram or doc;
    * nothing is pairwise, so the cost is O(total grams), the same
    * bucketed posture as the dedup family. count/count division is
    * IEEE-exact cross-engine; round(,4) for display. */
  def textNgramNovelty(spark: SparkSession, sf: String): DataFrame = {
    // repartition the raw single-file scan before the shingle fan-out
    // (the dedup_minhash_near lesson: one scan task otherwise runs
    // the whole explosion serially)
    val grams = documents(spark, sf)
      .transform(graft.api.Transforms.fanOut(_, col("doc_id")))
      .withColumn("words", words)
      .where(size(col("words")) >= 3)
      .select(col("doc_id"), explode(shingles(col("words"), 3)).as("shingle"))
      .distinct()
    val unique1 = count(when(col("gram_docs") === 1, lit(1)))
    grams
      .withColumn("gram_docs",
        count(lit(1)).over(Window.partitionBy(col("shingle"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
           unique1.as("n_unique"),
           round(unique1.cast("double") / count(lit(1)), 4).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** #64 — multimodal join: text metadata + vector features in one
    * row (documents ⋈ embeddings on doc_id = vec_id). */
  /** #269 — Jensen–Shannon divergence between two corpus slices'
    * unigram distributions (round 15; the TEXT-drift detector beside
    * #231's numeric PSI — "did the non-English slice's vocabulary
    * usage drift from English?", bounded 0 ≤ JSD ≤ ln 2 so it is
    * comparable across corpora, unlike raw KL which is unbounded and
    * asymmetric): P = English unigram distribution, Q = the rest;
    * JSD = ½KL(P‖M) + ½KL(Q‖M), M = (P+Q)/2. One-sided terms
    * (a word absent from one slice) stay finite by construction —
    * the KL reference is always the mixture. Exactness: counts exact
    * longs from ONE gram-scale aggregate; each per-word term is the
    * identical double expression over those longs (counts→double
    * before any product), 8dp-gridded to DECIMAL BEFORE the sum, so
    * the reported divergence is an exact sum of gridded terms.
    * Shape: one word-keyed corpus aggregate (the only data-scale
    * stage), two 1-row total broadcasts, a vocabulary-scale fold. */
  def textJsDivergence(spark: SparkSession, sf: String): DataFrame = {
    val isEn = (col("lang") === "en").cast("int")
    val counts = documents(spark, sf)
      .transform(graft.api.Transforms.fanOut(_, col("doc_id")))
      .select(isEn.as("en"), explode(words).as("w"))
      .groupBy(col("w"))
      .agg(sum(col("en")).as("ca"), sum(lit(1) - col("en")).as("cb"))
      // vocabulary-scale, TWO consumers (totals + term fold) — the
      // barrier keeps the gram fan-out computed once
      .localCheckpoint()
    val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    def kl(c: Column, n: Column): Column = {
      val p = c.cast("double") / n
      val m = (col("ca").cast("double") / col("na") +
               col("cb").cast("double") / col("nb")) / 2.0
      when(c > 0, p * log(p / m)).otherwise(lit(0.0))
    }
    counts.crossJoin(broadcast(tot))
      .select(
        ((floor(kl(col("ca"), col("na")) * 100000000 + 0.5) / 100000000.0)
          .cast(DecimalType(18, 8))).as("ta"),
        ((floor(kl(col("cb"), col("nb")) * 100000000 + 0.5) / 100000000.0)
          .cast(DecimalType(18, 8))).as("tb"),
        col("ca"), col("cb"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("ca")).as("tokens_en"), sum(col("cb")).as("tokens_rest"),
        // exact decimal sums; /2 AFTER the double cast (decimal
        // division rounding differs across engines, double's doesn't)
        ((sum(col("ta")) + sum(col("tb"))).cast("double") / 2).as("jsd"))
  }

  def multimodalJoin(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .join(embeddings(spark, sf), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(words).as("n_tokens"), col("label"),
        round(vecNorm(col("embedding")), 4).as("vec_norm"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "text_tokenize_wordcount" -> (textTokenizeWordcount _),
    "text_stats"              -> (textStats _),
    "text_shingle_generate"   -> (textShingleGenerate _),
    "dedup_exact_md5"         -> (dedupExactMd5 _),
    "dedup_minhash_near"      -> (dedupMinhashNear _),
    "dedup_minhash_containment" -> (dedupMinhashContainment _),
    "sim_cosine_pairs"        -> (simCosinePairs _),
    "sim_knn_topk"            -> (simKnnTopk _),
    "sim_centroid_classify"   -> (simCentroidClassify _),
    "multimodal_join"         -> (multimodalJoin _),
    "text_tfidf"              -> (textTfidf _),
    "text_bigram_lm"          -> (textBigramLm _),
    "text_ngram_novelty"      -> (textNgramNovelty _),
    "text_js_divergence"      -> (textJsDivergence _),
  )

  private val shingleCte =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM t),
      |sh AS (SELECT doc_id,
      |         w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' '
      |           || w[CAST(i AS INT) + 2] AS shingle
      |       FROM s)""".stripMargin

  val oracle: Map[String, String] = ListMap(
    "text_js_divergence" ->
      """WITH wc AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |counts AS (
        |  SELECT w, CAST(sum(en) AS BIGINT) AS ca,
        |    CAST(sum(1 - en) AS BIGINT) AS cb
        |  FROM wc GROUP BY w),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |               CAST(sum(cb) AS BIGINT) AS nb FROM counts),
        |g AS (
        |  SELECT ca, cb,
        |    CAST(floor(CASE WHEN ca > 0 THEN
        |      (CAST(ca AS DOUBLE) / na)
        |      * ln((CAST(ca AS DOUBLE) / na)
        |           / ((CAST(ca AS DOUBLE) / na
        |               + CAST(cb AS DOUBLE) / nb) / 2.0))
        |      ELSE 0.0 END * 100000000 + 0.5) / 100000000.0
        |      AS DECIMAL(18,8)) AS ta,
        |    CAST(floor(CASE WHEN cb > 0 THEN
        |      (CAST(cb AS DOUBLE) / nb)
        |      * ln((CAST(cb AS DOUBLE) / nb)
        |           / ((CAST(ca AS DOUBLE) / na
        |               + CAST(cb AS DOUBLE) / nb) / 2.0))
        |      ELSE 0.0 END * 100000000 + 0.5) / 100000000.0
        |      AS DECIMAL(18,8)) AS tb
        |  FROM counts CROSS JOIN tot)
        |SELECT count(*) AS n_terms, CAST(sum(ca) AS BIGINT) AS tokens_en,
        |  CAST(sum(cb) AS BIGINT) AS tokens_rest,
        |  CAST(sum(ta) + sum(tb) AS DOUBLE) / 2 AS jsd
        |FROM g""".stripMargin,
    "text_tokenize_wordcount" ->
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word LIMIT 50""".stripMargin,
    "text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_shingle_generate" ->
      (shingleCte +
      """
        |SELECT doc_id, shingle, count(*) AS n FROM sh
        |GROUP BY doc_id, shingle ORDER BY doc_id, shingle""".stripMargin),
    "dedup_exact_md5" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "dedup_minhash_near" ->
      (shingleCte +
      """,
        |sig AS (
        |  SELECT doc_id,
        |    min(md5(shingle || '#0')) AS s0, min(md5(shingle || '#1')) AS s1,
        |    min(md5(shingle || '#2')) AS s2, min(md5(shingle || '#3')) AS s3
        |  FROM sh GROUP BY doc_id)
        |SELECT a.doc_id AS d1, b.doc_id AS d2
        |FROM sig a JOIN sig b
        |  ON a.s0 = b.s0 AND a.s1 = b.s1 AND a.s2 = b.s2 AND a.s3 = b.s3
        | AND a.doc_id < b.doc_id
        |ORDER BY d1, d2""".stripMargin),
    "dedup_minhash_containment" ->
      (shingleCte +
      """,
        |sets AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |    min(md5(shingle || '#0')) AS s0, min(md5(shingle || '#1')) AS s1,
        |    min(md5(shingle || '#2')) AS s2, min(md5(shingle || '#3')) AS s3
        |  FROM sh GROUP BY doc_id),
        |cand AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sig a JOIN sig b
        |    ON a.s0 = b.s0 AND a.s1 = b.s1 AND a.s2 = b.s2 AND a.s3 = b.s3
        |   AND a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS nsh FROM sets GROUP BY doc_id),
        |inter AS (
        |  SELECT c.d1, c.d2, count(*) AS ninter
        |  FROM cand c
        |  JOIN sets x ON x.doc_id = c.d1
        |  JOIN sets y ON y.doc_id = c.d2 AND y.shingle = x.shingle
        |  GROUP BY c.d1, c.d2)
        |SELECT c.d1, c.d2,
        |  round(CAST(coalesce(i.ninter, 0) AS DOUBLE) / s1.nsh, 4)
        |    AS cont_1in2,
        |  round(CAST(coalesce(i.ninter, 0) AS DOUBLE) / s2.nsh, 4)
        |    AS cont_2in1,
        |  CAST(round(abs(round(CAST(coalesce(i.ninter, 0) AS DOUBLE) / s1.nsh, 4)
        |        - round(CAST(coalesce(i.ninter, 0) AS DOUBLE) / s2.nsh, 4))
        |      * 10000, 0) AS INT) >= 500 AS wrapped
        |FROM cand c
        |JOIN sizes s1 ON s1.doc_id = c.d1
        |JOIN sizes s2 ON s2.doc_id = c.d2
        |LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
        |ORDER BY 1, 2""".stripMargin),
    "sim_cosine_pairs" ->
      """WITH u AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    CAST(unnest(a.embedding) AS DOUBLE) AS xa,
        |    CAST(unnest(b.embedding) AS DOUBLE) AS xb
        |  FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id)
        |SELECT a_id, b_id,
        |  round(sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb))), 4)
        |    AS cos_sim
        |FROM u GROUP BY a_id, b_id ORDER BY a_id""".stripMargin,
    "sim_knn_topk" -> (VecOps.vecPairsSql + """ ON a.vec_id <> b.vec_id),
        |d AS (SELECT a_id, b_id, sum(xa * xb) AS dp FROM p GROUP BY a_id, b_id),
        |c AS (
        |  SELECT d.a_id, d.b_id, round(d.dp / (na.nrm * nb.nrm), 4) AS cos_sim
        |  FROM d JOIN n na ON na.vec_id = d.a_id JOIN n nb ON nb.vec_id = d.b_id),
        |r AS (
        |  SELECT a_id, b_id, cos_sim,
        |    row_number() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, b_id) AS rnk
        |  FROM c)
        |SELECT a_id, rnk, b_id, cos_sim FROM r WHERE rnk <= 5
        |ORDER BY a_id, rnk""".stripMargin),
    "sim_centroid_classify" ->
      """WITH ce AS (
        |  SELECT label AS cl, generate_subscripts(embedding, 1) AS idx,
        |    CAST(unnest(embedding) AS DOUBLE) AS e
        |  FROM embeddings),
        |c AS (SELECT cl, idx, avg(e) AS m FROM ce GROUP BY cl, idx),
        |cn AS (SELECT cl, sqrt(sum(m * m)) AS cnrm FROM c GROUP BY cl),
        |v AS (
        |  SELECT vec_id, label AS true_label,
        |    generate_subscripts(embedding, 1) AS idx,
        |    CAST(unnest(embedding) AS DOUBLE) AS e
        |  FROM embeddings),
        |vn AS (SELECT vec_id, sqrt(sum(e * e)) AS vnrm FROM v GROUP BY vec_id),
        |d AS (
        |  SELECT v.vec_id, v.true_label, c.cl, sum(v.e * c.m) AS dp
        |  FROM v JOIN c ON v.idx = c.idx
        |  GROUP BY v.vec_id, v.true_label, c.cl),
        |s AS (
        |  SELECT d.vec_id, d.true_label, d.cl,
        |    round(d.dp / (vn.vnrm * cn.cnrm), 4) AS cos_sim
        |  FROM d JOIN vn ON vn.vec_id = d.vec_id JOIN cn ON cn.cl = d.cl),
        |r AS (
        |  SELECT vec_id, true_label, cl,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, cl) AS rn
        |  FROM s)
        |SELECT true_label, cl AS pred_label, count(*) AS n_vecs
        |FROM r WHERE rn = 1
        |GROUP BY true_label, cl ORDER BY true_label, pred_label""".stripMargin,
    "multimodal_join" ->
      """WITH n AS (
        |  SELECT vec_id, sqrt(sum(x * x)) AS nrm
        |  FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
        |        FROM embeddings)
        |  GROUP BY vec_id)
        |SELECT doc_id, lang, source, n_chars,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  label, round(n.nrm, 4) AS vec_norm
        |FROM documents d
        |JOIN embeddings e ON d.doc_id = e.vec_id
        |JOIN n ON n.vec_id = e.vec_id
        |ORDER BY doc_id""".stripMargin,
    "text_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT doc_id, tf.term, tf, df,
        |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |                               ORDER BY tfidf DESC, term) AS rnk
        |  FROM s)
        |SELECT doc_id, CAST(rnk AS INT) AS rnk, term, tf, df, tfidf
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "text_bigram_lm" ->
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT w, unnest(range(1, len(w))) AS i FROM t),
        |bg AS (SELECT w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
        |       FROM s),
        |c AS (SELECT w1, w2, count(*) AS n FROM bg GROUP BY w1, w2),
        |p AS (SELECT w1, sum(n) AS n1 FROM c GROUP BY w1)
        |SELECT c.w1, c.w2, n, round(CAST(n AS DOUBLE) / n1, 4) AS p_cond
        |FROM c JOIN p ON c.w1 = p.w1
        |ORDER BY n DESC, c.w1, c.w2 LIMIT 30""".stripMargin,
    "text_ngram_novelty" ->
      (shingleCte +
      """,
        |g AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |c AS (SELECT doc_id,
        |        count(*) OVER (PARTITION BY shingle) AS gram_docs
        |      FROM g)
        |SELECT doc_id, count(*) AS n_grams,
        |  count(*) FILTER (WHERE gram_docs = 1) AS n_unique,
        |  round(CAST(count(*) FILTER (WHERE gram_docs = 1) AS DOUBLE)
        |    / count(*), 4) AS novelty
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),
  )
}
