package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import graft.Tables._
import graft.api.Transforms.{hashSeeds, ivfAssignProbe, shingles, topKPerGroup}
import org.apache.spark.sql.graft.VectorExprs.vecDot

/** SURVEY §2.L — extended LLM-pipeline operators (#71–#80), beyond
  * the core §2.J set: SimHash fingerprinting + banded near-dup,
  * n-gram Jaccard scoring, embedding-cosine near-dup, character-level
  * language ID, quality scoring, BPE-ish token counting, rolling-
  * window document fingerprints, IVF-bucketed approximate kNN, and
  * multimodal binary-column plumbing.
  *
  * Scale posture mirrors §2.J: candidate generation is always a
  * banded/bucketed EQUI-join (SimHash bands, IVF buckets, given
  * pairs) — never an n² scan; per-document feature extraction is
  * narrow and codegen'd; fingerprints/signatures are fixed-size per
  * document so dedup state is O(docs), not O(pairs).
  */
object LlmOps {

  // ---------------------------------------------------------------
  // #71/#72 SimHash
  // ---------------------------------------------------------------

  /** Per-doc 64-bit SimHash (the Manku et al. WWW'07 configuration):
    * bit i of each word's md5 votes ±1; fingerprint bit = sign of the
    * vote sum. The hash bits come from the first 16 hex nibbles of
    * md5 (portable across engines). 64 bits, not 32: band-LSH
    * selectivity is 2^bits-per-band, and with hamming ≤ 3 pigeonhole
    * requiring exactly 4 bands, a 32-bit hash caps bands at 8 bits =
    * 256 buckets — whose n²/256 random collisions were measured
    * 28.6× super-linear on the 10× scale-stress corpus. 16-bit bands
    * (65 536 buckets) make the candidate set ~256× sparser at
    * identical completeness. Bit 63 adds Long.MinValue (= +2^63 in
    * two's complement) — summed LAST so every ANSI-checked partial
    * sum stays in range. */
  private def simhashDf(spark: SparkSession, sf: String): DataFrame = {
    val h = md5(col("word"))
    def nib(j: Int): Column = conv(substring(h, j + 1, 1), 16, 10).cast("int")
    def bit(i: Int): Column = shiftright(nib(i / 4), i % 4).bitwiseAND(lit(1))
    val sums = (0 until 64).map(i => sum(bit(i) * 2 - 1).as(s"s$i"))
    val fp = ((0 until 63)
      .map(i => when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))) :+
      when(col("s63") > 0, lit(Long.MinValue)).otherwise(lit(0L)))
      .reduce(_ + _)
    // repartition the raw docs by id before the word fan-out: the
    // graded corpus is a single parquet file (one scan task), and the
    // expensive part — md5 + 64 bit-extraction partial sums per word —
    // otherwise runs single-threaded in the scan stage (the
    // dedup_minhash_near lesson, measured 10x there). The groupBy
    // reuses this hash partitioning, so no extra exchange.
    documents(spark, sf)
      .transform(graft.api.Transforms.fanOut(_, col("doc_id")))
      .select(col("doc_id"), explode(words).as("word"))
      .groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** Shared oracle CTE computing the identical 64-bit simhash (bit 63
    * = BIGINT minimum, summed last — see [[simhashDf]]). */
  private val simhashSqlCte: String = {
    val sumTerms = (0 until 64).map { i =>
      s"sum(CASE WHEN (((strpos('0123456789abcdef', substr(h, ${i / 4 + 1}, 1)) - 1) >> ${i % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS s$i"
    }.mkString(",\n    ")
    val fpTerms = ((0 until 63)
      .map(i => s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)") :+
      "(CASE WHEN s63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)")
      .mkString(" + ")
    s"""wrd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |hsh AS (SELECT doc_id, md5(word) AS h FROM wrd),
       |bits AS (SELECT doc_id,
       |    $sumTerms
       |  FROM hsh GROUP BY doc_id),
       |sim AS (SELECT doc_id, CAST($fpTerms AS BIGINT) AS simhash FROM bits)""".stripMargin
  }

  /** #71 — SimHash fingerprint per document. */
  def textSimhash(spark: SparkSession, sf: String): DataFrame =
    simhashDf(spark, sf).orderBy(col("doc_id"))

  /** Unstaged pair builder — ScaleStressSpec measures THIS (the
    * staged surface would make the gated 1×/10× wall-clock ratio
    * vacuous after the first run). */
  private[graft] def buildVerifiedSimhashPairs(spark: SparkSession, sf: String): DataFrame = {
    val sh = simhashDf(spark, sf)
    val bandVals = (0 until 4).map(j =>
      shiftright(col("simhash"), 16 * j).bitwiseAND(lit(65535)).cast("int"))
    val bands = sh.select(col("doc_id"), col("simhash"),
        posexplode(array(bandVals: _*)).as(Seq("band_id", "band_val")))
    val x = bands.toDF("d1", "s1", "band_id", "band_val")
    val y = bands.toDF("d2", "s2", "band_id2", "band_val2")
    x.join(y, col("band_id") === col("band_id2") &&
              col("band_val") === col("band_val2") &&
              col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("s1"), col("s2"))
      .distinct()
      .select(col("d1"), col("d2"),
              expr("bit_count(s1 ^ s2)").cast("int").as("hamming"))
      .where(col("hamming") <= 3)
  }

  /** Exact-verified simhash near-dup pairs (d1 < d2, hamming ≤ 3) —
    * the shared prefix of #72/#91/#114, staged once per (session,
    * corpus) in [[graft.Staged]] (round 15, VERDICT r14): each of the
    * three ops recomputed the full word-fan-out + band-join pipeline
    * (~1.5 s/op at sf0.1), and the pair table is near-dup-scale, orders
    * of magnitude below the corpus. Band-LSH candidates (4 × 16-bit
    * bands, pigeonhole-complete for hamming ≤ 3) verified by exact
    * `bit_count`. */
  private[graft] def verifiedSimhashPairs(spark: SparkSession, sf: String): DataFrame =
    graft.Staged(spark, "simhash_pairs", sf)(buildVerifiedSimhashPairs(spark, sf))

  /** Connected components over [[verifiedSimhashPairs]] — the shared
    * (node, component) table #91 and #114 both cluster on, staged
    * once per (session, corpus). */
  private[graft] def simhashComponents(spark: SparkSession, sf: String): DataFrame =
    graft.Staged(spark, "simhash_cc", sf) {
      graft.api.Transforms.connectedComponents(
        verifiedSimhashPairs(spark, sf).select(col("d1"), col("d2")),
        maxIters = 64)
    }

  /** #72 — SimHash near-dup candidates: 4 bands of 16 bits; pairs
    * sharing any band are candidates (pigeonhole: hamming <= 3 implies
    * at least one equal band), verified by exact hamming <= 3. The
    * band join is the scalable LSH shape — an equi-join on
    * (band_id, band_value) with 65 536 buckets per band, so random
    * collisions stay ~n²/2^16 per band (scale-stress-measured
    * near-linear at 10×; the 8-bit predecessor was 28.6×). */
  def dedupSimhashBand(spark: SparkSession, sf: String): DataFrame =
    verifiedSimhashPairs(spark, sf).orderBy(col("d1"), col("d2"))

  /** #91 — dedup clustering: verified simhash near-dup pairs (#72)
    * → connected components → one canonical doc per cluster (the
    * smallest doc_id). This is the step that makes pair-wise dedup
    * actionable: transitively-linked duplicates collapse to one
    * keeper even when not all pairs were direct candidates. Min-label
    * propagation via [[graft.api.Transforms.connectedComponents]]
    * (equi-join + min-aggregate per iteration, converges to the
    * unique fixpoint); the oracle replays it as a recursive CTE. */
  def dedupClusterComponents(spark: SparkSession, sf: String): DataFrame =
    simhashComponents(spark, sf)
      .select(col("node").as("doc_id"), col("component"),
              (col("node") === col("component")).as("is_canonical"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------
  // #73–#74 pair scoring
  // ---------------------------------------------------------------

  /** #73 — n-gram Jaccard similarity on candidate pairs (adjacent
    * doc_ids as the given candidates): |A∩B| / |A∪B| over distinct
    * 3-shingle sets. */
  def simJaccardNgram(spark: SparkSession, sf: String): DataFrame = {
    val sets = documents(spark, sf)
      .withColumn("words", words)
      .where(size(col("words")) >= 3)
      .select(col("doc_id"), array_distinct(shingles(col("words"), 3)).as("sh"))
    val a = sets.toDF("d1", "sa")
    val b = sets.toDF("d2", "sb")
    a.join(b, col("d1") + 1 === col("d2"))
      .select(col("d1"), col("d2"),
        round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
              size(array_union(col("sa"), col("sb"))), 4).as("jaccard"))
      .orderBy(col("d1"))
  }

  /** #74 — embedding-cosine near-duplicates: pairs with rounded
    * cosine >= 0.99, found via hyperplane-LSH band candidates + the
    * exact cosine residual ([[graft.api.Transforms.dedupByEmbeddingCosine]]).
    * Every join is an equi-join (band signature, then id) — no
    * all-pairs scan anywhere in the plan, the same banded shape as
    * #72's simhash dedup; results are identical to brute force
    * (property-tested with planted near-dups in LlmOpsSpec, and the
    * band recall at cos 0.99 is 1 − ~2e-9 at 32×16-bit bands).
    *
    * The synthetic corpus has no natural near-dup pairs (max pairwise
    * cosine ≈ 0.51 at sf0.01), which would make the graded check
    * vacuously green on an empty result. So the graded query first
    * plants deterministic near-dup twins — every 10th vector gets a
    * copy at id+100000 with 0.01 added to each element, computed in
    * double then rounded to float so the twin's bits are identical in
    * any engine (`float(double(x) + 0.01)`). The twins sit at cosine
    * ≈ 0.997 to their originals: a genuinely non-trivial angle, so
    * the oracle hash pins both the band recall (a geometry regression
    * drops planted pairs) and the exact cosine residual. The
    * un-augmented operator surface is
    * [[graft.api.Transforms.dedupByEmbeddingCosine]] itself. */
  def dedupEmbeddingCosine(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    // one-row peek for the vector dimension (the hyperplanes are
    // literals of that length); empty/null-vector input degrades to
    // an empty result like the brute-force formulation did
    val dims = e.select(size(col("embedding")).as("d"))
      .where(col("d").isNotNull).limit(1).collect()
    if (dims.isEmpty) return Seq.empty[(Long, Long, Double)]
      .toDF("d1", "d2", "cos_sim")
    val twins = e.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") + lit(0.01)).cast("float")).as("embedding"))
    // guard the +100000 twin offset against colliding with a REAL id
    // (review r17: a collision would put two DIFFERENT embeddings
    // under one id and silently corrupt the planted-pair contract
    // while the oracle, replaying the same arithmetic, stayed green).
    // Exact membership check, not a max-id bound — the 1×/10× stress
    // corpora legitimately carry ids ≫ 100000 in DISJOINT per-replica
    // ranges that never land on a twin id. Id-column-only semi join
    // over the planted subset: trivially small at any graded scale.
    val collisions = twins.select(col("vec_id"))
      .join(e.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .limit(1).count()
    require(collisions == 0,
      "planted-twin ids (+100000) collide with real vec_ids — " +
      "the corpus id layout changed; pick a disjoint offset")
    graft.api.Transforms
      .dedupByEmbeddingCosine(e.unionByName(twins), col("vec_id"),
        col("embedding"), dims.head.getInt(0), 0.99)
      .orderBy(col("d1"), col("d2"))
  }

  /** Candidate-pair stage of #74 at exactly the graded geometry
    * (32×16-bit hyperplane bands, seed 42) — the distinct (d1, d2)
    * band-collision pairs BEFORE cosine verification. Exposed for
    * ScaleStressSpec's deterministic scale evidence: the count is a
    * pure function of corpus content, so a band-geometry regression
    * (fewer bits per band, collapsed hyperplanes) shows up as a
    * candidate-count jump even when wall-clock jitter masks the time
    * ratio. Expected shape: planted near-dups (linear in n) + the
    * random-collision floor 32·(n²/2)·p^16 (quadratic in n but
    * trivial absolute work at any graded scale; p = per-hyperplane
    * sign-agreement probability of a random pair). */
  private[graft] def dedupEmbeddingCosineCandidates(
      spark: SparkSession, sf: String): DataFrame = {
    val e = embeddings(spark, sf)
    val dims = e.select(size(col("embedding")).as("d"))
      .where(col("d").isNotNull).limit(1).collect()
    require(dims.nonEmpty, "empty embeddings corpus")
    graft.api.Transforms.lshBandCandidates(
      e, col("vec_id"), col("embedding"), dims.head.getInt(0))
  }

  // ---------------------------------------------------------------
  // #75–#78 text analysis
  // ---------------------------------------------------------------

  /** #75 — character-trigram language ID: learn top-20 trigram
    * profiles per language from the corpus, classify each document by
    * profile-hit count (ties break toward the lexicographically first
    * language), report the confusion matrix.
    *
    * Shape (round 14 — reworked after the first full bench sweep put
    * the original at 6.3 s): the trigram fan-out is aggregated ONCE
    * into the per-doc distinct-gram table (one gram-scale shuffle,
    * localCheckpoint'd because BOTH consumers read it — profile
    * counts are Σ over per-doc counts, and the classifier needs
    * exactly its distinct (doc, gram) rows, so the old separate
    * `distinct()` pass and second explode scan are gone; round 16
    * staged that prefix per session×corpus — see [[perDocGramMemo]]
    * — so repeat invocations skip the fan-out entirely). The learned
    * profile is ≤ 20·|langs| rows and rides a BROADCAST into the
    * classification join; the per-doc argmax is a partial-able
    * `min_by` over (−score, cand_lang) — lexicographic min = highest
    * score, alphabetical tie-break, identical to the old
    * `row_number`=1 — replacing the per-doc sort window. Measured
    * 6.3 → ~1.8 s at sf0.1. At 100 TB: materializing per-doc distinct
    * features before profile training is the standard feature
    * extraction pass; swap localCheckpoint for a parquet stage. */
  def textLanguageId(spark: SparkSession, sf: String): DataFrame = {
    val perDocGram = perDocGramMemo(spark, sf)
    val wProf = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("g"))
    val profile = perDocGram.groupBy(col("lang"), col("g"))
      .agg(sum(col("c")).as("n"))
      .withColumn("rn", row_number().over(wProf))
      .where(col("rn") <= 20)
      .select(col("lang").as("cand_lang"), col("g"))
    perDocGram.join(broadcast(profile), Seq("g"))
      .groupBy(col("doc_id"), col("lang"), col("cand_lang"))
      .agg(count(lit(1)).as("score"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(min_by(col("cand_lang"),
        struct(-col("score"), col("cand_lang"))).as("cand_lang"))
      .groupBy(col("lang").as("true_lang"), col("cand_lang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }

  /** Unstaged per-doc trigram-count builder — the gram-scale shared
    * prefix of #75 (one explode over every document's characters + one
    * gram-keyed shuffle). ScaleStressSpec measures THIS: the staged
    * surface would make the gated 1×/10× wall-clock ratio a checkpoint
    * re-read (the r15 simhash precedent). */
  private[graft] def buildPerDocGram(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), length(col("text")) - 2),
          i => col("text").substr(i, lit(3)))).as("g"))
      .groupBy(col("doc_id"), col("lang"), col("g"))
      .agg(count(lit(1)).as("c"))

  /** Per-doc trigram counts, staged per (live session, corpus dir) in
    * [[graft.Staged]] — round 16 (VERDICT r15 ask 3): #75 recomputed
    * the full trigram fan-out every invocation (~3.7 s at sf0.1, the
    * slowest stable op in the sweep) even though the derived table is
    * deterministic. The pinned block is per-doc-distinct-gram scale
    * (bounded by corpus character volume; ~tens of MB at sf0.1). */
  private def perDocGramMemo(spark: SparkSession, sf: String): DataFrame =
    graft.Staged(spark, "perdoc_gram", sf)(buildPerDocGram(spark, sf))

  /** (doc_id, quality) projection of #76's score — shared with #114
    * dedup_keep_best (CorpusOps), which ranks cluster members by it.
    * Rounded 4 dp BEFORE any ranking so cross-engine ulp drift cannot
    * reorder members. */
  private[graft] def qualityPerDoc(spark: SparkSession, sf: String): DataFrame = {
    val stopRatio = size(filter(col("words"), w => w.isin("a", "the")))
      .cast("double") / size(col("words"))
    documents(spark, sf)
      .withColumn("words", words)
      .select(col("doc_id"),
        round(lit(1.0) - lit(0.5) * stopRatio
          - when(array_contains(col("words"), "dup"), 0.2).otherwise(0.0), 4)
          .as("quality"))
  }

  /** DuckDB fragment computing the same rounded quality score (one
    * row per doc) — the SQL twin of [[qualityPerDoc]]. */
  private[ops] val qualitySqlCte: String =
    """qual AS (SELECT doc_id,
      |  round(1.0 - 0.5 * (CAST(len(list_filter(string_split(text, ' '),
      |      w -> w IN ('a', 'the'))) AS DOUBLE)
      |    / len(string_split(text, ' ')))
      |    - CASE WHEN list_contains(string_split(text, ' '), 'dup')
      |           THEN 0.2 ELSE 0.0 END, 4) AS quality
      |FROM documents)""".stripMargin

  /** #76 — document quality scoring: token counts, average word
    * length, stopword ratio, dup-marker penalty — the
    * length/stopword-ratio heuristics of a pretraining-data filter. */
  def textQualityScore(spark: SparkSession, sf: String): DataFrame = {
    // raw (unrounded) ratio feeds the score: rounding first would put
    // every odd 4th decimal on an exact .00005 boundary where the two
    // engines' double rounding diverges
    val stopRatio = size(filter(col("words"), w => w.isin("a", "the")))
      .cast("double") / size(col("words"))
    documents(spark, sf)
      .withColumn("words", words)
      .select(col("doc_id"), col("lang"),
        size(col("words")).as("n_tokens"),
        round(length(regexp_replace(col("text"), " ", "")).cast("double") /
              size(col("words")), 4).as("avg_word_len"),
        round(stopRatio, 4).as("stopword_ratio"),
        array_contains(col("words"), "dup").as("has_dup_marker"),
        round(lit(1.0) - lit(0.5) * stopRatio
          - when(array_contains(col("words"), "dup"), 0.2).otherwise(0.0), 4)
          .as("quality"))
      .orderBy(col("doc_id"))
  }

  /** #77 — token counting three ways: whitespace, a BPE-ish regex
    * (letter runs / digit runs / other), and a subword estimate
    * (ceil(len/4) pieces per word), aggregated per language. */
  def textTokenBpe(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .withColumn("words", words)
      .select(col("lang"),
        size(col("words")).as("ws"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .as("rx"),
        aggregate(transform(col("words"),
            w => ceil(length(w) / lit(4.0)).cast("long")),
          lit(0L), (a, x) => a + x).as("sub"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("ws")).as("ws_tokens"),
           sum(col("rx")).as("regex_tokens"),
           sum(col("sub")).as("subword_est"))
      .orderBy(col("lang"))

  /** #78 — rolling-window document fingerprint: minhash over the
    * sliding character 8-grams (2 seeds) + gram count — a winnowing-
    * style content fingerprint robust to word reordering at the
    * edges. */
  def textFingerprintRolling(spark: SparkSession, sf: String): DataFrame = {
    val grams = transform(sequence(lit(1), length(col("text")) - 7),
      i => col("text").substr(i, lit(8)))
    documents(spark, sf)
      .select(col("doc_id"),
        array_min(transform(grams, g => md5(concat(g, lit("#0"))))).as("fp0"),
        array_min(transform(grams, g => md5(concat(g, lit("#1"))))).as("fp1"),
        (length(col("text")) - 7).cast("long").as("n_grams"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // #79 IVF approximate kNN
  // ---------------------------------------------------------------

  /** #79 — IVF-bucketed approximate kNN (the scale shape for #62),
    * with a DATA-SCALED bucket count: k = ⌈√n⌉ coarse centroids are
    * the k corpus vectors with the smallest md5(vec_id) (a
    * deterministic hash-sample — the standard cheap coarse quantizer
    * when a Lloyd refinement isn't worth a second pass; sampled
    * centroids are exact float rows, so the whole pipeline is
    * arithmetic over corpus values and the DuckDB oracle replays it
    * verbatim — no float-summation order anywhere). Each INDEX vector
    * lives in its nearest bucket (rounded cosine, ties to the smaller
    * bucket id); each QUERY vector probes its nprobe=2 nearest
    * buckets. Candidates come from an EQUI-join of probes × bucket
    * members — pair count is nprobe·n²/k ≈ 2·n^1.5, flat-IVF's
    * balance point between assignment (n·k) and probe (n²/k) — and
    * each pair appears at most once (an index vector lives in exactly
    * one bucket). Same rounded-cosine scoring and bounded-heap top-k
    * as the exact query (#62).
    *
    * Scale posture: bucket assignment/probing is a broadcast of k
    * centroid rows followed by a map-side-partial bounded-heap top-k
    * per vec_id ([[graft.api.Transforms.ivfAssignProbe]]) — no n·k
    * window shuffle. At 100 TB the k=⌈√n⌉ centroid table eventually
    * outgrows broadcast (~10⁵ rows); the
    * answer there is a hierarchical coarse quantizer (IVF over the
    * centroids themselves), same shape one level up. The n vs 10×n
    * wall-clock ratio of THIS graded form is measured in
    * ScaleStressSpec (bound n^1.5 ≈ 31.6×). The one driver-side
    * action is the parquet-footer `count()` that sizes k.
    *
    * Output: (a_id, rnk 1..3, b_id, cos_sim), rnk 1 = best. */
  def simAnnIvf(spark: SparkSession, sf: String): DataFrame =
    topKPerGroup(simAnnIvfPairs(spark, sf), col("a_id"), col("cos_sim"), col("b_id"), 3)
      .select(col("group").as("a_id"), col("rnk").cast("int").as("rnk"),
              col("id").as("b_id"), col("score").as("cos_sim"))
      .orderBy(col("a_id"), col("rnk"))

  /** #79's coarse quantizer, shared with the composed IVF-PQ index
    * (#241): md5-seeded √n centroids, rounded-cosine bucket choice.
    * Returns (assigned, probes) — each (vec_id, embedding, vnrm,
    * bucket); `assigned` has the single nearest bucket per vector,
    * `probes` the top-2 (the query-side fan-out). */
  private[graft] def ivfBuckets(spark: SparkSession, sf: String): (DataFrame, DataFrame) = {
    // objectHashAggregate fallback threshold is raised in the session
    // builders (see TextOps.simKnnTopk note) — no conf mutation here.
    val emb = embeddings(spark, sf)
    val k = math.ceil(math.sqrt(emb.count().toDouble)).toInt
    val cents = hashSeeds(emb, col("vec_id"), k)
      .select(col("sid").as("__ivf_c"), col("embedding").as("__ivf_cv"))
    val (assigned, probes) = ivfAssignProbe(emb, col("vec_id"), col("embedding"), cents, 2)
    val cols = Seq("vec_id", "embedding", "vnrm", "bucket")
    (assigned.toDF(cols: _*), probes.toDF(cols: _*))
  }

  /** Candidate-pair stage of #79 — everything before the bounded-heap
    * top-k: one (a_id, b_id, cos_sim) row per probe×bucket-member
    * pair. Split out so ScaleStressSpec can COUNT it as deterministic
    * scale evidence: the pair count is nprobe·n²/k ≈ 2·n^1.5, a pure
    * function of corpus content (md5-sampled centroids, rounded-
    * cosine assignment) — immune to host noise, so a bucket-geometry
    * regression (e.g. the round-6 fixed-label bucketing that measured
    * 22× superlinear) shows up as a count jump even when wall-clock
    * jitter masks the time ratio. */
  private[graft] def simAnnIvfPairs(spark: SparkSession, sf: String): DataFrame = {
    val (assigned, probes) = ivfBuckets(spark, sf)
    val a = graft.api.Transforms.fanOut(
      probes.toDF("a_id", "ea", "na", "bucket"), col("bucket"))
    val b = assigned.toDF("b_id", "eb", "nb", "bucket_b")
    a.join(b, col("bucket") === col("bucket_b") && col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(vecDot(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("cos_sim"))
  }

  /** #94 — sequence packing: documents concatenate (doc_id order)
    * into one token stream cut every 2048 tokens (token estimate:
    * ceil(n_chars / 4)); a doc belongs to the sequence its first
    * token falls into — the GPT-style pack-and-split step that turns
    * a cleaned corpus into training rows. Distributed weighted
    * prefix-sum ([[graft.api.Transforms.packSequences]]), no global
    * window. Output: per-sequence doc counts, token fill, doc range. */
  def textPackSequences(spark: SparkSession, sf: String): DataFrame =
    graft.api.Transforms.packSequences(
        documents(spark, sf).select(col("doc_id"), col("n_chars")),
        col("doc_id"), floor(col("doc_id") / 1000).cast("long"),
        ceil(col("n_chars") / lit(4.0)).cast("long"), capacity = 2048L)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(ceil(col("n_chars") / lit(4.0)).cast("long")).as("est_tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .orderBy(col("seq_id"))

  /** #92 — PII-style redaction: mask email-shaped tokens and long
    * digit runs, report per-document hit counts and the redacted
    * length — the scrubbing pass of a pretraining pipeline (patterns
    * kept POSIX-simple for cross-engine identity; real deployments
    * swap in their own pattern set). Narrow + codegen'd. */
  def textPiiRedact(spark: SparkSession, sf: String): DataFrame = {
    val email = "[a-z0-9]+@[a-z0-9]+"
    val longNum = "[0-9][0-9][0-9]+"
    val redacted = regexp_replace(
      regexp_replace(col("text"), email, "<email>"), longNum, "<num>")
    documents(spark, sf)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(email), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(longNum), lit(0)))
          .cast("long").as("n_longnums"),
        length(redacted).cast("long").as("redacted_len"))
      .orderBy(col("doc_id"))
  }

  /** #289 — corpus-level PII exposure scan (round 16; the AUDIT
    * companion of #92's per-document redaction — before redacting, a
    * compliance pass asks WHERE the PII lives: per ingestion source,
    * how many documents carry emails/long numbers and at what rate,
    * the readout that decides which sources need the redaction pass
    * at all): same regex screens as #92 (single source of truth for
    * "what counts as PII" across the two ops), aggregated per source
    * with exact hit counts and a 6dp exposure rate. Shape: one narrow
    * regex projection + one keyed aggregate — at 100 TB the regex
    * scan is the whole cost and it partial-aggregates; sources with
    * zero hits are kept (rate 0 is the audit's good news). */
  def textPiiScan(spark: SparkSession, sf: String): DataFrame = {
    val email = "[a-z0-9]+@[a-z0-9]+"
    val longNum = "[0-9][0-9][0-9]+"
    documents(spark, sf)
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(email), lit(0)))
          .cast("long").as("ne"),
        size(regexp_extract_all(col("text"), lit(longNum), lit(0)))
          .cast("long").as("nn"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("ne")).as("n_emails"),
           sum(col("nn")).as("n_longnums"),
           count_if(col("ne") + col("nn") > 0).as("n_docs_with_pii"))
      .withColumn("pii_doc_rate",
        round(col("n_docs_with_pii").cast("double")
          / col("n_docs").cast("double"), 6))
      .orderBy(col("source"))
  }

  /** #93 — benchmark-contamination check: count each document's
    * distinct 3-shingles that also appear in a held-out "benchmark"
    * set (stand-in: the shingles of the 5 lowest doc_ids), flag docs
    * with >= 3 overlapping shingles. The check is an equi-join on the
    * shingle — the only shape that works when the corpus is 100 TB
    * and the benchmark set is broadcastable. */
  def textContaminationCheck(spark: SparkSession, sf: String): DataFrame = {
    val sh = documents(spark, sf)
      .withColumn("words", words)
      .where(size(col("words")) >= 3)
      .select(col("doc_id"), explode(array_distinct(shingles(col("words"), 3))).as("shingle"))
    val bench = sh.where(col("doc_id") < 5)
      .select(col("shingle")).distinct()
    sh.where(col("doc_id") >= 5)
      .join(broadcast(bench), "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= 3)
      .orderBy(col("doc_id"))
  }

  /** #90 — text normalization/cleaning: lowercase, strip
    * non-alphanumerics, collapse runs of spaces — the canonical
    * pre-tokenization cleanup pass of a pretraining pipeline. Narrow,
    * codegen'd, embarrassingly parallel; output keeps both the
    * per-document cleaned stats and a changed flag so the caller can
    * quantify how dirty the corpus was. */
  def textNormalizeClean(spark: SparkSession, sf: String): DataFrame = {
    val cleaned = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    documents(spark, sf)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("raw_len"),
        length(cleaned).cast("long").as("clean_len"),
        (length(col("text")) - length(cleaned)).cast("long").as("n_removed"),
        (cleaned =!= col("text")).as("changed"))
      .orderBy(col("doc_id"))
  }

  /** #89 — stratified deterministic sampling: down-sample the
    * over-represented stratum ('en' at 20%) and keep 60% of the rest
    * — the corpus-rebalancing step of a pretraining-data pipeline.
    * Sampling is by hashed doc_id ([[graft.api.Transforms.hashSample]]):
    * reproducible on any engine at any parallelism, stable under
    * appends. Output: per-(lang, source) sampled counts + char
    * volume. */
  def textSampleStratified(spark: SparkSession, sf: String): DataFrame = {
    // coalesce: a NULL lang must land in the "rest" stratum on BOTH
    // engines — Spark's otherwise() catches NULL conditions but SQL's
    // `lang <> 'en'` predicate silently drops NULL rows
    val keep = when(coalesce(col("lang"), lit("")) === "en",
        graft.api.Transforms.hashSample(col("doc_id"), "samp", 0.2))
      .otherwise(graft.api.Transforms.hashSample(col("doc_id"), "samp", 0.6))
    documents(spark, sf)
      .where(keep)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("sampled_chars"))
      .orderBy(col("lang"), col("source"))
  }

  /** #97 — deterministic fixed-size per-group sample: the 10
    * hash-smallest docs per language — "give me k inspection examples
    * per stratum" with reservoir-sample semantics but fully
    * reproducible (a 52-bit md5 point orders docs uniformly and
    * identically on any engine at any parallelism; same portable hash
    * family as [[graft.api.Transforms.hashSample]]).
    *
    * NOT a `Window.partitionBy(lang)` — 5 languages means 5 tasks
    * each sorting a fifth of the corpus at 100 TB. The bounded-heap
    * top-k ([[graft.api.Transforms.topKPerGroup]]) keeps state at
    * O(langs·10) with map-side partials instead. The hash point is
    * the first 13 hex chars of the md5 (52 bits — exactly
    * representable in the heap's Double score, and numeric order ==
    * string order on fixed-width lowercase hex, so the oracle sorts
    * by the substring directly); doc_id breaks ties identically on
    * both engines. The ≤ langs·10 picks broadcast back against
    * documents to recover n_chars. */
  def textSamplePerGroup(spark: SparkSession, sf: String): DataFrame = {
    val h = md5(concat(col("doc_id").cast("string"), lit("#grpsamp")))
    // negate: heap keeps top-k by score DESC = hash point ASC
    val score = -conv(substring(h, 1, 13), 16, 10).cast("double")
    val picked = graft.api.Transforms
      .topKPerGroup(documents(spark, sf), col("lang"), score, col("doc_id"), 10)
      .select(col("group").as("lang"), col("rnk").cast("int").as("rnk"),
              col("id").as("doc_id"))
    documents(spark, sf).select(col("doc_id"), col("n_chars"))
      .join(broadcast(picked), "doc_id")
      .select(col("lang"), col("rnk"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("rnk"))
  }

  // ---------------------------------------------------------------
  // #80 multimodal binary columns
  // ---------------------------------------------------------------

  /** #80 — multimodal binary columns with a REAL codec: each doc gets
    * a deterministic synthetic PNG (dimensions and pixel fill are
    * pure arithmetic in doc_id), carried as an opaque `binary` column
    * and decoded partition-wise by `javax.imageio` (JDK built-in; see
    * [[graft.multimodal.BinaryDecode]]). The graded output is decoded
    * metadata — width/height from the PNG header, channel count from
    * the color model, and a full R+G+B pixel checksum — which the SQL
    * oracle recomputes from the same arithmetic: a hash match proves
    * the encode→binary→decode round trip preserved every pixel.
    * Narrow map, no shuffle; decode parallelism = partition count. */
  def multimodalBinary(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val payloads = documents(spark, sf).select(col("doc_id")).as[Long]
      .map(id => (id, graft.multimodal.BinaryDecode.syntheticPng(id)))
    graft.multimodal.BinaryDecode.decode(spark, payloads).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("channels"),
              col("header_hex"), col("pix_sum"))
      .orderBy(col("doc_id"))
  }

  /** #143 — real 2× image downsample with metadata output (round 7):
    * each doc's synthetic PNG is decoded by `javax.imageio` and
    * block-average downsampled with EXACT integer arithmetic
    * ([[graft.multimodal.BinaryDecode.downsampleOne]]: per-channel
    * floor-average of each ≤2×2 block) — the thumbnail /
    * resolution-normalization step of a multimodal ingest, kept
    * integer so the SQL oracle can recompute the downsampled checksum
    * from the generator formula: the hash match proves decode AND
    * resample arithmetic end-to-end, not just the header. Same
    * posture as #80: narrow partition-wise map, no shuffle, decode
    * parallelism = partition count, only metadata rows flow on. */
  def multimodalResizeMeta(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val payloads = documents(spark, sf).select(col("doc_id")).as[Long]
      .map(id => (id, graft.multimodal.BinaryDecode.syntheticPng(id)))
    graft.multimodal.BinaryDecode.downsample(spark, payloads).toDF()
      .select(col("doc_id"), col("in_w"), col("in_h"),
              col("out_w"), col("out_h"), col("out_pix_sum"))
      .orderBy(col("doc_id"))
  }

  /** #167 — perceptual image dedup (round 10): each doc gets a REAL
    * 16×16 grayscale PNG ([[graft.multimodal.BinaryDecode.syntheticPhashPng]]
    * — consecutive groups of 4 doc_ids are near-dup variants differing
    * in one sampled pixel's brightness), decoded partition-wise by
    * `javax.imageio` into a 64-bit dHash (9×8 grid, horizontal
    * gradient bits — Krawetz's difference hash), then deduped with
    * exactly the #72 simhash shape lifted to images: 4 bands of 16
    * bits, candidates from the (band_id, band_val) equi-join, verified
    * by hamming ≤ 3. Variants differ in ≤ 2 bits (one sampled pixel
    * touches two gradient comparisons), so pigeonhole makes band
    * recall complete. md5-derived pixel values keep band buckets at
    * the ~n²/2^16 random-collision floor (a smooth-gradient fill
    * measured 9.1M candidates at the 10× stress scale vs 380k).
    * Scale: decode+hash is a narrow per-partition map (ids are
    * repartitioned first — the single-file-scan lesson from
    * dedup_minhash_near); only 8-byte hashes shuffle into the band
    * join. Oracle: recomputes the sampled pixels from the same md5
    * arithmetic (PNG is lossless), the hash with identical bit-63
    * packing, and the same band+hamming semantics. */
  def multimodalPhashDedup(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val ph = documents(spark, sf).select(col("doc_id"))
      .transform(graft.api.Transforms.fanOut(_, col("doc_id"))).as[Long]
      .map(id => (id, graft.multimodal.BinaryDecode.dhashOne(
        id, graft.multimodal.BinaryDecode.syntheticPhashPng(id))))
      .toDF("doc_id", "phash")
      // decode+hash is the dominant cost and BOTH sides of the band
      // self-join consume it — materialize the (id, hash) table once
      // (16 bytes/doc) instead of decoding every image twice (the
      // graph_pagerank localCheckpoint policy)
      .localCheckpoint()
    val bandVals = (0 until 4).map(j =>
      shiftright(col("phash"), 16 * j).bitwiseAND(lit(65535)).cast("int"))
    val bands = ph.select(col("doc_id"), col("phash"),
        posexplode(array(bandVals: _*)).as(Seq("band_id", "band_val")))
    val x = bands.toDF("d1", "p1", "band_id", "band_val")
    val y = bands.toDF("d2", "p2", "band_id2", "band_val2")
    x.join(y, col("band_id") === col("band_id2") &&
              col("band_val") === col("band_val2") &&
              col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("p1"), col("p2"))
      .distinct()
      .select(col("d1"), col("d2"),
              expr("bit_count(p1 ^ p2)").cast("int").as("hamming"))
      .where(col("hamming") <= 3)
      .orderBy(col("d1"), col("d2"))
  }

  /** #177 — video-shaped frame sampling (round 11): each doc gets a
    * REAL multi-frame GIF "clip" ([[graft.multimodal.BinaryDecode.syntheticGif]]:
    * (doc_id % 6) + 2 solid-color 8×4 frames, frame f's fill =
    * syntheticPixel(id, f, 0) — solid frames round-trip exactly
    * through GIF's 256-color palette), carried as an opaque `binary`
    * column and frame-sampled partition-wise by `javax.imageio`
    * (every 2nd frame — the stride decode a video feature extractor
    * runs; the reader seeks, unsampled frames are never rasterized).
    * Output is bounded per-frame metadata (pixel count + full RGB
    * checksum) the SQL oracle recomputes from the generator
    * arithmetic: a hash match proves container encode → binary →
    * frame-seek → decode preserved every sampled pixel. Scale: same
    * posture as #80/#167 — ids fan out first so encode/decode
    * parallelism is the partition count, the map is narrow (no
    * shuffle), per-payload memory is bounded by frames-per-clip, and
    * only few-dozen-byte metadata rows flow on. */
  def multimodalFrameSample(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val frames = documents(spark, sf).select(col("doc_id"))
      .transform(graft.api.Transforms.fanOut(_, col("doc_id"))).as[Long]
      .map(id => (id, graft.multimodal.BinaryDecode.syntheticGif(
        id, (id % 6 + 2).toInt)))
      .mapPartitions(graft.multimodal.BinaryDecode.frameSampleBatch(2))
    frames.toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_pixels"), col("pix_sum"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** #210 — shot-boundary detection over video-shaped clips (round
    * 12; the scene-cut pass every video-training pipeline runs before
    * clip sampling — PySceneDetect's "content detector" shape): the
    * #177 GIF clips are decoded frame-by-frame at the REAL
    * `javax.imageio` codec boundary (stride 1 — consecutive deltas
    * are the point) with PER-CHANNEL pixel sums (opposing channel
    * drifts cancel in a combined sum — the reason FrameChan exists),
    * then the boundary score between consecutive frames is the mean
    * absolute channel difference Σ_c |Δmean_c|, flagged a cut when
    * > 100. Exactness: solid synthetic frames make every channel sum
    * 32·c (c the generator's modular-arithmetic color), so scores are
    * exact dyadic doubles and the oracle replays the whole
    * decode→delta→flag chain from the closed form — a hash match
    * proves the container decode preserved every sampled channel.
    * Shape: id fan-out → narrow partition-wise decode → one per-doc
    * keyed window (lag over frame_idx — keyed by doc, never global);
    * only few-dozen-byte channel rows ever shuffle. */
  def multimodalShotBoundaries(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val frames = documents(spark, sf).select(col("doc_id"))
      .transform(graft.api.Transforms.fanOut(_, col("doc_id"))).as[Long]
      .map(id => (id, graft.multimodal.BinaryDecode.syntheticGif(
        id, (id % 6 + 2).toInt)))
      .mapPartitions(graft.multimodal.BinaryDecode.frameChannelsBatch)
      .toDF()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    def meanC(c: String): Column =
      col(c).cast("double") / col("n_pixels")
    val scored = frames
      .withColumn("score",
        abs(meanC("r_sum") - lag(meanC("r_sum"), 1).over(w)) +
        abs(meanC("g_sum") - lag(meanC("g_sum"), 1).over(w)) +
        abs(meanC("b_sum") - lag(meanC("b_sum"), 1).over(w)))
      .where(col("score").isNotNull)
    scored.select(col("doc_id"), col("frame_idx"), col("score"),
        (col("score") > 100.0).as("is_cut"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** #178 — audio binary columns with a REAL codec (round 11,
    * completing the brief's image/audio/video triple): each doc gets
    * a deterministic PCM16 mono 8 kHz WAV clip of (doc_id % 5 + 1)·100
    * samples whose values are pure modular arithmetic
    * ([[graft.multimodal.BinaryDecode.audioSample]]), carried as an
    * opaque `binary` column and decoded partition-wise by
    * `javax.sound.sampled` (the JDK's real audio stack — a malformed
    * container fails loudly). Output is per-clip typed metadata:
    * format fields from the parsed `AudioFormat` plus content
    * features (|sample| sum and peak) the SQL oracle recomputes from
    * the generator formula — a hash match proves the RIFF
    * encode → binary → codec-decode round trip preserved every PCM
    * word. Same posture as #80/#177: ids fan out first, the map is
    * narrow, only metadata rows flow on. */
  def multimodalAudioFeatures(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    documents(spark, sf).select(col("doc_id"))
      .transform(graft.api.Transforms.fanOut(_, col("doc_id"))).as[Long]
      .map(id => (id, graft.multimodal.BinaryDecode.syntheticWav(id)))
      .mapPartitions(graft.multimodal.BinaryDecode.decodeWavBatch)
      .toDF()
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
              col("sum_abs"), col("peak"))
      .orderBy(col("doc_id"))
  }

  /** #278 — energy-threshold voice-activity detection (round 16; the
    * first SEGMENTATION operator over the audio surface — #178 proved
    * the codec round trip with clip-level features, VAD is what a
    * speech-pretraining pipeline actually runs next: split each clip
    * into fixed 100-sample energy windows, mark a window active when
    * its |sample| sum exceeds the expected-mean threshold 100·16384,
    * and count contiguous active RUNS as speech segments): per clip —
    * window count, active-window count, segment count (a segment
    * starts at an active window whose predecessor is inactive: one
    * lag over the per-clip window sequence) and active sample volume.
    * The decode is REAL (`javax.sound.sampled`, the #178 path) but
    * folds PCM words into per-window integer state at the codec
    * boundary — per-sample rows never hit the shuffle; what flows on
    * is ≤⌈len/100⌉ rows per clip. The SQL oracle replays the generator
    * arithmetic per sample and re-derives the same windows, so a hash
    * match proves the encode → binary → codec-decode → window fold
    * preserved every PCM word AND the run-detection lag semantics.
    * Exactness: all-integer state; the threshold compare and the
    * lag/run logic have no floating point anywhere. At 100 TB:
    * identical posture to #178 (ids fan out, the map is narrow), the
    * run-detection window partitions by clip — bounded at ≤5 rows per
    * partition key here and ≤clip-length/window everywhere. */
  def multimodalAudioVad(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val wins = documents(spark, sf).select(col("doc_id"))
      .transform(graft.api.Transforms.fanOut(_, col("doc_id"))).as[Long]
      .map(id => (id, graft.multimodal.BinaryDecode.syntheticWav(id)))
      .mapPartitions(rows =>
        graft.multimodal.BinaryDecode.decodeWavWindowsBatch(rows, 100))
      .toDF()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("win_idx"))
    wins
      .withColumn("is_active", col("sum_abs") > lit(100L * 16384L))
      .withColumn("seg_start",
        col("is_active") && !lag(col("is_active"), 1, false).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_windows"),
           count_if(col("is_active")).cast("int").as("n_active"),
           count_if(col("seg_start")).cast("int").as("n_segments"),
           sum(when(col("is_active"), col("n_samples").cast("long"))
             .otherwise(lit(0L))).as("active_samples"))
      .orderBy(col("doc_id"))
  }

  /** #133 — symmetric int8 embedding quantization with reconstruction
    * error: per vector, scale = max|x|/127, q_i = round(x_i/scale),
    * and the relative L2 error of the dequantized vector — the
    * compression step a 100 TB embedding store runs before ANN (4×
    * smaller than float32, SIMD-friendly int8 dot products), with the
    * error column as the quality gate. All per-row HOF arithmetic
    * (transform/zip_with/aggregate sequential folds — no UDF, stays
    * in codegen), narrow until the output sort. Determinism: scale is
    * a single max+divide (exact), round() is half-away-from-zero in
    * both engines, and the 4-dp error rounding absorbs the summation
    * reassociation drift exactly as the established cosine oracles
    * do. Zero vectors (scale 0) are excluded — nothing to quantize. */
  def simQuantizeInt8(spark: SparkSession, sf: String): DataFrame = {
    val xd = transform(col("embedding"), v => v.cast("double"))
    val scale =
      array_max(transform(col("embedding"), v => abs(v.cast("double")))) / 127.0
    val xr = transform(col("__xd"), v => round(v / col("__scale")) * col("__scale"))
    val diff2 = aggregate(zip_with(col("__xd"), col("__xr"),
      (a, b) => (a - b) * (a - b)), lit(0.0), _ + _)
    val norm2 = aggregate(transform(col("__xd"), v => v * v), lit(0.0), _ + _)
    embeddings(spark, sf)
      .withColumn("__xd", xd)
      .withColumn("__scale", scale)
      .where(col("__scale") > 0)
      .withColumn("__xr", xr)
      .select(col("vec_id"), round(col("__scale"), 6).as("qscale"),
              round(sqrt(diff2 / norm2), 4).as("rel_err"))
      .orderBy(col("vec_id"))
  }

  /** #188 — hybrid retrieval via reciprocal-rank fusion (round 12;
    * Cormack et al. SIGIR'09 — THE standard dense+sparse fusion every
    * production search stack runs): for 8 hash-sampled query
    * documents, a DENSE arm (#62's scored-scan cosine kNN over the
    * aligned embeddings — the ANN output at 100 TB) and a SPARSE arm
    * (3-gram shingle overlap scored ONLY for documents sharing a
    * shingle with the query — an inverted-index-shaped equi-join on
    * the shingle value, the #60 candidate philosophy, never an
    * all-pairs text scan) each produce a top-10 ranking; the fused
    * score is Σ 1/(60+rank) over the lists that contain the document
    * (k=60, the published constant), 6dp-rounded before the final
    * per-query re-rank so both engines order identical doubles.
    * Output: top-5 fused results per query. Ranks come from the
    * bounded-heap top-k (ties to the smaller id, matching the
    * oracle's row_number order); fusion cost is O(queries · k) over
    * two bounded shortlists — corpus size appears only inside the
    * arms, where it is each arm's documented sublinear story. */
  def simHybridRrf(spark: SparkSession, sf: String): DataFrame = {
    val docs = documents(spark, sf)
    val q = docs
      .withColumn("h", md5(concat(col("doc_id").cast("string"), lit("#hq"))))
      .orderBy(col("h"), col("doc_id")).limit(8)
      .select(col("doc_id").as("q_id"))
    val emb = embeddings(spark, sf)
    val qEmb = emb.join(broadcast(q), col("vec_id") === col("q_id"))
      .select(col("q_id"), col("embedding"))
    val dense = graft.api.Transforms.knnTopK(qEmb, emb,
        col("q_id"), col("embedding"), col("vec_id"), col("embedding"), 10)
      .select(col("q_id"), col("i_id").as("doc_id"), col("rnk").as("rd"))
    // sparse arm: ONE corpus tokenization pass. Set sizes ride along
    // on the exploded postings (constant per doc, recovered by
    // any_value after the candidate groupBy), so the Jaccard
    // denominator needs no second corpus scan and no size-table join
    // — the first cut recomputed the shingle sets three times (qsh /
    // sizes / postings) and benched 5.3 s; this shape runs ~1.4 s.
    def shingleSets(src: org.apache.spark.sql.DataFrame) =
      src.withColumn("words", words)
        .where(size(col("words")) >= 3)
        .select(col("doc_id"), array_distinct(shingles(col("words"), 3)).as("sh"))
    // explode_OUTER, deliberately — the minhashSignaturesAgg lesson:
    // a plain explode triggers InferFiltersFromGenerate, whose
    // isnotnull/size>0 constraints re-inline the whole shingle HOF
    // tree below the join into the scan Filter (measured: 2.4 s for
    // the EIGHT-doc query side, 3x the corpus pass on the posting
    // side). The outer generate infers nothing; the size>=3 guard
    // already makes the arrays non-empty, so the rows are identical.
    val qsh = shingleSets(docs.join(broadcast(q), col("doc_id") === col("q_id")))
      .select(col("doc_id").as("q_id"), size(col("sh")).cast("long").as("nsh_q"),
              explode_outer(col("sh")).as("shingle"))
    val postings = shingleSets(docs)
      .select(col("doc_id"), size(col("sh")).cast("long").as("nsh_d"),
              explode_outer(col("sh")).as("shingle"))
    val inter = postings
      .join(broadcast(qsh), "shingle")
      .where(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("ninter"),
           any_value(col("nsh_q")).as("nsh_q"),
           any_value(col("nsh_d")).as("nsh_d"))
    val jac = inter
      .select(col("q_id"), col("doc_id"),
        round(col("ninter").cast("double") /
          (col("nsh_q") + col("nsh_d") - col("ninter")), 4).as("jac"))
    val sparse = topKPerGroup(jac, col("q_id"), col("jac"), col("doc_id"), 10)
      .select(col("group").as("q_id"), col("id").as("doc_id"), col("rnk").as("rs"))
    val fused = dense.join(sparse, Seq("q_id", "doc_id"), "full")
      .select(col("q_id"), col("doc_id"),
        fp6(coalesce(lit(1.0) / (lit(60) + col("rd")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rs")), lit(0.0))).as("rrf_score"))
    // final re-rank over ≤ 20 rows/query — post-shortlist metadata
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 5)
      .select(col("q_id"), col("rnk").cast("int").as("rnk"),
              col("doc_id"), col("rrf_score"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** #194 — ViT-style patch grid (round 12; the patchify every vision
    * transformer runs before embedding — Dosovitskiy et al. ICLR'21):
    * each doc's synthetic PNG is REALLY decoded (`javax.imageio` at
    * the codec boundary — the one legitimate `mapPartitions` site)
    * and cut into 4×4 patches; edge patches keep their true smaller
    * pixel count (no padding — every graded number describes real
    * pixels). Output per patch: position, pixel count, r+g+b sum, and
    * the mean channel value (exact-long / exact-long division,
    * rounded 4 dp). The oracle recomputes every patch from the
    * generator's modular arithmetic, so a hash match proves the
    * encode → binary → decode → patchify pipeline lost no pixel.
    * Scale: decode+patchify is a narrow per-partition map after the
    * id fan-out (the single-file-scan lesson); only few-dozen-byte
    * patch rows ever shuffle, and the aggregate is per-image local. */
  /** #243 — per-channel luminance histogram from REAL decode
    * (round 13; the exposure/color-cast screen of every image-corpus
    * QA pass — a channel histogram collapsed into a few exact bins is
    * how curation pipelines catch all-black/washed-out/tinted batches
    * before training): each synthetic PNG is decoded by javax.imageio
    * (the #80 codec boundary — the ONE legitimate per-partition map),
    * per-channel values land in four EXACT 64-wide buckets
    * (bucket = value >> 6, integer shift — no float boundary), and
    * the corpus aggregates to 12 (channel, bucket) rows with shares.
    * The oracle replays the deterministic pixel formula arithmetic
    * (#80's contract: Spark decodes real bytes, the oracle recomputes
    * what those bytes must contain). At 100 TB: decode parallelism =
    * partition count after the id fan-out; the shuffle carries
    * ≤ 12 rows per partition (partial counts). */
  def multimodalChannelHistogram(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val perDoc = documents(spark, sf).select(col("doc_id"))
      .transform(graft.api.Transforms.fanOut(_, col("doc_id"))).as[Long]
      .flatMap { id =>
        graft.multimodal.BinaryDecode
          .channelHistogramOne(id, graft.multimodal.BinaryDecode.syntheticPng(id))
      }
      .toDF("channel", "bucket", "n_px")
    val agg = perDoc.groupBy(col("channel"), col("bucket"))
      .agg(sum(col("n_px")).as("n_px"))
    val tot = agg.agg(sum(col("n_px")).as("n")) // 3 × total pixels
    agg.crossJoin(broadcast(tot))
      .select(col("channel"), col("bucket"), col("n_px"),
        round(col("n_px").cast("double") * 3 / col("n"), 6).as("share"))
      .orderBy(col("channel"), col("bucket"))
  }

  /** #283 — per-image gray-histogram entropy (round 16; the standard
    * image-quality/diversity screen a multimodal pretraining pipeline
    * runs beside the dedup hashes — near-zero entropy flags blank or
    * synthetic frames, the visual analogue of #121's token entropy):
    * REAL `javax.imageio` decode (the #80/#243 path) folded into a
    * 16-bucket integer gray histogram AT the codec boundary (gray =
    * (r+g+b)/3, bucket = gray>>4 — all-integer, no float bin edges),
    * then H = −Σ p·ln p per image. Determinism: only nonzero buckets
    * flow, each p·ln p term is 12dp-gridded to DECIMAL before the
    * ≤16-term fold (order-free exact sum — the #269 term-grid
    * policy), H displays 6dp. The oracle replays the generator
    * arithmetic per pixel, so a hash match proves the PNG
    * encode → binary → codec-decode → histogram fold preserved every
    * raster value. Shape: ids fan out, the decode map is narrow
    * (≤16 rows out per image), one keyed total + one keyed fold. */
  def multimodalImageEntropy(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val hist = documents(spark, sf).select(col("doc_id"))
      .transform(graft.api.Transforms.fanOut(_, col("doc_id"))).as[Long]
      .flatMap { id =>
        graft.multimodal.BinaryDecode
          .grayHistogramOne(id, graft.multimodal.BinaryDecode.syntheticPng(id))
          .map { case (b, n) => (id, b, n) }
      }
      .toDF("doc_id", "bucket", "n_px")
    val tot = hist.groupBy(col("doc_id")).agg(sum(col("n_px")).as("n"))
    val p = col("n_px").cast("double") / col("n").cast("double")
    hist.join(tot, "doc_id")
      .select(col("doc_id"), col("n"),
        round(p * log(p), 12).cast("decimal(18,12)").as("term"))
      .groupBy(col("doc_id"))
      .agg(first(col("n")).as("n_px"),
           count(lit(1)).cast("int").as("n_buckets"),
           round(-sum(col("term")).cast("double") + lit(0.0), 6).as("entropy"))
      .orderBy(col("doc_id"))
  }

  def multimodalPatchGrid(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    documents(spark, sf).select(col("doc_id"))
      .transform(graft.api.Transforms.fanOut(_, col("doc_id"))).as[Long]
      .flatMap { id =>
        graft.multimodal.BinaryDecode
          .patchesOne(id, graft.multimodal.BinaryDecode.syntheticPng(id), 4)
          .map { case (r, c, n, s) => (id, r, c, n, s) }
      }
      .toDF("doc_id", "patch_row", "patch_col", "n_pix", "rgb_sum")
      .select(col("doc_id"), col("patch_row"), col("patch_col"),
        col("n_pix"), col("rgb_sum"),
        round(col("rgb_sum").cast("double") / (col("n_pix") * 3), 4)
          .as("mean_val"))
      .orderBy(col("doc_id"), col("patch_row"), col("patch_col"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "text_simhash"             -> (textSimhash _),
    "dedup_simhash_band"       -> (dedupSimhashBand _),
    "dedup_cluster_components" -> (dedupClusterComponents _),
    "sim_jaccard_ngram"        -> (simJaccardNgram _),
    "dedup_embedding_cosine"   -> (dedupEmbeddingCosine _),
    "text_language_id"         -> (textLanguageId _),
    "text_quality_score"       -> (textQualityScore _),
    "text_token_bpe"           -> (textTokenBpe _),
    "text_fingerprint_rolling" -> (textFingerprintRolling _),
    "sim_ann_ivf"              -> (simAnnIvf _),
    "text_sample_stratified"   -> (textSampleStratified _),
    "text_normalize_clean"     -> (textNormalizeClean _),
    "text_pii_redact"          -> (textPiiRedact _),
    "text_contamination_check" -> (textContaminationCheck _),
    "text_pack_sequences"      -> (textPackSequences _),
    "text_sample_per_group"    -> (textSamplePerGroup _),
    "multimodal_binary"        -> (multimodalBinary _),
    "multimodal_resize_meta"   -> (multimodalResizeMeta _),
    "multimodal_phash_dedup"   -> (multimodalPhashDedup _),
    "multimodal_frame_sample"  -> (multimodalFrameSample _),
    "multimodal_shot_boundaries" -> (multimodalShotBoundaries _),
    "multimodal_audio_features" -> (multimodalAudioFeatures _),
    "sim_quantize_int8"        -> (simQuantizeInt8 _),
    "sim_hybrid_rrf"           -> (simHybridRrf _),
    "multimodal_patch_grid"    -> (multimodalPatchGrid _),
    "multimodal_channel_histogram" -> (multimodalChannelHistogram _),
    "multimodal_audio_vad" -> (multimodalAudioVad _),
    "multimodal_image_entropy" -> (multimodalImageEntropy _),
    "text_pii_scan" -> (textPiiScan _),
  )

  /** DuckDB fragment: simhash → 16-bit bands → band-sharing candidate
    * pairs `cand(d1, d2, s1, s2)`, d1 < d2 (#90's banding). */
  private val simhashCandSql: String =
    s"""$simhashSqlCte,
       |bands AS (
       |  SELECT doc_id, simhash, j AS band_id,
       |    CAST((simhash >> (16 * CAST(j AS INT))) & 65535 AS INT) AS band_val
       |  FROM sim, (SELECT unnest(range(0, 4)) AS j)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
       |         x.simhash AS s1, y.simhash AS s2
       |  FROM bands x JOIN bands y
       |    ON x.band_id = y.band_id AND x.band_val = y.band_val
       |   AND x.doc_id < y.doc_id)""".stripMargin

  /** DuckDB fragment: simhash → bands → verified pairs → recursive
    * transitive closure → `comp(node, component)`. Shared by #91's
    * oracle and #114 dedup_keep_best (CorpusOps). */
  private[ops] val componentsSqlCte: String =
    simhashCandSql + """,
       |e AS (SELECT d1, d2 FROM cand WHERE bit_count(xor(s1, s2)) <= 3),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM e
       |          UNION ALL SELECT d2, d1 FROM e),
       |walk AS (
       |  SELECT DISTINCT src AS node, src AS label FROM edges
       |  UNION
       |  SELECT e2.dst, w.label FROM walk w JOIN edges e2 ON e2.src = w.node),
       |comp AS (SELECT node, min(label) AS component FROM walk GROUP BY node)""".stripMargin

  // NOTE: single-line concat — a continuation line starting with ||
  // would be eaten by the enclosing stripMargin when interpolated.
  // private[ops]: #113 dedup_bloom_prefilter (CorpusOps) reuses it.
  private[ops] val shingleSetsCte =
    """t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM t),
      |sh AS (SELECT doc_id, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2] AS shingle FROM s),
      |sets AS (SELECT DISTINCT doc_id, shingle FROM sh)""".stripMargin

  /** The synthetic-image generator's twin: each document's image size
    * `d` (doc_id, width, height), over the documents `where` keeps. */
  private def pixelDimsSql(where: String): String =
    s"""WITH d AS (
      |  SELECT doc_id,
      |         CAST(1 + doc_id % 16 AS INT) AS width,
      |         CAST(1 + (doc_id // 16) % 16 AS INT) AS height
      |  FROM documents$where)""".stripMargin

  /** [[pixelDimsSql]] for every document plus its pixel coordinates
    * `c` (doc_id, x, y) — the base of the image-statistic oracles. */
  private val pixelGridSql: String = pixelDimsSql("") + """,
      |px AS (
      |  SELECT doc_id, width, unnest(range(0, width * height)) AS i
      |  FROM d),
      |c AS (SELECT doc_id, i % width AS x, i // width AS y FROM px)""".stripMargin

  /** Oracle of the PNG decoders: per document (restricted by `where`)
    * its size, the output columns `cols`, and `pix_sum`, the sum of all
    * three channels over every pixel. */
  private[ops] def pixelSumSql(where: String, cols: String): String =
    pixelDimsSql(where) + s""",
      |px AS (
      |  SELECT doc_id, width, height,
      |         unnest(range(0, width * height)) AS i
      |  FROM d),
      |c AS (
      |  SELECT doc_id, width, height, i % width AS x, i // width AS y
      |  FROM px)
      |SELECT doc_id, width, height,$cols
      |       CAST(SUM((doc_id * 31 + x * 7 + y * 13) % 256
      |              + (doc_id * 17 + x * 5 + y * 11) % 256
      |              + (doc_id * 13 + x * 3 + y * 19) % 256) AS BIGINT)
      |         AS pix_sum
      |FROM c GROUP BY doc_id, width, height
      |ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = ListMap(
    "text_simhash" ->
      s"""WITH $simhashSqlCte
         |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin,
    "dedup_simhash_band" ->
      ("WITH " + simhashCandSql + """
         |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(s1, s2)) <= 3
         |ORDER BY d1, d2""".stripMargin),
    "dedup_cluster_components" ->
      s"""WITH RECURSIVE $componentsSqlCte
         |SELECT node AS doc_id, component, node = component AS is_canonical
         |FROM comp ORDER BY doc_id""".stripMargin,
    "sim_jaccard_ngram" ->
      s"""WITH $shingleSetsCte,
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM sets GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS d1, count(*) AS ninter
         |  FROM sets a JOIN sets b
         |    ON b.doc_id = a.doc_id + 1 AND a.shingle = b.shingle
         |  GROUP BY a.doc_id)
         |SELECT s1.doc_id AS d1, s2.doc_id AS d2,
         |  round(CAST(coalesce(i.ninter, 0) AS DOUBLE)
         |    / (s1.nsh + s2.nsh - coalesce(i.ninter, 0)), 4) AS jaccard
         |FROM sizes s1
         |JOIN sizes s2 ON s2.doc_id = s1.doc_id + 1
         |LEFT JOIN inter i ON i.d1 = s1.doc_id
         |ORDER BY d1""".stripMargin,
    "dedup_embedding_cosine" ->
      """WITH aug AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |    list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE) + 0.01 AS FLOAT))
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |p AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2,
        |    CAST(unnest(a.embedding) AS DOUBLE) AS xa,
        |    CAST(unnest(b.embedding) AS DOUBLE) AS xb
        |  FROM aug a JOIN aug b ON a.vec_id < b.vec_id),
        |c AS (
        |  SELECT d1, d2,
        |    round(sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb))), 4)
        |      AS cos_sim
        |  FROM p GROUP BY d1, d2)
        |SELECT d1, d2, cos_sim FROM c WHERE cos_sim >= 0.99
        |ORDER BY d1, d2""".stripMargin,
    "text_language_id" ->
      """WITH g AS (
        |  SELECT doc_id, lang, substring(text, CAST(i AS INT), 3) AS g
        |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) - 1)) AS i)),
        |prof AS (
        |  SELECT lang AS cand_lang, g FROM (
        |    SELECT lang, g, count(*) AS n,
        |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g) AS rn
        |    FROM g GROUP BY lang, g)
        |  WHERE rn <= 20),
        |dg AS (SELECT DISTINCT doc_id, lang, g FROM g),
        |scores AS (
        |  SELECT dg.doc_id, dg.lang, prof.cand_lang, count(*) AS score
        |  FROM dg JOIN prof ON dg.g = prof.g
        |  GROUP BY dg.doc_id, dg.lang, prof.cand_lang),
        |pred AS (
        |  SELECT doc_id, lang, cand_lang,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, cand_lang) AS rn
        |  FROM scores)
        |SELECT lang AS true_lang, cand_lang AS pred_lang, count(*) AS n_docs
        |FROM pred WHERE rn = 1
        |GROUP BY lang, cand_lang ORDER BY true_lang, pred_lang""".stripMargin,
    "text_quality_score" ->
      """SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |    / len(string_split(text, ' ')), 4) AS avg_word_len,
        |  round(CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('a', 'the'))) AS DOUBLE)
        |    / len(string_split(text, ' ')), 4) AS stopword_ratio,
        |  list_contains(string_split(text, ' '), 'dup') AS has_dup_marker,
        |  round(1.0 - 0.5 * (CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('a', 'the'))) AS DOUBLE)
        |    / len(string_split(text, ' ')))
        |    - CASE WHEN list_contains(string_split(text, ' '), 'dup')
        |           THEN 0.2 ELSE 0.0 END, 4) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_token_bpe" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS regex_tokens,
        |  CAST(sum(list_sum(list_transform(string_split(text, ' '),
        |      w -> CAST(ceil(length(w) / 4.0) AS BIGINT)))) AS BIGINT) AS subword_est
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_fingerprint_rolling" ->
      """WITH g AS (
        |  SELECT doc_id, substring(text, CAST(i AS INT), 8) AS g
        |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) - 6)) AS i))
        |SELECT doc_id,
        |  min(md5(g || '#0')) AS fp0,
        |  min(md5(g || '#1')) AS fp1,
        |  count(*) AS n_grams
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "sim_ann_ivf" ->
      s"""WITH v AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
        |    CAST(unnest(embedding) AS DOUBLE) AS e
        |  FROM embeddings),
        |${VecOps.ivfAssignSql("", "d")},
        |probe AS (SELECT vec_id, cl AS bucket FROM assignr WHERE rn <= 2),
        |pairs AS (
        |  SELECT av.vec_id AS a_id, bv.vec_id AS b_id,
        |    CAST(unnest(a.embedding) AS DOUBLE) AS xa,
        |    CAST(unnest(b.embedding) AS DOUBLE) AS xb
        |  FROM probe av JOIN assign bv
        |    ON av.bucket = bv.bucket AND av.vec_id <> bv.vec_id
        |  JOIN embeddings a ON a.vec_id = av.vec_id
        |  JOIN embeddings b ON b.vec_id = bv.vec_id),
        |pd AS (SELECT a_id, b_id, sum(xa * xb) AS dp FROM pairs GROUP BY a_id, b_id),
        |scored AS (
        |  SELECT pd.a_id, pd.b_id,
        |    round(pd.dp / (na.vnrm * nb.vnrm), 4) AS cos_sim
        |  FROM pd JOIN vn na ON na.vec_id = pd.a_id
        |          JOIN vn nb ON nb.vec_id = pd.b_id),
        |ranked AS (
        |  SELECT a_id, b_id, cos_sim,
        |    row_number() OVER (PARTITION BY a_id
        |                       ORDER BY cos_sim DESC, b_id) AS rnk
        |  FROM scored)
        |SELECT a_id, CAST(rnk AS INT) AS rnk, b_id, cos_sim FROM ranked
        |WHERE rnk <= 3 ORDER BY a_id, rnk""".stripMargin,
    "text_sample_stratified" ->
      """SELECT lang, source, count(*) AS n_sampled,
        |  CAST(sum(n_chars) AS BIGINT) AS sampled_chars
        |FROM (
        |  SELECT lang, source, n_chars,
        |    substr(md5(CAST(doc_id AS VARCHAR) || '#samp'), 1, 4) AS h
        |  FROM documents)
        |WHERE (coalesce(lang, '') = 'en' AND h < '3333')
        |   OR (coalesce(lang, '') <> 'en' AND h < '999a')
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "text_pack_sequences" ->
      """WITH w AS (
        |  SELECT doc_id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tok,
        |    coalesce(sum(CAST(ceil(n_chars / 4.0) AS BIGINT))
        |      OVER (ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS tok_before
        |  FROM documents)
        |SELECT CAST(floor(tok_before / 2048) AS BIGINT) AS seq_id,
        |  count(*) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS est_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM w GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    "text_pii_scan" ->
      """WITH h AS (
        |  SELECT source,
        |    len(regexp_extract_all(text, '[a-z0-9]+@[a-z0-9]+')) AS ne,
        |    len(regexp_extract_all(text, '[0-9][0-9][0-9]+')) AS nn
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ne) AS BIGINT) AS n_emails,
        |  CAST(sum(nn) AS BIGINT) AS n_longnums,
        |  CAST(count(*) FILTER (WHERE ne + nn > 0) AS BIGINT)
        |    AS n_docs_with_pii,
        |  round(CAST(count(*) FILTER (WHERE ne + nn > 0) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS pii_doc_rate
        |FROM h GROUP BY source ORDER BY source""".stripMargin,
    "text_pii_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z0-9]+')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9][0-9][0-9]+')) AS BIGINT)
        |    AS n_longnums,
        |  CAST(length(regexp_replace(regexp_replace(text,
        |    '[a-z0-9]+@[a-z0-9]+', '<email>', 'g'),
        |    '[0-9][0-9][0-9]+', '<num>', 'g')) AS BIGINT) AS redacted_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_contamination_check" ->
      s"""WITH $shingleSetsCte,
         |bench AS (SELECT DISTINCT shingle FROM sets WHERE doc_id < 5)
         |SELECT s.doc_id, count(*) AS n_overlap,
         |  count(*) >= 3 AS contaminated
         |FROM sets s JOIN bench b ON s.shingle = b.shingle
         |WHERE s.doc_id >= 5
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "text_normalize_clean" ->
      """SELECT doc_id,
        |  length(text) AS raw_len,
        |  length(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS clean_len,
        |  length(text) - length(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS n_removed,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) <> text AS changed
        |FROM documents ORDER BY doc_id""".stripMargin,
    // recomputes the decoded-pixel checksum from the same arithmetic
    // the PNG generator uses ('89504E47' = the PNG magic the real
    // payload must start with); matching pix_sum proves the Spark
    // side decoded real pixels, not header fields
    "multimodal_image_entropy" -> (pixelGridSql + """,
        |g AS (
        |  SELECT doc_id,
        |    CAST((((doc_id * 31 + x * 7 + y * 13) % 256
        |         + (doc_id * 17 + x * 5 + y * 11) % 256
        |         + (doc_id * 13 + x * 3 + y * 19) % 256) // 3) // 16 AS INT)
        |      AS bucket
        |  FROM c),
        |h AS (
        |  SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n_px
        |  FROM g GROUP BY doc_id, bucket),
        |t AS (SELECT doc_id, sum(n_px) AS n FROM h GROUP BY doc_id),
        |terms AS (
        |  SELECT h.doc_id, t.n,
        |    CAST(round(
        |      (CAST(n_px AS DOUBLE) / CAST(n AS DOUBLE))
        |        * ln(CAST(n_px AS DOUBLE) / CAST(n AS DOUBLE)), 12)
        |      AS DECIMAL(18,12)) AS term
        |  FROM h JOIN t ON h.doc_id = t.doc_id)
        |SELECT doc_id, CAST(min(n) AS BIGINT) AS n_px,
        |  CAST(count(*) AS INT) AS n_buckets,
        |  round(-CAST(sum(term) AS DOUBLE) + 0.0, 6) AS entropy
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "multimodal_audio_vad" ->
      """WITH d AS (
        |  SELECT doc_id, (doc_id % 5 + 1) * 100 AS n FROM documents),
        |sa AS (
        |  SELECT doc_id, unnest(range(0, n)) AS s FROM d),
        |v AS (
        |  SELECT doc_id, CAST(s // 100 AS INT) AS win_idx,
        |    abs((doc_id * 37 + s * 11) % 65536 - 32768) AS a
        |  FROM sa),
        |wdw AS (
        |  SELECT doc_id, win_idx, count(*) AS ns, sum(a) AS sum_abs
        |  FROM v GROUP BY doc_id, win_idx),
        |act AS (
        |  SELECT doc_id, win_idx, ns, sum_abs > 1638400 AS is_active
        |  FROM wdw),
        |seg AS (
        |  SELECT doc_id, ns, is_active,
        |    is_active AND NOT coalesce(
        |      lag(is_active) OVER (PARTITION BY doc_id ORDER BY win_idx),
        |      false) AS seg_start
        |  FROM act)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_windows,
        |  CAST(count(*) FILTER (WHERE is_active) AS INT) AS n_active,
        |  CAST(count(*) FILTER (WHERE seg_start) AS INT) AS n_segments,
        |  CAST(sum(CASE WHEN is_active THEN ns ELSE 0 END) AS BIGINT)
        |    AS active_samples
        |FROM seg GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "multimodal_channel_histogram" -> (pixelGridSql + """,
        |v AS (
        |  SELECT 0 AS channel,
        |    CAST((doc_id * 31 + x * 7 + y * 13) % 256 AS BIGINT) AS val
        |  FROM c
        |  UNION ALL
        |  SELECT 1, CAST((doc_id * 17 + x * 5 + y * 11) % 256 AS BIGINT)
        |  FROM c
        |  UNION ALL
        |  SELECT 2, CAST((doc_id * 13 + x * 3 + y * 19) % 256 AS BIGINT)
        |  FROM c),
        |g AS (
        |  SELECT channel, CAST(val // 64 AS INT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_px
        |  FROM v GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_px) AS BIGINT) AS n FROM g)
        |SELECT channel, bucket, n_px,
        |  round(CAST(n_px AS DOUBLE) * 3 / n, 6) AS share
        |FROM g CROSS JOIN t ORDER BY channel, bucket""".stripMargin),
    "multimodal_binary" -> pixelSumSql("", """ 3 AS channels,
        |       '89504E47' AS header_hex,""".stripMargin),
    "multimodal_audio_features" ->
      """WITH d AS (
        |  SELECT doc_id, (doc_id % 5 + 1) * 100 AS n FROM documents),
        |sa AS (
        |  SELECT doc_id, n, unnest(range(0, n)) AS s FROM d),
        |v AS (
        |  SELECT doc_id, n,
        |    abs((doc_id * 37 + s * 11) % 65536 - 32768) AS a
        |  FROM sa)
        |SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(n AS INT) AS n_samples,
        |  CAST(sum(a) AS BIGINT) AS sum_abs, CAST(max(a) AS INT) AS peak
        |FROM v GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,
    "multimodal_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, doc_id % 6 + 2 AS nf FROM documents),
        |fr AS (
        |  SELECT doc_id, CAST(unnest(range(0, nf, 2)) AS INT) AS frame_idx
        |  FROM f)
        |SELECT doc_id, frame_idx, CAST(32 AS INT) AS n_pixels,
        |  CAST(32 * ((doc_id * 31 + frame_idx * 7) % 256
        |           + (doc_id * 17 + frame_idx * 5) % 256
        |           + (doc_id * 13 + frame_idx * 3) % 256) AS BIGINT)
        |    AS pix_sum
        |FROM fr ORDER BY doc_id, frame_idx""".stripMargin,
    "multimodal_shot_boundaries" ->
      """WITH fr AS (
        |  SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |    (doc_id * 31 + fi * 7) % 256 AS r,
        |    (doc_id * 17 + fi * 5) % 256 AS g,
        |    (doc_id * 13 + fi * 3) % 256 AS b
        |  FROM documents,
        |    LATERAL (SELECT unnest(range(0, doc_id % 6 + 2)) AS fi) x),
        |d AS (
        |  SELECT doc_id, frame_idx,
        |    CAST(abs(r - lag(r) OVER w) + abs(g - lag(g) OVER w)
        |       + abs(b - lag(b) OVER w) AS DOUBLE) AS score
        |  FROM fr
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx))
        |SELECT doc_id, frame_idx, score, score > 100.0 AS is_cut
        |FROM d WHERE score IS NOT NULL
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "multimodal_resize_meta" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(1 + doc_id % 16 AS INT) AS in_w,
        |         CAST(1 + (doc_id // 16) % 16 AS INT) AS in_h
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, in_w, in_h,
        |         CAST((in_w + 1) // 2 AS INT) AS out_w,
        |         CAST((in_h + 1) // 2 AS INT) AS out_h
        |  FROM d),
        |opx AS (
        |  SELECT doc_id, in_w, in_h, out_w, out_h,
        |         CAST(i % out_w AS INT) AS xx, CAST(i // out_w AS INT) AS yy
        |  FROM (SELECT *, unnest(range(0, out_w * out_h)) AS i FROM o)),
        |blk AS (
        |  SELECT doc_id, xx, yy, CAST(x AS INT) AS x, CAST(y AS INT) AS y
        |  FROM opx,
        |    LATERAL (SELECT unnest(range(2 * xx, least(2 * xx + 2, in_w))) AS x),
        |    LATERAL (SELECT unnest(range(2 * yy, least(2 * yy + 2, in_h))) AS y)),
        |bs AS (
        |  SELECT doc_id, xx, yy, count(*) AS bn,
        |    sum((doc_id * 31 + x * 7 + y * 13) % 256) AS rs,
        |    sum((doc_id * 17 + x * 5 + y * 11) % 256) AS gs,
        |    sum((doc_id * 13 + x * 3 + y * 19) % 256) AS bsm
        |  FROM blk GROUP BY doc_id, xx, yy),
        |ps AS (
        |  SELECT doc_id,
        |    CAST(sum(rs // bn + gs // bn + bsm // bn) AS BIGINT) AS out_pix_sum
        |  FROM bs GROUP BY doc_id)
        |SELECT o.doc_id, o.in_w, o.in_h, o.out_w, o.out_h, ps.out_pix_sum
        |FROM o JOIN ps ON ps.doc_id = o.doc_id
        |ORDER BY o.doc_id""".stripMargin,
    // recomputes the decoded dHash from the md5-pixel arithmetic
    // (PNG round trip is lossless, r=g=b so single-channel
    // comparisons equal the Spark side's gray-sum comparisons),
    // packs bit 63 as BIGINT minimum exactly like the simhash
    // oracle, and replays the same 4×16-bit band + hamming ≤ 3
    // semantics
    "multimodal_phash_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents),
        |grid AS (
        |  SELECT CAST(gx AS INT) AS gx, CAST(gy AS INT) AS gy,
        |         CAST((gx * 16) // 9 AS INT) AS x, CAST(gy * 2 AS INT) AS y
        |  FROM (SELECT unnest(range(0, 9)) AS gx),
        |       (SELECT unnest(range(0, 8)) AS gy)),
        |samp AS (
        |  SELECT d.doc_id, gr.gx, gr.gy,
        |    (strpos('0123456789abcdef',
        |       substr(md5(d.g || ':' || gr.x || ':' || gr.y), 1, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef',
        |       substr(md5(d.g || ':' || gr.x || ':' || gr.y), 2, 1)) - 1) AS p0,
        |    d.v, gr.x, gr.y
        |  FROM docs d, grid gr),
        |pv AS (
        |  SELECT doc_id, gx, gy,
        |    CASE WHEN x = 7 AND y = 6 THEN (p0 + v * 97) % 256 ELSE p0 END AS p
        |  FROM samp),
        |bits AS (
        |  SELECT a.doc_id, a.gy * 8 + a.gx AS i,
        |         CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
        |  FROM pv a JOIN pv b ON b.doc_id = a.doc_id AND b.gy = a.gy
        |                     AND b.gx = a.gx + 1
        |  WHERE a.gx < 8),
        |ph AS (
        |  SELECT doc_id, CAST(SUM(CASE WHEN bit = 0 THEN 0
        |    WHEN i = 63 THEN (-9223372036854775807 - 1)
        |    ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END) AS BIGINT) AS phash
        |  FROM bits GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, phash, j AS band_id,
        |    CAST((phash >> (16 * CAST(j AS INT))) & 65535 AS INT) AS band_val
        |  FROM ph, (SELECT unnest(range(0, 4)) AS j)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
        |         x.phash AS p1, y.phash AS p2
        |  FROM bands x JOIN bands y
        |    ON x.band_id = y.band_id AND x.band_val = y.band_val
        |   AND x.doc_id < y.doc_id)
        |SELECT d1, d2, CAST(bit_count(xor(p1, p2)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(p1, p2)) <= 3
        |ORDER BY d1, d2""".stripMargin,
    "text_sample_per_group" ->
      """SELECT lang, CAST(rnk AS INT) AS rnk, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || '#grpsamp'), 1, 13),
        |               doc_id) AS rnk
        |  FROM documents)
        |WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin,
    "sim_quantize_int8" ->
      """WITH u AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |s AS (SELECT vec_id, max(abs(x)) / 127 AS scale
        |      FROM u GROUP BY vec_id),
        |e AS (
        |  SELECT u.vec_id, s.scale, x,
        |    round(x / s.scale) * s.scale AS xr
        |  FROM u JOIN s ON u.vec_id = s.vec_id
        |  WHERE s.scale > 0)
        |SELECT vec_id, round(any_value(scale), 6) AS qscale,
        |  round(sqrt(sum((x - xr) * (x - xr)) / sum(x * x)), 4) AS rel_err
        |FROM e GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "sim_hybrid_rrf" ->
      s"""WITH $shingleSetsCte,
         |q AS (
         |  SELECT doc_id AS q_id FROM documents
         |  ORDER BY md5(CAST(doc_id AS VARCHAR) || '#hq'), doc_id LIMIT 8),
         |u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
         |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM u GROUP BY vec_id),
         |p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    CAST(unnest(a.embedding) AS DOUBLE) AS xa,
         |    CAST(unnest(b.embedding) AS DOUBLE) AS xb
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id IN (SELECT q_id FROM q)),
         |dd AS (SELECT a_id, b_id, sum(xa * xb) AS dp FROM p GROUP BY a_id, b_id),
         |c AS (
         |  SELECT dd.a_id, dd.b_id, round(dd.dp / (na.nrm * nb.nrm), 4) AS cos_sim
         |  FROM dd JOIN n na ON na.vec_id = dd.a_id
         |          JOIN n nb ON nb.vec_id = dd.b_id),
         |dr AS (
         |  SELECT a_id AS q_id, b_id AS doc_id,
         |    row_number() OVER (PARTITION BY a_id
         |                       ORDER BY cos_sim DESC, b_id) AS rd
         |  FROM c),
         |qs AS (
         |  SELECT doc_id AS q_id, shingle FROM sets
         |  WHERE doc_id IN (SELECT q_id FROM q)),
         |sz AS (SELECT doc_id, count(*) AS nsh FROM sets GROUP BY doc_id),
         |it AS (
         |  SELECT qs.q_id, s.doc_id, count(*) AS ninter
         |  FROM qs JOIN sets s ON s.shingle = qs.shingle AND s.doc_id <> qs.q_id
         |  GROUP BY qs.q_id, s.doc_id),
         |ja AS (
         |  SELECT it.q_id, it.doc_id,
         |    round(CAST(ninter AS DOUBLE) / (za.nsh + zb.nsh - ninter), 4) AS jac
         |  FROM it JOIN sz za ON za.doc_id = it.q_id
         |          JOIN sz zb ON zb.doc_id = it.doc_id),
         |sr AS (
         |  SELECT q_id, doc_id,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY jac DESC, doc_id) AS rs
         |  FROM ja),
         |f AS (
         |  SELECT coalesce(dr.q_id, sr.q_id) AS q_id,
         |    coalesce(dr.doc_id, sr.doc_id) AS doc_id,
         |    floor((coalesce(CAST(1 AS DOUBLE) / (60 + dr.rd), 0)
         |         + coalesce(CAST(1 AS DOUBLE) / (60 + sr.rs), 0)) * 1000000
         |          + 0.5) / 1000000.0 AS rrf_score
         |  FROM (SELECT * FROM dr WHERE rd <= 10) dr
         |  FULL JOIN (SELECT * FROM sr WHERE rs <= 10) sr
         |    ON dr.q_id = sr.q_id AND dr.doc_id = sr.doc_id),
         |r AS (
         |  SELECT q_id, doc_id, rrf_score,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY rrf_score DESC, doc_id) AS rnk
         |  FROM f)
         |SELECT q_id, CAST(rnk AS INT) AS rnk, doc_id, rrf_score
         |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "multimodal_patch_grid" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(1 + doc_id % 16 AS BIGINT) AS w,
        |         CAST(1 + (doc_id // 16) % 16 AS BIGINT) AS h
        |  FROM documents),
        |pix AS (
        |  SELECT doc_id, x.x, y.y FROM g,
        |    LATERAL (SELECT unnest(range(0, w)) AS x) x,
        |    LATERAL (SELECT unnest(range(0, h)) AS y) y),
        |v AS (
        |  SELECT doc_id, CAST(y // 4 AS INT) AS patch_row,
        |         CAST(x // 4 AS INT) AS patch_col,
        |    ((doc_id * 31 + x * 7 + y * 13) % 256)
        |    + ((doc_id * 17 + x * 5 + y * 11) % 256)
        |    + ((doc_id * 13 + x * 3 + y * 19) % 256) AS s
        |  FROM pix)
        |SELECT doc_id, patch_row, patch_col,
        |  CAST(count(*) AS BIGINT) AS n_pix,
        |  CAST(sum(s) AS BIGINT) AS rgb_sum,
        |  round(CAST(sum(s) AS DOUBLE) / (count(*) * 3), 4) AS mean_val
        |FROM v GROUP BY doc_id, patch_row, patch_col
        |ORDER BY doc_id, patch_row, patch_col""".stripMargin,
  )
}
