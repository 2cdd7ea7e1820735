package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.collection.immutable.ListMap
import graft.Tables._

/** SURVEY §2.L round-6 additions (#112–#114): corpus-hygiene
  * operators a pretraining-data pipeline runs between ingestion and
  * packing — repetition-based quality filtering (the Gopher rules),
  * bloom-prefiltered benchmark contamination at shuffle-join scale,
  * and near-dup clustering that keeps the BEST document rather than
  * the smallest id.
  *
  * Scale posture: #112 is two keyed aggregations (doc_id, gram) →
  * doc_id, embarrassingly parallel; #113 prunes the 100 TB side with
  * a kilobyte bloom literal BEFORE any exchange, so the exact
  * residual join shuffles only near-hits; #114 rides the banded
  * simhash candidates + pointer-jumping connected components that
  * #72/#91 already proved, adding one broadcast-joined quality column
  * and a partial-able max_by.
  */
object CorpusOps {

  // ---------------------------------------------------------------
  // #112 repetition filter (Gopher-style)
  // ---------------------------------------------------------------

  /** #112 — repetition-based quality signals, the Rae et al. (Gopher,
    * 2021) duplicate-text heuristics: per document, the fraction of
    * bigram slots taken by the single most frequent bigram, and the
    * fraction of 5-gram slots whose 5-gram occurs more than once;
    * docs exceeding either threshold are flagged repetitive. Two
    * (doc_id, gram)-keyed counts reduced per doc — no windows, both
    * aggregations partial-able, state O(distinct grams per doc).
    * The flag compares the UNROUNDED ratio (an exact-integer division,
    * bit-identical cross-engine); displayed ratios are rounded 4 dp. */
  def textRepetitionFilter(spark: SparkSession, sf: String): DataFrame = {
    // repartition raw docs by id pre-fan-out (the dedup_minhash_near
    // lesson: a single-file scan otherwise runs both shingle
    // explosions single-threaded); explode_OUTER so the generate
    // infers no constraint filter re-inlining the shingle HOF into
    // the scan — the size >= 5 guard means no empty gram arrays, so
    // outer == inner here.
    val base = documents(spark, sf)
      .transform(graft.api.Transforms.fanOut(_, col("doc_id")))
      .withColumn("words", words)
      .where(size(col("words")) >= 5)
    def gramStats(n: Int): DataFrame =
      base.select(col("doc_id"),
          explode_outer(graft.api.Transforms.shingles(col("words"), n)).as("g"))
        .groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(max(col("n")).as(s"top_n$n"),
             sum(when(col("n") >= 2, col("n")).otherwise(lit(0L))).as(s"dup_n$n"),
             sum(col("n")).as(s"tot$n"))
    val topFrac = col("top_n2").cast("double") / col("tot2")
    val dupFrac = col("dup_n5").cast("double") / col("tot5")
    gramStats(2).join(gramStats(5), "doc_id")
      .select(col("doc_id"),
        round(topFrac, 4).as("top_bigram_frac"),
        round(dupFrac, 4).as("dup_5gram_frac"),
        (topFrac > 0.18 || dupFrac > 0.30).as("repetitive"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // #113 bloom-prefiltered contamination
  // ---------------------------------------------------------------

  /** #113 — benchmark contamination at shuffle-join scale: #93's
    * equi-join works while the benchmark shingle set broadcasts, but
    * a full eval-suite shingle set against a 100 TB corpus wants a
    * SHUFFLE residual join — and shuffling every corpus shingle to
    * find the ~0.1% that hit is the waste. This op plants Spark's own
    * runtime-filter probe ([[org.apache.spark.sql.graft.BloomExprs]],
    * the `BloomFilterMightContain` expression `InjectRuntimeFilter`
    * uses) as an explicit pre-shuffle prune: a kilobyte bloom literal
    * built once over the benchmark side drops non-candidate shingles
    * AT THE SCAN, and only near-hits (true hits + the fpp tail) reach
    * the exchange. The exact join then kills the false positives, so
    * the RESULT is bloom-independent — the oracle is the plain join.
    * Output: per-language contaminated-doc and hit-shingle counts. */
  def dedupBloomPrefilter(spark: SparkSession, sf: String): DataFrame = {
    // repartition raw docs pre-fan-out (the dedup_minhash_near lesson:
    // single-file scans otherwise run the shingle explosion in one task)
    val sh = documents(spark, sf)
      .transform(graft.api.Transforms.fanOut(_, col("doc_id")))
      .withColumn("words", words)
      .where(size(col("words")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(graft.api.Transforms.shingles(col("words"), 3)))
          .as("shingle"))
    val bench = sh.where(col("doc_id") < 5).select(col("shingle")).distinct()
    // build once over the small side (distributed treeAggregate under
    // stat.bloomFilter); 1 << 13 expected items bounds the 5-doc
    // shingle set with room, fpp 1% keeps the literal ~10 KB
    val bloom = org.apache.spark.sql.graft.BloomExprs.serialize(
      bench.select(xxhash64(col("shingle")).as("h"))
        .stat.bloomFilter("h", 1L << 13, 0.01))
    sh.where(col("doc_id") >= 5)
      .where(org.apache.spark.sql.graft.BloomExprs
        .mightContain(bloom, xxhash64(col("shingle"))))
      .join(bench, "shingle") // exact residual: false positives die here
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs_hit"),
           count(lit(1)).as("n_shingle_hits"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------
  // #114 keep-best near-dup collapse
  // ---------------------------------------------------------------

  /** #114 — near-dup clusters keep the BEST member, not the smallest
    * id: verified simhash pairs (#72) → pointer-jumping connected
    * components (#91's machinery) → per cluster, the member with the
    * highest quality score (#76's formula, rounded BEFORE ranking;
    * doc_id breaks quality ties). This is the retention policy a real
    * dedup pass wants — collapse transitive duplicates but keep the
    * cleanest copy. The quality join adds one keyed join; the argmax
    * is a partial-able `max_by` over a struct, no window. Oracle:
    * recursive-CTE closure + the same quality SQL + row_number. */
  def dedupKeepBest(spark: SparkSession, sf: String): DataFrame = {
    // shared prefix: the staged pair/component tables (see
    // LlmOps.simhashComponents) — #91 and this op cluster identically
    val comp = LlmOps.simhashComponents(spark, sf)
    val q = LlmOps.qualityPerDoc(spark, sf)
    comp.join(q, col("node") === col("doc_id"))
      .groupBy(col("component"))
      .agg(
        // highest quality wins; -doc_id makes the SMALLEST id win ties
        max_by(col("doc_id"), struct(col("quality"), -col("doc_id"))).as("keep_id"),
        count(lit(1)).as("n_members"),
        max(col("quality")).as("best_quality"))
      .orderBy(col("component"))
  }

  // ---------------------------------------------------------------
  // #266 Zipf fit
  // ---------------------------------------------------------------

  /** #266 — Zipf's-law fit over the term-frequency head (round 15;
    * the corpus-health diagnostic every pretraining pipeline plots —
    * natural text follows freq ∝ rank^(−s) with s ≈ 1, and a corpus
    * whose head deviates hard is template/boilerplate-contaminated):
    * exact term counts, top-100 terms by (count desc, term) — a
    * distributed TakeOrdered, never a vocabulary-wide window — then
    * OLS of ln(count) on ln(rank) over the 100-row head.
    * EXACTNESS: the OLS moments ride the #257 integer contract — ln
    * values floored onto a 10⁻⁹ grid as longs, Σx/Σy exact longs,
    * Σxy/Σx² exact DECIMAL(38,0) sums of long products (≤ ~4·10²⁰ per
    * term, 63-bit-safe inputs, 38-digit-safe sums), so slope and
    * intercept are single double divisions of exact integers — the
    * 6dp display grid cannot drift across engines. Shape: one
    * word-keyed corpus aggregate (the only data-scale stage) + a
    * 100-row tail; at 100 TB the head fit costs one top-k. */
  /** Exact corpus term counts (w, c) — the shared data-scale stage of
    * #266/#271: fan-out before the explode (the single-file-scan
    * lesson), then one word-keyed aggregate. */
  private def wordCounts(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .transform(graft.api.Transforms.fanOut(_, col("doc_id")))
      .select(explode(words).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  def textZipfFit(spark: SparkSession, sf: String): DataFrame = {
    val top = wordCounts(spark, sf).orderBy(col("c").desc, col("w")).limit(100)
    val wOrd = Window.partitionBy(pmod(col("c"), lit(1)))
      .orderBy(col("c").desc, col("w"))
    val g = top
      .withColumn("r", row_number().over(wOrd))
      .select(col("c"),
        floor(log(col("r").cast("double")) * 1000000000L).cast("long").as("x9"),
        floor(log(col("c").cast("double")) * 1000000000L).cast("long").as("y9"))
    val s = g.agg(
      count(lit(1)).as("n_terms"), max(col("c")).as("max_count"),
      sum(col("x9")).as("sx"), sum(col("y9")).as("sy"),
      sum(dec(col("x9"), 38, 0) * col("y9")).as("sxy"),
      sum(dec(col("x9"), 38, 0) * col("x9")).as("sxx"))
    val slope = (col("n_terms") * col("sxy") -
        dec(col("sx"), 38, 0) * col("sy")).cast("double") /
      (col("n_terms") * col("sxx") -
        dec(col("sx"), 38, 0) * col("sx")).cast("double")
    s.select(col("n_terms"), col("max_count"),
        (floor(slope * 1000000 + 0.5) / 1000000.0).as("slope"),
        (floor(((col("sy").cast("double") -
          (floor(slope * 1000000 + 0.5) / 1000000.0) * col("sx")) /
          col("n_terms") / 1e9) * 1000000 + 0.5) / 1000000.0)
          .as("intercept_ln"))
  }

  // ---------------------------------------------------------------
  // #271 vocabulary coverage curve
  // ---------------------------------------------------------------

  /** #271 — vocabulary coverage curve (round 15; the tokenizer-sizing
    * readout beside #266's Zipf fit — "what fraction of the token
    * stream do the top-k terms cover?" decides vocab size, stopword
    * lists and the OOV budget): exact term counts, ranked (count
    * desc, term), cumulative token coverage read at k ∈ {1, 5, 10,
    * 20}. Exactness: counts and cumulative sums are exact longs; the
    * coverage share is the identical double division over them on
    * the 6dp floor-grid. Shape: one word-keyed corpus aggregate (the
    * only data-scale stage, checkpointed — two consumers), then a
    * prefix sum over the VOCABULARY-scale ranked table — fine up to
    * millions of terms; a 10⁸-term vocab would swap the single
    * window for Transforms.ntileByRange's chunked prefix-sum. */
  def textVocabCoverage(spark: SparkSession, sf: String): DataFrame = {
    val counts = wordCounts(spark, sf).localCheckpoint()
    val totals = counts.agg(sum(col("c")).as("n_tokens"))
    val wOrd = Window.partitionBy(pmod(col("c"), lit(1)))
      .orderBy(col("c").desc, col("w"))
    counts
      .withColumn("r", row_number().over(wOrd).cast("long"))
      .withColumn("cum",
        sum(col("c")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .where(col("r").isin(1L, 5L, 10L, 20L))
      .crossJoin(broadcast(totals))
      .select(col("r").as("top_k"), col("cum").as("tokens_covered"),
        col("n_tokens"),
        (floor(col("cum").cast("double") / col("n_tokens") * 1000000 + 0.5)
          / 1000000.0).as("coverage"))
      .orderBy(col("top_k"))
  }

  // ---------------------------------------------------------------
  // #273 hapax legomena ratio
  // ---------------------------------------------------------------

  /** #273 — hapax-legomena ratio per language slice (round 15; the
    * third corpus-health diagnostic beside #266's Zipf fit and #271's
    * coverage curve — the share of terms seen exactly ONCE drives
    * LM-smoothing mass (Good–Turing / Kneser–Ney's n₁, see #140) and
    * flags OCR/boilerplate noise when it spikes): per lang, distinct
    * terms, hapax terms (slice count = 1), token volume, and the two
    * shares — hapax/terms and hapax/tokens — on the 6dp floor-grid
    * over exact longs. Shape: one (lang, word)-keyed corpus aggregate
    * (the only data-scale stage), then a lang-keyed fold — all
    * partial-able, windows nowhere. */
  def textHapaxRatio(spark: SparkSession, sf: String): DataFrame = {
    documents(spark, sf)
      .transform(graft.api.Transforms.fanOut(_, col("doc_id")))
      .select(col("lang"), explode(words).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_terms"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("c")).as("n_tokens"))
      .select(col("lang"), col("n_terms"), col("n_hapax"), col("n_tokens"),
        (floor(col("n_hapax").cast("double") / col("n_terms") * 1000000
          + 0.5) / 1000000.0).as("hapax_term_share"),
        (floor(col("n_hapax").cast("double") / col("n_tokens") * 1000000
          + 0.5) / 1000000.0).as("hapax_token_share"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------
  // #117 consecutive-token collapse
  // ---------------------------------------------------------------

  /** #117 — consecutive-repeat collapse stats: per document, how many
    * token positions repeat their predecessor (the `w w` stutter that
    * scraped text accumulates), and the token count a collapse pass
    * would leave. Pure per-row HOF arithmetic — narrow, no shuffle at
    * all until the output sort; safe as a PROJECTION (unlike join
    * keys, projected HOFs evaluate once per row with subexpression
    * elimination — the #60 lesson in SCALE.md does not apply). */
  def textCollapseRepeats(spark: SparkSession, sf: String): DataFrame = {
    val w = col("words")
    val nRep = when(size(w) >= 2,
        size(filter(sequence(lit(2), size(w)),
          i => element_at(w, i) === element_at(w, i - 1))))
      .otherwise(lit(0)).cast("long")
    documents(spark, sf)
      .withColumn("words", words)
      .select(col("doc_id"),
        size(w).cast("long").as("n_tokens"),
        nRep.as("n_repeats"),
        (size(w).cast("long") - nRep).as("n_after_collapse"),
        (nRep > 0).as("has_repeats"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // #120 length histogram
  // ---------------------------------------------------------------

  /** #120 — corpus length distribution: 50-char-wide buckets of
    * n_chars with per-bucket doc counts, extrema, and corpus share —
    * the first diagnostic a pretraining pipeline plots (truncation /
    * boilerplate shoulders show up as histogram spikes). Integer
    * `DIV` bucketing is bit-exact cross-engine; the share divides by
    * a 1-row broadcast total (the #95 corpus-size pattern). One keyed
    * aggregate; bucket count is bounded by max(n_chars)/50 — metadata
    * scale regardless of corpus size. */
  def textLengthHistogram(spark: SparkSession, sf: String): DataFrame = {
    val docs = documents(spark, sf)
    val total = docs.agg(count(lit(1)).as("n_total"))
    docs.groupBy(expr("n_chars DIV 50").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           min(col("n_chars")).as("min_chars"),
           max(col("n_chars")).as("max_chars"))
      .crossJoin(broadcast(total))
      .select((col("bucket") * 50).as("bucket_lo"),
              ((col("bucket") + 1) * 50 - 1).as("bucket_hi"),
              col("n_docs"), col("min_chars"), col("max_chars"),
              round(col("n_docs").cast("double") / col("n_total"), 4).as("share"))
      .orderBy(col("bucket_lo"))
  }

  // ---------------------------------------------------------------
  // #121 token entropy
  // ---------------------------------------------------------------

  /** #121 — per-document token-level Shannon entropy (bits), the
    * CCNet/Gopher-family diversity signal (near-zero entropy = a doc
    * that keeps repeating the same tokens; high entropy at short
    * length = symbol soup). Computed with the factored form
    * H = (ln n − (Σ c·ln c)/n) / ln 2 so one (doc, token)-keyed count
    * plus one per-doc aggregate suffices — no second join of counts
    * against totals. Both engines evaluate the identical IEEE
    * expression tree on identical integers (ln drift bridged by the
    * same round-4 policy as #95's tf·idf). */
  def textTokenEntropy(spark: SparkSession, sf: String): DataFrame = {
    val counts = documents(spark, sf)
      .select(col("doc_id"), explode(words).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
           count(lit(1)).as("n_distinct"),
           sum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round((log(col("n_tokens").cast("double")) - col("clogc") / col("n_tokens"))
                / log(lit(2.0)), 4).as("entropy_bits"))
      .orderBy(col("doc_id"))
  }

  /** #131 — corpus heavy hitters: tokens whose global share exceeds
    * 3.3% (just above this corpus's uniform-vocabulary share, so the
    * over-represented tokens surface) — the vocabulary-dominance
    * diagnostic (a stopword/boilerplate
    * list falls straight out of it, and a skewed token is a join-skew
    * early warning for every downstream token-keyed op). Exact, not
    * sketched: one (token) keyed count with map-side partials, the
    * grand total re-aggregated from those counts (token-cardinality
    * input, not corpus-cardinality) and broadcast back as 1 row. At
    * 100 TB the count table is vocabulary-sized — millions of rows,
    * not trillions — so exactness costs one extra metadata-scale
    * aggregate over the counts; count/count division is IEEE-exact
    * cross-engine. */
  def textHeavyHitters(spark: SparkSession, sf: String): DataFrame = {
    val counts = documents(spark, sf)
      .select(explode(words).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    counts.crossJoin(broadcast(total)) // 1-row broadcast aggregate
      .where(col("n").cast("double") / col("total") > 0.033)
      .select(col("token"), col("n"),
              round(col("n").cast("double") / col("total"), 4).as("share"))
      .orderBy(col("n").desc, col("token"))
  }

  // ---------------------------------------------------------------
  // #139 bigram self-perplexity (round 7)
  // ---------------------------------------------------------------

  /** #139 — language-model perplexity scoring, the CCNet/KenLM-family
    * quality signal: a bigram model with add-1 smoothing is "trained"
    * on the corpus itself (global bigram counts c(w1,w2), prefix
    * counts c(w1), vocabulary size V), and every document is scored
    * by its average negative log-likelihood avg_nll = −Σ m·ln((c₂+1)/
    * (c₁+V)) / Σ m and perplexity e^avg_nll — formulaic text scores
    * low, anomalous token sequences score high; production swaps in a
    * held-out-trained model, the dataflow is identical.
    *
    * Shape: one bigram fan-out aggregated per (doc, w1, w2) BEFORE
    * any join (so join input is distinct doc-bigrams, not raw
    * occurrences), then two vocabulary-keyed equi-joins (never
    * assumes a broadcastable vocab — the #95 posture), a 1-row V
    * broadcast, and a per-doc aggregate. O(total bigrams), all keyed.
    * Determinism: ln-sum reassociation drift is absorbed by the 4dp
    * display rounding (the #121 ln policy). */
  def textPerplexityLm(spark: SparkSession, sf: String): DataFrame = {
    val docs = graft.api.Transforms.fanOut(documents(spark, sf), col("doc_id"))
    val bgm = docs.withColumn("words", words)
      .where(size(col("words")) >= 2)
      .select(col("doc_id"),
        explode(graft.api.Transforms.shingles(col("words"), 2)).as("bg"))
      .select(col("doc_id"),
        element_at(split(col("bg"), " "), 1).as("w1"),
        element_at(split(col("bg"), " "), 2).as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
    val c2 = bgm.groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = documents(spark, sf).select(explode(words).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    bgm
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab)) // 1-row vocabulary size
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
           sum(-col("m") * log((col("c2") + 1.0) /
             (col("c1") + col("v")))).as("nll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("nll") / col("n_bigrams"), 4).as("avg_nll"),
        round(exp(col("nll") / col("n_bigrams")), 4).as("ppl"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // #140 temperature-reweighted domain mixing (round 7)
  // ---------------------------------------------------------------

  /** #140 — domain mixing with temperature α = 0.5 (the Pile/ROOTS/
    * multilingual-LM recipe): target share per language ∝ n_d^α, so
    * over-represented domains are down-weighted sub-linearly rather
    * than capped; a total budget of half the corpus sets per-domain
    * acceptance rates min(1, target/n_d), applied as the portable
    * md5-prefix point of #88/#89 — membership depends only on
    * (doc_id, salt), stable under reruns and appends. Rates are
    * data-derived, so the threshold is the integer ⌊rate·65536⌋
    * compared against the 16-bit hash prefix IN the plan (not a
    * Scala literal): the comparison is integer-exact cross-engine.
    *
    * Shape: one domain-count aggregate (5 rows) + 1-row weight total,
    * rates broadcast back onto the scan, one filtered re-aggregate —
    * two corpus passes, zero windows, zero data-scale shuffles. */
  def textDomainMix(spark: SparkSession, sf: String): DataFrame = {
    val docs = documents(spark, sf)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(sqrt(col("n_docs"))).as("wsum"),
                         sum(col("n_docs")).as("n_total"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        (sqrt(col("n_docs")) / col("wsum")).as("target_share"),
        floor(least(lit(1.0),
          sqrt(col("n_docs")) / col("wsum") * (col("n_total") / 2.0)
            / col("n_docs")) * 65536).cast("int").as("thr"))
    val point = conv(substring(
      md5(concat(col("doc_id").cast("string"), lit("#mix"))), 1, 4), 16, 10)
      .cast("int")
    docs.join(broadcast(rates), "lang")
      .withColumn("kept", point < col("thr"))
      .groupBy(col("lang"))
      .agg(first(col("n_docs")).as("n_docs"),
           round(first(col("target_share")), 4).as("target_share"),
           count_if(col("kept")).as("n_sampled"),
           sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("sampled_chars"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------
  // #141 global span-level dedup (round 7)
  // ---------------------------------------------------------------

  /** #141 — corpus-global span dedup, the C4 "three-sentence span"
    * rule adapted to the punctuation-free corpus: documents split
    * into non-overlapping 5-word spans; every occurrence of a span
    * after its global FIRST occurrence (smallest (doc_id, position))
    * is dropped; documents are rebuilt from their surviving spans.
    * This removes boilerplate that repeats ACROSS documents — the
    * sub-document complement of the whole-doc dedups (#59/#60/#72):
    * two near-identical docs keep one copy of their shared spans.
    *
    * Shape: span fan-out → one span-keyed min-aggregate (the first
    * occurrence as a lexicographic min over struct(doc_id, pos) — no
    * integer encoding, so arbitrarily long documents can't collide a
    * later doc's early span into an earlier doc's range; both engines
    * order structs/rows field-by-field) → equi-join back → per-doc
    * ordered rebuild via the #29 collect-sort pattern. O(total spans),
    * keyed by span then doc; never pairwise. Docs with no words are
    * filtered before the fan-out (Spark's `sequence(0, -1)` DESCENDS
    * where SQL `range(0, 0)` is empty — same guard as #157).
    * Fully-deduplicated docs yield NULL clean_text (nullif bridges
    * Spark's empty-join to SQL's empty string_agg). */
  def dedupSentenceGlobal(spark: SparkSession, sf: String): DataFrame = {
    val spans = documents(spark, sf)
      .transform(graft.api.Transforms.fanOut(_, col("doc_id")))
      .withColumn("words", words)
      .where(size(col("words")) >= 1)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), ceil(size(col("words")) / lit(5.0)).cast("int") - 1),
          p => array_join(slice(col("words"), p * 5 + 1, lit(5)), " ")))
          .as(Seq("pos", "span")))
    val occ = spans.withColumn("occ", struct(col("doc_id"), col("pos")))
    val firstOcc = occ.groupBy(col("span")).agg(min(col("occ")).as("keep_occ"))
    occ.join(firstOcc, "span")
      .withColumn("kept", col("occ") === col("keep_occ"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
           count_if(!col("kept")).as("n_dropped"),
           nullif(array_join(transform(
             array_sort(collect_list(when(col("kept"),
               struct(col("pos"), col("span"))))),
             s => s.getField("span")), " "), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** #156 — hashing-trick linear classifier scoring (round 7), the
    * fastText/CCNet quality-classifier SHAPE: tokens hash into
    * D = 4096 feature buckets (3 md5 hex chars — portable, exactly
    * 0..4095), each bucket carries a deterministic weight
    * w = (h mod 1997)/1997 − 0.5 (the stand-in for trained weights —
    * production swaps in a learned vector, the dataflow is
    * identical), and a document's score is the mean weight of its
    * tokens; label = sign. The weight "table" never materializes —
    * w(h) is computed IN the projection, so scoring is one narrow
    * codegen'd pass + one per-doc aggregate: the only classifier
    * formulation that needs no model broadcast at 100 TB. 6-dp
    * rounding bridges summation-order ulp drift. */
  def textClassifierLinear(spark: SparkSession, sf: String): DataFrame = {
    val toks = documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0)
    val h = conv(substring(md5(concat(col("tok"), lit("#feat"))), 1, 3), 16, 10)
      .cast("long")
    toks.select(col("doc_id"),
        ((h % 1997).cast("double") / 1997.0 - 0.5).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), round(avg(col("w")), 6).as("score"))
      .withColumn("label", when(col("score") > 0, "keep").otherwise("drop"))
      .orderBy(col("doc_id"))
  }

  /** #157 — BPE pair-count training step (round 7): the corpus-global
    * adjacent-character-pair frequencies over the word-frequency
    * table — the count that drives ONE merge iteration of
    * byte-pair-encoding tokenizer training (Sennrich et al. 2016);
    * production loops this with a merge applied per round, each
    * round this same distributed count. Shape: word counts first
    * (vocabulary scale — the corpus is never re-scanned per pair),
    * then pairs exploded from the VOCAB (weighted by word count,
    * overlaps counted), one pair-keyed sum; the pair table is
    * alphabet²-bounded metadata, so the final top-20 sort is free.
    * Words shorter than 2 chars carry no pairs and are filtered
    * before the explode (`sequence(1, 0)` would descend). */
  def textBpePairCounts(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(col("n"), explode(expr(
          "transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("n")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(20)

  /** #171 — URL canonicalization + dedup keep-best: the
    * Common-Crawl-style hygiene pass that collapses crawl variants of
    * one page (scheme/host case, default :443 port, utm_* tracking
    * params, fragments, trailing path slash) to a canonical key and
    * keeps the best document per key (longest, tie → smallest id).
    * URLs are synthesized deterministically from doc metadata with
    * the SAME md5/modulo arithmetic in both engines (the corpus has
    * no URL column; the md5-derived construction is the #167 pattern)
    * so the oracle pins every regexp_replace byte-for-byte — the
    * canonical VALUES prove the case/port/query surgery ran, the
    * group MERGES prove variant forms (host case, fragments) landed
    * on one key. Pure narrow codegen'd string work + ONE keyed
    * aggregate (`max_by` keeper on a (n_chars, −doc_id) struct — no
    * per-group window, no second pass); the groupBy key is the
    * canonical URL — high-cardinality, skew-free at any scale. */
  def dedupUrlCanonical(spark: SparkSession, sf: String): DataFrame = {
    val site = (col("doc_id") % 40).cast("string")
    val url = concat(
      lit("HTTPS://"),
      when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("www.")),
      lit("Site"), site, lit(".Example.ORG"),
      when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit("")),
      lit("/articles/"), substring(md5(site), 1, 8),
      when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0, lit("?utm_source=feed&page=2&utm_campaign=x"))
        .when(col("doc_id") % 4 === 1, lit("?page=2&utm_medium=email"))
        .when(col("doc_id") % 4 === 2, lit("?page=2"))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("#section-3")).otherwise(lit("")))
    // canonicalization ladder (order matters; identical in the oracle):
    // strip fragment → lowercase → strip :443 before / ? or EOL →
    // drop utm_* params → trim dangling ?/& → heal '?&' → trim
    // trailing path slash
    val c0 = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(regexp_replace(url, "#.*$", "")),
              ":443/", "/"),
            ":443\\?", "?"),
          ":443$", ""),
        "(utm_[a-z]+=[^&#]*&?)", ""),
      "[?&]+$", "")
    val curl = regexp_replace(regexp_replace(c0, "\\?&", "?"), "/$", "")
    documents(spark, sf)
      .select(col("doc_id"), col("n_chars"), curl.as("curl"))
      .groupBy(col("curl"))
      .agg(count(lit(1)).as("n_dups"),
           max_by(col("doc_id"),
                  struct(col("n_chars"), (-col("doc_id")).as("neg")))
             .as("keeper_doc_id"),
           max(col("n_chars")).as("keeper_n_chars"))
      .orderBy(col("curl"))
  }

  // ---------------------------------------------------------------
  // #189 BM25 ranking
  // ---------------------------------------------------------------

  /** #189 — Okapi BM25 ranking (Robertson et al., TREC-3), the
    * canonical sparse-retrieval scorer (k1=1.2, b=0.75, the Lucene
    * `+1` idf form so every contribution is positive): for 8
    * hash-sampled query documents, candidate docs are ONLY those
    * sharing a term with the query — the posting-list equi-join on
    * the term (the #60/#188 candidate philosophy; at 100 TB the term
    * join is the inverted index and Zipfian df makes it selective —
    * this corpus's ~30-word vocab makes every doc a candidate, which
    * is the worst case, not the design). Determinism contract:
    * per-term contributions are rounded to 6 dp and summed as
    * DECIMAL(20,6) — an EXACT, order-independent sum, so partial
    * aggregation / shuffle order / engine association cannot move the
    * graded 4 dp score (the repo's aggregate-in-DECIMAL policy);
    * avgdl is an exact long-sum / exact count division. One corpus
    * tokenize pass feeds tf, doc length (sum of tf), and df. Top-10
    * per query by (score desc, doc_id). */
  def simBm25Rank(spark: SparkSession, sf: String): DataFrame = {
    val docs = documents(spark, sf)
    val q = docs
      .withColumn("h", md5(concat(col("doc_id").cast("string"), lit("#bm"))))
      .orderBy(col("h"), col("doc_id")).limit(8)
      .select(col("doc_id").as("q_id"))
    val tf = docs.select(col("doc_id"), explode(words).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dlen"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dlen")).cast("double") / count(lit(1))).as("avgdl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qterms = tf.join(broadcast(q), col("doc_id") === col("q_id"))
      .select(col("q_id"), col("term"))
    val cand = tf.join(broadcast(qterms), "term")
      .where(col("doc_id") =!= col("q_id"))
    val contrib = cand
      .join(dfreq, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"),
        round(
          log((col("n_docs").cast("double") - col("df") + lit(0.5)) /
                (col("df") + lit(0.5)) + lit(1.0)) *
          ((col("tf").cast("double") * lit(2.2)) /
            (col("tf") + lit(1.2) *
              (lit(0.25) + lit(0.75) * (col("dlen") / col("avgdl"))))),
          6).cast("decimal(20,6)").as("contrib"))
    val scored = contrib.groupBy(col("q_id"), col("doc_id"))
      .agg(round(sum(col("contrib")).cast("double"), 4).as("bm25"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("bm25").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 10)
      .select(col("q_id"), col("rnk").cast("int").as("rnk"),
              col("doc_id"), col("bm25"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** #277's query panel + (doc, term, w) weight table, the shared
    * machinery of the graded op and the gated Zipfian scale pin (so
    * the pin measures the op's REAL candidate stage, not a replica
    * that could drift). `capStopwords = false` keeps df = N terms —
    * the pin uses the difference to quantify exactly what the
    * stopword df-cap removes. */
  private[graft] def sparseCosineWeights(spark: SparkSession, sf: String,
      capStopwords: Boolean): (DataFrame, DataFrame) = {
    val docs = documents(spark, sf)
    val q = docs
      .withColumn("h", md5(concat(col("doc_id").cast("string"), lit("#sc"))))
      .orderBy(col("h"), col("doc_id")).limit(8)
      .select(col("doc_id").as("q_id"))
    val tf = docs.select(col("doc_id"), explode(words).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val joined = tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
    val kept = // df = N ⇒ idf 0: drop stopwords
      if (capStopwords) joined.where(col("df") < col("n_docs")) else joined
    val wts = kept.select(col("doc_id"), col("term"),
      round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
        .cast("decimal(20,6)").as("w"))
    (q, wts)
  }

  /** #277's posting-list candidate stage — one row per (query term
    * posting × matching document posting), the quantity whose Σ df²
    * selectivity argument the gated Zipfian pin checks at 1×/10×. */
  private[graft] def sparseCosineCandidates(spark: SparkSession, sf: String,
      capStopwords: Boolean = true): DataFrame = {
    val (q, wts) = sparseCosineWeights(spark, sf, capStopwords)
    sparseCosineCandidates(q, wts)
  }

  private def sparseCosineCandidates(q: DataFrame, wts: DataFrame): DataFrame = {
    val qw = wts.join(broadcast(q), col("doc_id") === col("q_id"))
      .select(col("q_id"), col("term"), col("w").as("wq"))
    wts.join(broadcast(qw), "term")
      .where(col("doc_id") =!= col("q_id"))
  }

  /** #277 — sparse TF-IDF cosine retrieval (round 16; the classical
    * vector-space-model ranking beside #189's BM25 — the SPARSE twin
    * of #62's dense cosine kNN, and the lexical arm a production
    * hybrid stack fuses with dense scores via #188's RRF): for the
    * same 8-doc hash-sampled query panel as #189, score every corpus
    * document sharing at least one informative term with the query by
    * cos(q,d) = Σ_t w_qt·w_dt / (‖w_q‖·‖w_d‖), w = tf·ln(N/df),
    * top-5 per query. Candidate generation is the inverted-index
    * equi-join on the term (posting-list intersection — Σ df², never
    * an all-pairs doc scan), and corpus-wide stopwords (df = N, idf
    * 0) are dropped BEFORE the join — the df-cap every production
    * inverted index applies, here exact since their weight is
    * identically zero. Determinism: weights 6dp-rounded to
    * DECIMAL(20,6) before any summation (the #189 policy), dot
    * products and squared norms summed as exact DECIMAL(38,12),
    * cosine one double expression 4dp-displayed, ties to the smaller
    * doc_id. Shape: two keyed corpus aggregates (tf, df) + the
    * posting join keyed on term ([[sparseCosineCandidates]], the
    * stage the Zipfian scale pin counts) + a per-query bounded-heap
    * top-5 over the scored candidates (map-side partials, no window
    * sort). */
  def simSparseCosineTopk(spark: SparkSession, sf: String): DataFrame = {
    val (q, wts) = sparseCosineWeights(spark, sf, capStopwords = true)
    val norms = wts.groupBy(col("doc_id"))
      .agg(sum(dec(col("w") * col("w"), 38, 12)).as("nrm2"))
      .where(col("nrm2") > 0)
    val dots = sparseCosineCandidates(q, wts)
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(dec(col("w") * col("wq"), 38, 12)).as("dp"))
    val scored = dots
      .join(broadcast(norms.join(broadcast(q), col("doc_id") === col("q_id"))
        .select(col("q_id"), col("nrm2").as("qn2"))), "q_id")
      .join(norms, "doc_id")
      .select(col("q_id"), col("doc_id"),
        round(col("dp").cast("double")
          / (sqrt(col("qn2").cast("double"))
             * sqrt(col("nrm2").cast("double"))), 4).as("cos_sim"))
    graft.api.Transforms
      .topKPerGroup(scored, col("q_id"), col("cos_sim"), col("doc_id"), 5)
      .select(col("group").as("q_id"), col("rnk").cast("int").as("rnk"),
              col("id").as("doc_id"), col("score").as("cos_sim"))
      .orderBy(col("q_id"), col("rnk"))
  }

  // ---------------------------------------------------------------
  // #191 importance resampling
  // ---------------------------------------------------------------

  /** #191 — quality-weighted importance resampling, the data-mixing
    * primitive behind DoReMi/DCLM-style corpus reweighting: each
    * document gets a quality weight (here the type-token ratio
    * nd/nw — an exact count/count division; any scorer column slots
    * in), a target epoch count 4·weight, and a materialized copy
    * count floor(te) + Bernoulli(frac(te)) where the draw is the
    * first 4 md5 nibbles of the doc id (salt '#rs') / 65536 — a
    * deterministic, corpus-size-independent coin: membership depends
    * only on the key, so re-runs and incremental appends never flip
    * old decisions (the hashSplit philosophy applied to epochs).
    * Every comparison is between exact dyadics/rationals, so the
    * graded copy count is engine-independent. One tokenize pass, one
    * (doc,term) aggregate, no joins wider than the doc table; at
    * 100 TB the actual replication is a later `explode(sequence)` —
    * this op grades the decision table, which is the hard part. */
  def textImportanceResample(spark: SparkSession, sf: String): DataFrame = {
    val docs = documents(spark, sf)
    val st = docs.select(col("doc_id"), col("source"), explode(words).as("term"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("nw"), countDistinct(col("term")).as("nd"))
    val te = (col("nd") * 4).cast("double") / col("nw")
    val u = conv(substring(
        md5(concat(col("doc_id").cast("string"), lit("#rs"))), 1, 4), 16, 10)
      .cast("long").cast("double") / lit(65536.0)
    st.select(col("doc_id"), col("source"),
        round(col("nd").cast("double") / col("nw"), 4).as("weight"),
        (floor(te) + when(u < te - floor(te), 1).otherwise(0))
          .cast("int").as("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** #209 — BPE tokenizer training, 3 merges (round 12; Sennrich et
    * al. ACL'16 — the actual TRAINING loop whose single counting step
    * is #157): start from the character-spaced symbolization of the
    * word-frequency table; each iteration (a) counts adjacent symbol
    * pairs weighted by word frequency (positional transform+explode —
    * one keyed aggregate), (b) picks the argmax pair (count DESC,
    * pair ASC — a 1-row max broadcast + a min over the tied rows, no
    * global sort), (c) applies the merge corpus-wide as a
    * boundary-delimited NON-OVERLAPPING LEFT-TO-RIGHT replace —
    * identical scan semantics in java.lang.String.replace and DuckDB
    * replace(), so both engines walk the same vocabulary into
    * iteration k+1 (chains of a repeated symbol can defer residual
    * merges to a later iteration — the standard caveat of
    * string-replace BPE, equally deterministic). Graded output: the 3
    * learned merges with their merged token and weighted counts.
    * Iteration state is the VOCABULARY table, never the corpus —
    * pair counts partial-aggregate, the merge apply is a 1-row
    * broadcast + narrow map — so at 100 TB each step shuffles
    * vocab-scale rows and the corpus is read once (word counts). */
  def textBpeTrainMerges(spark: SparkSession, sf: String): DataFrame = {
    var wf = documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(rtrim(regexp_replace(col("w"), "(.)", "$1 ")).as("sym"), col("n"))
    val steps = (1 to 3).map { step =>
      val pc = wf.select(col("n"), explode(expr(
          """transform(sequence(1, size(split(sym, ' ')) - 1),
            |  i -> concat_ws(' ', element_at(split(sym, ' '), i),
            |                      element_at(split(sym, ' '), i + 1)))"""
            .stripMargin)).as("pair"))
        .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
      val mx = pc.agg(max(col("cnt")).as("mx"))
      // 1-row winner; localCheckpoint so later iterations (and the
      // final 3-row union) don't re-derive every earlier pair count
      val best = pc.crossJoin(broadcast(mx)).where(col("cnt") === col("mx"))
        .agg(min(col("pair")).as("pair"), max(col("cnt")).as("cnt"))
        .localCheckpoint()
      wf = wf.crossJoin(broadcast(best))
        .select(expr(
            """trim(replace(concat(' ', sym, ' '), concat(' ', pair, ' '),
              |     concat(' ', replace(pair, ' ', ''), ' ')))""".stripMargin)
          .as("sym"), col("n"))
      best.select(lit(step).as("step"), col("pair").as("merge_pair"),
        expr("replace(pair, ' ', '')").as("merged"),
        col("cnt").as("n_occurrences"))
    }
    steps.reduce(_ unionByName _).orderBy(col("step"))
  }

  /** #219 — interpolated Kneser–Ney bigram language model (round 12;
    * Kneser & Ney ICASSP'95 via Chen & Goodman '98 — the smoothing
    * real LM toolkits (KenLM, SRILM) actually ship, where #96 is the
    * unsmoothed MLE and #139 is add-1: absolute discounting D = 0.75
    * with the CONTINUATION unigram — P(w₂|w₁) = max(c(w₁w₂)−D, 0)/
    * c(w₁·) + (D·N₁₊(w₁·)/c(w₁·)) · N₁₊(·w₂)/|bigram types| — the
    * estimator that fixes add-k's "San Francisco" pathology by
    * scoring w₂ by how many contexts it completes, not how often it
    * occurs. Trained on the corpus, scored per source: bigram count,
    * average NLL, perplexity. Exactness: every model count (c, c₁,
    * fan-out N₁₊(w₁·), continuation N₁₊(·w₂), type total) is an
    * exact integer, P is the identical double expression over them
    * in both engines, gridded to DECIMAL(18,8) before ln (the grid8
    * policy — ln then sees the same double), per-bigram NLLs gridded
    * and DECIMAL-summed (order-independent), and avg/ppl are final
    * double ops rounded 6/4dp (#139's display policy). Shape: one
    * keyed count to the bigram-type table (vocab-scale, reused via
    * localCheckpoint), three vocab-scale aggregates + a 1-row type
    * total broadcast, then ONE keyed join from the corpus bigram
    * stream to the vocab-scale model — at 100 TB the model rides a
    * broadcast (real vocabs are ~10⁷ types) and scoring is a pure
    * map over the corpus. */
  def textKneserNeyLm(spark: SparkSession, sf: String): DataFrame = {
    // adjacent-pair structs straight off the token array — same
    // (w1, w2) multiset as exploding 2-shingles, without building a
    // "w1 w2" string per bigram only to regex-split it twice (the
    // corpus-pass hot loop; measured as the dominant slope cost)
    val bg = documents(spark, sf)
      .withColumn("words", split(col("text"), " "))
      .where(size(col("words")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(words) - 1), " +
          "i -> struct(words[i-1] AS w1, words[i] AS w2))")).as("p"))
      .select(col("source"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    // ONE corpus pass (round 18): count per (source, bigram) — the
    // corpus token stream is fanned out and shuffled exactly once;
    // everything downstream (global counts, model, scoring) runs on
    // TYPE-scale tables. The previous shape re-exploded the corpus a
    // second time to score token-by-token — at 100 TB that is a whole
    // extra corpus pass for values that per-type counts already carry
    // (n_sw identical occurrences of the same gridded NLL sum to
    // n_sw × nll EXACTLY in decimal arithmetic, so the graded values
    // are bit-identical).
    val cs = bg.groupBy(col("source"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_sw"))
      .localCheckpoint()
    val c = cs.groupBy(col("w1"), col("w2")).agg(sum(col("n_sw")).as("n"))
      .localCheckpoint()
    val uni = c.groupBy(col("w1"))
      .agg(sum(col("n")).as("c1"), count(lit(1)).as("fanout"))
    val cont = c.groupBy(col("w2")).agg(count(lit(1)).as("nc"))
    val bt = c.agg(count(lit(1)).as("bt"))
    val pd = round(
        greatest(col("n").cast("double") - lit(0.75), lit(0.0)) / col("c1")
          + lit(0.75) * col("fanout") / col("c1")
            * (col("nc").cast("double") / col("bt")), 8)
      .cast("decimal(18,8)").cast("double")
    val kn = c.join(uni, "w1").join(cont, "w2").crossJoin(broadcast(bt))
      .select(col("w1"), col("w2"), pd.as("p"))
    val nll = grid8(log(col("p")) * lit(-1))
    // the model table is vocab-scale (bigram TYPES, not tokens) — ride
    // it as a broadcast so scoring is a map over the per-source TYPE
    // table, never a second pass over the corpus stream (the
    // documented 100 TB shape, now also the executed one)
    cs.join(broadcast(kn), Seq("w1", "w2"))
      .groupBy(col("source"))
      .agg(sum(col("n_sw")).as("n_bigrams"),
        // sum(nll·n_sw) is EXACTLY the old per-occurrence sum(nll);
        // the division stays a double op (cast first) so the 6dp
        // display rounds the same double the two-pass shape produced
        round(sum(nll * col("n_sw")).cast("double")
            / sum(col("n_sw")), 6).as("avg_nll"),
        round(exp(sum(nll * col("n_sw")).cast("double")
            / sum(col("n_sw"))), 4).as("ppl"))
      .orderBy(col("source"))
  }

  /** #217 — exact substring-window deduplication (round 12; the
    * EXACT-SUBSTRING half of the dedup family — Lee et al. ACL'22
    * ("Deduplicating Training Data Makes Language Models Better")
    * remove any 50-token span that repeats verbatim anywhere in the
    * corpus, catching boilerplate that whole-document (#59) and
    * near-dup (#60/#72) passes miss because the surrounding document
    * differs. This is the distributed window-hash formulation of
    * their suffix-array pass: char 30-grams at stride 10 (windows
    * overlap by 20 so any repeated span ≥ 39 chars is guaranteed to
    * contain a shared window — the pigeonhole stride bound), a
    * window is duplicated iff ≥ 2 distinct docs contain it. Graded
    * per source: docs, distinct windows, duplicated windows, docs
    * carrying ≥ 1 duplicated span, max per-doc duplicated count.
    * Shape: sequence+transform window fan-out (narrow, ~len/10 rows
    * per doc), per-doc distinct, ONE keyed aggregate on the window
    * to the duplicated set, one keyed join back, two keyed rollups.
    * At 100 TB the shuffle key is xxhash64(window) instead of the
    * raw 30 chars (collision-free in expectation at any corpus size
    * worth deduping; the graded form keys on the string itself so
    * the oracle replays byte-for-byte), and the duplicated-window
    * set — boilerplate, tiny vs the corpus — bloom-prefilters the
    * join back, the #113 pattern. */
  /** #217's per-doc distinct window table — exposed so the
    * scale-stress suite pins the SAME fan-out the graded query runs. */
  def substringWindows(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .select(col("doc_id"), col("source"),
        explode(transform(
          sequence(lit(1), greatest(length(col("text")) - lit(29), lit(1)),
                   lit(10)),
          i => col("text").substr(i, lit(30)))).as("win"))
      .distinct()

  def dedupSubstringWindow(spark: SparkSession, sf: String): DataFrame = {
    val wins = substringWindows(spark, sf)
    val dup = wins.groupBy(col("win"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2)
      .select(col("win").as("dwin"))
    wins.join(dup, col("win") === col("dwin"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_win"),
           sum(when(col("dwin").isNotNull, 1L).otherwise(0L)).as("n_dup"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
           sum(col("n_win")).as("windows"),
           sum(col("n_dup")).as("dup_windows"),
           sum(when(col("n_dup") > 0, 1L).otherwise(0L)).as("docs_with_dup"),
           max(col("n_dup")).as("max_dup"))
      .orderBy(col("source"))
  }

  /** #225 — pretraining quality-filter funnel (round 12; the CCNet /
    * RefinedWeb / FineWeb pipeline READOUT — not one filter but the
    * ordered cascade, where each document is attributed to the FIRST
    * rule that drops it, because "how many docs did each stage cost"
    * is the number a corpus curator actually steers by): rule order
    * mirrors the production cascade — (1) too short (< 100 chars),
    * (2) language gate (lang ≠ 'en', the upstream langid label — the
    * stage that dominates CommonCrawl attrition), (3) repetition
    * (top word > 20% of tokens, the #112 Gopher signal as a funnel
    * stage), (4) low diversity (type-token ratio < 1/3); survivors
    * are `kept`. Graded per source: docs in, one column per drop
    * stage, kept — all exact integer counts under scaled-integer
    * rule comparisons (maxf·5 > wc, ty·3 < wc; no double thresholds
    * anywhere). Shape: ONE corpus-keyed word-stat aggregate (per-doc
    * max-frequency/token/type counts), a pure-map verdict ladder,
    * one keyed rollup — at 100 TB this is a single corpus pass plus
    * the doc-keyed stats exchange, the canonical filter-pipeline
    * cost. */
  def textFilterFunnel(spark: SparkSession, sf: String): DataFrame = {
    val base = documents(spark, sf)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
              length(col("text")).as("len"))
    val stats = base
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("maxf"), sum(col("c")).as("wc"),
           count(lit(1)).as("ty"))
    base.join(stats, "doc_id")
      .withColumn("verdict",
        when(col("len") < 100, "drop_short")
          .when(col("lang") =!= "en", "drop_lang")
          .when(col("maxf") * 5 > col("wc"), "drop_repeat")
          .when(col("ty") * 3 < col("wc"), "drop_diversity")
          .otherwise("kept"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_in"),
        sum(when(col("verdict") === "drop_short", 1L).otherwise(0L))
          .as("drop_short"),
        sum(when(col("verdict") === "drop_lang", 1L).otherwise(0L))
          .as("drop_lang"),
        sum(when(col("verdict") === "drop_repeat", 1L).otherwise(0L))
          .as("drop_repeat"),
        sum(when(col("verdict") === "drop_diversity", 1L).otherwise(0L))
          .as("drop_diversity"),
        sum(when(col("verdict") === "kept", 1L).otherwise(0L)).as("kept"))
      .orderBy(col("source"))
  }

  /** #250 — ROUGE-1/ROUGE-2 set-recall between adjacent document
    * pairs (round 14; the n-gram-recall family behind every
    * summarization / generation eval — Lin 2004 — here in its
    * distinct-set form, the member the eval harness runs at corpus
    * scale when candidate/reference pairs stream through Spark;
    * pairing by doc_id+1 is the same deterministic candidate
    * convention as #73's Jaccard): recall = |grams(cand) ∩
    * grams(ref)| / |grams(ref)| over DISTINCT unigrams (ROUGE-1) and
    * bigrams (ROUGE-2). EXACTNESS: both recalls are the #232 integer
    * grid — overlap·10⁸ DIV |ref| on exact counts — so ordering and
    * values cannot drift; the displayed double is the final /10⁸.
    * Docs need ≥ 2 words (a bigram must exist on the REF side for
    * the denominator); pairs where either side is shorter are
    * excluded, mirrored in the oracle. Shape: per-doc distinct-gram
    * sets are narrow projections; the pair join is an id equi-join
    * (d1+1 = d2) and the set intersections are per-row array ops —
    * no gram-keyed shuffle at all. At 100 TB the id-adjacency pairing
    * generalizes to any (cand_id, ref_id) pair table joined the same
    * way. */
  def textRougeOverlap(spark: SparkSession, sf: String): DataFrame = {
    val uni = array_distinct(col("w"))
    val bi = array_distinct(expr(
      "transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))"))
    val sets = documents(spark, sf)
      .withColumn("w", words)
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), uni.as("u"), bi.as("b"))
    val a = sets.toDF("d1", "ua", "ba")
    val r = sets.toDF("d2", "ur", "br")
    a.join(r, col("d1") + 1 === col("d2"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("ua"), col("ur"))).cast("long").as("i1"),
        size(col("ur")).cast("long").as("r1"),
        size(array_intersect(col("ba"), col("br"))).cast("long").as("i2"),
        size(col("br")).cast("long").as("r2"))
      .select(col("d1"), col("d2"),
        (expr("i1 * 100000000 DIV r1").cast("double") / 100000000L)
          .as("rouge1_recall"),
        (expr("i2 * 100000000 DIV r2").cast("double") / 100000000L)
          .as("rouge2_recall"))
      .orderBy(col("d1"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "text_rouge_overlap"    -> (textRougeOverlap _),
    "text_repetition_filter" -> (textRepetitionFilter _),
    "dedup_bloom_prefilter"  -> (dedupBloomPrefilter _),
    "dedup_keep_best"        -> (dedupKeepBest _),
    "text_zipf_fit"          -> (textZipfFit _),
    "text_vocab_coverage"    -> (textVocabCoverage _),
    "text_hapax_ratio"       -> (textHapaxRatio _),
    "text_collapse_repeats"  -> (textCollapseRepeats _),
    "text_length_histogram"  -> (textLengthHistogram _),
    "text_token_entropy"     -> (textTokenEntropy _),
    "text_heavy_hitters"     -> (textHeavyHitters _),
    "text_perplexity_lm"     -> (textPerplexityLm _),
    "text_domain_mix"        -> (textDomainMix _),
    "dedup_sentence_global"  -> (dedupSentenceGlobal _),
    "text_classifier_linear" -> (textClassifierLinear _),
    "text_bpe_pair_counts"   -> (textBpePairCounts _),
    "dedup_url_canonical"    -> (dedupUrlCanonical _),
    "sim_bm25_rank"          -> (simBm25Rank _),
    "sim_sparse_cosine_topk" -> (simSparseCosineTopk _),
    "text_importance_resample" -> (textImportanceResample _),
    "text_bpe_train_merges"    -> (textBpeTrainMerges _),
    "text_bpe_encode"          -> (textBpeEncode _),
    "dedup_substring_window"   -> (dedupSubstringWindow _),
    "text_kneser_ney_lm"       -> (textKneserNeyLm _),
    "text_filter_funnel"       -> (textFilterFunnel _),
  )

  /** #213's fixed inference-time merge table, RANK ORDER — the single
    * source of truth for both the Spark encoder and its generated
    * oracle CTE chain. Later entries deliberately consume earlier
    * merges' output symbols ('th'+'e', 'er'+'s') so the rank order is
    * observable in the result. */
  private val bpeEncodeMerges: Seq[(String, String)] =
    Seq("t h", "th e", "i n", "a n", "e r", "o n", "r e", "er s")
      .map(p => p -> p.replace(" ", ""))

  /** #213 — BPE tokenizer ENCODE (round 12): apply a FIXED learned
    * merge table to the corpus — the inference-time half of the
    * tokenizer whose training loop is #209 (HF-tokenizers/
    * sentencepiece apply: vocab is frozen, text is symbolized then
    * merges replay in rank order). Same engine-aligned scan contract
    * as #209: each merge is one boundary-delimited non-overlapping
    * left-to-right literal replace, identical in java.lang.String
    * and DuckDB replace(). Unlike training, encode NEVER aggregates
    * the corpus into vocabulary state — it is one narrow map per
    * document (8 chained replaces inside a single codegen'd
    * projection, zero shuffles before the final per-source
    * aggregate), so at 100 TB it scales as a pure scan: the merge
    * table rides the closure (real tokenizers: a broadcast ~50k-row
    * vocab), and per-source token totals partial-aggregate. */
  def textBpeEncode(spark: SparkSession, sf: String): DataFrame = {
    val words = documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
    val sym0 = rtrim(regexp_replace(col("w"), "(.)", "$1 "))
    val sym = bpeEncodeMerges.foldLeft(sym0) { case (s, (p, m)) =>
      trim(replace(concat(lit(" "), s, lit(" ")), lit(s" $p "), lit(s" $m ")))
    }
    words.select(col("source"),
        size(split(sym, " ")).as("n_tokens"),
        length(replace(sym, lit(" "), lit(""))).as("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        fp4(sum(col("n_chars")).cast("double") / sum(col("n_tokens")))
          .as("chars_per_token"))
      .orderBy(col("source"))
  }

  /** One BPE training iteration as chained CTEs: positional pair
    * counts → deterministic argmax (count DESC, pair ASC) → boundary-
    * delimited replace, mirroring [[textBpeTrainMerges]] stage for
    * stage. */
  private def bpeIterCte(k: Int): String = {
    val prev = s"w${k - 1}"
    s"""pc$k AS (
       |  SELECT t.toks[CAST(i AS INT)] || ' ' || t.toks[CAST(i AS INT) + 1]
       |           AS pair,
       |         sum(t.n) AS cnt
       |  FROM (SELECT string_split(sym, ' ') AS toks, n FROM $prev) t,
       |    LATERAL (SELECT unnest(range(1, len(t.toks))) AS i) r
       |  GROUP BY 1),
       |b$k AS (SELECT min(pair) AS pair, max(cnt) AS cnt FROM pc$k
       |        WHERE cnt = (SELECT max(cnt) FROM pc$k)),
       |w$k AS (SELECT trim(replace(' ' || sym || ' ', ' ' || b$k.pair || ' ',
       |               ' ' || replace(b$k.pair, ' ', '') || ' ')) AS sym, n
       |        FROM $prev CROSS JOIN b$k)""".stripMargin
  }

  val oracle: Map[String, String] = ListMap(
    "text_rouge_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |uni AS (SELECT DISTINCT doc_id, unnest(w) AS g FROM t),
        |bis AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t),
        |big AS (SELECT DISTINCT doc_id,
        |  w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS g FROM bis),
        |usize AS (SELECT doc_id, count(*) AS nu FROM uni GROUP BY 1),
        |bsize AS (SELECT doc_id, count(*) AS nb FROM big GROUP BY 1),
        |uint AS (
        |  SELECT a.doc_id AS d1, count(*) AS ni
        |  FROM uni a JOIN uni b ON b.doc_id = a.doc_id + 1 AND a.g = b.g
        |  GROUP BY 1),
        |bint AS (
        |  SELECT a.doc_id AS d1, count(*) AS ni
        |  FROM big a JOIN big b ON b.doc_id = a.doc_id + 1 AND a.g = b.g
        |  GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM t a JOIN t b ON b.doc_id = a.doc_id + 1)
        |SELECT p.d1, p.d2,
        |  CAST(coalesce(u.ni, 0) * 100000000 // su.nu AS DOUBLE)
        |    / 100000000 AS rouge1_recall,
        |  CAST(coalesce(bn.ni, 0) * 100000000 // sb.nb AS DOUBLE)
        |    / 100000000 AS rouge2_recall
        |FROM pairs p
        |JOIN usize su ON su.doc_id = p.d2
        |JOIN bsize sb ON sb.doc_id = p.d2
        |LEFT JOIN uint u ON u.d1 = p.d1
        |LEFT JOIN bint bn ON bn.d1 = p.d1
        |ORDER BY p.d1""".stripMargin,
    "text_filter_funnel" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |wcnt AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
        |stats AS (
        |  SELECT doc_id, max(c) AS maxf, sum(c) AS wc, count(*) AS ty
        |  FROM wcnt GROUP BY 1),
        |v AS (
        |  SELECT d.source,
        |    CASE WHEN length(d.text) < 100 THEN 'drop_short'
        |         WHEN d.lang <> 'en' THEN 'drop_lang'
        |         WHEN s.maxf * 5 > s.wc THEN 'drop_repeat'
        |         WHEN s.ty * 3 < s.wc THEN 'drop_diversity'
        |         ELSE 'kept' END AS verdict
        |  FROM documents d JOIN stats s ON d.doc_id = s.doc_id)
        |SELECT source, count(*) AS docs_in,
        |  CAST(sum(CASE WHEN verdict = 'drop_short' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS drop_short,
        |  CAST(sum(CASE WHEN verdict = 'drop_lang' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS drop_lang,
        |  CAST(sum(CASE WHEN verdict = 'drop_repeat' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS drop_repeat,
        |  CAST(sum(CASE WHEN verdict = 'drop_diversity' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS drop_diversity,
        |  CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS kept
        |FROM v GROUP BY source ORDER BY source""".stripMargin,
    "text_kneser_ney_lm" ->
      """WITH t AS (
        |  SELECT source, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |s AS (SELECT source, w, unnest(range(1, len(w))) AS i FROM t),
        |bg AS (SELECT source, w[CAST(i AS INT)] AS w1,
        |              w[CAST(i AS INT) + 1] AS w2 FROM s),
        |c AS (SELECT w1, w2, count(*) AS n FROM bg GROUP BY w1, w2),
        |uni AS (SELECT w1, sum(n) AS c1, count(*) AS fanout
        |        FROM c GROUP BY w1),
        |cont AS (SELECT w2, count(*) AS nc FROM c GROUP BY w2),
        |nt AS (SELECT count(*) AS bt FROM c),
        |kn AS (
        |  SELECT c.w1, c.w2,
        |    CAST(CAST(round(
        |      greatest(CAST(n AS DOUBLE) - 0.75, 0.0) / c1
        |        + 0.75 * fanout / c1 * (CAST(nc AS DOUBLE) / bt), 8)
        |      AS DECIMAL(18,8)) AS DOUBLE) AS p
        |  FROM c JOIN uni USING (w1) JOIN cont USING (w2) CROSS JOIN nt)
        |SELECT bg.source, count(*) AS n_bigrams,
        |  round(CAST(sum(CAST(round(-ln(p), 8) AS DECIMAL(18,8)))
        |             AS DOUBLE) / count(*), 6) AS avg_nll,
        |  round(exp(CAST(sum(CAST(round(-ln(p), 8) AS DECIMAL(18,8)))
        |             AS DOUBLE) / count(*)), 4) AS ppl
        |FROM bg JOIN kn ON bg.w1 = kn.w1 AND bg.w2 = kn.w2
        |GROUP BY bg.source ORDER BY bg.source""".stripMargin,
    "dedup_substring_window" ->
      """WITH w AS (
        |  SELECT doc_id, source, substr(text, CAST(i AS INT), 30) AS win
        |  FROM documents,
        |    unnest(generate_series(1, greatest(length(text) - 29, 1), 10))
        |      AS t(i)),
        |dw AS (SELECT DISTINCT doc_id, source, win FROM w),
        |dup AS (SELECT win FROM dw GROUP BY win
        |        HAVING count(DISTINCT doc_id) >= 2),
        |per_doc AS (
        |  SELECT doc_id, source, count(*) AS n_win,
        |    sum(CASE WHEN dup.win IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
        |  FROM dw LEFT JOIN dup ON dw.win = dup.win
        |  GROUP BY doc_id, source)
        |SELECT source, count(*) AS docs,
        |  CAST(sum(n_win) AS BIGINT) AS windows,
        |  CAST(sum(n_dup) AS BIGINT) AS dup_windows,
        |  CAST(sum(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_with_dup,
        |  CAST(max(n_dup) AS BIGINT) AS max_dup
        |FROM per_doc GROUP BY source ORDER BY source""".stripMargin,
    "text_repetition_filter" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |b2 AS (
        |  SELECT doc_id, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS g
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t)),
        |c2 AS (SELECT doc_id, g, count(*) AS n FROM b2 GROUP BY doc_id, g),
        |d2 AS (SELECT doc_id, max(n) AS top_n, sum(n) AS tot2 FROM c2 GROUP BY doc_id),
        |b5 AS (
        |  SELECT doc_id,
        |    w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' ||
        |    w[CAST(i AS INT) + 2] || ' ' || w[CAST(i AS INT) + 3] || ' ' ||
        |    w[CAST(i AS INT) + 4] AS g
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM t)),
        |c5 AS (SELECT doc_id, g, count(*) AS n FROM b5 GROUP BY doc_id, g),
        |d5 AS (
        |  SELECT doc_id, sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS dup_n,
        |         sum(n) AS tot5
        |  FROM c5 GROUP BY doc_id)
        |SELECT d2.doc_id AS doc_id,
        |  round(CAST(top_n AS DOUBLE) / tot2, 4) AS top_bigram_frac,
        |  round(CAST(dup_n AS DOUBLE) / tot5, 4) AS dup_5gram_frac,
        |  (CAST(top_n AS DOUBLE) / tot2 > 0.18
        |   OR CAST(dup_n AS DOUBLE) / tot5 > 0.30) AS repetitive
        |FROM d2 JOIN d5 ON d2.doc_id = d5.doc_id
        |ORDER BY d2.doc_id""".stripMargin,
    "dedup_bloom_prefilter" ->
      (s"WITH ${LlmOps.shingleSetsCte}," +
      """
        |bench AS (SELECT DISTINCT shingle FROM sets WHERE doc_id < 5),
        |d AS (SELECT doc_id, lang FROM documents)
        |SELECT d.lang, count(DISTINCT s.doc_id) AS n_docs_hit,
        |  count(*) AS n_shingle_hits
        |FROM sets s JOIN bench b ON s.shingle = b.shingle
        |JOIN d ON d.doc_id = s.doc_id
        |WHERE s.doc_id >= 5
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin),
    "dedup_keep_best" ->
      (s"WITH RECURSIVE ${LlmOps.componentsSqlCte},\n${LlmOps.qualitySqlCte}," +
      """
        |j AS (SELECT comp.component, comp.node AS doc_id, qual.quality
        |      FROM comp JOIN qual ON qual.doc_id = comp.node),
        |r AS (
        |  SELECT component, doc_id, quality,
        |    row_number() OVER (PARTITION BY component
        |                       ORDER BY quality DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY component) AS n_members,
        |    max(quality) OVER (PARTITION BY component) AS best_quality
        |  FROM j)
        |SELECT component, doc_id AS keep_id,
        |  CAST(n_members AS BIGINT) AS n_members, best_quality
        |FROM r WHERE rn = 1 ORDER BY component""".stripMargin),
    "text_hapax_ratio" ->
      """WITH wc AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |c AS (SELECT lang, w, count(*) AS c FROM wc GROUP BY lang, w),
        |s AS (
        |  SELECT lang, count(*) AS n_terms,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax,
        |    CAST(sum(c) AS BIGINT) AS n_tokens
        |  FROM c GROUP BY lang)
        |SELECT lang, n_terms, n_hapax, n_tokens,
        |  floor(CAST(n_hapax AS DOUBLE) / n_terms * 1000000 + 0.5)
        |    / 1000000.0 AS hapax_term_share,
        |  floor(CAST(n_hapax AS DOUBLE) / n_tokens * 1000000 + 0.5)
        |    / 1000000.0 AS hapax_token_share
        |FROM s ORDER BY lang""".stripMargin,
    "text_vocab_coverage" ->
      """WITH wc AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT w, count(*) AS c FROM wc GROUP BY w),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM c),
        |r AS (SELECT c, w,
        |    row_number() OVER (ORDER BY c DESC, w) AS r,
        |    CAST(sum(c) OVER (ORDER BY c DESC, w
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM c)
        |SELECT r AS top_k, cum AS tokens_covered, n_tokens,
        |  floor(CAST(cum AS DOUBLE) / n_tokens * 1000000 + 0.5)
        |    / 1000000.0 AS coverage
        |FROM r CROSS JOIN t WHERE r IN (1, 5, 10, 20)
        |ORDER BY top_k""".stripMargin,
    "text_zipf_fit" ->
      """WITH wc AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT w, count(*) AS c FROM wc GROUP BY w),
        |top AS (SELECT w, c FROM c ORDER BY c DESC, w LIMIT 100),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r
        |      FROM top),
        |g AS (SELECT c,
        |    CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000000) AS BIGINT) AS x9,
        |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000000) AS BIGINT) AS y9
        |  FROM r),
        |s AS (SELECT count(*) AS n_terms, max(c) AS max_count,
        |    sum(x9) AS sx, sum(y9) AS sy,
        |    sum(CAST(x9 AS HUGEINT) * y9) AS sxy,
        |    sum(CAST(x9 AS HUGEINT) * x9) AS sxx
        |  FROM g),
        |f AS (SELECT n_terms, max_count, sx, sy,
        |    floor(CAST(n_terms * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |      / CAST(n_terms * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000.0 AS slope
        |  FROM s)
        |SELECT n_terms, CAST(max_count AS BIGINT) AS max_count, slope,
        |  floor(((CAST(sy AS DOUBLE) - slope * sx) / n_terms / 1e9)
        |        * 1000000 + 0.5) / 1000000.0 AS intercept_ln
        |FROM f""".stripMargin,
    "text_collapse_repeats" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |r AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(range(2, len(w) + 1),
        |      i -> w[CAST(i AS INT)] = w[CAST(i AS INT) - 1])) AS BIGINT)
        |      AS n_repeats
        |  FROM t)
        |SELECT doc_id, n_tokens, n_repeats,
        |  n_tokens - n_repeats AS n_after_collapse,
        |  n_repeats > 0 AS has_repeats
        |FROM r ORDER BY doc_id""".stripMargin,
    "text_length_histogram" ->
      """WITH h AS (
        |  SELECT n_chars // 50 AS bucket, count(*) AS n_docs,
        |    min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |  FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS n_total FROM documents)
        |SELECT bucket * 50 AS bucket_lo, (bucket + 1) * 50 - 1 AS bucket_hi,
        |  n_docs, min_chars, max_chars,
        |  round(CAST(n_docs AS DOUBLE) / n_total, 4) AS share
        |FROM h, t ORDER BY bucket_lo""".stripMargin,
    "text_token_entropy" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
        |a AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS n_distinct,
        |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        |  round((ln(CAST(n_tokens AS DOUBLE)) - clogc / n_tokens) / ln(2.0), 4)
        |    AS entropy_bits
        |FROM a ORDER BY doc_id""".stripMargin,
    "text_heavy_hitters" ->
      """WITH c AS (
        |  SELECT w AS token, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT token, n, round(CAST(n AS DOUBLE) / total, 4) AS share
        |FROM c, t
        |WHERE CAST(n AS DOUBLE) / total > 0.033
        |ORDER BY n DESC, token""".stripMargin,
    "text_perplexity_lm" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |s AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t),
        |bg AS (SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
        |       FROM s),
        |bgm AS (SELECT doc_id, w1, w2, count(*) AS m FROM bg GROUP BY 1, 2, 3),
        |c2 AS (SELECT w1, w2, sum(m) AS c2 FROM bgm GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
        |vv AS (SELECT count(DISTINCT wrd) AS v FROM
        |        (SELECT unnest(string_split(text, ' ')) AS wrd FROM documents)),
        |sc AS (SELECT b.doc_id, sum(b.m) AS nb,
        |        sum(-b.m * ln((c2.c2 + 1.0) / (c1.c1 + vv.v))) AS nll
        |       FROM bgm b JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
        |       JOIN c1 ON c1.w1 = b.w1, vv
        |       GROUP BY b.doc_id)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
        |  round(nll / nb, 4) AS avg_nll, round(exp(nll / nb), 4) AS ppl
        |FROM sc ORDER BY doc_id""".stripMargin,
    "text_domain_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |t AS (SELECT sum(sqrt(n_docs)) AS wsum, sum(n_docs) AS n_total FROM c),
        |r AS (SELECT lang, n_docs, sqrt(n_docs) / t.wsum AS target_share,
        |        CAST(floor(least(1.0, sqrt(n_docs) / t.wsum
        |          * (t.n_total / 2.0) / n_docs) * 65536) AS INT) AS thr
        |      FROM c, t),
        |d AS (SELECT doc_id, lang, n_chars,
        |        substr(md5(CAST(doc_id AS VARCHAR) || '#mix'), 1, 4) AS h
        |      FROM documents),
        |k AS (SELECT d.lang, r.n_docs, r.target_share, d.n_chars,
        |        ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        |        + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        |        + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        |        + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) < r.thr AS kept
        |      FROM d JOIN r ON r.lang = d.lang)
        |SELECT lang, any_value(n_docs) AS n_docs,
        |  round(any_value(target_share), 4) AS target_share,
        |  count(*) FILTER (WHERE kept) AS n_sampled,
        |  CAST(sum(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    "dedup_sentence_global" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 1),
        |sp AS (SELECT doc_id, CAST(p AS INT) AS pos,
        |        array_to_string(w[(CAST(p AS INT) * 5 + 1):(CAST(p AS INT) * 5 + 5)], ' ') AS span
        |       FROM t, LATERAL (SELECT unnest(range(0,
        |         CAST(ceil(len(w) / 5.0) AS BIGINT))) AS p)),
        |occ AS (SELECT doc_id, pos, span, ROW(doc_id, pos) AS occ FROM sp),
        |fo AS (SELECT span, min(occ) AS keep_occ FROM occ GROUP BY span)
        |SELECT o.doc_id, count(*) AS n_spans,
        |  count(*) FILTER (WHERE o.occ <> f.keep_occ) AS n_dropped,
        |  string_agg(o.span, ' ' ORDER BY o.pos) FILTER (WHERE o.occ = f.keep_occ)
        |    AS clean_text
        |FROM occ o JOIN fo f ON f.span = o.span
        |GROUP BY o.doc_id ORDER BY o.doc_id""".stripMargin,
    "text_classifier_linear" ->
      """WITH tk AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  WHERE len(tok) > 0),
        |f AS (SELECT doc_id,
        |        substr(md5(tok || '#feat'), 1, 3) AS hx
        |      FROM tk),
        |w AS (SELECT doc_id,
        |        (((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 256
        |         + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16
        |         + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1)) % 1997)
        |          / 1997.0 - 0.5 AS w
        |      FROM f)
        |SELECT doc_id, count(*) AS n_tokens, round(avg(w), 6) AS score,
        |  CASE WHEN round(avg(w), 6) > 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_bpe_pair_counts" ->
      """WITH wf AS (
        |  SELECT w, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 2 GROUP BY w),
        |pr AS (
        |  SELECT substring(w, CAST(i AS INT), 2) AS pair, n
        |  FROM wf, LATERAL (SELECT unnest(range(1, length(w))) AS i) r)
        |SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences
        |FROM pr GROUP BY pair
        |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin,
    "dedup_url_canonical" ->
      """WITH urls AS (
        |  SELECT doc_id, n_chars,
        |    'HTTPS://' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END ||
        |    'Site' || CAST(doc_id % 40 AS VARCHAR) || '.Example.ORG' ||
        |    CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
        |    '/articles/' || substr(md5(CAST(doc_id % 40 AS VARCHAR)), 1, 8) ||
        |    CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
        |    CASE doc_id % 4
        |      WHEN 0 THEN '?utm_source=feed&page=2&utm_campaign=x'
        |      WHEN 1 THEN '?page=2&utm_medium=email'
        |      WHEN 2 THEN '?page=2'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN '#section-3' ELSE '' END AS url
        |  FROM documents),
        |canon AS (
        |  SELECT doc_id, n_chars,
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(
        |        regexp_replace(lower(regexp_replace(url, '#.*$', '')),
        |         ':443/', '/'),
        |        ':443\\?', '?'),
        |       ':443$', ''),
        |      '(utm_[a-z]+=[^&#]*&?)', '', 'g'),
        |     '[?&]+$', '') AS c0
        |  FROM urls),
        |canon2 AS (
        |  SELECT doc_id, n_chars,
        |    regexp_replace(regexp_replace(c0, '\\?&', '?'), '/$', '') AS curl
        |  FROM canon)
        |SELECT curl, count(*) AS n_dups,
        |  min(doc_id) FILTER (WHERE n_chars = mx) AS keeper_doc_id,
        |  CAST(mx AS BIGINT) AS keeper_n_chars
        |FROM (SELECT *, max(n_chars) OVER (PARTITION BY curl) AS mx
        |      FROM canon2)
        |GROUP BY curl, mx ORDER BY curl""".stripMargin,
    "sim_bm25_rank" ->
      """WITH q AS (
        |  SELECT doc_id AS q_id FROM documents
        |  ORDER BY md5(CAST(doc_id AS VARCHAR) || '#bm'), doc_id LIMIT 8),
        |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, sum(tf) AS dlen FROM tf GROUP BY doc_id),
        |st AS (SELECT count(*) AS n_docs,
        |              CAST(sum(dlen) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |qt AS (SELECT tf.doc_id AS q_id, term FROM tf JOIN q ON tf.doc_id = q.q_id),
        |c AS (
        |  SELECT qt.q_id, tf.doc_id, tf.term, tf.tf FROM tf
        |  JOIN qt ON tf.term = qt.term AND tf.doc_id <> qt.q_id),
        |s AS (
        |  SELECT c.q_id, c.doc_id,
        |    CAST(round(
        |      ln(((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) + 1.0) *
        |      ((CAST(c.tf AS DOUBLE) * 2.2) /
        |        (c.tf + 1.2 * (0.25 + 0.75 * (dlen / avgdl)))),
        |      6) AS DECIMAL(20,6)) AS contrib
        |  FROM c JOIN dfq ON c.term = dfq.term
        |         JOIN dl ON c.doc_id = dl.doc_id
        |         CROSS JOIN st),
        |g AS (
        |  SELECT q_id, doc_id, round(CAST(sum(contrib) AS DOUBLE), 4) AS bm25
        |  FROM s GROUP BY q_id, doc_id),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY bm25 DESC, doc_id) AS rnk
        |  FROM g)
        |SELECT q_id, CAST(rnk AS INT) AS rnk, doc_id, bm25
        |FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,
    "sim_sparse_cosine_topk" ->
      """WITH q AS (
        |  SELECT doc_id AS q_id FROM documents
        |  ORDER BY md5(CAST(doc_id AS VARCHAR) || '#sc'), doc_id LIMIT 8),
        |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |w AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df), 6)
        |         AS DECIMAL(20,6)) AS w
        |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN nd
        |  WHERE df < n_docs),
        |nrm AS (
        |  SELECT doc_id, sum(CAST(w * w AS DECIMAL(38,12))) AS nrm2
        |  FROM w GROUP BY doc_id HAVING sum(CAST(w * w AS DECIMAL(38,12))) > 0),
        |qw AS (
        |  SELECT q.q_id, w.term, w.w AS wq
        |  FROM w JOIN q ON w.doc_id = q.q_id),
        |dp AS (
        |  SELECT qw.q_id, w.doc_id,
        |    sum(CAST(w.w * qw.wq AS DECIMAL(38,12))) AS dp
        |  FROM w JOIN qw ON w.term = qw.term AND w.doc_id <> qw.q_id
        |  GROUP BY qw.q_id, w.doc_id),
        |s AS (
        |  SELECT dp.q_id, dp.doc_id,
        |    round(CAST(dp.dp AS DOUBLE)
        |      / (sqrt(CAST(qn.nrm2 AS DOUBLE))
        |         * sqrt(CAST(dn.nrm2 AS DOUBLE))), 4) AS cos_sim
        |  FROM dp JOIN nrm qn ON qn.doc_id = dp.q_id
        |          JOIN nrm dn ON dn.doc_id = dp.doc_id),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY cos_sim DESC, doc_id) AS rnk
        |  FROM s)
        |SELECT q_id, CAST(rnk AS INT) AS rnk, doc_id, cos_sim
        |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "text_importance_resample" ->
      """WITH t AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, source, count(*) AS nw, count(DISTINCT term) AS nd
        |  FROM t GROUP BY doc_id, source),
        |c AS (
        |  SELECT doc_id, source,
        |    round(CAST(nd AS DOUBLE) / nw, 4) AS weight,
        |    CAST(nd * 4 AS DOUBLE) / nw AS te,
        |    CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)
        |      AS DOUBLE) / 65536.0 AS u
        |  FROM (SELECT *, md5(CAST(doc_id AS VARCHAR) || '#rs') AS h FROM st))
        |SELECT doc_id, source, weight,
        |  CAST(floor(te) +
        |       (CASE WHEN u < te - floor(te) THEN 1 ELSE 0 END) AS INT)
        |    AS n_copies
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_bpe_train_merges" ->
      ("""WITH wf AS (
         |  SELECT w, count(*) AS n FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE len(w) >= 2 GROUP BY w),
         |w0 AS (
         |  SELECT rtrim(regexp_replace(w, '(.)', '\1 ', 'g')) AS sym, n
         |  FROM wf),
         |""".stripMargin +
       (1 to 3).map(bpeIterCte).mkString(",\n") +
       """
         |SELECT 1 AS step, pair AS merge_pair, replace(pair, ' ', '') AS merged,
         |  CAST(cnt AS BIGINT) AS n_occurrences FROM b1
         |UNION ALL
         |SELECT 2, pair, replace(pair, ' ', ''), CAST(cnt AS BIGINT) FROM b2
         |UNION ALL
         |SELECT 3, pair, replace(pair, ' ', ''), CAST(cnt AS BIGINT) FROM b3
         |ORDER BY step""".stripMargin),
    "text_bpe_encode" ->
      ("""WITH w AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |s0 AS (
         |  SELECT source, rtrim(regexp_replace(w, '(.)', '\1 ', 'g')) AS sym
         |  FROM w WHERE len(w) >= 2),
         |""".stripMargin +
       bpeEncodeMerges.zipWithIndex.map { case ((p, m), i) =>
         s"s${i + 1} AS (SELECT source, trim(replace(' ' || sym || ' ', ' $p ', ' $m ')) AS sym FROM s$i)"
       }.mkString(",\n") +
       s"""
         |, t AS (
         |  SELECT source, len(string_split(sym, ' ')) AS n_tokens,
         |    len(replace(sym, ' ', '')) AS n_chars
         |  FROM s${bpeEncodeMerges.size})
         |SELECT source, count(*) AS n_words,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  floor(CAST(sum(n_chars) AS DOUBLE) / sum(n_tokens) * 10000 + 0.5)
         |    / 10000.0 AS chars_per_token
         |FROM t GROUP BY source ORDER BY source""".stripMargin),
  )
}
