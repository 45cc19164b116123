package graft.pipeline

import graft.Tables
import graft.functions.{rolling_hash, simhash64}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (SURVEY §2 B-5 + the mandated
  * training-data-pipeline set): token counting, quality scoring,
  * language-ID heuristic, document fingerprinting. All row-local —
  * no shuffle except the final aggregations.
  */
object TextAnalysis {

  private def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Q11: grouped document stats by language. */
  def statsByLang(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("n_chars"), 4).as("avg_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .orderBy("lang")

  /** Q18: whitespace-token counts aggregated by source. */
  def tokenStatsBySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelize(Tables(spark, dir, "documents"))
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
    docs.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 4).as("avg_tokens"))
      .orderBy("source")
  }

  /** Q19: per-document quality signals — token count, distinct-token
    * count, type-token ratio (lexical diversity), mean token length.
    */
  def qualityPerDoc(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelize(Tables(spark, dir, "documents"))
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        round(size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")).cast("double"), 6).as("ttr"),
        round((length(col("text")) - size(col("toks")) + 1).cast("double") /
          size(col("toks")).cast("double"), 6).as("avg_tok_len"))
      .orderBy("doc_id")

  /** Language marker sets for the n-gram/stopword language-ID heuristic.
    * Fixed tie-break order = declaration order.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "las", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "les", "et", "des", "une", "est", "dans", "pour"),
    "zh" -> Seq("的", "是", "不", "我", "了", "在", "有", "人"))

  /** Q17: heuristic language ID — argmax of marker-token hits, with the
    * fixed tie-break order above; "und" (undetermined) when no marker hits.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelize(Tables(spark, dir, "documents"))
      .withColumn("toks", tokens(lower(col("text"))))
    val scored = LangMarkers.foldLeft(docs) { case (df, (lang, markers)) =>
      df.withColumn(s"score_$lang",
        size(array_intersect(col("toks"), typedLit(markers))))
    }
    // argmax with declaration-order tie-break; seeded with score 0 so a
    // marker-free document keeps the "und" label (only a strictly
    // positive marker count overrides the undetermined default)
    val best = LangMarkers.map(_._1).foldLeft((lit(0), lit("und"))) {
      case ((bestScore, bestLang), lang) =>
        val s = col(s"score_$lang")
        (when(s > bestScore, s).otherwise(bestScore),
          when(s > bestScore, lit(lang)).otherwise(bestLang))
    }
    scored
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        best._2.as("pred_lang"))
      .orderBy("doc_id")
  }

  /** English stopwords for the quality-ratio heuristic: the lang-ID "en"
    * marker set (derived, so the lists cannot drift) plus the most
    * frequent remaining function words.
    */
  val EnStopwords: Seq[String] =
    LangMarkers.head._2 ++ Seq(
      "a", "an", "for", "on", "as", "are", "was", "be", "by", "at", "it", "this")

  /** k / n rounded half-up to 6 decimals in integer arithmetic (see
    * [[qualityRatios]]), 0.0 when n = 0.
    */
  private def ratio6(k: String, n: String): Column =
    when(col(n) === 0L, lit(0.0)).otherwise(
      expr(s"cast(($k * 2000000 + $n) div ($n * 2) as double)") / 1000000.0)

  /** Q36: heuristic quality ratios per document — punctuation density,
    * uppercase-letter density, stopword fraction of tokens, and
    * whitespace fraction. The standard cheap filters a training-data
    * pipeline applies before expensive scoring. Ratios are rounded
    * half-up in INTEGER arithmetic ((2k·10^6 + n) div 2n, then /10^6):
    * `round(double, 6)` ties diverge between Spark (shortest-decimal
    * HALF_UP) and DuckDB (binary) — the q35 bug class.
    */
  def qualityRatios(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelize(Tables(spark, dir, "documents"))
    val toks = tokens(lower(col("text")))
    def ratio6(k: String, n: String): Column =
      expr(s"cast(($k * 2000000 + $n) div ($n * 2) as double)") / 1000000.0
    docs.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[\\p{Punct}]", ""))).cast("long")
          .as("n_punct"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[A-Z]", ""))).cast("long")
          .as("n_upper"),
        // explicit class: Java \s includes \x0B, RE2 (DuckDB) \s does not
        (length(col("text")) -
          length(regexp_replace(col("text"), "[ \\t\\n\\f\\r]", ""))).cast("long")
          .as("n_ws"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => t.isInCollection(EnStopwords))).cast("long")
          .as("n_stop"))
      .select(
        col("doc_id"),
        ratio6("n_punct", "n_chars").as("punct_ratio"),
        ratio6("n_upper", "n_chars").as("upper_ratio"),
        ratio6("n_ws", "n_chars").as("ws_ratio"),
        ratio6("n_stop", "n_tokens").as("stopword_ratio"))
      .orderBy("doc_id")
  }

  /** BPE-ish pre-tokenization pattern: letter runs, digit runs, and
    * single non-alphanumeric glyphs — the class of regex GPT-style BPE
    * tokenizers apply before byte-pair merging. The whitespace class is
    * explicit ([ \t\n\f\r], like [[qualityRatios]]): Java `\s` includes
    * \x0B where RE2 (DuckDB) `\s` does not, the engine-divergence class
    * q36 already avoids.
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]"

  /** Q29: token counting with the BPE-ish regex vs plain whitespace —
    * per-doc counts plus the subword blow-up ratio (integer half-up
    * rounded, the q35 tie-divergence fix).
    */
  def bpeTokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelize(Tables(spark, dir, "documents"))
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit(BpeTokenPattern), lit(0)))
          .cast("long").as("bpe_tokens"))
      .withColumn("blowup",
        expr("cast((bpe_tokens * 2000000 + ws_tokens) div (ws_tokens * 2) as double)")
          / 1000000.0)
      .orderBy("doc_id")

  /** Q91: token counting under a REAL BPE merges table
    * ([[graft.functions.Bpe]] — greedy lowest-rank merge application
    * against the committed fixture table), next to the whitespace
    * count for the blowup ratio a budget planner actually uses. This
    * promotes q29's regex stand-in to tokenizer-faithful accounting;
    * the oracle is an independent Python re-implementation of the same
    * published algorithm (tools/make_golden.py), not a Spark dump.
    *
    * Scale shape: row-local native kernel inside whole-stage codegen —
    * no shuffle, no UDF, merges table resolved once per JVM from the
    * classpath.
    */
  def q91BpeMergeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelize(Tables(spark, dir, "documents"))
      .select(
        col("doc_id"),
        // Match Python str.split() — the golden generator — exactly:
        // regex-trim ALL whitespace (Spark's trim strips spaces only),
        // and guard the empty case, where Spark's split("") yields
        // [""] (size 1) but Python yields []
        {
          val t = regexp_replace(col("text"), "^\\s+|\\s+$", "")
          when(length(t) === 0, 0L)
            .otherwise(size(split(t, "\\s+")).cast("long"))
        }.as("ws_tokens"),
        graft.functions.bpe_token_count(col("text")).as("bpe_tokens"))
      .orderBy("doc_id")

  /** Q44: per-source embedding centroids — the vector aggregation a
    * pipeline runs to build class/source prototypes (cluster seeding,
    * drift monitoring, nearest-centroid labeling). Shape: explode to
    * (source, dim, component) rows, one hash aggregation — fully
    * distributed, no array buffers on the driver; the output is tiny
    * (sources × dims).
    *
    * Each component is quantized to an exact micro-unit integer
    * (`floor(x * 1e6)` — float→double cast, one IEEE multiply, floor:
    * every step bit-deterministic in any engine) BEFORE the sum, so the
    * aggregate is an order-independent integer and the final centroid
    * (two IEEE divisions on identical inputs) is bit-identical no matter
    * how partitions combine. A raw `round(avg(float), 4)` is NOT: double
    * summation is order-dependent, and a sum landing on a rounding
    * boundary flips the 4th decimal between engines (observed at sf0.01
    * in round 3). Quantization error is < 1e-6 per component — noise for
    * a prototype vector.
    */
  def sourceCentroids(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select("doc_id", "source")
    val e = Tables(spark, dir, "embeddings")
    docs.join(e, col("doc_id") === col("vec_id"))
      .select(col("source"), posexplode(col("embedding")))
      .groupBy(col("source"), col("pos").cast("int").as("dim"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(floor(col("col").cast("double") * lit(1000000.0)).cast("long"))
          .as("sum_micro"))
      .select(
        col("source"), col("dim"), col("n_vecs"),
        (col("sum_micro").cast("double") / col("n_vecs").cast("double")
          / lit(1000000.0)).as("centroid"))
      .orderBy("source", "dim")
  }

  /** Q47: distinctive terms per source — the TF-IDF-style profiling a
    * corpus pipeline runs to characterize/diagnose sources (what makes
    * src7 different?). tf = term count within the source, df = number of
    * sources containing the term, score = tf/df: plain rarity-weighted
    * frequency. Deliberately NOT `log`-scaled — `ln` is a libm call with
    * no cross-engine bit guarantee, while one IEEE division of two exact
    * integers is bit-identical everywhere, and log is monotone in 1/df
    * so per-source ranking by tf/df equals ranking by tf·log-idf only
    * when tf ties don't interleave — the tf/df contract is the one we
    * pin. Two hash aggregations + one join on term + one per-source
    * top-k window: every stage partial-aggregates before shuffling, and
    * the top-k window input is already collapsed to (source, term) rows.
    */
  def distinctiveTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val terms = Tables.parallelize(Tables(spark, dir, "documents"))
      .select(col("source"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy("source", "term").agg(count(lit(1)).as("tf"))
    // tf rows are unique per (source, term), so counting rows per term
    // IS the number of sources containing the term
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("source")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .withColumn("score", col("tf").cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("source", "rank", "term", "tf", "df", "score")
      .orderBy("source", "rank")
  }

  /** Q57: embedding outliers vs the source centroid — the quality
    * filter that catches mislabeled/contaminated vectors before
    * training (drop or re-route documents far from their class
    * prototype). All distance arithmetic is EXACT integers: components
    * kilo-quantized (`floor(x·1000)`, the q44/q52 discipline), and the
    * per-vector score is Σ_dims (xk·n − Σxk)² — the centroid never
    * materializes as a float, the n² factor divides out at the end in
    * one deterministic double division. Exact for corpora up to ~190k
    * vectors per source (the Σd² long bound at |xk| ≤ 1000, 64 dims);
    * beyond that, shard sources before scoring.
    *
    * Shape: explode → one (source, dim) aggregation → broadcastable
    * (sources × dims) sum table joined back → per-vector aggregation.
    * Two shuffles total, both on collapsed keys.
    */
  def sourceOutliers(spark: SparkSession, dir: String,
      msdThreshold: Double = 0.0165): DataFrame = {
    val docs = Tables(spark, dir, "documents").select("doc_id", "source")
    val e = Tables(spark, dir, "embeddings")
    // materialized once: xk feeds BOTH the (source, dim) sums and the
    // join-back side, and Spark has no cross-subtree CSE — without this
    // the scan+explode of the whole corpus runs twice (same pattern as
    // cleanCorpus/IvfIndex)
    val xk = docs.join(e, col("doc_id") === col("vec_id"))
      .select(col("vec_id"), col("source"), posexplode(col("embedding")))
      .select(col("vec_id"), col("source"), col("pos").cast("int").as("dim"),
        floor(col("col").cast("double") * lit(1000.0)).cast("long").as("xk"))
      .localCheckpoint()
    val sums = xk.groupBy("source", "dim")
      .agg(count(lit(1)).as("n"), sum("xk").as("sm"))
    xk.join(sums, Seq("source", "dim"))
      .withColumn("d", col("xk") * col("n") - col("sm"))
      .groupBy("vec_id", "source", "n")
      .agg(sum(col("d") * col("d")).as("dist2_scaled"))
      .select(
        col("vec_id"), col("source"), col("n").as("n_vecs"),
        col("dist2_scaled"),
        (col("dist2_scaled").cast("double")
          / (col("n") * col("n") * lit(64L) * lit(1000000L)).cast("double"))
          .as("msd"))
      .withColumn("is_outlier", col("msd") > msdThreshold)
      .orderBy("vec_id")
  }

  /** Q21: document fingerprints — rolling hash + simhash per doc. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelize(Tables(spark, dir, "documents"))
      .select(
        col("doc_id"),
        rolling_hash(col("text")).as("content_fp"),
        simhash64(col("text")).as("simhash"))
      .orderBy("doc_id")

  /** Word n-grams of a token-array column, joined with single spaces.
    * Guarded like [[graft.pipeline.Dedup.charGramsOf]]: fewer than `n`
    * tokens produces an empty array (Spark `sequence(1, 0)` would
    * otherwise DESCEND and fabricate grams).
    */
  private[pipeline] def wordGrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Q61: word-level repetition metrics — the Gopher-style repetition
    * filters (Rae et al. 2021 §A1.1, adapted to the fixtures' word-salad
    * single-line texts: line-level fractions are meaningless here, so
    * the signals are word- and word-n-gram-level). Per document:
    * duplicate word / 2-gram / 3-gram fractions and the most-frequent
    * word's share of all words.
    *
    * Scale: gram fractions are row-local array ops inside one narrow
    * pass; the top-word share needs true per-(doc, word) counts, which
    * is one explode + hash aggregation keyed by doc_id — partial
    * (map-side) aggregation collapses the per-doc word multiset before
    * the shuffle, so shuffled volume is distinct words per doc, not
    * words. All fractions use the integer half-up rounding discipline
    * ((2k·10^6 + n) div 2n — the q35 tie-divergence fix).
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelize(Tables(spark, dir, "documents"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .localCheckpoint() // feeds the row-local pass AND the top-word agg
    val rowLocal = docs
      .withColumn("g2", wordGrams(col("toks"), 2))
      .withColumn("g3", wordGrams(col("toks"), 3))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        (size(col("toks")) - size(array_distinct(col("toks")))).cast("long")
          .as("n_dup_words"),
        size(col("g2")).cast("long").as("n_2grams"),
        (size(col("g2")) - size(array_distinct(col("g2")))).cast("long")
          .as("n_dup_2grams"),
        size(col("g3")).cast("long").as("n_3grams"),
        (size(col("g3")) - size(array_distinct(col("g3")))).cast("long")
          .as("n_dup_3grams"))
    val topWord = docs
      .select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_word_count"))
    rowLocal.join(topWord, "doc_id")
      .select(
        col("doc_id"), col("n_words"),
        ratio6("n_dup_words", "n_words").as("dup_word_frac"),
        ratio6("n_dup_2grams", "n_2grams").as("dup_2gram_frac"),
        ratio6("n_dup_3grams", "n_3grams").as("dup_3gram_frac"),
        col("top_word_count").cast("long").as("top_word_count"),
        ratio6("top_word_count", "n_words").as("top_word_frac"))
      .orderBy("doc_id")
  }

  /** Q62 thresholds — tuned to the fixture distribution (words 10–99,
    * mean word length 3.7–5.3) so the gate actually splits the corpus;
    * a production pipeline would configure these per corpus.
    */
  val GateMinWords = 30L
  val GateMaxWords = 10000L
  val GateMinMeanLen = 4L
  val GateMaxMeanLen = 10L

  /** Q62: Gopher-style document quality gate (Rae et al. 2021 §A1.1) —
    * word-count bounds, mean-word-length bounds, alpha-word fraction,
    * and type-token repetition, folded into one keep flag. Every check
    * is ROW-LOCAL (array ops over the token split inside a single
    * narrow scan — no shuffle, no join: the point of a cheap gate that
    * runs before expensive scoring at 100 TB), and every comparison is
    * integer cross-multiplication (`10·alpha ≥ 9·n` instead of
    * `alpha/n ≥ 0.9`), so no float ever enters the decision.
    */
  def gopherGate(spark: SparkSession, dir: String): DataFrame = {
    Tables.parallelize(Tables(spark, dir, "documents"))
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        expr("aggregate(transform(toks, t -> length(t)), 0L, (a, x) -> a + x)")
          .as("sum_word_len"),
        size(filter(col("toks"), t => t.rlike("[A-Za-z]"))).cast("long")
          .as("n_alpha_words"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_words"))
      .withColumn("flag_words",
        col("n_words") >= GateMinWords && col("n_words") <= GateMaxWords)
      .withColumn("flag_mean_len",
        col("sum_word_len") >= lit(GateMinMeanLen) * col("n_words") &&
          col("sum_word_len") <= lit(GateMaxMeanLen) * col("n_words"))
      .withColumn("flag_alpha",
        col("n_alpha_words") * 10L >= col("n_words") * 9L)
      .withColumn("flag_ttr", col("n_distinct_words") * 2L >= col("n_words"))
      .withColumn("keep",
        col("flag_words") && col("flag_mean_len") &&
          col("flag_alpha") && col("flag_ttr"))
      .orderBy("doc_id")
  }

  /** Terms dropped as "discovered stopwords" by [[vocabPrune]]: the
    * top-K by total corpus count (ties by ascending term).
    */
  val PruneTopK = 10

  /** Q74: corpus-frequency vocabulary pruning + document rewrite — the
    * CountVectorizer-style minDF/max-frequency vocabulary step of a
    * training pipeline, applied back to the text: drop every token that
    * is either a hapax (df < 2) or one of the [[PruneTopK]] highest
    * total-count terms (discovered stopwords), preserving the order of
    * the surviving tokens.
    *
    * Scale shape: the vocabulary is ONE partial-aggregated shuffle over
    * terms (count + distinct-doc count); the top-K cut is a distributed
    * TakeOrdered (never a global window); the kept vocabulary collapses
    * to a one-row array frame that broadcasts, so the rewrite is a
    * ROW-LOCAL lambda filter over each doc's token array — the corpus
    * is scanned twice and never shuffles. `array_contains` per token is
    * O(|kept|); swap the broadcast list for a bloom/hash-set expression
    * when the kept vocabulary outgrows a scan (≫10⁵ terms).
    */
  def vocabPrune(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelize(Tables(spark, dir, "documents"))
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
    val vocab = docs
      .select(col("doc_id"), explode(col("__toks")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("__cnt"), countDistinct(col("doc_id")).as("__df"))
    val dropTop = vocab
      .orderBy(col("__cnt").desc, col("term").asc)
      .limit(PruneTopK)
    val keepList = vocab
      .filter(col("__df") >= 2)
      .join(dropTop.select("term"), Seq("term"), "left_anti")
      .agg(collect_list(col("term")).as("__keep"))
    docs.crossJoin(broadcast(keepList))
      .withColumn("__kept",
        expr("filter(__toks, t -> array_contains(__keep, t))"))
      .select(
        col("doc_id"),
        size(col("__toks")).cast("long").as("n_before"),
        size(col("__kept")).cast("long").as("n_after"),
        array_join(col("__kept"), " ").as("text_pruned"))
      .orderBy("doc_id")
  }

  /** Q75: per-document 3-gram novelty — what fraction of a document's
    * DISTINCT word 3-grams appear here for the first time in corpus
    * order (their global minimum doc_id is this document)? The
    * duplication-contribution profile behind corpus-level dedup
    * decisions: late documents full of already-seen grams are the ones
    * near-dup removal deletes.
    *
    * Scale shape: distinct grams per doc are row-local; first-occurrence
    * attribution is one partial-aggregated `min(doc_id)` shuffle keyed
    * by gram, and the per-doc novel count is a count over that
    * aggregate itself — no gram-keyed join back (see the note in the
    * body), so nothing corpus-sized is ever shuffled by gram a second
    * time or broadcast. Everything scales linearly in distinct gram
    * instances, nothing all-pairs.
    */
  def gramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelize(Tables(spark, dir, "documents"))
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
    val grams = docs
      .select(col("doc_id"),
        explode(array_distinct(wordGrams(col("__toks"), 3))).as("gram"))
    // n_novel(d) = #grams whose global first-seen doc is d — a count
    // over the first-seen AGGREGATE itself, so the old join back of
    // the corpus-sized gram frame onto first-seen (which the planner
    // served by broadcasting the corpus-sized first-seen map — a §5
    // hazard at scale — and re-running the gram pass as the probe) is
    // unnecessary: both per-doc totals are independent aggregations
    // whose joins touch only doc-count-sized frames.
    val nGrams = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val novel = grams.groupBy("gram").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    // docs with < 3 tokens have no grams and must still report (0, 0);
    // a doc whose grams were all seen earlier has no novel row
    docs.select(col("doc_id"))
      .join(nGrams, Seq("doc_id"), "left")
      .join(novel, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty", ratio6("n_novel", "n_grams"))
      .orderBy("doc_id")
  }

  /** Q76: cross-source n-gram overlap matrix — for every unordered pair
    * of sources, the shared distinct word-3-gram count and the exact
    * Jaccard similarity of their gram sets. The corpus-contamination /
    * source-redundancy report a mixing step consults before weighting
    * sources (a source that is a near-subset of another should not be
    * double-weighted).
    *
    * Scale shape: ONE corpus windowing pass — per-gram SORTED source
    * sets via a gram-keyed aggregation (set size bounded by the source
    * count), then every source pair of each set INCLUDING the diagonal
    * is exploded row-locally and counted: n_shared(a, b) is the
    * off-diagonal count and each source's distinct-gram total n_a is
    * its own diagonal count, so sizes and overlaps fall out of the SAME
    * aggregation and the pair-count frame (≤ sources² rows,
    * answer-sized) is checkpointed once for its two consumers. The
    * earlier gram-keyed self-join planned the corpus pass four times
    * (two executed after stage reuse) and broadcast a corpus-sized
    * distinct-gram frame as the join's build side — this shape shuffles
    * the corpus once and never materializes anything beyond the
    * source-pair matrix. Per-gram pair cost is (sources containing the
    * gram)² — bounded by the source count squared, NOT by corpus size;
    * with thousands of sources, cap ubiquitous grams (df-per-source
    * threshold) or sketch with MinHash; with the fixture's 20 sources
    * the exact expansion is the right plan.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelize(Tables(spark, dir, "documents"))
      .select(col("source"), tokens(col("text")).as("__toks"))
    // sort_array's string ordering is the same binary UTF8 comparison
    // as the `<` the pair filter below applies, so position order in
    // the set IS src_a < src_b order
    val srcSets = docs
      .select(col("source"), explode(wordGrams(col("__toks"), 3)).as("gram"))
      .groupBy("gram").agg(sort_array(collect_set(col("source"))).as("ss"))
    // (a, a) diagonal rows ride along so n_a needs no second pass;
    // slice is 1-based, so element i (0-based) pairs with ss[i..] —
    // itself first, then every lexicographically-later source
    val counts = srcSets
      .select(explode(expr(
        "flatten(transform(ss, (a, i) -> " +
          "transform(slice(ss, i + 1, size(ss) - i), b -> " +
          "struct(a AS src_a, b AS src_b))))")).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val sizes = counts.filter(col("src_a") === col("src_b"))
      .select(col("src_a").as("source"), col("n").as("__n"))
    counts.filter(col("src_a") < col("src_b"))
      .withColumnRenamed("n", "n_shared")
      .join(broadcast(sizes.select(col("source").as("src_a"), col("__n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("__n").as("n_b"))), "src_b")
      .withColumn("__union", col("n_a") + col("n_b") - col("n_shared"))
      .select(
        col("src_a"), col("src_b"), col("n_shared"), col("n_a"), col("n_b"),
        ratio6("n_shared", "__union").as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Q94: statistical-LM quality scoring — the perplexity-style filter
    * of CCNet/Gopher pipelines (Wenzek et al. 2020): train an add-one
    * bigram model ON the corpus itself, score each document by how
    * probable its own word transitions are under it. Low scores mark
    * gibberish/boilerplate; high scores mark fluent (if unsurprising)
    * text. All arithmetic is EXACT integers so both engines hash
    * identically — no logs, no doubles: each transition scores
    * `(c(w1,w2)+1)·10^6 div (c(w1)+V)` parts-per-million (a monotone
    * proxy for the conditional probability), and documents report the
    * exact integer sum and floor-average. `c(w1)` counts transitions
    * STARTING with w1 (the conditioning event, so rows of the
    * conditional sum to 1 before smoothing); V is the distinct-token
    * count over ALL documents. Long-safe to ~9·10^12 occurrences of a
    * single bigram (c12·10^6 < 2^63).
    *
    * Scale shape: transitions pre-aggregate per (doc, bigram) BEFORE
    * the model join, so the heavy join back shuffles one row per
    * distinct bigram per doc, not one per token; the bigram/unigram
    * count tables are agg outputs (vocabulary-sized, not corpus-sized);
    * V is a broadcast 1-row scalar. Head-bigram skew in the join is
    * AQE's skew-join case.
    */
  /** Per-doc token arrays / word transitions of q94's LM — shared with
    * [[CurationStore]] so the frozen-model scoring path tokenizes and
    * windows EXACTLY like the model build did.
    */
  private[pipeline] def lmToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("t"))

  private[pipeline] def lmTrans(toks: DataFrame): DataFrame =
    toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  def q94LmQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = lmToks(Tables.parallelize(Tables(spark, dir, "documents")))
    val vocab = toks.select(explode(col("t")).as("w"))
      .agg(count_distinct(col("w")).as("vsz"))
    // ONE windowing pass: the per-(doc, bigram) counts are the roll-up
    // root — c12 is their doc-sum and c1 is c12's w2-sum, so the model
    // tables derive from vocabulary-sized aggregations instead of each
    // re-tokenizing the corpus (the pre-fix plan ran the tokenize +
    // bigram explode four times: vocab, c1, c12, perDoc). perDoc is
    // persisted for its two consumers (the c12 derivation and the
    // scoring join): distinct-(doc, bigram)-sized — bounded by the
    // corpus token count, spilling to disk under pressure, and still
    // strictly cheaper than one extra tokenize+explode+shuffle pass of
    // the same volume.
    val perDoc = lmTrans(toks)
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("m"))
      .persist()
    val c12 = perDoc.groupBy("w1", "w2").agg(sum("m").as("c12"))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    perDoc
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__ppm", expr("(c12 + 1) * 1000000 div (c1 + vsz)"))
      .groupBy("doc_id")
      .agg(
        sum("m").cast("long").as("n_trans"),
        sum(col("m") * col("__ppm")).cast("long").as("sum_prob_ppm"))
      .withColumn("avg_prob_ppm", expr("sum_prob_ppm div n_trans"))
      .orderBy("doc_id")
  }
}
