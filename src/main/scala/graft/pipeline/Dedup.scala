package graft.pipeline

import graft.Tables
import graft.functions.{cosine_sim, simhash64}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family (SURVEY §2 B-1/B-2): exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale design: exact dedup is one hash-shuffle on the group key. The
  * n-gram Jaccard join is quadratic in docs sharing a gram — it exists as
  * the *exact verifier*; MinHash+LSH is the 100 TB path: per-row signature
  * computation (no shuffle), then a band-bucket shuffle whose fan-out is
  * `bands` rows per doc, candidate pairs only where a band collides, and
  * exact verification only on candidates.
  */
object Dedup {

  val GramLen = 6

  /** Distinct character n-grams of `text` as an array column. Guarded so
    * short strings produce an empty array (Spark `sequence(1,0)` would
    * descend). Definition mirrors the DuckDB oracle exactly.
    */
  def charGrams(textCol: String, n: Int = GramLen): Column =
    charGramsOf(col(textCol), n)

  def charGramsOf(text: Column, n: Int = GramLen): Column =
    when(length(text) >= n,
      array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Q10: exact dedup by content — first doc_id + copy count per text.
    * Groups on sha2-256 of the content, not the content itself: the
    * shuffle then moves 32-byte keys instead of full document payloads
    * (at 100 TB that is the difference between shuffling hashes and
    * shuffling the corpus).
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelize(Tables(spark, dir, "documents"))
      .groupBy(sha2(col("text"), 256).as("content_sha"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** Q14: exact all-pairs n-gram Jaccard ≥ threshold, via an inverted
    * index on grams (join blowup bounded by gram selectivity — the exact
    * baseline that verifies the LSH path).
    */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val docs = Tables.parallelize(Tables(spark, dir, "documents"))
      .select(col("doc_id"), charGrams("text").as("grams"))
      .filter(size(col("grams")) > 0)
    val g = docs.select(col("doc_id"), explode(col("grams")).as("gram"))
    val sizes = docs.select(col("doc_id"), size(col("grams")).cast("long").as("sz"))
    val inter = g.as("a").join(g.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .withColumn("jac", col("i").cast("double") / (col("s1.sz") + col("s2.sz") - col("i")))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jac"))
      .orderBy("d1", "d2")
  }

  // --- MinHash + LSH --------------------------------------------------

  val NumHashes = 128
  val BandRows = 2 // 64 bands of 2 rows: recall ≈ 1 for jaccard ≥ 0.5

  /** MinHash signature column — native kernel expression, one tight loop
    * per row (see [[graft.functions.MinHashKernel]]); no shuffle.
    */
  def minhashSignature(gramsCol: Column): Column =
    graft.functions.minhash_sig(gramsCol, lit(NumHashes))

  /** The documents frame every minhash stage starts from. */
  private[graft] def minhashDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelize(Tables(spark, dir, "documents"))
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= GramLen)

  /** Session-shared MinHash signature frames, one persisted frame per
    * (session, fixture dir). The one-pass text->signature kernel (no
    * gram materialization — min over a multiset = min over the set) is
    * the dominant per-row cost and feeds the band explode AND both
    * sides of the estimator join, so it must be cached; but a persist
    * per CALL leaked storage memory across invocations and re-cached an
    * identical plan (the CacheManager WARNs in the round-2 bench tail):
    * q15 and q32 now share one frame. Bounded at ~NumHashes longs per
    * doc per corpus; [[unpersistSigs]] releases it for long-lived
    * sessions.
    */
  private val sigCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def minhashSigs(spark: SparkSession, dir: String): DataFrame = {
    // evict entries of stopped sessions: their cached blocks died with
    // the context, and keeping the key would pin the whole session
    // object graph for the JVM's lifetime
    sigCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    sigCache.computeIfAbsent((spark, dir), { key: (SparkSession, String) =>
      minhashSigs(minhashDocs(key._1, key._2)).persist()
    })
  }

  /** (doc_id, sig) of the (doc_id, text) rows at least [[GramLen]] long:
    * the one signature computation, so signatures stored by one caller
    * compare bit-identically with those another computes. Shorter docs
    * carry no signature.
    */
  private[graft] def minhashSigs(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= GramLen)
      .select(col("doc_id"),
        graft.functions.minhash_text(col("text"), lit(GramLen), lit(NumHashes)).as("sig"))

  /** Release the shared signature cache (and the derived verified-pair
    * frames) for one corpus — tests, audits, and long-lived sessions
    * that are done deduplicating it. Verify and Bench call this before
    * stopping their session so the persist lifecycle is caller-owned,
    * not leaked to context teardown.
    */
  def unpersistSigs(spark: SparkSession, dir: String): Unit = {
    Option(sigCache.remove((spark, dir))).foreach(_.unpersist())
    pairCache.keySet.removeIf(k => k._1 == spark && k._2 == dir)
    pairDropsCache.keySet.removeIf(k => k._1 == spark && k._2 == dir)
  }

  /** (band, bucket) rows per document — the LSH shuffle key. */
  private[graft] def minhashBands(sigs: DataFrame): DataFrame = {
    val numBands = NumHashes / BandRows
    sigs.select(
        col("doc_id"),
        posexplode(expr(s"transform(sequence(0, ${numBands - 1}), b -> " +
          s"hash(b, slice(sig, b * $BandRows + 1, $BandRows)))")))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bucket"))
  }

  /** Per-(band,bucket) occupancy cap: k docs in one bucket emit k(k-1)/2
    * collision rows per band, so one boilerplate cluster of 10⁶
    * near-identical docs would push ~5·10¹¹ pairs into the join before
    * any filter sees them. Over-cap buckets are excluded with a logged
    * drop count ([[graft.util.BucketGuard]]); exact dedup (q10) upstream
    * is the supported way to collapse such clusters first.
    */
  val MaxBucketOccupancy = 10000

  /** Raw band-bucket collision pairs, NOT deduplicated; buckets over
    * `maxOccupancy` are excluded (loudly — see [[MaxBucketOccupancy]]).
    */
  private[graft] def minhashCollisions(
      bands: DataFrame,
      maxOccupancy: Int = MaxBucketOccupancy): DataFrame =
    minhashCollisionsWithDrops(bands, maxOccupancy)._1

  /** [[minhashCollisions]] plus the over-cap bucket keys the guard
    * excluded (None = none) — [[cleanCorpus]]'s cap-regime top-up needs
    * to know exactly which buckets to repair at rep granularity.
    */
  private[graft] def minhashCollisionsWithDrops(
      bands: DataFrame,
      maxOccupancy: Int = MaxBucketOccupancy): (DataFrame, Option[DataFrame]) = {
    val (kept, dropped) = graft.util.BucketGuard.capOccupancyWithDropped(
      bands, Seq("band", "bucket"), maxOccupancy, "minhash LSH")
    (bandSelfJoin(kept), dropped)
  }

  /** (d1 < d2) pairs of docs sharing a (band, bucket) of already-capped
    * band rows.
    */
  private def bandSelfJoin(kept: DataFrame): DataFrame =
    kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))

  /** Estimator floor for the pre-filter, derived from the signature
    * width instead of hard-coded: the estimated Jaccard of a true pair
    * at similarity j is a Binomial(n, j)/n mean, so a floor placed
    * `sigmas` standard deviations below j (σ = sqrt(j(1-j)/n)) bounds
    * the per-pair false-drop probability by the normal tail — at
    * n=128, j=0.5, sigmas=4.5 the floor is ≈0.30 (≈0.6·threshold, the
    * round-2 constant) and the miss probability ≈3·10⁻⁶ per true pair.
    * This floor is PART OF THE Q15 CONTRACT: q15 is graded against the
    * exact q14 oracle, so the tail risk is accepted, deliberate, and
    * re-validated at sf0.1 each round (verify skill's full-recall
    * check) so a kernel change that shifts the estimator distribution
    * is caught.
    */
  private[graft] def estimatorFloor(
      threshold: Double,
      numHashes: Int = NumHashes,
      sigmas: Double = 4.5): Double =
    threshold - sigmas * math.sqrt(threshold * (1 - threshold) / numHashes)

  /** Signature-estimator pre-filter + dedup of the survivor pairs.
    * Collisions are filtered BEFORE any distinct: the estimator is one
    * codegen'd 128-long compare per row, far cheaper than a distinct()
    * shuffle of the multi-million-pair collision multiset, yet it
    * rejects the j ≲ 0.25 mass that 64×2 banding admits (floor
    * derivation and accepted tail risk: [[estimatorFloor]]). `d1` reads
    * its signature from `sigs1`, `d2` from `sigs2`: one frame twice
    * within a corpus, the stored and the batch side in
    * [[NearDupIndex.probe]].
    */
  private[graft] def minhashPlausible(
      collisions: DataFrame,
      sigs1: DataFrame,
      sigs2: DataFrame,
      threshold: Double): DataFrame = {
    val estFloor = estimatorFloor(threshold)
    collisions
      .join(sigs1.select(col("doc_id").as("d1"), col("sig").as("s1")), "d1")
      .join(sigs2.select(col("doc_id").as("d2"), col("sig").as("s2")), "d2")
      .filter(graft.functions.sig_jaccard_est(col("s1"), col("s2")) >= estFloor)
      .select("d1", "d2")
      .distinct() // now a few hundred rows, not millions
  }

  /** Q15 (see [[minhashSigs]]/[[minhashCollisions]]/[[minhashPlausible]]
    * for the staged design): MinHash-LSH near-dup join, exact-verified.
    * 64×2 banding keeps recall ≈ 1 at jaccard ≥ 0.5 (P(no band
    * collides) = (1-0.25)^64 < 1e-8); the wide gram payload is shuffled
    * only for the estimator-survivor set.
    */
  /** LSH candidate generation + exact verification over ANY
    * (doc_id, text) frame with matching signatures — the core shared by
    * q15 (full corpus) and q41 (exact-dedup survivors). Output:
    * (d1, d2, jac), unordered.
    */
  private[graft] def nearDupPairs(
      docs: DataFrame,
      sigs: DataFrame,
      threshold: Double): DataFrame =
    verifyPlausiblePairs(
      minhashPlausible(minhashCollisions(minhashBands(sigs)), sigs, sigs, threshold),
      docs, docs, threshold)

  /** Exact gram verification of an estimator-survivor (d1, d2) frame —
    * real character grams computed only for the survivor pairs, `d1`'s
    * text from `docs1` and `d2`'s from `docs2` (sided as in
    * [[minhashPlausible]]). The terminal stage of [[nearDupPairs]],
    * shared with [[cleanCorpus]]'s cap-regime top-up and
    * [[NearDupIndex.probe]] so every path verifies with identical
    * arithmetic.
    */
  private[graft] def verifyPlausiblePairs(
      plausible: DataFrame,
      docs1: DataFrame,
      docs2: DataFrame,
      threshold: Double): DataFrame =
    plausible
      .join(docs1.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
      .join(docs2.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
      .withColumn("g1", charGramsOf(col("t1")))
      .withColumn("g2", charGramsOf(col("t2")))
      .withColumn("i", size(array_intersect(col("g1"), col("g2"))).cast("long"))
      .withColumn("jac",
        col("i").cast("double") /
          (size(col("g1")).cast("long") + size(col("g2")).cast("long") - col("i")))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jac"))

  /** Session-shared VERIFIED near-dup pair frames, one materialized
    * (eager localCheckpoint) frame per (session, dir, threshold). The
    * LSH machinery (band explode → multi-million-row collision join →
    * estimator filter → exact gram verification) distills the corpus to
    * a few hundred pairs; q15 reports them and q32 clusters them, so
    * recomputing the collision join per caller repeats the bench's most
    * expensive shuffle for no new information. Checkpointed output is
    * tiny (pairs × 3 columns) — same build-once-query-many pattern as
    * the q38/q51 index builds; [[unpersistSigs]] drops it with the
    * signature cache.
    */
  private val pairCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Double), DataFrame]()

  /** Over-cap (band, bucket) keys the shared frame's occupancy guard
    * excluded (None = nothing dropped) — recorded by the same
    * computeIfAbsent that builds the frame, read by [[cleanCorpus]]'s
    * cap-regime top-up so the (rare) repair path costs nothing when no
    * bucket was dropped.
    */
  private val pairDropsCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, Double), Option[DataFrame]]()

  private[graft] def verifiedNearDupPairs(
      spark: SparkSession,
      dir: String,
      threshold: Double): DataFrame = {
    pairCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    pairDropsCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    pairCache.computeIfAbsent((spark, dir, threshold),
      { key: (SparkSession, String, Double) =>
        val sigs = minhashSigs(key._1, key._2)
        val (collisions, dropped) = minhashCollisionsWithDrops(minhashBands(sigs))
        pairDropsCache.put(key, dropped)
        val docs = minhashDocs(key._1, key._2)
        verifyPlausiblePairs(
            minhashPlausible(collisions, sigs, sigs, key._3), docs, docs, key._3)
          .localCheckpoint()
      })
  }

  /** The drop record of [[verifiedNearDupPairs]]'s guard for this
    * (session, corpus, threshold) — forces the frame first so the
    * record exists.
    */
  private[graft] def verifiedNearDupPairDrops(
      spark: SparkSession,
      dir: String,
      threshold: Double): Option[DataFrame] = {
    verifiedNearDupPairs(spark, dir, threshold)
    pairDropsCache.getOrDefault((spark, dir, threshold), None)
  }

  def minhashNearDup(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    verifiedNearDupPairs(spark, dir, threshold)
      .orderBy("d1", "d2")

  /** SimHash banding layout — shared with the completeness property test
    * so a change here is checked against the pigeonhole precondition
    * (maxHamming < SimHashBands) rather than silently losing pairs.
    */
  val SimHashBands = 4
  val SimHashBandBits = 16
  val SimHashMaxHamming = 3

  /** Q16: SimHash near-dup — 64-bit fingerprints, banded into
    * [[SimHashBands]]×[[SimHashBandBits]]-bit keys (a pair within
    * Hamming distance maxHamming < bands must collide on ≥1 band by
    * pigeonhole), verified with `bit_count(xor) <= maxHamming`.
    */
  def simhashNearDup(
      spark: SparkSession,
      dir: String,
      maxHamming: Int = SimHashMaxHamming,
      maxOccupancy: Int = MaxBucketOccupancy): DataFrame = {
    require(maxHamming < SimHashBands,
      "pigeonhole completeness requires maxHamming < number of bands")
    val mask = (1L << SimHashBandBits) - 1
    val docs = Tables.parallelize(Tables(spark, dir, "documents"))
      .select(col("doc_id"), simhash64(col("text")).as("sh"))
    // localCheckpoint: the simhash kernel pass feeds the occupancy
    // accounting and both sides of the band self-join
    val bands = graft.util.BucketGuard.capOccupancy(
      docs.select(col("doc_id"), col("sh"),
          posexplode(expr(s"transform(sequence(0, ${SimHashBands - 1}), " +
            s"b -> (sh >> (b * $SimHashBandBits)) & $mask)")))
        .select(col("doc_id"), col("sh"), col("pos").as("band"), col("col").as("bucket"))
        .localCheckpoint(),
      Seq("band", "bucket"), maxOccupancy, "simhash LSH")
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.sh").as("sh1"), col("b.sh").as("sh2"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming")
      .orderBy("d1", "d2")
  }

  /** Q20: embedding-cosine near-dup pairs, EXACT all-pairs. This is the
    * correctness baseline that verifies the ANN path ([[annCosineNearDup]])
    * — it is deliberately quadratic (broadcast nested-loop over every
    * pair), stays out of the bench headline, and must never be the scale
    * path: that is [[graft.query.AnnIndex]].
    */
  def cosineNearDup(spark: SparkSession, dir: String, threshold: Double = 0.35): DataFrame = {
    val e = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
    e.as("a").join(broadcast(e.as("b")), col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", cosine_sim(col("a.embedding"), col("b.embedding")))
      .filter(col("sim") >= threshold)
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        round(col("sim"), 6).as("sim"))
      .orderBy("v1", "v2")
  }

  /** Connected components over an undirected pair list via the
    * alternating large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014):
    *
    *  - **large-star**: every node links its strictly-larger neighbors
    *    to the minimum of its closed neighborhood;
    *  - **small-star**: every node links its smaller neighbors (and
    *    itself) to their common minimum.
    *
    * The fixpoint is a union of disjoint stars rooted at each
    * component's MINIMUM id (the deterministic label the q32/q41
    * oracles recompute), reached in **O(log n) rounds on any
    * topology** — an adversarial million-link chain costs ~20 rounds
    * where min-label propagation (the previous implementation) costs a
    * million. Each round is two partial-agg shuffles + two joins over
    * the edge frame; `localCheckpoint` truncates lineage so plans stay
    * flat. Convergence is detected by an (edge-count, xor-checksum)
    * signature — two scalar aggregates, O(1) at the driver; the
    * two-phase iteration is monotone, so a repeated signature is a
    * fixpoint, and XOR (order-independent, overflow-free) is exact on
    * the distinct canonical edge set up to hash collision.
    */
  def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsWithRounds(pairs)._1

  /** [[connectedComponents]] plus the round count — exposed so the
    * O(log n) convergence contract is spec-checkable.
    */
  private[graft] def connectedComponentsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    // canonical undirected edge set: a < b, distinct, no self-loops
    var edges = pairs
      .select(least(col("d1"), col("d2")).as("a"),
        greatest(col("d1"), col("d2")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()

    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }

    var prev = (-1L, 0L)
    var rounds = 0
    var converged = false
    while (!converged) {
      rounds += 1
      // large-star: directed neighborhoods (both orientations); each
      // node u re-points every LARGER neighbor at min(closed nbhd).
      // Emitted (m, v) is canonical by construction: m <= u < v.
      val nbrs = edges.unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      val mins = nbrs.groupBy(col("a")).agg(min(col("b")).as("__mn"))
        .select(col("a").as("__u"), least(col("a"), col("__mn")).as("__m"))
      val large = nbrs.filter(col("b") > col("a"))
        .join(mins, col("a") === col("__u"))
        .select(col("__m").as("a"), col("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      // small-star: each node (the larger endpoint of its canonical
      // edges) re-points its smaller neighbors AND itself at their
      // common minimum. Both emissions are canonical: mn <= a < b.
      val smins = large.groupBy(col("b")).agg(min(col("a")).as("__mn"))
      val small = large.join(smins, "b")
        .select(col("__mn").as("a"), col("a").as("b"))
        .unionAll(smins.select(col("__mn").as("a"), col("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
        .localCheckpoint()
      edges = small
      val sig = signature(edges)
      converged = sig == prev
      prev = sig
    }
    // fixpoint = disjoint stars (root, child) with root the component
    // minimum; the label frame is children plus the roots themselves
    val labels = edges.select(col("b").as("node"), col("a").as("label"))
      .unionAll(edges.select(col("a").as("node"), col("a").as("label")))
      .distinct()
    (labels, rounds)
  }

  /** Q32: dedup clustering — transitive closure of the near-dup relation
    * (pairs from the LSH join, which equals the exact join), one row per
    * clustered document with its canonical id (= component minimum) and
    * cluster size. The keep/drop decision of a dedup pipeline is
    * `doc_id == cluster_id`.
    */
  def dedupClusters(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    // shares q15's verified pair frame (and skips its output sort)
    val pairs = verifiedNearDupPairs(spark, dir, threshold).select("d1", "d2")
    val labels = connectedComponents(pairs)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(
        col("node").as("doc_id"),
        col("label").as("cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Q97: leakage-safe train/valid/test split — the assignment step
    * where near-dup awareness actually pays off: hashing RAW doc ids
    * into splits lets near-duplicate pairs straddle train and eval
    * (silent benchmark leakage); hashing the near-dup CLUSTER id
    * instead puts every member of a duplicate cluster in the same
    * split by construction. Split buckets use the engine-portable
    * Knuth multiplicative hash ([[Sampling.keepBucket]] — exact BIGINT
    * arithmetic both engines reproduce), 80/10/10. Singletons (docs in
    * no verified pair) are their own cluster. One extra left join over
    * the q32 cluster frame — the split is deterministic, rerun-stable,
    * and join-consistent across any table keyed by doc_id.
    */
  def q97LeakageSafeSplit(
      spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val pairs = verifiedNearDupPairs(spark, dir, threshold).select("d1", "d2")
    val labels = connectedComponents(pairs)
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("source"))
    val bucket = Sampling.keepBucket(col("cluster_id"))
    docs.join(labels, docs("doc_id") === labels("node"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("split",
        when(bucket < 800, "train")
          .when(bucket < 900, "valid")
          .otherwise("test"))
      .orderBy("doc_id")
  }

  /** Q100: quality-aware canonical selection — each near-dup cluster
    * keeps its HIGHEST-quality member (q94's bigram-LM score, exact
    * integer ppm; ties to the lowest id) instead of q32/q41's min-id
    * convention. This is the SemDeDup-style refinement real pipelines
    * run: when boilerplate variants cluster, keep the most fluent copy,
    * not the accidentally-first one. Singleton scored docs are their
    * own cluster. Reuses the session-shared verified-pair frame and
    * q94's plan; one left join + one agg shuffle on cluster_id beyond
    * their cost.
    */
  def q100BestOfCluster(
      spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val labels = connectedComponents(
      verifiedNearDupPairs(spark, dir, threshold).select("d1", "d2"))
    val quality = TextAnalysis.q94LmQuality(spark, dir)
      .select(col("doc_id"), col("avg_prob_ppm"))
    quality.join(labels, quality("doc_id") === labels("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"),
        col("avg_prob_ppm"))
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("cluster_size"),
        // single composite BIGINT key (quality major, lowest-id tie
        // minor — exact for doc_id < 10^9): DuckDB's arg_max cannot
        // take a struct/list ordering key, so both engines state the
        // same scalar
        max_by(col("doc_id"),
          col("avg_prob_ppm") * lit(1000000000L) - col("doc_id"))
          .as("kept_doc"),
        max(col("avg_prob_ppm")).as("kept_quality_ppm"))
      .orderBy("cluster_id")
  }

  /** Q41: the end-to-end corpus-cleaning composition a training-data
    * pipeline actually runs — EXACT dedup first (collapses identical
    * payloads, which is also what keeps duplicate clusters out of the
    * LSH occupancy cap), then MinHash-LSH near-dup clustering over the
    * surviving representatives, keeping each cluster's canonical
    * (minimum-id) document. Output: the kept doc ids + how many exact
    * copies each absorbed.
    *
    * Correctness note: clustering the representatives equals clustering
    * the full corpus — exact duplicates have IDENTICAL gram sets, so
    * every near-dup edge through a dropped copy exists through its
    * representative too, and each text group's representative is the
    * group minimum, so cluster minima agree. The same identity makes a
    * pair of reps verify at jaccard ≥ τ among the reps iff it does in
    * the full corpus, which is why the pair source below is the
    * session-shared verified-pair frame restricted to rep ids.
    *
    * Scale: stage 1 shuffles 32-byte sha keys; stage 2 restricts the
    * session's one verified near-dup pair frame (computed once per
    * (session, corpus) and shared with q15/q32/q97/q100 — a real
    * curation pipeline derives report/cluster/split/clean from ONE pair
    * computation, not four) with two semi-joins on the rep id set, plus
    * the cap-regime top-up below (buckets the full-corpus cap dropped
    * that the rep-level cap would keep — empty unless exact-dup mass
    * pressured the caps), so the pair set equals the rep-level LSH
    * run's in EVERY cap regime, not just the uncapped one.
    */
  def cleanCorpus(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val docs = Tables.parallelize(Tables(spark, dir, "documents"))
      .select(col("doc_id"), col("text"))
    // materialized once (eager localCheckpoint): the representative set
    // feeds the pair restriction and the final keep filter. Every row
    // in a sha-group carries IDENTICAL text, so first(text) re-attaches
    // the representative's payload without the doc_id join-back a
    // separate re-join would cost (one shuffle removed, r21).
    val reps = docs
      .groupBy(sha2(col("text"), 256).as("content_sha"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"),
        first("text").as("text"))
      .select("doc_id", "n_copies", "text")
      .localCheckpoint()
    // Near-dup pairs AMONG the representatives, by restriction of the
    // session-shared verified-pair frame (the q32/q97/q100 reuse
    // discipline) instead of a second full LSH machinery run over the
    // rep subset (r21 — the machinery dominated this query's cost):
    // exact duplicates have IDENTICAL gram sets, so a pair of reps
    // verifies at jaccard ≥ τ in the full corpus iff it does among the
    // reps — the restricted pair set is exactly nearDupPairs(reps), the
    // same equivalence the docstring's correctness note already rests
    // on. Two semi-joins against the (tiny) rep id set.
    val repIds = reps.select("doc_id")
    val restricted = verifiedNearDupPairs(spark, dir, threshold)
      .join(repIds.withColumnRenamed("doc_id", "d1"), Seq("d1"), "left_semi")
      .join(repIds.withColumnRenamed("doc_id", "d2"), Seq("d2"), "left_semi")
      .select("d1", "d2")
    // CAP-REGIME TOP-UP (closes the r21 equivalence gap): the shared
    // frame's occupancy cap counts FULL-corpus rows, so a bucket
    // inflated past [[MaxBucketOccupancy]] by exact duplicates is
    // dropped there even though the rep-level LSH run this function
    // replaced would have kept it (rep occupancy ≤ cap). The guard
    // records exactly which buckets it dropped, so the common (uncapped)
    // corpus pays NOTHING here; when drops exist, the rep banding is
    // regenerated from the cached signatures for the DROPPED buckets
    // only, re-capped at rep granularity (the old rep-level contract,
    // still loud), and the surviving candidate pairs are verified by
    // the same estimator + exact-gram arithmetic as the shared frame —
    // restoring pair-set equality with nearDupPairs(reps) in every cap
    // regime (CleanCorpusCapSpec).
    val pairs = verifiedNearDupPairDrops(spark, dir, threshold) match {
      case None => restricted
      case Some(droppedKeys) =>
        val sigs = minhashSigs(spark, dir)
        val gapKept = graft.util.BucketGuard.capOccupancy(
          minhashBands(sigs.join(repIds, "doc_id"))
            .join(broadcast(droppedKeys), Seq("band", "bucket"), "left_semi"),
          Seq("band", "bucket"), MaxBucketOccupancy,
          "cleanCorpus rep-level top-up")
        val topUp = verifyPlausiblePairs(
            minhashPlausible(bandSelfJoin(gapKept), sigs, sigs, threshold),
            docs, docs, threshold)
          .select("d1", "d2")
        // a pair colliding in both a kept and a dropped bucket appears
        // in both frames — distinct() over the answer-sized union
        restricted.unionByName(topUp).distinct()
    }
    val labels = connectedComponents(pairs)
    reps
      .join(labels, reps("doc_id") === labels("node"), "left")
      .filter(col("node").isNull || col("label") === col("doc_id"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy("doc_id")
  }

  /** Q60: incremental dedup — new documents (id ≥ cutoff) checked
    * against the existing corpus (id < cutoff), the shape every
    * continuously-trained pipeline runs on each incoming batch ("is
    * this already in the training set?"). Reuses the full banded
    * machinery and the session-shared signature cache; the cross
    * restriction is a filter on the (d1 < d2) pair stream, so old×old
    * and new×new pairs never reach exact verification. Each new doc
    * reports its best match (highest verified Jaccard, ties to the
    * lowest old id) — the row a dedup policy acts on.
    */
  def incrementalDedup(
      spark: SparkSession,
      dir: String,
      cutoff: Long = 250,
      threshold: Double = 0.5): DataFrame = {
    val cross = nearDupPairs(minhashDocs(spark, dir), minhashSigs(spark, dir), threshold)
      .filter(col("d1") < cutoff && col("d2") >= cutoff)
    // per-new-doc argmax by (jac desc, d1 asc) as a k=1 topk_by: the
    // map-side partial keeps the verified pair stream off the wire
    cross
      .groupBy(col("d2"))
      .agg(graft.functions.topk_by(col("d1"), col("jac"), lit(1)).as("__t"))
      .select(col("d2").as("new_id"),
        col("__t").getItem(0).getField("id").as("dup_of"),
        col("__t").getItem(0).getField("score").as("jac"))
      .orderBy("new_id")
  }

  /** Q92: cross-document REPEATED-PASSAGE detection — exact matches of
    * `k` consecutive tokens across different documents, the signal
    * substring-level training-data dedup acts on (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": the
    * harmful duplicates are repeated SPANS — boilerplate, licenses,
    * quoted chunks — that document-level near-dup never sees).
    *
    * Shape: one narrow pass run-length-encodes each document's sorted
    * k-token gram array into per-(doc, window) occurrence COUNTS with a
    * 64-bit window hash — row-local, NO shuffle (all of a document's
    * windows live in its one input row) — the self-join below joins
    * count rows, so a window repeated t times inside one document
    * costs one row, not t, and `n_matches = sum(m1 * m2)` recovers
    * the exact occurrence-pair count without an occurrence-level
    * quadratic join. A tiny pre-aggregation keeps only hashes seen in
    * ≥ 2 distinct documents (min(doc) ≠ max(doc) — no count-distinct),
    * which discards the overwhelmingly-unique window mass BEFORE the
    * self-join; the surviving candidates equi-join on the hash with
    * exact window-text verification (hash collisions produce
    * candidates, never results). Per (d1 < d2) pair: matching
    * window-occurrence pairs + distinct shared windows.
    *
    * 100 TB note: n-gram windowing inflates the corpus ~k× by
    * construction; the pre-filter keeps the JOIN input proportional to
    * actually-repeated text, and [[graft.util.BucketGuard.capOccupancy]]
    * bounds the remaining hazard — a boilerplate window (license
    * header, nav text) stamped on m documents would still emit O(m²)
    * pairs, so windows spanning more than `maxDocsPerWindow` documents
    * are excluded from candidate generation with a logged (never
    * silent) drop, the same discipline as every banded-LSH path here.
    * The sub-linear alternative is the paper's suffix-array pipeline —
    * a different engine, out of scope; this is the Spark-native shape
    * of the same contract.
    */
  /** Run starts of a SORTED array: the indices where `change` holds
    * between adjacent elements. Expression-level gaps-and-islands over
    * one row's array. Empty-safe explicitly: `sequence(0, -1)` is the
    * DESCENDING [0, -1], not an empty array, so the empty case is
    * pinned. The input MUST be a materialized column (an attribute),
    * not an inline subtree — a pushed-down filter or collapsed
    * projection re-evaluates captured subtrees once per row (or worse,
    * per element), which is how an O(n log n) row turns O(n² log n).
    */
  private def runStarts(
      sorted: Column, change: (Column, Column) => Column): Column =
    when(size(sorted) === 0, array().cast("array<int>"))
      .otherwise(filter(sequence(lit(0), size(sorted) - 1),
        i => (i === 0) || change(get(sorted, i), get(sorted, i - 1))))

  /** (h, win, m) run-length encoding of the sorted (h, win) struct
    * array `ws` given its run starts `bnds`: per-(doc, window)
    * occurrence counts with NO shuffle — every window of a document
    * comes from that document's single input row, so the counts are
    * row-local by construction. The array is sorted by (h, win), hash
    * FIRST, so the sort comparator is a long compare in all but the
    * (rare, in-doc) collision case — sorting the raw gram strings was
    * measured ~6x slower (8-word grams share long prefixes).
    */
  private def gramRuns(ws: Column, bnds: Column): Column =
    when(size(bnds) === 0,
      array().cast("array<struct<h:bigint,win:string,m:bigint>>"))
      .otherwise(transform(sequence(lit(0), size(bnds) - 1), j =>
        struct(
          get(ws, get(bnds, j)).getField("h").as("h"),
          get(ws, get(bnds, j)).getField("win").as("win"),
          (coalesce(get(bnds, j + 1), size(ws)) - get(bnds, j))
            .cast("long").as("m"))))

  def q92RepeatedPassages(
      spark: SparkSession,
      dir: String,
      k: Int = 8,
      maxDocsPerWindow: Int = 1000): DataFrame = {
    val docs = Tables.parallelize(Tables(spark, dir, "documents"))
    // per-(doc, window) occurrence counts WITHOUT a shuffle: run-length
    // encoding of the per-doc gram array sorted by (hash, win)
    // (row-local — all of a document's windows live in its one input
    // row). The groupBy(doc, h, win) this replaces exchanged the full
    // corpus×k window text, twice (once per consumer pass), just to
    // merge rows that were never on different partitions (§2.3/§2.4).
    val perDoc = docs
      .select(col("doc_id"),
        array_sort(transform(
          TextAnalysis.wordGrams(split(trim(col("text")), "\\s+"), k),
          g => struct(xxhash64(g).as("h"), g.as("win")))).as("ws"))
      .withColumn("bnds", runStarts(col("ws"), _ =!= _))
      .select(col("doc_id"), explode(gramRuns(col("ws"), col("bnds"))).as("wm"))
      .select(col("doc_id"), col("wm.h").as("h"),
        col("wm.win").as("win"), col("wm.m").as("m"))
    // hashes spanning ≥ 2 docs, WITH their occupancy (≈ #docs sharing
    // the window — one row per (doc, win), collisions are candidates
    // only) folded into the SAME aggregation: the cap accounting costs
    // no extra pass over the corpus, only this checkpoint of the
    // already-small repeated-hash set
    val hashStats = perDoc.groupBy("h")
      .agg(min("doc_id").as("__mn"), max("doc_id").as("__mx"),
        count(lit(1)).as("__occ"))
      .filter(col("__mn") =!= col("__mx"))
      .select("h", "__occ")
      .localCheckpoint()
    // boilerplate guard, the BucketGuard logged-drop contract: windows
    // spanning more docs than the cap are excluded LOUDLY, never
    // silently. The count runs over the answer-sized checkpoint, so it
    // overlaps the (corpus-pass-sized) candidate materialization below
    // as a concurrent job (§2.6) instead of barriering ahead of it; the
    // warning still fires before any result row is produced.
    val multiDoc = hashStats.filter(col("__occ") <= maxDocsPerWindow).select("h")
    // candidates = only repeated-in-≥2-docs windows — proportional to
    // actually-repeated text, NOT the corpus. Checkpointed: the self-
    // join below consumes it twice, and without this each side re-runs
    // the full corpus windowing pass (tokenize + k-gram explode + two
    // aggregations), doubling the query's dominant cost
    val (over, cand) = graft.util.Par.both(spark, "q92.candidates")(
      hashStats.filter(col("__occ") > maxDocsPerWindow).count(),
      perDoc.join(multiDoc, "h").localCheckpoint())
    if (over > 0)
      org.slf4j.LoggerFactory.getLogger("graft.BucketGuard").warn(
        s"q92 repeated-passage window: excluding $over window hash(es) over " +
          s"occupancy cap $maxDocsPerWindow from candidate generation; run " +
          "exact dedup upstream to collapse boilerplate clusters first")
    cand.as("a")
      .join(cand.as("b"),
        col("a.h") === col("b.h") && col("a.win") === col("b.win") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(sum(col("a.m") * col("b.m")).as("n_matches"),
        count_distinct(col("a.win")).as("n_windows"))
      .orderBy("d1", "d2")
  }

  /** Q101: MERGED-SPAN repeated-passage detection — [[q92RepeatedPassages]]
    * extended from fixed k-token windows to maximal matching runs, the
    * shape Lee et al. 2022 actually deduplicate on: adjacent matching
    * windows (consecutive start positions in BOTH documents) collapse
    * into one span of `k + run_len - 1` tokens, so a 50-token shared
    * passage reports as ONE span of 50 tokens instead of 43 overlapping
    * 8-token windows.
    *
    * Shape: the q92 candidate machinery (position-carrying this time —
    * runs need start offsets), then pure window-function run merging:
    * a match (p1, p2) lies on diagonal p1 − p2, and consecutive p1
    * within a diagonal form one run (the gaps-and-islands idiom:
    * island id = p1 − row_number over the diagonal). One extra shuffle
    * on (d1, d2) beyond q92, over post-cap match rows only.
    *
    * Like q92, the cross-doc self-join consumes ONE row per (window,
    * doc): occurrence positions are collapsed to a per-(h, win, doc)
    * position LIST first, so the join key (the hash of boilerplate
    * text — skewed by construction) sees per-doc rows, not per-
    * occurrence rows, and the window text crosses the wire once per
    * doc instead of once per occurrence; the (p1, p2) match grid is
    * re-expanded AFTER the join by a double explode, which distributes
    * the quadratic blow-up over the join's output partitions instead
    * of concentrating it in the skewed key's shuffle (§2.5). The
    * candidate frame is checkpointed for the same reason as q92's: the
    * self-join reads it twice, and without the cut each side re-runs
    * the full corpus windowing pass.
    *
    * The occupancy cap here bounds OCCURRENCE rows per window hash
    * (positions matter, so the cap cannot use q92's per-doc counts) —
    * strictly tighter than q92's per-doc cap, same logged-drop
    * contract.
    *
    * Output per (d1 < d2): n_spans, max_span_tokens, total_span_tokens.
    */
  /** (h, win, ps) run-length encoding of the sorted (h, win, p) struct
    * array `ws` given its run starts `bnds`: per-(doc, window)
    * ascending position LISTS with no shuffle — the q101 flavor of
    * [[gramRuns]] (hash-first sort, long-compare comparator).
    */
  private def posRuns(ws: Column, bnds: Column): Column =
    when(size(bnds) === 0,
      array().cast("array<struct<h:bigint,win:string,ps:array<int>>>"))
      .otherwise(transform(sequence(lit(0), size(bnds) - 1), j =>
        struct(
          get(ws, get(bnds, j)).getField("h").as("h"),
          get(ws, get(bnds, j)).getField("win").as("win"),
          transform(
            sequence(get(bnds, j), coalesce(get(bnds, j + 1), size(ws)) - 1),
            x => get(ws, x).getField("p")).as("ps"))))

  def q101RepeatedSpans(
      spark: SparkSession,
      dir: String,
      k: Int = 8,
      maxOccurrencesPerWindow: Int = 1000): DataFrame = {
    val docs = Tables.parallelize(Tables(spark, dir, "documents"))
    // per-(doc, window) position lists WITHOUT a shuffle: run-length
    // encoding of the per-doc (h, win, p) array sorted by (h, win, p)
    // — the row-local q92 discipline, positions riding along (sorted
    // ascending within each run by construction). The posexplode +
    // groupBy(h, win, doc) it replaces exchanged the full corpus×k
    // window text once per consumer pass (§2.3/§2.4). Run boundaries
    // compare (h, win) only — the position field must not split runs.
    val perDoc = docs
      .select(col("doc_id"),
        array_sort(transform(
          TextAnalysis.wordGrams(split(trim(col("text")), "\\s+"), k),
          (g, i) => struct(xxhash64(g).as("h"), g.as("win"), i.as("p"))))
          .as("ws"))
      .withColumn("bnds", runStarts(col("ws"),
        (a, b) => (a.getField("h") =!= b.getField("h")) ||
          (a.getField("win") =!= b.getField("win"))))
      .select(col("doc_id"), explode(posRuns(col("ws"), col("bnds"))).as("wm"))
      .select(col("doc_id"), col("wm.h").as("h"),
        col("wm.win").as("win"), col("wm.ps").as("ps"))
    // pre-filter + occupancy accounting in ONE aggregation (the q92
    // shape): occurrence counts here — positions matter downstream, so
    // the cap stays occurrence-level (sum of per-doc list sizes)
    val hashStats = perDoc.groupBy("h")
      .agg(min("doc_id").as("__mn"), max("doc_id").as("__mx"),
        sum(size(col("ps"))).as("__occ"))
      .filter(col("__mn") =!= col("__mx"))
      .select("h", "__occ")
      .localCheckpoint()
    // cap count overlapped with the candidate materialization — the
    // q92 rationale (§2.6): answer-sized count vs corpus-pass-sized
    // checkpoint, warning still precedes any result row
    val multiDoc = hashStats.filter(col("__occ") <= maxOccurrencesPerWindow).select("h")
    // one row per (window, doc) into the self-join — positions ride
    // along as a list and re-expand after the join (doc above)
    val (over, cand) = graft.util.Par.both(spark, "q101.candidates")(
      hashStats.filter(col("__occ") > maxOccurrencesPerWindow).count(),
      perDoc.join(multiDoc, "h").localCheckpoint())
    if (over > 0)
      org.slf4j.LoggerFactory.getLogger("graft.BucketGuard").warn(
        s"q101 repeated-span window: excluding $over window hash(es) over " +
          s"occupancy cap $maxOccurrencesPerWindow from candidate generation; " +
          "run exact dedup upstream to collapse boilerplate clusters first")
    val matches = cand.as("a")
      .join(cand.as("b"),
        col("a.h") === col("b.h") && col("a.win") === col("b.win") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.ps").as("ps1"), col("b.ps").as("ps2"))
      .select(col("d1"), col("d2"), explode(col("ps1")).as("p1"), col("ps2"))
      .select(col("d1"), col("d2"), col("p1"), explode(col("ps2")).as("p2"))
    val wIsl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d1"), col("d2"), col("diag")).orderBy(col("p1"))
    matches
      .withColumn("diag", col("p1") - col("p2"))
      .withColumn("isl", col("p1") - row_number().over(wIsl))
      .groupBy("d1", "d2", "diag", "isl")
      .agg(count(lit(1)).as("n_win"))
      .groupBy("d1", "d2")
      .agg(
        count(lit(1)).as("n_spans"),
        max(col("n_win") + lit(k - 1)).cast("long").as("max_span_tokens"),
        sum(col("n_win") + lit(k - 1)).cast("long").as("total_span_tokens"))
      .orderBy("d1", "d2")
  }

  /** Q25: embedding-cosine near-dup via the LSH-bucketed ANN join (B-3/B-4
    * scale path) — same output contract as [[cosineNearDup]] and verified
    * against the same exact DuckDB oracle; candidates come from hash
    * buckets instead of an all-pairs product.
    */
  def annCosineNearDup(spark: SparkSession, dir: String, threshold: Double = 0.35): DataFrame =
    graft.query.AnnIndex
      .selfJoin(
        Tables(spark, dir, "embeddings").select("vec_id", "embedding"),
        "vec_id", "embedding", threshold)
      .select(col("v1"), col("v2"), round(col("sim"), 6).as("sim"))
      .orderBy("v1", "v2")
}
