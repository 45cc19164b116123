package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an explicit edge list, in EXACT integer micro-mass
  * arithmetic — graph centrality as a corpus-curation signal (rank the
  * semantic k-NN graph to find prototypical vs peripheral documents;
  * PageRank-style data selection is the published shape, e.g. Wettig
  * et al. 2024's model-free rating baselines).
  *
  * Determinism discipline: float PageRank sums in nondeterministic
  * order and never hash-matches across engines, so mass is integer
  * micro-units (Scale = 10¹²) and every step is a Long multiply/`div`:
  * share(u→v) = (r(u)·85) div (100·outdeg(u)), teleport =
  * (Scale·15) div (100·N). Floor division leaks a deterministic dust
  * of mass per step (the usual integer-PageRank tradeoff) — identical
  * in Spark and the oracle's unrolled SQL, so results compare exactly.
  *
  * Scale shape: one shuffle to build (edges ⋈ outdeg) — persisted and
  * reused all iterations (internal lifecycle, released in finally).
  * Per iteration: one src-keyed join, one dst-keyed partial-agg
  * shuffle, and a UNION with the fixed zero-in-degree frame in place
  * of the old per-iteration left join back to nodes (the absent-dst
  * set never changes — computed and checkpointed once), with AQE free
  * to coalesce/broadcast each exchange (nothing is pinned to a
  * partition width). Lineage is cut by an eager `localCheckpoint`
  * every [[CkptEvery]] iterations — not every iteration, so the
  * recurrence runs as ⌈iters/CkptEvery⌉ AQE-optimized jobs instead of
  * one barriered job per iteration (the r21 cadence problem), and the
  * planner never sees more than CkptEvery iterations of plan.
  * Dangling nodes (no out-edges) redistribute their damped mass
  * UNIFORMLY each iteration — the standard exact treatment: their
  * pooled mass is one scalar aggregate (anti-join against the edge
  * sources, then sum — a one-row frame broadcast back), so total mass
  * is conserved up to deterministic floor-division dust on every
  * topology, sinks included, not just out-regular graphs like the
  * k-NN graph.
  *
  * Long-overflow headroom: r ≤ Scale, so r·85 ≤ 8.5·10¹³ and any
  * node's received sum ≤ total mass Scale — orders of magnitude under
  * 2⁶³.
  */
object GraphRank {

  /** Total micro-mass distributed across the graph. */
  val Scale = 1000000000000L

  /** Iterations between eager lineage cuts — see the loop comment. */
  val CkptEvery = 5

  /** @param nodes one `id` column, ids unique
    * @param edges `src`/`dst` columns, a subset of node ids
    * @param iters fixed iteration count (no convergence test — the
    *              oracle must run the identical number of steps)
    * @return (id, r) — r = integer micro-mass rank after `iters` steps
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    // The prelude used to run as FIVE sequential driver-blocking jobs
    // (node count, zero-in-degree anti-join checkpoint, dangling-id
    // anti-join checkpoint, its isEmpty probe, edge-degree persist
    // count), each a tiny barrier that left the cluster idle (§2.6).
    // They are mutually independent: the two node-marking anti-joins
    // fuse into ONE checkpointed pass over (nodes ⋈ dst-set ⋈ src-set),
    // and that pass, the node count and the edge-degree materialization
    // run as concurrent jobs.
    // out-degree folded onto each edge once; persisted because every
    // iteration re-reads it (internal frame, internal lifecycle)
    val ed = edges
      .join(edges.groupBy("src").agg(count(lit(1)).as("__deg")), "src")
      .persist()
    // ed is NOT pre-partitioned: a fixed-width repartition before the
    // persist was A/B-rejected — it pins every iteration's join at the
    // session's shuffle width and defeats AQE's small-exchange
    // coalescing (measured 5.96 → 7.31 s), the exact local[32]-shaped
    // tuning §2.2 warns against.
    //
    // Nodes that receive NO contribution — absent from the edge dst
    // set — are a FIXED set across iterations: ranks covers every node,
    // so ed ⋈ ranks emits a row for every edge every iteration and
    // contrib's key set is exactly the distinct dst set. Their
    // per-iteration row is pure teleport (+ the dangling share), so the
    // per-iteration `nodes ⋈ contrib` left join is replaced by a union
    // with the checkpointed zero-in-degree frame — one join + one
    // exchange of the node frame FEWER per iteration (§2.4: remove
    // shuffles outright).
    //
    // The dangling set is likewise fixed across iterations: nodes
    // absent from the edge sources. Per iteration the pooled mass is
    // one semi-join + scalar sum against that (usually tiny) frame —
    // and on out-regular graphs like the k-NN graph the set is EMPTY,
    // in which case the dangling term is exactly zero every iteration
    // and all its per-iteration jobs (anti-join, scalar agg, broadcast)
    // are skipped outright: the sum over an empty set is 0, so the
    // recurrence is unchanged (r21 measurement: the dangling machinery
    // was ~2 of the ~5 stages each of the 10 iterations paid, all for
    // a constant-zero term here).
    // only the ANOMALY rows (missing an in-edge or an out-edge) are
    // checkpointed — on the k-NN graph and most real topologies that is
    // a near-empty frame, where checkpointing all-nodes-with-flags
    // would pin a node-count-sized block set in executor memory (§5)
    def anomalies(): (DataFrame, Boolean) = {
      val m = nodes
        .join(edges.select(col("dst").as("id")).distinct()
            .withColumn("__in", lit(true)),
          Seq("id"), "left")
        .join(edges.select(col("src").as("id")).distinct()
            .withColumn("__out", lit(true)),
          Seq("id"), "left")
        .select(col("id"),
          col("__in").isNotNull.as("__hasIn"),
          col("__out").isNotNull.as("__hasOut"))
        .filter(!col("__hasIn") || !col("__hasOut"))
        .localCheckpoint()
      (m, !m.filter(!col("__hasOut")).isEmpty)
    }
    val spark = nodes.sparkSession
    try {
      val ((n, _), (marks, hasDangling)) = graft.util.Par.both(spark, "pageRank.prelude")(
        graft.util.Par.both(spark, "pageRank.counts")(nodes.count(), ed.count()),
        anomalies())
      require(n > 0, "pageRank over an empty node set")
      val base = Scale / n
      val teleport = (Scale * 15L) / (100L * n)
      val zeroIn = marks.filter(!col("__hasIn")).select(col("id"))
      val dangIds = marks.filter(!col("__hasOut")).select(col("id").as("__did"))
      var ranks = nodes.select(col("id"), lit(base).as("r"))
      for (it <- 1 to iters) {
        val contrib = ed
          .join(ranks, ed("src") === ranks("id"))
          .select(col("dst").as("id"),
            expr("(r * 85L) div (100L * __deg)").as("__c"))
          .groupBy("id").agg(sum(col("__c")).as("__s"))
        // every node appears exactly once: contrib covers the distinct
        // dst set (see zeroIn above), the union adds the rest
        val withMass = contrib
          .unionByName(zeroIn.select(col("id"),
            lit(null).cast("long").as("__s")))
        ranks = (if (hasDangling) {
          // pooled damped mass of dangling nodes, shared uniformly —
          // exact conservation (up to floor dust) on sink topologies
          val dangling = ranks
            .join(dangIds, ranks("id") === col("__did"), "left_semi")
            .agg(coalesce(sum(col("r")), lit(0L)).as("__d"))
          withMass
            .crossJoin(broadcast(dangling))
            .select(col("id"),
              (lit(teleport) + coalesce(col("__s"), lit(0L)) +
                expr(s"(__d * 85L) div (100L * ${n}L)")).as("r"))
        } else {
          withMass.select(col("id"),
            (lit(teleport) + coalesce(col("__s"), lit(0L))).as("r"))
        })
        // BATCHED materialization barrier (r21 verdict: the per-
        // iteration eager `localCheckpoint` made the query a chain of
        // ~10 barriered jobs of tiny stages — iteration cadence, not
        // data, dominated). Checkpoint eagerly every CkptEvery
        // iterations (and at the end, which also guarantees `ranks` is
        // materialized before the finally-block unpersists the frames
        // it derives from): one AQE-optimized job per batch, plan depth
        // bounded at CkptEvery iterations. A LAZY checkpoint per
        // iteration was A/B-rejected — `localCheckpoint(eager=false)`
        // finalizes the physical plan without runtime stats, so every
        // iteration ran at the full session shuffle width with AQE
        // coalescing lost (measured 5.96 → 6.85 s); so was pre-
        // partitioning the persisted frames at a fixed width (→ 7.31 s).
        if (it % CkptEvery == 0 || it == iters) ranks = ranks.localCheckpoint()
      }
      ranks
    } finally { ed.unpersist(); () }
  }
}
