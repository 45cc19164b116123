package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Occupancy guard for LSH-style bucket self/cross joins.
  *
  * A (band/table, bucket) key holding k rows emits O(k²) collision pairs
  * into the candidate join — for true duplicate clusters that output is
  * inherent, but an adversarial corpus (the same boilerplate header
  * stamped on millions of documents at sub-threshold similarity) floods
  * the join with candidates a downstream filter then discards one by
  * one. The guard excludes buckets above an occupancy cap from candidate
  * generation, ALWAYS logging what it dropped — silent truncation would
  * read as "no near-dups here".
  *
  * The supported way to keep real duplicate clusters out of the cap is
  * to collapse them upstream with exact dedup (q10's sha2 group-by),
  * which the pipeline ships; the cap is the backstop for the
  * non-identical boilerplate mass exact dedup cannot see.
  */
object BucketGuard {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.BucketGuard")

  /** `rows` minus all rows of buckets whose occupancy exceeds `cap`.
    * No-op (and adds zero plan nodes) when nothing exceeds the cap; the
    * accounting itself is one map-side-combined aggregation over bucket
    * keys, evaluated eagerly so the drop count is logged at plan-build
    * time rather than lost inside a lazy job.
    */
  def capOccupancy(
      rows: DataFrame,
      keyCols: Seq[String],
      cap: Int,
      what: String): DataFrame =
    capOccupancyWithDropped(rows, keyCols, cap, what)._1

  /** [[capOccupancy]] plus the dropped bucket keys as a broadcastable
    * literal frame (None when nothing was dropped) — for callers that
    * can REPAIR a drop at a different granularity (e.g.
    * [[graft.pipeline.Dedup.cleanCorpus]]'s rep-level top-up) and so
    * need to know exactly which buckets the cap excluded, without
    * re-running the occupancy aggregation.
    */
  def capOccupancyWithDropped(
      rows: DataFrame,
      keyCols: Seq[String],
      cap: Int,
      what: String): (DataFrame, Option[DataFrame]) = {
    require(cap > 0, "occupancy cap must be positive")
    val keys = keyCols.map(col)
    val over = rows.groupBy(keys: _*).agg(count(lit(1)).as("occ"))
      .filter(col("occ") > cap)
    // the number of over-cap buckets is small by construction (each one
    // represents >cap colliding rows), so a driver-side collect is safe
    val overRows = over.collect()
    if (overRows.isEmpty) (rows, None)
    else {
      val members = overRows.map(_.getAs[Long]("occ")).sum
      log.warn(
        s"$what: excluding ${overRows.length} bucket(s) over occupancy cap $cap " +
          s"($members member rows) from candidate generation; run exact dedup " +
          "upstream to collapse duplicate/boilerplate clusters before LSH")
      // exclusion via a LITERAL frame built from the already-collected
      // keys: re-joining `over` would re-run the occupancy aggregation
      // lineage inside the candidate plan, and an Or-reduced filter
      // predicate would nest O(#buckets) deep (driver stack / codegen
      // blow-up in exactly the adversarial case this guard exists for).
      // Anti-join null semantics are safe here: a null bucket key never
      // matches the downstream equi-join either, so keeping such rows
      // cannot create collisions.
      val spark = rows.sparkSession
      val keySchema = org.apache.spark.sql.types.StructType(
        over.schema.fields.filter(f => keyCols.contains(f.name)))
      val overDf = graft.Tables.local(spark,
        overRows.toSeq.map(r => org.apache.spark.sql.Row(keyCols.map(c => r.getAs[Any](c)): _*)),
        keySchema)
      (rows.join(broadcast(overDf), keyCols, "left_anti"), Some(overDf))
    }
  }
}
