package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANALYZE-style column profiling — the stats pass a pipeline runs
  * before trusting a new corpus drop: per column, row count, null
  * count, exact distinct count, and min/max. One scan per table: all
  * per-column aggregates land in a single `agg` (the multi-distinct
  * plan is one Expand pass — scan count stays 1 regardless of column
  * count), the one-row result is checkpointed, and the per-column
  * projection just reshapes it.
  *
  * Profiled columns are integral/string/etc. — anything whose min/max
  * CAST to string formats identically across engines. DOUBLE and
  * TIMESTAMP columns are excluded by the caller (float and timestamp
  * rendering differ between engines; the house discipline is to never
  * put either in an oracle-compared string).
  */
object Profiler {

  /** The single source of truth for WHICH (table, columns) q90
    * profiles — referenced by both [[q90Profile]] and the DuckDB
    * oracle generator in [[graft.Queries]], so the two sides cannot
    * drift (a drift would surface as a confusing oracle mismatch, not
    * a compile error, if these were duplicated literals).
    */
  val Q90Targets: Seq[(String, Seq[String])] = Seq(
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))

  /** One profile row per column: (tbl, col_name, n_rows, n_nulls,
    * ndv, min_s, max_s). min/max are computed on the NATIVE type and
    * cast to string after (lexicographic min of "10" < "9" is not a
    * statistic anyone wants).
    */
  def profile(df: DataFrame, table: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile of zero columns")
    val aggs = cols.flatMap { c =>
      // exact-NDV distinct key: the raw value for fixed-width columns,
      // its sha2-256 for strings — count(distinct text) otherwise
      // carries every distinct payload through the multi-distinct
      // Expand and its shuffle (at corpus scale, the corpus itself);
      // the 256-bit image is distinct-preserving (the q10 exact-dedup
      // precedent), so the count is unchanged while the expand/shuffle
      // rows stay 32 B regardless of value width (guide §2.3: shuffle
      // keys, not payloads).
      val ndvKey = df.schema(c).dataType match {
        case org.apache.spark.sql.types.StringType => sha2(col(c), 256)
        case _ => col(c)
      }
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        count_distinct(ndvKey).as(s"__ndv_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    // one row, one scan; checkpointed so the per-column reshape below
    // does not re-trigger the aggregation per column
    val agged = df
      .agg(count(lit(1)).as("__rows"), aggs: _*)
      .localCheckpoint()
    cols.map { c =>
      agged.select(
        lit(table).as("tbl"),
        lit(c).as("col_name"),
        col("__rows").as("n_rows"),
        (col("__rows") - col(s"__cnt_$c")).as("n_nulls"),
        col(s"__ndv_$c").as("ndv"),
        col(s"__min_$c").as("min_s"),
        col(s"__max_$c").as("max_s"))
    }.reduce(_ unionByName _)
  }

  /** Q90: the profiling report over the corpus and the orders fact
    * table (BIGINT + VARCHAR columns — see the exclusion rule above).
    */
  def q90Profile(spark: SparkSession, dir: String): DataFrame = {
    // parallelize: the fixtures are single-row-group parquet, and the
    // multi-distinct Expand multiplies rows BEFORE the partial agg —
    // on one input split the whole pass would run on one core.
    // The per-table aggregations are INDEPENDENT full-table passes,
    // each ending in an eager checkpoint barrier — run them as
    // concurrent jobs (§2.6, the fsck-audit pattern) so one table's
    // Expand scan back-fills the other's barrier tail instead of
    // waiting behind it.
    graft.util.Par.all(spark, "q90.profile")(Q90Targets.map { case (table, cols) =>
        () => profile(Tables.parallelize(Tables(spark, dir, table)), table, cols)
      }: _*)
      .reduce(_ unionByName _)
      .orderBy("tbl", "col_name")
  }
}
