package graft

import graft.query.{IndexCheck, IvfIndex, IvfPq, LexicalSearch, Tombstones}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fsck face ([[graft.query.IndexCheck]]): healthy indexes pass
  * every invariant, each corruption mode flags EXACTLY its check, and
  * repairable in-flight state reports without failing.
  */
class IndexCheckSpec extends AnyFunSuite with SharedSpark {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-fsck-$tag").toString

  private def checks(df: DataFrame): Map[String, (Boolean, Long)] =
    df.collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap

  test("healthy plain IVF and composed IVF+PQ pass every check; pending " +
      "state reports without failing") {
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val dir = tmp("healthy")
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 8))
    val plain = checks(IndexCheck.checkIvf(spark, dir, "vec_id", "embedding"))
    assert(plain.keySet == Set("radius_coverage", "meta_matches_dirs",
      "unique_ids", "label_meta_fresh", "pending_markers", "pending_tombstones"))
    assert(plain.values.forall(_._1), s"healthy plain index flagged: $plain")
    assert(plain("pending_tombstones")._2 == 0L)

    // pending deletes: still ok everywhere, tombstones REPORTED
    IvfIndex.delete(spark, dir, "vec_id",
      e.filter(pmod(col("vec_id"), lit(10)) === 0).select("vec_id"))
    val masked = checks(IndexCheck.checkIvf(spark, dir, "vec_id", "embedding"))
    assert(masked.values.forall(_._1), s"pending delete flagged a check: $masked")
    assert(masked("pending_tombstones")._2 == 50L)

    val pqDir = tmp("healthy-pq")
    IvfPq.build(e, "vec_id", "embedding", pqDir,
      IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 8)))
    val composed = checks(IndexCheck.checkIvf(spark, pqDir, "vec_id", "embedding"))
    assert(composed.contains("codes_align"))
    assert(composed.values.forall(_._1), s"healthy composed index flagged: $composed")

    // residual mode adds (and passes) the enc-reference check
    val resDir = tmp("healthy-res")
    IvfPq.build(e, "vec_id", "embedding", resDir,
      IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 8), residual = true))
    val res = checks(IndexCheck.checkIvf(spark, resDir, "vec_id", "embedding"))
    assert(res.contains("enc_refs"))
    assert(res.values.forall(_._1), s"healthy residual index flagged: $res")
  }

  test("each corruption mode flags exactly its own check") {
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")

    // under-covering radius — the exactness invariant
    val rDir = tmp("radius")
    IvfIndex.build(e, "vec_id", "embedding", rDir, IvfIndex.Params(nCentroids = 8))
    val meta = spark.read.parquet(s"$rDir/cells_meta")
      .select(col("centroid_id"), col("center"), (col("radius") * 0.5).as("radius"))
      .localCheckpoint()
    meta.write.mode("overwrite").parquet(s"$rDir/cells_meta")
    val r = checks(IndexCheck.checkIvf(spark, rDir, "vec_id", "embedding"))
    assert(!r("radius_coverage")._1 && r("radius_coverage")._2 > 0L)
    assert(r("unique_ids")._1 && r("meta_matches_dirs")._1)

    // duplicated id — append-contract violation
    val dDir = tmp("dup")
    IvfIndex.build(e, "vec_id", "embedding", dDir, IvfIndex.Params(nCentroids = 8))
    IvfIndex.upsert(spark, dDir, "vec_id", "embedding",
      e.filter(col("vec_id") === 7L))
    val d = checks(IndexCheck.checkIvf(spark, dDir, "vec_id", "embedding"))
    assert(!d("unique_ids")._1 && d("unique_ids")._2 == 1L)

    // orphan cell directory — meta/dirs disagreement
    val oDir = tmp("orphan")
    IvfIndex.build(e, "vec_id", "embedding", oDir, IvfIndex.Params(nCentroids = 8))
    val shrunk = spark.read.parquet(s"$oDir/cells_meta")
      .orderBy(col("centroid_id")).limit(6).localCheckpoint()
    shrunk.write.mode("overwrite").parquet(s"$oDir/cells_meta")
    val o = checks(IndexCheck.checkIvf(spark, oDir, "vec_id", "embedding"))
    assert(!o("meta_matches_dirs")._1 && o("meta_matches_dirs")._2 >= 2L)

    // composed: a code row whose vector is gone (stale) + one missing
    val cDir = tmp("codes")
    IvfPq.build(e, "vec_id", "embedding", cDir,
      IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 8)))
    val pruned = spark.read.parquet(s"$cDir/cell_codes")
      .filter(col("vec_id") =!= 3L).localCheckpoint()
    pruned.write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$cDir/cell_codes")
    val c = checks(IndexCheck.checkIvf(spark, cDir, "vec_id", "embedding"))
    assert(!c("codes_align")._1 && c("codes_align")._2 == 1L)
    assert(c("radius_coverage")._1 && c("unique_ids")._1)
  }

  test("a residual split's fresh cell needs no enc_current row; a dangling " +
      "enc_current row flags enc_refs") {
    import spark.implicits._
    // 4 tight clusters on orthogonal axes in one 200-row cell: over a
    // 60-row cap, so one split pass mints a fresh cell
    val rnd = new scala.util.Random(13)
    val e = (0L until 200L).map { i =>
      val base = Array.fill(8)(0.0f)
      base((i % 4).toInt * 2) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.08f))
    }.toDF("vec_id", "embedding")
    val dir = tmp("res-split")
    IvfPq.build(e, "vec_id", "embedding", dir, IvfPq.Params(
      ivf = IvfIndex.Params(nCentroids = 1),
      pq = graft.query.PqIndex.Params(dim = 8, numSub = 4, codebookSize = 8),
      residual = true))
    assert(IvfIndex.splitHotCells(spark, dir, "vec_id", "embedding", 60L).split.nonEmpty)
    // the moved rows keep their valid generation; the fresh cell gets
    // its enc_current row from the next upsert into it, not the split
    val split = checks(IndexCheck.checkIvf(spark, dir, "vec_id", "embedding"))
    assert(split.contains("enc_refs"))
    assert(split.values.forall(_._1), s"healthy split residual index flagged: $split")

    val current = spark.read.parquet(s"$dir/enc_current").localCheckpoint()
    current.unionByName(Seq((99, 999L)).toDF("centroid_id", "enc_id")
        .select(col("centroid_id").cast(current.schema("centroid_id").dataType),
          col("enc_id")))
      .write.mode("overwrite").parquet(s"$dir/enc_current")
    val dangling = checks(IndexCheck.checkIvf(spark, dir, "vec_id", "embedding"))
    assert(!dangling("enc_refs")._1 && dangling("enc_refs")._2 == 1L)
  }

  test("lexical fsck: healthy passes; a drifted stats row and a " +
      "mis-bucketed posting each flag their check") {
    import spark.implicits._
    val docs = Tables.parallelize(Tables(spark, Sf0001, "documents"))
      .select(col("doc_id"), col("text"))
    val dir = tmp("lex")
    LexicalSearch.buildIndex(docs, "doc_id", "text", dir)
    val healthy = checks(IndexCheck.checkLexical(spark, dir, "doc_id"))
    assert(healthy.values.forall(_._1), s"healthy lexical index flagged: $healthy")

    // pending delete: stats stay physical by contract — still ok
    LexicalSearch.deleteFromIndex(spark, dir, "doc_id",
      docs.filter(col("doc_id") === 2L).select("doc_id"))
    val masked = checks(IndexCheck.checkLexical(spark, dir, "doc_id"))
    assert(masked("stats_physical")._1, "pending delete broke the stats invariant")
    assert(masked("pending_tombstones")._2 == 1L)

    // drifted stats
    Seq((1L, 1L)).toDF("__n_docs", "__total_len")
      .write.mode("overwrite").parquet(s"$dir/stats")
    val drifted = checks(IndexCheck.checkLexical(spark, dir, "doc_id"))
    assert(!drifted("stats_physical")._1)

    // mis-bucketed posting row
    val dir2 = tmp("lex-bucket")
    LexicalSearch.buildIndex(docs, "doc_id", "text", dir2)
    spark.read.parquet(s"$dir2/postings").limit(1)
      .withColumn("__bucket",
        pmod(col("__bucket").cast("int") + 1, lit(LexicalSearch.IndexBuckets)))
      .write.mode("append").partitionBy("__bucket").parquet(s"$dir2/postings")
    val mb = checks(IndexCheck.checkLexical(spark, dir2, "doc_id"))
    assert(!mb("bucket_hash")._1 && mb("bucket_hash")._2 == 1L)
  }
}
