package graft

import graft.query.{IvfIndex, IvfPq, LexicalSearch, PqIndex}
import graft.streaming.StreamingNearDup
import graft.util.{Compaction, Generation}
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CompactionSpec extends AnyFunSuite with SharedSpark {

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"compact-$tag").toString + "/data"

  test("partitioned appends compact to few files; data and pruning survive") {
    import spark.implicits._
    val dir = tempDir("bucketed")
    // simulate 12 micro-batch appends into a bucketed index layout
    (0 until 12).foreach { b =>
      (0 until 200).map(i => (b * 200L + i, s"row_${b}_$i"))
        .toDF("id", "payload")
        .withColumn("__bucket", pmod(hash(col("id")), lit(8)))
        .repartition(4)
        .write.mode("append").partitionBy("__bucket").parquet(dir)
    }
    val expected = spark.read.parquet(dir)
      .select("id", "payload", "__bucket")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

    val report = Compaction.compact(spark, dir, Seq("__bucket"))
    assert(report.rows == 2400L)
    assert(report.filesAfter < report.filesBefore,
      s"no reduction: ${report.filesBefore} -> ${report.filesAfter}")
    // one file per populated partition directory (2400 rows << max)
    assert(report.filesAfter <= 8, s"expected <=8 files, got ${report.filesAfter}")

    val after = spark.read.parquet(dir)
    assert(after.select("id", "payload", "__bucket").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet == expected)
    // partition pruning still works: a bucket filter reads a subset
    val pruned = after.filter(col("__bucket") === 3)
      .queryExecution.executedPlan.toString
    assert(pruned.contains("__bucket"), pruned.take(800))
  }

  test("flat layout compacts; maxRecordsPerFile re-splits large partitions") {
    import spark.implicits._
    val dir = tempDir("flat")
    (0 until 6).foreach { b =>
      (0 until 500).map(i => b * 500L + i).toDF("v")
        .repartition(5).write.mode("append").parquet(dir)
    }
    val report = Compaction.compact(spark, dir, maxRecordsPerFile = 1000L)
    assert(report.rows == 3000L)
    assert(report.filesAfter < report.filesBefore)
    assert(spark.read.parquet(dir).agg(sum("v")).head.getLong(0)
      == (0L until 3000L).sum)
  }

  test("a failed rewrite leaves the source untouched") {
    import spark.implicits._
    val dir = tempDir("guard")
    (0 until 100).map(_.toLong).toDF("v").write.parquet(dir)
    // nonexistent partition column -> the rewrite itself fails
    intercept[Exception] {
      Compaction.compact(spark, dir, Seq("no_such_col"))
    }
    assert(spark.read.parquet(dir).count() == 100L)
  }

  test("a swap torn between its renames is recovered: no re-admitted duplicate, no lost row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact-torn").toString
    val a = "the quick brown fox jumps over the lazy dog near the old riverbank at dawn"
    val c = "an entirely unrelated sentence about compiling scala code on a quiet evening"
    def admit(rows: (Long, String)*) =
      StreamingNearDup.admissionStep(rows.toDF("doc_id", "text"), dir)
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.get(2))).toSet
    assert(admit(1L -> a, 2L -> c) == Set((1L, true, null), (2L, true, null)))

    // the crash window of a bands/ compaction, staged by hand: the
    // rewrite is complete and committed (marker published) and the live
    // table retired, but the install never ran
    val bands = new Path(s"$dir/bands")
    val staged = new Path(s"$dir/_regen/bands")
    val retired = new Path(s"$dir/_retired_bands")
    val fs = bands.getFileSystem(spark.sessionState.newHadoopConf())
    val storedRows = spark.read.parquet(bands.toString).count()
    assert(FileUtil.copy(fs, bands, fs, staged, false, fs.getConf))
    publishMarker(fs, dir, "bands")
    assert(fs.rename(bands, retired))

    // a near-duplicate of doc 1 still meets the stored corpus
    assert(admit(3L -> (a + " today")) == Set((3L, false, 1L)))
    // and a later compaction keeps every stored row
    StreamingNearDup.compactIndex(spark, dir)
    assert(spark.read.parquet(bands.toString).count() == storedRows)
    assert(!fs.exists(retired) && !fs.exists(staged))

    // a retired generation next to an installed table is stale
    assert(FileUtil.copy(fs, bands, fs, retired, false, fs.getConf))
    publishMarker(fs, dir, "bands")
    Generation.recover(spark, dir)
    assert(!fs.exists(retired))
    assert(spark.read.parquet(bands.toString).count() == storedRows)
  }

  /** The swap marker a commit publishes for installing `table`. */
  private def publishMarker(fs: FileSystem, root: String, table: String): Unit = {
    val m = fs.create(new Path(s"$root/recluster_pending"), true)
    m.write(table.getBytes("UTF-8"))
    m.close()
  }

  test("a torn compaction heals on the read path: IVF cells, lexical postings, PQ codes") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val e = (0L until 200L).map(i => (i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val docs = (0L until 40L)
      .map(i => (i, s"doc $i on topic${i % 5} with word${i % 7} and more text"))
      .toDF("doc_id", "text")
    val terms = Seq((0L, "topic3"), (0L, "word2"), (1L, "word4")).toDF("query_id", "term")
    val families = Seq[(String, String, String => Unit, String => DataFrame)](
      ("ivf", "cells",
        IvfIndex.build(e, "vec_id", "embedding", _, IvfIndex.Params(nCentroids = 4)),
        IvfIndex.queryTopK(spark, _, "vec_id", "embedding", q, "query_id", "qvec",
          k = 3, threshold = 0.0)),
      ("lexical", "postings",
        LexicalSearch.buildIndex(docs, "doc_id", "text", _),
        LexicalSearch.queryIndex(spark, _, "doc_id", terms, "query_id", "term", k = 3)),
      ("pq", "cell_codes",
        IvfPq.build(e, "vec_id", "embedding", _, IvfPq.Params(
          ivf = IvfIndex.Params(nCentroids = 1), pq = PqIndex.Params(dim = 8, numSub = 4))),
        IvfPq.queryTopK(spark, _, "vec_id", "embedding", q, "query_id", "qvec",
          k = 3, threshold = 0.0)))
    for ((family, table, build, query) <- families) {
      val dir = java.nio.file.Files.createTempDirectory(s"compact-heal-$family").toString
      build(dir)
      val before = query(dir).collect().toSet
      assert(before.nonEmpty)
      // the window after the marker is published: the live table
      // retired, the fresh one staged and not installed
      val live = new Path(s"$dir/$table")
      val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
      assert(FileUtil.copy(fs, live, fs, new Path(s"$dir/_regen/$table"), false, fs.getConf))
      publishMarker(fs, dir, table)
      assert(fs.rename(live, new Path(s"$dir/_retired_$table")))
      assert(query(dir).collect().toSet == before, s"$family answered differently")
      Seq("_regen", s"_retired_$table", "recluster_pending").foreach { d =>
        assert(!fs.exists(new Path(s"$dir/$d")), s"$family left $d behind")
      }
    }
  }
}
