package graft

import graft.streaming.StreamingNearDup
import graft.util.Compaction
import org.apache.hadoop.fs.{FileUtil, Path}
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
    // rewrite is complete and the source moved aside, but the promote
    // never ran
    val bands = new Path(s"$dir/bands")
    val old = new Path(s"$dir/bands.__compact_old")
    val next = new Path(s"$dir/bands.__compact_next")
    val fs = bands.getFileSystem(spark.sessionState.newHadoopConf())
    val storedRows = spark.read.parquet(bands.toString).count()
    assert(FileUtil.copy(fs, bands, fs, next, false, fs.getConf))
    assert(fs.rename(bands, old))

    // a near-duplicate of doc 1 still meets the stored corpus
    assert(admit(3L -> (a + " today")) == Set((3L, false, 1L)))
    // and a later compaction keeps every stored row
    StreamingNearDup.compactIndex(spark, dir)
    assert(spark.read.parquet(bands.toString).count() == storedRows)
    assert(!fs.exists(old) && !fs.exists(next))

    // a moved-aside generation next to a promoted table is stale
    assert(FileUtil.copy(fs, bands, fs, old, false, fs.getConf))
    Compaction.recover(spark, bands.toString)
    assert(!fs.exists(old))
    assert(spark.read.parquet(bands.toString).count() == storedRows)
  }
}
