package graft.util

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Small-file compaction for append-maintained parquet datasets — the
  * operational counterpart of the incremental upsert family
  * ([[graft.query.IvfIndex.upsert]], `LexicalSearch.upsertIndex`,
  * [[graft.streaming.StreamingNearDup]]'s per-batch appends): every
  * append lands one-or-more small files per partition directory, and
  * at micro-batch cadence a 100 TB index degrades into millions of
  * KB-sized files whose open/footer costs dominate the probe. Compact
  * rewrites the dataset with its partition layout PRESERVED (the
  * partition-pruned probes keep pruning exactly as before) and bounds
  * output file granularity with `maxRecordsPerFile`.
  *
  * Swap discipline: the rewrite is staged under the table's parent
  * directory ([[Generation.stage]]), row-count-verified against the
  * source, and only then committed through [[Generation.commit]], the
  * one staged-generation swap. A crash at any point either leaves the
  * old table live or is rolled forward by the next
  * [[Generation.recover]], which `compact` and every entry point of
  * the compacted index families run at their head.
  *
  * Readers racing the swap see either generation, never a mix —
  * EXCEPT a reader that resolved file paths before the swap and reads
  * them after the delete (it fails loudly with missing files, the
  * standard recompute-and-retry case). Callers own scheduling
  * compactions off the query path.
  */
object Compaction {

  case class Report(
      rows: Long, filesBefore: Long, filesAfter: Long,
      bytesBefore: Long, bytesAfter: Long)

  /** [[compact]] each `(path, partitionCols)` table that exists after
    * [[Generation.recover]], in order.
    */
  def compactExisting(
      spark: SparkSession, tables: Seq[(String, Seq[String])]): Seq[Report] =
    tables.flatMap { case (path, partitionCols) =>
      Generation.recover(spark, new Path(path).getParent.toString)
      Option.when(Tables.exists(spark, path))(compact(spark, path, partitionCols))
    }

  private def parquetFiles(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val it = fs.listFiles(dir, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) buf += st
    }
    buf.toSeq
  }

  /** Compact the parquet dataset at `path`. `partitionCols` must name
    * the dataset's existing partition directories (empty for a flat
    * layout); `maxRecordsPerFile` bounds output file size. Returns a
    * loud per-run report — silent maintenance is how file-count decay
    * goes unnoticed.
    */
  def compact(
      spark: SparkSession,
      path: String,
      partitionCols: Seq[String] = Seq.empty,
      maxRecordsPerFile: Long = 5000000L): Report = {
    val p = new Path(path)
    val root = p.getParent.toString
    val staged = new Path(Generation.stage(spark, root), p.getName)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"compaction target does not exist: $path")

    val before = parquetFiles(fs, p)
    val src = Tables.read(spark, path)
    val srcRows = src.count()

    // one output task per partition directory (or per shuffle
    // partition on flat layouts), maxRecordsPerFile re-splitting any
    // partition too large for a single well-sized file
    val writer0 = (if (partitionCols.nonEmpty)
      src.repartition(partitionCols.map(col): _*)
    else src)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
    val writer =
      if (partitionCols.nonEmpty) writer0.partitionBy(partitionCols: _*)
      else writer0
    writer.parquet(staged.toString)

    val gotRows = Tables.read(spark, staged.toString).count()
    require(gotRows == srcRows,
      s"compaction row-count mismatch: src=$srcRows rewritten=$gotRows — " +
        s"generation left at $staged, source untouched")
    Generation.commit(spark, root, Seq(p.getName), Nil)

    val after = parquetFiles(fs, p)
    Report(
      rows = srcRows,
      filesBefore = before.size.toLong, filesAfter = after.size.toLong,
      bytesBefore = before.map(_.getLen).sum, bytesAfter = after.map(_.getLen).sum)
  }
}
