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
  * Swap discipline: the rewrite lands in a sibling generation
  * directory, is row-count-verified against the source, and only then
  * swapped in (old dir moved aside, new dir renamed over, old dir
  * deleted). On a POSIX filesystem/HDFS the rename pair is two atomic
  * metadata ops with a crash window BETWEEN them, which [[recover]]
  * closes (the moved-aside dir is the complete prior state). `compact`
  * recovers at its head, and so does every [[graft.pipeline.NearDupIndex]]
  * and [[graft.pipeline.CurationStore]] entry point before it reads or
  * appends a table; IVF and lexical tables do not recover yet. Such an
  * entry point must not race a compaction of the same table, the rule
  * appends already follow. On object stores rename is copy+delete and a
  * table format (or the fence discipline of
  * [[graft.streaming.IndexMaintenance]]) should own the swap instead —
  * documented, not hidden.
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

  private def moved(path: String) = new Path(path + ".__compact_old")

  /** Complete a swap torn between its two renames. With `path` missing,
    * the moved-aside prior generation is the whole table and is renamed
    * back; with `path` present, a moved-aside generation is stale and is
    * deleted. A no-op when no swap was torn.
    */
  def recover(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val old = moved(path)
    if (fs.exists(old)) {
      if (fs.exists(p)) fs.delete(old, true)
      else {
        require(fs.rename(old, p), s"recovery failed: could not restore $p from $old")
        org.slf4j.LoggerFactory.getLogger("graft.Compaction")
          .warn(s"restored $path from a compaction swap torn before its promote")
      }
    }
  }

  /** [[compact]] each `(path, partitionCols)` table that exists after
    * [[recover]], in order.
    */
  def compactExisting(
      spark: SparkSession, tables: Seq[(String, Seq[String])]): Seq[Report] =
    tables.flatMap { case (path, partitionCols) =>
      recover(spark, path)
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
    recover(spark, path)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"compaction target does not exist: $path")

    val before = parquetFiles(fs, p)
    val src = Tables.read(spark, path)
    val srcRows = src.count()

    val tmp = new Path(path + ".__compact_next")
    val old = moved(path)
    fs.delete(tmp, true)

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
    writer.parquet(tmp.toString)

    val gotRows = Tables.read(spark, tmp.toString).count()
    require(gotRows == srcRows,
      s"compaction row-count mismatch: src=$srcRows rewritten=$gotRows — " +
        s"generation left at $tmp, source untouched")

    require(fs.rename(p, old), s"swap failed: could not move $p aside")
    require(fs.rename(tmp, p), s"swap failed: could not promote $tmp " +
      s"(prior state intact at $old)")
    fs.delete(old, true)

    val after = parquetFiles(fs, p)
    Report(
      rows = srcRows,
      filesBefore = before.size.toLong, filesAfter = after.size.toLong,
      bytesBefore = before.map(_.getLen).sum, bytesAfter = after.map(_.getLen).sum)
  }
}
