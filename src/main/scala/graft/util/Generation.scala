package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one way a table under a root directory is replaced by a
  * rewritten copy. Re-cluster ([[graft.query.IvfIndex.recluster]],
  * [[graft.query.IvfPq.recluster]]), lexical tombstone compaction
  * ([[graft.query.LexicalSearch.compactTombstones]]) and file
  * compaction ([[Compaction.compact]]) all build into [[stage]] and
  * publish through [[commit]].
  *
  * Protocol: the writer builds every new table whole under
  * `root/_regen/` while readers keep serving the live ones. [[commit]]
  * then publishes the `recluster_pending` marker atomically (temp file
  * + rename): one line per table to install, then one `-`-prefixed
  * line per live table to purge. The marker is written only after
  * staging completes, so its presence proves the staged tables are
  * whole and rolling forward is always safe. [[recover]] is the one
  * roll-forward body: each live table is moved aside to
  * `_retired_<name>` and its staged copy renamed in, then the purged
  * tables, the retired copies and the stage are deleted, the marker
  * LAST. A crash before the marker leaves the old tables live and an
  * orphan stage that the next [[stage]] deletes; a crash after it is
  * completed by the next [[recover]], which every read and maintenance
  * entry point runs at its head (one `fs.exists` when healthy). No
  * reader sees tables of two generations.
  *
  * A reader may roll a swap forward while its committer is still
  * renaming: in one JVM the roll-forward runs under one lock, and
  * across processes every step tolerates a peer having taken it (a
  * staged copy that is gone, next to a live copy that exists, is
  * installed). One swap at a time per root: two writers must not
  * commit under one root concurrently, the rule appends already
  * follow. On an object store rename is copy + delete, and a table
  * format should own the swap instead.
  */
object Generation {

  private val MarkerName = "recluster_pending"

  private def fileSystem(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** An empty staging directory for the next [[commit]] under `root`.
    * A pending swap is completed first: its stage is a committed
    * generation, never an orphan.
    */
  def stage(spark: SparkSession, root: String): String = {
    recover(spark, root)
    val dir = s"$root/_regen"
    fileSystem(spark, root).delete(new Path(dir), true)
    dir
  }

  /** Install the tables `installs`, each built whole under [[stage]],
    * and delete the live tables `purge`, as one transition.
    */
  def commit(
      spark: SparkSession,
      root: String,
      installs: Seq[String],
      purge: Seq[String]): Unit = {
    val fs = fileSystem(spark, root)
    // a torn marker read back as a shorter plan would install part of
    // a generation: publish it whole or not at all
    val tmp = new Path(s"$root/$MarkerName._tmp")
    val out = fs.create(tmp, true)
    try out.write((installs ++ purge.map("-" + _)).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, new Path(s"$root/$MarkerName")),
      s"could not publish the swap marker under $root")
    recover(spark, root)
  }

  /** Complete the swap a published marker names, if any. Idempotent:
    * re-entry at any crash point converges to the fully swapped state.
    */
  def recover(spark: SparkSession, root: String): Unit = {
    val fs = fileSystem(spark, root)
    val marker = new Path(s"$root/$MarkerName")
    if (fs.exists(marker))
      synchronized { if (fs.exists(marker)) rollForward(fs, root, marker) }
  }

  private def rollForward(fs: FileSystem, root: String, marker: Path): Unit = {
    val lines =
      try {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).toList
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => return } // a peer finished
    val (purge, named) = lines.partition(_.startsWith("-"))
    val stage = new Path(s"$root/_regen")
    def retired(t: String) = new Path(s"$root/_retired_$t")
    def children(dir: Path) =
      if (fs.exists(dir)) fs.listStatus(dir).toSeq else Nil
    // a marker naming no table (the format before markers carried their
    // plan) installs every staged or retired table
    val installs = if (named.nonEmpty) named else
      (children(stage).filter(_.isDirectory).map(_.getPath.getName) ++
        children(new Path(root)).map(_.getPath.getName)
          .filter(_.startsWith("_retired_")).map(_.stripPrefix("_retired_"))).distinct
    installs.foreach { t =>
      val live = new Path(s"$root/$t")
      val fresh = new Path(stage, t)
      if (fs.exists(fresh)) {
        // a table the old generation never had has nothing to retire
        if (fs.exists(live) && !fs.exists(retired(t))) fs.rename(live, retired(t))
        if (!fs.exists(live)) fs.rename(fresh, live)
        require(!fs.exists(fresh) && fs.exists(live), s"swap: could not install $fresh")
      }
    }
    (purge.map(t => new Path(s"$root/${t.drop(1)}")) ++ installs.map(retired) :+ stage)
      .foreach(fs.delete(_, true))
    fs.delete(marker, true)
    org.slf4j.LoggerFactory.getLogger("graft.Generation")
      .info(s"swapped in ${installs.mkString(", ")} under $root")
  }
}
