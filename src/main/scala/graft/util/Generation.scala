package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one way tables under a root directory are replaced by rewritten
  * copies, whole or one partition directory at a time. Re-cluster
  * ([[graft.query.IvfIndex.recluster]], [[graft.query.IvfPq.recluster]]),
  * lexical tombstone compaction
  * ([[graft.query.LexicalSearch.compactTombstones]]) and file
  * compaction ([[Compaction.compact]]) swap whole tables; the hot-cell
  * split ([[graft.query.IvfIndex.splitHotCells]]), IVF tombstone
  * compaction ([[graft.query.IvfIndex.compactTombstones]]), the
  * residual re-encode ([[graft.query.IvfPq.reencodeCells]]) and the
  * client's payload purge ([[graft.GraftClient.compactDeletes]]) swap
  * the partition directories they rewrote. All of them build into
  * [[stage]] and publish through [[commit]].
  *
  * Protocol: the writer builds every new table or partition whole
  * under `root/_regen/` while readers keep serving the live ones.
  * [[commit]] then publishes the `recluster_pending` marker atomically
  * (temp file + rename): one line per entry to install, a table
  * (`cells_meta`) or a partition directory (`cells/centroid_id=7`),
  * then one `-`-prefixed line per live entry to purge. The marker is
  * written only after staging completes, so its presence proves the
  * staged entries are whole and rolling forward is always safe.
  * [[recover]] is the one roll-forward body: each live entry is moved
  * aside to `_retired_<entry>` and its staged copy renamed in, then the
  * purged entries, the retired copies and the stage are deleted, the
  * marker LAST. A crash before the marker leaves the old tables live
  * and an orphan stage that the next [[stage]] deletes; a crash after
  * it is completed by the next [[recover]], which every read and
  * maintenance entry point runs at its head (one `fs.exists` when
  * healthy). No reader sees entries of two generations.
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

  /** The staging directory under `root`: a committed generation while
    * a marker names it, an orphan of a crashed writer otherwise.
    */
  def stagePath(root: String): String = s"$root/_regen"

  /** An empty staging directory for the next [[commit]] under `root`.
    * A pending swap is completed first: its stage is a committed
    * generation, never an orphan.
    */
  def stage(spark: SparkSession, root: String): String = {
    recover(spark, root)
    val dir = stagePath(root)
    fileSystem(spark, root).delete(new Path(dir), true)
    dir
  }

  /** The marker lines of a partial rewrite of the partitioned `table`
    * staged under [[stage]]: an install for every staged `partCol=`
    * directory and a purge for every `touched` partition value the
    * stage holds no rows for (a rewrite that emptied it).
    */
  def partitions(
      spark: SparkSession,
      root: String,
      table: String,
      partCol: String,
      touched: Seq[Any]): (Seq[String], Seq[String]) = {
    val staged = partitionValues(spark, s"${stagePath(root)}/$table", partCol)
    (staged.map(v => s"$table/$partCol=$v"),
      touched.map(_.toString).distinct.filterNot(staged.toSet).map(v => s"$table/$partCol=$v"))
  }

  /** The `partCol=` directory values under `dir` (none when it is absent). */
  def partitionValues(spark: SparkSession, dir: String, partCol: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fileSystem(spark, dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(s"$partCol=")).map(_.stripPrefix(s"$partCol="))
  }

  /** Install the entries `installs`, each built whole under [[stage]],
    * and delete the live entries `purge`, as one transition. An entry
    * is a table name or a `table/col=value` partition directory.
    */
  def commit(
      spark: SparkSession,
      root: String,
      installs: Seq[String],
      purge: Seq[String]): Unit = {
    // an empty marker is the format before markers carried their plan,
    // which installs EVERY staged table: never publish one
    require(installs.nonEmpty || purge.nonEmpty, s"an empty commit under $root")
    val fs = fileSystem(spark, root)
    step()
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
    val stage = new Path(stagePath(root))
    def retired(t: String) = new Path(s"$root/_retired_$t")
    def children(dir: Path) =
      if (fs.exists(dir)) fs.listStatus(dir).toSeq else Nil
    // an empty marker (the format before markers carried their plan)
    // installs every staged or retired table
    val installs = if (lines.nonEmpty) named else
      (children(stage).filter(_.isDirectory).map(_.getPath.getName) ++
        children(new Path(root)).map(_.getPath.getName)
          .filter(_.startsWith("_retired_")).map(_.stripPrefix("_retired_"))).distinct
    // the target's parent must exist, or a local rename quietly
    // degrades to a recursive copy
    def rename(from: Path, to: Path): Unit = {
      step()
      fs.mkdirs(to.getParent)
      fs.rename(from, to)
      ()
    }
    installs.foreach { t =>
      val live = new Path(s"$root/$t")
      val fresh = new Path(stage, t)
      if (fs.exists(fresh)) {
        // an entry the old generation never had has nothing to retire
        if (fs.exists(live) && !fs.exists(retired(t))) rename(live, retired(t))
        if (!fs.exists(live)) rename(fresh, live)
        require(!fs.exists(fresh) && fs.exists(live), s"swap: could not install $fresh")
      }
    }
    // a retired partition lives under its table's `_retired_` directory
    val retiredDirs = installs.map(t => retired(t.takeWhile(_ != '/'))).distinct
    (purge.map(t => new Path(s"$root/${t.drop(1)}")) ++ retiredDirs :+ stage)
      .foreach(fs.delete(_, true))
    fs.delete(marker, true)
    org.slf4j.LoggerFactory.getLogger("graft.Generation")
      .info(s"swapped in ${installs.mkString(", ")} under $root")
  }

  /** Thrown by an injected crash ([[crashAtStep]]). */
  final class InjectedCrash extends RuntimeException("injected commit crash")

  /** Crash injection for the crash-matrix specs: when set to `n` on the
    * calling thread, the `n`-th commit step from now throws
    * [[InjectedCrash]] instead of running, once. Publishing a marker is
    * one step and every roll-forward rename one more, so `0` crashes
    * before the marker and `n > 0` after it, with `n - 1` renames done.
    */
  private[graft] val crashAtStep = new ThreadLocal[Option[Int]] {
    override def initialValue(): Option[Int] = None
  }

  private def step(): Unit = crashAtStep.get.foreach { n =>
    crashAtStep.set(if (n == 0) None else Some(n - 1))
    if (n == 0) throw new InjectedCrash
  }
}
