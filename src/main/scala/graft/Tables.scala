package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Table loaders: [[read]] opens every engine table, and the fixture
  * loaders (TESTDATA.md) sit on it. One place normalizes the quirks of
  * `events.ts`, which has shipped in two parquet shapes across fixture
  * regenerations:
  *   - TIMESTAMP(NANOS): Spark cannot represent it; with
  *     `spark.sql.legacy.parquet.nanosAsLong=true` it arrives as LongType
  *     nanoseconds and is converted here to microsecond TimestampType
  *     (the DuckDB oracle only compares second-resolution derivations, so
  *     the ns->us truncation is oracle-safe).
  *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
  *     TIMESTAMP_NTZ by default, which `unix_micros`/`withWatermark`
  *     reject. `spark.sql.parquet.inferTimestampNTZ=false` in
  *     [[configure]] restores TimestampType inference (session TZ is
  *     pinned to UTC, so the instant semantics match the oracle); the
  *     NTZ cast arm below covers sessions configured elsewhere.
  */
object Tables {

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case _ => read(spark, s"$dir/$name.parquet")
    }

  /** The one way engine code opens a Parquet table. Plain
    * `spark.read.parquet` infers the schema in a one-task Spark job;
    * here the schema comes from the footer of the table's first data
    * file, read on the driver and converted by Spark's own converter
    * under the session's Parquet settings, so the frame, its schema and
    * its rows are the same without the job. A path with no data file
    * (missing, empty, or a glob) takes the plain read, so its errors
    * stay Spark's; so does a session that merges Parquet schemas.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** Whether `path` exists: one driver-side file-system call, no job. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else firstDataFile(spark, path).flatMap(FooterSchema.of(spark, _))

  /** The first data file under `path` in sorted path order, skipping
    * what Spark's file index skips (`_`/`.` entries such as `_SUCCESS`,
    * `_temporary`, `.crc`) but descending into `k=v` partition
    * directories; `path` itself when it is a file.
    */
  private[graft] def firstDataFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(dir: Path): Option[FileStatus] =
      fs.listStatus(dir).filterNot(s => FooterSchema.hidden(s.getPath.getName))
        .sortBy(_.getPath.getName).iterator
        .flatMap { s =>
          if (s.isDirectory) walk(s.getPath)
          else Option.when(!s.getPath.getName.startsWith("_"))(s)
        }
        .nextOption()
    if (!fs.exists(root)) None
    else {
      val st = fs.getFileStatus(root)
      if (st.isFile) Some(st) else walk(root)
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = read(spark, s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case LongType =>
        // integral division: `/` would promote ~1.7e18 ns longs to double
        // (53-bit mantissa) and lose up to ~256 ns before dividing, which
        // can flip a sessionization gap sitting exactly on the boundary
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // session TZ is UTC, so NTZ wall-clock == the oracle's instant
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Spread a small single-split input across all cores before a
    * CPU-heavy narrow stage. The fixture tables are single-row-group
    * parquet files, so everything upstream of the first shuffle would
    * otherwise run on ONE core regardless of `local[32]`. No-op when the
    * scan already has enough splits (any real corpus); when it fires, the
    * cost is one shuffle of the small input — strictly cheaper than
    * serializing the kernel work behind it.
    *
    * The split estimate comes from the scan's file list + sizes, NOT
    * from `df.rdd.getNumPartitions`: touching `.rdd` compiles the whole
    * physical plan (non-AQE) just to count splits — wasted planning
    * work on every call. Non-file sources (memory relations in tests)
    * are left untouched.
    */
  def parallelize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.isEmpty || files.length >= target) return df
    val estimatedSplits =
      try {
        val maxPartBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
        val hadoopConf = spark.sparkContext.hadoopConfiguration
        files.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val len = p.getFileSystem(hadoopConf).getFileStatus(p).getLen
          math.max(1L, (len + maxPartBytes - 1) / maxPartBytes)
        }.sum
      } catch { case _: Exception => target.toLong } // unknown -> assume enough
    if (estimatedSplits < target) df.repartition(target) else df
  }

  /** Driver-held rows as a local relation: an action reads it with no job. */
  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Per-process warehouse for managed tables (bucketed-join layouts):
    * tmp-dir so `saveAsTable` never litters the repo working directory,
    * per-PID so concurrent JVMs (Verify + Bench overlap in the harness)
    * cannot clobber each other's table files; removed on JVM exit.
    */
  lazy val warehouseDir: String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_warehouse_" +
      ProcessHandle.current().pid()
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
    dir
  }

  /** The engine's fixed partition fan-out: the directory count of every
    * hash-bucketed table it writes. Up to this many directories are
    * listed on the driver instead of in a listing job.
    */
  private[graft] val PartitionFanOut = Seq(GraftClient.PayloadBuckets,
    query.LexicalSearch.IndexBuckets, query.AnnIndex.IndexBuckets,
    pipeline.NearDupIndex.IndexBuckets).max

  /** Session config every graft entry point should apply.
    *
    * The r21 performance setting is scale-adaptive, not tuned to a
    * core count (opt guide §2.2/§9):
    *
    *  - `coalescePartitions.minPartitionSize=64k` (default 1m): AQE's
    *    coalescing floor. With the default, any exchange under ~32 MB
    *    collapses below the session's parallelism — for byte-small but
    *    CPU-dense frames (vector kernels, window fills, gram verifies)
    *    that serializes whole stages onto 1-2 cores (measured: q84's
    *    window stage ran 1 task for 1.0 s; q82's pass-2 ranking 2 tasks
    *    for 1.5 s). 64k keeps `parallelismFirst` honest at small bytes
    *    and is invisible at scale, where partition sizes are decided by
    *    total/parallelism, far above either floor.
    *
    *  - `parallelPartitionDiscovery.threshold` = [[PartitionFanOut]]
    *    (default 32): a 64-bucket table's directories are listed on the
    *    driver, not in a 64-task job on every read; IVF cell tables with
    *    more cells than that still list in parallel.
    *
    * (`preferSortMergeJoin=false` — guide §9's suggested baseline — was
    * trialled in r21 and A/B-rejected: it cost q25 ~0.9 s at sf0.1 and
    * is deliberately NOT set.)
    */
  def configure(builder: SparkSession.Builder): SparkSession.Builder =
    builder
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ", "false")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        PartitionFanOut.toString)

  /** The session every main runs on: [[configure]]d, `local[cpus]`,
    * one shuffle partition per core, no UI, WARN logging.
    */
  def localSession(cpus: Int): SparkSession = {
    val spark = configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
