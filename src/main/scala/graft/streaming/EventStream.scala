package graft.streaming

import graft.Tables
import graft.pipeline.Events
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Structured Streaming ingest over the events table (SURVEY §2 B-7):
  * file-source replay of the parquet fixture, watermarked tumbling /
  * sliding windows, and `session_window` sessionization. The aggregation
  * column logic is the SAME code the batch path runs
  * ([[graft.pipeline.Events]] `*Df` transforms), so the stream/batch
  * equivalence test pins one implementation, not two.
  *
  * Scale notes: the file source shards by file; each micro-batch is one
  * keyed shuffle into the stateful aggregation. Watermarks bound state:
  * `withWatermark("ts", ...)` lets Spark drop window state older than the
  * watermark, which is what keeps a 100 TB/day stream's state finite.
  */
object EventStream {

  /** The events schema as stored. `ts` has shipped as TIMESTAMP(NANOS)
    * (read as LongType ns under `spark.sql.legacy.parquet.nanosAsLong`)
    * and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (TimestampType under
    * `spark.sql.parquet.inferTimestampNTZ=false`, NTZ otherwise); the
    * normalization in [[readEvents]] covers all three shapes.
    */
  def eventsSchema(spark: SparkSession, dir: String): StructType =
    Tables.read(spark, s"$dir/events.parquet").schema

  /** File-source stream of the events fixture with the same ns→µs
    * timestamp normalization the batch loader applies. A production
    * deployment points the source at a growing directory; the fixture is
    * a single parquet file, so replay stages it behind a symlink in a
    * temp directory (the file stream source only accepts directories).
    */
  def readEvents(
      spark: SparkSession,
      dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val schema = eventsSchema(spark, dir)
    val src = new java.io.File(s"$dir/events.parquet")
    val streamPath =
      if (src.isFile) EventStream.stagedReplayDir(src) else src.getPath
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(streamPath)
    schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        // session TZ pinned to UTC: NTZ wall-clock == oracle instant
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Replay-staging directories, cached per source file so repeated
    * readEvents calls (tests, restarts) reuse one symlinked dir instead
    * of leaking a temp directory per call; removed on JVM exit.
    */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stagedReplayDir(src: java.io.File): String =
    stagedDirs.computeIfAbsent(src.getAbsolutePath, { _ =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-events-replay")
      val link = tmp.resolve("events.parquet")
      java.nio.file.Files.createSymbolicLink(link, src.toPath.toAbsolutePath)
      link.toFile.deleteOnExit()
      tmp.toFile.deleteOnExit()
      tmp.toString
    })

  /** Watermarked tumbling 1-hour counts per event type (streaming Q8). */
  def hourlyByType(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    Events.hourlyByTypeDf(events.withWatermark("ts", watermark))

  /** Watermarked sliding-window counts (1h / 15m). */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    Events.slidingCountsDf(events.withWatermark("ts", watermark))

  /** Watermarked `session_window` sessionization (streaming Q8c). */
  def sessionize(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    Events.sessionWindowDf(events.withWatermark("ts", watermark))

  /** Streaming exact dedup with bounded state: duplicates arriving
    * within the watermark horizon are dropped; state for ids older than
    * the watermark is evicted (a duplicate arriving later than the
    * watermark is NOT caught — that is the documented contract of
    * `dropDuplicatesWithinWatermark`, and the price of finite state on
    * an unbounded stream; run a batch [[graft.pipeline.Dedup.exact]]
    * compaction downstream when end-to-end exactness is required).
    */
  def dedupWithinWatermark(
      events: DataFrame,
      idCols: Seq[String] = Seq("event_id"),
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-stream interval join: errors × purchases of the same user
    * within ±2 h — the streaming form of
    * [[graft.pipeline.RangeJoin.errorPurchaseCorrelation]] (q46), pinned
    * to identical output by the equivalence spec. Two condition layers:
    * the RAW event-time bounds (±2h ±1s) are what Spark's state manager
    * uses (with both sides' watermarks) to evict buffered rows, and the
    * floored-whole-second bounds reproduce q46's exact semantics at the
    * boundary. Both sides must be watermarked BEFORE calling.
    */
  def errorPurchaseJoinDf(
      errors: DataFrame,
      purchases: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val e = errors.select(
      col("event_id").as("error_id"), col("user_id").as("e_user"),
      col("ts").as("e_ts"), expr("unix_micros(ts) div 1000000").as("es"))
    val p = purchases.select(
      col("event_id").as("purchase_id"), col("user_id").as("p_user"),
      col("ts").as("p_ts"), expr("unix_micros(ts) div 1000000").as("ps"))
    e.join(p, expr(
        """e_user = p_user
          |AND e_ts >= p_ts - INTERVAL 2 HOURS - INTERVAL 1 SECOND
          |AND e_ts <= p_ts + INTERVAL 2 HOURS + INTERVAL 1 SECOND
          |AND es >= ps - 7200 AND es < ps + 7200""".stripMargin),
        joinType)
      .select(
        col("error_id"), col("e_user").as("user_id"), col("purchase_id"),
        date_format(col("e_ts"), "yyyy-MM-dd HH:mm:ss").as("error_ts"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        (col("es") - col("ps")).cast("long").as("delta_s"))
  }

  /** Run a streaming aggregation to an in-memory table until the source
    * is exhausted; returns the query (caller reads `spark.table(name)`).
    * Complete output mode: every trigger emits the full aggregate, which
    * is what the batch-equivalence test compares against.
    */
  def runToMemory(
      df: DataFrame,
      name: String,
      outputMode: String = "complete"): StreamingQuery = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Checkpointed streaming refresh of a serving table: every
    * micro-batch overwrites `outPath` with the complete aggregate via
    * foreachBatch (the parquet sink itself is append-only). Restart
    * safety comes from the checkpoint — a resumed query replays no
    * committed source files, and the idempotent overwrite makes the
    * sink exactly-once from the reader's perspective.
    */
  def refreshToParquet(
      agg: DataFrame,
      outPath: String,
      checkpointPath: String): StreamingQuery = {
    val q = agg.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(outPath)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
