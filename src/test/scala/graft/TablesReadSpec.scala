package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType
import org.scalatest.Assertions._
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.read` against `spark.read.parquet`: the same schema and rows
  * from a driver-side footer, the same errors where there is no data
  * file, and Spark's own skip rule for hidden entries. The engine's
  * index tables are checked where their suites already build them
  * (GraftClientSpec); this suite covers the fixtures and the edges.
  */
class TablesReadSpec extends AnyFunSuite with SharedSpark {
  import TablesReadSpec.assertSameRead

  test("fixture documents and events read with Spark's schema and rows") {
    Seq("documents", "events").foreach(t => assertSameRead(spark, s"$Sf0001/$t.parquet"))
  }

  test("a TIMESTAMP(NANOS) column stays LongType under nanosAsLong") {
    val dir = Files.createTempDirectory("tables-read-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withConf(spark.sessionState.newHadoopConf()).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (1 to 3).foreach { i =>
      writer.write(rows.newGroup().append("id", i.toLong).append("ts", 1700000000000000000L + i))
    } finally writer.close()
    assert(Tables.read(spark, dir).schema("ts").dataType == LongType)
    assertSameRead(spark, dir)
  }

  test("a missing path and an empty directory fail as Spark's read does") {
    val empty = Files.createTempDirectory("tables-read-empty").toString
    for (p <- Seq(s"$empty/absent", empty)) {
      val plain = intercept[Exception](spark.read.parquet(p))
      val viaTables = intercept[Exception](Tables.read(spark, p))
      assert(viaTables.getClass == plain.getClass, p)
      assert(viaTables.getMessage == plain.getMessage, p)
    }
  }

  test("a table with the engine's partition fan-out opens without a Spark job") {
    import spark.implicits._
    val t = s"${Files.createTempDirectory("tables-read-fanout")}/t"
    (0 until Tables.PartitionFanOut).map(i => (i.toLong, i)).toDF("id", "b")
      .write.partitionBy("b").parquet(t)
    val opened = TablesReadSpec.fileOpeningJobs(spark) { Tables.read(spark, t); () }
    assert(opened.isEmpty, opened.mkString("jobs that only open files:\n", "\n", ""))
  }

  test("hidden entries are skipped, k=v partition directories are not") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables-read-hidden").toString
    for (part <- Seq("k", "__b")) {
      val t = s"$dir/$part"
      (0 until 6).map(i => (i.toLong, i % 2)).toDF("id", part)
        .write.partitionBy(part).parquet(t)
      // every decoy holds a different schema (and, beside `k=`, sorts
      // first); `_SUCCESS` and the `.crc` checksums come from the write
      for (hidden <- Seq("_temporary", "_tmp_x", "_regen"))
        Seq("decoy").toDF("s").write.parquet(s"$t/$hidden")
      val first = Tables.firstDataFile(spark, t).get.getPath
      assert(first.getParent.getName == s"$part=0" && first.getName.endsWith(".parquet"),
        first.toString)
      assertSameRead(spark, t)
    }
  }
}

object TablesReadSpec {

  /** `Tables.read(path)` has `spark.read.parquet(path)`'s schema and,
    * sorted, its rows.
    */
  def assertSameRead(spark: SparkSession, path: String): Unit = {
    def sortedRows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val plain = spark.read.parquet(path)
    val viaTables = Tables.read(spark, path)
    assert(viaTables.schema == plain.schema, s"$path: schema")
    assert(sortedRows(viaTables) == sortedRows(plain), s"$path: rows")
  }

  /** Jobs that `body` submits only to open files: Spark's leaf-file
    * listing job and its Parquet schema job, both launched from inside
    * a `parquet` read call.
    */
  def fileOpeningJobs(spark: SparkSession)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = {
        val desc = Option(job.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val site = job.stageInfos.headOption.map(_.name).getOrElse("")
        if (desc.startsWith("Listing leaf files") || site.startsWith("parquet at "))
          seen.add(s"job ${job.jobId}: $site / $desc")
        ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try { body; org.apache.spark.SpecBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }
}
