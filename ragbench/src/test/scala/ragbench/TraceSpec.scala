package ragbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def span(name: String, start: Long, end: Long) = Span("t", name, 0, "", start, end)
  private def job(id: Int, start: Long, end: Long, task: Long = 0) = Job(id, start, end, "", task, 0, 0, 0)

  test("driver time is span time not covered by any job") {
    val s = span("a", 0, 100)
    // jobs overlap each other and one runs past the span's end
    val c = SpanCost(s, Seq(job(1, 10, 30), job(2, 20, 50), job(3, 90, 130)))
    assert(c.driverMicros == 100 - 40 - 10)
    assert(SpanCost(s, Nil).driverMicros == 100)
  }

  test("each job is charged to the span it overlaps most") {
    val a = span("a", 0, 100)
    val b = span("b", 100, 200)
    val (costs, orphans) = Attribution.charge(Seq(a, b),
      Seq(job(1, 10, 20, 5), job(2, 90, 150, 7), job(3, 95, 105), job(4, 250, 260), job(5, 150, 150)))
    val by = costs.map(c => c.span.name -> c.jobs.map(_.id)).toMap
    // job 3 overlaps both spans equally and goes to the earlier one
    assert(by("a") == Seq(1, 3))
    // job 5 started and ended within one millisecond
    assert(by("b") == Seq(2, 5))
    assert(orphans.map(_.id) == Seq(4))
    assert(costs.find(_.span.name == "b").get.taskMicros == 7)
  }

  test("jobs submitted from a pool thread are charged by time to the calling span") {
    val listener = new JobListener()
    spark.sparkContext.addSparkListener(listener)
    val t = new Tracer()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    try {
      t.span("t", "driver")(spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect())
      t.span("t", "pool") {
        // a fresh pool thread inherits none of the caller's local properties
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = spark.range(0, 1000, 1, 4).count()
        }).get()
      }
      org.apache.spark.BenchBus.drain(spark.sparkContext)
    } finally {
      pool.shutdown()
      spark.sparkContext.removeSparkListener(listener)
    }
    val (costs, orphans) = Attribution.charge(t.all, listener.jobs)
    assert(orphans.isEmpty)
    for (c <- costs) {
      assert(c.jobs.nonEmpty, s"no job charged to ${c.span.name}")
      assert(c.taskMicros > 0)
      assert(c.driverMicros >= 0 && c.driverMicros <= c.span.micros)
    }
  }

  test("the call site is the first frame outside Spark and the JDK") {
    val details = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3000)",
      "scala.collection.immutable.List.foreach(List.scala:10)",
      "graft.query.IvfIndex$.queryTopK(IvfIndex.scala:812)",
      "ragbench.Main$.main(Main.scala:1)").mkString("\n")
    assert(JobListener.callSite(details, "collect at x") == "IvfIndex.scala:812")
    assert(JobListener.callSite("", "collect at x") == "collect at x")
  }
}
