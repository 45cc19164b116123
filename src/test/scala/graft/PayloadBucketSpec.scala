package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side payload bucket rule must be the write's SQL rule bit
  * for bit: a drifted bucket id prunes a hit row's directory away and
  * silently drops it from the payload fetch.
  */
class PayloadBucketSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("payloadBucket equals pmod(hash(row_id), 64) on edge and seeded ids") {
    val rnd = new scala.util.Random(42)
    val ids = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue) ++ Seq.fill(10000)(rnd.nextLong())
    val sql = ids.toDF("row_id")
      .select(col("row_id"), expr("pmod(hash(row_id), 64)"),
        GraftClient.payloadBucketCol(col("row_id")))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val wrong = ids.filter { id =>
      val (lit64, rule) = sql(id)
      GraftClient.payloadBucket(id) != lit64 || rule != lit64
    }
    assert(GraftClient.PayloadBuckets == 64)
    assert(wrong.isEmpty, s"driver bucket differs from SQL for ${wrong.take(5)}")
  }
}
