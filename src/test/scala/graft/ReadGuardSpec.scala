package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `Tables.read` the one way engine code opens a Parquet table: a
  * bare `spark.read.parquet` infers the schema in a Spark job on every
  * call.
  */
class ReadGuardSpec extends AnyFunSuite {

  test("no bare .read.parquet( under src/main outside Tables") {
    val hits = SourceGuard.hits(Set("graft/Tables.scala"), """\.read\.parquet\(""".r)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
