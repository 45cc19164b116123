package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `graft.util.Par` the one way engine code runs Spark job chains
  * concurrently: a hand-rolled Future or thread pool neither tags its
  * jobs nor cancels its siblings on failure. `Verify`'s query pool is
  * the one exception — there a failing query must not cancel the
  * others.
  */
class ConcurrencyGuardSpec extends AnyFunSuite {

  test("no hand-rolled Future or thread pool under src/main outside Par and Verify") {
    val hits = SourceGuard.hits(Set("graft/util/Par.scala", "graft/Verify.scala"),
      """ExecutionContext\.Implicits\.global|Executors\.new|\bFuture\s*[({]""".r)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
