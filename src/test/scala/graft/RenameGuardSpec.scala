package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `graft.util.Generation` the one module that renames
  * directories: every table rewrite publishes through its marker and
  * recovers through its one roll-forward body.
  */
class RenameGuardSpec extends AnyFunSuite {

  test("no .rename( under src/main outside Generation") {
    val hits = SourceGuard.hits(Set("graft/util/Generation.scala"), """\.rename\(""".r)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
