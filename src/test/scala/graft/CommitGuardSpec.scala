package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps every partial rewrite on `graft.util.Generation`'s one
  * commit: no write under src/main overwrites partitions of a live
  * table in place, and no per-operation pending marker comes back.
  */
class CommitGuardSpec extends AnyFunSuite {

  test("no partitionOverwriteMode or split_pending under src/main") {
    val hits = SourceGuard.hits(Set.empty, """partitionOverwriteMode|split_pending""".r)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
