package ragbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def render(c: Gen.Corpus): String =
    c.docs.map(d => s"${d.docId}\t${d.lang}\t${d.source}\t${Gen.mdx(d.text)}").mkString("\n")

  test("the same seed gives byte-identical inputs") {
    val a = Gen.corpus(7, 200, 10, 10)
    val b = Gen.corpus(7, 200, 10, 10)
    assert(render(a) == render(b))
    assert(a.exactGroups == b.exactGroups && a.nearPairs == b.nearPairs)
    val chunks = a.docs.take(50).map(d => Gen.Chunk(d.text, d.text))
    assert(Gen.questions(7, 3, chunks, 64) == Gen.questions(7, 3, chunks, 64))
    val ids = (0L until 500L).toIndexedSeq
    assert(Gen.victims(7, ids, 2, 32) == Gen.victims(7, ids, 2, 32))
  }

  test("a different seed gives different inputs") {
    assert(render(Gen.corpus(7, 200, 10, 10)) != render(Gen.corpus(8, 200, 10, 10)))
    val chunks = Gen.corpus(7, 50, 0, 0).docs.map(d => Gen.Chunk(d.text, d.text))
    assert(Gen.questions(7, 0, chunks, 64) != Gen.questions(8, 0, chunks, 64))
    assert(Gen.questions(7, 0, chunks, 64) != Gen.questions(7, 1, chunks, 64))
    val ids = (0L until 500L).toIndexedSeq
    assert(Gen.victims(7, ids, 1, 32) != Gen.victims(8, ids, 1, 32))
  }

  test("duplicates are injected as recorded") {
    val c = Gen.corpus(3, 200, 12, 9)
    assert(c.docs.size == 221)
    assert(c.docs.map(_.docId).toSet == (0L until 221L).toSet)
    assert(c.exactCopies == 12 && c.nearCopies == 9)
    val text = c.docs.map(d => d.docId -> d.text).toMap
    for (g <- c.exactGroups) assert(g.map(text).distinct.size == 1)
    for ((a, b) <- c.nearPairs) {
      assert(text(a) != text(b))
      assert(text(a).split(' ').length == text(b).split(' ').length)
    }
    // originals of exact and near copies are disjoint, and no two base
    // documents share a text
    assert(c.exactGroups.map(_.head).toSet.intersect(c.nearPairs.map(_._1).toSet).isEmpty)
    assert(c.docs.map(_.text).distinct.size == 200 + 9)
  }

  test("questions mix verbatim, word-dropped and off-corpus text") {
    val chunks = Gen.corpus(5, 40, 0, 0).docs.map(d => Gen.Chunk(s"HEADER: x | CONTENT: ${d.text}", d.text))
    val qs = Gen.questions(5, 2, chunks, 64)
    assert(qs.map(_.id) == (128L until 192L))
    assert(qs.count(_.kind == "verbatim") == 32 && qs.count(_.kind == "dropped") == 16 &&
      qs.count(_.kind == "salad") == 16)
    for (q <- qs.filter(_.kind == "verbatim"))
      assert(chunks.exists(c => c.embedInput == q.text && q.expected.contains(c.content)))
    val vocabulary = Gen.Vocabulary.toSet
    for (q <- qs.filter(_.kind == "salad")) assert(q.text.split(' ').forall(w => !vocabulary(w)))
  }

  test("victim batches are disjoint draws from the given rows") {
    val ids = (100L until 400L).toIndexedSeq
    val bs = Gen.victims(9, ids, 3, 40)
    assert(bs.size == 3 && bs.forall(_.size == 40))
    assert(bs.flatten.distinct.size == 120 && bs.flatten.forall(ids.contains))
  }

  test("MDX has four sections with Context first") {
    val m = Gen.mdx("a b c d e f g h i")
    assert(m.startsWith("## Context\n"))
    assert(m.split('\n').count(_.startsWith("#")) == 4)
    assert(m.split('\n').filterNot(_.startsWith("#")).mkString(" ") == "a b c d e f g h i")
  }
}
