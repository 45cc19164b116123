package ragbench

import java.util.SplittableRandom

/** Seeded input generator. Everything the engine receives is made here
  * from a seed, so the same seed gives byte-identical inputs and a
  * different seed gives different ones. The generator is plain Scala
  * (no Spark) so its determinism is testable on its own.
  */
object Gen {

  final case class Doc(docId: Long, text: String, lang: String, source: String) {
    def nChars: Long = text.length.toLong
  }

  /** A corpus with its injected duplicates: `exactGroups` lists, per
    * duplicated text, every doc id that carries it (original first);
    * `nearPairs` lists (original, near copy) doc ids.
    */
  final case class Corpus(
      docs: IndexedSeq[Doc],
      baseDocs: Int,
      exactGroups: IndexedSeq[IndexedSeq[Long]],
      nearPairs: IndexedSeq[(Long, Long)]) {
    def exactCopies: Int = exactGroups.map(_.size - 1).sum
    def nearCopies: Int = nearPairs.size
  }

  /** One question of a serve batch. `expected` is the chunk content a
    * verbatim question must return at rank 1.
    */
  final case class Question(id: Long, kind: String, text: String, expected: Option[String])

  /** A retrievable chunk as the ingest wrote it: the text the embedder
    * saw and the content the index returns.
    */
  final case class Chunk(embedInput: String, content: String)

  val Langs: Vector[String] = Vector("en", "es", "de", "fr", "zh")
  val Sources: Vector[String] = Vector.tabulate(20)(i => s"src$i")

  private val Onsets = Vector("b", "c", "d", "f", "g", "h", "k", "l", "m", "n",
    "p", "r", "s", "t", "v", "w", "br", "st", "tr", "pl")
  private val Vowels = Vector("a", "e", "i", "o", "u", "ai", "ou")

  /** Pseudo-words of 2-3 syllables, fixed for every seed so corpora of
    * different seeds share a language; `offCorpus` words carry a
    * consonant cluster no corpus word has, so salad questions built
    * from them match nothing lexically.
    */
  private def words(n: Int, salt: Long, prefix: String): Vector[String] = {
    val r = new SplittableRandom(salt)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val syl = 2 + r.nextInt(2)
      val w = new StringBuilder(prefix)
      for (_ <- 0 until syl) w ++= Onsets(r.nextInt(Onsets.size)) ++= Vowels(r.nextInt(Vowels.size))
      seen += w.toString
    }
    seen.toVector
  }

  val Vocabulary: Vector[String] = words(3000, 0x5eedL, "")
  val OffCorpus: Vector[String] = words(500, 0x0ffL, "zx")

  /** Zipf-like word draw: squaring a uniform skews toward low ranks, so
    * a few words are common and most are rare, as in prose.
    */
  private def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    Vocabulary((u * u * Vocabulary.size).toInt)
  }

  private def text(r: SplittableRandom, minWords: Int, maxWords: Int): String =
    Vector.fill(minWords + r.nextInt(maxWords - minWords + 1))(word(r)).mkString(" ")

  /** Seed of the base documents: like a fixture, they are the same for
    * every run seed, so runs differ in arrangement, not in content.
    */
  val BaseSeed = 0xba5eL

  /** `nBase` word-salad documents (fixed, with their language and
    * source), plus `exactDups` verbatim copies and `nearDups` copies with
    * two words replaced, chosen by `seed`, shuffled together by `seed` and
    * numbered in shuffled order. Exact-duplicate originals and
    * near-duplicate originals are disjoint, so each exact group stays its
    * own dedup cluster.
    */
  def corpus(seed: Long, nBase: Int, exactDups: Int, nearDups: Int): Corpus = {
    require(exactDups + nearDups <= nBase, "more duplicates than originals")
    val b = new SplittableRandom(BaseSeed)
    val base = Vector.fill(nBase)((text(b, 40, 90), Langs(b.nextInt(Langs.size)), Sources(b.nextInt(Sources.size))))
    val r = new SplittableRandom(seed)
    val originals = shuffle(r, base.indices.toVector)
    val exactSrc = originals.take(exactDups)
    val nearSrc = originals.slice(exactDups, exactDups + nearDups)
    val nearTexts = nearSrc.map { i =>
      val ws = base(i)._1.split(' ')
      for (_ <- 0 until 2) ws(r.nextInt(ws.length)) = word(r)
      ws.mkString(" ")
    }
    // every document as (text, index of its base document)
    val all = base.indices.map(i => (base(i)._1, i)) ++ exactSrc.map(i => (base(i)._1, i)) ++
      nearSrc.zip(nearTexts).map { case (i, t) => (t, i) }
    val order = shuffle(r, all.indices.toVector)
    val docs = order.zipWithIndex.map { case (j, id) =>
      val (_, lang, source) = base(all(j)._2)
      Doc(id.toLong, all(j)._1, lang, source)
    }
    val idOf = order.zipWithIndex.map { case (j, id) => j -> id.toLong }.toMap
    val exactGroups = exactSrc.zipWithIndex.map { case (i, k) => Vector(idOf(i), idOf(nBase + k)) }
    val nearPairs = nearSrc.zipWithIndex.map { case (i, k) => (idOf(i), idOf(nBase + exactDups + k)) }
    Corpus(docs, nBase, exactGroups, nearPairs)
  }

  /** The document as MDX: its words in four sections, `## Context`
    * first, the layout every ingested document must have.
    */
  def mdx(text: String): String = {
    val ws = text.split(' ')
    val q = (ws.length + 3) / 4
    def seg(i: Int) = ws.slice(q * i, if (i == 3) ws.length else q * i + q).mkString(" ")
    s"## Context\n${seg(0)}\n## Overview\n${seg(1)}\n### Details\n${seg(2)}\n## Summary\n${seg(3)}"
  }

  /** A batch of `n` questions: half verbatim chunk embed-inputs, a
    * quarter the same with a word dropped, a quarter off-corpus salad.
    * `chunks` must be in a deterministic order (the caller sorts them).
    */
  def questions(seed: Long, batch: Int, chunks: IndexedSeq[Chunk], n: Int): IndexedSeq[Question] = {
    val r = new SplittableRandom(seed * 1000003L + batch)
    val nVerbatim = n / 2
    val nDropped = n / 4
    (0 until n).map { i =>
      val id = batch.toLong * n + i
      if (i < nVerbatim) {
        val c = chunks(r.nextInt(chunks.size))
        Question(id, "verbatim", c.embedInput, Some(c.content))
      } else if (i < nVerbatim + nDropped) {
        val ws = chunks(r.nextInt(chunks.size)).embedInput.split(' ')
        val drop = r.nextInt(ws.length)
        Question(id, "dropped", ws.patch(drop, Nil, 1).mkString(" "), None)
      } else {
        val ws = Vector.fill(6 + r.nextInt(6))(OffCorpus(r.nextInt(OffCorpus.size)))
        Question(id, "salad", ws.mkString(" "), None)
      }
    }
  }

  /** `batches` disjoint batches of `size` row ids drawn without
    * replacement from `rowIds`.
    */
  def victims(seed: Long, rowIds: IndexedSeq[Long], batches: Int, size: Int): IndexedSeq[IndexedSeq[Long]] = {
    require(batches * size <= rowIds.size, "not enough rows to delete")
    val r = new SplittableRandom(seed ^ 0xde1e7eL)
    shuffle(r, rowIds.toVector).take(batches * size).grouped(size).toVector
  }

  private def shuffle[A](r: SplittableRandom, xs: Vector[A]): Vector[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[A]]
  }
}
