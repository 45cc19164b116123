package graft

import graft.pipeline.Dedup
import graft.streaming.StreamingNearDup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingNearDupSpec extends AnyFunSuite with SharedSpark {

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"neardup-$tag").toString

  /** The sequential greedy fold the operator must equal: scan docs in
    * id order, reject iff an ADMITTED earlier doc is a verified
    * near-dup (best = highest jac, tie lowest id). Pair relation =
    * the engine's own exact-verified pairs (proven equal to all-pairs
    * Jaccard in DedupEquivalenceSpec).
    */
  private def referenceVerdicts(
      ids: Seq[Long],
      pairs: Seq[(Long, Long, Double)]): Map[Long, (Boolean, Option[Long], Option[Double])] = {
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Double)]]
    pairs.foreach { case (a, b, j) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += ((b, j))
      adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += ((a, j))
    }
    val admitted = scala.collection.mutable.Set.empty[Long]
    ids.sorted.map { d =>
      val hits = adj.getOrElse(d, Seq.empty).filter(n => admitted(n._1))
      if (hits.isEmpty) {
        admitted += d
        d -> ((true, None: Option[Long], None: Option[Double]))
      } else {
        val best = hits.maxBy(t => (t._2, -t._1))
        d -> ((false, Some(best._1), Some(best._2)))
      }
    }.toMap
  }

  private def collectVerdicts(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      r.getLong(0) -> ((r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    }.toMap

  private lazy val docs = Tables(spark, Sf0001, "documents")
    .select(col("doc_id"), col("text")).orderBy("doc_id").collect()
    .map(r => (r.getLong(0), r.getString(1))).toSeq

  private lazy val enginePairs: Seq[(Long, Long, Double)] = {
    val d = Tables(spark, Sf0001, "documents").select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= Dedup.GramLen)
    val sigs = d.select(col("doc_id"),
      graft.functions.minhash_text(
        col("text"), lit(Dedup.GramLen), lit(Dedup.NumHashes)).as("sig"))
    Dedup.nearDupPairs(d, sigs, 0.5).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSeq
  }

  test("one-shot admission equals the sequential greedy reference (sf0.001)") {
    import spark.implicits._
    val expected = referenceVerdicts(docs.map(_._1), enginePairs)
    assert(enginePairs.nonEmpty, "fixture must contain near-dups for this spec to bite")
    val got = collectVerdicts(
      StreamingNearDup.admissionStep(docs.toDF("doc_id", "text"), tempDir("oneshot")))
    assert(got == expected)
    // sanity: some docs actually rejected
    assert(got.values.exists(!_._1))
  }

  test("verdicts are invariant under micro-batch splits of the feed") {
    import spark.implicits._
    val expected = referenceVerdicts(docs.map(_._1), enginePairs)
    val dir = tempDir("split")
    // uneven id-ordered cuts, chosen so near-dup pairs straddle batches
    val cuts = Seq(docs.take(137), docs.slice(137, 260), docs.slice(260, 261),
      docs.drop(261))
    val got = cuts.filter(_.nonEmpty).zipWithIndex.map { case (b, i) =>
      val v = collectVerdicts(
        StreamingNearDup.admissionStep(b.toDF("doc_id", "text"), dir))
      // compacting the index mid-stream must be invisible to later
      // batches (same layout, same data, fewer files)
      if (i == 1) {
        val reports = StreamingNearDup.compactIndex(spark, dir)
        assert(reports.nonEmpty && reports.forall(r => r.filesAfter <= r.filesBefore))
      }
      v
    }.reduce(_ ++ _)
    assert(got == expected)
  }

  test("split invariance holds for random cut points (seeded)") {
    import spark.implicits._
    val expected = referenceVerdicts(docs.map(_._1), enginePairs)
    val rnd = new scala.util.Random(43)
    (0 until 3).foreach { trial =>
      val dir = tempDir(s"rand$trial")
      // 2-5 random cut points over the id-ordered feed
      val cutsAt = (0 until 2 + rnd.nextInt(4))
        .map(_ => rnd.nextInt(docs.size)).distinct.sorted
      val bounds = (0 +: cutsAt :+ docs.size).distinct.sorted
      val batches = bounds.sliding(2).map { case Seq(a, b) => docs.slice(a, b) }
      val got = batches.filter(_.nonEmpty).map { b =>
        collectVerdicts(
          StreamingNearDup.admissionStep(b.toDF("doc_id", "text"), dir))
      }.reduce(_ ++ _)
      assert(got == expected, s"trial $trial, cuts $cutsAt")
    }
  }

  test("a batch replayed after its index append repeats its verdicts (d1 < d2 guard)") {
    import spark.implicits._
    val dir = tempDir("replay")
    val batch = docs.toDF("doc_id", "text")
    val first = collectVerdicts(StreamingNearDup.admissionStep(batch, dir))
    // the crash window of start(): the index append landed, the fence
    // write did not, so the same batch runs again over its own rows
    val second = collectVerdicts(StreamingNearDup.admissionStep(batch, dir))
    assert(second == first)
    assert(second.values.exists(!_._1), "fixture must reject some docs for this spec to bite")
    assert(second.forall { case (id, (_, dupOf, _)) => !dupOf.contains(id) },
      "a replayed doc was rejected as a duplicate of itself")
  }

  test("start() wires the step through foreachBatch and persists verdicts") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("stream")
    val input = MemoryStream[(Long, String)]
    val q = StreamingNearDup.start(
      input.toDS().toDF("doc_id", "text"), dir, tempDir("ckpt"))
    try {
      input.addData(docs.take(200))
      q.processAllAvailable()
      input.addData(docs.drop(200))
      q.processAllAvailable()
    } finally q.stop()
    val got = collectVerdicts(spark.read.parquet(s"$dir/verdicts")
      .select("doc_id", "admitted", "dup_of", "jac"))
    assert(got == referenceVerdicts(docs.map(_._1), enginePairs))
    // the replay fence recorded the last applied micro-batch id
    assert(spark.read.parquet(s"$dir/applied_batch").head.getLong(0) == 1L)
  }

  test("a fenced (already-applied) batch id is a no-op on replay") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("fence")
    // pretend ids 0 and 1 were already applied before the "crash"
    Seq(1L).toDF("applied_batch_id")
      .write.mode("overwrite").parquet(s"$dir/applied_batch")
    val input = MemoryStream[(Long, String)]
    val q = StreamingNearDup.start(
      input.toDS().toDF("doc_id", "text"), dir, tempDir("fence-ckpt"))
    try {
      input.addData(docs.take(50)) // batch id 0 -> fenced
      q.processAllAvailable()
      input.addData(docs.slice(50, 100)) // batch id 1 -> fenced
      q.processAllAvailable()
      input.addData(docs.slice(100, 150)) // batch id 2 -> applied
      q.processAllAvailable()
    } finally q.stop()
    val verdictIds = spark.read.parquet(s"$dir/verdicts")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(verdictIds == docs.slice(100, 150).map(_._1).toSet,
      "fenced batches must not write verdicts or touch the index")
  }
}
