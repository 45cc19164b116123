package ragbench

import graft.GraftClient
import graft.embed.HashingEmbedder
import graft.pipeline.{Decontamination, Dedup, HeavyHitters, TextAnalysis}
import graft.query.{ContextAssembler, IndexCheck}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one timed operation did: the units of work it completed (for
  * the per-second rate) and the output checks that failed.
  */
final case class OpResult(items: Int, failures: Seq[String])

/** A benchmark workload: a set-up that writes its inputs under a fresh
  * directory, then a repeatable timed operation. Every call into the
  * engine runs inside a [[Tracer]] span; output checks run outside the
  * spans and outside the timed operation.
  */
trait Workload {
  def name: String
  /** Returns the failed set-up checks. */
  def setup(): Seq[String]
  /** Fewest operations an untraced run makes, however short its time. */
  def minOps: Int
  /** Writes operation `i`'s inputs, before its timer starts. */
  def prepare(i: Int): Unit = ()
  /** Runs operation `i`; the returned closure checks its outputs. */
  def op(i: Int): () => OpResult
  /** Input sizes and other facts recorded in the artifact. */
  def facts: Map[String, Double]
  /** The workload's own end-to-end figures: name, samples, unit. */
  def figures(spans: Seq[Span], l: Main.Loop): Seq[(String, Seq[Double], String)]
  /** Per-layer ratios derived from the traced spans. */
  def ratios(costs: Seq[SpanCost]): Map[String, Double]
}

object Workloads {
  val Names: Seq[String] = Seq("serve", "curate")

  def apply(name: String, spark: SparkSession, t: Tracer, work: String, seed: Long): Workload =
    name match {
      case "serve" => new Serve(spark, t, work, seed)
      case "curate" => new Curate(spark, t, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Bytes on disk under `path` (0 when absent). */
  def du(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length()
    walk(new java.io.File(path))
  }

  def failedChecks(what: String, report: DataFrame): Seq[String] =
    report.collect().toSeq.filterNot(_.getAs[Boolean]("ok"))
      .map(r => s"$what: ${r.getAs[String]("check")} observed=${r.getAs[Long]("observed")}")
}

/** The reference's flow over an index with pending deletes. Set-up
  * renders a seeded MDX corpus and pays every build the corpus needs
  * before its first answer (ingest, IVF, BM25), checks the indexes,
  * deletes a batch of rows (masked by tombstones from then on), answers
  * one batch on the hybrid IVF+BM25 face and one untimed request on the
  * IVF face. The timed operation is one request of the reference flow:
  * a batch of questions embedded, answered by the IVF face, fetched and
  * assembled into prompts.
  */
final class Serve(spark: SparkSession, t: Tracer, work: String, seed: Long) extends Workload {
  import spark.implicits._
  import Serve._

  val name = "serve"
  val minOps = 5
  private val client = new GraftClient(spark, GraftClient.Config(chunkSize = 80, chunkOverlap = 16))
  private val corpus = Gen.corpus(seed, BaseDocs, 0, 0)
  private val ann = s"$work/ann"
  private var chunks = IndexedSeq.empty[Gen.Chunk]
  /** (content, context) -> row ids carrying it: results name no row id. */
  private var rowsOf = Map.empty[(String, String), Seq[Long]]
  private var deleted = Set.empty[Long]
  private var nChunks = 0L
  private var stored = Map.empty[String, Long]
  private val mdxBytes = corpus.docs.map(d => Gen.mdx(d.text).getBytes("UTF-8").length.toLong).sum

  def setup(): Seq[String] = {
    corpus.docs.map(d => (d.docId, Gen.mdx(d.text))).toDF("doc_id", "mdx")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(s"$work/mdx")
    val index = s"$work/index"
    t.span("build", "ingest")(client.ingest(spark.read.parquet(s"$work/mdx"), "doc_id", "mdx", index))
    stored += "ingest" -> Workloads.du(index)
    t.span("build", "build_ivf")(client.buildQueryIndex(index, ann))
    stored += "build_ivf" -> Workloads.du(ann)
    t.span("build", "build_lex")(client.buildLexicalIndex(index, ann))
    stored += "build_lex" -> Workloads.du(s"$ann/lex")
    val buildFailures = checkIndexes("after build")

    val payload = spark.read.parquet(s"$ann/payload")
      .select($"row_id", $"content", $"metadata.context", $"metadata.header").collect()
    nChunks = payload.length.toLong
    rowsOf = payload.toSeq.groupMap(r => (r.getString(1), r.getString(2)))(_.getLong(0))
    val victims = Gen.victims(seed, payload.map(_.getLong(0)).sorted.toIndexedSeq, 1, Victims).head
    deleted = victims.toSet
    chunks = payload.filterNot(r => deleted(r.getLong(0))).sortBy(_.getLong(0))
      .map(r => Gen.Chunk(embedInput(r.getString(3), r.getString(1)), r.getString(1))).toIndexedSeq
    t.span("churn", "delete")(client.deleteRows(ann, victims.toDF("row_id")))

    val qs = Gen.questions(seed, -1, chunks, BatchSize)
    val q = questionFrame(qs, -1)
    val hybridRows = answer("hybrid", -1,
      client.queryHybridBatch(ann, q, "qid", "qvec", "qtext", K, threshold = Threshold), HybridCols)
    // the first request in a JVM pays plan compilation the later ones
    // do not: run one untimed, outside the reported spans
    val warm = t.quietly(op(-2)())
    buildFailures ++ checkAnswers("hybrid", qs, hybridRows, rankOne = false) ++ warm.failures
  }

  /** IndexCheck over the vector and lexical indexes, run concurrently. */
  private def checkIndexes(when: String): Seq[String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val checks = Seq(
      Future(Workloads.failedChecks(s"ivf $when", IndexCheck.checkIvf(spark, s"$ann/ivf", "row_id", "embedding"))),
      Future(Workloads.failedChecks(s"lex $when", IndexCheck.checkLexical(spark, s"$ann/lex", "row_id"))))
    t.span("check", when)(Await.result(Future.sequence(checks), scala.concurrent.duration.Duration.Inf).flatten)
  }

  private def questionFrame(qs: Seq[Gen.Question], request: Int): DataFrame =
    t.span("serve", "embed", request)(HashingEmbedder.default
      .embed(qs.map(q => (q.id, q.text)).toDF("qid", "qtext"), "qtext", "qvec")
      .localCheckpoint())

  def op(i: Int): () => OpResult = {
    val qs = Gen.questions(seed, i, chunks, BatchSize)
    val q = questionFrame(qs, i)
    val rows = answer("ivf", i, client.queryIndexedBatch(ann, q, "qid", "qvec", Threshold, K), ResultCols)
    () => OpResult(qs.size, checkAnswers("ivf", qs, rows, rankOne = true))
  }

  /** One face's batch: the retrieve call, the fetch of its lazy result,
    * and prompt assembly over the fetched rows.
    */
  private def answer(face: String, request: Int, retrieve: => DataFrame,
      cols: Seq[org.apache.spark.sql.Column]): Array[Row] = {
    val hits = t.span("serve", s"${face}_retrieve", request)(retrieve)
    val rows = t.span("serve", s"${face}_fetch", request)(hits.select(cols: _*).collect())
    t.span("serve", "assemble", request)(assemble(rows))
    rows
  }

  /** Group each question's hits by shared context and render its prompt
    * (the reference's answer step), collecting the prompts.
    */
  private def assemble(rows: Array[Row]): Array[Row] = {
    val ranked = rows.toSeq.map(r => (r.getLong(0), r.getInt(1), r.getString(3), r.getString(2)))
      .toDF("qid", "rank", "context", "content")
    val merged = ContextAssembler.mergeByContext(ranked, "qid", "rank", "context", "content")
    ContextAssembler.assemblePrompt(merged, "qid", "context", lit("question")).collect()
  }

  /** A verbatim question's own chunk comes back at rank 1 (`rankOne`)
    * or within the top k; no deleted row comes back, whether compacted
    * away or still pending.
    */
  private def checkAnswers(face: String, qs: Seq[Gen.Question], rows: Array[Row], rankOne: Boolean): Seq[String] = {
    val by = rows.groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1)).map(_.getString(2)).toSeq).toMap
    qs.flatMap(q => q.expected.toSeq.flatMap { c =>
      val got = by.getOrElse(q.id, Nil)
      if (rankOne && !got.headOption.contains(c)) Seq(s"$face: verbatim q${q.id} not at rank 1")
      else if (!got.contains(c)) Seq(s"$face: verbatim q${q.id} not in top $K")
      else Nil
    }) ++ leaked(face, rows)
  }

  /** Hits whose only carriers are deleted rows. */
  private def leaked(face: String, rows: Array[Row]): Seq[String] =
    rows.toSeq.map(r => (r.getString(2), r.getString(3)))
      .filter(k => rowsOf.get(k).exists(_.forall(deleted)))
      .map(_ => s"$face: deleted row returned")

  def figures(spans: Seq[Span], l: Main.Loop): Seq[(String, Seq[Double], String)] = {
    def secs(key: String) = spans.filter(_.key == key).map(_.micros / 1e6)
    // a face's batch latency runs from its retrieve call to the end of
    // the prompt assembly that follows it
    def batch(face: String) = spans.filter(_.key == s"serve.${face}_retrieve").flatMap { r =>
      spans.find(a => a.key == "serve.assemble" && a.start >= r.end).map(a => (a.end - r.start) / 1e6)
    }
    Seq(
      ("ingest_s", secs("build.ingest"), "s"),
      ("build_ivf_s", secs("build.build_ivf"), "s"),
      ("build_lex_s", secs("build.build_lex"), "s"),
      ("stored_bytes_ratio", Seq(stored.values.sum.toDouble / mdxBytes), "ratio"),
      ("delete_s", secs("churn.delete"), "s"),
      ("ivf_batch_s", batch("ivf"), "s"),
      ("hybrid_batch_s", batch("hybrid"), "s"))
  }

  def facts: Map[String, Double] = Map(
    "docs" -> corpus.docs.size.toDouble,
    "chunks" -> nChunks.toDouble,
    "deleted_rows" -> deleted.size.toDouble,
    "mdx_bytes" -> mdxBytes.toDouble)

  def ratios(costs: Seq[SpanCost]): Map[String, Double] = {
    def of(key: String) = costs.filter(_.span.key == key)
    def perQ(key: String) = {
      val cs = of(key)
      cs.map(_.rowsRead).sum.toDouble / math.max(1, cs.size * BatchSize)
    }
    Map(
      "serve.ivf_retrieve.rows_read_per_q" -> perQ("serve.ivf_retrieve"),
      "serve.ivf_fetch.rows_read_per_q" -> perQ("serve.ivf_fetch"),
      "serve.hybrid_retrieve.rows_read_per_q" -> perQ("serve.hybrid_retrieve")) ++
      stored.map { case (k, b) => s"build.$k.stored_mb" -> b / 1e6 }
  }
}

object Serve {
  val BaseDocs = 300
  val BatchSize = 64
  val K = 5
  val Threshold = 0.3
  val Victims = 64
  private val ResultCols = Seq(col("qid"), col("rn").cast("int").as("rn"), col("content"),
    col("metadata.context").as("context"))
  private val HybridCols = Seq(col("qid"), col("rank").cast("int").as("rn"), col("content"),
    col("metadata.context").as("context"))

  /** The text the ingest embedded for a chunk: its header with the first
    * `## ` removed, then its content.
    */
  def embedInput(header: String, content: String): String = {
    val i = header.indexOf("## ")
    val h = if (i < 0) header else header.substring(0, i) + header.substring(i + 3)
    s"HEADER: $h | CONTENT: $content"
  }
}

/** The LLM-data curation job over a corpus with injected exact and near
  * duplicates: near-duplicate detection, clustering, cleaning, repeated
  * passages, frequent n-grams, source overlap and decontamination. Each
  * operation reads a fresh copy of the corpus, so no per-corpus session
  * memo carries over between operations.
  */
final class Curate(spark: SparkSession, t: Tracer, work: String, seed: Long) extends Workload {
  import spark.implicits._
  import Curate._

  val name = "curate"
  val minOps = 1
  private val corpus = Gen.corpus(seed, BaseDocs, ExactDups, NearDups)

  private val staged = s"$work/corpus"

  /** Renders the corpus once; each operation then reads its own copy. */
  def setup(): Seq[String] = {
    corpus.docs.map(d => (d.docId, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(s"$staged/documents.parquet")
    Nil
  }

  override def prepare(i: Int): Unit = {
    val from = java.nio.file.Paths.get(staged)
    java.nio.file.Files.walk(from).forEach { p =>
      val to = java.nio.file.Paths.get(s"$work/op$i").resolve(from.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(p, to)
    }
  }

  private def calls(dir: String): Seq[(String, () => DataFrame)] = Seq(
    "minhash_neardup" -> (() => Dedup.minhashNearDup(spark, dir)),
    "dedup_clusters" -> (() => Dedup.dedupClusters(spark, dir)),
    "clean_corpus" -> (() => Dedup.cleanCorpus(spark, dir)),
    "repeated_passages" -> (() => Dedup.q92RepeatedPassages(spark, dir)),
    "heavy_hitters" -> (() => HeavyHitters.q86FrequentGrams(spark, dir)),
    "source_overlap" -> (() => TextAnalysis.sourceOverlap(spark, dir)),
    "decontamination" -> (() => Decontamination.contaminated(spark, dir)))

  def op(i: Int): () => OpResult = {
    val dir = s"$work/op$i"
    val out = calls(dir).map { case (n, f) => n -> t.span("curate", n, i)(f().collect()) }.toMap
    Dedup.unpersistSigs(spark, dir)
    () => OpResult(corpus.docs.size, checkClean(out("clean_corpus")))
  }

  /** cleanCorpus keeps exactly one copy of each injected exact
    * duplicate, and counts the whole group as its copies.
    */
  private def checkClean(rows: Array[Row]): Seq[String] = {
    val kept = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    corpus.exactGroups.flatMap { g =>
      val k = g.filter(kept.contains)
      if (k.size != 1) Seq(s"clean_corpus kept ${k.size} copies of group ${g.mkString(",")}")
      else if (kept(k.head) != g.size) Seq(s"clean_corpus counted ${kept(k.head)} copies of ${g.size}")
      else Nil
    }
  }

  def figures(spans: Seq[Span], l: Main.Loop): Seq[(String, Seq[Double], String)] = Seq(
    ("curate_s", l.walls ++ l.tracedWalls, "s"))

  def facts: Map[String, Double] = Map(
    "docs" -> corpus.docs.size.toDouble,
    "base_docs" -> corpus.baseDocs.toDouble,
    "exact_dup_copies" -> corpus.exactCopies.toDouble,
    "near_dup_copies" -> corpus.nearCopies.toDouble)

  def ratios(costs: Seq[SpanCost]): Map[String, Double] = Map.empty
}

object Curate {
  val BaseDocs = 300
  val ExactDups = 15
  val NearDups = 15
}
