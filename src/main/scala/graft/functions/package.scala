package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Column-level API over the native expressions, plus SQL registration. */
package object functions {

  private def b(c: Column) = Bridge.expression(c)
  // Defensive casts replace ImplicitCastInputTypes (private[sql] in Spark 4):
  private def fa(c: Column) = b(c.cast("array<float>"))
  private def st(c: Column) = b(c.cast("string"))

  def cosine_sim(a: Column, bb: Column): Column = Bridge.column(CosineSimilarity(fa(a), fa(bb)))
  def dot_product(a: Column, bb: Column): Column = Bridge.column(DotProduct(fa(a), fa(bb)))
  def l2_dist_sq(a: Column, bb: Column): Column = Bridge.column(L2Distance(fa(a), fa(bb)))
  def l2_norm(a: Column): Column = Bridge.column(L2Norm(fa(a)))
  def l2_normalize(a: Column): Column = Bridge.column(L2Normalize(b(a.cast("array<double>"))))
  def hash_embed(text: Column, dim: Column): Column =
    Bridge.column(HashEmbed(st(text), b(dim.cast("int"))))
  def simhash64(text: Column): Column = Bridge.column(SimHash64(st(text)))
  def rolling_hash(text: Column): Column = Bridge.column(RollingHash(st(text)))
  def minhash_sig(grams: Column, numHashes: Column): Column =
    Bridge.column(MinHashSignature(b(grams), b(numHashes.cast("int"))))
  def sig_jaccard_est(a: Column, bb: Column): Column =
    Bridge.column(SigJaccardEst(b(a), b(bb)))
  def minhash_text(text: Column, gramLen: Column, numHashes: Column): Column =
    Bridge.column(MinHashText(st(text), b(gramLen.cast("int")), b(numHashes.cast("int"))))
  def chunk_text(text: Column, size: Column, overlap: Column): Column =
    Bridge.column(ChunkText(st(text), b(size.cast("int")), b(overlap.cast("int"))))
  def byte_histogram(bin: Column, bins: Column): Column =
    Bridge.column(ByteHistogram(b(bin.cast("binary")), b(bins.cast("int"))))
  def byte_stride(bin: Column, stride: Column): Column =
    Bridge.column(ByteStride(b(bin.cast("binary")), b(stride.cast("int"))))
  def bpe_token_count(text: Column): Column =
    Bridge.column(BpeTokenCount(st(text)))
  def bloom_might_contain(filterBytes: Column, value: Column): Column =
    Bridge.column(BloomMightContain(b(filterBytes.cast("binary")), st(value)))
  def rp_project(vec: Column, m: Column): Column =
    Bridge.column(RpProject(fa(vec), b(m.cast("int"))))
  def pq_adc(codes: Column, lut: Column): Column =
    Bridge.column(PqAdc(b(codes.cast("array<int>")), b(lut.cast("array<double>"))))
  // score is NOT cast: BIGINT scores must stay exact (fixed-point BM25
  // ordering lives past 2^53); DOUBLE passes through. Other types fail
  // the aggregate's input check.
  def topk_by(id: Column, score: Column, k: Column): Column =
    Bridge.aggColumn(TopKByScore(
      b(id.cast("long")), b(score), b(k.cast("int"))))

  /** Single source of the SQL-name → expression-builder table, shared by
    * [[registerAll]] (imperative, current-session) and
    * [[graft.GraftExtensions]] (config-driven, at session build).
    */
  private[graft] val sqlBuilders: Seq[
      (String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    "cosine_sim" -> (es => CosineSimilarity(es(0), es(1))),
    "dot_product" -> (es => DotProduct(es(0), es(1))),
    "l2_dist_sq" -> (es => L2Distance(es(0), es(1))),
    "l2_norm" -> (es => L2Norm(es.head)),
    "l2_normalize" -> (es => L2Normalize(
      org.apache.spark.sql.catalyst.expressions.Cast(es.head, ArrayType(DoubleType)))),
    "hash_embed" -> (es => HashEmbed(es(0), es(1))),
    "simhash64" -> (es => SimHash64(es.head)),
    "rolling_hash" -> (es => RollingHash(es.head)),
    "minhash_sig" -> (es => MinHashSignature(es(0), es(1))),
    "sig_jaccard_est" -> (es => SigJaccardEst(es(0), es(1))),
    "minhash_text" -> (es => MinHashText(es(0), es(1), es(2))),
    "chunk_text" -> (es => ChunkText(es(0), es(1), es(2))),
    "byte_histogram" -> (es => ByteHistogram(es(0), es(1))),
    "byte_stride" -> (es => ByteStride(es(0), es(1))),
    "bpe_token_count" -> (es => BpeTokenCount(es.head)),
    "bloom_might_contain" -> (es => BloomMightContain(es(0), es(1))),
    "rp_project" -> (es => RpProject(es(0), es(1))),
    "pq_adc" -> (es => PqAdc(es(0), es(1))),
    "topk_by" -> (es => TopKByScore(es(0), es(1), es(2))))

  /** Register all graft functions for SQL text / `call_function`. */
  def registerAll(spark: SparkSession): Unit =
    sqlBuilders.foreach { case (name, builder) =>
      Bridge.register(spark, name, builder)
    }
}
