package graft

import org.apache.spark.ml.feature.Normalizer
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `l2_normalize` replaced the engine's array → Vector → MLlib
  * `Normalizer` → array round trips; every stored radius and code was
  * priced through one or the other, so the two must agree bit for bit.
  * MLlib's `Normalizer(p = 2)` is the reference.
  */
class L2NormalizeSpec extends AnyFunSuite with SharedSpark {

  test("l2_normalize is bit-identical to MLlib Normalizer, zero vectors included") {
    import spark.implicits._
    val fixture = Tables(spark, Sf0001, "embeddings")
      .select(col("vec_id").cast("long").as("id"), col("embedding"))
    val edge = Seq(
      (-1L, Array.fill(8)(0f)),                              // zero vector
      (-2L, Array(3f, 4f, 0.1f, -7.25f, 1e-20f, 2e19f)),     // far from unit
      (-3L, Array(0.3f, -0.3f, 0.7f)))
      .toDF("id", "embedding")
    val input = fixture.unionByName(edge)
    def bits(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits).toSeq).toMap
    val reference = bits(new Normalizer()
      .setInputCol("__raw").setOutputCol("__f").setP(2.0)
      .transform(input.withColumn("__raw",
        array_to_vector(col("embedding").cast("array<double>"))))
      .select(col("id"), vector_to_array(col("__f"))))
    assert(reference.size == fixture.count() + 3)
    assert(reference(-1L).forall(_ == 0L), "the zero vector must stay zero")

    val viaColumn = bits(input.select(col("id"),
      graft.functions.l2_normalize(col("embedding"))))
    assert(viaColumn == reference, "codegen path diverged from MLlib Normalizer")

    graft.functions.registerAll(spark)
    input.createOrReplaceTempView("l2n_input")
    val viaSql = bits(spark.sql("SELECT id, l2_normalize(embedding) FROM l2n_input"))
    assert(viaSql == reference, "SQL-registered path diverged from MLlib Normalizer")

    val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = bits(input.select(col("id"),
        graft.functions.l2_normalize(col("embedding"))))
      assert(interpreted == reference, "interpreted path diverged from MLlib Normalizer")
    } finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
  }
}
