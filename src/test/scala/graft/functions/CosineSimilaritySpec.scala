package graft.functions

import graft.SparkSpec
import graft.ext.Similarity
import org.apache.spark.sql.functions._

class CosineSimilaritySpec extends SparkSpec {

  private lazy val vecs = {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    (0 until 200).map { i =>
      (i.toLong, Array.fill(32)(rng.nextGaussian().toFloat),
        Array.fill(32)(rng.nextGaussian().toFloat))
    }.toDF("id", "a", "b")
  }

  test("native expression matches the composable zip_with form bit-for-bit") {
    val out = vecs.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      graft.ext.ScoringTwins.cosineComposable(col("a"), col("b")).as("composable"))
    assert(out.filter(col("native") =!= col("composable")).count() == 0)
  }

  test("registered in SQL: cosine_similarity callable from spark.sql") {
    vecs.createOrReplaceTempView("cs_vecs")
    val r = spark.sql(
      "SELECT max(cosine_similarity(a, a)) AS m FROM cs_vecs").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
  }

  test("null / mismatch semantics: null input, length mismatch, zero norm") {
    import spark.implicits._
    val d = Seq(
      (Some(Seq(1f, 2f)), Some(Seq(1f, 2f, 3f))), // length mismatch
      (None, Some(Seq(1f, 2f))), // null side
      (Some(Seq(0f, 0f)), Some(Seq(1f, 2f))) // zero norm
    ).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(d.collect().forall(_.isNullAt(0)))
  }

  test("double arrays accepted; interpreted eval path agrees") {
    import spark.implicits._
    val d = Seq((Seq(1.0, 2.0, 2.0), Seq(2.0, 4.0, 4.0))).toDF("a", "b")
    val viaDf = d.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(viaDf - 1.0) < 1e-12)
    // interpreted path (no codegen) via expression eval
    val e = CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0f, 0.0f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(0.0f, 1.0f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)))
    assert(e.eval(null) == 0.0)
  }
}
