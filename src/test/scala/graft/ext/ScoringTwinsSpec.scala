package graft.ext

import graft.SparkSpec
import graft.functions.{CosineSimilarity, QDistL2}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** The scoring expressions of the ranked ANN operators against their
  * pure-builtin twins on generated input: native `qdist_l2` ==
  * [[ScoringTwins.qdistL2Composable]] and native `cosine_similarity` ==
  * [[ScoringTwins.cosineComposable]], value for value (doubles bit for
  * bit, NaN equal to NaN), through whole-stage codegen and through the
  * expression's interpreted eval. The generated pairs have random lengths
  * (0 included, mismatched ones too), null arrays and null elements,
  * all-zero vectors, and elements large enough to overflow: `qdist_l2`
  * wraps, the cosine goes infinite or NaN.
  */
class ScoringTwinsSpec extends SparkSpec {

  /** One array of `n` elements, or null; with some probability it holds
    * null elements, with some it is all `zero`. */
  private def arrayOf(n: Int, elem: Gen[Any], zero: Any): Gen[Any] =
    Gen.frequency(
      1 -> Gen.const(null),
      1 -> Gen.const(Seq.fill(n)(zero)),
      2 -> Gen.listOfN(n, Gen.frequency(6 -> elem, 1 -> Gen.const(null))),
      6 -> Gen.listOfN(n, elem))

  /** Batches of (a, b) array pairs: equal lengths mostly, mismatched
    * ones often, lengths 0 to 8. */
  private def batches(elem: Gen[Any], zero: Any): Gen[Seq[(Any, Any)]] =
    Gen.listOfN(40, for {
      n <- Gen.choose(0, 8)
      m <- Gen.frequency(3 -> Gen.const(n), 1 -> Gen.choose(0, 8))
      a <- arrayOf(n, elem, zero)
      b <- arrayOf(m, elem, zero)
    } yield (a, b))

  private val longs: Gen[Any] = Gen.frequency(
    4 -> Gen.choose(-4000L, 4000L),
    2 -> Gen.choose(Long.MinValue, Long.MaxValue),
    1 -> Gen.oneOf(0L, 3037000500L, -3037000500L, Long.MaxValue,
      Long.MinValue)).map(x => x: Any)

  private val floats: Gen[Any] = Gen.frequency(
    4 -> Gen.choose(-1.0, 1.0).map(_.toFloat),
    2 -> Gen.choose(-3.0e38, 3.0e38).map(_.toFloat),
    1 -> Gen.oneOf(0f, -0f, Float.MinPositiveValue, 1e-30f, 1e30f,
      Float.MaxValue, Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity)).map(x => x: Any)

  /** Rows where the native expression (codegen and interpreted) and the
    * twin disagree, rendered for the failure message. */
  private def mismatches(pairs: Seq[(Any, Any)], elemType: DataType,
      native: (Column, Column) => Column,
      interpretedNative: (Expression, Expression) => Expression,
      twin: (Column, Column) => Column): Seq[String] = {
    val arr = ArrayType(elemType, containsNull = true)
    val schema = StructType(Seq(StructField("i", IntegerType),
      StructField("a", arr), StructField("b", arr)))
    // an RDD source, not a local relation: the projection runs in
    // whole-stage codegen instead of being folded on the driver
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      pairs.zipWithIndex.map { case ((a, b), i) => Row(i, a, b) }, 2), schema)
    df.select(col("i"), native(col("a"), col("b")).as("native"),
        twin(col("a"), col("b")).as("twin"))
      .collect().flatMap { r =>
        val (a, b) = pairs(r.getInt(0))
        val interpreted =
          interpretedNative(Literal.create(a, arr), Literal.create(b, arr))
            .eval(null)
        val same = java.util.Objects.equals(r.get(1), r.get(2)) &&
          java.util.Objects.equals(interpreted, r.get(2))
        if (same) None
        else Some(s"a=$a b=$b: codegen ${r.get(1)}, interpreted $interpreted, " +
          s"twin ${r.get(2)}")
      }.toSeq
  }

  private def pin(elem: Gen[Any], zero: Any, elemType: DataType,
      native: (Column, Column) => Column,
      interpretedNative: (Expression, Expression) => Expression,
      twin: (Column, Column) => Column): Unit = {
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(8)
        .withInitialSeed(Seed(17L)).withWorkers(1),
      Prop.forAllNoShrink(batches(elem, zero)) { pairs =>
        val bad = mismatches(pairs, elemType, native, interpretedNative, twin)
        Prop(bad.isEmpty) :| bad.take(5).mkString("\n")
      })
    assert(result.passed, Pretty.pretty(result))
  }

  test("qdist_l2 == its composable twin on generated pairs, wrapping included") {
    pin(longs, 0L, LongType, Similarity.qdistL2, QDistL2(_, _),
      ScoringTwins.qdistL2Composable)
  }

  test("cosine_similarity == its composable twin on generated pairs") {
    pin(floats, 0f, FloatType, Similarity.cosine, CosineSimilarity(_, _),
      ScoringTwins.cosineComposable)
  }
}
