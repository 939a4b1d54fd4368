package graft.etl

import graft.SparkSpec
import graft.util.DriverBudget
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[Cleaning.cleanNumerics]] (one statistics scan, the post-clip median
  * read off the pre-clip ranks) against a reference built from builtin
  * aggregates the way the stage was first written: `avg(isNull)` null
  * fractions, builtin `percentile` Q1/Q3, `clip`, then a builtin median of
  * the clipped column as the fill; columns in order, one at a time, when
  * one is over half null. The clean runs on both kernel paths (the default
  * driver budget, and [[Cleaning.cleanCoerced]] under a zero
  * `DriverBudget` for the histogram path), and all three outputs must
  * agree bit for bit. The builtin keeps -0.0 apart from
  * 0.0 where the kernel reads it as 0.0, so the reference adds 0.0 to each
  * builtin answer.
  */
class CleanStatsSpec extends SparkSpec {

  private type Col = Seq[Option[Double]]

  private def frame(cols: Seq[Col], parts: Int): DataFrame = {
    val n = if (cols.isEmpty) 0 else cols.head.length
    val rows = (0 until n).map(r => Row.fromSeq(r.toLong +: cols.map(_(r).map(v => v: Any).orNull)))
    val schema = StructType(StructField("id", LongType) +:
      cols.indices.map(i => StructField(s"c$i", DoubleType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, math.max(1, parts)), schema)
  }

  private def builtin(d: DataFrame, c: String, p: Double): Option[Double] = {
    val r = d.agg(percentile(col(c), lit(p))).head()
    if (r.isNullAt(0)) None else Some(r.getDouble(0) + 0.0)
  }

  private def nullFrac(d: DataFrame, c: String): Double = {
    val r = d.agg(avg(col(c).isNull.cast("double"))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  private def clipFill(d: DataFrame, c: String): DataFrame = builtin(d, c, 0.25) match {
    case None => d
    case Some(q1) =>
      val q3 = builtin(d, c, 0.75).get
      val iqr = q3 - q1
      val clipped = d.withColumn(c, Cleaning.clip(col(c), q1 - 1.5 * iqr, q3 + 1.5 * iqr))
      clipped.na.fill(Map(c -> builtin(clipped, c, 0.5).get))
  }

  /** The reference over coerced columns, and whether it took the
    * sequential path.
    */
  private def reference(coerced: DataFrame, cols: Seq[String]): (DataFrame, Boolean) = {
    if (cols.forall(c => nullFrac(coerced, c) <= 0.5)) (cols.foldLeft(coerced)(clipFill), false)
    else (cols.foldLeft(coerced) { (d, c) =>
      clipFill(if (nullFrac(d, c) > 0.5) d.na.drop(Seq(c)) else d, c)
    }, true)
  }

  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("id").collect().toSeq.map(_.toSeq.map {
      case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    })

  /** Checks one frame; returns whether the reference ran sequentially. */
  private def check(df: DataFrame, label: String): Boolean = {
    val cols = df.columns.toSeq.filter(_ != "id")
    val coerced = cols.foldLeft(df)((d, c) => d.withColumn(c, Cleaning.coerceToDouble(col(c))))
    val (ref, sequential) = reference(coerced, cols)
    val want = bits(ref)
    assert(bits(Cleaning.cleanNumerics(df, cols)) == want, s"$label: driver path")
    assert(DriverBudget.withBytes(0L)(bits(Cleaning.cleanCoerced(coerced, cols))) == want,
      s"$label: histogram path")
    sequential
  }

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val values: Gen[Double] = Gen.frequency(
    3 -> Gen.choose(-5, 5).map(_.toDouble), // duplicates
    3 -> Gen.choose(-1e6, 1e6),
    1 -> Gen.oneOf(0.0, -0.0),
    1 -> Gen.oneOf(1e300, -1e300, 0.5e300, -2.5e299),
    1 -> Gen.choose(-1e300, 1e300),
    1 -> Gen.choose(100.0, 1e4)) // outliers past the fences

  private def column(n: Int): Gen[Col] = for {
    nullFrac <- Gen.frequency(3 -> 0.0, 3 -> 0.2, 1 -> 0.7)
    allEqual <- Gen.frequency(6 -> false, 1 -> true)
    c <- values
    vs <- Gen.listOfN(n, for {
      v <- values
      u <- Gen.choose(0.0, 1.0)
    } yield if (u < nullFrac) None else Some(if (allEqual) c else v))
  } yield vs

  private val frames: Gen[(Seq[Col], Int)] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(1), 6 -> Gen.choose(2, 300))
    k <- Gen.choose(1, 3)
    cols <- Gen.listOfN(k, column(n))
    parts <- Gen.choose(1, 4)
  } yield (cols, parts)

  test("generated frames: one-pass clean == builtin reference, both kernel paths") {
    val sequential = (1 to 20).map { s =>
      val (cols, parts) = sample(frames, s.toLong)
      check(frame(cols, parts), s"seed $s (n=${cols.head.length}, k=${cols.length})")
    }
    assert(sequential.contains(true) && sequential.contains(false),
      s"both paths must run: $sequential")
  }

  test("degenerate frames: empty, all-null, single row, all-equal, ±0.0, ±1e300, >50% null") {
    def some(vs: Double*): Col = vs.map(Some(_))
    val cases: Seq[(String, Seq[Col], Boolean)] = Seq(
      ("empty", Seq(Nil, Nil), false),
      ("all-null column", Seq(Seq.fill(5)(None)), true),
      ("all-null beside values", Seq(Seq.fill(5)(None), some(1, 2, 3, 4, 50)), true),
      ("single row", Seq(some(3.5)), false),
      ("all equal with a null", Seq(Seq.fill(6)(Some(2.25)) :+ None), false),
      ("duplicates", Seq(some(1, 1, 1, 2, 2, 9, 9, 9, 9, 40)), false),
      ("signed zeros", Seq(some(-0.0, 0.0, -0.0, 1.0, -1.0, 0.0, -0.0) :+ None), false),
      ("only -0.0 and nulls", Seq(some(-0.0, -0.0, -0.0) ++ Seq(None)), false),
      ("±1e300", Seq(some(1e300, -1e300, 1e300, 0.0, -1e300, 5e299) :+ None), false),
      ("over half null, then a dense column", Seq(
        Seq(None, None, None, None, Some(1.0), Some(2.0), Some(30.0)),
        some(4, 2, 8, 6, 0.5, 1.5, 100)), true),
      ("dense, then over half null", Seq(
        some(4, 2, 8, 6, 0.5, 1.5, -100),
        Seq(Some(5.0), None, None, Some(-7.0), None, None, Some(1.0))), true))
    cases.foreach { case (label, cols, sequential) =>
      assert(check(frame(cols, 2), label) == sequential, s"$label: sequential path")
    }
  }

  test("string columns coerce first: garbage and 'NaN' become nulls before the statistics") {
    import spark.implicits._
    val df = Seq((0L, "3"), (1L, "NaN"), (2L, "x"), (3L, "7.5"), (4L, "1"), (5L, "900"),
      (6L, "2"), (7L, null)).toDF("id", "c0")
    assert(!check(df, "strings"))
  }
}
