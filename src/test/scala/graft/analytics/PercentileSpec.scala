package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Summary.exactPercentilesHist's two paths against each other and against
  * Spark's builtin `percentile`, on generated and degenerate double
  * columns: the driver path (default budget), the histogram path (forced
  * with `driverBytes = 0`) and the builtin must agree — the two helper
  * paths bit for bit (`java.lang.Double.compare == 0`), the builtin with
  * `==` (it may keep -0.0 apart from 0.0). ScalaCheck Gen supplies the
  * columns (sampled explicitly — the scalatest bridge artifact isn't in
  * the offline cache).
  */
class PercentileSpec extends SparkSpec {

  private val probs = Seq(0.0, 0.25, 0.5, 0.75, 0.95, 1.0)

  private type Col = Seq[Option[Double]]

  /** A frame of equal-length nullable double columns c0, c1, …, split
    * into the given partitions (row counts per partition).
    */
  private def frame(cols: Seq[Col], split: Seq[Int]): DataFrame = {
    val n = if (cols.isEmpty) 0 else cols.head.length
    require(split.sum == n)
    val rows = (0 until n).map(r => Row.fromSeq(cols.map(_(r).orNull)))
    val offsets = split.scanLeft(0)(_ + _)
    val parts = split.indices.map(p => rows.slice(offsets(p), offsets(p + 1)))
    val schema = StructType(cols.indices.map(i =>
      StructField(s"c$i", DoubleType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(parts, parts.length).flatMap(identity),
      schema)
  }

  private def even(n: Int, parts: Int): Seq[Int] =
    (0 until parts).map(p => n / parts + (if (p < n % parts) 1 else 0))

  private def run(df: DataFrame, ps: Seq[Double], driverBytes: Long)
      : (Map[String, Seq[Option[Double]]], String) =
    Summary.exactPercentilesWithPath(df, df.columns.toSeq.map(_ -> ps),
      nBuckets = 4096, maxResolveRows = 4000000L, boundsIn = None,
      driverBytes = driverBytes)

  private def builtin(df: DataFrame, ps: Seq[Double]): Map[String, Seq[Option[Double]]] = {
    val aggs = df.columns.toSeq.map(c => percentile(col(c), array(ps.map(lit): _*)))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    df.columns.zipWithIndex.map { case (c, i) =>
      c -> (if (r.isNullAt(i)) ps.map(_ => Option.empty[Double])
            else r.getSeq[Double](i).map(Option(_)))
    }.toMap
  }

  private def sameBits(a: Option[Double], b: Option[Double]): Boolean =
    (a, b) match {
      case (Some(x), Some(y)) => java.lang.Double.compare(x, y) == 0
      case (None, None) => true
      case _ => false
    }

  /** The three-way agreement on one frame. */
  private def check(df: DataFrame, ps: Seq[Double], label: String): Unit = {
    val (drv, drvPath) = run(df, ps, Summary.percentileDriverBytes)
    val (hist, histPath) = run(df, ps, 0L)
    val ref = builtin(df, ps)
    val anyValue = df.columns.exists(c => drv(c).exists(_.isDefined))
    assert(drvPath == "driver", s"$label: default budget took $drvPath")
    if (anyValue)
      assert(histPath == "histogram", s"$label: driverBytes=0 took $histPath")
    df.columns.foreach { c =>
      drv(c).zip(hist(c)).zip(ref(c)).zip(ps).foreach { case (((d, h), b), p) =>
        assert(sameBits(d, h), s"$label $c p=$p: driver $d vs histogram $h")
        assert(d == b, s"$label $c p=$p: driver $d vs builtin $b")
      }
    }
  }

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val values: Gen[Double] = Gen.frequency(
    3 -> Gen.choose(-5, 5).map(_.toDouble), // duplicates
    3 -> Gen.choose(-1e6, 1e6),
    1 -> Gen.oneOf(0.0, -0.0),
    1 -> Gen.oneOf(1e300, -1e300, 0.5e300, -2.5e299),
    1 -> Gen.choose(-1e300, 1e300))

  private def column(n: Int): Gen[Col] = for {
    nullFrac <- Gen.oneOf(0.0, 0.0, 0.3, 1.0)
    allEqual <- Gen.frequency(5 -> false, 1 -> true)
    c <- values
    vs <- Gen.listOfN(n, for {
      v <- values
      u <- Gen.choose(0.0, 1.0)
    } yield if (u < nullFrac) None else Some(if (allEqual) c else v))
  } yield vs

  private val frames: Gen[(Seq[Col], Int, Seq[Double])] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(1),
      6 -> Gen.choose(2, 400))
    k <- Gen.choose(1, 3)
    cols <- Gen.listOfN(k, column(n))
    parts <- Gen.choose(1, 4)
    extra <- Gen.listOfN(2, Gen.choose(0.0, 1.0))
  } yield (cols, parts, probs ++ extra)

  test("generated columns: driver == histogram bit for bit, == builtin") {
    (1 to 30).foreach { s =>
      val (cols, parts, ps) = sample(frames, s.toLong)
      val n = cols.head.length
      check(frame(cols, even(n, parts)), ps, s"seed $s (n=$n, parts=$parts)")
    }
  }

  test("degenerate frames: empty, all-null, single row, all-equal, ±0.0, ±1e300") {
    val cases: Seq[(String, Seq[Col])] = Seq(
      "empty" -> Seq(Nil, Nil),
      "all-null" -> Seq(Seq.fill(5)(None)),
      "all-null beside values" ->
        Seq(Seq.fill(5)(None), (1 to 5).map(i => Some(i.toDouble))),
      "single row" -> Seq(Seq(Some(3.5))),
      "single null row" -> Seq(Seq(None)),
      "all equal" -> Seq(Seq.fill(7)(Some(2.25))),
      "duplicates" -> Seq(Seq(1, 1, 1, 2, 2, 9, 9, 9, 9).map(v => Some(v.toDouble))),
      "signed zeros" ->
        Seq(Seq(-0.0, 0.0, -0.0, 1.0, -1.0, 0.0, -0.0).map(Some(_))),
      "only -0.0" -> Seq(Seq(-0.0, -0.0, -0.0).map(Some(_))),
      "±1e300" -> Seq(Seq(1e300, -1e300, 1e300, 0.0, -1e300, 5e299).map(Some(_))),
      "nulls in some columns" -> Seq(
        Seq(Some(1.0), None, Some(3.0), None, Some(5.0), Some(-2.0)),
        Seq(4.0, 2.0, 8.0, 6.0, 0.5, 1.5).map(Some(_)))
    )
    cases.foreach { case (label, cols) =>
      val n = cols.head.length
      check(frame(cols, if (n == 0) Seq(0) else even(n, 2)), probs, label)
    }
  }

  test("a skewed partition over its share of the budget takes the exact histogram path") {
    // 1,000 values in one partition, 10 in each of three others: the
    // 8,240 bytes total fit a 16,000-byte budget, but the big partition's
    // 8,000 bytes exceed its 16,000 / 4 share
    val rnd = new scala.util.Random(5)
    val split = Seq(10, 1000, 10, 10)
    val c0: Col = (1 to split.sum).map(_ => Some(rnd.nextInt(300) / 4.0))
    val df = frame(Seq(c0), split)
    val ps = probs :+ 0.37
    val (skewed, path) = run(df, ps, 16000L)
    assert(path == "histogram")
    val (drv, drvPath) = run(df, ps, 4L * 8240L)
    assert(drvPath == "driver")
    val ref = builtin(df, ps)
    skewed("c0").zip(drv("c0")).zip(ref("c0")).foreach { case ((h, d), b) =>
      assert(sameBits(h, d), s"histogram $h vs driver $d")
      assert(h == b, s"histogram $h vs builtin $b")
    }
  }

  test("the driver budget is a byte gate: one value over it takes the histogram path") {
    val df = frame(Seq((1 to 100).map(i => Some(i * 1.5)),
      (1 to 100).map(i => if (i % 4 == 0) None else Some(-i.toDouble))), Seq(100))
    val bytes = (100 + 75) * 8L
    val (atBudget, p1) = run(df, probs, bytes)
    val (overBudget, p2) = run(df, probs, bytes - 1)
    assert(p1 == "driver" && p2 == "histogram")
    assert(atBudget == overBudget)
    // with caller-supplied bounds the gate is decided from the counts alone
    val b = Seq((100L, Some(1.5), Some(150.0)), (75L, Some(-99.0), Some(-1.0)))
    def withBounds(driverBytes: Long) = Summary.exactPercentilesWithPath(
      df, df.columns.toSeq.map(_ -> probs), 4096, 4000000L, Some(b), driverBytes)
    assert(withBounds(bytes)._2 == "driver")
    assert(withBounds(bytes - 1)._2 == "histogram")
    assert(withBounds(bytes)._1 == atBudget && withBounds(bytes - 1)._1 == atBudget)
    // the derived default: max heap / 32, at most half the result-size cap
    val budget = Summary.percentileDriverBytes
    assert(budget > 0 && budget <= Runtime.getRuntime.maxMemory / 32)
  }
}
