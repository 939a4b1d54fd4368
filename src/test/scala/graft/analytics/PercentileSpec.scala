package graft.analytics

import graft.SparkSpec
import graft.util.DriverBudget
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The percentile paths of [[OrderStats]] against each other and against
  * Spark's builtin `percentile`, on generated and degenerate double
  * columns, ungrouped and grouped by a key column `g`: the driver path
  * (default budget), the histogram path (forced with a zero
  * `DriverBudget`)
  * and the builtin must agree — the two kernel paths bit for bit
  * (`java.lang.Double.compare == 0`), the builtin with `==` (it may keep
  * -0.0 apart from 0.0). ScalaCheck Gen supplies the columns (sampled
  * explicitly — the scalatest bridge artifact isn't in the offline cache).
  */
class PercentileSpec extends SparkSpec {

  private val probs = Seq(0.0, 0.25, 0.5, 0.75, 0.95, 1.0)

  private type Col = Seq[Option[Double]]
  private type Answers = Map[String, Seq[Option[Double]]]

  /** A frame of equal-length nullable double columns c0, c1, … (plus the
    * string key column g when `keys` is given), split into the given
    * partitions (row counts per partition).
    */
  private def frame(cols: Seq[Col], split: Seq[Int],
      keys: Option[Seq[Option[String]]] = None): DataFrame = {
    val n = if (cols.isEmpty) 0 else cols.head.length
    require(split.sum == n)
    val rows = (0 until n).map(r =>
      Row.fromSeq(keys.map(_(r).orNull).toSeq ++ cols.map(_(r).orNull)))
    val offsets = split.scanLeft(0)(_ + _)
    val parts = split.indices.map(p => rows.slice(offsets(p), offsets(p + 1)))
    val schema = StructType(keys.map(_ => StructField("g", StringType)).toSeq ++
      cols.indices.map(i => StructField(s"c$i", DoubleType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(parts, parts.length).flatMap(identity),
      schema)
  }

  private def even(n: Int, parts: Int): Seq[Int] =
    (0 until parts).map(p => n / parts + (if (p < n % parts) 1 else 0))

  private def valueCols(df: DataFrame): Seq[String] = df.columns.toSeq.filter(_ != "g")

  private def runGrouped(df: DataFrame, group: Option[String], ps: Seq[Double],
      driverBytes: Long, nBuckets: Int): (Map[Any, Answers], String) =
    DriverBudget.withBytes(driverBytes) {
      OrderStats.percentiles(df, group, valueCols(df).map(_ -> ps), nBuckets = nBuckets)
    }

  private def run(df: DataFrame, ps: Seq[Double], driverBytes: Long): (Answers, String) = {
    val (out, path) = runGrouped(df, None, ps, driverBytes, OrderStats.DefaultBuckets)
    (out.values.head, path)
  }

  private def answers(r: Row, cols: Seq[String], ps: Seq[Double], from: Int): Answers =
    cols.zipWithIndex.map { case (c, i) =>
      c -> (if (r.isNullAt(from + i)) ps.map(_ => Option.empty[Double])
            else r.getSeq[Double](from + i).map(Option(_)))
    }.toMap

  private def builtin(df: DataFrame, ps: Seq[Double]): Answers = {
    val aggs = valueCols(df).map(c => percentile(col(c), array(ps.map(lit): _*)))
    answers(df.agg(aggs.head, aggs.tail: _*).head(), valueCols(df), ps, 0)
  }

  private def builtinGrouped(df: DataFrame, ps: Seq[Double]): Map[Any, Answers] = {
    val aggs = valueCols(df).map(c => percentile(col(c), array(ps.map(lit): _*)))
    df.groupBy("g").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.get(0) -> answers(r, valueCols(df), ps, 1)).toMap
  }

  private def sameBits(a: Option[Double], b: Option[Double]): Boolean =
    (a, b) match {
      case (Some(x), Some(y)) => java.lang.Double.compare(x, y) == 0
      case (None, None) => true
      case _ => false
    }

  /** The three-way agreement on one frame: ungrouped over the value
    * columns and, when the frame has a key column g, grouped by it.
    */
  private def check(df: DataFrame, ps: Seq[Double], label: String,
      nBuckets: Int = OrderStats.DefaultBuckets): Unit = {
    val anyValue = valueCols(df).exists(c => !df.filter(col(c).isNotNull).isEmpty)
    val groups = if (df.columns.contains("g")) Seq(None, Some("g")) else Seq(None)
    groups.foreach { group =>
      val (drv, drvPath) = runGrouped(df, group, ps, DriverBudget.bytes, nBuckets)
      val (hist, histPath) = runGrouped(df, group, ps, 0L, nBuckets)
      val ref = if (group.isEmpty) Map[Any, Answers](0 -> builtin(df, ps))
        else builtinGrouped(df, ps)
      val at = s"$label${group.fold("")(g => s" by $g")}"
      assert(drvPath == "driver", s"$at: default budget took $drvPath")
      if (anyValue)
        assert(histPath == "histogram", s"$at: driverBytes=0 took $histPath")
      assert(drv.keySet == ref.keySet && hist.keySet == ref.keySet,
        s"$at: groups ${drv.keySet} / ${hist.keySet} vs builtin ${ref.keySet}")
      for (g <- ref.keys; c <- valueCols(df))
        drv(g)(c).zip(hist(g)(c)).zip(ref(g)(c)).zip(ps).foreach { case (((d, h), b), p) =>
          assert(sameBits(d, h), s"$at g=$g $c p=$p: driver $d vs histogram $h")
          assert(d == b, s"$at g=$g $c p=$p: driver $d vs builtin $b")
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

  /** Group keys: one group, or a few groups with the null key among them. */
  private def keyColumn(n: Int): Gen[Seq[Option[String]]] = Gen.frequency(
    1 -> Gen.const(Seq.fill(n)(Some("a"))),
    3 -> Gen.listOfN(n, Gen.oneOf(None, Some("a"), Some("b"), Some("c"))))

  private val frames: Gen[(Seq[Col], Seq[Option[String]], Int, Seq[Double])] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(1),
      6 -> Gen.choose(2, 400))
    k <- Gen.choose(1, 3)
    cols <- Gen.listOfN(k, column(n))
    keys <- keyColumn(n)
    parts <- Gen.choose(1, 4)
    extra <- Gen.listOfN(2, Gen.choose(0.0, 1.0))
  } yield (cols, keys, parts, probs ++ extra)

  test("generated columns: driver == histogram bit for bit, == builtin") {
    (1 to 30).foreach { s =>
      val (cols, keys, parts, ps) = sample(frames, s.toLong)
      val n = cols.head.length
      check(frame(cols, even(n, parts), Some(keys)), ps,
        s"seed $s (n=$n, parts=$parts)")
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
        Seq(4.0, 2.0, 8.0, 6.0, 0.5, 1.5).map(Some(_))),
      "null key" -> Seq(Seq(1.0, 3.0, 2.0, 5.0).map(Some(_)),
        Seq(1.0, 2.0, 1.0, 3.0).map(Some(_)))
    )
    // every case also runs grouped, keys cycling over null, "a" and "b"
    // (the all-null cases give all-null groups); "null key" is the frame
    // ("a",1,1), ("a",3,2), (null,2,1), (null,5,3)
    val cycle = Seq(None, Some("a"), Some("b"))
    def keys(label: String, n: Int): Seq[Option[String]] =
      if (label == "null key") Seq(Some("a"), Some("a"), None, None)
      else Seq.tabulate(n)(i => cycle(i % 3))
    cases.foreach { case (label, cols) =>
      val n = cols.head.length
      val df = frame(cols, if (n == 0) Seq(0) else even(n, 2), Some(keys(label, n)))
      check(df, probs, label)
      // duplicates-heavy frames again with 4 buckets, so the resolve pass
      // sees buckets that hold several distinct values
      if (label == "duplicates" || label == "signed zeros")
        check(df, probs, s"$label, 4 buckets", nBuckets = 4)
    }
    val rnd = new scala.util.Random(11)
    check(frame(Seq(Seq.fill(300)(Some(rnd.nextInt(11) - 5.0))), even(300, 3),
      Some(Seq.fill(300)(cycle(rnd.nextInt(3))))), probs,
      "300 values in -5..5, 4 buckets", nBuckets = 4)
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
    def withBounds(driverBytes: Long) = DriverBudget.withBytes(driverBytes) {
      OrderStats.percentiles(df, None, df.columns.toSeq.map(_ -> probs), Some(b))
    }
    assert(withBounds(bytes)._2 == "driver")
    assert(withBounds(bytes - 1)._2 == "histogram")
    assert(withBounds(bytes)._1.values.head == atBudget &&
      withBounds(bytes - 1)._1.values.head == atBudget)
    // the derived default: max heap / 32, at most half the result-size cap
    val budget = DriverBudget.bytes
    assert(budget > 0 && budget <= Runtime.getRuntime.maxMemory / 32)
  }
}
