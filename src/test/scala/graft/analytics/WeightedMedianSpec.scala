package graft.analytics

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.util.DriverBudget

class WeightedMedianSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force lower weighted median: smallest v with 2·W(≤v) ≥ W. */
  private def brute(rows: Seq[(String, Double, Long)]): Map[String, Double] =
    rows.groupBy(_._1).map { case (g, rs) =>
      val w = rs.map(_._3).sum
      val byV = rs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      var cum = 0L
      g -> byV.collectFirst {
        case (v, vw) if { cum += vw; 2 * cum >= w } => v
      }.get
    }

  private def run(rows: Seq[(String, Double, Long)]) =
    Summary.weightedMedian(rows.toDF("g", "v", "wt"), "g", "v", "wt")
      .as[(String, Double)].collect().toMap

  /** The weighted median straight from the kernel (rank ⌊(W−1)/2⌋), and
    * the path it took.
    */
  private def viaKernel(rows: Seq[(String, Double, Long)], nBuckets: Int,
      driverBytes: Long = DriverBudget.bytes): (Map[String, Double], String) = {
    val (stats, path) = DriverBudget.withBytes(driverBytes) {
      OrderStats(rows.toDF("g", "v", "wt"), Some("g"), Seq("v"),
        col("wt"), (_, w) => Seq((w - 1) / 2), nBuckets = nBuckets)
    }
    (stats.map { case (g, st) => g.asInstanceOf[String] -> st.head.at((st.head.n - 1) / 2) }, path)
  }

  test("matches the brute-force definition on mixed groups") {
    val rows = Seq(
      // even total weight, answer between two values
      ("a", 1.0, 1L), ("a", 2.0, 1L), ("a", 3.0, 1L), ("a", 4.0, 1L),
      // heavy single value dominates
      ("b", 10.0, 100L), ("b", 99.0, 1L), ("b", -5.0, 2L),
      // all values equal (zero range → width fallback)
      ("c", 7.5, 3L), ("c", 7.5, 9L),
      // single row
      ("d", -3.25, 5L)
    )
    assert(run(rows) == brute(rows))
    // a null group key is a group of its own
    val nullKey = Seq(("a", 1.0, 1L), ("a", 3.0, 2L), (null, 2.0, 1L), (null, 5.0, 3L))
    assert(run(nullKey) == brute(nullKey))
    assert(run(nullKey) == Map("a" -> 3.0, (null: String) -> 5.0))
    assert(run(rows)("a") == 2.0) // lower median of {1,2,3,4} unit weights
    assert(run(rows)("b") == 10.0)
    assert(run(rows)("c") == 7.5)
    assert(run(rows)("d") == -3.25)
  }

  test("agrees with brute force on pseudorandom data at every bucket count") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(5000) { i =>
      (s"g${i % 4}", math.floor(rnd.nextDouble() * 10000) / 100.0,
        (rnd.nextInt(9) + 1).toLong)
    }
    val expect = brute(rows)
    // unit weights keep the values: the driver path, and the histogram
    // path when the budget is 0
    val unit = rows.map { case (g, v, _) => (g, v, 1L) }
    val unitExpect = brute(unit)
    assert(run(rows) == expect && run(unit) == unitExpect)
    // small bucket counts force multi-value resolve buckets
    for (nb <- Seq(4, 64, 1024)) {
      assert(viaKernel(rows, nb) == (expect, "histogram"), s"nBuckets=$nb")
      assert(viaKernel(unit, nb) == (unitExpect, "driver"), s"unit, nBuckets=$nb")
      assert(viaKernel(unit, nb, driverBytes = 0) == (unitExpect, "histogram"),
        s"unit, driverBytes=0, nBuckets=$nb")
    }
  }

  test("ignores null values and non-positive weights; caps group count") {
    val rows = Seq(("a", Some(1.0), 1L), ("a", None, 100L),
      ("a", Some(5.0), 0L), ("a", Some(3.0), 1L))
      .toDF("g", "v", "wt")
    val out = Summary.weightedMedian(rows, "g", "v", "wt")
      .as[(String, Double)].collect().toMap
    assert(out == Map("a" -> 1.0)) // weights {1.0→1, 3.0→1}: lower median 1.0
    val many = spark.range(0, OrderStats.MaxGroups + 1).select(col("id").cast("string").as("g"),
      col("id").cast("double").as("v"), lit(1L).as("wt"))
    intercept[IllegalArgumentException] {
      Summary.weightedMedian(many, "g", "v", "wt")
    }
  }

  test("benfordAudit: digit from integer cents, zero/sub-cent rows dropped, " +
    "chi2 parts from the round-6 shares") {
    // 1.23 → 123 → digit 1 (×2), 0.91 → 91 → digit 9, 0.004 → 0 dropped
    val rows = Seq(1.23, 19.0, 0.91, 0.004).toDF("v")
    val out = Summary.benfordAudit(rows, "v")
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) == Seq((1, 2L), (9, 1L)))
    val p1 = Summary.benfordShares.toMap.apply(1) // 0.301030
    val e1 = 3.0 * p1
    assert(out.head._3 == BigDecimal(e1)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out.head._4 == BigDecimal((2.0 - e1) * (2.0 - e1) / e1)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("abWelchT: hand-computed statistic; null values dropped") {
    // A = {1,3}: m=2, v=2; B = {2,6}: m=4, v=8 → sea=1, seb=4,
    // t = −2/√5 = −0.8944, df = 25/(1+16) = 1.4706
    val rows = Seq(("g", 0L, Some(1.0)), ("g", 0L, Some(3.0)),
      ("g", 1L, Some(2.0)), ("g", 1L, Some(6.0)), ("g", 0L, None))
      .toDF("grp", "u", "value")
    val out = Summary.abWelchT(rows, "grp", col("u"), "value")
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    assert(out == Seq(("g", 2L, 2L, 2.0, 4.0, -0.8944, 1.4706)))
  }

  test("mannWhitneyU: tied values get exact average ranks") {
    // sorted {1,2,3,3}: ranks 1,2,3.5,3.5 → S_A(1,3)=4.5, U_A=1.5,
    // U_B=2.5, z = −0.5/√(20/12) = −0.3873
    val rows = Seq(("g", 0L, 1.0), ("g", 0L, 3.0),
      ("g", 1L, 2.0), ("g", 1L, 3.0)).toDF("grp", "u", "value")
    val out = Summary.mannWhitneyU(rows, "grp", col("u"), "value")
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    assert(out == Seq(("g", 2L, 2L, 1.5, 2.5, -0.3873)))
  }

  test("timeDecayedScore: exact 2^-age weights, anchor = newest day, " +
    "age clamped at 30") {
    import java.sql.Timestamp
    // anchor day = 2020-01-03: u1 = 4·2^-2 + 8·2^0 = 9.0;
    // u2 is 40 days old → clamped to 30 → 2^30 · 2^-30 = 1.0
    val rows = Seq(
      (1L, Timestamp.valueOf("2020-01-01 06:00:00"), 4.0),
      (1L, Timestamp.valueOf("2020-01-03 01:00:00"), 8.0),
      (2L, Timestamp.valueOf("2019-11-24 12:00:00"), 1073741824.0)
    ).toDF("user_id", "ts", "value")
    val out = Summary.timeDecayedScore(rows, "user_id", "ts", "value")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 9.0), (2L, 1L, 1.0)))
  }
}
