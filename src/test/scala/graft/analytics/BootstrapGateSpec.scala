package graft.analytics

import graft.SparkSpec
import graft.util.DriverBudget
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The bootstrap's gate-and-read: which path a frame takes, what the driver
  * path fills and skips, and its output rows on the golden merged fixture.
  */
class BootstrapGateSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("a", DoubleType), StructField("b", DoubleType)))

  /** One partition, so the Poisson path's draw stream is deterministic. */
  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private def rows(df: DataFrame): Seq[Row] = df.collect().sortBy(_.getString(0)).toSeq

  private def poisson(df: DataFrame, nSim: Int, seed: Long): Seq[Row] = {
    val cols = df.columns.toSeq
    rows(Bootstrap.poisson(spark, Bootstrap.medianFill(df, cols), cols, nSim, seed))
  }

  test("monte_carlo_results on the golden merged fixture, bit for bit") {
    // Bootstrap(spark, merged) as Pipeline.run calls it at this size
    // (nSim 5000, seed 42): rows recorded from the per-column-collect
    // driver path the gate-and-read replaced
    val merged = spark.read.parquet(golden("merged_data.parquet"))
    val want = Seq(
      ("accident_count", 5.2444, 0.0106, 5.2233, 5.2649),
      ("avg_speed_kmh", 57.1726, 0.1122, 56.9512, 57.3891),
      ("humidity", 60.6616, 0.0803, 60.5021, 60.8181),
      ("temperature_c", 12.9537, 0.0275, 12.8973, 13.0062),
      ("traffic_id", 11506.8702, 4.452, 11498.1235, 11515.5418),
      ("vehicle_count", 2791.8337, 5.6896, 2780.3777, 2802.8356),
      ("visibility_m_traffic", 5622.8515, 11.3192, 5600.0203, 5644.6907),
      ("weather_id", 7506.0526, 4.4451, 7497.3425, 7514.6951))
    val got = rows(Bootstrap(spark, merged))
    assert(got.map(_.getString(0)) == want.map(_._1))
    got.zip(want).foreach { case (r, (c, mean, std, lo, hi)) =>
      Seq(mean, std, lo, hi, 5000.0).zipWithIndex.foreach { case (v, i) =>
        assert(java.lang.Double.compare(r.getDouble(i + 1), v) == 0,
          s"$c column ${i + 1}: ${r.getDouble(i + 1)} vs $v")
      }
    }
  }

  test("gate edges: driverRowLimit rows stay on the driver, one more goes to Poisson") {
    val rnd = new scala.util.Random(7)
    val in = frame((1 to 50).map(i => Row(rnd.nextGaussian(),
      if (i % 5 == 0) null else rnd.nextInt(9).toDouble)))
    val driver = rows(Bootstrap(spark, in, nSim = 200, seed = 3L))
    assert(driver.map(_.getString(0)) == Seq("a", "b"))
    // the budget holds 50 rows of the two target columns exactly, then 49
    val rowBytes = DriverBudget.rowBytes(2)
    assert(DriverBudget.withBytes(50 * rowBytes)(
      rows(Bootstrap(spark, in, nSim = 200, seed = 3L))) == driver)
    val distributed = DriverBudget.withBytes(49 * rowBytes)(
      rows(Bootstrap(spark, in, nSim = 200, seed = 3L)))
    assert(distributed == poisson(in, 200, 3L))
    assert(distributed != driver)
  }

  test("the driver fills nulls with the kernel's exact median (±0.0 and ties included)") {
    val vals = Seq(-0.0, 0.0, 2.0, -0.0, 2.0, 1e6, -3.0, 0.0) ++
      (1 to 30).map(i => (i % 7 - 3).toDouble)
    val in = frame(vals.zipWithIndex.map { case (v, i) =>
      Row(if (i % 3 == 0) null else v, if (i % 4 == 1) null else -v)
    })
    val prefilled = Summary.fillMedians(in, Seq("a", "b"))
    assert(prefilled.filter(col("a").isNull || col("b").isNull).isEmpty)
    assert(rows(Bootstrap(spark, in, nSim = 300, seed = 5L)) ==
      rows(Bootstrap(spark, prefilled, nSim = 300, seed = 5L)))
  }

  test("a column of at most 20 values and an all-null column are skipped") {
    // the driver path counts values; the Poisson path skips a column
    // whose replicate weights all stay at most 20, so only the all-null
    // column is skipped there for sure
    val twenty = frame((1 to 20).map(i => Row(i.toDouble, null)))
    assert(Bootstrap(spark, twenty, nSim = 50).isEmpty)
    val more = frame((1 to 21).map(i => Row(i.toDouble, null)))
    assert(rows(Bootstrap(spark, more, nSim = 50)).map(_.getString(0)) == Seq("a"))
    assert(DriverBudget.withBytes(0L)(rows(Bootstrap(spark, more, nSim = 50)))
      .map(_.getString(0)) == Seq("a"))
  }
}
