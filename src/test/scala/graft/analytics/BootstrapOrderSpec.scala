package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The driver-side bootstrap resamples by index into each collected
  * column, so the same rows in another order (as a shuffle join may write
  * them) must still give the same output rows for the same seed.
  */
class BootstrapOrderSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("a", DoubleType), StructField("b", DoubleType)))

  private def frame(rows: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  test("same rows in two orders give identical bootstrap rows") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 400).map { i =>
      Row(rnd.nextGaussian() * 10.0,
        if (i % 7 == 0) null else rnd.nextInt(50).toDouble)
    }
    val shuffled = new scala.util.Random(4).shuffle(rows)
    val a = Bootstrap(spark, frame(rows, 1), nSim = 300, seed = 11L)
      .collect().sortBy(_.getString(0)).toSeq
    val b = Bootstrap(spark, frame(shuffled, 3), nSim = 300, seed = 11L)
      .collect().sortBy(_.getString(0)).toSeq
    assert(a.map(_.getString(0)) == Seq("a", "b"))
    assert(a == b)
  }
}
