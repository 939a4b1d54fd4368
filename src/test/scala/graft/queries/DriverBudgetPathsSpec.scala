package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.util.DriverBudget

/** Every registered query that reaches a two-path gate of the one driver
  * byte budget ([[DriverBudget]]: the `DriverGraph` read, the
  * `beamRecallCurve` vector read, `OrderStats` pass 1) returns the same
  * rows on both sides of it: at sf0.001 once with the default budget (the
  * driver paths) and once under a zero budget (the distributed paths),
  * compared as row multisets of exact renders. The list is every query
  * that asks the budget while it runs.
  */
class DriverBudgetPathsSpec extends SparkSpec {

  private val gated = Seq(
    "q07_median_quantiles", "q08_iqr_clip", "q09_median_fill", "q43_describe",
    "q49_clean_pipeline", "q71_fa_moments", "q77_semantic_dedup",
    "q98_approx_quantile_pin", "q99_pagerank", "q117_triangle_census",
    "q125_weighted_median", "q135_kcore", "q143_canonical_selection",
    "q151_equal_freq_binning", "q162_triangle_census",
    "q224_label_propagation", "q228_link_prediction", "q258_graph_ann_beam",
    "q261_link_graph_pagerank")

  private def rows(name: String): Map[String, Int] =
    SparkEntry.queries(name)(spark, sfDir()).collect().toSeq
      .groupMapReduce(_.toString)(_ => 1)(_ + _)

  test("the gated list names registered queries") {
    assert(gated.forall(SparkEntry.queries.contains))
  }

  test("the shared gate-and-read is a byte edge, and a zero budget reads nothing") {
    val df = spark.range(10).toDF()
    val row = DriverBudget.rowBytes(1)
    def read(budget: Long) =
      DriverBudget.withBytes(budget)(DriverBudget.collect(df, row)).map(_.length)
    assert(DriverBudget.collect(df, row).map(_.length) == Some(10))
    assert(read(10 * row) == Some(10))
    assert(read(10 * row - 1).isEmpty)
    assert(read(0L).isEmpty)
  }

  gated.foreach { name =>
    test(s"$name: the default budget and a zero budget give the same rows") {
      val driver = rows(name)
      val distributed = DriverBudget.withBytes(0L)(rows(name))
      assert(driver.nonEmpty)
      assert(driver == distributed,
        s"only on the driver path: ${driver.toSet -- distributed.toSet}; " +
          s"only on the distributed path: ${distributed.toSet -- driver.toSet}")
    }
  }
}
