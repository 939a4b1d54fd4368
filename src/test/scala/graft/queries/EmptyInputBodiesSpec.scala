package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The query bodies that once computed their answer with eager actions
  * (q17, q56, q21, q38, q46) keep well-defined answers on empty tables.
  * The inputs are schema-preserving empty copies of the sf0.001 tables,
  * written to a temp dir.
  */
class EmptyInputBodiesSpec extends SparkSpec {

  private val tmp = java.nio.file.Files.createTempDirectory("graft-empty-tables")

  private lazy val dir: String = {
    for (name <- Seq("orders", "customer", "lineitem", "events", "documents"))
      spark.read.parquet(s"${sfDir()}/$name.parquet").limit(0)
        .write.parquet(s"$tmp/$name.parquet")
    tmp.toString
  }

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    finally super.afterAll()

  private def run(name: String) = SparkEntry.queries(name)(spark, dir).collect()

  test("q17 and q56 on empty tables: one row of zeros") {
    for (name <- Seq("q17_set_ops", "q56_semi_anti_join")) {
      val rows = run(name)
      assert(rows.map(_.toSeq).toSeq == Seq(Seq(0L, 0L, 0L)), name)
    }
  }

  test("q21 on an empty lineitem: no column passes the variance cut") {
    assert(run("q21_low_variance_filter").isEmpty)
  }

  test("q38 on empty events: zero inversions, no backstep, zero events") {
    val rows = run("q38_out_of_order_census")
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) == 0L && r.isNullAt(1) && r.getLong(2) == 0L, r)
  }

  test("q46 on an empty corpus: the all-zero funnel row, and two runs " +
    "leave no entry in the cache manager") {
    spark.catalog.clearCache()
    for (_ <- 1 to 2) {
      val rows = run("q46_curation_pipeline")
      assert(rows.length == 1)
      val r = rows.head
      assert((0 until 5).map(r.getLong) == Seq(0L, 0L, 0L, 0L, 0L), r)
      assert(r.getDouble(5) == 0.0, r)
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
