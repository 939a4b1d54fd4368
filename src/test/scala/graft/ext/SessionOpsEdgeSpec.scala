package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.util.DriverBudget

/** Degenerate-input behavior of the round-3 continuation operators:
  * empty inputs, null payloads, and k-larger-than-data must neither throw
  * nor return wrong shapes.
  */
class SessionOpsEdgeSpec extends SparkSpec {
  import spark.implicits._

  test("triangleStats: empty and single-edge graphs") {
    // both paths (default and zero driver budget): the empty graph
    // counts 0 everywhere, and a graph without wedges (one edge, a
    // matching) has a null ratio, as Spark's x/0 is null
    val graphs = Seq(
      Seq.empty[(Long, Long)] -> (0L, 0L),
      Seq((1L, 2L)) -> (2L, 1L),
      Seq((1L, 2L), (3L, 4L)) -> (4L, 2L))
    for (((es, (nodes, nEdges)), budget) <-
        graphs.flatMap(g => Seq(g -> DriverBudget.bytes, g -> 0L))) {
      val r = DriverBudget.withBytes(budget) {
        Graph.triangleCensus(es.toDF("src", "dst"), "src", "dst").head()
      }
      val at = s"$es, budget $budget: $r"
      // getAs[Any]: a null count must not unbox to 0
      assert(Seq("n_nodes", "n_edges", "n_wedges", "n_triangles")
        .map(r.getAs[Any](_)) == Seq(nodes, nEdges, 0L, 0L), at)
      assert(r.isNullAt(r.fieldIndex("transitivity")), at)
    }
  }

  test("degreeAssortativity: regular graph has zero-variance degrees") {
    // 4-cycle: every degree is 2 → denominator 0 → null (no correlation
    // defined), never a crash or an Inf
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
    val r = Graph.degreeAssortativity(edges, "src", "dst").head()
    assert(r.getAs[Long]("n_edges") == 4)
    assert(r.isNullAt(r.fieldIndex("assortativity")))
  }

  test("scd2 on an empty feed returns an empty, correctly-shaped dimension") {
    val feed = Seq.empty[(Long, Long, String)].toDF("k", "seq", "attr")
    val dim = LakeOps.scd2(feed, Seq("k"), Seq("seq"), Seq("attr"))
    assert(dim.count() == 0)
    assert(dim.columns.toSet.contains("version_no") &&
      dim.columns.toSet.contains("is_current"))
  }

  test("scd2Merge with an empty increment is an exact identity") {
    val feed = Seq((1L, 1L, "A"), (1L, 2L, "B")).toDF("k", "seq", "attr")
    val dim = LakeOps.scd2(feed, Seq("k"), Seq("seq"), Seq("attr"))
    val merged = LakeOps.scd2Merge(dim, feed.limit(0),
      Seq("k"), Seq("seq"), Seq("attr"))
    val proj = (d: org.apache.spark.sql.DataFrame) =>
      d.select("k", "version_no", "attr", "effective_to", "is_current")
        .as[(Long, Long, String, Option[Long], Boolean)].collect().toSeq.sorted
    assert(proj(merged) == proj(dim))
  }

  test("prioritySample: k beyond the data returns everything, ordered") {
    val rows = spark.range(0, 5).select(col("id"), lit(3L).as("w"))
    val out = Sampling.prioritySample(rows, "id", "w", 100)
    assert(out.count() == 5)
  }

  test("int8QuantizationCensus drops null and empty vectors") {
    val rows = Seq(
      (1L, Some(Seq(0.0f, 0.5f, 1.0f))),
      (2L, Some(Seq.empty[Float])),
      (3L, None)
    ).toDF("vec_id", "embedding")
    val out = Similarity.int8QuantizationCensus(rows, "vec_id", "embedding")
    val ids = out.select("vec_id").as[Long].collect().toSeq
    assert(ids == Seq(1L))
    val r = out.head()
    assert(r.getAs[Long]("n_dims") == 3 && r.getAs[Long]("max_q") == 255)
    // exact [0,1] range: codes 0/128/255, near-zero reconstruction error
    assert(r.getAs[Double]("total_abs_err") < 1e-2)
  }

  test("collocationsByLift: empty corpus and all-below-minCount are empty") {
    val empty = Seq.empty[String].toDF("text")
    assert(Curation.collocationsByLift(empty, "text").count() == 0)
    val tiny = Seq("alpha beta", "gamma delta").toDF("text")
    assert(Curation.collocationsByLift(tiny, "text",
      minPairCount = 5L).count() == 0)
    // and with minCount 1 the bigrams surface with lift computed
    assert(Curation.collocationsByLift(tiny, "text",
      minPairCount = 1L).count() == 2)
  }

  test("qualityRules on an empty table reports zero rows, null pct") {
    val empty = Seq.empty[(Long, Double)].toDF("k", "v")
    val out = Curation.qualityRules(empty, Seq("neg" -> (col("v") < 0)))
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("n_rows") == 0 &&
      out.head.getAs[Long]("n_violations") == 0)
  }
}
