package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Graph-based ANN: graph-build invariants, beam-search semantics, and
  * the recall/operating-curve behavior of the q258 family.
  */
class GraphAnnSpec extends SparkSpec {

  private lazy val e =
    spark.read.parquet(s"${sfDir()}/embeddings.parquet")

  test("exact graph: degree cap holds, no self-edges, deterministic") {
    val g = Similarity.knnGraphExact(e, "vec_id", "embedding", degree = 6)
      .cache()
    val deg = g.groupBy("s").agg(count(lit(1)).as("d"))
    assert(deg.filter(col("d") =!= 6).count() == 0) // every node capped
    assert(g.filter(col("s") === col("d")).count() == 0)
    // deterministic: second build is identical
    val g2 = Similarity.knnGraphExact(e, "vec_id", "embedding", degree = 6)
    assert(g.exceptAll(g2).count() == 0 && g2.exceptAll(g).count() == 0)
    g.unpersist()
  }

  test("beam search: widening the beam never shrinks the result set " +
    "quality on the fixture (recall curve is monotone here)") {
    val graph = Similarity.knnGraphExact(e, "vec_id", "embedding", 6)
      .localCheckpoint()
    val curve = Similarity.beamRecallCurve(e, "vec_id", "embedding",
        graph, col("vec_id") < 20, k = 10, efs = Seq(2, 4, 8), hops = 4,
        entryId = 0L)
      .orderBy("beam_width").collect()
    val rec = curve.map(_.getAs[Double]("recall_at_k"))
    assert(rec(0) <= rec(1) && rec(1) <= rec(2),
      s"curve not monotone on fixture: ${rec.mkString(",")}")
    assert(rec(2) > 0.3, s"ef=8 recall implausibly low: ${rec(2)}")
    // recall is a proper fraction of n_queries * k
    assert(rec.forall(r => r >= 0.0 && r <= 1.0))
  }

  test("beam results: k per query max, query never its own neighbor, " +
    "results are graph-reachable within hops of the entry") {
    val graph = Similarity.knnGraphExact(e, "vec_id", "embedding", 6)
      .localCheckpoint()
    val res = Similarity.beamSearchTopK(e, "vec_id", "embedding", graph,
      col("vec_id") < 10, k = 10, ef = 8, hops = 4, entryId = 0L).cache()
    assert(res.filter(col("q") === col("v")).count() == 0)
    val perQ = res.groupBy("q").agg(count(lit(1)).as("n"))
    assert(perQ.filter(col("n") > 10).count() == 0)
    // reachability: BFS from the entry within `hops` covers every result
    val edges = graph.collect().map(r => r.getLong(0) -> r.getLong(1))
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var frontier = Set(0L)
    var seen = Set(0L)
    for (_ <- 1 to 4) {
      frontier = frontier.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
        .diff(seen)
      seen = seen ++ frontier
    }
    val resultIds = res.select("v").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(resultIds.subsetOf(seen),
      s"unreachable ids in results: ${resultIds.diff(seen).take(5)}")
    res.unpersist()
  }

  test("native qdist_l2 is bit-identical to the composable HOF twin, " +
    "including null/mismatch degenerate cases") {
    import spark.implicits._
    val rows = Seq(
      (Seq(0L, 3L, -5L), Seq(4L, 0L, 5L)),
      (Seq(1000L, -1000L, 0L), Seq(-1000L, 1000L, 1L)),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L, 2L), Seq(1L, 2L, 3L)), // length mismatch -> null
      (null, Seq(1L)), // null side -> null
      (Seq(7L), null)
    ).toDF("a", "b")
    val cmp = rows.select(
      Similarity.qdistL2(col("a"), col("b")).as("native"),
      ScoringTwins.qdistL2Composable(col("a"), col("b")).as("hof"))
    assert(cmp.filter(not(col("native") <=> col("hof"))).count() == 0)
    // and on real quantized embedding pairs
    val v = e.limit(50).select(col("vec_id"),
      Similarity.quantVec(col("embedding")).as("_q"))
    val p = v.select(col("vec_id").as("ia"), col("_q").as("qa"))
      .crossJoin(v.select(col("vec_id").as("ib"), col("_q").as("qb")))
    val diff = p.select(
      Similarity.qdistL2(col("qa"), col("qb")).as("native"),
      ScoringTwins.qdistL2Composable(col("qa"), col("qb")).as("hof"))
      .filter(not(col("native") <=> col("hof")))
    assert(diff.count() == 0)
  }

  test("packed top-k graph build == windowed definition (same (qd, d) " +
    "order, same edge set)") {
    val g = Similarity.knnGraphExact(e, "vec_id", "embedding", degree = 6)
    // re-derive via the bare window definition over the composable distance
    val v = e.select(col("vec_id").as("s"),
      Similarity.quantVec(col("embedding")).as("_vs"))
    val w = e.select(col("vec_id").as("d"),
      Similarity.quantVec(col("embedding")).as("_vd"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("s").orderBy(col("_qd"), col("d"))
    val ref = v.crossJoin(w).filter(col("s") =!= col("d"))
      .withColumn("_qd", ScoringTwins.qdistL2Composable(col("_vs"), col("_vd")))
      .withColumn("_rn", row_number().over(win))
      .filter(col("_rn") <= 6)
      .select("s", "d")
    assert(g.exceptAll(ref).count() == 0 && ref.exceptAll(g).count() == 0)
  }

  test("bucketed production graph is degree-capped and self-free") {
    val g = Similarity.knnGraphBucketed(e, "vec_id", "embedding",
      degree = 6, dim = 64, nBits = 8, probeHamming = 1, portable = true)
      .cache()
    assert(g.filter(col("s") === col("d")).count() == 0)
    val deg = g.groupBy("s").agg(count(lit(1)).as("d"))
    assert(deg.filter(col("d") > 6).count() == 0)
    // bucketed build finds most nodes some neighbors on this corpus
    assert(g.select("s").distinct().count() >
      e.count() / 2, "bucketed graph lost most nodes")
    g.unpersist()
  }
}
