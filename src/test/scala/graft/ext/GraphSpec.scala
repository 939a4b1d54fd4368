package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.util.DriverBudget
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank on a symmetric cycle is uniform and mass-conserving") {
    // 4-cycle, both directions: every node has degree 2 and identical
    // structure → rank stays exactly 1/N every iteration
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iterations = 3)
      .as[(Long, Double)].collect().toMap
    assert(r.size == 4)
    r.values.foreach(v => assert(math.abs(v - 0.25) < 1e-9, r))
  }

  test("pageRank concentrates rank on high-in-degree hubs") {
    // star: all leaves point at the hub; hub points at one leaf
    val edges = ((1L to 10L).map(i => (i, 0L)) :+ (0L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iterations = 3)
      .as[(Long, Double)].collect().toMap
    val hub = r(0L)
    ((2L to 10L)).foreach(i => assert(hub > r(i) * 5,
      s"hub ${hub} should dominate leaf ${r(i)}"))
    // node 1 (the hub's only out-target) outranks the other leaves
    assert(r(1L) > r(2L))
  }

  test("pageRank handles dangling nodes without diverging") {
    // 0 -> 1 -> 2, node 2 dangles (no out-edges): its mass leaks, ranks
    // stay finite and ordered by depth
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iterations = 3)
      .as[(Long, Double)].collect().toMap
    assert(r.size == 3)
    r.values.foreach(v => assert(v > 0 && v < 1))
    assert(r(2L) > r(1L) && r(1L) > r(0L))
  }

  test("mergeAggState equals a full recompute (sum/min/max)") {
    val a = spark.range(0, 500).select(
      (col("id") % 7).as("k"), col("id").as("v"))
    val b = spark.range(500, 900).select(
      (col("id") % 7).as("k"), col("id").as("v"))
    def state(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(
        count(lit(1)).cast("long").as("n"),
        sum("v").as("s"), min("v").as("lo"), max("v").as("hi"))
    val merged = LakeOps.mergeAggState(state(a), state(b), Seq("k"),
      how = Map("lo" -> "min", "hi" -> "max"))
    val full = state(a.unionByName(b))
    assert(merged.unionByName(full).distinct().count() == full.count(),
      "incremental state merge must equal the full recompute")
  }

  test("mergeAggState rejects non-distributive merges") {
    val st = spark.range(1).select(col("id").as("k"), col("id").as("avg_v"))
    intercept[IllegalArgumentException] {
      LakeOps.mergeAggState(st, st, Seq("k"), how = Map("avg_v" -> "avg"))
    }
  }

  test("triangleStats counts a known graph exactly") {
    // K4 on {0,1,2,3} (4 triangles) plus a pendant 3-4 (no new triangle)
    // and a separate triangle {5,6,7}
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L)))
      .toDF("src", "dst")
    val r = Graph.triangleCensus(edges, "src", "dst").head()
    assert(r.getAs[Long]("n_nodes") == 8)
    assert(r.getAs[Long]("n_edges") == 10)
    // wedges: K4 deg (3,3,3,4 with pendant) → 3+3+3+6 from {0..3}, node 4:
    // 0, triangle nodes: 1 each = 15 + 0 + 3 = 18
    assert(r.getAs[Long]("n_wedges") == 18)
    assert(r.getAs[Long]("n_triangles") == 5)
    assert(math.abs(r.getAs[Double]("transitivity") - 15.0 / 18.0) < 1e-6)
  }

  test("triangleStats is orientation-proof: duplicates, reversed and self edges") {
    // same triangle listed three ways + self loop + duplicate edge
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L), (1L, 2L))
      .toDF("src", "dst")
    val r = Graph.triangleCensus(edges, "src", "dst").head()
    assert(r.getAs[Long]("n_edges") == 3)
    assert(r.getAs[Long]("n_triangles") == 1)
  }

  test("triangleStats on a triangle-free star is zero with wedges present") {
    val edges = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    val r = Graph.triangleCensus(edges, "src", "dst").head()
    assert(r.getAs[Long]("n_wedges") == 10)
    assert(r.getAs[Long]("n_triangles") == 0)
    assert(r.getAs[Double]("transitivity") == 0.0)
  }

  test("kCore peels cascades: chain into a clique") {
    // path 10-11-12 hanging off K4 {0,1,2,3}: k=3 keeps exactly the K4
    // (the cascade must peel 12, then 11, then 10 — multi-round)
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((3L, 10L), (10L, 11L), (11L, 12L)))
      .toDF("src", "dst")
    val core = Graph.kCore(edges, "src", "dst", k = 3)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // k=5 on the same graph is empty; k=1 keeps everything
    assert(Graph.kCore(edges, "src", "dst", k = 5).count() == 0)
    assert(Graph.kCore(edges, "src", "dst", k = 1).count() == 7)
  }

  test("labelPropagation separates two cliques joined by one bridge") {
    // K4 {0..3} — bridge 3-10 — K4 {10..13}: CC would merge everything;
    // LPA must keep two communities (min label wins within each clique)
    val k4a = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val k4b = for { a <- 10L to 13L; b <- 10L to 13L if a < b } yield (a, b)
    val edges = (k4a ++ k4b ++ Seq((3L, 10L))).toDF("src", "dst")
    val comm = Graph.labelPropagation(edges, "src", "dst", rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(comm.size == 8)
    val cA = (0L to 3L).map(comm).toSet
    val cB = (10L to 13L).map(comm).toSet
    assert(cA.size == 1, s"clique A fragmented: $cA")
    assert(cB.size == 1, s"clique B fragmented: $cB")
    assert(cA != cB, "bridge must not merge the cliques")
  }

  test("labelPropagation: star is deterministic incl. the known bipartite oscillation") {
    // star: hub 5, leaves 1..4. Synchronous LPA oscillates on bipartite
    // structures: odd rounds → leaves hold 5 / hub holds 1 (min of the
    // leaf tie), even rounds → the reverse. Fixed rounds make the result
    // deterministic — this pins the exact phase for rounds = 3
    val edges = (1L to 4L).map(l => (5L, l)).toDF("src", "dst")
    val comm = Graph.labelPropagation(edges, "src", "dst", rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert((1L to 4L).forall(comm(_) == 5L))
    assert(comm(5L) == 1L)
  }

  test("commonNeighborTopK: hand-computed wedges, edges excluded, dup-safe") {
    // triangle 1-2-3 plus 1-4, 4-5: non-edges with a common neighbor are
    // (2,4)/(3,4) via 1 and (1,5) via 4 — each cn=1; edge (2,3) excluded
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val top = Graph.commonNeighborTopK(edges, "src", "dst", topK = 10)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    val asMap = top.map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(asMap.keySet == Set((1L, 5L), (2L, 4L), (3L, 4L)))
    // deg(2)=2, deg(4)=2, cn=1 → jaccard 1/3
    assert(asMap((2L, 4L)) == ((1L, 2L, 2L)))
    val j24 = top.find(r => (r._1, r._2) == ((2L, 4L))).get._6
    assert(math.abs(j24 - 1.0 / 3.0) < 1e-12)
    // duplicated input edges must not double-count wedges
    val dup = Graph.commonNeighborTopK(
      edges.union(edges), "src", "dst", topK = 10)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(dup.map(r => (r._1, r._2, r._3)).toSet ==
      top.map(r => (r._1, r._2, r._3)).toSet)
    // ranking: adding 6 adjacent to 2 and 4 lifts (2,4) to cn=2 via {1,6}
    // AND creates (1,6) with cn=2 via {2,4}; the (cn desc, a, b) tie-break
    // puts (1,6) first
    val more = edges.union(Seq((2L, 6L), (4L, 6L)).toDF("src", "dst"))
    val top2 = Graph.commonNeighborTopK(more, "src", "dst", topK = 2)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(top2.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1L, 6L, 2L), (2L, 4L, 2L)))
  }

  test("commonNeighborTopK: maxDegree drops super-hub centers") {
    // star around 0 (degree 4) — every leaf pair is a candidate via 0;
    // capping below the hub degree leaves no wedge centers at all
    val edges = (1L to 4L).map(i => (0L, i)).toDF("src", "dst")
    assert(Graph.commonNeighborTopK(edges, "src", "dst", 10).count() == 6)
    assert(
      Graph.commonNeighborTopK(edges, "src", "dst", 10, maxDegree = 3)
        .count() == 0)
  }

  /** Sorted row renders of every driver fast path's operator on one edge
    * list, run with the given driver byte budget (0 = the distributed
    * plans).
    */
  private def graphOps(es: Seq[(Long, Long)], budget: Long): Seq[(String, Seq[String])] =
    DriverBudget.withBytes(budget) {
      val edges = es.toDF("src", "dst")
      def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      Seq(
        "pageRank" -> Graph.pageRank(edges, "src", "dst", iterations = 3),
        "kCore" -> Graph.kCore(edges, "src", "dst", k = 2),
        "labelPropagation" -> Graph.labelPropagation(edges, "src", "dst", 3),
        "triangleCensus" -> Graph.triangleCensus(edges, "src", "dst"),
        "commonNeighborTopK" -> Graph.commonNeighborTopK(edges, "src", "dst",
          topK = 25),
        "clusterIds" -> Dedup.clusterIds(es.toDF("id_a", "id_b"))
      ).map { case (op, df) => op -> sortedRows(df) }
    }

  private val degenerateGraphs: Seq[(String, Seq[(Long, Long)])] = Seq(
    "empty" -> Nil,
    "single edge" -> Seq((1L, 2L)),
    "perfect matching" -> (0L until 5L).map(i => (2 * i, 2 * i + 1)),
    "self-loops only" -> Seq((1L, 1L), (2L, 2L), (3L, 3L)),
    "duplicate and reversed edges" ->
      Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 3L)),
    "star hub" -> (1L to 12L).map(i => (0L, i)),
    "two components" -> Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L), (10L, 12L)))

  private val randomGraphs: Gen[Seq[(Long, Long)]] = for {
    nodes <- Gen.choose(2L, 80L)
    m <- Gen.choose(1, 400)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, nodes - 1), Gen.choose(0L, nodes - 1)))
  } yield es

  test("driver fast paths equal the distributed plans on generated graphs") {
    // the default budget takes the driver paths, a zero budget the
    // distributed plans — every operator must give the same sorted rows
    def differ(es: Seq[(Long, Long)]): Seq[String] =
      graphOps(es, DriverBudget.bytes).zip(graphOps(es, 0L)).collect {
        case ((op, onDriver), (_, distributed)) if onDriver != distributed =>
          s"$op: driver $onDriver vs distributed $distributed"
      }
    val failing = degenerateGraphs
      .map { case (name, es) => name -> differ(es) }.filter(_._2.nonEmpty)
    assert(failing.isEmpty, failing.mkString("\n"))
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(6)
        .withInitialSeed(Seed(42L)).withWorkers(1),
      Prop.forAllNoShrink(randomGraphs) { es =>
        val d = differ(es)
        Prop(d.isEmpty) :| s"$es: $d"
      })
    assert(result.passed, Pretty.pretty(result))
  }
}
