package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's own arithmetic, pinned on fixed inputs. */
class ArithmeticSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("tail: highest percentile with at least 10 samples above it") {
    val xs = (1 to 40).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.value == 30.0)
    assert(t.above == 10)
    assert(t.n == 40)
    assert(t.percentile == 75.0)
    // order of the samples does not matter
    assert(Stats.tail(xs.reverse) == t)
  }

  test("tail: 30 samples give p66.7, the 20th smallest") {
    val t = Stats.tail((1 to 30).map(_ * 0.1))
    assert(math.abs(t.value - 2.0) < 1e-12)
    assert(math.abs(t.percentile - 200.0 / 3) < 1e-9)
    assert(t.above == 10)
  }

  test("tail: too few samples for a percentile above the median gives the max") {
    for (n <- Seq(1, 5, 11, 19, 20)) {
      val t = Stats.tail((1 to n).map(_.toDouble))
      assert(t.value == n.toDouble, s"n=$n")
      assert(t.above == 0)
      assert(t.percentile == 100.0)
    }
    // n = 21: rank 11 is the first rank above the median with 10 above it
    val t21 = Stats.tail((1 to 21).map(_.toDouble))
    assert(t21.value == 11.0 && t21.above == 10)
    assert(math.abs(t21.percentile - 1100.0 / 21) < 1e-9)
  }

  test("union length counts overlaps once and ignores empty intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
    assert(Stats.unionLength(Nil) == 0L)
  }

  test("uncovered time clips inner intervals to the window") {
    // clipped to (0,20), (50,60), (90,100): 40 ms covered
    assert(Stats.uncovered(0L, 100L, Seq((-10L, 20L), (50L, 60L), (90L, 200L))) == 60L)
    assert(Stats.uncovered(0L, 100L, Nil) == 100L)
    assert(Stats.uncovered(0L, 100L, Seq((0L, 100L))) == 0L)
  }

  test("span self time subtracts the union of its children") {
    val spans = Seq(
      Span(1, 0, 1, "op", 0, 100),
      Span(2, 1, 1, "queries.construct", 0, 60),
      Span(3, 1, 1, "exec.run", 60, 100),
      Span(4, 2, 1, "ext.job", 10, 30),
      Span(5, 2, 1, "ext.job", 20, 40),
      Span(6, 3, 1, "none.job", 65, 95))
    val self = Spans.selfTimes(spans)
    assert(self(1) == 0L)
    assert(self(2) == 30L) // 60 minus the 30 ms the two jobs cover together
    assert(self(3) == 10L)
    assert(self(4) == 20L && self(6) == 30L)
    // overlapping siblings each keep their own self time
    assert(Spans.selfTimeByName(spans) == Map("op" -> 0L, "queries.construct" -> 30L,
      "exec.run" -> 10L, "ext.job" -> 40L, "none.job" -> 30L))
  }

  test("stage tiles run from one write end to the next and sum to the wall") {
    val stages = Seq("a", "b", "c")
    val tiles = Spans.tile(100L, 200L, stages, Map("a" -> 130L, "b" -> 170L, "c" -> 190L))
    assert(tiles == Seq(("a", 100L, 130L), ("b", 130L, 170L), ("c", 170L, 200L)))
    assert(tiles.map(t => t._3 - t._2).sum == 100L)
  }

  test("a stage whose write was not seen gets an empty tile; tiles stay within the run") {
    val tiles = Spans.tile(0L, 50L, Seq("a", "b", "c"), Map("a" -> 20L, "c" -> 45L))
    assert(tiles == Seq(("a", 0L, 20L), ("b", 20L, 20L), ("c", 20L, 50L)))
    val late = Spans.tile(0L, 50L, Seq("a", "b"), Map("a" -> 80L))
    assert(late == Seq(("a", 0L, 50L), ("b", 50L, 50L)))
  }

  test("call sites are attributed to the first graft frame's module") {
    val long = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3800)",
      "graft.ext.Graph$.pageRank(Graph.scala:120)",
      "graft.queries.LakeQueries$.$anonfun$defs$5(LakeQueries.scala:515)",
      "perfbench.Main$.callQuery(Main.scala:84)").mkString("\n")
    assert(CallSites.module(long) == "ext")
    assert(CallSites.module("graft.analytics.Summary$.exactPercentilesHist(Summary.scala:10)\n" +
      "graft.etl.Cleaning$.clean(Cleaning.scala:3)") == "analytics")
    assert(CallSites.module("graft.Pipeline$.run(Pipeline.scala:77)") == "graft")
    assert(CallSites.module("perfbench.Main$.callQuery(Main.scala:86)") == "none")
    assert(CallSites.module("") == "none")
    assert(CallSites.module(null) == "none")
  }

  test("table-open jobs are recognised by the reader method in the short call site") {
    assert(CallSites.isTableOpen("parquet at QueryDef.scala:24"))
    assert(CallSites.isTableOpen("csv at Layers.scala:30"))
    assert(!CallSites.isTableOpen("collect at Graph.scala:120"))
    assert(!CallSites.isTableOpen("save at Main.scala:86"))
    assert(!CallSites.isTableOpen("parquet"))
    assert(!CallSites.isTableOpen(null))
  }

  test("fingerprint hash is order-independent and sees duplicates and changes") {
    val rows = Seq(11L, -5L, 42L, 42L, Long.MinValue)
    val h = Fingerprint.combine(rows.iterator)
    assert(Fingerprint.combine(rows.reverse.iterator) == h)
    assert(Fingerprint.combine(scala.util.Random.shuffle(rows).iterator) == h)
    assert(Fingerprint.combine(rows.distinct.iterator) != h)
    assert(Fingerprint.combine((rows.init :+ 43L).iterator) != h)
    assert(Fingerprint.combine(Iterator.empty) == 0L)
    // a fixed value pins the mixing function itself
    assert(Fingerprint.combine(Iterator(0L)) == Fingerprint.mix(0L))
    assert(Fingerprint.mix(0L) == -2152535657050944081L)
  }

  test("fingerprint match: exact rows and hash, profiled sums within tolerance") {
    val e = Fp(10, 7L, Seq("x" -> 100.0, "y" -> 0.0))
    assert(Fingerprint.matches(e, Fp(10, 7L, Seq("x" -> 104.0, "y" -> 0.0)), 0.05))
    assert(!Fingerprint.matches(e, Fp(10, 7L, Seq("x" -> 106.0, "y" -> 0.0)), 0.05))
    assert(!Fingerprint.matches(e, Fp(11, 7L, Seq("x" -> 100.0, "y" -> 0.0)), 0.05))
    assert(!Fingerprint.matches(e, Fp(10, 8L, Seq("x" -> 100.0, "y" -> 0.0)), 0.05))
    assert(!Fingerprint.matches(e, Fp(10, 7L, Seq("x" -> 100.0)), 0.05))
    assert(Fp.parse(e.render.split("\t").toSeq) == e)
  }
}
