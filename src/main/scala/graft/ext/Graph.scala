package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Iterative graph analytics over edge DataFrames. Complements
  * [[Dedup.clusterIds]] (min-label propagation) with rank-style
  * fixpoints.
  *
  * Scale design: one shuffle per iteration (the contribution aggregate on
  * dst) plus an equi-join of edges against the current ranks — the Pregel
  * cost shape; lineage is truncated per round with localCheckpoint (same
  * pattern as clusterIds) so the plan does not grow with the
  * iteration count. Degrees are computed once and reused.
  *
  * Every fixpoint operator (all but `degreeAssortativity`) first tries
  * [[DriverGraph]]: an edge list within the one driver byte budget
  * ([[graft.util.DriverBudget]]) runs the same fixpoint on the driver.
  */
object Graph {

  /** Fixed-iteration PageRank over a directed edge list.
    *
    * Engine-portable determinism (the q99 oracle runs the identical
    * computation unrolled in DuckDB): each edge's contribution
    * rank/degree is routed through DECIMAL(28,12) so the in-neighbor sum
    * is order-independent, and the damping update
    * `(1-d)/N + d·sum` is a fixed sequence of correctly-rounded IEEE
    * double ops (both engines evaluate `1.0 - d` in doubles).
    *
    * Dangling nodes (no out-edges) are supported as rank SINKS — their
    * mass leaks, as in the uncorrected original formulation; the damping
    * term keeps ranks bounded. Nodes with no in-edges settle at the base
    * (1-d)/N.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 3,
      damping: Double = 0.85,
      assumeDistinct: Boolean = false,
      broadcastRanksBelow: Long = 4000000L
  ): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    // pass assumeDistinct=true when the caller already deduplicated (e.g.
    // mirrored a distinct pair list) — skips a full-edge-list shuffle
    val e = if (assumeDistinct) e0 else e0.distinct().localCheckpoint(true)
    // the fixpoint state is |nodes| doubles + |edges| ints: within the
    // driver gate the same arithmetic runs there instead of ~4 jobs, one
    // broadcast build and one checkpoint per iteration
    DriverGraph.collect(e) match {
      case Some(g) =>
        val k = g.n
        val deg = new Array[Long](k)
        var p = 0
        while (p < g.m) { deg(g.src(p)) += 1; p += 1 }
        val n = k.toLong
        var r = Array.fill(k)(1.0 / n)
        val base = (1.0 - damping) / n
        for (_ <- 1 to iterations) {
          // per-NODE contribution, Spark's Cast(double → DECIMAL(28,12))
          // replayed: BigDecimal.valueOf(d).setScale(12, HALF_UP), carried
          // as a scaled long (exact: r/deg ≤ 1 and the ranks sum to ≤ 1)
          val c = new Array[Long](k)
          var i = 0
          while (i < k) {
            if (deg(i) > 0)
              c(i) = java.math.BigDecimal.valueOf(r(i) / deg(i))
                .setScale(12, java.math.RoundingMode.HALF_UP)
                .unscaledValue().longValueExact()
            i += 1
          }
          val s = new Array[Long](k)
          p = 0
          while (p < g.m) { s(g.dst(p)) += c(g.src(p)); p += 1 }
          // Decimal(38,12).toDouble == BigDecimal(unscaled, 12).doubleValue
          r = Array.tabulate(k)(i =>
            base + damping * java.math.BigDecimal.valueOf(s(i), 12).doubleValue())
        }
        return DriverGraph.frame(edges.sparkSession,
          Seq.tabulate(k)(i => Row(g.ids(i), r(i))),
          "node" -> LongType, "r" -> DoubleType)
      case None =>
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    // n collected ONCE (nodes is already materialized, so this is a
    // metadata-cheap job) — (1-d)/n and 1/n inline as literals with the
    // identical long->double division, and the node count doubles as the
    // broadcast gate below
    val n = nodes.count()
    val deg = e.groupBy("src").agg(count(lit(1)).cast("long").as("deg"))
    // the only full-edge-list materialization: (src, dst, deg) reused by
    // every iteration's contribution join
    val eDeg = e.join(deg, "src").localCheckpoint(true)
    // r11: the per-iteration rank tables are |nodes|-sized — far below
    // broadcast range on any graph whose rank vector a driver MM could
    // hold anyway. Broadcasting them keeps the edge list UNSHUFFLED in
    // the contribution join (map-side BHJ + partial DECIMAL aggregation
    // over the checkpointed edge partitions); the pre-r11 SMJ shape
    // additionally AQE-coalesced its post-shuffle side to ONE task that
    // sort-merged 1.18M rows per iteration (measured 1.9 s/iter at
    // sf0.1). Above the gate (4M nodes ≈ 64 MB broadcast) the
    // shuffle-join form is the right plan and stays. Below ~4k nodes the
    // whole iteration is trivial either way and the per-iteration
    // broadcast-BUILD jobs are the larger cost (q261's domain graph
    // measured +0.5 s under always-broadcast) — tiny graphs keep the
    // plain join.
    val small = n >= 4096 && n <= broadcastRanksBelow
    def maybeB(df: DataFrame): DataFrame = if (small) broadcast(df) else df

    var ranks = nodes
      .select(col("node"), (lit(1.0) / lit(n)).as("r"))
      .localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val contribs = eDeg
        .join(maybeB(ranks.select(col("node").as("src"), col("r"))), "src")
        .select(col("dst"),
          (col("r") / col("deg")).cast(DecimalType(28, 12)).as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(maybeB(contribs), col("node") === col("dst"), "left")
        .select(col("node"),
          ((lit(1.0) - lit(damping)) / lit(n)
            + lit(damping) * coalesce(col("s").cast("double"), lit(0.0)))
            .as("r"))
        .localCheckpoint(true)
    }
    ranks
  }

  /** Synchronous LABEL-PROPAGATION community detection over an undirected
    * edge list, fixed `rounds`: every node starts as its own label; each
    * round every node adopts the most frequent label among its neighbors,
    * ties broken to the LOWEST label (the deterministic variant of
    * Raghavan et al. 2007 — synchronous sweeps + total tie order make the
    * result engine-reproducible, unlike the randomized-order original).
    * Complements [[Dedup.clusterIds]] (which merges everything
    * reachable): LPA splits dense regions joined by thin bridges.
    *
    * Returns (node, community) for every node; isolated endpoints cannot
    * occur (every node is on an edge by construction).
    *
    * Scale shape: per round, ONE equi-join of the directed edge list
    * against the current (node, label) table, one (node, label) count
    * aggregate, and a per-node struct-max argmax over the already-reduced
    * count table — every shuffle moves (long, long, count) rows only,
    * never adjacency lists. The struct max runs on the post-aggregation
    * table (≤ one row per distinct neighbor label per node), not the raw
    * pair stream, so the q141/x214 SortAggregate hazard does not bite.
    * Lineage truncates per round with localCheckpoint (the pageRank
    * pattern).
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int = 3
  ): DataFrame = {
    val s = col(srcCol).cast("long")
    val d = col(dstCol).cast("long")
    val canon = edges
      .select(least(s, d).as("a"), greatest(s, d).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
    // the sweep state is one label per node: within the driver gate the
    // synchronous sweep runs there over CSR arrays instead of a join, two
    // aggregations and an eager checkpoint per round
    DriverGraph.collect(canon) match {
      case Some(g) =>
        val n = g.n
        val (start, adj) = g.undirected
        var lab = g.ids
        val scratch = new Array[Long](n) // neighbor labels, reused
        for (_ <- 1 to rounds) {
          val next = new Array[Long](n)
          var i = 0
          while (i < n) {
            val lo = start(i); val hi = start(i + 1)
            var q = lo
            while (q < hi) { scratch(q - lo) = lab(adj(q)); q += 1 }
            java.util.Arrays.sort(scratch, 0, hi - lo)
            // most frequent, ties to LOWEST label: ascending scan keeps
            // the first label reaching the max run length
            var best = scratch(0); var bestC = 0
            var run = 1
            var j = 1
            while (j <= hi - lo) {
              if (j < hi - lo && scratch(j) == scratch(j - 1)) run += 1
              else {
                if (run > bestC) { bestC = run; best = scratch(j - 1) }
                run = 1
              }
              j += 1
            }
            next(i) = best
            i += 1
          }
          lab = next
        }
        return DriverGraph.frame(edges.sparkSession,
          Seq.tabulate(n)(i => Row(g.ids(i), lab(i))),
          "node" -> LongType, "community" -> LongType)
      case None =>
    }
    val adj = canon
      .select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(canon.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint(true)
    var labels = adj.select(col("node")).distinct()
      .select(col("node"), col("node").as("community"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      labels = adj
        .join(labels.select(col("node").as("nbr"),
          col("community").as("nl")), "nbr")
        .groupBy(col("node"), col("nl"))
        .agg(count(lit(1)).cast("long").as("c"))
        // argmax (count desc, label asc) via the primitive-buffer
        // aggregate — a codegen HashAggregate per round, never a
        // SortAggregate (counts < 2^53 are exact as doubles)
        .groupBy("node")
        .agg(graft.functions.GraftFunctions.argMaxTiedLow(
          col("c").cast("double"), col("nl")).as("_b"))
        .select(col("node"), col("_b.id").as("community"))
        .localCheckpoint(true)
    }
    labels
  }

  /** Exact triangle census over an undirected edge list: node, edge,
    * wedge (open-path) and triangle counts, and the transitivity (global
    * clustering coefficient) 3·triangles / wedges — exact integer counts
    * until the one division; null when there are no wedges. Self-loops,
    * null endpoints, duplicates and reversed edges are dropped by
    * canonicalizing to a < b.
    *
    * Algorithm: degree-ordered orientation (the standard exact method —
    * cf. Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    * Last Reducer", WWW'11). Each undirected edge is directed from its
    * lower-(degree, id) endpoint to the higher; every triangle then has
    * exactly ONE node with two out-edges, so triangles = wedges formed by
    * out-edge pairs that close via the edge between their endpoints —
    * counted once, no /3 correction, no duplicate explosion.
    *
    * Scale design: orientation bounds out-degrees by O(√m), so the wedge
    * fan-out is O(m^1.5) — the best known for exact counting — instead of
    * the Σdeg² a naive neighbor self-join pays (a single celebrity node
    * with 1M neighbors would otherwise emit 10^12 wedges from one key).
    * Wedges W = Σ C(deg,2) come from the degree table (no join); the
    * triangle probe is two equi-joins shuffling (long, long) pairs only.
    */
  def triangleCensus(
      edges: DataFrame,
      srcCol: String,
      dstCol: String
  ): DataFrame = {
    val s = col(srcCol).cast("long")
    val d = col(dstCol).cast("long")
    val und0 = edges
      .select(least(s, d).as("a"), greatest(s, d).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
    DriverGraph.collect(und0) match {
      case Some(g) =>
        val (w, t) = wedgesAndTriangles(g)
        // Spark's round(x, 6): HALF_UP on the BigDecimal.valueOf rendering
        val ratio: java.lang.Double =
          if (w == 0) null
          else java.math.BigDecimal.valueOf(3.0 * t.toDouble / w.toDouble)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        return DriverGraph.frame(edges.sparkSession,
          Seq(Row(g.n.toLong, g.m.toLong, w, t, ratio)),
          "n_nodes" -> LongType, "n_edges" -> LongType,
          "n_wedges" -> LongType, "n_triangles" -> LongType,
          "transitivity" -> DoubleType)
      case None =>
    }
    val und = und0.localCheckpoint(true)
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).cast("long").as("deg"))
      .localCheckpoint(true)
    // orient by (deg, node): u -> v iff (deg_u, u) < (deg_v, v)
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"))
      .localCheckpoint(true)
    val e1 = oriented.select(col("u").as("x"), col("v").as("y"))
    val e2 = oriented.select(col("u").as("x"), col("v").as("z"))
    val wedges = e1.join(e2, "x").filter(col("y") < col("z"))
    val tri = wedges
      .join(
        oriented.select(
          least(col("u"), col("v")).as("y"),
          greatest(col("u"), col("v")).as("z")),
        Seq("y", "z"))
      .agg(count(lit(1)).cast("long").as("t"))
    // coalesce: an empty graph has zero counts, not null sums
    val stats = deg
      .agg(
        count(lit(1)).cast("long").as("n_nodes"),
        coalesce(sum(col("deg")), lit(0L)).as("degsum"),
        coalesce(sum(col("deg") * (col("deg") - 1)), lit(0L)).as("wedges2"))
      // integer div keeps the counts exact (Spark's `/` on longs is double)
      .select(
        col("n_nodes"),
        expr("degsum div 2").as("n_edges"),
        expr("wedges2 div 2").as("n_wedges"))
    stats
      .crossJoin(broadcast(tri))
      .select(
        col("n_nodes"),
        col("n_edges"),
        col("n_wedges"),
        col("t").as("n_triangles"),
        round(lit(3.0) * col("t").cast("double") /
          col("n_wedges").cast("double"), 6).as("transitivity"))
  }

  /** Wedges Σ C(deg,2) and exact triangles of a canonical (a < b,
    * distinct) driver edge list. Triangles: the forward algorithm over the
    * same (deg, id) orientation — mark the out-neighbours of u, then every
    * marked out-neighbour of an out-neighbour closes one triangle, counted
    * once at its lowest-ranked node.
    */
  private def wedgesAndTriangles(g: DriverGraph): (Long, Long) = {
    val n = g.n
    val deg = new Array[Int](n)
    var p = 0
    while (p < g.m) { deg(g.src(p)) += 1; deg(g.dst(p)) += 1; p += 1 }
    def rankLt(x: Int, y: Int): Boolean =
      deg(x) < deg(y) || (deg(x) == deg(y) && g.ids(x) < g.ids(y))
    val lo = Array.tabulate(g.m)(p =>
      if (rankLt(g.src(p), g.dst(p))) g.src(p) else g.dst(p))
    val hi = Array.tabulate(g.m)(p =>
      if (lo(p) == g.src(p)) g.dst(p) else g.src(p))
    val (start, adj) = DriverGraph.csr(n, lo, hi)
    val mark = Array.fill(n)(-1)
    var tri = 0L
    var u = 0
    while (u < n) {
      var q = start(u)
      while (q < start(u + 1)) { mark(adj(q)) = u; q += 1 }
      q = start(u)
      while (q < start(u + 1)) {
        val v = adj(q)
        var r = start(v)
        while (r < start(v + 1)) { if (mark(adj(r)) == u) tri += 1; r += 1 }
        q += 1
      }
      u += 1
    }
    (deg.map(x => x.toLong * (x - 1) / 2).sum, tri)
  }

  /** Degree assortativity: the Pearson correlation of endpoint degrees
    * over the (symmetrized) edge list — do high-degree nodes attach to
    * high-degree nodes? Computed from DECIMAL-exact sufficient statistics
    * (each undirected edge contributes both orientations, so Σx = Σy and
    * the closed form collapses to (N·Σxy − Σx²)/(N·Σx² − (Σx)² … with
    * x² meaning Σ of squares); the final expression is a fixed IEEE
    * sequence on exact sums — engine-portable like the q119 regression.
    *
    * Scale: canonical distinct + one degree aggregate + two equi-joins +
    * one global aggregate. Nothing is quadratic; the degree table
    * broadcasts when small.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val s = col(srcCol).cast("long")
    val d = col(dstCol).cast("long")
    val e = edges
      .select(least(s, d).as("a"), greatest(s, d).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .localCheckpoint(true)
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).cast("long").as("deg"))
    val dec = (c: org.apache.spark.sql.Column) =>
      c.cast(DecimalType(12, 0))
    val sums = e
      .join(deg.select(col("node").as("a"), col("deg").as("_da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("_db")), "b")
      .agg(
        count(lit(1)).cast("long").as("m"),
        sum(dec(col("_da")) + dec(col("_db"))).as("sx"),
        sum(dec(col("_da")) * dec(col("_da"))
          + dec(col("_db")) * dec(col("_db"))).as("sxx"),
        sum(lit(2).cast(DecimalType(2, 0)) * dec(col("_da"))
          * dec(col("_db"))).as("sxy"))
    val nD = (col("m") * 2).cast("double")
    val sxD = col("sx").cast("double")
    val num = nD * col("sxy").cast("double") - sxD * sxD
    val den = nD * col("sxx").cast("double") - sxD * sxD
    sums.select(col("m").as("n_edges"),
      round(num / den, 8).as("assortativity"))
  }

  /** k-core decomposition (fixed k): iteratively peel nodes of degree < k
    * until the remaining subgraph is stable; returns (node, core_degree)
    * for the surviving core. The classic "dense cohesive subgraph"
    * extractor — and the peeling fixpoint is CONFLUENT (removal order
    * cannot change the result), which is what lets a DuckDB oracle
    * reproduce it by unrolling enough rounds (extra rounds are no-ops
    * after convergence).
    *
    * Scale design: each round is one degree aggregate + two key-only
    * semi joins (8 B/row — edge payloads never shuffle), with
    * localCheckpoint truncating lineage per round (house CC pattern).
    * Rounds are data-bounded, not size-bounded — peeling cascades are
    * short on real graphs — and `maxRounds` throws instead of silently
    * returning a non-fixpoint (the clusterIds lesson).
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 12
  ): DataFrame = {
    require(k >= 1, "k-core needs k >= 1")
    val s = col(srcCol).cast("long")
    val d = col(dstCol).cast("long")
    var e = edges
      .select(least(s, d).as("a"), greatest(s, d).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .localCheckpoint(true)
    // peeling is CONFLUENT (removal order cannot change the maximal k-core
    // or its induced degrees), so within the driver gate a queue-based
    // peel there replaces ~4 jobs per round of the distributed fixpoint
    DriverGraph.collect(e) match {
      case Some(g) =>
        val n = g.n
        val (start, adj) = g.undirected
        val alive = Array.fill(n)(true)
        val cur = Array.tabulate(n)(i => start(i + 1) - start(i))
        // remove any node with degree < k, cascade
        val queue = new java.util.ArrayDeque[Integer]()
        var i = 0
        while (i < n) { if (cur(i) < k) { queue.add(i); alive(i) = false }; i += 1 }
        while (!queue.isEmpty) {
          val v = queue.poll().intValue()
          var q = start(v)
          while (q < start(v + 1)) {
            val u = adj(q)
            if (alive(u)) {
              cur(u) -= 1
              if (cur(u) < k) { alive(u) = false; queue.add(u) }
            }
            q += 1
          }
        }
        return DriverGraph.frame(edges.sparkSession,
          (0 until n).filter(alive(_)).map(i => Row(g.ids(i), cur(i).toLong)),
          "node" -> LongType, "core_degree" -> LongType)
      case None =>
    }
    var prev = -1L
    var rounds = 0
    while (true) {
      val deg = e.select(col("a").as("node"))
        .unionByName(e.select(col("b").as("node")))
        .groupBy("node")
        .agg(count(lit(1)).cast("long").as("core_degree"))
      val keep = deg.filter(col("core_degree") >= k).localCheckpoint(true)
      val n = keep.count()
      if (n == prev) return keep
      prev = n
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"kCore did not converge within $maxRounds rounds — raise maxRounds")
      val nodes = keep.select("node")
      e = e
        .join(nodes.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(nodes.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .localCheckpoint(true)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Common-neighbor link prediction: rank the NON-edges of an undirected
    * graph by how many neighbors the two endpoints share (plus the Jaccard
    * normalization cn / (deg_a + deg_b − cn)) and return the top-k — the
    * classic "which parts will co-sell next quarter" candidate generator.
    *
    * Input: canonical edges with src < dst; duplicates are removed unless
    * `assumeDistinct` (a repeated edge would double-count every wedge
    * through it — the q228 co-purchase builder emits one pair per shared
    * order).
    *
    * Scale shape: the wedge stream (pairs of neighbors around each center)
    * is Σ deg² rows, but it is CONSUMED map-side — groupBy(a,b) partial-
    * aggregates each center's pairs where they are generated (the q141
    * argmax pattern), so the exchange carries one row per CANDIDATE pair,
    * not per wedge. Existing edges leave via a long-pair anti-join; top-k
    * plans as TakeOrderedAndProject. No orientation trick applies to OPEN
    * wedges (the center is fixed), so a hub with degree d contributes d²
    * wedges — `maxDegree` is the production dial that drops super-hub
    * centers (cap 0 = exact, the oracle point).
    */
  def commonNeighborTopK(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      topK: Int,
      maxDegree: Long = 0L,
      assumeDistinct: Boolean = false
  ): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
    // a repeated (a,b) input edge would double-count every wedge through
    // it — dedup unless the caller already did (pageRank's flag pattern)
    val e = if (assumeDistinct) e0 else e0.distinct().localCheckpoint(true)
    DriverGraph.collect(e)
      .flatMap(commonNeighborsOnDriver(edges.sparkSession, _, topK, maxDegree)) match {
      case Some(df) => return df
      case None =>
    }
    val adj = e.select(col("a").as("ctr"), col("b").as("nbr"))
      .union(e.select(col("b").as("ctr"), col("a").as("nbr")))
    val deg = adj.groupBy("ctr").agg(count(lit(1)).cast("long").as("deg"))
    val adjD =
      if (maxDegree > 0)
        adj.join(deg.filter(col("deg") <= maxDegree), Seq("ctr"))
          .select("ctr", "nbr")
      else adj
    val x = adjD.select(col("ctr"), col("nbr").as("na"))
    val y = adjD.select(col("ctr"), col("nbr").as("nb"))
    val cn = x.join(y, Seq("ctr"))
      .filter(col("na") < col("nb"))
      .groupBy(col("na").as("a"), col("nb").as("b"))
      .agg(count(lit(1)).cast("long").as("cn"))
    // rank by cn BEFORE the degree lookups: the cut is a
    // TakeOrderedAndProject over the candidate stream, and the k surviving
    // rows broadcast into the degree joins (never the reverse)
    val top = cn.join(e, Seq("a", "b"), "left_anti")
      .orderBy(desc("cn"), asc("a"), asc("b"))
      .limit(topK)
    broadcast(top)
      .join(deg.select(col("ctr").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("ctr").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
        (col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double"))
          .as("jaccard"))
      .orderBy(desc("cn"), asc("a"), asc("b"))
  }

  /** commonNeighborTopK on a driver graph, or None when the wedge budget
    * Σ C(deg,2) over the expanded centers exceeds 16M — past it the
    * map-side-combining distributed plan is the right one.
    */
  private def commonNeighborsOnDriver(spark: SparkSession, g: DriverGraph,
      topK: Int, maxDegree: Long): Option[DataFrame] = {
    val n = g.n
    val (start, adj) = g.undirected
    def deg(i: Int): Long = (start(i + 1) - start(i)).toLong
    def isCenter(c: Int): Boolean = maxDegree <= 0 || deg(c) <= maxDegree
    val budget =
      (0 until n).filter(isCenter).map(c => deg(c) * (deg(c) - 1) / 2).sum
    if (budget > 16000000L) return None
    // existing-edge membership on the EXACT collected (a, b) tuples — the
    // anti-join's semantics
    val ekeys = Array.tabulate(g.m)(p => (g.src(p).toLong << 32) | g.dst(p))
    java.util.Arrays.sort(ekeys)
    // wedge keys (lower node value first) into one primitive array, sort,
    // run-length count; equal endpoints (a self-loop or a repeated
    // neighbour) are no pair, as the distributed na < nb filter has it
    val wedges = new Array[Long](budget.toInt)
    var wp = 0
    var c = 0
    while (c < n) {
      if (isCenter(c)) {
        var a = start(c)
        while (a < start(c + 1)) {
          var b = a + 1
          while (b < start(c + 1)) {
            val x = adj(a); val y = adj(b)
            if (x != y) {
              wedges(wp) =
                if (g.ids(x) < g.ids(y)) (x.toLong << 32) | y
                else (y.toLong << 32) | x
              wp += 1
            }
            b += 1
          }
          a += 1
        }
      }
      c += 1
    }
    java.util.Arrays.sort(wedges, 0, wp)
    val cand = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    var q = 0
    while (q < wp) {
      val key = wedges(q)
      var cnt = 0L
      while (q < wp && wedges(q) == key) { cnt += 1; q += 1 }
      if (java.util.Arrays.binarySearch(ekeys, key) < 0)
        cand += (((key >>> 32).toInt, key.toInt, cnt))
    }
    // rank by (cn desc, a asc, b asc), take k
    val top = cand.sortBy { case (x, y, cn) => (-cn, g.ids(x), g.ids(y)) }
      .take(topK)
    Some(DriverGraph.frame(spark,
      top.toSeq.map { case (x, y, cn) =>
        Row(g.ids(x), g.ids(y), cn, deg(x), deg(y),
          cn.toDouble / (deg(x) + deg(y) - cn).toDouble)
      },
      "a" -> LongType, "b" -> LongType, "cn" -> LongType,
      "deg_a" -> LongType, "deg_b" -> LongType, "jaccard" -> DoubleType))
  }
}
