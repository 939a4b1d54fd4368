package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import graft.util.DriverBudget
import scala.jdk.CollectionConverters._

/** An edge list read onto the driver: node ids mapped once to dense ints
  * `0 until n` (first-seen order), edge `p` running from `ids(src(p))` to
  * `ids(dst(p))`.
  */
private[graft] final class DriverGraph(
    val ids: Array[Long],
    val src: Array[Int],
    val dst: Array[Int]) {
  def n: Int = ids.length
  def m: Int = src.length

  /** Undirected CSR: both arcs of every edge. */
  def undirected: (Array[Int], Array[Int]) =
    DriverGraph.csr(n, src ++ dst, dst ++ src)
}

/** The bounded-driver kernel behind the graph fast paths (`Graph.pageRank`,
  * `labelPropagation`, `kCore`, `triangleCensus`, `commonNeighborTopK`,
  * `Dedup.clusterIds`, `Similarity.beamRecallCurve`).
  *
  * Gate. [[collect]] reads the edge list through [[DriverBudget.collect]]
  * at [[DriverBudget.EdgeBytes]] per edge: the gate and the read are one
  * job. An edge list past the budget, or with a null endpoint, gives None,
  * and the caller runs its distributed plan unchanged; specs force that
  * path with `DriverBudget.withBytes(0L)`, which runs no job.
  *
  * Identity. On the driver each operator replays its distributed plan
  * exactly, so both paths return the same rows:
  *  - kCore, label propagation, union-find components and the triangle and
  *    common-neighbour counts are integer computations with a total order
  *    (peeling is confluent; label argmax is count desc, label asc; a
  *    component's label is its minimum id; every triangle is counted once);
  *  - PageRank routes each contribution through Spark's double →
  *    DECIMAL(28,12) cast (a scaled long) and runs the same IEEE damping
  *    update; ratios use the same double division and Spark's `round`;
  *  - a ratio over zero wedges is null, as Spark returns for x/0.
  * GraphSpec's differential property checks this on generated and
  * degenerate graphs.
  */
private[graft] object DriverGraph {

  def collect(edges: DataFrame): Option[DriverGraph] = {
    val rows = DriverBudget.collect(edges, DriverBudget.EdgeBytes)
      .filterNot(_.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      .getOrElse(return None)
    val m = rows.length
    val idx = new java.util.HashMap[java.lang.Long, Integer](m * 2)
    val ids = Array.newBuilder[Long]
    def id(x: Long): Int = {
      val got = idx.get(x)
      if (got != null) got.intValue()
      else { val i = idx.size(); idx.put(x, i); ids += x; i }
    }
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    var p = 0
    while (p < m) {
      src(p) = id(rows(p).getLong(0)); dst(p) = id(rows(p).getLong(1)); p += 1
    }
    Some(new DriverGraph(ids.result(), src, dst))
  }

  /** CSR over nodes `0 until n` from parallel arc arrays: the targets of
    * node `i` are `adj(start(i) until start(i + 1))`, in arc order. Arcs
    * with a negative `from` are skipped.
    */
  def csr(n: Int, from: Array[Int], to: Array[Int]): (Array[Int], Array[Int]) = {
    val start = new Array[Int](n + 1)
    var p = 0
    while (p < from.length) { if (from(p) >= 0) start(from(p) + 1) += 1; p += 1 }
    var i = 0
    while (i < n) { start(i + 1) += start(i); i += 1 }
    val fill = java.util.Arrays.copyOf(start, n)
    val adj = new Array[Int](start(n))
    p = 0
    while (p < from.length) {
      val f = from(p)
      if (f >= 0) { adj(fill(f)) = to(p); fill(f) += 1 }
      p += 1
    }
    (start, adj)
  }

  /** A driver result as a DataFrame of nullable `(name, type)` columns. */
  def frame(spark: SparkSession, rows: Seq[Row],
      fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(rows.asJava,
      StructType(fields.map { case (name, t) => StructField(name, t) }))
}
