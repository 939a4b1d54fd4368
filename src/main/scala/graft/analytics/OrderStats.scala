package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.util.DriverBudget

/** Exact weighted order statistics per (group, column) — the one kernel
  * behind [[Summary.exactPercentilesHist]] (the one-group case),
  * [[Summary.exactGroupedPercentilesHist]] and [[Summary.weightedMedian]].
  *
  * Input: a frame, an optional group column, value columns (cast to
  * double, nulls ignored), a positive long weight column (percentiles
  * pass `lit(1L)`) and a rank function `(column, n) → 0-based ranks`.
  * Output, per group and column: n = Σw over the non-null values, the
  * group's row weight Σw over every row (null values included, so a
  * caller reads null fractions from the same scan) and the value at each
  * requested rank of the weighted multiset (each value repeated w times).
  * Spark's builtin `percentile` buffers every distinct
  * value of a group into one aggregate merged in a single reduce task;
  * here:
  *   1. one fused, shuffle-free scan collects per (group, column) Σw, min
  *      and max, and keeps the values themselves while the partition holds
  *      at most its share (`budget / numPartitions`) of the one
  *      [[graft.util.DriverBudget]] and every weight seen so far is 1 —
  *      the first non-unit weight drops the partition's values, so the
  *      input decides the gate.
  *      When every partition kept its values (the DRIVER path) the driver
  *      sorts them and reads the ranks: one Spark job in all. Otherwise
  *      (the HISTOGRAM path):
  *   2. one (group, column, bucket) histogram of Σw over `nBuckets`
  *      fixed-width buckets of pass 1's bounds, which reach the executors
  *      through a broadcast join; the driver walks the cumulative sums once
  *      to locate each rank's bucket and its rank inside the bucket;
  *   3. one distributed resolve inside the located buckets only (≈
  *      1/nBuckets of the rows): Σw per distinct value, a cumulative window
  *      per (group, column, bucket), and per rank the smallest value whose
  *      cumulative weight exceeds the rank inside its bucket. Only the
  *      answers are collected.
  *
  * Group keys: null is a group of its own (as in Spark's GROUP BY; every
  * join on the key is null-safe), and -0.0 groups with 0.0. The group count
  * is bounded by [[MaxGroups]] — high-cardinality keys belong to the
  * builtin aggregates, which are already parallel there.
  *
  * Both paths read exact ranks over the same double ordering: values are
  * read with -0.0 as 0.0 (pass 1 adds 0.0; Spark's grouping in pass 3
  * normalizes it the same way), so the driver and the histogram paths
  * return the same bits, and the percentile callers' [[interpolate]]
  * replays Percentile.getPercentile — bit-identical to the builtin on
  * NaN-free columns. NaN cannot be bucketed: NaN-bearing columns must use
  * the builtin (every oracle-backed caller is NaN-free by construction).
  */
private[graft] object OrderStats {

  /** The most groups one call may have. */
  val MaxGroups = 10000

  val DefaultBuckets = 4096

  /** One (group, column) answer: n = Σw over the non-null values, `rows` =
    * Σw over all of the group's rows (-1 when `boundsIn` skipped pass 1)
    * and the value at each asked rank.
    */
  final case class Stat(n: Long, rows: Long, at: Map[Long, Double])

  /** One group's pass-1 state, a slot per column; `vals` is null once
    * dropped.
    */
  private final class Acc(k: Int) extends Serializable {
    var rows = 0L
    val n = new Array[Long](k)
    val lo: Array[Double] = Array.fill(k)(Double.PositiveInfinity)
    val hi: Array[Double] = Array.fill(k)(Double.NegativeInfinity)
    var vals: Array[Array[Double]] = Array.fill(k)(new Array[Double](16))
  }

  /** One partition's pass-1 output; `keys == null` when it saw more than
    * [[MaxGroups]] groups.
    */
  private final case class Part(keys: Array[Any], accs: Array[Acc])

  /** Group → one [[Stat]] per value column, and the path taken ("driver"
    * or "histogram"). The ungrouped call is the one group keyed 0.
    * `boundsIn` (ungrouped only) is each column's (non-null count, min,
    * max) when the caller already has them: the gate is then decided from
    * the counts before any pass — the driver path's scan gets the whole
    * budget, the histogram path skips pass 1. Values take 8 bytes each
    * (twice that while the partitions' arrays are joined).
    */
  def apply(
      df: DataFrame,
      group: Option[String],
      values: Seq[String],
      weight: Column,
      ranks: (Int, Long) => Seq[Long],
      boundsIn: Option[Seq[(Long, Option[Double], Option[Double])]] = None,
      nBuckets: Int = DefaultBuckets
  ): (Map[Any, IndexedSeq[Stat]], String) = {
    require(values.nonEmpty)
    val budget = DriverBudget.bytes
    require(boundsIn.isEmpty || group.isEmpty, "boundsIn is for the ungrouped call")
    val k = values.length
    // the passes run straight over the caller's frame: callers with an
    // expensive derived lineage materialize it themselves (Cleaning.clean
    // checkpoints its deduped, dated, coerced frame once for the modes
    // pass, this scan and the write), and for the common
    // raw-scan callers a narrow checkpoint here was measured as a pure
    // LOSS at 100× (writing rows×k doubles to executor storage cost more
    // than three parquet re-scans)
    val narrow = df.select(
      (group.map(col).getOrElse(lit(0)).as("_g") +: weight.cast("long").as("_w") +:
        values.zipWithIndex.map { case (c, i) => col(c).cast("double").as(s"_c$i") }): _*)
    lazy val rows = narrow.queryExecution.toRdd
    val (groups, pieces) = boundsIn match {
      case Some(b) =>
        require(b.length == k, "boundsIn must cover every value column")
        val ns = b.map(_._1)
        if (ns.exists(_ > 0) && ns.sum <= budget / 8)
          boundsPass(rows, narrow.schema("_g").dataType, grouped = false, k, budget)
        else {
          val a = new Acc(k)
          a.rows = -1
          b.zipWithIndex.foreach { case ((n, lo, hi), i) =>
            a.n(i) = n; a.lo(i) = lo.getOrElse(0.0); a.hi(i) = hi.getOrElse(0.0)
          }
          (Map[Any, Acc](0 -> a), None)
        }
      case None =>
        boundsPass(rows, narrow.schema("_g").dataType, group.isDefined, k,
          budget / math.max(1, rows.getNumPartitions))
    }
    val asked = for ((g, a) <- groups.toSeq; i <- 0 until k) yield (g, i, ranks(i, a.n(i)))
    val (read, path): ((Any, Int, Long) => Double, String) = pieces match {
      case Some(ps) =>
        val sorted = mutable.Map.empty[(Any, Int), Array[Double]]
        ((g, i, r) => sorted.getOrElseUpdate((g, i), {
          val all = Array.concat(ps(g).map(_(i)).toSeq: _*)
          java.util.Arrays.sort(all)
          all
        })(r.toInt), "driver")
      case None if asked.forall(_._3.isEmpty) => ((_, _, _) => 0.0, "driver")
      case None =>
        val at = refine(narrow, groups, asked.filter(_._3.nonEmpty), nBuckets)
        ((g, i, r) => at((g, i, r)), "histogram")
    }
    (groups.map { case (g, a) =>
      g -> IndexedSeq.tabulate(k) { i =>
        Stat(a.n(i), a.rows, ranks(i, a.n(i)).map(r => r -> read(g, i, r)).toMap)
      }
    }, path)
  }

  /** Pass 1: one job, no shuffle. Returns the merged per-group bounds and,
    * when every partition kept its values, each group's per-partition
    * value arrays.
    */
  private def boundsPass(
      rows: org.apache.spark.rdd.RDD[InternalRow],
      gType: DataType,
      grouped: Boolean,
      k: Int,
      capBytes: Long
  ): (Map[Any, Acc], Option[Map[Any, Seq[Array[Array[Double]]]]]) = {
    val parts = rows.mapPartitions { it =>
      val accs = new java.util.HashMap[Any, Acc]()
      val one = if (grouped) null else new Acc(k)
      val readKey: InternalRow => Any = gType match {
        case DoubleType => _.getDouble(0) + 0.0 // Spark groups -0.0 with 0.0
        case FloatType => _.getFloat(0) + 0.0f
        case _ => _.get(0, gType)
      }
      var kept = true
      var bytes = 0L
      def drop(): Unit = {
        kept = false
        if (one != null) one.vals = null
        accs.values.forEach(a => a.vals = null)
      }
      while (it.hasNext && accs.size <= MaxGroups) {
        val row = it.next()
        val a =
          if (!grouped) one
          else {
            val key = if (row.isNullAt(0)) null else readKey(row)
            var a = accs.get(key)
            if (a == null) {
              a = new Acc(k)
              if (!kept) a.vals = null
              accs.put(key match { // the row's buffer is reused: own the key
                case s: UTF8String => s.clone()
                case r: InternalRow => r.copy()
                case d: ArrayData => d.copy()
                case x => x
              }, a)
            }
            a
          }
        val w = row.getLong(1)
        if (kept && w != 1L) drop()
        a.rows += w
        var i = 0
        while (i < k) {
          if (!row.isNullAt(2 + i)) {
            val v = row.getDouble(2 + i) + 0.0 // -0.0 + 0.0 == +0.0
            if (v < a.lo(i)) a.lo(i) = v
            if (v > a.hi(i)) a.hi(i) = v
            if (kept) {
              if (bytes + 8 > capBytes) drop()
              else {
                val m = a.n(i).toInt // unit weights so far: n counts the values
                if (m == a.vals(i).length)
                  a.vals(i) = java.util.Arrays.copyOf(a.vals(i), m * 2)
                a.vals(i)(m) = v
                bytes += 8
              }
            }
            a.n(i) += w
          }
          i += 1
        }
      }
      val (keys, as) =
        if (grouped) {
          val es = accs.entrySet.toArray(Array.empty[java.util.Map.Entry[Any, Acc]])
          (es.map(_.getKey), es.map(_.getValue))
        } else (Array[Any](0), Array(one))
      if (kept) as.foreach(a => a.vals = Array.tabulate(k)(i =>
        java.util.Arrays.copyOf(a.vals(i), a.n(i).toInt)))
      Iterator(if (accs.size > MaxGroups) Part(null, null) else Part(keys, as))
    }.collect()
    require(parts.forall(_.keys != null), s"more than $MaxGroups groups")
    val toScala =
      if (grouped) CatalystTypeConverters.createToScalaConverter(gType)
      else (x: Any) => x
    val groups = mutable.LinkedHashMap.empty[Any, Acc]
    if (!grouped) groups(0) = new Acc(k)
    val pieces = mutable.Map.empty[Any, Vector[Array[Array[Double]]]]
    for (p <- parts; (key, a) <- p.keys.zip(p.accs)) {
      val g = toScala(key)
      val m = groups.getOrElseUpdate(g, new Acc(k))
      m.rows += a.rows
      for (i <- 0 until k) {
        m.n(i) += a.n(i)
        m.lo(i) = math.min(m.lo(i), a.lo(i))
        m.hi(i) = math.max(m.hi(i), a.hi(i))
      }
      if (a.vals != null) pieces(g) = pieces.getOrElse(g, Vector.empty) :+ a.vals
    }
    require(groups.size <= MaxGroups, s"${groups.size} groups exceed $MaxGroups")
    (groups.toMap,
      if (parts.forall(_.accs.forall(_.vals != null))) Some(groups.keys.map(g =>
        g -> pieces.getOrElse(g, Vector.empty)).toMap)
      else None)
  }

  /** Passes 2–3: (group, column, rank) → value for every asked rank. */
  private def refine(
      narrow: DataFrame,
      groups: Map[Any, Acc],
      asked: Seq[(Any, Int, Seq[Long])],
      nBuckets: Int
  ): Map[(Any, Int, Long), Double] = {
    val spark = narrow.sparkSession
    val gType = narrow.schema("_g").dataType
    def local(rows: Seq[Row], fields: (String, DataType)*): DataFrame =
      broadcast(spark.createDataFrame(rows.asJava,
        StructType(fields.map { case (n, t) => StructField(n, t) })))
    val params = local(asked.map { case (g, i, _) =>
        val (lo, hi) = (groups(g).lo(i), groups(g).hi(i))
        Row(g, i, lo, if (hi > lo) (hi - lo) / nBuckets else 1.0)
      }, "_pg" -> gType, "_pci" -> IntegerType, "_lo" -> DoubleType,
      "_width" -> DoubleType)
    val vcols = groups.head._2.n.indices.map(i => col(s"_c$i"))
    val ex = narrow
      .select(col("_g"), col("_w"), posexplode(array(vcols: _*)).as(Seq("_ci", "_v")))
      .filter(col("_v").isNotNull)
      .join(params, col("_g") <=> col("_pg") && col("_ci") === col("_pci"))
      .select(col("_g"), col("_ci"), col("_v"), col("_w"),
        least(lit(nBuckets - 1), greatest(lit(0),
          floor((col("_v") - col("_lo")) / col("_width")).cast("int"))).as("_b"))
    // pass 2: Σw per (group, column, bucket), walked once on the driver
    val hist = ex.groupBy("_g", "_ci", "_b").agg(sum("_w")).collect()
      .groupBy(r => (r.get(0), r.getInt(1)))
      .map { case (key, rs) => key -> rs.map(r => (r.getInt(2), r.getLong(3))).sortBy(_._1) }
    val located = asked.flatMap { case (g, i, rs) =>
      var cum = 0L
      var ri = 0
      hist((g, i)).flatMap { case (b, bw) =>
        val here = rs.drop(ri).takeWhile(_ < cum + bw)
        val out = here.map(r => Row(g, i, b, r, r - cum))
        ri += here.length
        cum += bw
        out
      }
    }
    // pass 3: exact resolve inside the located buckets only
    val targets = local(located, "_tg" -> gType, "_tci" -> IntegerType,
      "_tb" -> IntegerType, "_rank" -> LongType, "_rib" -> LongType)
    val inBucket = col("_g") <=> col("_tg") && col("_ci") === col("_tci") &&
      col("_b") === col("_tb")
    ex.join(targets, inBucket, "left_semi")
      .groupBy("_g", "_ci", "_b", "_v").agg(sum("_w").as("_vw"))
      .withColumn("_cw", sum("_vw").over(Window.partitionBy("_g", "_ci", "_b").orderBy("_v")))
      .join(targets, inBucket)
      .filter(col("_cw") > col("_rib"))
      .groupBy("_g", "_ci", "_rank").agg(min("_v"))
      .collect()
      .map(r => (r.get(0), r.getInt(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
  }

  /** The 0-based ranks [[interpolate]] reads for probs `ps` over n values. */
  def neededRanks(n: Long, ps: Seq[Double]): Seq[Long] =
    if (n == 0) Nil
    else ps.flatMap { p =>
      val pos = (n - 1).toDouble * p
      Seq(pos.floor.toLong, pos.ceil.toLong)
    }.distinct.sorted

  /** Percentile.getPercentile replayed exactly: the p-th percentile of n
    * values whose 0-based order statistics are `key(rank)` — position =
    * (n−1)·p, keys at ⌊position⌋/⌈position⌉, result
    * (higher−position)·lowerKey + (position−lower)·higherKey with the same
    * equal-key short-circuits.
    */
  def interpolate(n: Long, p: Double, key: Long => Double): Double = {
    val position = (n - 1).toDouble * p
    val lower = position.floor.toLong
    val higher = position.ceil.toLong
    val lowerKey = key(lower)
    if (higher == lower) lowerKey
    else {
      val higherKey = key(higher)
      if (java.lang.Double.valueOf(higherKey)
          .equals(java.lang.Double.valueOf(lowerKey))) lowerKey
      else (higher - position) * lowerKey + (position - lower) * higherKey
    }
  }

  /** Exact percentiles of `specs`' columns per group: group → column → one
    * Option per prob (None without non-null values), and the path taken.
    */
  def percentiles(
      df: DataFrame,
      group: Option[String],
      specs: Seq[(String, Seq[Double])],
      boundsIn: Option[Seq[(Long, Option[Double], Option[Double])]] = None,
      nBuckets: Int = DefaultBuckets
  ): (Map[Any, Map[String, Seq[Option[Double]]]], String) = {
    val (stats, path) = apply(df, group, specs.map(_._1), lit(1L),
      (i, n) => neededRanks(n, specs(i)._2), boundsIn, nBuckets)
    (stats.map { case (g, st) =>
      g -> specs.zip(st).map { case ((c, ps), s) =>
        c -> ps.map(p => if (s.n == 0) None else Some(interpolate(s.n, p, s.at)))
      }.toMap
    }, path)
  }
}
