package graft.analytics

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.stat.Correlation
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.Cleaning

/** Interactive analytics surface (notebook cells 8/13, SURVEY.md §3 E3):
  * describe, nunique, correlation matrix, top-k.
  */
object Summary {

  /** A11: pandas `describe()` analog — count/mean/std/min/quartiles/max per
    * numeric column, all in ONE aggregate pass (pandas scans per stat).
    * Output: one row per column: index, count, mean, std, min, p25, p50,
    * p75, max.
    *
    * `approximate = true` swaps exact quartiles for `approx_percentile`
    * sketches (bounded memory, no sort buffers) — the interactive-describe
    * path for lake-scale tables; keep the exact default where results feed
    * golden comparisons.
    */
  def describeNumeric(
      spark: SparkSession,
      df: DataFrame,
      approximate: Boolean = false
  ): DataFrame = {
    val cols = Cleaning.numericCols(df)
    if (cols.isEmpty)
      return spark.emptyDataFrame
    val exprs = cols.flatMap { c =>
      val dc = col(c).cast("double")
      Seq(count(dc), avg(dc), stddev_samp(dc), min(dc), max(dc)) ++
        (if (approximate)
          Seq(approx_percentile(dc,
            array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)))
         else Nil)
    }
    val r = df.agg(exprs.head, exprs.tail: _*).head()
    // exact quartiles via Summary.exactPercentilesHist — the single-buffer
    // percentile aggregate merged every distinct value of every column in
    // ONE reduce task (2.5 s of q43's 3.8 s at sf0.1). The big aggregate
    // above already carries (count, min, max) of the same cast-to-double
    // columns: passed in, they decide the helper's driver/histogram gate
    // before any pass — the driver path is then one collect scan, the
    // histogram path skips its bounds pass (histogram + resolve only)
    val exact: Map[String, Seq[Option[Double]]] =
      if (approximate) Map.empty
      else {
        val bounds = cols.indices.map { i =>
          val base = i * 5
          (r.getLong(base),
            if (r.isNullAt(base + 3)) None else Some(r.getDouble(base + 3)),
            if (r.isNullAt(base + 4)) None else Some(r.getDouble(base + 4)))
        }
        exactPercentilesHist(df, cols.map(c => c -> Seq(0.25, 0.5, 0.75)),
          boundsIn = Some(bounds))
      }
    val stride = if (approximate) 6 else 5
    val schema = StructType(
      StructField("index", StringType) +: Seq(
        "count", "mean", "std", "min", "p25", "p50", "p75", "max"
      ).map(StructField(_, DoubleType)))
    val rows = cols.zipWithIndex.map { case (c, i) =>
      val base = i * stride
      val qs: Seq[Any] =
        if (approximate) {
          if (r.isNullAt(base + 5)) Seq[Any](null, null, null)
          else r.getSeq[Double](base + 5)
        } else exact(c).map(_.map(v => v: Any).orNull)
      val flat = Seq[Any](
        r.getLong(base).toDouble,
        if (r.isNullAt(base + 1)) null else r.getDouble(base + 1),
        if (r.isNullAt(base + 2)) null else r.getDouble(base + 2),
        if (r.isNullAt(base + 3)) null else r.getDouble(base + 3),
        qs(0), qs(1), qs(2),
        if (r.isNullAt(base + 4)) null else r.getDouble(base + 4))
      Row.fromSeq(c +: flat)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Driver byte budget of [[exactPercentilesHist]]'s collect path: a
    * thirty-second of the driver's max heap, capped at half of
    * `spark.driver.maxResultSize` so the collected task results never trip
    * that limit (0 there means unlimited).
    */
  def percentileDriverBytes: Long = {
    val heap = Runtime.getRuntime.maxMemory / 32
    val maxResult = SparkSession.active.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (maxResult > 0) math.min(heap, maxResult / 2) else heap
  }

  /** Exact GLOBAL percentiles for several columns at once, without Spark's
    * `percentile` aggregate.
    *
    * The builtin buffers every (value, count) pair into one
    * TypedImperativeAggregate whose FINAL merge+sort runs in a single
    * reduce task (q43's 2.5 s / q151's 3.3 s single-task stages at sf0.1 —
    * and the buffer is corpus-sized on mostly-distinct columns, which is
    * exactly what breaks at lake scale). Here:
    *   1. one fused, shuffle-free scan of the cast-to-double projection:
    *      per partition, each column's non-null count / min / max, plus the
    *      non-null values themselves as primitive arrays while the partition
    *      holds at most `driverBytes / numPartitions` bytes of them. When
    *      every partition kept its values (the DRIVER path) the driver sorts
    *      each column and reads the order statistics off the sorted arrays:
    *      one Spark job in all. Otherwise (the HISTOGRAM path):
    *   2. one map-side-combined pass: per-column `nBuckets` fixed-width
    *      histogram over pass 1's bounds (columns exploded into (ci, v) so
    *      ALL columns share the pass); the driver walks cumulative counts
    *      to locate the bucket holding each needed order statistic;
    *   3. exact resolve inside the located buckets only (≈1/nBuckets of
    *      the rows): distinct-value counts collected and walked on the
    *      driver (bounded by `maxResolveRows`, pre-checked from the
    *      histogram itself; above the bound the plain aggregate runs
    *      instead — correctness never depends on the distribution).
    *
    * Callers that already aggregated (non-null count, min, max) of the
    * SAME cast-to-double columns pass them as `boundsIn`: the gate is then
    * decided exactly from the counts before any pass runs — the driver
    * path's scan gets the whole budget, the histogram path skips pass 1.
    *
    * `driverBytes` bounds the values the driver holds (8 bytes each, twice
    * that while the partitions' arrays are joined); the default is
    * [[percentileDriverBytes]] and 0 forces the histogram path.
    *
    * BIT-IDENTICAL to the builtin on NaN-free columns, on both paths:
    * order statistics are exact ranks over the identical double ordering
    * (-0.0 read as 0.0, as Spark's grouping normalizes it), and
    * [[interpolate]] replays Percentile.getPercentile. Nulls are ignored
    * like the builtin; NaN-bearing columns must use the builtin (histogram
    * bucketing cannot place NaN) — every oracle-backed caller is NaN-free
    * by construction.
    *
    * Returns per column one Option[Double] per requested prob (None when
    * the column has no non-null values).
    */
  def exactPercentilesHist(
      df: DataFrame,
      specs: Seq[(String, Seq[Double])],
      nBuckets: Int = 4096,
      maxResolveRows: Long = 4000000L,
      boundsIn: Option[Seq[(Long, Option[Double], Option[Double])]] = None,
      driverBytes: Long = percentileDriverBytes
  ): Map[String, Seq[Option[Double]]] =
    exactPercentilesWithPath(
      df, specs, nBuckets, maxResolveRows, boundsIn, driverBytes)._1

  /** [[exactPercentilesHist]] plus the path it took: "driver", "histogram"
    * or "builtin" (the `maxResolveRows` fallback).
    */
  private[graft] def exactPercentilesWithPath(
      df: DataFrame,
      specs: Seq[(String, Seq[Double])],
      nBuckets: Int,
      maxResolveRows: Long,
      boundsIn: Option[Seq[(Long, Option[Double], Option[Double])]],
      driverBytes: Long
  ): (Map[String, Seq[Option[Double]]], String) = {
    require(specs.nonEmpty)
    val k = specs.length
    // the passes run straight over the caller's frame: callers with an
    // expensive derived lineage cache/checkpoint it themselves (the
    // cleaning stage checkpoints its coerced frame), and for the common
    // raw-scan callers a narrow checkpoint here was measured as a pure
    // LOSS at 100× (writing rows×k doubles to executor storage cost more
    // than three parquet re-scans)
    val narrow = df
      .select(specs.zipWithIndex.map { case ((c, _), i) =>
        col(c).cast("double").as(s"_c$i") }: _*)
    lazy val rows = narrow.queryExecution.toRdd
    val bounds = boundsIn match {
      case Some(b) =>
        require(b.length == k, "boundsIn must cover every spec column")
        val ns = b.map(_._1)
        if (ns.exists(_ > 0) && ns.sum <= driverBytes / 8)
          fusedBoundsPass(rows, k, driverBytes)
        else ColumnBounds(ns.toArray, b.map(_._2.getOrElse(0.0)).toArray,
          b.map(_._3.getOrElse(0.0)).toArray, None)
      case None =>
        fusedBoundsPass(rows, k, driverBytes / math.max(1, rows.getNumPartitions))
    }
    val ns = bounds.n
    val ranksByCol = specs.zipWithIndex.map { case ((_, ps), i) =>
      neededRanks(ns(i), ps) }
    val (key, path): ((Int, Long) => Double, String) = bounds.sorted match {
      case Some(sorted) => ((ci, rank) => sorted(ci)(rank.toInt), "driver")
      case None if ranksByCol.forall(_.isEmpty) => ((_, _) => 0.0, "driver")
      case None =>
        histogramKeys(narrow, bounds, ranksByCol, nBuckets, maxResolveRows) match {
          case Some(keys) => ((ci, rank) => keys((ci, rank)), "histogram")
          case None => return (builtinPercentiles(narrow, specs), "builtin")
        }
    }
    (specs.zipWithIndex.map { case ((c, ps), ci) =>
      c -> ps.map(p =>
        if (ns(ci) == 0) None else Some(interpolate(ns(ci), p, key(ci, _))))
    }.toMap, path)
  }

  /** Pass 1's result: per column the non-null count, min and max (0.0 for
    * an empty column) and, when every partition kept them, the sorted
    * non-null values.
    */
  private final case class ColumnBounds(
      n: Array[Long],
      lo: Array[Double],
      hi: Array[Double],
      sorted: Option[Array[Array[Double]]])

  /** Pass 1 of [[exactPercentilesHist]]: one job, no shuffle. Each
    * partition keeps its values only while they fit `capBytes`.
    */
  private def fusedBoundsPass(
      rows: RDD[InternalRow], k: Int, capBytes: Long): ColumnBounds = {
    val parts = rows.mapPartitions { it =>
      val n = new Array[Long](k)
      val lo = Array.fill(k)(Double.PositiveInfinity)
      val hi = Array.fill(k)(Double.NegativeInfinity)
      var vals = Array.fill(k)(new Array[Double](64))
      var bytes = 0L
      while (it.hasNext) {
        val row = it.next()
        var i = 0
        while (i < k) {
          if (!row.isNullAt(i)) {
            val v = row.getDouble(i) + 0.0 // -0.0 + 0.0 == +0.0
            if (v < lo(i)) lo(i) = v
            if (v > hi(i)) hi(i) = v
            if (vals != null) {
              if (bytes + 8 > capBytes) vals = null
              else {
                val m = n(i).toInt
                if (m == vals(i).length)
                  vals(i) = java.util.Arrays.copyOf(vals(i), m * 2)
                vals(i)(m) = v
                bytes += 8
              }
            }
            n(i) += 1
          }
          i += 1
        }
      }
      Iterator((n, lo, hi,
        if (vals == null) null
        else Array.tabulate(k)(i => java.util.Arrays.copyOf(vals(i), n(i).toInt))))
    }.collect()
    val n = Array.tabulate(k)(i => parts.map(_._1(i)).sum)
    val sorted =
      if (parts.exists(_._4 == null)) None
      else Some(Array.tabulate(k) { i =>
        val all =
          if (parts.length == 1) parts.head._4(i)
          else {
            val a = new Array[Double](n(i).toInt)
            var off = 0
            parts.foreach { p =>
              System.arraycopy(p._4(i), 0, a, off, p._4(i).length)
              off += p._4(i).length
            }
            a
          }
        java.util.Arrays.sort(all)
        all
      })
    ColumnBounds(n,
      Array.tabulate(k)(i =>
        if (n(i) == 0) 0.0 else parts.map(_._2(i)).reduce((a, b) => math.min(a, b))),
      Array.tabulate(k)(i =>
        if (n(i) == 0) 0.0 else parts.map(_._3(i)).reduce((a, b) => math.max(a, b))),
      sorted)
  }

  /** Passes 2–3 of [[exactPercentilesHist]]: (column, rank) → value for
    * every needed rank, or None when the located buckets hold more than
    * `maxResolveRows` rows.
    */
  private def histogramKeys(
      narrow: DataFrame,
      bounds: ColumnBounds,
      ranksByCol: Seq[Seq[Long]],
      nBuckets: Int,
      maxResolveRows: Long
  ): Option[Map[(Int, Long), Double]] = {
    val k = ranksByCol.length
    val vcols = (0 until k).map(i => col(s"_c$i"))
    val widths = (0 until k).map(i =>
      if (bounds.hi(i) > bounds.lo(i)) (bounds.hi(i) - bounds.lo(i)) / nBuckets
      else 1.0)
    // pass 2: shared per-column histogram
    val loLit = typedLit(bounds.lo.toSeq)
    val wLit = typedLit(widths)
    val ex = narrow
      .select(posexplode(array(vcols: _*)).as(Seq("_ci", "_v")))
      .filter(col("_v").isNotNull)
    val bucketOf = least(lit(nBuckets - 1), greatest(lit(0),
      floor((col("_v") - element_at(loLit, col("_ci") + 1)) /
        element_at(wLit, col("_ci") + 1)).cast("int")))
    val hist = ex.groupBy(col("_ci"), bucketOf.as("_b"))
      .agg(count(lit(1)).as("_n"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (ci, rows) =>
        ci -> rows.map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1)
      }
    // driver walk: (ci, rank) -> (bucket, rankInBucket); needed buckets per ci
    val perRank = scala.collection.mutable.Map.empty[(Int, Long), (Int, Long)]
    val neededBuckets =
      scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Set[Int]]
    var resolveRows = 0L
    for (ci <- 0 until k; if ranksByCol(ci).nonEmpty) {
      val bs = hist.getOrElse(ci, Array.empty[(Int, Long)])
      var cum = 0L
      var ri = 0
      val ranks = ranksByCol(ci)
      val counted = scala.collection.mutable.Set.empty[Int]
      for ((b, c) <- bs if ri < ranks.length) {
        while (ri < ranks.length && ranks(ri) < cum + c) {
          perRank((ci, ranks(ri))) = (b, ranks(ri) - cum)
          neededBuckets.getOrElseUpdate(ci,
            scala.collection.mutable.Set.empty[Int]) += b
          if (!counted.contains(b)) { counted += b; resolveRows += c }
          ri += 1
        }
        cum += c
      }
    }
    if (resolveRows > maxResolveRows) return None
    // pass 3: exact resolve inside the located buckets
    val pred = (0 until k)
      .filter(ci => neededBuckets.contains(ci))
      .map(ci => col("_ci") === ci &&
        bucketOf.isin(neededBuckets(ci).toSeq: _*))
      .reduce(_ || _)
    val vals = ex.filter(pred)
      .groupBy(col("_ci"), bucketOf.as("_b"), col("_v"))
      .agg(count(lit(1)).as("_n"))
      .collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (key, rows) =>
        key -> rows.map(r => (r.getDouble(2), r.getLong(3)))
          .sortBy(_._1)(Ordering.fromLessThan(
            (a, b) => java.lang.Double.compare(a, b) < 0))
      }
    Some(perRank.toMap.map { case ((ci, rank), (b, rib)) =>
      val vs = vals((ci, b))
      var rem = rib
      var vi = 0
      while (rem >= vs(vi)._2) { rem -= vs(vi)._2; vi += 1 }
      (ci, rank) -> vs(vi)._1
    })
  }

  /** The builtin single-buffer aggregate at the caller's probs — run when
    * the distribution defeated the histogram refinement.
    */
  private def builtinPercentiles(
      narrow: DataFrame,
      specs: Seq[(String, Seq[Double])]
  ): Map[String, Seq[Option[Double]]] = {
    val aggs = specs.zipWithIndex.map { case ((_, ps), i) =>
      percentile(col(s"_c$i"), array(ps.map(lit): _*)) }
    val aggRow = narrow.agg(aggs.head, aggs.tail: _*).head()
    specs.zipWithIndex.map { case ((c, ps), i) =>
      c -> (if (aggRow.isNullAt(i)) ps.map(_ => Option.empty[Double])
            else aggRow.getSeq[Double](i).map(Option(_)))
    }.toMap
  }

  /** The 0-based ranks [[interpolate]] reads for probs `ps` over n values. */
  private def neededRanks(n: Long, ps: Seq[Double]): Seq[Long] =
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
  private def interpolate(n: Long, p: Double, key: Long => Double): Double = {
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

  /** Exact PER-GROUP percentiles for several columns at once — the grouped
    * analog of [[exactPercentilesHist]] (r12, VERDICT r11 #2): the builtin
    * grouped `percentile` buffers every distinct (value, count) of every
    * group into one TypedImperativeAggregate per group whose merge runs in
    * one reduce task per group — the exact shape the r11 round removed for
    * global percentiles, and corpus-sized per group at lake scale. Here
    * the same three histogram-refinement passes run with the group key
    * threaded through (per-group bounds broadcast-joined in, the q125
    * weightedMedian wiring):
    *   1. per-(group, column) count / min / max (collected — group
    *      cardinality is driver-bounded by `maxGroups`);
    *   2. one shared (group, column, bucket) histogram pass; the driver
    *      walks cumulative counts to locate each order statistic's bucket;
    *   3. exact resolve inside the located buckets only, bounded by
    *      `maxResolveRows` (above it, the builtin grouped aggregate runs —
    *      correctness never depends on the distribution).
    *
    * BIT-IDENTICAL to the builtin per group (same exact ranks over the
    * same double ordering, same Percentile.getPercentile interpolation;
    * NaN-free columns only — every oracle-backed caller is by
    * construction). Returns group → column → one Option[Double] per
    * requested prob (None when the group/column has no non-null values).
    */
  def exactGroupedPercentilesHist(
      df: DataFrame,
      groupCol: String,
      specs: Seq[(String, Seq[Double])],
      nBuckets: Int = 4096,
      maxResolveRows: Long = 4000000L,
      maxGroups: Int = 10000
  ): Map[Any, Map[String, Seq[Option[Double]]]] = {
    require(specs.nonEmpty)
    val spark = df.sparkSession
    val narrow = df
      .select(col(groupCol).as("_grp") +:
        specs.zipWithIndex.map { case ((c, _), i) =>
          col(c).cast("double").as(s"_c$i") }: _*)
    val gType = narrow.schema("_grp").dataType
    val vcols = specs.indices.map(i => col(s"_c$i"))
    // pass 1: per-(group, column) bounds
    val bRows = narrow.groupBy("_grp")
      .agg(vcols.flatMap(c => Seq(count(c), min(c), max(c))).head,
        vcols.flatMap(c => Seq(count(c), min(c), max(c))).tail: _*)
      .collect()
    require(bRows.length <= maxGroups,
      s"exactGroupedPercentilesHist: ${bRows.length} groups exceed " +
        s"maxGroups=$maxGroups — use the builtin grouped percentile for " +
        "high-cardinality keys (already parallel there)")
    if (bRows.isEmpty) return Map.empty
    final case class GC(n: Long, lo: Double, width: Double)
    val gcs: Map[(Any, Int), GC] = bRows.flatMap { r =>
      specs.indices.map { i =>
        val n = r.getLong(1 + i * 3)
        val lo = if (r.isNullAt(2 + i * 3)) 0.0 else r.getDouble(2 + i * 3)
        val hi = if (r.isNullAt(3 + i * 3)) 0.0 else r.getDouble(3 + i * 3)
        (r.get(0), i) -> GC(n, lo, if (hi > lo) (hi - lo) / nBuckets else 1.0)
      }
    }.toMap
    // needed 0-based ranks per (group, column)
    val ranksOf: Map[(Any, Int), Seq[Long]] = gcs.map { case (key, gc) =>
      key -> neededRanks(gc.n, specs(key._2)._2)
    }
    def emptyResult: Map[Any, Map[String, Seq[Option[Double]]]] =
      bRows.map(r => r.get(0) -> specs.map { case (c, ps) =>
        c -> ps.map(_ => Option.empty[Double]) }.toMap).toMap
    if (ranksOf.values.forall(_.isEmpty)) return emptyResult
    // pass 2: shared (group, column, bucket) histogram; per-(group, col)
    // bounds ride in through a broadcast params join (the weightedMedian
    // wiring — group keys are arbitrary-typed, so no literal map)
    val paramSchema = StructType(Seq(
      StructField("_grp", gType), StructField("_ci", IntegerType),
      StructField("_lo", DoubleType), StructField("_w", DoubleType)))
    val paramRows = gcs.toSeq.map { case ((g, i), gc) =>
      Row(g, i, gc.lo, gc.width)
    }
    val params = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(paramRows, 1), paramSchema))
    val ex = narrow
      .select(col("_grp") +:
        Seq(posexplode(array(vcols: _*)).as(Seq("_ci", "_v"))): _*)
      .filter(col("_v").isNotNull)
      .join(params, Seq("_grp", "_ci"))
    val bucketOf = least(lit(nBuckets - 1), greatest(lit(0),
      floor((col("_v") - col("_lo")) / col("_w")).cast("int")))
    val hist = ex.groupBy(col("_grp"), col("_ci"), bucketOf.as("_b"))
      .agg(count(lit(1)).as("_n"))
      .collect()
      .groupBy(r => (r.get(0), r.getInt(1)))
      .map { case (key, rows) =>
        key -> rows.map(r => (r.getInt(2), r.getLong(3))).sortBy(_._1)
      }
    // driver walk: (group, ci, rank) -> (bucket, rankInBucket)
    val perRank =
      scala.collection.mutable.Map.empty[(Any, Int, Long), (Int, Long)]
    val neededBuckets = scala.collection.mutable
      .Map.empty[(Any, Int), scala.collection.mutable.Set[Int]]
    var resolveRows = 0L
    for ((key, ranks) <- ranksOf if ranks.nonEmpty) {
      val bs = hist.getOrElse(key, Array.empty[(Int, Long)])
      var cum = 0L
      var ri = 0
      val counted = scala.collection.mutable.Set.empty[Int]
      for ((b, c) <- bs if ri < ranks.length) {
        while (ri < ranks.length && ranks(ri) < cum + c) {
          perRank((key._1, key._2, ranks(ri))) = (b, ranks(ri) - cum)
          neededBuckets.getOrElseUpdate(key,
            scala.collection.mutable.Set.empty[Int]) += b
          if (!counted.contains(b)) { counted += b; resolveRows += c }
          ri += 1
        }
        cum += c
      }
    }
    val keys: Map[(Any, Int, Long), Double] =
      if (resolveRows <= maxResolveRows) {
        // pass 3: exact resolve inside the located buckets only
        val needSchema = StructType(Seq(
          StructField("_grp", gType), StructField("_ci", IntegerType),
          StructField("_b", IntegerType)))
        val needRows = neededBuckets.toSeq.flatMap { case ((g, i), bs) =>
          bs.toSeq.map(b => Row(g, i, b))
        }
        val need = broadcast(spark.createDataFrame(
          spark.sparkContext.parallelize(needRows, 1), needSchema))
        val vals = ex
          .withColumn("_b", bucketOf)
          .join(need, Seq("_grp", "_ci", "_b"), "left_semi")
          .groupBy(col("_grp"), col("_ci"), col("_b"), col("_v"))
          .agg(count(lit(1)).as("_n"))
          .collect()
          .groupBy(r => (r.get(0), r.getInt(1), r.getInt(2)))
          .map { case (key, rows) =>
            key -> rows.map(r => (r.getDouble(3), r.getLong(4)))
              .sortBy(_._1)(Ordering.fromLessThan(
                (a, b) => java.lang.Double.compare(a, b) < 0))
          }
        perRank.toMap.map { case ((g, ci, rank), (b, rib)) =>
          val vs = vals((g, ci, b))
          var rem = rib
          var vi = 0
          while (rem >= vs(vi)._2) { rem -= vs(vi)._2; vi += 1 }
          (g, ci, rank) -> vs(vi)._1
        }
      } else {
        // distribution defeated the refinement — builtin grouped aggregate
        val aggRow = narrow.groupBy("_grp").agg(
          specs.indices.map(i =>
            percentile(vcols(i), array(specs(i)._2.map(lit): _*))).head,
          specs.indices.map(i =>
            percentile(vcols(i), array(specs(i)._2.map(lit): _*))).tail: _*)
          .collect()
        return aggRow.map { r =>
          r.get(0) -> specs.zipWithIndex.map { case ((c, ps), i) =>
            c -> (if (r.isNullAt(1 + i)) ps.map(_ => Option.empty[Double])
                  else r.getSeq[Double](1 + i).map(Option(_)))
          }.toMap
        }.toMap
      }
    bRows.map { r =>
      val g = r.get(0)
      g -> specs.zipWithIndex.map { case ((c, ps), ci) =>
        val n = gcs((g, ci)).n
        c -> ps.map(p =>
          if (n == 0) None
          else Some(interpolate(n, p, rank => keys((g, ci, rank)))))
      }.toMap
    }.toMap
  }

  /** A11: `nunique()` per column — exact by default; at lake scale flip
    * `approximate=true` for one-pass HLL sketches.
    */
  def nunique(df: DataFrame, approximate: Boolean = false): DataFrame = {
    val exprs = df.columns.toSeq.map { c =>
      (if (approximate) approx_count_distinct(col(c))
       else countDistinct(col(c))).as(c)
    }
    df.agg(exprs.head, exprs.tail: _*)
  }

  /** A12: full Pearson correlation matrix over the numeric columns — the
    * pandas `.corr()` analog, with pandas' PAIRWISE null deletion: each
    * cell excludes only the rows where that specific pair has a null
    * (Spark's `corr(a,b)` aggregate does exactly that). All d·(d+1)/2
    * cells run in ONE aggregate pass. Output rows keyed by `index`.
    */
  def corrMatrix(spark: SparkSession, df: DataFrame): DataFrame = {
    val cols = Cleaning.numericCols(df)
    require(cols.nonEmpty, "no numeric columns")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if j >= i
    } yield (i, j)
    val exprs = pairs.map { case (i, j) =>
      corr(col(cols(i)).cast("double"), col(cols(j)).cast("double"))
    }
    val r = df.agg(exprs.head, exprs.tail: _*).head()
    val cell = pairs.zipWithIndex.map { case (p, k) =>
      p -> (if (r.isNullAt(k)) Double.NaN else r.getDouble(k))
    }.toMap
    def at(i: Int, j: Int): Double =
      if (j >= i) cell((i, j)) else cell((j, i))
    val schema = StructType(
      StructField("index", StringType) +:
        cols.map(c => StructField(c, DoubleType)))
    val rows = cols.zipWithIndex.map { case (c, i) =>
      Row.fromSeq(c +: cols.indices.map(j => at(i, j)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Listwise-deletion variant via Spark ML's one-pass vector correlation —
    * faster for very wide d, but drops any row with a null in ANY column
    * (not the pandas semantics).
    */
  def corrMatrixListwise(spark: SparkSession, df: DataFrame): DataFrame = {
    val cols = Cleaning.numericCols(df)
    require(cols.nonEmpty, "no numeric columns")
    val assembled = new VectorAssembler()
      .setInputCols(cols.toArray)
      .setOutputCol("_graft_features")
      .setHandleInvalid("skip")
      .transform(df.select(cols.map(col): _*))
    val m = Correlation
      .corr(assembled, "_graft_features")
      .head()
      .getAs[org.apache.spark.ml.linalg.Matrix](0)
    val schema = StructType(
      StructField("index", StringType) +:
        cols.map(c => StructField(c, DoubleType)))
    val rows = cols.zipWithIndex.map { case (c, i) =>
      Row.fromSeq(c +: cols.indices.map(j => m(i, j)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** A13 analog: the engine's size estimate for a plan's output (pandas
    * `memory_usage(deep=True)` has no distributed equivalent; Catalyst
    * statistics are the planning-time counterpart — report-only).
    */
  def estimatedSizeInBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** W1: top-k rows by absolute value of a column, deterministic tie-break. */
  def topKByAbs(df: DataFrame, c: String, k: Int, tieBreak: String): DataFrame =
    df.orderBy(abs(col(c)).desc, col(tieBreak).asc).limit(k)

  /** Distributed weighted median per group — the LOWER weighted median:
    * the smallest value v with 2·W(≤v) ≥ W — WITHOUT a per-group global
    * sort.
    *
    * A cumulative-weight window partitioned by the group column is the
    * textbook formulation, but with a handful of groups it is a handful
    * of tasks each sorting its whole group (the q110 lesson generalized:
    * never put order-statistics machinery on the per-row table). Instead,
    * histogram refinement:
    *   1. one aggregate: per-group total weight + [min,max] bounds;
    *   2. one aggregate: per-group `nBuckets` weighted histogram; the
    *      driver walks ≤ groups×nBuckets cumulative rows to locate each
    *      group's median bucket and the weight before it;
    *   3. exact resolve INSIDE the located buckets only (≈1/nBuckets of
    *      the rows): distinct-value weights + a per-group window over
    *      that small remainder.
    * The decision predicate is pure integer arithmetic on long weights
    * (2·cum ≥ W), so the answer is independent of the float bucketing —
    * which is why a DuckDB oracle can recompute it straight from the
    * definition (q125).
    *
    * Group cardinality is driver-bounded (two collects of
    * groups(×nBuckets) rows) — guarded by `maxGroups`; for
    * high-cardinality keys use the plain window form, which is already
    * parallel there.
    */
  def weightedMedian(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      weightCol: String,
      nBuckets: Int = 1024,
      maxGroups: Int = 10000
  ): DataFrame = {
    val spark = df.sparkSession
    val base = df.select(col(groupCol).as("g"),
        col(valueCol).cast("double").as("v"),
        col(weightCol).cast("long").as("wt"))
      .filter(col("v").isNotNull && col("wt") > 0)
    val gType = base.schema("g").dataType

    val bounds = base.groupBy("g")
      .agg(sum("wt").as("W"), min("v").as("lo"), max("v").as("hi"))
      .collect()
    require(bounds.length <= maxGroups,
      s"weightedMedian: ${bounds.length} groups exceed maxGroups=$maxGroups" +
        " — use a cumulative-weight window for high-cardinality keys")
    if (bounds.isEmpty)
      return base.select(col("g").as(groupCol),
        col("v").as("weighted_median")).limit(0)

    val paramSchema = StructType(Seq(
      StructField("g", gType), StructField("W", LongType),
      StructField("lo", DoubleType), StructField("width", DoubleType)))
    val paramRows = bounds.toSeq.map { r =>
      val lo = r.getDouble(2); val hi = r.getDouble(3)
      Row(r.get(0), r.getLong(1), lo,
        if (hi > lo) (hi - lo) / nBuckets else 1.0)
    }
    val params = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(paramRows, 1), paramSchema))
    val bucketOf = least(lit(nBuckets - 1), greatest(lit(0),
      floor((col("v") - col("lo")) / col("width")).cast("int")))

    val hist = base.join(params, "g")
      .groupBy(col("g"), bucketOf.as("_b"))
      .agg(sum("wt").as("bw"))
      .collect()
    // driver walk: first bucket where the cumulative weight crosses W/2
    val byG = hist.groupBy(r => r.get(0))
    val located = bounds.toSeq.map { r =>
      val g = r.get(0); val w = r.getLong(1)
      val bs = byG.getOrElse(g, Array.empty)
        .map(h => (h.getInt(1), h.getLong(2))).sortBy(_._1)
      var cum = 0L; var bStar = bs.last._1; var before = 0L
      var found = false
      for ((b, bw) <- bs if !found) {
        if (2 * (cum + bw) >= w) { bStar = b; before = cum; found = true }
        cum += bw
      }
      (g, w, bStar, before)
    }
    val targetSchema = StructType(Seq(
      StructField("g", gType), StructField("W", LongType),
      StructField("bstar", IntegerType), StructField("wbefore", LongType)))
    val targets = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(
        located.map(t => Row(t._1, t._2, t._3, t._4)), 1), targetSchema))

    val resolved = base.join(params.select("g", "lo", "width"), "g")
      .join(targets, "g")
      .filter(bucketOf === col("bstar"))
      .groupBy(col("g"), col("W"), col("wbefore"), col("v"))
      .agg(sum("wt").as("vw"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("v")
    resolved
      .withColumn("cw", sum("vw").over(wCum))
      .filter(lit(2) * (col("wbefore") + col("cw")) >= col("W"))
      .groupBy("g").agg(min("v").as("weighted_median"))
      .select(col("g").as(groupCol), col("weighted_median"))
  }

  /** A/B experiment readout: Welch's t STATISTIC (and Welch–Satterthwaite
    * degrees of freedom) of `valueCol` between two variants, per group —
    * the experiment-analysis primitive, stopping at the statistic (the
    * p-value lookup is a driver-side table, not a data-parallel concern).
    *
    * Engine-exact: values are rounded to 6 dp and routed through
    * DECIMAL(18,6) — sums and sums of squares (width 37, still exact) are
    * then order-independent, so partitioning cannot change the moments;
    * the t/df formulas are fixed-shape IEEE doubles on top (sqrt is
    * correctly rounded everywhere). One aggregate pass with conditional
    * sums; groups × 7 numbers is all that leaves the shuffle.
    */
  def abWelchT(
      df: DataFrame,
      groupCol: String,
      variantCol: org.apache.spark.sql.Column,
      valueCol: String
  ): DataFrame = {
    val x = round(col(valueCol).cast("double"), 6).cast(DecimalType(18, 6))
    val isA = variantCol === 0
    val isB = variantCol === 1
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val g = df
      .filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(
        count(when(isA, 1)).cast("long").as("n_a"),
        count(when(isB, 1)).cast("long").as("n_b"),
        sum(when(isA, x)).as("_sxa"), sum(when(isA, x * x)).as("_sxxa"),
        sum(when(isB, x)).as("_sxb"), sum(when(isB, x * x)).as("_sxxb"))
      .withColumn("_ma", d(col("_sxa")) / d(col("n_a")))
      .withColumn("_mb", d(col("_sxb")) / d(col("n_b")))
      .withColumn("_va",
        (d(col("_sxxa")) - d(col("_sxa")) * d(col("_sxa")) / d(col("n_a")))
          / d(col("n_a") - 1))
      .withColumn("_vb",
        (d(col("_sxxb")) - d(col("_sxb")) * d(col("_sxb")) / d(col("n_b")))
          / d(col("n_b") - 1))
      .withColumn("_sea", col("_va") / d(col("n_a")))
      .withColumn("_seb", col("_vb") / d(col("n_b")))
    g.select(col(groupCol), col("n_a"), col("n_b"),
        round(col("_ma"), 6).as("mean_a"),
        round(col("_mb"), 6).as("mean_b"),
        round((col("_ma") - col("_mb")) / sqrt(col("_sea") + col("_seb")), 4)
          .as("t_stat"),
        round(((col("_sea") + col("_seb")) * (col("_sea") + col("_seb")))
          / (col("_sea") * col("_sea") / d(col("n_a") - 1)
            + col("_seb") * col("_seb") / d(col("n_b") - 1)), 4)
          .as("df_welch"))
      .orderBy(groupCol)
  }

  /** Exact power-of-two decay table 2^−k for k = 0..maxAge: (1 / 2^k) is
    * an exact double, and its plain-decimal rendering is an exact DECIMAL
    * literal, so BOTH engines carry identical constants (no runtime pow).
    */
  def halfLifeDecays(maxAge: Int): Seq[(Int, Double)] =
    (0 to maxAge).map(k => k -> 1.0 / (1L << k))

  /** Time-decayed engagement score per user: Σ value · 2^−age_days with a
    * one-day half-life, ages clamped at `maxAge` (beyond which the weight
    * is ≤ 2^−30 ≈ noise) and anchored at the corpus' newest event day —
    * the classic recency-weighted activity feature for churn/ranking
    * models, restated so engines can't disagree: event days are integer
    * µs-division epoch days, decays come from [[halfLifeDecays]]' exact
    * constant table (a broadcast literal in Spark, a CASE of the same
    * literals in the twin), and per-user sums route round-9 contributions
    * through DECIMAL (order-independent).
    *
    * Scale shape: one scan + one (user, partial-sum) aggregate; the
    * anchor day is a broadcast 1-row aggregate.
    */
  def timeDecayedScore(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      valueCol: String,
      maxAge: Int = 30
  ): DataFrame = {
    val decayMap = typedLit(halfLifeDecays(maxAge).toMap)
    val e = df
      .filter(col(valueCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol), col(valueCol),
        expr(s"unix_micros(CAST($tsCol AS TIMESTAMP)) DIV 86400000000")
          .as("_day"))
    val anchor = broadcast(e.agg(max(col("_day")).as("_maxday")))
    e.crossJoin(anchor)
      .withColumn("_age",
        least(col("_maxday") - col("_day"), lit(maxAge.toLong)).cast("int"))
      .withColumn("_contrib",
        round(col(valueCol).cast("double") * element_at(decayMap, col("_age")), 9)
          .cast(DecimalType(18, 9)))
      .groupBy(col(userCol))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("_contrib")).cast("double"), 6).as("engagement"))
      .orderBy(userCol)
  }

  /** Mann-Whitney U readout — the nonparametric companion to [[abWelchT]]:
    * per group, the rank-sum U statistic of `valueCol` between two
    * variants and its normal-approximation z (no tie correction in the
    * variance; ties in the DATA are still handled exactly via average
    * ranks). Average ranks are multiples of 0.5, so they route through
    * DECIMAL(18,1) exactly — rank sums are order-independent — and the
    * z formula is fixed-shape IEEE on top.
    *
    * Scale shape: one rank window PER GROUP (sort-based, linear per
    * partition — never a global window) + one aggregate; groups × 5
    * numbers leave the shuffle.
    */
  def mannWhitneyU(
      df: DataFrame,
      groupCol: String,
      variantCol: org.apache.spark.sql.Column,
      valueCol: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val wRank = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
    val wTies = Window.partitionBy(col(groupCol), col(valueCol))
    val ranked = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol), variantCol.as("_v"), col(valueCol))
      .withColumn("_r", rank().over(wRank))
      .withColumn("_ties", count(lit(1)).over(wTies))
      .withColumn("_ar",
        (d(col("_r")) + d(col("_ties") - 1) / lit(2.0).cast("double"))
          .cast(DecimalType(18, 1)))
    val g = ranked.groupBy(col(groupCol))
      .agg(
        count(when(col("_v") === 0, 1)).cast("long").as("n_a"),
        count(when(col("_v") === 1, 1)).cast("long").as("n_b"),
        sum(when(col("_v") === 0, col("_ar"))).as("_sa"))
      .withColumn("_ua",
        d(col("_sa")) - d(col("n_a")) * d(col("n_a") + 1)
          / lit(2.0).cast("double"))
    g.select(col(groupCol), col("n_a"), col("n_b"),
        col("_ua").as("u_a"),
        (d(col("n_a")) * d(col("n_b")) - col("_ua")).as("u_b"),
        round((col("_ua") - d(col("n_a")) * d(col("n_b"))
            / lit(2.0).cast("double"))
          / sqrt(d(col("n_a")) * d(col("n_b"))
            * d(col("n_a") + col("n_b") + 1) / lit(12.0).cast("double")), 4)
          .as("z_approx"))
      .orderBy(groupCol)
  }

  /** Benford's-law expected first-digit shares, rounded to 6 dp so the
    * constants inline as short decimal literals that parse to identical
    * doubles in every IEEE engine (no runtime log10 anywhere).
    */
  val benfordShares: Seq[(Int, Double)] = (1 to 9).map { d =>
    d -> BigDecimal(math.log10(1.0 + 1.0 / d))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Benford first-digit audit of a positive monetary column — the classic
    * fabricated-data / anomalous-feed screen: observed first-digit counts
    * vs the Benford expectation, with per-digit chi-square contributions.
    *
    * Engine-portable by construction: values become integer cents via
    * round(x·100) (half-away == HALF_UP for the non-negative domain, the
    * q124 argument), the first digit is the first character of the
    * BIGINT's decimal rendering (integer formatting is identical across
    * engines, unlike float formatting), and the expected shares are
    * round-6 literals baked into BOTH engines' plans. One scan + a
    * 9-row aggregate; the total rides along by broadcast.
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val shareMap = typedLit(benfordShares.toMap)
    val digits = df
      .select((round(col(valueCol).cast("double") * 100.0, 0))
        .cast("long").as("_cents"))
      .filter(col("_cents") > 0)
      .select(substring(col("_cents").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).cast("long").as("observed"))
    val total = broadcast(digits.agg(sum(col("observed")).cast("long").as("_n")))
    digits.crossJoin(total)
      .withColumn("_p", element_at(shareMap, col("digit")))
      .withColumn("_e", col("_n").cast("double") * col("_p"))
      .select(col("digit"), col("observed"),
        round(col("_e"), 4).as("expected"),
        round(((col("observed").cast("double") - col("_e"))
          * (col("observed").cast("double") - col("_e"))) / col("_e"), 6)
          .as("chi2_part"))
      .orderBy("digit")
  }

  /** A13: `df.memory_usage(deep=True)` analog — per-column DATA bytes under
    * a deterministic deep-size model (fixed-width types: width × non-null
    * count; strings/binary: exact UTF-8/byte length sum; arrays: element
    * width × total element count). ONE aggregate pass over the table, then
    * a `stack` reshape of the single agg row — no collect, no per-column
    * scans (pandas rescans per column). The model is engine-portable pure
    * arithmetic, so the whole readout is DuckDB-oracle-able (q170) —
    * unlike pandas' Python-object overhead accounting, which measures the
    * CPython allocator, not the data.
    */
  def memoryUsage(df: DataFrame): DataFrame = {
    def widthOf(dt: DataType): Int = dt match {
      case IntegerType | FloatType | DateType => 4
      case ShortType => 2
      case ByteType | BooleanType => 1
      case _ => 8 // long/double/timestamp/decimal(≤18)
    }
    def bytesExpr(f: StructField): org.apache.spark.sql.Column = f.dataType match {
      case StringType | BinaryType =>
        coalesce(sum(octet_length(col(f.name)).cast("long")), lit(0L))
      case ArrayType(et, _) =>
        coalesce(sum((size(col(f.name)) * widthOf(et)).cast("long")), lit(0L))
      case dt => count(col(f.name)) * lit(widthOf(dt).toLong)
    }
    val fields = df.schema.fields
    val aggs = fields.flatMap(f => Seq(
      count(col(f.name)).cast("long").as(s"_n_${f.name}"),
      bytesExpr(f).cast("long").as(s"_b_${f.name}")))
    val stackArgs = fields
      .map(f => s"'${f.name}', _n_${f.name}, _b_${f.name}").mkString(", ")
    df.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
      .selectExpr(s"stack(${fields.length}, $stackArgs) " +
        "as (column_name, n_values, data_bytes)")
      .orderBy("column_name")
  }

  /** A13's physical half: per-table size statistics from parquet FOOTERS
    * only — file count, row count, compressed/uncompressed bytes — plus
    * Catalyst's optimized-plan size estimate (`stats.sizeInBytes`, what
    * the broadcast-join threshold consults). Footers are read on the
    * EXECUTORS (file list distributed, ~KB per footer); no data pages are
    * touched, so this is the petabyte-lake "du" that costs seconds.
    * Engine-internal estimates aren't cross-engine-comparable, so this
    * half is spec-pinned (SummarySpec) rather than DuckDB-oracled.
    */
  def sizeStats(spark: SparkSession, paths: Map[String, String]): DataFrame = {
    import spark.implicits._
    val rows = paths.toSeq.sortBy(_._1).map { case (name, p) =>
      val df = spark.read.parquet(p)
      val planBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
      val files = df.inputFiles.toIndexedSeq
      val m = spark.createDataset(files)
        .repartition(math.min(files.length,
          spark.sparkContext.defaultParallelism))
        .mapPartitions { it =>
          val conf = new org.apache.hadoop.conf.Configuration()
          it.map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(f), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              var nRows = 0L; var comp = 0L; var unc = 0L
              r.getFooter.getBlocks.forEach { b =>
                nRows += b.getRowCount
                b.getColumns.forEach { c =>
                  comp += c.getTotalSize
                  unc += c.getTotalUncompressedSize
                }
              }
              (nRows, comp, unc)
            } finally r.close()
          }
        }
        .toDF("r", "c", "u")
        .agg(coalesce(sum("r"), lit(0L)), coalesce(sum("c"), lit(0L)),
          coalesce(sum("u"), lit(0L)))
        .head()
      (name, files.length.toLong, m.getLong(0), m.getLong(1), m.getLong(2),
        planBytes)
    }
    rows.toDF("table_name", "n_files", "n_rows", "compressed_bytes",
      "uncompressed_bytes", "plan_est_bytes")
  }

  /** Dominant eigenvector/eigenvalue of the columns' correlation matrix by
    * POWER ITERATION — the first principal direction of the numeric
    * columns without any sklearn/ML dependency (the spectral readout next
    * to q44's matrix; [[FactorAnalysisEM]] stays the full factor model).
    *
    * Engine-portable by construction (the q184 driver-side-iteration
    * discipline): the ONE distributed pass collects exact DECIMAL-routed
    * sufficient statistics (count, per-column sums, pairwise product sums
    * — order-independent, so partitioning cannot perturb them); every
    * correlation entry is then one fixed-shape IEEE expression over those
    * exact operands (never an engine corr() accumulator), and the
    * `iters` matvec+normalize steps run ascending-index left-associated
    * folds that a DuckDB recursive CTE replays verbatim — q220
    * hash-checks components AND eigenvalue with zero tolerance. Rows with
    * a null in any column are dropped (complete-case, both engines).
    *
    * Scale shape: one partial-aggregated scan (k + k(k+1)/2 + 1 exact
    * aggregates) to a single row; the k×k iteration is driver-side math
    * on that row (k is the column count — tens at most).
    */
  def dominantEigen(
      spark: SparkSession,
      df: DataFrame,
      cols: Seq[String],
      iters: Int = 16,
      decScale: Int = 2
  ): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val k = cols.length
    val dec = DecimalType(18, decScale)
    val complete = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    val pairs = for { i <- 0 until k; j <- i until k } yield (i, j)
    val aggs =
      count(lit(1)).cast(LongType).as("_n") +:
        (cols.map(c => sum(col(c).cast(dec)).as(s"_s$c")) ++
          pairs.map { case (i, j) =>
            sum((col(cols(i)).cast(dec) * col(cols(j)).cast(dec)))
              .as(s"_p${i}_$j")
          })
    val row = complete.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0).toDouble
    val s = Array.tabulate(k)(i => row.getDecimal(1 + i).doubleValue())
    val pIdx = pairs.zipWithIndex.toMap
    val p = Array.tabulate(k, k) { (i, j) =>
      val key = if (j >= i) (i, j) else (j, i)
      row.getDecimal(1 + k + pIdx(key)).doubleValue()
    }
    // corr(i,j) as ONE fixed-shape double expression over exact operands —
    // the DuckDB twin writes the identical expression text
    val m = Array.tabulate(k, k) { (i, j) =>
      (n * p(i)(j) - s(i) * s(j)) /
        (math.sqrt(n * p(i)(i) - s(i) * s(i)) *
          math.sqrt(n * p(j)(j) - s(j) * s(j)))
    }
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(k) { i =>
        var acc = 0.0
        var j = 0
        while (j < k) { acc += m(i)(j) * v(j); j += 1 } // ascending-j fold
        acc
      }
    def nrm(r: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < k) { acc += r(i) * r(i); i += 1 }
      math.sqrt(acc)
    }
    var v = Array.fill(k)(1.0)
    (0 until iters).foreach { _ =>
      val r = matvec(v)
      val d = nrm(r)
      v = r.map(_ / d)
    }
    val lambda = nrm(matvec(v))
    val out = cols.zipWithIndex.map { case (c, i) => Row(c, v(i), lambda) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      StructType(Seq(StructField("index", StringType),
        StructField("loading", DoubleType),
        StructField("eigenvalue", DoubleType))))
  }
}
