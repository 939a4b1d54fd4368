package graft.analytics

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.Cleaning
import graft.util.DriverBudget

/** Gold stage: bootstrap confidence-interval estimation.
  * Mirrors python-service/scripts/monte_carlo.py:237-285: first `maxColumns`
  * numeric columns in schema order, median-filled, ≥21 non-null values,
  * `nSim` resamples of the column mean, then mean / population-std /
  * 2.5th–97.5th percentile (linear interpolation) of the resample means.
  *
  * Two execution strategies behind one result schema:
  *  - driver side — exact multinomial resampling of the collected
  *    columns. Honest and fast at reference scale (≤ ~1M rows per column).
  *  - `poisson` — distributed Poisson(1) bootstrap: every partition keeps a
  *    `nSim`-wide running (weightedSum, weight) pair per replicate and a
  *    single treeReduce combines them. One pass over the data for ALL
  *    columns and ALL replicates, no driver materialization — this is the
  *    100-TB path. Poisson(1) weights approximate multinomial resampling
  *    (classic scale-out bootstrap trick); statistically equivalent CIs.
  *
  * `apply` sizes the driver path with one `count()` of the input, which
  * is also the Poisson path's row count for the `drawBudget` guard. Rows
  * within the one [[graft.util.DriverBudget]] → one `collect()` of the
  * target columns; the driver fills each column's nulls with its exact
  * median, sorts it and resamples. One row more → the Poisson path: median
  * fill, one pass. A frame past the gate ships no rows to the driver.
  * RNG differs from NumPy's by construction — parity is statistical
  * (CI-overlap tests, SURVEY.md §5.2), not bitwise.
  */
object Bootstrap {

  val resultSchema: StructType = StructType(
    Seq(
      StructField("index", StringType),
      StructField("mean_estimate", DoubleType),
      StructField("std_estimate", DoubleType),
      StructField("ci_lower_95", DoubleType),
      StructField("ci_upper_95", DoubleType),
      StructField("simulations", DoubleType)
    )
  )

  /** Distributed-path cost ceiling, in buffer-slot updates
    * (rows × nSim × 2·cols). Calibration: the x41 production point
    * (60M rows × nSim 1000 × k 4 ≈ 4.8·10¹¹ updates) runs ~36 s on
    * local[32] through the fused aggregate; 10¹² is ~1-2 minutes. The
    * guard exists because upstream fan-out silently multiplies rows —
    * the r8 gold-stage trap: the traffic⋈weather merge fans traffic out
    * ~20×, so a 100k-row pipeline input hands Bootstrap ~2M merged rows.
    */
  val DefaultDrawBudget: Long = 1000000000000L

  /** Largest nSim whose distributed-path cost fits `budget` at this input
    * shape (floored at 100 replicates — below that the CI itself is
    * junk and the caller should rethink the input).
    */
  def maxSimForBudget(
      rows: Long, cols: Int, budget: Long = DefaultDrawBudget): Int =
    math.min(65536L,
      math.max(100L, budget / math.max(1L, rows * 2L * cols))).toInt

  def apply(
      spark: SparkSession,
      df: DataFrame,
      nSim: Int = 5000,
      maxColumns: Int = 8,
      seed: Long = 42L,
      drawBudget: Long = DefaultDrawBudget
  ): DataFrame = counted(spark, df, df.count(), nSim, maxColumns, seed, drawBudget)

  /** [[apply]] over `df` of `rows` rows (Pipeline's own count). */
  private[graft] def counted(spark: SparkSession, df: DataFrame, rows: => Long,
      nSim: Int, maxColumns: Int, seed: Long, drawBudget: Long): DataFrame = {
    val cols = Cleaning.numericCols(df)
    if (cols.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], resultSchema)
    val target = cols.take(maxColumns)
    // cast once up front: the driver path reads with getDouble (a BIGINT
    // column would ClassCastException) and na.fill would silently truncate
    // a double median into an integer column
    val data = df.select(target.map(c => col(c).cast("double")): _*)
    // one count is the gate and the Poisson path's row count; the rows are
    // read only when they fit the driver
    val n = rows
    if (n <= DriverBudget.bytes / DriverBudget.rowBytes(target.length))
      driverSide(spark, target, filledSorted(data), nSim, seed)
    else {
      val filled = medianFill(data, target)
      // LOUD fan-out guard (VERDICT r8 #8): a silently-multiplied input
      // (the ~20× traffic⋈weather merge) must not walk into an
      // hours-long replicate loop — fail naming the knobs instead
      val updates = n * nSim.toLong * 2L * target.length
      require(updates <= drawBudget,
        s"Bootstrap: $n rows x nSim=$nSim x ${target.length} cols = " +
          s"$updates slot updates exceeds drawBudget=$drawBudget. An " +
          s"upstream join may have fanned the input out (the gold-stage " +
          s"trap: traffic-weather merge multiplies rows ~20x). Derate " +
          s"nSim to <= ${maxSimForBudget(n, target.length, drawBudget)} " +
          s"(Bootstrap.maxSimForBudget), or raise drawBudget deliberately.")
      poisson(spark, filled, target, nSim, seed)
    }
  }

  /** Median-fill all numeric columns (monte_carlo.py:265: fillna(median)).
    * A cheap null-count pass runs first: exact medians are only computed
    * for columns that actually contain nulls — a fill on a null-free column
    * is a no-op.
    */
  def medianFill(df: DataFrame, cols: Seq[String]): DataFrame = {
    val nullCounts = df
      .agg(count(when(col(cols.head).isNull, 1)),
        cols.tail.map(c => count(when(col(c).isNull, 1))): _*)
      .head()
    val withNulls = cols.zipWithIndex.filter { case (_, i) =>
      nullCounts.getLong(i) > 0
    }.map(_._1)
    Summary.fillMedians(df, withNulls)
  }

  /** The driver path's columns from one collect of `data`: each sorted,
    * with its nulls filled by the column's exact median — the value
    * [[Summary.fillMedians]] would fill (its kernel reads -0.0 as 0.0,
    * hence the + 0.0). A column with no values stays empty. The collected
    * rows are dropped on return, before the resampling.
    */
  private def filledSorted(data: DataFrame): Seq[Array[Double]] = {
    val rows = data.collect()
    data.columns.indices.map { i =>
      val values = rows.iterator.filter(!_.isNullAt(i)).map(_.getDouble(i)).toArray
      java.util.Arrays.sort(values)
      val nulls = rows.length - values.length
      if (nulls == 0 || values.isEmpty) values
      else {
        val median = OrderStats.interpolate(values.length, 0.5, r => values(r.toInt) + 0.0)
        val all = values ++ Array.fill(nulls)(median)
        java.util.Arrays.sort(all)
        all
      }
    }
  }

  /** Exact multinomial bootstrap of driver-resident columns (the
    * reference-scale path): `columns(ci)` holds `cols(ci)`'s filled values,
    * sorted, so the result depends on the column's values only, not on the
    * row order the upstream shuffle join happened to write. Columns
    * resample in parallel driver threads with a per-column SplitMix64
    * stream (deterministic regardless of scheduling); the inner loop is
    * branch-free — ~1ns/draw, so 5000×100k×8 finishes in seconds.
    */
  private def driverSide(
      spark: SparkSession,
      cols: Seq[String],
      columns: Seq[Array[Double]],
      nSim: Int,
      seed: Long
  ): DataFrame = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = cols.zip(columns).zipWithIndex.map { case ((c, values), ci) =>
      Future {
        if (values.length <= 20) None // monte_carlo.py:271
        else {
          var state = seed + 0x9E3779B97F4A7C15L * (ci + 1)
          val len = values.length
          val means = Array.tabulate(nSim) { _ =>
            var s = 0.0
            var i = 0
            while (i < len) {
              // SplitMix64 step
              state += 0x9E3779B97F4A7C15L
              var z = state
              z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
              z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
              z = z ^ (z >>> 31)
              s += values(((z >>> 1) % len).toInt)
              i += 1
            }
            s / len
          }
          Some(statsRow(c, means, nSim))
        }
      }
    }
    val rows = Await.result(Future.sequence(futures), Duration.Inf).flatten
    toDF(spark, rows)
  }

  /** Unit-weight (deterministic) twin: every row gets weight 1 in every
    * replicate, so each replicate mean IS the (median-filled) column mean —
    * std collapses to 0 and both CI bounds to the mean. The replicate
    * array still flows through the real stats path (`statsRow` /
    * `percentileLinear`), and the mean is DECIMAL-routed, so a SQL oracle
    * in another engine hash-matches this end of the bootstrap contract;
    * the stochastic paths are pinned by CI-overlap tests against it.
    */
  def fixedWeight(
      spark: SparkSession,
      df: DataFrame,
      nSim: Int = 5000,
      maxColumns: Int = 8
  ): DataFrame = {
    val cols = Cleaning.numericCols(df)
    if (cols.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], resultSchema)
    val filled = medianFill(
      df.select(cols.map(c => col(c).cast("double")): _*), cols)
    val target = cols.take(maxColumns)
    val aggs = target.flatMap(c => Seq(
      graft.queries.Q.sumExact(col(c), 6).as(s"_sum_$c"),
      count(col(c)).as(s"_n_$c")))
    val row = filled.agg(aggs.head, aggs.tail: _*).head()
    val rows = target.zipWithIndex.flatMap { case (c, i) =>
      val n = row.getLong(2 * i + 1)
      if (n <= 20) None // monte_carlo.py:271
      else {
        // the replicate distribution is degenerate (every replicate = the
        // column mean), so a single-element array through statsRow is
        // mathematically identical to nSim copies — and float-exact, where
        // summing nSim equal doubles would drift the mean by an ulp and
        // could flip the 4-decimal rounding at a .00005 boundary
        Some(statsRow(c, Array(row.getDouble(2 * i) / n), nSim))
      }
    }
    toDF(spark, rows)
  }

  /** P(X ≤ k) for Poisson(1), k = 0..7 — the inverse-CDF table shared by
    * the RDD bootstrap loop and the portable column-expression form (whose
    * DuckDB oracle inlines the SAME literals; Scala's Double.toString is
    * shortest-roundtrip decimal, so both engines parse back the identical
    * doubles).
    */
  val PoissonCdf: Array[Double] = Array(0.36787944117144233, 0.7357588823428847,
    0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
    0.9994058151824183, 0.9999167588507119, 0.9999832794316678)

  /** The exact inverse-CDF walk (Poisson(1), k = 0..8). */
  private[graft] def poissonInvWalk(u: Double): Int = {
    var i = 0
    while (i < PoissonCdf.length && u > PoissonCdf(i)) i += 1
    i
  }

  /** 4096-cell monotone lookup on the uniform's top 12 bits: the table
    * value when the whole cell agrees on the weight, -1 → exact walk
    * (~0.2% of draws). Shared by the RDD loop and the seeded aggregate —
    * identical weights by construction.
    */
  private[graft] lazy val poissonWTable: Array[Byte] = Array.tabulate(1 << 12) { c =>
    val lo = poissonInvWalk(c / 4096.0)
    // largest double strictly below (c+1)/4096
    val hi = poissonInvWalk(java.lang.Math.nextDown((c + 1) / 4096.0))
    if (lo == hi) lo.toByte else -1: Byte
  }

  /** ENGINE-PORTABLE distributed Poisson bootstrap — q41's registered form
    * since r6 (VERDICT r5 #1): the same single-pass all-columns×replicates
    * shape as [[poisson]], with every random draw replaced by a
    * deterministic cross-engine stream so the WHOLE bootstrap — weights,
    * replicate means, CI readout — hash-matches a DuckDB twin:
    *
    *  - per-row seed: portable md5 hash of "bs|"+key, masked to 30 bits;
    *  - per-(row, replicate) uniform: affine spread by the replicate's
    *    30-bit [[graft.functions.MinHashSignature.affineConsts]] pair,
    *    then one middle-square step (x² >> 15, mask) to break the
    *    cross-replicate linearity — all products < 2^60, exact in any
    *    engine's int64;
    *  - weight: Poisson(1) inverse CDF as a branch-free Σ (u > cdf_k) —
    *    u is an exact dyadic (y+1)/2^30, the table exact double literals;
    *  - values quantized to floor(v·10⁴ + 0.5) longs, replicate sums exact
    *    longs → replicate means are identical doubles; means re-quantized
    *    to 10⁻⁴-unit longs so the final mean/std are ORDER-INDEPENDENT
    *    integer/decimal sums and the percentiles interpolate over exact
    *    integers (round-4 readouts, the q215 discipline).
    *
    * Statistically this is the classic Poisson(1) bootstrap (weights
    * approximate multinomial resampling); BootstrapSpec pins CI overlap
    * against the exact multinomial path. The seeded-RNG [[poisson]]/
    * driver-side paths stay the production forms (x41 channel).
    *
    * Scale shape: ONE scan computes row hashes + quantized values; the
    * row×replicate expansion is a broadcast cross-join consumed map-side
    * by the partial aggregation into nSim groups — only (replicate,
    * k sums) rows cross the exchange, O(nSim·k) regardless of input size.
    */
  def poissonPortable(
      spark: SparkSession,
      df: DataFrame,
      keyCol: String,
      nSim: Int = 1000,
      maxColumns: Int = 8
  ): DataFrame =
    portablePrep(spark, df, keyCol, maxColumns) match {
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], resultSchema)
      case Some((base, target)) =>
        // ONE pass: each row updates (1+k)·nSim primitive long slots inside
        // the fused aggregate — no row×replicate expansion ever exists as
        // Spark rows; only a ~40 KB buffer per partition crosses the
        // exchange (r6 VERDICT #1: 6.1 s → the arithmetic's actual cost)
        val sums = base.groupBy().agg(
          graft.functions.GraftFunctions.bootstrapPoissonAgg(nSim, col("_h"),
            target.indices.map(i => col(s"_q$i"))).as("_bs"))
          .select(explode(col("_bs")).as("_e"))
          .select(col("_e._r").as("_r") +: col("_e._W").as("_W") +:
            target.indices.map(i => col("_e._S").getItem(i).as(s"_S$i")): _*)
        portableReadout(sums, target, nSim)
    }

  /** The original crossJoin-expansion form of [[poissonPortable]] — kept as
    * the composable bit-identity cross-check (BootstrapSpec asserts equal
    * output vs the fused aggregate; the MinHashSignature precedent).
    */
  private[graft] def poissonPortableExpand(
      spark: SparkSession,
      df: DataFrame,
      keyCol: String,
      nSim: Int = 1000,
      maxColumns: Int = 8
  ): DataFrame =
    portablePrep(spark, df, keyCol, maxColumns) match {
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], resultSchema)
      case Some((base, target)) =>
        val mask = (1L << 30) - 1
        import spark.implicits._
        val constDf = graft.ext.Dedup.affineConsts(nSim, 30).zipWithIndex
          .map { case ((a, b), r) => (r.toLong, a, b) }
          .toDF("_r", "_a", "_b")
        val x = (col("_a") * col("_h") + col("_b")).bitwiseAND(lit(mask))
        val y = shiftright(x * x, 15).bitwiseAND(lit(mask))
        // u > c ⟺ (y+1)/2^30 > c ⟺ y ≥ floor(c·2^30) (c·2^30 is an EXACT
        // double — exponent shift — and never integral for these c), so the
        // per-draw uniform never needs materializing: 8 long compares
        // against precomputed integer thresholds replace a
        // cast+divide+8 double compares. The oracle inlines the SAME
        // floors, so the weights are identical by construction.
        val w = PoissonCdf.map { c =>
          val t = c * (1L << 30).toDouble
          require(t != math.floor(t), s"cdf threshold $c landed on an integer")
          (y >= lit(math.floor(t).toLong)).cast("long")
        }.reduce(_ + _)
        val sums = base.crossJoin(broadcast(constDf))
          .withColumn("_w", w)
          .filter(col("_w") > 0)
          .groupBy("_r")
          .agg(sum(col("_w")).as("_W"),
            target.indices.map(i =>
              sum(col("_w") * col(s"_q$i")).as(s"_S$i")): _*)
        portableReadout(sums, target, nSim)
    }

  /** Shared prep for the portable forms: median-fill, >20-usable-values
    * gate, 30-bit md5 row seeds, 10⁻⁴-unit quantization, repartition.
    * Returns None when no column survives the gate.
    */
  private def portablePrep(
      spark: SparkSession,
      df: DataFrame,
      keyCol: String,
      maxColumns: Int
  ): Option[(DataFrame, Seq[String])] = {
    val cols = Cleaning.numericCols(df.drop(keyCol)).take(maxColumns)
    if (cols.isEmpty) return None
    val raw = df.select(col(keyCol).cast("string").as("_k") +:
      cols.map(c => col(c).cast("double")): _*)
    // ONE stats pass: total rows + per-column non-null counts feed both
    // the median-fill decision and the >20-usable-values gate
    // (monte_carlo.py:271 gates on the POST-fill count: n for any column
    // with at least one value, 0 for an all-null column — derivable here
    // without the second scan the r6 form paid)
    val cntRow = raw
      .agg(count(lit(1)), cols.map(c => count(col(c))): _*).head()
    val n = cntRow.getLong(0)
    val nonNull = cols.indices.map(i => cntRow.getLong(i + 1))
    val withNulls = cols.zipWithIndex
      .filter { case (_, i) => nonNull(i) > 0 && nonNull(i) < n }.map(_._1)
    val filled = Summary.fillMedians(raw, withNulls)
    val target = cols.zipWithIndex
      .filter { case (_, i) => nonNull(i) > 0 && n > 20 }.map(_._1)
    if (target.isEmpty) return None
    val mask = (1L << 30) - 1
    val h = graft.ext.Dedup.portableHash60(concat(lit("bs|"), col("_k")))
      .bitwiseAND(lit(mask))
    // repartition FIRST: single-file local inputs arrive as ONE partition,
    // and the per-row md5+quantize projection must run on every core, not
    // inside the lone scan task (on a multi-split lake scan this is a
    // plain round-robin rebalance)
    val base = filled
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        (h.as("_h") +: target.zipWithIndex.map { case (c, i) =>
          floor(col(c) * lit(10000) + lit(0.5)).cast("long").as(s"_q$i")
        }): _*)
    Some((base, target))
  }

  /** Shared readout: per-replicate quantized means, then integer-exact
    * mean/std and exact percentiles per column (the q215 discipline).
    */
  private def portableReadout(
      sums: DataFrame, target: Seq[String], nSim: Int): DataFrame = {
    val dec18 = DecimalType(18, 0)
    val perCol = target.zipWithIndex.map { case (c, i) =>
      sums.select(lit(c).as("index"),
        floor(col(s"_S$i").cast("double") / col("_W").cast("double")
          + lit(0.5)).cast("long").as("_mq"))
    }.reduce(_.unionByName(_))
    val nD = col("_n").cast("double")
    val m = col("_s1").cast("double") / nD
    perCol.groupBy("index")
      .agg(sum(col("_mq")).as("_s1"),
        sum(col("_mq").cast(dec18) * col("_mq").cast(dec18)).as("_s2"),
        percentile(col("_mq"), lit(0.025)).as("_plo"),
        percentile(col("_mq"), lit(0.975)).as("_phi"),
        count(lit(1)).as("_n"))
      .select(col("index"),
        round(m / lit(10000.0), 4).as("mean_estimate"),
        round(sqrt(col("_s2").cast("double") / nD - m * m) / lit(10000.0), 4)
          .as("std_estimate"),
        round(col("_plo") / lit(10000.0), 4).as("ci_lower_95"),
        round(col("_phi") / lit(10000.0), 4).as("ci_upper_95"),
        lit(nSim.toDouble).as("simulations"))
      .orderBy("index")
  }

  /** Distributed Poisson bootstrap: single pass, all columns × replicates.
    *
    * Since r8 (VERDICT r7 #3) the production path is the fused
    * [[graft.functions.BootstrapSeededAgg]]: the identical per-partition
    * SplitMix64 draw stream and 4096-cell CDF walk run inside a
    * TypedImperativeAggregate over Tungsten rows — no `.rdd`
    * InternalRow→Row conversion, no per-row scratch allocation, partials
    * are (pid → 2·k·nSim doubles) summed in ASCENDING-pid order at eval.
    * The retained [[poissonRdd]] twin folds its collected partials in the
    * same ascending-pid order, so BootstrapSpec pins BIT-IDENTITY between
    * the two forms (single-source-partition fixture: shuffle fetch order
    * is only deterministic with one map task).
    */
  def poisson(
      spark: SparkSession,
      filled: DataFrame,
      cols: Seq[String],
      nSim: Int,
      seed: Long
  ): DataFrame = {
    val k = cols.length
    // single-file sources arrive as one partition; spread the O(rows×nSim)
    // draw loop across every core before the heavy pass
    val par = spark.sparkContext.defaultParallelism * 2
    val data = filled.select(cols.map(c => col(c).cast("double")): _*)
      .repartition(par)
    val bs = data
      .agg(graft.functions.GraftFunctions
        .bootstrapSeededAgg(nSim, seed, cols.map(col)).as("_bs"))
      .head().getStruct(0)
    val acc = bs.getSeq[scala.collection.Seq[Double]](0)
    val wts = bs.getSeq[scala.collection.Seq[Double]](1)
    val rows = cols.zipWithIndex.flatMap { case (c, ci) =>
      val means = Array.tabulate(nSim) { r =>
        if (wts(ci)(r) > 0) acc(ci)(r) / wts(ci)(r) else 0.0
      }
      if (wts(ci).forall(_ <= 20)) None else Some(statsRow(c, means, nSim))
    }
    toDF(spark, rows)
  }

  /** The r1-r7 RDD draw loop — retained as the bit-identity twin for the
    * fused aggregate (the MinHashSignature precedent). Partials fold in
    * ascending-pid order (collect + sort, replacing r7's treeReduce) to
    * match the aggregate's eval order exactly.
    */
  private[graft] def poissonRdd(
      spark: SparkSession,
      filled: DataFrame,
      cols: Seq[String],
      nSim: Int,
      seed: Long
  ): DataFrame = {
    val k = cols.length
    val par = spark.sparkContext.defaultParallelism * 2
    val data = filled.select(cols.map(c => col(c).cast("double")): _*)
      .repartition(par).rdd
    // acc(ci)(r) = weighted sum; wts(ci)(r) = total weight, per replicate r
    val parts = data
      .mapPartitionsWithIndex { (pid, it) =>
        var state = seed ^ (pid.toLong * 0x9E3779B97F4A7C15L)
        // SplitMix64 + inverse-CDF Poisson(1): one uniform per (row,
        // replicate) — this loop IS the whole bootstrap. Same draw stream
        // as r1-r7 (nextUniform unchanged); CDF walk via the shared
        // 4096-cell monotone table (exact-walk fallback on boundary
        // cells, so weights are BIT-IDENTICAL to the branchy form)
        def nextUniform(): Double = {
          state += 0x9E3779B97F4A7C15L
          var z = state
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z = z ^ (z >>> 31)
          (z >>> 11) * 1.1102230246251565e-16 // 2^-53
        }
        val wTab = poissonWTable
        val acc = Array.fill(k, nSim)(0.0)
        val w = Array.fill(k, nSim)(0.0)
        it.foreach { row =>
          val vals = new Array[Double](k)
          val nn = new Array[Boolean](k)
          var ci = 0
          while (ci < k) {
            nn(ci) = !row.isNullAt(ci)
            if (nn(ci)) vals(ci) = row.getDouble(ci)
            ci += 1
          }
          var r = 0
          while (r < nSim) {
            val u = nextUniform()
            var weight = wTab((u * 4096.0).toInt).toInt
            if (weight < 0) weight = poissonInvWalk(u)
            if (weight > 0) {
              val wd = weight.toDouble
              ci = 0
              while (ci < k) {
                // per-column weight must EXCLUDE null rows: an all-null
                // column keeps total weight 0 and is dropped downstream
                if (nn(ci)) {
                  acc(ci)(r) += wd * vals(ci)
                  w(ci)(r) += wd
                }
                ci += 1
              }
            }
            r += 1
          }
        }
        Iterator.single((pid, acc, w))
      }
      .collect().sortBy(_._1)
    val sums = Array.fill(k, nSim)(0.0)
    val wts = Array.fill(k, nSim)(0.0)
    parts.foreach { case (_, a, b) =>
      var ci = 0
      while (ci < k) {
        var r = 0
        while (r < nSim) {
          sums(ci)(r) += a(ci)(r); wts(ci)(r) += b(ci)(r); r += 1
        }
        ci += 1
      }
    }
    val rows = cols.zipWithIndex.flatMap { case (c, ci) =>
      val means = Array.tabulate(nSim) { r =>
        if (wts(ci)(r) > 0) sums(ci)(r) / wts(ci)(r) else 0.0
      }
      if (wts(ci).forall(_ <= 20)) None else Some(statsRow(c, means, nSim))
    }
    toDF(spark, rows)
  }

  private def statsRow(name: String, means: Array[Double], nSim: Int): Row = {
    val mean = means.sum / means.length
    val varPop =
      means.map(m => (m - mean) * (m - mean)).sum / means.length
    val sorted = means.sorted
    Row(
      name,
      round4(mean),
      round4(math.sqrt(varPop)),
      round4(percentileLinear(sorted, 2.5)),
      round4(percentileLinear(sorted, 97.5)),
      nSim.toDouble
    )
  }

  /** NumPy's default percentile: linear interpolation on sorted values. */
  def percentileLinear(sorted: Array[Double], p: Double): Double = {
    val idx = (sorted.length - 1) * p / 100.0
    val lo = math.floor(idx).toInt
    val hi = math.ceil(idx).toInt
    if (lo == hi) sorted(lo)
    else sorted(lo) + (sorted(hi) - sorted(lo)) * (idx - lo)
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def toDF(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), resultSchema)
}
