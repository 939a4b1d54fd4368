package graft.analytics

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.Cleaning
import scala.jdk.CollectionConverters._

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

  /** Exact GLOBAL percentiles for several columns at once, without Spark's
    * single-buffer `percentile` aggregate (q43's 2.5 s / q151's 3.3 s
    * single-task merges at sf0.1, and a corpus-sized buffer at lake scale):
    * the one-group case of [[OrderStats]] — one fused scan sorted on the
    * driver while the values fit its byte budget, else histogram + resolve
    * passes — bit-identical to the builtin on NaN-free columns.
    *
    * Callers that already aggregated (non-null count, min, max) of the
    * SAME cast-to-double columns pass them as `boundsIn`: the gate is then
    * decided from the counts before any pass runs.
    *
    * Returns per column one Option[Double] per requested prob (None when
    * the column has no non-null values).
    */
  def exactPercentilesHist(
      df: DataFrame,
      specs: Seq[(String, Seq[Double])],
      boundsIn: Option[Seq[(Long, Option[Double], Option[Double])]] = None
  ): Map[String, Seq[Option[Double]]] =
    OrderStats.percentiles(df, None, specs, boundsIn)._1.values.head

  /** Exact PER-GROUP percentiles for several columns at once — the grouped
    * [[exactPercentilesHist]] ([[OrderStats]] with the group key threaded
    * through; a null key is a group of its own, at most
    * [[OrderStats.MaxGroups]] groups). Returns group → column → one
    * Option[Double] per requested prob (None when the group/column has no
    * non-null values).
    */
  def exactGroupedPercentilesHist(
      df: DataFrame,
      groupCol: String,
      specs: Seq[(String, Seq[Double])]
  ): Map[Any, Map[String, Seq[Option[Double]]]] =
    OrderStats.percentiles(df, Some(groupCol), specs)._1

  /** pandas `fillna(median)` over `cols`: each column's nulls become its
    * exact median (one [[exactPercentilesHist]] call for all of them); a
    * column without values stays as it is.
    */
  def fillMedians(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df
    else {
      val med = exactPercentilesHist(df, cols.map(_ -> Seq(0.5)))
      cols.foldLeft(df)((d, c) => med(c).head.fold(d)(m => d.na.fill(Map(c -> m))))
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

  /** Weighted median per group — the LOWER weighted median: the smallest
    * value v with 2·W(≤v) ≥ W, i.e. the value at 0-based rank ⌊(W−1)/2⌋ of
    * the weighted multiset — through [[OrderStats]], WITHOUT a per-group
    * sort (with a handful of groups a cumulative-weight window is a handful
    * of tasks each sorting its whole group). Null values and non-positive
    * weights (cast to long) are dropped; a group left without rows has no
    * output row. The answer is an exact rank over integer weights, so the
    * float bucketing cannot leak into it — which is why a DuckDB oracle can
    * recompute it straight from the definition (q125). At most
    * [[OrderStats.MaxGroups]] groups: for high-cardinality keys use the
    * plain window form, which is already parallel there.
    */
  def weightedMedian(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      weightCol: String
  ): DataFrame = {
    val spark = df.sparkSession
    val base = df.select(col(groupCol).as("g"),
        col(valueCol).cast("double").as("v"),
        col(weightCol).cast("long").as("wt"))
      .filter(col("v").isNotNull && col("wt") > 0)
    val (stats, _) = OrderStats(base, Some("g"), Seq("v"), col("wt"),
      (_, w) => Seq((w - 1) / 2))
    val rows = stats.toSeq.map { case (g, st) => Row(g, st.head.at((st.head.n - 1) / 2)) }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      base.schema("g").copy(name = groupCol), StructField("weighted_median", DoubleType))))
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
