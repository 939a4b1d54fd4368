package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** ML feature-preparation and drift-evaluation operators — the gold-layer
  * steps a training pipeline runs between cleaning and model fit
  * (ref: the notebook's ad-hoc pandas feature blocks, `Analysis.ipynb`
  * cells 9-12, generalized to the operators sklearn users reach for).
  *
  * Every operator here is exactly DuckDB-oracle-able by construction:
  * counts stay integers, sums route through DECIMAL (order-independent),
  * and the final statistic is one fixed-shape IEEE expression — the house
  * discipline from q119/q147/q148.
  */
object FeaturePrep {

  private def d(c: Column): Column = c.cast("double")

  /** Equal-frequency (quantile) binning: exact interpolated bin boundaries
    * ([[Summary.exactPercentilesHist]], as q07, which hash-matches DuckDB
    * `quantile_cont`), then a scan-side bucket assign and a
    * partial-aggregated per-bin profile. Boundaries are collected to the
    * driver (nBins-1 doubles) and inlined as literals, so the bucketing
    * pass is pure whole-stage codegen with no join.
    *
    * `approxBoundaries = true` swaps the boundary pass to
    * `approx_percentile` (t-digest-style mergeable sketch, bounded memory,
    * certified against the exact quantiles by the q98 error pin) while the
    * bucket/profile pass is UNCHANGED. Exact stays the default because the
    * oracle replays exact interpolated quantiles.
    */
  def equalFreqBins(
      df: DataFrame,
      valueCol: String,
      targetCol: String,
      nBins: Int,
      approxBoundaries: Boolean = false,
      approxAccuracy: Int = 10000
  ): DataFrame = {
    val probs = (1 until nBins).map(i => i.toDouble / nBins)
    // exact boundaries via Summary.exactPercentilesHist
    val bounds: Seq[Double] =
      if (approxBoundaries)
        df.agg(approx_percentile(col(valueCol).cast("double"),
          array(probs.map(lit): _*), lit(approxAccuracy))).head().getSeq[Double](0)
      else graft.analytics.Summary
        .exactPercentilesHist(df, Seq(valueCol -> probs))(valueCol)
        .map(_.get)
    val bin = bounds
      .foldLeft(lit(0))((acc, b) => acc + (col(valueCol) > lit(b)).cast("int"))
      .cast(LongType)
    df.filter(col(valueCol).isNotNull)
      .groupBy(bin.as("bin"))
      .agg(
        count(lit(1)).cast(LongType).as("n"),
        round(min(valueCol), 2).as("lo"),
        round(max(valueCol), 2).as("hi"),
        round(graft.queries.Q.sumExact(col(targetCol), 6) / count(targetCol), 6)
          .as("target_mean")
      )
      .orderBy("bin")
  }

  /** Smoothed (m-estimate) target encoding: per-category mean shrunk toward
    * the global mean with pseudo-count weight `m` — the standard high-
    * cardinality categorical encoder. One partial-aggregated groupBy for
    * the sufficient statistics; the global mean is a broadcast 1-row frame;
    * the encoding is a fixed-shape IEEE expression over exact DECIMAL sums.
    */
  def targetEncodeM(
      df: DataFrame,
      catCol: String,
      targetCol: String,
      m: Double
  ): DataFrame = {
    val g = df
      .filter(col(targetCol).isNotNull)
      .groupBy(col(catCol).as("category"))
      .agg(
        count(lit(1)).cast(LongType).as("n"),
        sum(col(targetCol).cast(DecimalType(25, 6))).as("s")
      )
    val tot = g
      .agg(sum(col("s")).as("ss"), sum(col("n")).cast(LongType).as("nn"))
      .select((d(col("ss")) / d(col("nn"))).as("mu"))
    g.crossJoin(broadcast(tot))
      .select(
        col("category"),
        col("n"),
        round(d(col("s")) / d(col("n")), 6).as("raw_mean"),
        round(col("mu"), 6).as("global_mean"),
        round((d(col("s")) + lit(m) * col("mu")) / (d(col("n")) + lit(m)), 6)
          .as("encoded")
      )
      .orderBy("category")
  }

  /** Two-sample Kolmogorov-Smirnov drift statistic per group, EXACT: the
    * empirical-CDF gap is kept as the integer cross-product
    * |cumA·nB − cumB·nA| until the single final division, so the max is
    * found in integer space (no float-comparison ambiguity) and both
    * engines agree bit-for-bit. One shuffle to (group, value) counts, one
    * per-group window over DISTINCT values (far smaller than rows), tie on
    * the max broken to the smallest value.
    *
    * 100 TB: the window runs over distinct values per group, not rows;
    * if per-group n exceeds ~3e9 the integer cross-product would overflow
    * long — normalize to per-group ranks (or sample) before KS at that
    * scale.
    */
  def ksDrift(
      df: DataFrame,
      groupCol: String,
      variantCol: Column,
      valueCol: String
  ): DataFrame = {
    val e = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), variantCol.as("v"), d(col(valueCol)).as("x"))
    val cnt = e
      .groupBy("g", "x")
      .agg(
        count(when(col("v") === 0, lit(1))).cast(LongType).as("ca"),
        count(when(col("v") === 1, lit(1))).cast(LongType).as("cb")
      )
    val tot = cnt
      .groupBy("g")
      .agg(
        sum(col("ca")).cast(LongType).as("n_a"),
        sum(col("cb")).cast(LongType).as("n_b")
      )
    val w = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = cnt
      .withColumn("cca", sum(col("ca")).over(w).cast(LongType))
      .withColumn("ccb", sum(col("cb")).over(w).cast(LongType))
      .join(tot, "g")
      .withColumn("dint",
        abs(col("cca") * col("n_b") - col("ccb") * col("n_a")))
    val mx = cum.groupBy("g").agg(max(col("dint")).as("mdint"))
    cum
      .join(mx, "g")
      .filter(col("dint") === col("mdint"))
      .groupBy("g", "n_a", "n_b", "mdint")
      .agg(min(col("x")).as("atv"))
      .select(
        col("g").as(groupCol),
        col("n_a"),
        col("n_b"),
        round(d(col("mdint")) / (d(col("n_a")) * d(col("n_b"))), 6)
          .as("ks_stat"),
        round(col("atv"), 6).as("at_value")
      )
      .orderBy(groupCol)
  }

  /** Calibration (reliability-diagram) bins for a [0,1] score against a
    * binary label: fixed-width score deciles, per-bin count, positives,
    * mean confidence (6-dp DECIMAL-routed — order-independent), accuracy,
    * and |accuracy − confidence| gap. Pure scan + one partial-aggregated
    * groupBy on a 10-value key.
    */
  def calibrationBins(
      df: DataFrame,
      scoreCol: Column,
      labelCol: Column
  ): DataFrame = {
    val bin = least(floor(scoreCol * lit(10.0)).cast(LongType), lit(9L))
    val base = df.select(
      bin.as("bin"),
      scoreCol.as("score"),
      labelCol.cast("int").as("y")
    )
    base
      .groupBy("bin")
      .agg(
        count(lit(1)).cast(LongType).as("n"),
        sum(col("y")).cast(LongType).as("n_pos"),
        sum(round(col("score"), 6).cast(DecimalType(18, 6))).as("sconf")
      )
      .select(
        col("bin"),
        col("n"),
        col("n_pos"),
        round(d(col("sconf")) / d(col("n")), 6).as("confidence"),
        round(d(col("n_pos")) / d(col("n")), 6).as("accuracy"),
        round(
          abs(d(col("n_pos")) / d(col("n")) - d(col("sconf")) / d(col("n"))),
          6
        ).as("gap")
      )
      .orderBy("bin")
  }

  /** Lag-k autocorrelation of a daily aggregate series, k = 1..maxLag:
    * the heavy pass is one partial-aggregated daily rollup (DECIMAL-exact);
    * the tiny day-series then self-joins per lag (both sides post-agg,
    * right side broadcast) and each lag's Pearson r comes closed-form from
    * DECIMAL sufficient statistics — never an engine corr() accumulator
    * (the q119/q128 rule). Day-sum squares stay at DECIMAL(37,4): exact in
    * both engines (the re-narrow guard from CLAUDE.md).
    */
  def acfDaily(
      df: DataFrame,
      dateCol: String,
      valueCol: String,
      maxLag: Int
  ): DataFrame = {
    val daily = df
      .groupBy(to_date(col(dateCol)).as("dd"))
      .agg(sum(col(valueCol).cast(DecimalType(18, 2))).as("rev0"))
      .select(
        datediff(col("dd"), lit("1970-01-01").cast("date")).as("day"),
        col("rev0").cast(DecimalType(18, 2)).as("rev")
      )
    val a = daily
      .select(col("day"), col("rev").as("xv"))
      .withColumn("lag", explode(sequence(lit(1), lit(maxLag))))
    val b = daily.select(col("day").as("day2"), col("rev").as("yv"))
    val p = a.join(broadcast(b), col("day2") === col("day") + col("lag"))
    val g = p
      .groupBy(col("lag").cast(LongType).as("lag"))
      .agg(
        count(lit(1)).cast(LongType).as("n_pairs"),
        sum(col("xv")).as("sx"),
        sum(col("yv")).as("sy"),
        sum(col("xv") * col("xv")).as("sxx"),
        sum(col("yv") * col("yv")).as("syy"),
        sum(col("xv") * col("yv")).as("sxy")
      )
    val n = d(col("n_pairs"))
    val num = n * d(col("sxy")) - d(col("sx")) * d(col("sy"))
    val den = sqrt(n * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
      sqrt(n * d(col("syy")) - d(col("sy")) * d(col("sy")))
    g.select(col("lag"), col("n_pairs"), round(num / den, 6).as("acf"))
      .orderBy("lag")
  }

  /** Robust outlier census per group via median/MAD (the robust twin of
    * q110's mean/std z-score): exact per-group medians (the q61-proven
    * `percentile` ≡ `quantile_cont` parity), deviation pass, exact MAD,
    * then an outlier count at the standard 3·1.4826·MAD fence. Three
    * passes over the table; group stats broadcast back each time.
    *
    * 100 TB: two exact-percentile passes buffer per (group, column) —
    * swap `approx_percentile` at lake scale (same note as describe).
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val e = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), d(col(valueCol)).as("x"))
    val med = e
      .groupBy("g")
      .agg(
        percentile(col("x"), lit(0.5)).as("med"),
        count(lit(1)).cast(LongType).as("n")
      )
    val dev = e
      .join(broadcast(med), "g")
      .withColumn("dev", abs(col("x") - col("med")))
    val mad = dev
      .groupBy("g")
      .agg(percentile(col("dev"), lit(0.5)).as("mad"))
    val fence = lit(3.0) * lit(1.4826) * col("mad")
    dev
      .join(broadcast(mad), "g")
      .groupBy("g", "med", "n", "mad")
      .agg(count(when(col("dev") > fence, lit(1))).cast(LongType).as("n_out"))
      .select(
        col("g").as(groupCol),
        col("n"),
        round(col("med"), 6).as("med"),
        round(col("mad"), 6).as("mad"),
        col("n_out").as("n_outliers"),
        round(d(col("n_out")) / d(col("n")), 6).as("outlier_share")
      )
      .orderBy(groupCol)
  }

  /** Chi-square feature screening of a categorical column against a binary
    * label: each category's one-vs-rest 2×2 contingency (the one-hot
    * feature-selection view, sklearn `chi2`'s shape) scored as
    * Σ(o−e)²/e over the four cells.
    *
    * Counts are exact integers from one aggregate pass; expectations and
    * cell terms are fixed-shape IEEE expressions evaluated in a pinned
    * order (pos-cell, neg-cell, rest-pos, rest-neg), so the DuckDB twin
    * lands on bit-identical doubles. Degenerate margins (empty rest,
    * all-positive label) zero out their cells instead of dividing by 0.
    */
  def chi2Screen(
      df: DataFrame,
      catCol: Column,
      labelCol: Column
  ): DataFrame = {
    val g = df
      .select(catCol.as("category"), labelCol.cast("int").as("y"))
      .groupBy("category")
      .agg(
        count(lit(1)).cast(LongType).as("n"),
        sum(col("y")).cast(LongType).as("pos")
      )
    val tot = broadcast(
      g.agg(sum(col("n")).cast(LongType).as("nn"),
        sum(col("pos")).cast(LongType).as("pp")))
    val withTot = g.crossJoin(tot)
    def cell(o: Column, rowTot: Column, colTot: Column, nAll: Column): Column = {
      val e = d(rowTot) * d(colTot) / d(nAll)
      when(e > 0.0, (d(o) - e) * (d(o) - e) / e).otherwise(lit(0.0))
    }
    val chi2 =
      cell(col("pos"), col("n"), col("pp"), col("nn")) +
        cell(col("n") - col("pos"), col("n"), col("nn") - col("pp"), col("nn")) +
        cell(col("pp") - col("pos"), col("nn") - col("n"), col("pp"), col("nn")) +
        cell((col("nn") - col("n")) - (col("pp") - col("pos")),
          col("nn") - col("n"), col("nn") - col("pp"), col("nn"))
    withTot
      .select(
        col("category"),
        col("n").as("n_docs"),
        col("pos").as("n_pos"),
        round(chi2, 6).as("chi2")
      )
      .orderBy("category")
  }

  /** Isotonic (PAVA) calibration of a [0,1) score against a binary label,
    * computed on the score-bin grid: the monotone-nondecreasing fit that
    * minimizes weighted squared error over the binned empirical rates —
    * what sklearn's IsotonicRegression produces when fed the binned
    * (confidence, accuracy) reliability points, and the standard
    * post-hoc calibrator a quality-classifier pipeline trains (q154's
    * reliability diagram is the INPUT here; this emits the repaired,
    * monotone curve next to it).
    *
    * Pool-adjacent-violators is computed CLOSED-FORM via the minimax
    * identity  iso(i) = max_{j≤i} min_{k≥i} rate(j..k)  over bin
    * intervals — no iteration, no driver loop. Every interval rate is a
    * single division of two exact integer sums (label counts), so both
    * engines produce bit-identical doubles and the min/max lattice
    * matches exactly — which is what makes the q219 oracle hash-check.
    *
    * Scale shape: ONE partial-aggregated scan collapses the corpus to
    * ≤ nBins rows; the O(nBins³) minimax runs entirely on broadcast
    * copies of that constant-size grid (the q203 triangular-join
    * pattern) — nothing downstream of the first aggregate depends on
    * corpus size.
    */
  def isotonicCalibration(
      df: DataFrame,
      scoreCol: Column,
      labelCol: Column,
      nBins: Int = 10
  ): DataFrame = {
    val bin = least(floor(scoreCol * lit(nBins.toDouble)).cast(LongType),
      lit(nBins - 1L))
    val grid = df
      .select(bin.as("bin"), labelCol.cast("int").as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(col("y")).cast(LongType).as("pos"))
    // prefix sums over the tiny grid: triangular broadcast self-join
    // (never a constant-partition window — the q178 trap)
    val g2 = grid.select(col("bin").as("b2"), col("n").as("n2"),
      col("pos").as("p2"))
    val prefix = grid
      .join(broadcast(g2), col("b2") <= col("bin"))
      .groupBy("bin", "n", "pos")
      .agg(sum(col("n2")).cast(LongType).as("cum_n"),
        sum(col("p2")).cast(LongType).as("cum_pos"))
    // interval sums for every bin pair j ≤ k, from the prefix table
    val pj = prefix.select(col("bin").as("j"),
      (col("cum_n") - col("n")).as("before_n"),
      (col("cum_pos") - col("pos")).as("before_pos"))
    val pk = prefix.select(col("bin").as("k"), col("cum_n"), col("cum_pos"))
    val intervals = pj
      .join(broadcast(pk), col("j") <= col("k"))
      .select(col("j"), col("k"),
        (d(col("cum_pos") - col("before_pos")) /
          d(col("cum_n") - col("before_n"))).as("rate"))
    // iso(i) = max over j ≤ i of (min over k ≥ i of rate(j..k))
    val bins = grid.select(col("bin").as("i"))
    val inner = intervals
      .join(broadcast(bins), col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "j")
      .agg(min(col("rate")).as("mrate"))
      .groupBy("i")
      .agg(max(col("mrate")).as("iso"))
    grid
      .join(broadcast(inner), col("bin") === col("i"))
      .select(col("bin"), col("n"), col("pos").as("n_pos"),
        round(d(col("pos")) / d(col("n")), 6).as("raw_rate"),
        round(col("iso"), 6).as("iso_rate"))
      .orderBy("bin")
  }

  /** Murphy decomposition of the Brier score on the score-bin grid:
    * brier = reliability − resolution + uncertainty, plus the exact
    * (unbinned) Brier mean — the one-row scorecard for a probabilistic
    * quality classifier. Counts stay integers; per-row and per-bin double
    * contributions are rounded to fixed decimals and DECIMAL-routed
    * before summation, so every sum is order-independent and the final
    * readout is a fixed-shape IEEE expression (the q147/q154 discipline).
    *
    * Scale shape: one partial-aggregated scan to ≤ nBins rows plus one
    * global 1-row aggregate; the decomposition itself runs on the
    * broadcast grid.
    */
  def brierDecomposition(
      df: DataFrame,
      scoreCol: Column,
      labelCol: Column,
      nBins: Int = 10
  ): DataFrame = {
    val bin = least(floor(scoreCol * lit(nBins.toDouble)).cast(LongType),
      lit(nBins - 1L))
    val y = labelCol.cast("int")
    val sqErr = (scoreCol - y.cast("double")) * (scoreCol - y.cast("double"))
    val grid = df
      .select(bin.as("bin"), scoreCol.as("score"), y.as("y"),
        sqErr.as("sq"))
      .groupBy("bin")
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(col("y")).cast(LongType).as("pos"),
        sum(round(col("score"), 6).cast(DecimalType(18, 6))).as("sconf"),
        sum(round(col("sq"), 9).cast(DecimalType(18, 9))).as("ssq"))
    val tot = broadcast(grid.agg(
      sum(col("n")).cast(LongType).as("nn"),
      sum(col("pos")).cast(LongType).as("pp"),
      sum(col("ssq")).cast(DecimalType(28, 9)).as("tsq")))
    val ybar = d(col("pp")) / d(col("nn"))
    val pbarB = d(col("sconf")) / d(col("n"))
    val ybarB = d(col("pos")) / d(col("n"))
    val relC = d(col("n")) * (pbarB - ybarB) * (pbarB - ybarB)
    val resC = d(col("n")) * (ybarB - ybar) * (ybarB - ybar)
    grid
      .crossJoin(tot)
      .groupBy("nn", "pp", "tsq")
      .agg(
        sum(round(relC, 9).cast(DecimalType(28, 9))).as("rel"),
        sum(round(resC, 9).cast(DecimalType(28, 9))).as("res"))
      .select(
        col("nn").as("n"),
        round(d(col("pp")) / d(col("nn")), 6).as("base_rate"),
        round((d(col("pp")) / d(col("nn"))) *
          (lit(1.0) - d(col("pp")) / d(col("nn"))), 6).as("uncertainty"),
        round(d(col("rel")) / d(col("nn")), 6).as("reliability"),
        round(d(col("res")) / d(col("nn")), 6).as("resolution"),
        round(d(col("tsq")) / d(col("nn")), 6).as("brier"))
  }
}
