package graft.queries

import org.apache.spark.sql.functions._
import graft.analytics.{Bootstrap, FactorAnalysisEM, MonteCarlo, Summary}
import graft.queries.Q._

/** The reference's gold-layer statistical operators (SURVEY.md §2.8), run on
  * the driver testdata. Stochastic (seeded Spark RNG) or EM-iterative →
  * no SQL oracle; the driver records rows-only checks and ScalaTest holds
  * the tolerance/structure assertions.
  */
object StatQueries {

  val defs: Seq[QueryDef] = Seq(
    // ---- F1: Monte Carlo scenario simulation (traffic col := o_totalprice).
    //      REGISTERED in the portable-RNG form since r6 (VERDICT r5 #1 —
    //      r5's q215 folded into the primary row): md5-stream uniforms,
    //      Irwin–Hall(12) normals (exact unit variance, zero libm),
    //      centi-unit integer draws so per-scenario moments are order-
    //      independent exact sums — the whole SIMULATION hash-matches
    //      DuckDB. The randn production form is the x40 channel; q65 pins
    //      the closed-form expectations.
    QueryDef(
      "q40_monte_carlo_scenarios",
      (s, dir) =>
        MonteCarlo.simulatePortable(s, t(s, dir, "orders"),
          trafficCol = Some("o_totalprice")),
      Some(monteCarloPortableOracleSql)
    ),

    // ---- F1 hardened: the deterministic half of the Monte Carlo contract
    //      (closed-form E[sim] = base·mult, threshold, n_sims) — DECIMAL-
    //      routed base mean so the DuckDB oracle hash-matches exactly
    QueryDef(
      "q65_monte_carlo_expectations",
      (s, dir) =>
        MonteCarlo.scenarioExpectations(s, t(s, dir, "orders"),
          trafficCol = Some("o_totalprice")),
      Some {
        val values = MonteCarlo.scenarios.zipWithIndex.map { case (sc, i) =>
          s"($i, '${sc.scenario}', '${sc.description}', " +
            s"CAST(${sc.scenarioMult} AS DOUBLE)*CAST(${sc.trafficMult} AS DOUBLE))"
        }.mkString(",\n")
        s"""WITH s AS (SELECT ${sqlSumExact("o_totalprice", 6)}/count(o_totalprice) AS base,
           |quantile_cont(o_totalprice, 0.75) AS thr FROM orders),
           |d(ord, scenario, description, mult) AS (VALUES
           |$values)
           |SELECT scenario, description,
           |round(base*mult, 2) AS expected_mean_traffic,
           |round(thr, 2) AS threshold_used,
           |CAST(10000 AS BIGINT) AS n_simulations
           |FROM d, s ORDER BY ord""".stripMargin
      }
    ),

    // ---- F3 hardened: unit-weight bootstrap — every replicate mean IS the
    //      column mean, flowing through the real statsRow/percentile path;
    //      fully deterministic, so oracled (the stochastic q41 rides on the
    //      same machinery)
    QueryDef(
      "q66_bootstrap_unit_weight",
      (s, dir) =>
        Bootstrap.fixedWeight(s, t(s, dir, "lineitem")
          .select("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          nSim = 1000),
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        // lineitem numerics are null-free in the fixture, so no median-fill
        // term is needed in the oracle's mean
        cols.map { c =>
          val m = s"round(${sqlSumExact(c, 6)}/count($c), 4)"
          s"SELECT '$c' AS index, $m AS mean_estimate, 0.0 AS std_estimate, " +
            s"$m AS ci_lower_95, $m AS ci_upper_95, 1000.0 AS simulations " +
            "FROM lineitem"
        }.mkString(" UNION ALL ")
      }
    ),

    // ---- F3: bootstrap CIs over lineitem numerics. REGISTERED in the
    //      portable-RNG Poisson form since r6 (VERDICT r5 #1): md5 row
    //      seeds, affine+middle-square per-replicate uniforms, integer-
    //      quantized sums — the WHOLE bootstrap hash-matches DuckDB. The
    //      seeded multinomial/Poisson production paths are the x41
    //      channel; q66 pins the degenerate unit-weight contract.
    QueryDef(
      "q41_bootstrap_ci",
      (s, dir) =>
        Bootstrap.poissonPortable(s, t(s, dir, "lineitem")
          .select(concat_ws(":", col("l_orderkey"), col("l_linenumber"))
            .as("rk"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_tax")),
          "rk", nSim = 1000),
      Some(bootstrapPortableOracleSql)
    ),

    // ---- F2: factor loadings over lineitem numeric structure.
    //      REGISTERED as the fixed-iteration PORTABLE EM since r6 (VERDICT
    //      r5 #1): Rubin–Thayer covariance-space EM (closed-form 2×2
    //      inverses, no eigendecomposition) over the correlation matrix of
    //      integer-quantized moments — the whole fold is a fixed IEEE
    //      expression DAG the oracle replays 1:1. The sklearn-faithful
    //      eigen-EM (FactorAnalysisEM.fit) stays the production form (x42
    //      channel + loadings golden); q71 pins the raw moments.
    QueryDef(
      "q42_factor_loadings",
      (s, dir) =>
        FactorAnalysisEM.fitPortableLoadings(s, t(s, dir, "lineitem")
          .select("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          iters = 5),
      Some(faPortableOracleSql)
    ),

    // ---- the DISTRIBUTED half of F2, oracled: factor analysis = one pass
    //      of sufficient statistics (n, mean, MLE covariance) + driver-side
    //      EM on the tiny d×d matrix. q42's loadings can't have a DuckDB
    //      twin (EM isn't SQL), but the moments — the part that actually
    //      touches 100 TB — hash-match covar_pop exactly. Small-range
    //      columns keep the naive-vs-stable summation difference far below
    //      the rounding grain.
    QueryDef(
      "q71_fa_moments",
      (s, dir) => {
        val cols = Seq("l_quantity", "l_discount", "l_tax")
        val df = t(s, dir, "lineitem").select(cols.map(col): _*)
        val FactorAnalysisEM.Prepared(kept, _, n, mean, cov) = FactorAnalysisEM.prepare(df)
        def r6(x: Double): Double =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        import s.implicits._
        kept.zipWithIndex.map { case (c, i) =>
          (c, n, r6(mean(i)), r6(cov(i)(0)), r6(cov(i)(1)), r6(cov(i)(2)))
        }.toDF("index", "n", "mean_val", kept(0), kept(1), kept(2))
          .orderBy("index")
      },
      Some {
        val cols = Seq("l_quantity", "l_discount", "l_tax")
        cols.map { r =>
          s"SELECT '$r' AS index, count(*) AS n, " +
            s"round(avg($r), 6) AS mean_val, " +
            cols.map(c => s"round(covar_pop($r, $c), 6) AS $c").mkString(", ") +
            " FROM lineitem"
        }.mkString("", " UNION ALL ", " ORDER BY index")
      }
    ),

    // ---- A11: one-pass describe (count/mean/std/min/quartiles/max per col)
    QueryDef(
      "q43_describe",
      (s, dir) =>
        Summary.describeNumeric(s,
          t(s, dir, "lineitem").select("l_quantity", "l_extendedprice"))
          .withColumn("mean", round(col("mean"), 4))
          .withColumn("std", round(col("std"), 4))
          .withColumn("p25", round(col("p25"), 4))
          .withColumn("p50", round(col("p50"), 4))
          .withColumn("p75", round(col("p75"), 4))
          .orderBy("index"),
      Some("""SELECT 'l_extendedprice' AS index,
             |CAST(count(l_extendedprice) AS DOUBLE) AS count,
             |round(avg(l_extendedprice), 4) AS mean,
             |round(stddev_samp(l_extendedprice), 4) AS std,
             |min(l_extendedprice) AS min,
             |round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
             |round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             |round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
             |max(l_extendedprice) AS max
             |FROM lineitem
             |UNION ALL SELECT 'l_quantity',
             |CAST(count(l_quantity) AS DOUBLE),
             |round(avg(l_quantity), 4), round(stddev_samp(l_quantity), 4),
             |min(l_quantity), round(quantile_cont(l_quantity, 0.25), 4),
             |round(quantile_cont(l_quantity, 0.5), 4),
             |round(quantile_cont(l_quantity, 0.75), 4), max(l_quantity)
             |FROM lineitem
             |ORDER BY index""".stripMargin)
    ),

    // ---- A13: memory_usage(deep=True) analog — per-column data bytes
    //      under the deterministic deep-size model (fixed widths × non-null
    //      counts; exact byte lengths for strings), one aggregate pass +
    //      stack reshape. The model is pure arithmetic → fully oracled.
    QueryDef(
      "q170_memory_usage",
      (s, dir) => Summary.memoryUsage(t(s, dir, "lineitem")),
      Some {
        val eight = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
        val four = Seq("l_linenumber")
        val str = Seq("l_returnflag", "l_linestatus")
        val parts =
          eight.map(c => s"SELECT '$c' AS column_name, " +
            s"CAST(count($c) AS BIGINT) AS n_values, " +
            s"CAST(count($c) * 8 AS BIGINT) AS data_bytes FROM lineitem") ++
          four.map(c => s"SELECT '$c', CAST(count($c) AS BIGINT), " +
            s"CAST(count($c) * 4 AS BIGINT) FROM lineitem") ++
          str.map(c => s"SELECT '$c', CAST(count($c) AS BIGINT), " +
            s"CAST(coalesce(sum(strlen($c)), 0) AS BIGINT) FROM lineitem")
        parts.mkString("", " UNION ALL ", " ORDER BY column_name")
      }
    ),

    // ---- A12: full correlation matrix (one ML pass), keyed by `index`
    QueryDef(
      "q44_corr_matrix",
      (s, dir) => {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val m = Summary.corrMatrix(s, t(s, dir, "lineitem").select(cols.map(col): _*))
        cols.foldLeft(m)((d, c) => d.withColumn(c, round(col(c), 4)))
          .orderBy("index")
      },
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        cols.map { r =>
          s"SELECT '$r' AS index, " + cols.map(c =>
            s"round(corr($r, $c), 4) AS $c").mkString(", ") + " FROM lineitem"
        }.mkString("", " UNION ALL ", " ORDER BY index")
      }
    ),

    // ---- label-distribution drift: chi-square homogeneity test of the
    //      event_type mix between the first and second half of the time
    //      range (the training-data monitor: "did the label mix shift?").
    //      Chi-square instead of KL: every term is rational in the integer
    //      counts, so both engines follow the identical IEEE sequence —
    //      no ln() libm parity risk. The contingency table is one count-
    //      aggregate over the scan; everything after runs on |labels| rows
    QueryDef(
      "q118_label_drift_chi2",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"),
            expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("b"))
        val bounds = broadcast(ev.agg(
          expr("(min(b) + max(b)) DIV 2").as("mid")))
        val ct = ev.crossJoin(bounds)
          .groupBy("event_type")
          .agg(count(when(col("b") <= col("mid"), 1)).cast("long")
            .as("n_first"),
            count(when(col("b") > col("mid"), 1)).cast("long").as("n_second"))
        val tot = broadcast(ct.agg(
          sum("n_first").cast("long").as("t1"),
          sum("n_second").cast("long").as("t2")))
        val g = (col("t1") + col("t2")).cast("double")
        val rt = col("n_first") + col("n_second")
        val e1 = (rt * col("t1")).cast("double") / g
        val e2 = (rt * col("t2")).cast("double") / g
        val o1 = col("n_first").cast("double")
        val o2 = col("n_second").cast("double")
        val chi = (o1 - e1) * (o1 - e1) / e1 + (o2 - e2) * (o2 - e2) / e2
        ct.crossJoin(tot)
          .select(col("event_type"), col("n_first"), col("n_second"),
            round(e1, 6).as("expected_first"),
            round(chi, 6).as("chi2_contrib"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (
             |  SELECT event_type, epoch_us(ts) // 3600000000 AS b FROM events),
             |m AS (SELECT (min(b) + max(b)) // 2 AS mid FROM e),
             |ct AS (
             |  SELECT event_type,
             |    count(*) FILTER (WHERE b <= mid) AS n_first,
             |    count(*) FILTER (WHERE b > mid) AS n_second
             |  FROM e, m GROUP BY 1),
             |tot AS (SELECT CAST(sum(n_first) AS BIGINT) AS t1,
             |               CAST(sum(n_second) AS BIGINT) AS t2 FROM ct),
             |x AS (
             |  SELECT event_type, n_first, n_second,
             |    CAST((n_first + n_second) * t1 AS DOUBLE)
             |      / CAST(t1 + t2 AS DOUBLE) AS e1,
             |    CAST((n_first + n_second) * t2 AS DOUBLE)
             |      / CAST(t1 + t2 AS DOUBLE) AS e2
             |  FROM ct, tot)
             |SELECT event_type, n_first, n_second,
             |  round(e1, 6) AS expected_first,
             |  round((CAST(n_first AS DOUBLE) - e1)
             |          * (CAST(n_first AS DOUBLE) - e1) / e1
             |      + (CAST(n_second AS DOUBLE) - e2)
             |          * (CAST(n_second AS DOUBLE) - e2) / e2, 6)
             |    AS chi2_contrib
             |FROM x ORDER BY event_type""".stripMargin)
    ),

    // ---- per-label hourly trend: least-squares slope/intercept/r² of
    //      hourly value totals vs the hour index, from DECIMAL-exact
    //      sufficient statistics (Σx, Σx², Σxy, Σy, Σy²) — one narrow
    //      pre-agg per (label, hour) then |labels|·|hours| tiny rows; the
    //      closed-form slope is a fixed IEEE sequence on exact sums, NOT
    //      an engine-specific regr_slope accumulator (those differ in
    //      summation order across engines). y re-narrowed to DECIMAL(18,2)
    //      after the bucket agg so x·y and y² stay inside the exact ≤38
    //      width band on both engines
    QueryDef(
      "q119_trend_slope",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"),
            expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("b"),
            col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
              .as("v"))
        val bounds = broadcast(ev.agg(min("b").as("b0")))
        val hourly = ev.groupBy("event_type", "b")
          .agg(sum(col("v"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("y"))
          .crossJoin(bounds)
          .select(col("event_type"), (col("b") - col("b0")).as("x"), col("y"))
        val st = hourly.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("x")).cast("long").as("sx"),
          sum(col("x") * col("x")).cast("long").as("sxx"),
          sum(col("x").cast(org.apache.spark.sql.types.DecimalType(6, 0))
            * col("y")).cast("double").as("sxy"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("y") * col("y")).cast("double").as("syy"))
        val nD = col("n").cast("double")
        val sxD = col("sx").cast("double")
        val num = nD * col("sxy") - sxD * col("sy")
        val den = nD * col("sxx").cast("double") - sxD * sxD
        val deny = nD * col("syy") - col("sy") * col("sy")
        st.select(col("event_type"), col("n"),
          round(num / den, 8).as("slope_per_hour"),
          round((col("sy") - (num / den) * sxD) / nD, 6).as("intercept"),
          round(num * num / (den * deny), 8).as("r2"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (
             |  SELECT event_type, epoch_us(ts) // 3600000000 AS b,
             |    CAST(value AS DECIMAL(18,2)) AS v
             |  FROM events),
             |b0 AS (SELECT min(b) AS b0 FROM e),
             |h AS (
             |  SELECT event_type, b - b0 AS x,
             |    CAST(sum(v) AS DECIMAL(18,2)) AS y
             |  FROM e, b0 GROUP BY event_type, b, b0),
             |st AS (
             |  SELECT event_type, count(*) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(CAST(x AS DECIMAL(6,0)) * y) AS DOUBLE) AS sxy,
             |    CAST(sum(y) AS DOUBLE) AS sy,
             |    CAST(sum(y * y) AS DOUBLE) AS syy
             |  FROM h GROUP BY 1),
             |sl AS (
             |  SELECT event_type, n, sx, sy,
             |    CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS num,
             |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
             |    CAST(n AS DOUBLE) * syy - sy * sy AS deny
             |  FROM st)
             |SELECT event_type, n,
             |  round(num / den, 8) AS slope_per_hour,
             |  round((sy - (num / den) * CAST(sx AS DOUBLE))
             |        / CAST(n AS DOUBLE), 6) AS intercept,
             |  round(num * num / (den * deny), 8) AS r2
             |FROM sl ORDER BY event_type""".stripMargin)
    ),

    // ---- distributed weighted median (quantity-weighted price per
    //      returnflag) via histogram refinement — NO per-group global
    //      sort (3 groups = 3 sorting tasks otherwise; the q110 lesson
    //      generalized). The decision predicate is integer (2·cum ≥ W),
    //      so the float bucketing can't leak into the answer — the
    //      oracle recomputes the definition directly with a cumulative
    //      window, a different algorithm agreeing on the same statistic
    QueryDef(
      "q125_weighted_median",
      (s, dir) =>
        Summary.weightedMedian(t(s, dir, "lineitem"),
            "l_returnflag", "l_extendedprice", "l_quantity")
          .orderBy("l_returnflag"),
      Some("""WITH w AS (
             |  SELECT l_returnflag AS f, l_extendedprice AS v,
             |    CAST(l_quantity AS BIGINT) AS wt
             |  FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL
             |    AND CAST(l_quantity AS BIGINT) > 0),
             |tot AS (SELECT f, CAST(sum(wt) AS BIGINT) AS W FROM w GROUP BY 1),
             |c AS (
             |  SELECT f, v,
             |    CAST(sum(wt) OVER (PARTITION BY f ORDER BY v) AS BIGINT) AS cw
             |  FROM w)
             |SELECT c.f AS l_returnflag, min(v) AS weighted_median
             |FROM c JOIN tot ON c.f = tot.f
             |WHERE 2 * cw >= W
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // ---- seasonal profile (day-of-week × hour-of-day): cell means and
    //      deviation from the global mean. Day-of-week is computed as
    //      (epoch_day + 4) % 7 — pure integer arithmetic (1970-01-01 was
    //      a Thursday), NOT each engine's dayofweek() (they disagree on
    //      numbering). One cell aggregate; the global mean rides a
    //      broadcast
    QueryDef(
      "q132_seasonal_profile",
      (s, dir) => {
        val ev = t(s, dir, "events").select(
          ((expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            + 4) % 7).as("dow"),
          (expr("unix_micros(cast(ts as timestamp)) div 3600000000") % 24)
            .as("hod"),
          col("value"))
        val overall = broadcast(ev.agg(
          (sumExact(col("value"), 4) / count(col("value"))).as("gmean")))
        ev.groupBy("dow", "hod")
          .agg(count(lit(1)).cast("long").as("n"),
            (sumExact(col("value"), 4) / count(col("value"))).as("_m"))
          .crossJoin(overall)
          .select(col("dow"), col("hod"), col("n"),
            round(col("_m"), 6).as("mean_value"),
            round(col("_m") - col("gmean"), 6).as("deviation"))
          .orderBy("dow", "hod")
      },
      Some(s"""WITH e AS (
             |  SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             |    (epoch_us(ts) // 3600000000) % 24 AS hod, value
             |  FROM events),
             |g AS (SELECT ${sqlSumExact("value", 4)} / count(value) AS gmean
             |      FROM e)
             |SELECT dow, hod, count(*) AS n,
             |  round(${sqlSumExact("value", 4)} / count(value), 6)
             |    AS mean_value,
             |  round(${sqlSumExact("value", 4)} / count(value) - gmean, 6)
             |    AS deviation
             |FROM e, g GROUP BY dow, hod, gmean
             |ORDER BY dow, hod""".stripMargin)
    ),

    // ---- CUSUM change-point detection per event_type — on the HOURLY
    //      bucket series, never the per-row table (the q110 rule): the
    //      drift statistic cum(v) − cum(n)·mean is exact decimal cumsum
    //      + one fixed IEEE sequence; the change-point is the bucket
    //      maximizing |drift| (earliest bucket on ties)
    QueryDef(
      "q133_cusum_changepoint",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("b"),
          col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))
            .as("v"))
        val bstats = ev.groupBy("event_type", "b")
          .agg(count(lit(1)).cast("long").as("nb"), sum(col("v")).as("sb"))
        val totals = bstats.groupBy("event_type")
          .agg(sum(col("nb")).cast("long").as("nn"), sum(col("sb")).as("ss"))
          .select(col("event_type"),
            (col("ss").cast("double") / col("nn")).as("mean"))
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("b")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        val drift = bstats
          .withColumn("cs", sum(col("sb")).over(wb))
          .withColumn("cn", sum(col("nb")).over(wb).cast("long"))
          .join(totals, "event_type")
          .select(col("event_type"), col("b"),
            abs(col("cs").cast("double") - col("cn").cast("double")
              * col("mean")).as("adrift"))
        val mx = drift.groupBy("event_type")
          .agg(max(col("adrift")).as("max_drift"),
            count(lit(1)).cast("long").as("n_buckets"))
        drift.join(mx, "event_type")
          .filter(col("adrift") === col("max_drift"))
          .groupBy("event_type", "max_drift", "n_buckets")
          .agg(min(col("b")).as("change_bucket"))
          .select(col("event_type"), col("change_bucket"),
            round(col("max_drift"), 6).as("max_drift"), col("n_buckets"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (
             |  SELECT event_type, epoch_us(ts) // 3600000000 AS b,
             |    CAST(value AS DECIMAL(18,4)) AS v
             |  FROM events),
             |bs AS (
             |  SELECT event_type, b, count(*) AS nb, sum(v) AS sb
             |  FROM e GROUP BY 1, 2),
             |tot AS (
             |  SELECT event_type,
             |    CAST(sum(sb) AS DOUBLE) / CAST(sum(nb) AS BIGINT) AS mean
             |  FROM bs GROUP BY 1),
             |dr AS (
             |  SELECT bs.event_type, b,
             |    abs(CAST(sum(sb) OVER w AS DOUBLE)
             |        - CAST(CAST(sum(nb) OVER w AS BIGINT) AS DOUBLE) * mean)
             |      AS adrift
             |  FROM bs JOIN tot ON bs.event_type = tot.event_type
             |  WINDOW w AS (PARTITION BY bs.event_type ORDER BY b
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |mx AS (
             |  SELECT event_type, max(adrift) AS max_drift,
             |    count(*) AS n_buckets
             |  FROM dr GROUP BY 1)
             |SELECT dr.event_type, min(b) AS change_bucket,
             |  round(max_drift, 6) AS max_drift, n_buckets
             |FROM dr JOIN mx ON dr.event_type = mx.event_type
             |  AND dr.adrift = mx.max_drift
             |GROUP BY dr.event_type, max_drift, n_buckets
             |ORDER BY dr.event_type""".stripMargin)
    ),

    // ---- Benford first-digit audit of lineitem prices: integer-cents
    //      digit extraction (BIGINT rendering is engine-stable), round-6
    //      Benford constants baked into both plans, chi-square parts in
    //      identical IEEE shape — no runtime log10 anywhere
    QueryDef(
      "q145_benford_audit",
      (s, dir) =>
        Summary.benfordAudit(t(s, dir, "lineitem"), "l_extendedprice"),
      Some {
        val caseExpr = Summary.benfordShares.map { case (d, p) =>
          f"WHEN $d THEN CAST($p%.6f AS DOUBLE)"
        }.mkString(" ")
        def e = s"CAST(nn AS DOUBLE) * (CASE digit $caseExpr END)"
        s"""WITH c AS (
           |  SELECT CAST(round(CAST(l_extendedprice AS DOUBLE)
           |    * CAST(100.0 AS DOUBLE), 0) AS BIGINT) AS cents
           |  FROM lineitem),
           |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT)
           |        AS digit
           |      FROM c WHERE cents > 0),
           |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS observed
           |      FROM d GROUP BY digit),
           |n AS (SELECT CAST(sum(observed) AS BIGINT) AS nn FROM o)
           |SELECT digit, observed,
           |  round($e, 4) AS expected,
           |  round(((CAST(observed AS DOUBLE) - $e)
           |    * (CAST(observed AS DOUBLE) - $e)) / ($e), 6) AS chi2_part
           |FROM o, n ORDER BY digit""".stripMargin
      }
    ),

    // ---- A/B experiment readout: Welch t statistic + Satterthwaite df of
    //      event value between user-parity variants, per event type. All
    //      moments DECIMAL-routed (order-independent); t/df are
    //      fixed-shape IEEE doubles, sqrt correctly rounded everywhere
    QueryDef(
      "q147_ab_welch_t",
      (s, dir) =>
        Summary.abWelchT(t(s, dir, "events"), "event_type",
          pmod(col("user_id"), lit(2)), "value"),
      Some("""WITH e AS (
             |  SELECT event_type, user_id % 2 AS v,
             |    CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS x
             |  FROM events WHERE value IS NOT NULL),
             |g AS (
             |  SELECT event_type,
             |    CAST(count(*) FILTER (v = 0) AS BIGINT) AS n_a,
             |    CAST(count(*) FILTER (v = 1) AS BIGINT) AS n_b,
             |    sum(x) FILTER (v = 0) AS sxa,
             |    sum(x * x) FILTER (v = 0) AS sxxa,
             |    sum(x) FILTER (v = 1) AS sxb,
             |    sum(x * x) FILTER (v = 1) AS sxxb
             |  FROM e GROUP BY 1),
             |m AS (
             |  SELECT *,
             |    CAST(sxa AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
             |    CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
             |    (CAST(sxxa AS DOUBLE) - CAST(sxa AS DOUBLE)
             |       * CAST(sxa AS DOUBLE) / CAST(n_a AS DOUBLE))
             |      / CAST(n_a - 1 AS DOUBLE) AS va,
             |    (CAST(sxxb AS DOUBLE) - CAST(sxb AS DOUBLE)
             |       * CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE))
             |      / CAST(n_b - 1 AS DOUBLE) AS vb
             |  FROM g),
             |s AS (SELECT *, va / CAST(n_a AS DOUBLE) AS sea,
             |             vb / CAST(n_b AS DOUBLE) AS seb FROM m)
             |SELECT event_type, n_a, n_b,
             |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
             |  round((ma - mb) / sqrt(sea + seb), 4) AS t_stat,
             |  round(((sea + seb) * (sea + seb))
             |    / (sea * sea / CAST(n_a - 1 AS DOUBLE)
             |      + seb * seb / CAST(n_b - 1 AS DOUBLE)), 4) AS df_welch
             |FROM s ORDER BY event_type""".stripMargin)
    ),

    // ---- Mann-Whitney U: the nonparametric twin of q147. Average ranks
    //      are exact 0.5-multiples routed through DECIMAL(18,1); one rank
    //      window per event type (never global), z in fixed IEEE shape
    QueryDef(
      "q148_mann_whitney_u",
      (s, dir) =>
        Summary.mannWhitneyU(t(s, dir, "events"), "event_type",
          pmod(col("user_id"), lit(2)), "value"),
      Some("""WITH e AS (
             |  SELECT event_type, user_id % 2 AS v, CAST(value AS DOUBLE) AS x
             |  FROM events WHERE value IS NOT NULL),
             |r AS (
             |  SELECT event_type, v, x,
             |    rank() OVER (PARTITION BY event_type ORDER BY x) AS rk,
             |    count(*) OVER (PARTITION BY event_type, x) AS ties
             |  FROM e),
             |ar AS (
             |  SELECT event_type, v,
             |    CAST(CAST(rk AS DOUBLE)
             |      + CAST(ties - 1 AS DOUBLE) / CAST(2.0 AS DOUBLE)
             |      AS DECIMAL(18,1)) AS arank
             |  FROM r),
             |g AS (
             |  SELECT event_type,
             |    CAST(count(*) FILTER (v = 0) AS BIGINT) AS n_a,
             |    CAST(count(*) FILTER (v = 1) AS BIGINT) AS n_b,
             |    sum(arank) FILTER (v = 0) AS sa
             |  FROM ar GROUP BY 1),
             |u AS (
             |  SELECT *, CAST(sa AS DOUBLE)
             |    - CAST(n_a AS DOUBLE) * CAST(n_a + 1 AS DOUBLE)
             |      / CAST(2.0 AS DOUBLE) AS ua
             |  FROM g)
             |SELECT event_type, n_a, n_b, ua AS u_a,
             |  CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) - ua AS u_b,
             |  round((ua - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
             |      / CAST(2.0 AS DOUBLE))
             |    / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
             |      * CAST(n_a + n_b + 1 AS DOUBLE) / CAST(12.0 AS DOUBLE)), 4)
             |    AS z_approx
             |FROM u ORDER BY event_type""".stripMargin)
    ),

    // ---- Equal-frequency (decile) binning: exact quantile_cont-parity
    //      boundaries (q07 machinery) inlined as literals, scan-side
    //      bucket assign, partial-agg per-bin profile
    QueryDef(
      "q151_equal_freq_binning",
      (s, dir) =>
        graft.analytics.FeaturePrep.equalFreqBins(
          t(s, dir, "lineitem"), "l_extendedprice", "l_discount", 10),
      Some {
        val probs = (1 to 9).map(i => s"CAST(0.$i AS DOUBLE)").mkString(",")
        s"""WITH q AS (SELECT quantile_cont(l_extendedprice, [$probs]) AS qs
           |  FROM lineitem),
           |b AS (SELECT
           |    CAST(len(list_filter(q.qs, t -> l_extendedprice > t)) AS BIGINT)
           |      AS bin,
           |    l_extendedprice AS v, l_discount AS tgt FROM lineitem, q)
           |SELECT bin, CAST(count(*) AS BIGINT) AS n,
           |  round(min(v), 2) AS lo, round(max(v), 2) AS hi,
           |  round(${sqlSumExact("tgt", 6)}/count(tgt), 6) AS target_mean
           |FROM b GROUP BY bin ORDER BY bin""".stripMargin
      }
    ),

    // ---- Smoothed (m-estimate) target encoding: DECIMAL sufficient stats,
    //      broadcast global mean, fixed-shape IEEE shrinkage
    QueryDef(
      "q152_target_encoding",
      (s, dir) =>
        graft.analytics.FeaturePrep.targetEncodeM(
          t(s, dir, "orders"), "o_orderpriority", "o_totalprice", 100.0),
      Some("""WITH g AS (
             |  SELECT o_orderpriority AS category,
             |    CAST(count(*) AS BIGINT) AS n,
             |    sum(CAST(o_totalprice AS DECIMAL(25,6))) AS s
             |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
             |tot AS (SELECT CAST(sum(s) AS DOUBLE)
             |    / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) AS mu FROM g)
             |SELECT category, n,
             |  round(CAST(s AS DOUBLE)/CAST(n AS DOUBLE), 6) AS raw_mean,
             |  round(mu, 6) AS global_mean,
             |  round((CAST(s AS DOUBLE) + CAST(100.0 AS DOUBLE)*mu)
             |    /(CAST(n AS DOUBLE) + CAST(100.0 AS DOUBLE)), 6) AS encoded
             |FROM g, tot ORDER BY category""".stripMargin)
    ),

    // ---- Two-sample KS drift per event type, user-parity variants: the
    //      ECDF gap stays the INTEGER cross-product |cumA·nB − cumB·nA|
    //      until one final division — max found in integer space, engines
    //      agree bit-for-bit; window over distinct values, never rows
    QueryDef(
      "q153_ks_drift",
      (s, dir) =>
        graft.analytics.FeaturePrep.ksDrift(
          t(s, dir, "events"), "event_type",
          pmod(col("user_id"), lit(2)), "value"),
      Some("""WITH e AS (
             |  SELECT event_type, user_id % 2 AS v, CAST(value AS DOUBLE) AS x
             |  FROM events WHERE value IS NOT NULL),
             |c AS (SELECT event_type, x,
             |    CAST(count(*) FILTER (v = 0) AS BIGINT) AS ca,
             |    CAST(count(*) FILTER (v = 1) AS BIGINT) AS cb
             |  FROM e GROUP BY 1, 2),
             |t AS (SELECT event_type, CAST(sum(ca) AS BIGINT) AS n_a,
             |    CAST(sum(cb) AS BIGINT) AS n_b
             |  FROM c GROUP BY 1),
             |w AS (SELECT c.event_type, x, n_a, n_b,
             |    abs(CAST(sum(ca) OVER win AS BIGINT)*n_b
             |      - CAST(sum(cb) OVER win AS BIGINT)*n_a) AS dint
             |  FROM c JOIN t ON c.event_type = t.event_type
             |  WINDOW win AS (PARTITION BY c.event_type ORDER BY x
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |m AS (SELECT event_type, max(dint) AS mdint FROM w GROUP BY 1)
             |SELECT w.event_type, n_a, n_b,
             |  round(CAST(mdint AS DOUBLE)
             |    /(CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)), 6) AS ks_stat,
             |  round(min(x), 6) AS at_value
             |FROM w JOIN m ON w.event_type = m.event_type
             |  AND w.dint = m.mdint
             |GROUP BY w.event_type, n_a, n_b, mdint
             |ORDER BY w.event_type""".stripMargin)
    ),

    // ---- Calibration (reliability) bins of the rational en-confidence
    //      score against the lang label: libm-free score (5·hits/ntok
    //      clamped), DECIMAL-routed mean confidence per bin
    QueryDef(
      "q154_calibration_bins",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ntok = graft.ext.TextAnalysis.tokenCount(col("text"))
        val hits = graft.ext.TextAnalysis.langScore(col("text"), "en")
        val score = when(ntok === 0, lit(0.0))
          .otherwise(least(
            lit(5.0) * hits.cast("double") / ntok.cast("double"), lit(1.0)))
        graft.analytics.FeaturePrep.calibrationBins(
          docs, score, coalesce(col("lang"), lit("")) === "en")
      },
      Some("""WITH f AS (
             |  SELECT coalesce(lang, '') = 'en' AS y,
             |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             |      x -> x <> '')) AS ntok,
             |    len(regexp_extract_all(lower(text),
             |      '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS hits
             |  FROM documents),
             |s AS (SELECT y, CASE WHEN ntok = 0 THEN CAST(0.0 AS DOUBLE)
             |    ELSE least(CAST(5.0 AS DOUBLE)*CAST(hits AS DOUBLE)
             |      /CAST(ntok AS DOUBLE), CAST(1.0 AS DOUBLE)) END AS score
             |  FROM f),
             |b AS (SELECT
             |    least(CAST(floor(score*CAST(10.0 AS DOUBLE)) AS BIGINT), 9)
             |      AS bin,
             |    score, CAST(y AS INT) AS yi FROM s),
             |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(yi) AS BIGINT) AS n_pos,
             |    sum(CAST(round(score, 6) AS DECIMAL(18,6))) AS sconf
             |  FROM b GROUP BY bin)
             |SELECT bin, n, n_pos,
             |  round(CAST(sconf AS DOUBLE)/CAST(n AS DOUBLE), 6) AS confidence,
             |  round(CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE), 6) AS accuracy,
             |  round(abs(CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE)
             |    - CAST(sconf AS DOUBLE)/CAST(n AS DOUBLE)), 6) AS gap
             |FROM g ORDER BY bin""".stripMargin)
    ),

    // ---- Lag-1..7 autocorrelation of daily revenue: partial-agg daily
    //      rollup, tiny broadcast self-join per lag, closed-form Pearson r
    //      from DECIMAL sufficient stats (never engine corr accumulators)
    QueryDef(
      "q155_acf_daily",
      (s, dir) =>
        graft.analytics.FeaturePrep.acfDaily(
          t(s, dir, "orders"), "o_orderdate", "o_totalprice", 7),
      Some("""WITH dly AS (
             |  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
             |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |      AS DECIMAL(18,2)) AS rev
             |  FROM orders GROUP BY 1),
             |p AS (SELECT r.lag AS lag, a.rev AS xv, b.rev AS yv
             |  FROM dly a CROSS JOIN (SELECT range AS lag FROM range(1,8)) r
             |  JOIN dly b ON b.day = a.day + r.lag),
             |g AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
             |    sum(xv) AS sx, sum(yv) AS sy, sum(xv*xv) AS sxx,
             |    sum(yv*yv) AS syy, sum(xv*yv) AS sxy
             |  FROM p GROUP BY 1)
             |SELECT lag, n_pairs,
             |  round((CAST(n_pairs AS DOUBLE)*CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
             |    /(sqrt(CAST(n_pairs AS DOUBLE)*CAST(sxx AS DOUBLE)
             |        - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
             |      *sqrt(CAST(n_pairs AS DOUBLE)*CAST(syy AS DOUBLE)
             |        - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6) AS acf
             |FROM g ORDER BY lag""".stripMargin)
    ),

    // ---- Robust outlier census via median/MAD (robust twin of q110):
    //      exact per-group medians both passes, 3·1.4826·MAD fence as
    //      explicit double products
    QueryDef(
      "q156_mad_outliers",
      (s, dir) =>
        graft.analytics.FeaturePrep.madOutliers(
          t(s, dir, "events"), "event_type", "value"),
      Some("""WITH e AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
             |  FROM events WHERE value IS NOT NULL),
             |m AS (SELECT g, quantile_cont(x, 0.5) AS med,
             |    CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
             |dv AS (SELECT e.g, x, med, n, abs(x - med) AS dev
             |  FROM e JOIN m USING (g)),
             |md AS (SELECT g, quantile_cont(dev, 0.5) AS mad
             |  FROM dv GROUP BY 1),
             |o AS (SELECT dv.g, med, n, mad,
             |    CAST(count(*) FILTER (dev > CAST(3.0 AS DOUBLE)
             |      *CAST(1.4826 AS DOUBLE)*mad) AS BIGINT) AS n_out
             |  FROM dv JOIN md USING (g) GROUP BY 1, 2, 3, 4)
             |SELECT g AS event_type, n, round(med, 6) AS med,
             |  round(mad, 6) AS mad, n_out AS n_outliers,
             |  round(CAST(n_out AS DOUBLE)/CAST(n AS DOUBLE), 6)
             |    AS outlier_share
             |FROM o ORDER BY event_type""".stripMargin)
    ),

    // ---- SPLIT-CONFORMAL calibration: threshold = the
    //      ⌈0.9·(n_cal+1)⌉-th smallest calibration score (exact integer
    //      rank, the distribution-free 90% coverage guarantee), resolved
    //      via the q196 bucket refinement — never a whole-split
    //      row_number; coverage on the disjoint md5-hash test split is
    //      integer counts + one division. The prediction-interval QA a
    //      scoring pipeline gates on.
    QueryDef(
      "q206_conformal_coverage",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("value").isNotNull)
          .select(col("event_id"), col("value").cast("double").as("v"))
          .withColumn("_cal",
            graft.ext.Sampling.hashBucket(col("event_id")) < 50)
          .localCheckpoint(true)
        val cal = ev.filter(col("_cal"))
        val test = ev.filter(!col("_cal"))
        val grid = cal
          .select(least(greatest(floor(col("v") / 8.0), lit(0.0)),
            lit(63.0)).cast("long").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true)
        val tot = grid.agg(sum(col("cnt")).as("_ncal"))
        val rank = floor((col("_ncal") * 9 + 9 + 9) / lit(10.0))
        val cum = grid.select(col("bucket"), col("cnt"))
          .join(broadcast(grid.select(col("bucket").as("_b2"),
            col("cnt").as("_c2"))), col("_b2") <= col("bucket"))
          .groupBy("bucket", "cnt").agg(sum(col("_c2")).as("_cum"))
          .crossJoin(broadcast(tot))
        val target = cum
          .agg(max(col("_ncal")).as("n_cal"),
            min(when(col("_cum") >= rank,
              struct(col("bucket"),
                (rank - (col("_cum") - col("cnt"))).as("rib"))))
              .as("_t"))
          .select(col("n_cal"), col("_t.bucket").as("_tb"),
            col("_t.rib").as("_rib"))
          .localCheckpoint(true)
        val thr = broadcast(target)
          .join(cal.withColumn("bucket",
            least(greatest(floor(col("v") / 8.0), lit(0.0)), lit(63.0))
              .cast("long")), col("bucket") === col("_tb"))
          .withColumn("_rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("bucket").orderBy("v")))
          .filter(col("_rn") === col("_rib"))
          .select(col("n_cal").cast("long").as("n_cal"),
            col("v").as("threshold"))
        val cov = test.crossJoin(broadcast(thr))
          .agg(max(col("n_cal")).as("n_cal"),
            max(col("threshold")).as("threshold"),
            count(lit(1)).cast("long").as("n_test"),
            sum(when(col("v") <= col("threshold"), 1L).otherwise(0L))
              .cast("long").as("n_covered"))
        cov.select(col("n_cal"), col("n_test"), col("threshold"),
          col("n_covered"),
          (col("n_covered").cast("double") / col("n_test").cast("double"))
            .as("coverage"),
          lit(0.9).as("target"))
      },
      Some("""WITH e AS (SELECT event_id, value::DOUBLE AS v FROM events
             |  WHERE value IS NOT NULL),
             |t2 AS (SELECT v,
             |    (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))::INT
             |      % 100) < 50 AS cal
             |  FROM e),
             |calr AS (SELECT v,
             |    row_number() OVER (ORDER BY v) AS rn,
             |    count(*) OVER () AS n_cal
             |  FROM t2 WHERE cal),
             |thr AS (SELECT n_cal, v AS threshold FROM calr
             |  WHERE rn = floor((n_cal * 9 + 9 + 9) / 10)),
             |te AS (SELECT count(*) AS n_test,
             |    sum(CASE WHEN t2.v <= thr.threshold THEN 1 ELSE 0 END)
             |      AS n_cov
             |  FROM t2, thr WHERE NOT cal)
             |SELECT CAST(thr.n_cal AS BIGINT) AS n_cal,
             |  CAST(te.n_test AS BIGINT) AS n_test, thr.threshold,
             |  CAST(te.n_cov AS BIGINT) AS n_covered,
             |  CAST(te.n_cov AS DOUBLE) / CAST(te.n_test AS DOUBLE)
             |    AS coverage,
             |  CAST(0.9 AS DOUBLE) AS target
             |FROM thr, te""".stripMargin)
    ),

    // ---- MONDRIAN (group-conditional) conformal: one q206 threshold
    //      PER event_type — the conditional-coverage guarantee a
    //      per-class scoring pipeline actually needs (marginal coverage
    //      hides per-group under-coverage). Same integer rank + bucket
    //      refinement, all windows on real (group, bucket) columns.
    QueryDef(
      "q209_mondrian_conformal",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("value").isNotNull)
          .select(col("event_type").as("g"), col("event_id"),
            col("value").cast("double").as("v"))
          .withColumn("_cal",
            graft.ext.Sampling.hashBucket(col("event_id")) < 50)
          .localCheckpoint(true)
        val cal = ev.filter(col("_cal"))
          .withColumn("bucket",
            least(greatest(floor(col("v") / 8.0), lit(0.0)), lit(63.0))
              .cast("long"))
        val grid = cal.groupBy("g", "bucket")
          .agg(count(lit(1)).as("cnt"))
        val tot = grid.groupBy("g").agg(sum(col("cnt")).as("_ncal"))
        val rank = floor((col("_ncal") * 9 + 18) / lit(10.0))
        val cum = grid.join(tot, Seq("g"))
          .withColumn("_cum", sum(col("cnt")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("g").orderBy("bucket")))
        val target = cum.groupBy("g")
          .agg(max(col("_ncal")).cast("long").as("n_cal"),
            min(when(col("_cum") >= rank,
              struct(col("bucket"),
                (rank - (col("_cum") - col("cnt"))).as("rib")))).as("_t"))
          .select(col("g"), col("n_cal"), col("_t.bucket").as("bucket"),
            col("_t.rib").as("_rib"))
        val thr = broadcast(target).join(cal, Seq("g", "bucket"))
          .withColumn("_rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("g", "bucket").orderBy("v")))
          .filter(col("_rn") === col("_rib"))
          .select(col("g"), col("n_cal"), col("v").as("threshold"))
        ev.filter(!col("_cal")).join(broadcast(thr), Seq("g"))
          .groupBy(col("g").as("event_type"), col("n_cal"),
            col("threshold"))
          .agg(count(lit(1)).cast("long").as("n_test"),
            sum(when(col("v") <= col("threshold"), 1L).otherwise(0L))
              .cast("long").as("n_covered"))
          .select(col("event_type"), col("n_cal"), col("n_test"),
            col("threshold"), col("n_covered"),
            (col("n_covered").cast("double") / col("n_test").cast("double"))
              .as("coverage"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type AS g, event_id, value::DOUBLE AS v
             |  FROM events WHERE value IS NOT NULL),
             |t2 AS (SELECT g, v,
             |    (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))::INT
             |      % 100) < 50 AS cal
             |  FROM e),
             |calr AS (SELECT g, v,
             |    row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             |    count(*) OVER (PARTITION BY g) AS n_cal
             |  FROM t2 WHERE cal),
             |thr AS (SELECT g, n_cal, v AS threshold FROM calr
             |  WHERE rn = floor((n_cal * 9 + 18) / 10)),
             |te AS (SELECT t2.g, count(*) AS n_test,
             |    sum(CASE WHEN t2.v <= thr.threshold THEN 1 ELSE 0 END)
             |      AS n_cov
             |  FROM t2 JOIN thr ON thr.g = t2.g
             |  WHERE NOT cal GROUP BY t2.g)
             |SELECT thr.g AS event_type, CAST(thr.n_cal AS BIGINT) AS n_cal,
             |  CAST(te.n_test AS BIGINT) AS n_test, thr.threshold,
             |  CAST(te.n_cov AS BIGINT) AS n_covered,
             |  CAST(te.n_cov AS DOUBLE) / CAST(te.n_test AS DOUBLE)
             |    AS coverage
             |FROM thr JOIN te ON te.g = thr.g
             |ORDER BY event_type""".stripMargin)
    ),

    // ---- EXACT trimmed mean per group from the histogram grid (tail
    //      sums = full outside buckets + within-cut-bucket prefixes, the
    //      q196 refinement applied to PARTIAL SUMS) — the oracle computes
    //      the bare rank-interval definition, so the hash proves the
    //      grid decomposition. DECIMAL-routed value sums throughout.
    QueryDef(
      "q210_trimmed_mean",
      (s, dir) =>
        graft.ext.Sketches.trimmedMeanByGroup(
          t(s, dir, "events"), "event_type", "value"),
      Some("""WITH e AS (SELECT event_type AS g, value::DOUBLE AS v
             |  FROM events WHERE value IS NOT NULL),
             |r AS (SELECT g, v,
             |    row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             |    count(*) OVER (PARTITION BY g) AS w
             |  FROM e),
             |p AS (SELECT g, w, floor(w / 10) AS k FROM r GROUP BY g, w),
             |i AS (SELECT r.g, r.w, p.k,
             |    CAST(sum(CAST(r.v AS DECIMAL(18,6)))
             |      FILTER (r.rn > p.k AND r.rn <= r.w - p.k) AS DOUBLE)
             |      AS sint,
             |    CAST(sum(CAST(r.v AS DECIMAL(18,6))) AS DOUBLE) AS stot
             |  FROM r JOIN p ON p.g = r.g GROUP BY r.g, r.w, p.k)
             |SELECT g AS event_type, CAST(w AS BIGINT) AS n,
             |  CAST(k AS BIGINT) AS k_trim,
             |  stot / CAST(w AS DOUBLE) AS mean_raw,
             |  sint / CAST(w - 2 * k AS DOUBLE) AS trimmed_mean
             |FROM i ORDER BY event_type""".stripMargin)
    ),

    // ---- winsorized companion to q210: tails CLAMPED to the cut values
    //      v_(k+1) / v_(W−k) instead of dropped — the same grid
    //      decomposition plus two rank picks; k·v products stay in exact
    //      DECIMAL. Oracle = the bare definition again.
    QueryDef(
      "q211_winsorized_mean",
      (s, dir) =>
        graft.ext.Sketches.winsorizedMeanByGroup(
          t(s, dir, "events"), "event_type", "value"),
      Some("""WITH e AS (SELECT event_type AS g, value::DOUBLE AS v
             |  FROM events WHERE value IS NOT NULL),
             |r AS (SELECT g, v,
             |    row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             |    count(*) OVER (PARTITION BY g) AS w
             |  FROM e),
             |p AS (SELECT g, w, floor(w / 10) AS k FROM r GROUP BY g, w),
             |i AS (SELECT r.g, r.w, p.k,
             |    CAST(sum(CAST(r.v AS DECIMAL(18,6)))
             |      FILTER (r.rn > p.k AND r.rn <= r.w - p.k)
             |      AS DECIMAL(20,6)) AS sint,
             |    CAST(sum(CAST(r.v AS DECIMAL(18,6))) AS DOUBLE) AS stot,
             |    min(CASE WHEN r.rn = p.k + 1 THEN r.v END) AS vlo,
             |    min(CASE WHEN r.rn = r.w - p.k THEN r.v END) AS vhi
             |  FROM r JOIN p ON p.g = r.g GROUP BY r.g, r.w, p.k)
             |SELECT g AS event_type, CAST(w AS BIGINT) AS n,
             |  CAST(k AS BIGINT) AS k_trim,
             |  stot / CAST(w AS DOUBLE) AS mean_raw,
             |  CAST(sint + CAST(k AS BIGINT) * CAST(vlo AS DECIMAL(18,6))
             |      + CAST(k AS BIGINT) * CAST(vhi AS DECIMAL(18,6))
             |    AS DOUBLE) / CAST(w AS DOUBLE) AS winsorized_mean
             |FROM i ORDER BY event_type""".stripMargin)
    ),

    // ---- isotonic (PAVA) calibration of the q154 en-confidence score:
    //      closed-form minimax on the bin grid (no iteration) — every
    //      interval rate is one division of exact integer sums, so the
    //      whole min/max lattice hash-matches across engines
    QueryDef(
      "q219_isotonic_calibration",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ntok = graft.ext.TextAnalysis.tokenCount(col("text"))
        val hits = graft.ext.TextAnalysis.langScore(col("text"), "en")
        val score = when(ntok === 0, lit(0.0))
          .otherwise(least(
            lit(5.0) * hits.cast("double") / ntok.cast("double"), lit(1.0)))
        graft.analytics.FeaturePrep.isotonicCalibration(
          docs, score, coalesce(col("lang"), lit("")) === "en")
      },
      Some("""WITH f AS (
             |  SELECT coalesce(lang, '') = 'en' AS y,
             |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             |      x -> x <> '')) AS ntok,
             |    len(regexp_extract_all(lower(text),
             |      '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS hits
             |  FROM documents),
             |s AS (SELECT y, CASE WHEN ntok = 0 THEN CAST(0.0 AS DOUBLE)
             |    ELSE least(CAST(5.0 AS DOUBLE)*CAST(hits AS DOUBLE)
             |      /CAST(ntok AS DOUBLE), CAST(1.0 AS DOUBLE)) END AS score
             |  FROM s0),
             |b AS (SELECT
             |    least(CAST(floor(score*CAST(10.0 AS DOUBLE)) AS BIGINT), 9)
             |      AS bin, CAST(y AS INT) AS yi FROM s),
             |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(yi) AS BIGINT) AS pos FROM b GROUP BY bin),
             |pre AS (SELECT g.bin, g.n, g.pos,
             |    CAST(sum(g2.n) AS BIGINT) AS cum_n,
             |    CAST(sum(g2.pos) AS BIGINT) AS cum_pos
             |  FROM g JOIN g g2 ON g2.bin <= g.bin GROUP BY 1, 2, 3),
             |iv AS (SELECT pj.bin AS j, pk.bin AS k,
             |    CAST(pk.cum_pos - (pj.cum_pos - pj.pos) AS DOUBLE)
             |      / CAST(pk.cum_n - (pj.cum_n - pj.n) AS DOUBLE) AS rate
             |  FROM pre pj JOIN pre pk ON pj.bin <= pk.bin),
             |mn AS (SELECT gi.bin AS i, iv.j, min(rate) AS mrate
             |  FROM iv JOIN g gi ON iv.j <= gi.bin AND iv.k >= gi.bin
             |  GROUP BY 1, 2),
             |iso AS (SELECT i, max(mrate) AS iso FROM mn GROUP BY 1)
             |SELECT g.bin, g.n, g.pos AS n_pos,
             |  round(CAST(g.pos AS DOUBLE)/CAST(g.n AS DOUBLE), 6)
             |    AS raw_rate,
             |  round(iso, 6) AS iso_rate
             |FROM g JOIN iso ON iso.i = g.bin ORDER BY g.bin"""
        .stripMargin
        .replace("FROM s0)", "FROM f)"))),

    // ---- Murphy decomposition of the Brier score for the same score:
    //      brier = reliability − resolution + uncertainty; counts stay
    //      integers, bin contributions DECIMAL-routed (q147/q154 shapes)
    QueryDef(
      "q222_brier_decomposition",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ntok = graft.ext.TextAnalysis.tokenCount(col("text"))
        val hits = graft.ext.TextAnalysis.langScore(col("text"), "en")
        val score = when(ntok === 0, lit(0.0))
          .otherwise(least(
            lit(5.0) * hits.cast("double") / ntok.cast("double"), lit(1.0)))
        graft.analytics.FeaturePrep.brierDecomposition(
          docs, score, coalesce(col("lang"), lit("")) === "en")
      },
      Some("""WITH f AS (
             |  SELECT coalesce(lang, '') = 'en' AS y,
             |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             |      x -> x <> '')) AS ntok,
             |    len(regexp_extract_all(lower(text),
             |      '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS hits
             |  FROM documents),
             |s AS (SELECT CAST(y AS INT) AS yi,
             |    CASE WHEN ntok = 0 THEN CAST(0.0 AS DOUBLE)
             |    ELSE least(CAST(5.0 AS DOUBLE)*CAST(hits AS DOUBLE)
             |      /CAST(ntok AS DOUBLE), CAST(1.0 AS DOUBLE)) END AS score
             |  FROM f),
             |b AS (SELECT
             |    least(CAST(floor(score*CAST(10.0 AS DOUBLE)) AS BIGINT), 9)
             |      AS bin, score, yi,
             |    (score - CAST(yi AS DOUBLE))*(score - CAST(yi AS DOUBLE))
             |      AS sq FROM s),
             |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(yi) AS BIGINT) AS pos,
             |    sum(CAST(round(score, 6) AS DECIMAL(18,6))) AS sconf,
             |    sum(CAST(round(sq, 9) AS DECIMAL(18,9))) AS ssq
             |  FROM b GROUP BY bin),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
             |    CAST(sum(pos) AS BIGINT) AS pp,
             |    CAST(sum(ssq) AS DECIMAL(28,9)) AS tsq FROM g),
             |c AS (SELECT nn, pp, tsq,
             |    sum(CAST(round(CAST(n AS DOUBLE)
             |      * (CAST(sconf AS DOUBLE)/CAST(n AS DOUBLE)
             |         - CAST(pos AS DOUBLE)/CAST(n AS DOUBLE))
             |      * (CAST(sconf AS DOUBLE)/CAST(n AS DOUBLE)
             |         - CAST(pos AS DOUBLE)/CAST(n AS DOUBLE)), 9)
             |      AS DECIMAL(28,9))) AS rel,
             |    sum(CAST(round(CAST(n AS DOUBLE)
             |      * (CAST(pos AS DOUBLE)/CAST(n AS DOUBLE)
             |         - CAST(pp AS DOUBLE)/CAST(nn AS DOUBLE))
             |      * (CAST(pos AS DOUBLE)/CAST(n AS DOUBLE)
             |         - CAST(pp AS DOUBLE)/CAST(nn AS DOUBLE)), 9)
             |      AS DECIMAL(28,9))) AS res
             |  FROM g, tot GROUP BY nn, pp, tsq)
             |SELECT nn AS n,
             |  round(CAST(pp AS DOUBLE)/CAST(nn AS DOUBLE), 6) AS base_rate,
             |  round((CAST(pp AS DOUBLE)/CAST(nn AS DOUBLE))
             |    *(CAST(1.0 AS DOUBLE)
             |      - CAST(pp AS DOUBLE)/CAST(nn AS DOUBLE)), 6)
             |    AS uncertainty,
             |  round(CAST(rel AS DOUBLE)/CAST(nn AS DOUBLE), 6)
             |    AS reliability,
             |  round(CAST(res AS DOUBLE)/CAST(nn AS DOUBLE), 6)
             |    AS resolution,
             |  round(CAST(tsq AS DOUBLE)/CAST(nn AS DOUBLE), 6) AS brier
             |FROM c""".stripMargin)),

    // ---- dominant eigenvector of the text-feature correlation matrix by
    //      power iteration: ONE exact sufficient-stats scan; the 16
    //      matvec+normalize steps are driver-side fixed-shape folds that
    //      the oracle replays with a recursive CTE — raw doubles, zero
    //      tolerance (the q184 driver-iteration family, now spectral)
    QueryDef(
      "q220_dominant_eigen",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val toks = graft.ext.TextAnalysis.tokens(col("text"))
        val feats = docs
          .filter(col("text").isNotNull)
          .select(
            length(col("text")).cast("long").as("n_chars"),
            graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
            size(array_distinct(toks)).cast("long").as("n_distinct"),
            regexp_count(col("text"), lit("[0-9]")).cast("long")
              .as("n_digits"))
        Summary.dominantEigen(s, feats,
          Seq("n_chars", "n_tokens", "n_distinct", "n_digits"),
          iters = 16, decScale = 0)
      },
      Some {
        val toksSql =
          "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
        val feats = Seq(
          "n_chars" -> "CAST(length(text) AS BIGINT)",
          "n_tokens" -> s"CAST(len($toksSql) AS BIGINT)",
          "n_distinct" -> s"CAST(len(list_distinct($toksSql)) AS BIGINT)",
          "n_digits" -> "CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT)")
        val k = feats.length
        val pairs = for { i <- 0 until k; j <- i until k } yield (i, j)
        val featSel = feats
          .map { case (nm, ex) => s"$ex AS $nm" }.mkString(", ")
        val statSel = (Seq("CAST(count(*) AS BIGINT) AS n") ++
          feats.zipWithIndex.map { case ((nm, _), i) =>
            s"CAST(sum(CAST($nm AS DECIMAL(18,0))) AS DOUBLE) AS s$i" } ++
          pairs.map { case (i, j) =>
            s"CAST(sum(CAST(${feats(i)._1} AS DECIMAL(18,0))" +
              s" * CAST(${feats(j)._1} AS DECIMAL(18,0))) AS DOUBLE)" +
              s" AS p${i}_$j" }).mkString(", ")
        def pRef(i: Int, j: Int) = if (j >= i) s"p${i}_$j" else s"p${j}_$i"
        val nD = "CAST(n AS DOUBLE)"
        def mExpr(i: Int, j: Int) =
          s"($nD*${pRef(i, j)} - s$i*s$j) / " +
            s"(sqrt($nD*${pRef(i, i)} - s$i*s$i)" +
            s" * sqrt($nD*${pRef(j, j)} - s$j*s$j))"
        val mSel = (for { i <- 0 until k; j <- 0 until k }
          yield s"${mExpr(i, j)} AS m${i}_$j").mkString(", ")
        def rExpr(i: Int) =
          (0 until k).map(j => s"m${i}_$j*v$j").mkString(" + ")
        val nrm = "sqrt(" +
          (0 until k).map(i => s"(${rExpr(i)})*(${rExpr(i)})")
            .mkString(" + ") + ")"
        val stepSel = (0 until k)
          .map(i => s"(${rExpr(i)}) / $nrm AS v$i").mkString(", ")
        val initSel = (0 until k)
          .map(i => s"CAST(1.0 AS DOUBLE) AS v$i").mkString(", ")
        val outRows = feats.zipWithIndex.map { case ((nm, _), i) =>
          s"SELECT '$nm' AS index, v$i AS loading, eigenvalue FROM fin, lam"
        }.mkString(" UNION ALL ")
        s"""WITH RECURSIVE feats AS (
           |  SELECT $featSel FROM documents WHERE text IS NOT NULL),
           |st AS (SELECT $statSel FROM feats),
           |m AS (SELECT $mSel FROM st),
           |it AS (
           |  SELECT 0 AS step, $initSel
           |  UNION ALL
           |  SELECT step + 1, $stepSel FROM it, m WHERE step < 16),
           |fin AS (SELECT * FROM it WHERE step = 16),
           |lam AS (SELECT $nrm AS eigenvalue FROM fin, m)
           |$outRows ORDER BY index""".stripMargin
      }),

    // ---- Krippendorff's alpha (nominal) over a simulated 3-rater panel:
    //      rater r skips a doc when md5(doc:m:r) % 7 = 0 (missing data)
    //      and miscodes it to upper(lang) when md5(doc:v:r) % 10 = 0 —
    //      the multi-rater/missing-data agreement statistic Cohen's kappa
    //      (q205) cannot express. All sufficient statistics are integers
    //      (a2 = 2·coincidence diagonal, exact for ≤3 raters); one double
    //      division at the end, mirrored shape-for-shape in the twin
    QueryDef(
      "q227_krippendorff_alpha",
      (s, dir) => {
        val langs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
        val ratings = langs
          .withColumn("rater", explode(sequence(lit(0), lit(2))))
          .withColumn("_hm", graft.ext.Dedup.portableHash60(
            concat(col("doc_id").cast("string"), lit(":m"),
              col("rater").cast("string"))))
          .filter(pmod(col("_hm"), lit(7L)) =!= 0)
          .withColumn("_hv", graft.ext.Dedup.portableHash60(
            concat(col("doc_id").cast("string"), lit(":v"),
              col("rater").cast("string"))))
          .withColumn("cat",
            when(pmod(col("_hv"), lit(10L)) === 0, upper(col("lang")))
              .otherwise(col("lang")))
        graft.ext.Preference.krippendorffAlpha(ratings, "doc_id", "cat")
      },
      Some("""WITH r AS (
             |  SELECT doc_id, lang, range AS rater
             |  FROM documents, range(0, 3)),
             |k AS (SELECT doc_id, rater, lang,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':m' ||
             |      CAST(rater AS VARCHAR)), 1, 15))::BIGINT AS hm,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':v' ||
             |      CAST(rater AS VARCHAR)), 1, 15))::BIGINT AS hv
             |  FROM r),
             |rt AS (SELECT doc_id AS u,
             |    CASE WHEN hv % 10 = 0 THEN upper(lang) ELSE lang END AS c
             |  -- lang IS NOT NULL mirrors krippendorffAlpha's null-category
             |  -- filter (a NULL lang must not become a real category here)
             |  FROM k WHERE hm % 7 <> 0 AND lang IS NOT NULL),
             |uc AS (SELECT u, c, CAST(count(*) AS BIGINT) AS nuc
             |  FROM rt GROUP BY 1, 2),
             |pu AS (SELECT u, CAST(sum(nuc) AS BIGINT) AS mu,
             |    CAST(sum(nuc * (nuc - 1)) AS BIGINT) AS sp
             |  FROM uc GROUP BY 1 HAVING sum(nuc) >= 2),
             |pua AS (SELECT u, mu, (2 * sp) // (mu - 1) AS a2u FROM pu),
             |cuc AS (SELECT uc.* FROM uc JOIN pua USING (u)),
             |mg AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
             |    sum(CAST(nc AS DECIMAL(18,0)) * CAST(nc AS DECIMAL(18,0)))
             |      AS sncsq
             |  FROM (SELECT c, CAST(sum(nuc) AS BIGINT) AS nc
             |        FROM cuc GROUP BY 1)),
             |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
             |    CAST(sum(mu) AS BIGINT) AS n_ratings,
             |    CAST(sum(a2u) AS BIGINT) AS a2 FROM pua)
             |SELECT n_units, n_ratings, n_categories, a2,
             |  CAST(1.0 AS DOUBLE) -
             |    CAST(CAST(n_ratings - 1 AS DECIMAL(18,0)) *
             |         CAST(2 * n_ratings - a2 AS DECIMAL(18,0)) AS DOUBLE) /
             |    (CAST(CAST(n_ratings AS DECIMAL(18,0)) *
             |          CAST(n_ratings AS DECIMAL(18,0)) - sncsq AS DOUBLE)
             |     * 2) AS alpha
             |FROM tt, mg""".stripMargin)
    )
  )

  /** q42's oracle: the portable EM fold unrolled — quantized integer
    * moments, correlation entries, then `iters` Rubin–Thayer iterations as
    * chained CTEs whose every expression mirrors
    * FactorAnalysisEM.fitPortableLoadings' Scala arithmetic
    * shape-for-shape (left-associated 4-term sums, inlined 2×2
    * determinants, greatest-floored ψ). Raw double outputs.
    */
  private def faPortableOracleSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val d = 4
    val iters = 5
    def rn(a: Int, b: Int) = s"r${math.max(a, b)}${math.min(a, b)}"
    def cn(a: Int, b: Int) = s"c${math.max(a, b)}${math.min(a, b)}"
    val qs = cols.zipWithIndex.map { case (c, i) =>
      s"CAST(floor($c * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q$i"
    }.mkString(",\n    ")
    val moms = (0 until d).map(i => s"CAST(sum(z$i) AS BIGINT) AS s$i") ++
      (for { i <- 0 until d; j <- 0 to i } yield
        s"CAST(sum(CAST(z$i AS DECIMAL(18,0)) * CAST(z$j AS DECIMAL(18,0))) " +
          s"AS BIGINT) AS p$i$j")
    val covs = for { i <- 0 until d; j <- 0 to i } yield
      s"CAST(p$i$j AS DOUBLE) / CAST(n AS DOUBLE) - " +
        s"(CAST(s$i AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        s"(CAST(s$j AS DOUBLE) / CAST(n AS DOUBLE)) AS c$i$j"
    val rrs = for { i <- 0 until d; j <- 0 to i } yield
      s"${cn(i, j)} / (sqrt(${cn(i, i)}) * sqrt(${cn(j, j)})) AS ${rn(i, j)}"
    val rPass = (for { i <- 0 until d; j <- 0 to i } yield rn(i, j)).mkString(", ")
    val wInit = Seq("1.0 AS w00", "0.5 AS w01", "0.5 AS w02", "0.5 AS w03",
      "0.5 AS w10", "1.0 AS w11", "0.5 AS w12", "0.5 AS w13")
      .map(s => s"CAST($s".replace(" AS ", " AS DOUBLE) AS ")) ++
      (0 until d).map(j => s"CAST(1.0 AS DOUBLE) AS p$j")
    def sum4(f: Int => String): String = (0 until d).map(f).mkString(" + ")
    val sb = new StringBuilder
    sb ++= s"""WITH qv AS (SELECT
              |    $qs
              |  FROM lineitem),
              |t1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
              |  ${(0 until d).map(i => s"CAST(sum(q$i) AS BIGINT) AS t$i").mkString(", ")}
              |  FROM qv),
              |sh AS (SELECT n,
              |  ${(0 until d).map(i => s"t$i // n AS f$i").mkString(", ")}
              |  FROM t1),
              |zv AS (SELECT
              |  ${(0 until d).map(i => s"q$i - sh.f$i AS z$i").mkString(", ")}
              |  FROM qv, sh),
              |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
              |  ${moms.mkString(",\n  ")}
              |  FROM zv),
              |cv AS (SELECT
              |  ${covs.mkString(",\n  ")}
              |  FROM mom),
              |rr AS (SELECT
              |  ${rrs.mkString(",\n  ")}
              |  FROM cv),
              |i0 AS (SELECT ${wInit.mkString(", ")}, $rPass FROM rr),""".stripMargin
    for (t <- 1 to iters) {
      val det = "(m11 * m22 - m12 * m12)"
      val dete = "(e11 * e22 - e12 * e12)"
      sb ++= s"""
        |m$t AS (SELECT
        |  CAST(1.0 AS DOUBLE) + (${sum4(j => s"w0$j * w0$j / p$j")}) AS m11,
        |  (${sum4(j => s"w0$j * w1$j / p$j")}) AS m12,
        |  CAST(1.0 AS DOUBLE) + (${sum4(j => s"w1$j * w1$j / p$j")}) AS m22,
        |  prev.* FROM i${t - 1} prev),
        |g$t AS (SELECT m22 / $det AS g11,
        |  (CAST(0.0 AS DOUBLE) - m12) / $det AS g12,
        |  m11 / $det AS g22, prev.* FROM m$t prev),
        |b$t AS (SELECT
        |  ${(0 until d).map(j => s"(g11 * w0$j + g12 * w1$j) / p$j AS b0$j").mkString(",\n  ")},
        |  ${(0 until d).map(j => s"(g12 * w0$j + g22 * w1$j) / p$j AS b1$j").mkString(",\n  ")},
        |  prev.* FROM g$t prev),
        |s$t AS (SELECT
        |  ${(0 until d).map(j => s"(${sum4(l => s"b0$l * ${rn(l, j)}")}) AS bs0$j").mkString(",\n  ")},
        |  ${(0 until d).map(j => s"(${sum4(l => s"b1$l * ${rn(l, j)}")}) AS bs1$j").mkString(",\n  ")},
        |  prev.* FROM b$t prev),
        |e$t AS (SELECT
        |  g11 + (${sum4(j => s"bs0$j * b0$j")}) AS e11,
        |  g12 + (${sum4(j => s"bs0$j * b1$j")}) AS e12,
        |  g22 + (${sum4(j => s"bs1$j * b1$j")}) AS e22,
        |  prev.* FROM s$t prev),
        |h$t AS (SELECT e22 / $dete AS h11,
        |  (CAST(0.0 AS DOUBLE) - e12) / $dete AS h12,
        |  e11 / $dete AS h22, prev.* FROM e$t prev),
        |w$t AS (SELECT
        |  ${(0 until d).map(j => s"h11 * bs0$j + h12 * bs1$j AS wn0$j").mkString(",\n  ")},
        |  ${(0 until d).map(j => s"h12 * bs0$j + h22 * bs1$j AS wn1$j").mkString(",\n  ")},
        |  prev.* FROM h$t prev),
        |i$t AS (SELECT
        |  ${(0 until d).map(j => s"wn0$j AS w0$j").mkString(", ")},
        |  ${(0 until d).map(j => s"wn1$j AS w1$j").mkString(", ")},
        |  ${(0 until d).map(j =>
             s"greatest(${rn(j, j)} - (bs0$j * wn0$j + bs1$j * wn1$j), " +
               s"CAST(1e-12 AS DOUBLE)) AS p$j").mkString(",\n  ")},
        |  $rPass FROM w$t),""".stripMargin
    }
    val arms = cols.zipWithIndex.map { case (c, j) =>
      s"SELECT '$c' AS index, w0$j AS factor_1_loading, " +
        s"w1$j AS factor_2_loading, p$j AS uniqueness FROM i$iters"
    }.mkString("\nUNION ALL ")
    sb.toString.stripSuffix(",") + s"\n$arms\nORDER BY index"
  }

  /** q41's oracle: the portable Poisson bootstrap replayed 1:1 — md5 row
    * seeds masked to 30 bits, the SAME affine consts inlined as a VALUES
    * table, middle-square uniforms, Σ(u > cdf_k) weights, quantized sums,
    * 10^-4-unit replicate means, integer-exact mean/std and quantile_cont
    * percentiles (== Spark's exact percentile on the same integers).
    */
  private def bootstrapPortableOracleSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val values = graft.ext.Dedup.affineConsts(1000, 30).zipWithIndex
      .map { case ((a, b), r) => s"($r,$a,$b)" }.mkString(",")
    val qs = cols.zipWithIndex.map { case (c, i) =>
      s"CAST(floor($c * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q$i"
    }.mkString(",\n    ")
    val qPass = cols.indices.map(i => s"base.q$i").mkString(", ")
    // integer thresholds: u > c ⟺ y ≥ floor(c·2^30) — same derivation as
    // Bootstrap.poissonPortable, same inlined floors
    val cdfSum = Bootstrap.PoissonCdf.map { c =>
      val f = math.floor(c * (1L << 30).toDouble).toLong
      s"(CASE WHEN y >= $f THEN 1 ELSE 0 END)"
    }.mkString("\n  + ")
    val wSums = cols.indices.map(i =>
      s"CAST(sum(w * q$i) AS BIGINT) AS s$i").mkString(",\n    ")
    val meanArms = cols.zipWithIndex.map { case (c, i) =>
      s"SELECT '$c' AS idx, CAST(floor(CAST(s$i AS DOUBLE) / CAST(ww AS DOUBLE)" +
        s" + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mq FROM sums"
    }.mkString("\n  UNION ALL ")
    s"""WITH base AS (SELECT
       |    ('0x' || substr(md5('bs|' || CAST(l_orderkey AS VARCHAR) || ':' ||
       |      CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT & 1073741823 AS h,
       |    $qs
       |  FROM lineitem),
       |cd(r, a, b) AS (VALUES $values),
       |draws AS (SELECT cd.r,
       |    ((((cd.a * base.h + cd.b) & 1073741823)
       |          * ((cd.a * base.h + cd.b) & 1073741823)) >> 15)
       |         & 1073741823 AS y,
       |    $qPass
       |  FROM base, cd),
       |wt AS (SELECT r, ($cdfSum) AS w, ${cols.indices.map(i => s"q$i").mkString(", ")}
       |  FROM draws),
       |sums AS (SELECT r, CAST(sum(w) AS BIGINT) AS ww,
       |    $wSums
       |  FROM wt WHERE w > 0 GROUP BY r),
       |means AS (
       |  $meanArms),
       |g AS (SELECT idx, CAST(sum(mq) AS BIGINT) AS s1,
       |    sum(CAST(mq AS DECIMAL(18,0)) * CAST(mq AS DECIMAL(18,0))) AS s2,
       |    quantile_cont(mq, 0.025) AS plo, quantile_cont(mq, 0.975) AS phi,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM means GROUP BY idx)
       |SELECT idx AS index,
       |  round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
       |    / CAST(10000.0 AS DOUBLE), 4) AS mean_estimate,
       |  round(sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
       |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
       |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
       |    / CAST(10000.0 AS DOUBLE), 4) AS std_estimate,
       |  round(plo / CAST(10000.0 AS DOUBLE), 4) AS ci_lower_95,
       |  round(phi / CAST(10000.0 AS DOUBLE), 4) AS ci_upper_95,
       |  CAST(1000.0 AS DOUBLE) AS simulations
       |FROM g ORDER BY index""".stripMargin
  }

  /** q40's oracle (r5's q215, promoted to the primary row): the full
    * portable-RNG simulation — md5-stream uniforms u = (h+1)/2^60,
    * Irwin–Hall(12) normals as a fixed left-associated add chain,
    * centi-unit integer draws, exact decimal/long moment sums, raw
    * fixed-shape double readouts.
    */
  private def monteCarloPortableOracleSql: String = {
    val values = MonteCarlo.scenarios.zipWithIndex.map { case (sc, i) =>
      s"($i, '${sc.scenario}', '${sc.description}', " +
        s"CAST(${sc.scenarioMult} AS DOUBLE)*CAST(${sc.trafficMult} AS DOUBLE), " +
        s"CAST(${sc.accidentFactor} AS DOUBLE))"
    }.mkString(",\n")
    def uu(j: String) =
      s"""CAST(('0x' || substr(md5('mc|' || CAST(d.ord AS VARCHAR) || '|' ||
         |      CAST(r.id AS VARCHAR) || '|' || '$j'), 1, 15))::BIGINT
         |      + 1 AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)""".stripMargin
    val ihSum = (1 to 12).map(j => s"(${uu(j.toString)})").mkString("\n + ")
    s"""WITH s AS (SELECT
       |    CAST(${sqlSumExact("o_totalprice", 6)} AS DOUBLE)
       |      / CAST(count(o_totalprice) AS DOUBLE) AS base,
       |  quantile_cont(o_totalprice, 0.75) AS thr FROM orders),
       |d(ord, scenario, description, mult, af) AS (VALUES
       |$values),
       |sims AS (
       |  SELECT d.ord, d.scenario, d.description,
       |    CAST(floor((($ihSum - CAST(6.0 AS DOUBLE))
       |        * (CAST(0.18 AS DOUBLE) * s.base)
       |        + s.base * d.mult) * CAST(100.0 AS DOUBLE))
       |      AS BIGINT) AS simc,
       |    ((${uu("0")}) < CAST(0.025 AS DOUBLE) * d.af) AS acc,
       |    CAST(floor(round(s.thr, 2) * CAST(100.0 AS DOUBLE)) AS BIGINT)
       |      AS thrc,
       |    round(s.thr, 2) AS thr2
       |  FROM range(0, 10000) r(id), d, s),
       |g AS (
       |  SELECT ord, scenario, description,
       |    CAST(sum(simc) AS BIGINT) AS s1,
       |    sum(CAST(simc AS DECIMAL(18,0)) * CAST(simc AS DECIMAL(18,0)))
       |      AS s2,
       |    CAST(sum(CASE WHEN simc > thrc THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nc,
       |    CAST(sum(CASE WHEN acc THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |    max(thr2) AS threshold_used
       |  FROM sims GROUP BY 1, 2, 3)
       |SELECT scenario, description,
       |  CAST(s1 AS DOUBLE) / CAST(10000 AS DOUBLE) / CAST(100.0 AS DOUBLE)
       |    AS mean_traffic,
       |  sqrt(CAST(s2 AS DOUBLE) / CAST(10000 AS DOUBLE)
       |      - (CAST(s1 AS DOUBLE) / CAST(10000 AS DOUBLE))
       |        * (CAST(s1 AS DOUBLE) / CAST(10000 AS DOUBLE)))
       |    / CAST(100.0 AS DOUBLE) AS traffic_std,
       |  CAST(nc AS DOUBLE) * CAST(100.0 AS DOUBLE) / CAST(10000 AS DOUBLE)
       |    AS congestion_prob_high,
       |  CAST(na AS DOUBLE) * CAST(100.0 AS DOUBLE) / CAST(10000 AS DOUBLE)
       |    AS accident_risk_high,
       |  threshold_used,
       |  CAST(10000 AS BIGINT) AS n_simulations
       |FROM g ORDER BY ord""".stripMargin
  }
}
