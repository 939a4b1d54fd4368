package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Q._

/** Relational core: scans, filters, joins, dedup, aggregates, windows,
  * scalar functions — one oracle-backed query per SURVEY.md §2 operator
  * family, expressed on the driver's TPC-H-ish testdata.
  *
  * Conventions (driver hash-compares Spark parquet vs DuckDB):
  *  - every computed column is aliased identically in both engines;
  *  - counts are BIGINT/long on both sides;
  *  - big double sums go through DECIMAL (Q.sumExact) so the result is
  *    order-independent and bit-identical across engines;
  *  - multi-row results carry a deterministic ORDER BY.
  */
object CoreQueries {

  // r12 (ADVICE): an empty/all-null column yields None from the percentile
  // helper — map it to a null literal (matching the builtin percentile
  // aggregate's null output) instead of NoSuchElementException
  private def plit(o: Option[Double]): org.apache.spark.sql.Column =
    o.map(lit).getOrElse(lit(null).cast("double"))

  /** Row count of `df` as a scalar-subquery column, so that several
    * counts compose into one lazy plan:
    * `spark.range(1).select(nRows(a), nRows(b))`.
    */
  private def nRows(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Column =
    df.agg(count(lit(1))).scalar()

  val defs: Seq[QueryDef] = Seq(
    // ---- A5/A8 + arithmetic: the classic pricing-summary aggregation (S2 scan → agg)
    QueryDef(
      "q01_pricing_summary",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.groupBy("l_returnflag", "l_linestatus")
          .agg(
            sumExact(col("l_quantity"), 2).as("sum_qty"),
            sumExact(col("l_extendedprice"), 2).as("sum_base_price"),
            sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("sum_disc_price"),
            (sumExact(col("l_quantity"), 2) / count(lit(1))).as("avg_qty"),
            (sumExact(col("l_discount"), 4) / count(lit(1))).as("avg_disc"),
            count(lit(1)).as("count_order")
          )
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
              |${sqlSumExact("l_quantity", 2)} AS sum_qty,
              |${sqlSumExact("l_extendedprice", 2)} AS sum_base_price,
              |${sqlSumExact("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
              |${sqlSumExact("l_quantity", 2)} / count(*) AS avg_qty,
              |${sqlSumExact("l_discount", 4)} / count(*) AS avg_disc,
              |count(*) AS count_order
              |FROM lineitem GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    ),

    // ---- P1/P2-style projection + predicate pushdown (filter reaches the scan)
    QueryDef(
      "q02_filter_project",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(
            col("l_shipdate") >= lit("1998-01-01").cast("timestamp_ntz") &&
              col("l_shipdate") < lit("1998-04-01").cast("timestamp_ntz") &&
              col("l_discount") >= 0.05 && col("l_quantity") < 10)
          .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
            col("l_quantity"), col("l_extendedprice"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |l_quantity, l_extendedprice
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
             |  AND l_shipdate < TIMESTAMP '1998-04-01'
             |  AND l_discount >= 0.05 AND l_quantity < 10
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    ),

    // ---- J1 analog: left equi-join + grouped agg
    QueryDef(
      "q03_left_join_agg",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        o.join(c, o("o_custkey") === c("c_custkey"), "left")
          .groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("n_orders"),
            sumExact(col("o_totalprice"), 2).as("total_price"),
            (sumExact(col("c_acctbal"), 2) / count(col("c_acctbal")))
              .as("avg_acctbal")
          )
          .orderBy(asc_nulls_first("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, count(*) AS n_orders,
              |${sqlSumExact("o_totalprice", 2)} AS total_price,
              |${sqlSumExact("c_acctbal", 2)} / count(c_acctbal) AS avg_acctbal
              |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
              |GROUP BY c_mktsegment ORDER BY c_mktsegment NULLS FIRST""".stripMargin)
    ),

    // ---- multi-way join with broadcastable dims (region/nation/customer).
    // The dim chain is probed at ORDERS grain (orders→customer→nation→
    // region broadcasts produce a narrow (o_orderkey, r_name) side), the
    // revenue expression is computed BEFORE the fact exchange so lineitem
    // shuffles only (orderkey, decimal) rows, and the orderkey join is
    // hinted SHUFFLE_HASH — no SMJ sorts on either the 60M- or the
    // 15M-row side (29.3 → 12.7 s at 100×). A per-orderkey partial
    // pre-aggregation was measured and REJECTED locally (23.2 s: the
    // ~15M-key hash agg costs more than the 4× shuffle-row saving on
    // local[32]); it remains the right dial when the cluster is
    // network-bound. Decimal addition is associative, so summing per-row
    // decimals matches the flat oracle definition bit-for-bit.
    QueryDef(
      "q04_regional_revenue",
      (s, dir) => regionalRevenue(s, dir, preAggregateFact = false),
      Some(s"""SELECT r_name,
              |${sqlSumExact("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
              |count(*) AS n_lineitems
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name ORDER BY r_name""".stripMargin)
    ),

    // ---- part/supplier dimension joins: brand-level margins
    QueryDef(
      "q47_brand_margins",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val p = t(s, dir, "part")
        val su = t(s, dir, "supplier")
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
          .groupBy("p_brand")
          .agg(
            count(lit(1)).as("n_items"),
            countDistinct(col("s_suppkey")).as("n_suppliers"),
            sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("revenue"),
            (sumExact(col("l_extendedprice") - col("p_retailprice") * col("l_quantity"), 4)
              / count(lit(1))).as("avg_margin")
          )
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand, count(*) AS n_items,
              |count(DISTINCT s_suppkey) AS n_suppliers,
              |${sqlSumExact("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
              |${sqlSumExact("l_extendedprice - p_retailprice * l_quantity", 4)} / count(*) AS avg_margin
              |FROM lineitem
              |JOIN part ON l_partkey = p_partkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
    ),

    // ---- the SQL front-end end-to-end: temp views + spark.sql text,
    //      including a graft-native function (mode_det) in SQL
    QueryDef(
      "q48_sql_surface",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("g_orders")
        t(s, dir, "customer").createOrReplaceTempView("g_customer")
        s.sql(
          """SELECT c_mktsegment,
            |  count(*) AS n,
            |  mode_det(o_orderpriority) AS top_priority,
            |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
            |FROM g_orders JOIN g_customer ON o_custkey = c_custkey
            |GROUP BY c_mktsegment
            |ORDER BY c_mktsegment""".stripMargin)
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
             |(SELECT o2.o_orderpriority FROM orders o2
             |  JOIN customer c2 ON o2.o_custkey = c2.c_custkey
             |  WHERE c2.c_mktsegment = o.c_mktsegment
             |    AND o2.o_orderpriority IS NOT NULL
             |  GROUP BY o2.o_orderpriority
             |  ORDER BY count(*) DESC, o2.o_orderpriority ASC LIMIT 1) AS top_priority,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
             |FROM (SELECT * FROM orders JOIN customer ON o_custkey = c_custkey) o
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    ),

    // ---- D1: keep-first dedup via row_number (earliest order per customer)
    QueryDef(
      "q05_dedup_keep_first",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            col("o_totalprice"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
             |FROM (SELECT *, row_number() OVER
             |        (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
             |      FROM orders)
             |WHERE rn = 1 ORDER BY o_custkey""".stripMargin)
    ),

    // ---- A1: mode with the pandas tie-break (most frequent, then smallest)
    QueryDef(
      "q06_mode",
      (s, dir) =>
        t(s, dir, "orders")
          .filter(col("o_orderpriority").isNotNull)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("o_orderpriority"))
          .limit(1)
          .select(col("o_orderpriority").as("mode_value"), col("cnt")),
      Some("""SELECT o_orderpriority AS mode_value, count(*) AS cnt
             |FROM orders WHERE o_orderpriority IS NOT NULL
             |GROUP BY o_orderpriority
             |ORDER BY cnt DESC, o_orderpriority ASC LIMIT 1""".stripMargin)
    ),

    // ---- A1 via the custom TypedImperativeAggregate (graft.functions.
    //      DeterministicMode) — must agree with the groupBy formulation AND
    //      the DuckDB oracle
    QueryDef(
      "q45_mode_det_aggregate",
      (s, dir) =>
        t(s, dir, "orders")
          .agg(graft.functions.GraftFunctions
            .modeDet(col("o_orderpriority")).as("mode_value")),
      Some("""SELECT o_orderpriority AS mode_value FROM orders
             |WHERE o_orderpriority IS NOT NULL
             |GROUP BY 1 ORDER BY count(*) DESC, 1 ASC LIMIT 1""".stripMargin)
    ),

    // ---- grouped exact quantiles (per-segment medians — grouped agg ×
    //      percentile composition the reference never reaches)
    QueryDef(
      "q61_grouped_quantiles",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("n"),
            round(percentile(col("o_totalprice"), lit(0.5)), 4).as("median_price"),
            round(percentile(col("o_totalprice"), lit(0.9)), 4).as("p90_price")
          )
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
             |round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
             |round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    ),

    // ---- A2/A3: exact median + quartiles (linear interpolation, both engines)
    QueryDef(
      "q07_median_quantiles",
      (s, dir) => {
        val r = graft.analytics.Summary.exactPercentilesHist(
          t(s, dir, "lineitem"), Seq(
            "l_quantity" -> Seq(0.5),
            "l_extendedprice" -> Seq(0.25, 0.75),
            "l_discount" -> Seq(0.95)))
        s.range(1).select(
          round(plit(r("l_quantity").head), 4).as("median_qty"),
          round(plit(r("l_extendedprice").head), 4).as("q1_price"),
          round(plit(r("l_extendedprice")(1)), 4).as("q3_price"),
          round(plit(r("l_discount").head), 6).as("p95_disc"))
      },
      Some("""SELECT round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
             |round(quantile_cont(l_extendedprice, 0.25), 4) AS q1_price,
             |round(quantile_cont(l_extendedprice, 0.75), 4) AS q3_price,
             |round(quantile_cont(l_discount, 0.95), 6) AS p95_disc
             |FROM lineitem""".stripMargin)
    ),

    // ---- A3+C4+A10: IQR bounds → clip → aggregate (two-phase stats plan)
    QueryDef(
      "q08_iqr_clip",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        // exact Q1/Q3, inlined as literals
        val q13 = graft.analytics.Summary.exactPercentilesHist(
          li, Seq("l_extendedprice" -> Seq(0.25, 0.75)))("l_extendedprice")
        li.withColumn("q1", plit(q13.head))
          .withColumn("q3", plit(q13(1)))
          .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
          .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
          .agg(
            (sumExact(least(greatest(col("l_extendedprice"), col("lo")), col("hi")), 4)
              / count(lit(1))).as("clipped_avg"),
            count(when(col("l_extendedprice") < col("lo")
              || col("l_extendedprice") > col("hi"), 1)).as("n_outliers")
          )
      },
      Some(s"""WITH b AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
              |                  quantile_cont(l_extendedprice, 0.75) AS q3
              |           FROM lineitem),
              |bounds AS (SELECT q1 - 1.5*(q3-q1) AS lo, q3 + 1.5*(q3-q1) AS hi FROM b)
              |SELECT ${sqlSumExact("least(greatest(l_extendedprice, lo), hi)", 4)} / count(*) AS clipped_avg,
              |count(*) FILTER (WHERE l_extendedprice < lo OR l_extendedprice > hi) AS n_outliers
              |FROM lineitem, bounds""".stripMargin)
    ),

    // ---- A2/C5: median null-fill (nulls injected deterministically)
    QueryDef(
      "q09_median_fill",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .withColumn("qty_n",
            when(col("l_orderkey") % 10 === 0, lit(null).cast("double"))
              .otherwise(col("l_quantity")))
        val med = graft.analytics.Summary.exactPercentilesHist(
          li, Seq("qty_n" -> Seq(0.5)))("qty_n").head
        li.agg(
          (sumExact(coalesce(col("qty_n"), plit(med)), 2) / count(lit(1)))
            .as("filled_avg"),
          count(when(col("qty_n").isNull, 1)).as("n_filled")
        )
      },
      Some(s"""WITH src AS (SELECT CASE WHEN l_orderkey % 10 = 0 THEN NULL
              |                         ELSE l_quantity END AS qty_n FROM lineitem),
              |m AS (SELECT quantile_cont(qty_n, 0.5) AS med FROM src)
              |SELECT ${sqlSumExact("coalesce(qty_n, med)", 2)} / count(*) AS filled_avg,
              |count(*) FILTER (WHERE qty_n IS NULL) AS n_filled
              |FROM src, m""".stripMargin)
    ),

    // ---- A5/A6/A11: describe-style multi-stat in one pass (ddof both ways)
    QueryDef(
      "q10_describe_stats",
      (s, dir) =>
        t(s, dir, "orders").agg(
          count(col("o_totalprice")).as("cnt"),
          (sumExact(col("o_totalprice"), 2) / count(col("o_totalprice")))
            .as("mean_price"),
          round(stddev_samp(col("o_totalprice")), 2).as("std_samp"),
          round(stddev_pop(col("o_totalprice")), 2).as("std_pop"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price")
        ),
      Some(s"""SELECT count(o_totalprice) AS cnt,
              |${sqlSumExact("o_totalprice", 2)} / count(o_totalprice) AS mean_price,
              |round(stddev_samp(o_totalprice), 2) AS std_samp,
              |round(stddev_pop(o_totalprice), 2) AS std_pop,
              |min(o_totalprice) AS min_price,
              |max(o_totalprice) AS max_price
              |FROM orders""".stripMargin)
    ),

    // ---- A12: correlation (pairwise Pearson)
    QueryDef(
      "q11_correlation",
      (s, dir) =>
        t(s, dir, "lineitem").agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 4)
            .as("corr_qty_price"),
          round(corr(col("l_discount"), col("l_tax")), 4).as("corr_disc_tax")
        ),
      Some("""SELECT round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
             |round(corr(l_discount, l_tax), 4) AS corr_disc_tax
             |FROM lineitem""".stripMargin)
    ),

    // ---- W1: top-k by absolute value with deterministic tie-break
    QueryDef(
      "q12_topk_abs",
      (s, dir) =>
        t(s, dir, "customer")
          .select(col("c_custkey"), round(abs(col("c_acctbal")), 2).as("abs_bal"))
          .orderBy(desc("abs_bal"), asc("c_custkey"))
          .limit(10),
      Some("""SELECT c_custkey, round(abs(c_acctbal), 2) AS abs_bal
             |FROM customer ORDER BY abs_bal DESC, c_custkey ASC LIMIT 10""".stripMargin)
    ),

    // ---- W3: ranking/analytic windows (row_number, lag, running sum)
    QueryDef(
      "q13_window_funcs",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .select(
            col("o_custkey"), col("o_orderkey"),
            row_number().over(w).cast("long").as("rn"),
            round(coalesce(lag(col("o_totalprice"), 1).over(w), lit(0.0)), 2)
              .as("prev_price"),
            round(sum(col("o_totalprice")).over(wRows), 2).as("run_sum")
          )
          .filter(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, rn, prev_price, run_sum FROM (
             |  SELECT o_custkey, o_orderkey,
             |    row_number() OVER w AS rn,
             |    round(coalesce(lag(o_totalprice) OVER w, 0), 2) AS prev_price,
             |    round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |      ORDER BY o_orderdate, o_orderkey
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
             |  FROM orders
             |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)
    ),

    // ---- C1: multi-format timestamp parse with coercion (strings built
    //      deterministically from o_orderdate, incl. garbage)
    QueryDef(
      "q14_messy_timestamp_parse",
      (s, dir) =>
        t(s, dir, "orders")
          .withColumn("ts_str",
            when(col("o_orderkey") % 4 === 0,
              date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm"))
              .when(col("o_orderkey") % 4 === 1,
                date_format(col("o_orderdate"), "dd/MM/yyyy hha"))
              .when(col("o_orderkey") % 4 === 2,
                date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm'Z'"))
              .otherwise(lit("TBD")))
          .withColumn("parsed",
            coalesce(
              to_timestamp(col("ts_str"), "yyyy-MM-dd HH:mm"),
              to_timestamp(col("ts_str"), "dd/MM/yyyy hha"),
              to_timestamp(col("ts_str"), "yyyy-MM-dd'T'HH:mm'Z'"))
              // session TZ is UTC; NTZ keeps the parquet output naive so the
              // DuckDB oracle (naive timestamps) compares equal
              .cast("timestamp_ntz"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("parsed")).as("n_parsed"),
            min(col("parsed")).as("min_ts"),
            max(col("parsed")).as("max_ts")
          ),
      Some("""WITH src AS (SELECT CASE
             |    WHEN o_orderkey % 4 = 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M')
             |    WHEN o_orderkey % 4 = 1 THEN strftime(o_orderdate, '%d/%m/%Y %I%p')
             |    WHEN o_orderkey % 4 = 2 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%MZ')
             |    ELSE 'TBD' END AS ts_str FROM orders),
             |p AS (SELECT coalesce(
             |    try_strptime(ts_str, '%Y-%m-%d %H:%M'),
             |    try_strptime(ts_str, '%d/%m/%Y %I%p'),
             |    try_strptime(ts_str, '%Y-%m-%dT%H:%MZ')) AS parsed FROM src)
             |SELECT count(*) AS n_rows, count(parsed) AS n_parsed,
             |min(parsed) AS min_ts, max(parsed) AS max_ts FROM p""".stripMargin)
    ),

    // ---- C2: date truncation + monthly rollup
    QueryDef(
      "q15_monthly_revenue",
      (s, dir) =>
        t(s, dir, "orders")
          .withColumn("month", date_trunc("month", col("o_orderdate")).cast("date"))
          .groupBy("month")
          .agg(sumExact(col("o_totalprice"), 2).as("revenue"),
            count(lit(1)).as("n_orders"))
          .orderBy("month"),
      Some(s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
              |${sqlSumExact("o_totalprice", 2)} AS revenue, count(*) AS n_orders
              |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // ---- date arithmetic: shipping lag (datediff) stats per priority
    QueryDef(
      "q64_date_arithmetic",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .withColumn("lag_days",
            datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            (sumExact(col("lag_days").cast("double"), 1) / count(lit(1)))
              .as("avg_lag_days"),
            min(col("lag_days")).as("min_lag"),
            max(col("lag_days")).as("max_lag")
          )
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority, count(*) AS n,
              |${sqlSumExact("CAST(date_diff('day', o_orderdate, l_shipdate) AS DOUBLE)", 1)} / count(*) AS avg_lag_days,
              |CAST(min(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS min_lag,
              |CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS max_lag
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    ),

    // ---- C6: season-from-month conditional
    QueryDef(
      "q16_season_case",
      (s, dir) =>
        t(s, dir, "orders")
          .withColumn("season",
            when(month(col("o_orderdate")).isin(12, 1, 2), "Winter")
              .when(month(col("o_orderdate")).isin(3, 4, 5), "Spring")
              .when(month(col("o_orderdate")).isin(6, 7, 8), "Summer")
              .otherwise("Autumn"))
          .groupBy("season")
          .agg(count(lit(1)).as("n"),
            (sumExact(col("o_totalprice"), 2) / count(lit(1))).as("avg_price"))
          .orderBy("season"),
      Some(s"""SELECT CASE
              |  WHEN month(o_orderdate) IN (12,1,2) THEN 'Winter'
              |  WHEN month(o_orderdate) IN (3,4,5) THEN 'Spring'
              |  WHEN month(o_orderdate) IN (6,7,8) THEN 'Summer'
              |  ELSE 'Autumn' END AS season,
              |count(*) AS n,
              |${sqlSumExact("o_totalprice", 2)} / count(*) AS avg_price
              |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // ---- set operations: union / intersect / except counts
    QueryDef(
      "q17_set_ops",
      (s, dir) => {
        val o = t(s, dir, "orders").select(col("o_custkey").as("k"))
        val c = t(s, dir, "customer").select(col("c_custkey").as("k"))
        s.range(1).select(
          nRows(o.union(c).distinct()).as("n_union"),
          nRows(o.intersect(c)).as("n_intersect"),
          nRows(c.except(o)).as("n_except"))
      },
      Some("""SELECT
             |(SELECT count(*) FROM (SELECT o_custkey FROM orders UNION SELECT c_custkey FROM customer)) AS n_union,
             |(SELECT count(*) FROM (SELECT o_custkey FROM orders INTERSECT SELECT c_custkey FROM customer)) AS n_intersect,
             |(SELECT count(*) FROM (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)) AS n_except""".stripMargin)
    ),

    // ---- A9: boolean-mask share over a threshold
    QueryDef(
      "q18_threshold_share",
      (s, dir) =>
        t(s, dir, "orders").agg(
          round(avg((col("o_totalprice") > 200000.0).cast("double")) * 100, 4)
            .as("pct_high"),
          count(when(col("o_totalprice") > 200000.0, 1)).as("n_high")
        ),
      Some("""SELECT round(avg(CASE WHEN o_totalprice > 200000.0 THEN 1.0 ELSE 0.0 END) * 100, 4) AS pct_high,
             |count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_high
             |FROM orders""".stripMargin)
    ),

    // ---- A10: outlier counts against fixed bounds
    QueryDef(
      "q19_outlier_count",
      (s, dir) =>
        t(s, dir, "lineitem").agg(
          count(when(col("l_quantity") < 2 || col("l_quantity") > 49, 1))
            .as("qty_outliers"),
          count(when(col("l_extendedprice") > 90000, 1)).as("price_outliers")
        ),
      Some("""SELECT
             |count(*) FILTER (WHERE l_quantity < 2 OR l_quantity > 49) AS qty_outliers,
             |count(*) FILTER (WHERE l_extendedprice > 90000) AS price_outliers
             |FROM lineitem""".stripMargin)
    ),

    // ---- A11: nunique (exact distinct counts)
    QueryDef(
      "q20_nunique",
      (s, dir) =>
        t(s, dir, "orders").agg(
          countDistinct(col("o_custkey")).as("u_custkey"),
          countDistinct(col("o_orderstatus")).as("u_status"),
          countDistinct(col("o_orderpriority")).as("u_priority"),
          count(lit(1)).as("n_rows")
        ),
      Some("""SELECT count(DISTINCT o_custkey) AS u_custkey,
             |count(DISTINCT o_orderstatus) AS u_status,
             |count(DISTINCT o_orderpriority) AS u_priority,
             |count(*) AS n_rows FROM orders""".stripMargin)
    ),

    // ---- S1/S3: CSV sink + schema'd CSV scan round-trip (rows-only: the
    //      oracle cannot see the engine's scratch directory)
    QueryDef(
      "q39_csv_roundtrip",
      (s, dir) => {
        // write orders (longs, strings with spaces, doubles, a date) to CSV,
        // read it back, and return the FULL content — the DuckDB oracle
        // reads the original parquet, so the hash compare proves the CSV
        // sink+source preserve every value exactly
        // fixed scratch path + overwrite mode: a UUID-suffixed dir leaked
        // one orphan per invocation (Bench alone runs this 4x per run)
        val out =
          s"${System.getProperty("java.io.tmpdir")}/graft_csv_roundtrip"
        val src = t(s, dir, "orders")
          .filter(col("o_orderkey") <= 4000)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"),
            col("o_orderdate").cast("date").as("o_orderdate"),
            col("o_orderpriority"))
        graft.io.Layers.writeCsv(src, out)
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType),
          StructField("o_orderdate", DateType),
          StructField("o_orderpriority", StringType)))
        graft.io.Layers.readCsv(s, out, schema).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey <= 4000
             |ORDER BY o_orderkey""".stripMargin)
    ),

    // ---- ORC sink+scan round trip (S-family: the other native columnar
    //      lake format): write through Layers.writeOrc, read back through
    //      the vectorized ORC scan, return the FULL content — the oracle
    //      reads the original parquet, so the hash proves the ORC
    //      sink+source preserve every value (incl. dates and doubles)
    //      exactly. Same q39 discipline: fixed scratch path, overwrite.
    QueryDef(
      "q236_orc_roundtrip",
      (s, dir) => {
        val out =
          s"${System.getProperty("java.io.tmpdir")}/graft_orc_roundtrip"
        val src = t(s, dir, "orders")
          .filter(col("o_orderkey") <= 4000)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"),
            col("o_orderdate").cast("date").as("o_orderdate"),
            col("o_orderpriority"))
        graft.io.Layers.writeOrc(src, out)
        graft.io.Layers.readOrc(s, out).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey <= 4000
             |ORDER BY o_orderkey""".stripMargin)
    ),

    // ---- JSON-lines sink+scan round trip (the interchange format of
    //      text-corpus releases): writeJsonl emits shortest-roundtrip
    //      doubles and ISO dates, readJsonl re-reads under the EXPLICIT
    //      schema (no inference pass) — hash equality against the parquet
    //      original proves the lossless round trip.
    QueryDef(
      "q237_jsonl_roundtrip",
      (s, dir) => {
        val out =
          s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_roundtrip"
        val src = t(s, dir, "orders")
          .filter(col("o_orderkey") <= 4000)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"),
            col("o_orderdate").cast("date").as("o_orderdate"),
            col("o_orderpriority"))
        graft.io.Layers.writeJsonl(src, out)
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType),
          StructField("o_orderdate", DateType),
          StructField("o_orderpriority", StringType)))
        graft.io.Layers.readJsonl(s, out, schema).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey <= 4000
             |ORDER BY o_orderkey""".stripMargin)
    ),

    // ---- GZIP-compressed JSON-lines round trip — how text-corpus
    //      releases actually ship (.jsonl.gz). Same q237 contract, codec
    //      on: the scan decompresses transparently by extension and the
    //      hash against the parquet original proves nothing is lost.
    //      (Gzip is not splittable — read parallelism = file count, which
    //      is the writer's partitioning; documented on Layers.writeJsonl.)
    QueryDef(
      "q239_jsonl_gzip_roundtrip",
      (s, dir) => {
        val out =
          s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_gz_roundtrip"
        val src = t(s, dir, "orders")
          .filter(col("o_orderkey") <= 4000)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"),
            col("o_orderdate").cast("date").as("o_orderdate"),
            col("o_orderpriority"))
        graft.io.Layers.writeJsonl(src, out, codec = Some("gzip"))
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType),
          StructField("o_orderdate", DateType),
          StructField("o_orderpriority", StringType)))
        graft.io.Layers.readJsonl(s, out, schema).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
             |FROM orders WHERE o_orderkey <= 4000
             |ORDER BY o_orderkey""".stripMargin)
    ),

    // ---- collection aggregates: sorted distinct sets per group (arrays
    //      as first-class values through the compare)
    QueryDef(
      "q63_collect_sets",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(
            // joined string: array-valued result cells don't survive every
            // downstream comparator (pandas hashing), string form does
            concat_ws(",", sort_array(collect_set(col("o_orderstatus"))))
              .as("statuses"),
            size(collect_set(col("o_orderpriority"))).cast("long")
              .as("n_priorities")
          )
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment,
             |list_aggr(list_sort(list(DISTINCT o_orderstatus)), 'string_agg', ',') AS statuses,
             |CAST(len(list(DISTINCT o_orderpriority)) AS BIGINT) AS n_priorities
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    ),

    // ---- pivot: order counts by status × priority (explicit value list →
    //      deterministic column set; oracle pivots via FILTER aggregates)
    QueryDef(
      "q55_pivot",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .pivot("o_orderpriority",
            Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS "1-URGENT",
             |count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS "2-HIGH",
             |count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
             |count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
             |count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS "5-LOW"
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    ),

    // ---- semi/anti joins: customer activity census
    QueryDef(
      "q56_semi_anti_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val on = c("c_custkey") === o("o_custkey")
        s.range(1).select(
          nRows(c.join(o, on, "left_semi")).as("n_active"),
          nRows(c.join(o, on, "left_anti")).as("n_inactive"),
          nRows(c).as("n_customers"))
      },
      Some("""SELECT
             |(SELECT count(*) FROM customer WHERE EXISTS
             |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_active,
             |(SELECT count(*) FROM customer WHERE NOT EXISTS
             |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_inactive,
             |(SELECT count(*) FROM customer) AS n_customers""".stripMargin)
    ),

    // ---- rollup: subtotal hierarchy over (status, priority) with grouping
    //      ids (standard bitmask convention in both engines)
    QueryDef(
      "q57_rollup",
      (s, dir) =>
        t(s, dir, "orders")
          .rollup("o_orderstatus", "o_orderpriority")
          .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
            sumExact(col("o_totalprice"), 2).as("total"))
          .orderBy(col("gid"), asc_nulls_first("o_orderstatus"),
            asc_nulls_first("o_orderpriority")),
      Some(s"""SELECT o_orderstatus, o_orderpriority,
              |CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
              |count(*) AS n, ${sqlSumExact("o_totalprice", 2)} AS total
              |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
              |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    ),

    // ---- cube: all grouping-set combinations over (status, priority)
    QueryDef(
      "q59_cube",
      (s, dir) =>
        t(s, dir, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
          .orderBy(col("gid"), asc_nulls_first("o_orderstatus"),
            asc_nulls_first("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority,
             |CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             |count(*) AS n
             |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    ),

    // ---- E3 histograms (notebook cell 13): fixed-width binning over a
    //      two-phase min/max + bucket plan
    QueryDef(
      "q60_histogram",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val mm = broadcast(o.agg(min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi")))
        o.crossJoin(mm)
          .withColumn("bin",
            least(floor((col("o_totalprice") - col("lo")) /
              ((col("hi") - col("lo")) / 20)), lit(19L)).cast("long"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            round(min(col("o_totalprice")), 2).as("bin_min"),
            round(max(col("o_totalprice")), 2).as("bin_max"))
          .orderBy("bin")
      },
      Some("""WITH mm AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
             |           FROM orders)
             |SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 20)), 19) AS BIGINT) AS bin,
             |count(*) AS n,
             |round(min(o_totalprice), 2) AS bin_min,
             |round(max(o_totalprice), 2) AS bin_max
             |FROM orders, mm GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // ---- E2 end-to-end: the WHOLE clean pipeline (keep-first dedup →
    //      multi-format parse/drop → mode fill → IQR clip → median fill)
    //      over a deterministically-messed orders table, with the oracle
    //      replicating every stage in SQL. `o_orderkey` doubles as the
    //      explicit source-order column so dedup is engine-independent.
    QueryDef(
      "q49_clean_pipeline",
      (s, dir) => {
        import graft.etl.Cleaning
        val messy = t(s, dir, "orders").select(
          col("o_orderkey").as(Cleaning.SrcOrder),
          when(col("o_orderkey") % 97 === 0, lit(null))
            .when(col("o_orderkey") % 31 === 0, col("o_orderkey") - 1)
            .otherwise(col("o_orderkey")).as("mk"),
          when(col("o_orderkey") % 11 === 0, lit("TBD"))
            .when(col("o_orderkey") % 3 === 0,
              date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm"))
            .when(col("o_orderkey") % 3 === 1,
              date_format(col("o_orderdate"), "dd/MM/yyyy hha"))
            .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm'Z'"))
            .as("ts"),
          when(col("o_orderkey") % 13 === 0, lit(null))
            .otherwise(col("o_orderpriority")).as("cat"),
          when(col("o_orderkey") % 17 === 0, lit(null))
            .when(col("o_orderkey") % 19 === 0, col("o_totalprice") * 100)
            .otherwise(col("o_totalprice")).as("num")
        )
        val cleaned = Cleaning.clean(messy,
          Cleaning.CleanConfig(keyCol = "mk", timestampCol = "ts",
            categoricalCols = Seq("cat"), numericCols = Seq("num")))
        cleaned.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("cat")).as("n_cats"),
          min(col("ts")).cast("timestamp_ntz").as("min_ts"),
          max(col("ts")).cast("timestamp_ntz").as("max_ts"),
          (sumExact(col("num"), 4) / count(lit(1))).as("mean_num"),
          round(min(col("num")), 4).as("min_num"),
          round(max(col("num")), 4).as("max_num")
        )
      },
      Some(s"""WITH messy AS (
              |  SELECT o_orderkey AS ord,
              |    CASE WHEN o_orderkey % 97 = 0 THEN NULL
              |         WHEN o_orderkey % 31 = 0 THEN o_orderkey - 1
              |         ELSE o_orderkey END AS mk,
              |    CASE WHEN o_orderkey % 11 = 0 THEN 'TBD'
              |         WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M')
              |         WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%d/%m/%Y %I%p')
              |         ELSE strftime(o_orderdate, '%Y-%m-%dT%H:%MZ') END AS ts_str,
              |    CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderpriority END AS cat,
              |    CASE WHEN o_orderkey % 17 = 0 THEN NULL
              |         WHEN o_orderkey % 19 = 0 THEN o_totalprice * 100
              |         ELSE o_totalprice END AS num
              |  FROM orders),
              |dedup AS (SELECT * FROM (
              |    SELECT *, row_number() OVER (PARTITION BY mk ORDER BY ord) AS rn
              |    FROM messy) WHERE rn = 1),
              |dated AS (SELECT mk, cat, num, ts FROM (
              |    SELECT *, coalesce(
              |      try_strptime(ts_str, '%Y-%m-%d %H:%M'),
              |      try_strptime(ts_str, '%d/%m/%Y %I%p'),
              |      try_strptime(ts_str, '%Y-%m-%dT%H:%MZ')) AS ts
              |    FROM dedup) WHERE ts IS NOT NULL),
              |mode_v AS (SELECT cat AS m FROM dated WHERE cat IS NOT NULL
              |           GROUP BY cat ORDER BY count(*) DESC, cat LIMIT 1),
              |catf AS (SELECT mk, ts, coalesce(cat, (SELECT m FROM mode_v)) AS cat, num
              |         FROM dated),
              |q AS (SELECT quantile_cont(num, 0.25) AS q1, quantile_cont(num, 0.75) AS q3
              |      FROM catf),
              |clipped AS (SELECT mk, ts, cat,
              |    CASE WHEN num IS NULL THEN NULL
              |         ELSE least(greatest(num, q1 - 1.5*(q3-q1)), q3 + 1.5*(q3-q1)) END AS num
              |    FROM catf, q),
              |med AS (SELECT quantile_cont(num, 0.5) AS m FROM clipped),
              |filled AS (SELECT mk, ts, cat, coalesce(num, (SELECT m FROM med)) AS num
              |           FROM clipped)
              |SELECT count(*) AS n_rows, count(DISTINCT cat) AS n_cats,
              |min(ts) AS min_ts, max(ts) AS max_ts,
              |${sqlSumExact("num", 4)} / count(*) AS mean_num,
              |round(min(num), 4) AS min_num, round(max(num), 4) AS max_num
              |FROM filled""".stripMargin)
    ),

    // ---- P5: low-variance column filter (std > 0.01 keeps the column)
    QueryDef(
      "q21_low_variance_filter",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val metrics = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val exprs = metrics.map(c => round(stddev_samp(col(c)), 4).as(c))
        // one scan for the four deviations; the unpivot, the cut and the
        // order run on its one row
        li.agg(exprs.head, exprs.tail: _*)
          .unpivot(Array.empty[org.apache.spark.sql.Column], "col_name", "std")
          .filter(col("std") > 0.01)
          .orderBy("col_name")
      },
      Some("""SELECT * FROM (
             |  SELECT 'l_quantity' AS col_name, round(stddev_samp(l_quantity), 4) AS std FROM lineitem
             |  UNION ALL SELECT 'l_extendedprice', round(stddev_samp(l_extendedprice), 4) FROM lineitem
             |  UNION ALL SELECT 'l_discount', round(stddev_samp(l_discount), 4) FROM lineitem
             |  UNION ALL SELECT 'l_tax', round(stddev_samp(l_tax), 4) FROM lineitem)
             |WHERE std > 0.01 ORDER BY col_name""".stripMargin)
    )
  )

  /** q04's plan with the PER-KEY PRE-AGGREGATION dial made explicit
    * (VERDICT r5 #8): `preAggregateFact = true` collapses lineitem to one
    * (l_orderkey, Σrev, n) row per order BELOW the big-big shuffle-hash
    * join, shrinking the exchanged fact rows ~4× at the price of a ~n/4-
    * key hash aggregate before the shuffle.
    *
    * MEASURED AND REJECTED as the default on local[32] (r5: the extra
    * hash agg over ~15M keys cost more than the shuffle-row saving —
    * shuffles through localhost memory are nearly free here); on a
    * network-bound cluster the 4× byte saving is the win, so the dial is
    * a parameter instead of a re-derivation. EXACT either way: grouping
    * the fact by its join key commutes with a key-equi join, and the
    * decimal partial sums re-sum exactly (DialsSpec pins value identity).
    */
  private[graft] def regionalRevenue(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      preAggregateFact: Boolean
  ): org.apache.spark.sql.DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    val liRows = li
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(org.apache.spark.sql.types.DecimalType(30, 4)).as("_rev"),
        lit(1L).as("_n"))
    val liAgg =
      if (preAggregateFact)
        liRows.groupBy("l_orderkey")
          .agg(sum(col("_rev")).cast(
            org.apache.spark.sql.types.DecimalType(30, 4)).as("_rev"),
            sum(col("_n")).as("_n"))
      else liRows
    val ordRegion = o
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("o_orderkey"), col("r_name"))
    liAgg
      .join(ordRegion.hint("SHUFFLE_HASH"),
        liAgg("l_orderkey") === col("o_orderkey"))
      .groupBy("r_name")
      .agg(
        sum(col("_rev")).cast("double").as("revenue"),
        sum(col("_n")).as("n_lineitems")
      )
      .orderBy("r_name")
  }
}
