package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.ext.{LakeOps, Sampling}
import graft.queries.Q._

/** Lake-maintenance + sampling operators (graft.ext.LakeOps / Sampling),
  * every one oracle-backed: CDC merge, z-order data skipping, mixture
  * sampling, time-range rolling windows, sketch-accuracy pin, schema
  * evolution, compaction planning.
  *
  * Cross-engine determinism recipe (house rules): money math routes through
  * DECIMAL, double expressions are written with identical operation order
  * in both engines (single correctly-rounded IEEE ops), hashes are the
  * portable md5-prefix form, and integer div/shift/mask is exact
  * everywhere.
  */
object LakeQueries {

  // q91 box predicate + layout width (declared ABOVE `defs` — oracle-SQL
  // strings interpolate them at object init; see CLAUDE.md init-order trap)
  private val ALo = 100
  private val AHi = 199
  private val BLo = 2
  private val BHi = 5
  private val NFiles = 64

  // q92 mixture-sampling target draw
  private val MixTarget = 200L

  // q96 compaction bin capacity (bytes of document text per rewrite group)
  private val BinBytes = 20000L

  val defs: Seq[QueryDef] = Seq(

    // ---- CDC merge: upsert + tombstone feed folded into a snapshot
    QueryDef(
      "q90_cdc_merge",
      (s, dir) => {
        val base = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        // deterministic synthetic change feed off the same table: updates
        // (price +5%, exact via DECIMAL), tombstones (seq 2 — beat the
        // updates where keys overlap), and inserts under fresh keys
        val newPrice = (col("o_totalprice").cast(DecimalType(18, 2))
          * lit(new java.math.BigDecimal("1.05"))).cast("double")
        val upd = base.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), newPrice.as("o_totalprice"),
            col("o_orderstatus"),
            lit("U").as("op"), lit(1L).as("op_seq"))
        val del = base.filter(col("o_orderkey") % 13 === 0)
          .select(col("o_orderkey"),
            lit(null).cast("double").as("o_totalprice"),
            lit(null).cast("string").as("o_orderstatus"),
            lit("D").as("op"), lit(2L).as("op_seq"))
        val ins = base.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_totalprice"), lit("N").as("o_orderstatus"),
            lit("I").as("op"), lit(1L).as("op_seq"))
        val changes = upd.unionByName(del).unionByName(ins)
        LakeOps.cdcMerge(base, changes, "o_orderkey")
          .agg(
            count(lit(1)).cast("long").as("n_rows"),
            Q.sumExact(col("o_totalprice"), 4).as("total_price"),
            sum(when(col("o_orderstatus") === "N", 1L).otherwise(0L))
              .as("n_inserts"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
      },
      Some(s"""WITH base AS (
             |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
             |chg AS (
             |  SELECT o_orderkey,
             |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1.05 AS DOUBLE) AS o_totalprice,
             |    o_orderstatus, 'U' AS op, 1 AS op_seq
             |  FROM orders WHERE o_orderkey % 7 = 0
             |  UNION ALL
             |  SELECT o_orderkey, NULL, NULL, 'D', 2
             |  FROM orders WHERE o_orderkey % 13 = 0
             |  UNION ALL
             |  SELECT o_orderkey + 100000000, o_totalprice, 'N', 'I', 1
             |  FROM orders WHERE o_orderkey % 11 = 0),
             |latest AS (
             |  SELECT * FROM (
             |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
             |                 ORDER BY op_seq DESC, op DESC) AS rn FROM chg)
             |  WHERE rn = 1),
             |merged AS (
             |  SELECT coalesce(b.o_orderkey, c.o_orderkey) AS k,
             |    CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_totalprice
             |         ELSE b.o_totalprice END AS price,
             |    CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_orderstatus
             |         ELSE b.o_orderstatus END AS status
             |  FROM base b FULL OUTER JOIN latest c ON b.o_orderkey = c.o_orderkey
             |  WHERE c.op IS NULL OR c.op <> 'D')
             |SELECT count(*) AS n_rows,
             |  ${Q.sqlSumExact("price", 4)} AS total_price,
             |  CAST(sum(CASE WHEN status = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
             |  min(k) AS min_key, max(k) AS max_key
             |FROM merged""".stripMargin)
    ),

    // ---- z-order vs single-column layout: min/max data skipping measured
    //      relationally, for a predicate on EITHER dimension. The layout
    //      sorted by `a` prunes a-predicates but must scan every file for a
    //      b-predicate; the z-order layout prunes both. Dims are first
    //      scaled to the full 16-bit domain (exact integer math) so the
    //      interleaved values fill the z-space and fixed-width buckets come
    //      out balanced — the relational stand-in for what
    //      LakeOps.zorderRepartition's range sort does physically.
    QueryDef(
      "q91_zorder_skipping",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select((col("l_partkey") % 65536).as("a"),
            (col("l_suppkey") % 65536).as("b"))
        val maxes = broadcast(li.agg(
          max(col("a")).as("amax"), max(col("b")).as("bmax")))
        val assigned = li.crossJoin(maxes)
          .withColumn("a16", expr("a * 65536 div (amax + 1)"))
          .withColumn("b16", expr("b * 65536 div (bmax + 1)"))
          .withColumn("z", LakeOps.zvalue2(col("a16"), col("b16")))
          // z < 2^32; fixed-width buckets of 2^26 = 64 files
          .withColumn("zfile", expr("z div 67108864"))
          .withColumn("linfile", expr(s"a * $NFiles div (amax + 1)"))
        def layoutStats(fileCol: String, label: String) =
          LakeOps.fileStats(assigned, col(fileCol), col("a"), col("b"))
            .withColumn("scan_a",
              !(col("max_a") < ALo || col("min_a") > AHi))
            .withColumn("scan_b",
              !(col("max_b") < BLo || col("min_b") > BHi))
            .agg(
              count(lit(1)).cast("long").as("n_files"),
              sum(when(col("scan_a"), 1L).otherwise(0L)).as("files_for_a_pred"),
              sum(when(col("scan_a"), col("n_rows")).otherwise(0L))
                .as("rows_for_a_pred"),
              sum(when(col("scan_b"), 1L).otherwise(0L)).as("files_for_b_pred"),
              sum(when(col("scan_b"), col("n_rows")).otherwise(0L))
                .as("rows_for_b_pred"))
            .select(lit(label).as("layout"), col("n_files"),
              col("files_for_a_pred"), col("rows_for_a_pred"),
              col("files_for_b_pred"), col("rows_for_b_pred"))
        layoutStats("linfile", "linear")
          .unionByName(layoutStats("zfile", "zorder"))
          .orderBy("layout")
      },
      Some(s"""WITH src AS (
             |  SELECT l_partkey % 65536 AS a, l_suppkey % 65536 AS b
             |  FROM lineitem),
             |mx AS (SELECT max(a) AS amax, max(b) AS bmax FROM src),
             |norm AS (
             |  SELECT a, b, (a * 65536) // (amax + 1) AS an,
             |         (b * 65536) // (bmax + 1) AS bn,
             |         (a * $NFiles) // (amax + 1) AS linfile
             |  FROM src CROSS JOIN mx),
             |s1 AS (SELECT *,
             |  (an | (an << 8)) & 16711935 AS ax, (bn | (bn << 8)) & 16711935 AS bx
             |  FROM norm),
             |s2 AS (SELECT * REPLACE ((ax | (ax << 4)) & 252645135 AS ax,
             |                         (bx | (bx << 4)) & 252645135 AS bx) FROM s1),
             |s3 AS (SELECT * REPLACE ((ax | (ax << 2)) & 858993459 AS ax,
             |                         (bx | (bx << 2)) & 858993459 AS bx) FROM s2),
             |s4 AS (SELECT * REPLACE ((ax | (ax << 1)) & 1431655765 AS ax,
             |                         (bx | (bx << 1)) & 1431655765 AS bx) FROM s3),
             |assigned AS (
             |  SELECT a, b, linfile, (ax | (bx << 1)) // 67108864 AS zfile
             |  FROM s4),
             |stats AS (
             |  SELECT 'linear' AS layout, linfile AS f, count(*) AS n_rows,
             |    min(a) AS min_a, max(a) AS max_a, min(b) AS min_b, max(b) AS max_b
             |  FROM assigned GROUP BY 1, 2
             |  UNION ALL
             |  SELECT 'zorder', zfile, count(*), min(a), max(a), min(b), max(b)
             |  FROM assigned GROUP BY 1, 2)
             |SELECT layout, count(*) AS n_files,
             |  CAST(sum(CASE WHEN NOT (max_a < $ALo OR min_a > $AHi)
             |           THEN 1 ELSE 0 END) AS BIGINT) AS files_for_a_pred,
             |  CAST(sum(CASE WHEN NOT (max_a < $ALo OR min_a > $AHi)
             |           THEN n_rows ELSE 0 END) AS BIGINT) AS rows_for_a_pred,
             |  CAST(sum(CASE WHEN NOT (max_b < $BLo OR min_b > $BHi)
             |           THEN 1 ELSE 0 END) AS BIGINT) AS files_for_b_pred,
             |  CAST(sum(CASE WHEN NOT (max_b < $BLo OR min_b > $BHi)
             |           THEN n_rows ELSE 0 END) AS BIGINT) AS rows_for_b_pred
             |FROM stats GROUP BY 1 ORDER BY layout""".stripMargin)
    ),

    // ---- Hilbert vs z-order data skipping (r9): the SAME census as q91
    //      with the Morton value's better-locality sibling, across THREE
    //      bucket granularities — because the comparison is degenerate at
    //      one: with 4^k fixed-width buckets both curves produce the
    //      IDENTICAL 2^k×2^k block partition (just renumbered), so the
    //      64-bucket rows hash-prove the coincidence; at 2·4^k (32, 128)
    //      a Hilbert bucket is always a pair of ADJACENT cells (unit-step
    //      curve), dimension-balanced, while a Morton bucket hands its
    //      extra bit level to ONE dimension — finer boxes for that
    //      dimension's predicates, coarser (and sometimes disconnected)
    //      for the other. The measured readout, not folklore: Hilbert
    //      balances a/b pruning, Morton trades one for the other. The
    //      Hilbert walk is the native `hilbert_index` expression (16
    //      integer rotate/flip rounds, functions/HilbertIndex.scala); the
    //      DuckDB twin unrolls the IDENTICAL 16 rounds as chained CTEs —
    //      a drift in any round's Gray-code term, flip, or swap breaks
    //      the hash.
    QueryDef(
      "q242_hilbert_skipping",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select((col("l_partkey") % 65536).as("a"),
            (col("l_suppkey") % 65536).as("b"))
        val maxes = broadcast(li.agg(
          max(col("a")).as("amax"), max(col("b")).as("bmax")))
        val assigned = li.crossJoin(maxes)
          .withColumn("a16", expr("a * 65536 div (amax + 1)"))
          .withColumn("b16", expr("b * 65536 div (bmax + 1)"))
          .withColumn("zv", LakeOps.zvalue2(col("a16"), col("b16")))
          .withColumn("hv", LakeOps.hvalue2(col("a16"), col("b16")))
        def layoutStats(vCol: String, label: String, nBuckets: Int) = {
          val width = (1L << 32) / nBuckets
          LakeOps.fileStats(
            assigned.withColumn("_f", expr(s"$vCol div $width")),
            col("_f"), col("a"), col("b"))
            .withColumn("scan_a",
              !(col("max_a") < ALo || col("min_a") > AHi))
            .withColumn("scan_b",
              !(col("max_b") < BLo || col("min_b") > BHi))
            .agg(
              count(lit(1)).cast("long").as("n_files"),
              sum(when(col("scan_a"), 1L).otherwise(0L)).as("files_for_a_pred"),
              sum(when(col("scan_a"), col("n_rows")).otherwise(0L))
                .as("rows_for_a_pred"),
              sum(when(col("scan_b"), 1L).otherwise(0L)).as("files_for_b_pred"),
              sum(when(col("scan_b"), col("n_rows")).otherwise(0L))
                .as("rows_for_b_pred"))
            .select(lit(label).as("layout"),
              lit(nBuckets.toLong).as("n_buckets"), col("n_files"),
              col("files_for_a_pred"), col("rows_for_a_pred"),
              col("files_for_b_pred"), col("rows_for_b_pred"))
        }
        Seq(32, 64, 128)
          .flatMap(n => Seq(layoutStats("hv", "hilbert", n),
            layoutStats("zv", "zorder", n)))
          .reduce(_ unionByName _)
          .orderBy("layout", "n_buckets")
      },
      Some {
        // the 16 Hilbert rounds, unrolled newest-first: each CTE consumes
        // the previous round's (x, y, d) via SELECT * REPLACE — integer
        // shifts/flips only, so the rounds are engine-portable verbatim
        val hilbertRounds = (15 to 0 by -1).map { bb =>
          val sb = 1 << bb
          val prev = if (bb == 15) "hinit" else s"h${bb + 1}"
          s"""h$bb AS (SELECT * REPLACE (
             |  d + ${sb.toLong * sb} * xor(3 * ((x // $sb) % 2), (y // $sb) % 2) AS d,
             |  CASE WHEN (y // $sb) % 2 = 0 THEN
             |    (CASE WHEN (x // $sb) % 2 = 1 THEN 65535 - y ELSE y END)
             |    ELSE x END AS x,
             |  CASE WHEN (y // $sb) % 2 = 0 THEN
             |    (CASE WHEN (x // $sb) % 2 = 1 THEN 65535 - x ELSE x END)
             |    ELSE y END AS y
             |  ) FROM $prev)""".stripMargin
        }.mkString(",\n")
        val statsBranches = Seq(32, 64, 128).flatMap { nb =>
          val width = (1L << 32) / nb
          Seq(
            s"""  SELECT 'hilbert' AS layout, $nb AS n_buckets,
               |    hv // $width AS f, count(*) AS n_rows,
               |    min(a) AS min_a, max(a) AS max_a,
               |    min(b) AS min_b, max(b) AS max_b
               |  FROM assigned GROUP BY 1, 2, 3""".stripMargin,
            s"""  SELECT 'zorder', $nb, zv // $width, count(*),
               |    min(a), max(a), min(b), max(b)
               |  FROM assigned GROUP BY 1, 2, 3""".stripMargin)
        }.mkString("\n  UNION ALL\n")
        s"""WITH src AS (
           |  SELECT l_partkey % 65536 AS a, l_suppkey % 65536 AS b
           |  FROM lineitem),
           |mx AS (SELECT max(a) AS amax, max(b) AS bmax FROM src),
           |norm AS (
           |  SELECT a, b, (a * 65536) // (amax + 1) AS an,
           |         (b * 65536) // (bmax + 1) AS bn
           |  FROM src CROSS JOIN mx),
           |s1 AS (SELECT *,
           |  (an | (an << 8)) & 16711935 AS ax, (bn | (bn << 8)) & 16711935 AS bx
           |  FROM norm),
           |s2 AS (SELECT * REPLACE ((ax | (ax << 4)) & 252645135 AS ax,
           |                         (bx | (bx << 4)) & 252645135 AS bx) FROM s1),
           |s3 AS (SELECT * REPLACE ((ax | (ax << 2)) & 858993459 AS ax,
           |                         (bx | (bx << 2)) & 858993459 AS bx) FROM s2),
           |s4 AS (SELECT * REPLACE ((ax | (ax << 1)) & 1431655765 AS ax,
           |                         (bx | (bx << 1)) & 1431655765 AS bx) FROM s3),
           |hinit AS (
           |  SELECT a, b, (ax | (bx << 1))::BIGINT AS zv,
           |         an AS x, bn AS y, 0::BIGINT AS d
           |  FROM s4),
           |$hilbertRounds,
           |assigned AS (
           |  SELECT a, b, zv, d AS hv FROM h0),
           |stats AS (
           |$statsBranches)
           |SELECT layout, CAST(n_buckets AS BIGINT) AS n_buckets,
           |  count(*) AS n_files,
           |  CAST(sum(CASE WHEN NOT (max_a < $ALo OR min_a > $AHi)
           |           THEN 1 ELSE 0 END) AS BIGINT) AS files_for_a_pred,
           |  CAST(sum(CASE WHEN NOT (max_a < $ALo OR min_a > $AHi)
           |           THEN n_rows ELSE 0 END) AS BIGINT) AS rows_for_a_pred,
           |  CAST(sum(CASE WHEN NOT (max_b < $BLo OR min_b > $BHi)
           |           THEN 1 ELSE 0 END) AS BIGINT) AS files_for_b_pred,
           |  CAST(sum(CASE WHEN NOT (max_b < $BLo OR min_b > $BHi)
           |           THEN n_rows ELSE 0 END) AS BIGINT) AS rows_for_b_pred
           |FROM stats GROUP BY 1, 2 ORDER BY layout, n_buckets""".stripMargin
      }
    ),

    // ---- temperature-weighted deterministic mixture sampling
    QueryDef(
      "q92_mixture_sample",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"))
        val sampled = Sampling
          .mixtureSample(docs, "source", "doc_id", MixTarget)
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_sampled"))
        corpus.join(sampled, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
          .orderBy("source")
      },
      Some(s"""WITH g AS (
             |  SELECT source, count(*) AS n_docs,
             |    CAST(round(sqrt(CAST(count(*) AS DOUBLE)), 6) AS DECIMAL(20,6)) AS w
             |  FROM documents GROUP BY 1),
             |tot AS (SELECT sum(w) AS total FROM g),
             |r AS (
             |  SELECT source, n_docs,
             |    CAST(floor(least(1.0,
             |      CAST(w AS DOUBLE) / CAST(total AS DOUBLE) * $MixTarget.0 / n_docs)
             |      * 1000000.0) AS BIGINT) AS sample_ppm
             |  FROM g CROSS JOIN tot),
             |smp AS (
             |  SELECT d.source, count(*) AS n_sampled
             |  FROM documents d JOIN r USING (source)
             |  WHERE ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
             |        % 1000000 < r.sample_ppm
             |  GROUP BY 1)
             |SELECT r.source, r.n_docs, coalesce(smp.n_sampled, 0) AS n_sampled
             |FROM r LEFT JOIN smp USING (source) ORDER BY source""".stripMargin)
    ),

    // ---- time-range rolling window: trailing-1h count/sum per user
    QueryDef(
      "q93_rolling_1h",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            unix_micros(col("ts").cast("timestamp")).as("us"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-3600000000L, 0L)
        ev.select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).cast("long").as("n_1h"),
            sum(col("value").cast(DecimalType(20, 4))).over(w)
              .cast("double").as("sum_1h"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
             |  CAST(sum(CAST(value AS DECIMAL(20,4))) OVER w AS DOUBLE) AS sum_1h
             |FROM (SELECT event_id, user_id, value, epoch_us(ts) AS us FROM events)
             |WINDOW w AS (PARTITION BY user_id ORDER BY us
             |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)
    ),

    // ---- sketch-accuracy pin: HyperLogLog distinct counts vs exact
    //      (q75-recall-pin style: the boolean hash-fails if HLL ever drifts
    //      outside 3x its configured rsd on this data)
    QueryDef(
      "q94_hll_error_pin",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy("event_type")
          .agg(
            countDistinct(col("user_id")).cast("long").as("n_exact"),
            approx_count_distinct(col("user_id"), 0.05).as("_approx"))
          .select(col("event_type"), col("n_exact"),
            (abs(col("_approx") - col("n_exact"))
              <= col("n_exact") * 0.15).as("hll_ok"))
          .orderBy("event_type"),
      Some("""SELECT event_type,
             |  count(DISTINCT user_id) AS n_exact,
             |  TRUE AS hll_ok
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)
    ),

    // ---- schema evolution: two parquet generations (one grew a column),
    //      read back as ONE table via mergeSchema — q39-style roundtrip,
    //      the oracle recomputes from the source table
    QueryDef(
      "q95_schema_evolution",
      (s, dir) => {
        val out =
          s"${System.getProperty("java.io.tmpdir")}/graft_schema_evolution"
        val o = t(s, dir, "orders")
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$out/gen1")
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$out/gen2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$out/gen1", s"$out/gen2")
          .agg(
            count(lit(1)).cast("long").as("n_rows"),
            count(col("o_orderpriority")).cast("long").as("n_with_priority"),
            Q.sumExact(col("o_totalprice")).as("total_price"),
            countDistinct(col("o_orderpriority")).cast("long")
              .as("n_priorities"))
      },
      Some(s"""SELECT count(*) AS n_rows,
             |  count(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END) AS n_with_priority,
             |  ${Q.sqlSumExact("o_totalprice")} AS total_price,
             |  count(DISTINCT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END) AS n_priorities
             |FROM orders""".stripMargin)
    ),

    // ---- incremental aggregate maintenance: stored monthly state + late
    //      delta merged WITHOUT re-reading the base; the oracle is a full
    //      recompute — hash equality IS the incremental-equals-full proof
    QueryDef(
      "q97_incremental_agg",
      (s, dir) => {
        val o = t(s, dir, "orders")
        def monthly(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
          .agg(count(lit(1)).cast("long").as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(30, 2))).as("rev_dec"))
        val cut = to_timestamp(lit("1999-01-01"))
        val state = monthly(o.filter(col("o_orderdate") < cut))
        val delta = monthly(o.filter(col("o_orderdate") >= cut))
        LakeOps.mergeAggState(state, delta, Seq("ym"))
          .select(col("ym"), col("n_orders"),
            col("rev_dec").cast("double").as("revenue"))
          .orderBy("ym")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS ym,
             |  count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
             |FROM orders GROUP BY 1 ORDER BY ym""".stripMargin)
    ),

    // ---- approx-percentile accuracy pin (the documented scale alternative
    //      to the exact buffering percentile — q94-style: the boolean
    //      hash-fails if the sketch ever drifts past 1% relative error)
    QueryDef(
      "q98_approx_quantile_pin",
      (s, dir) => {
        // exact per-group percentiles (Summary.exactGroupedPercentilesHist,
        // bit-identical to the builtin), inlined through a broadcast 3-row
        // table; the approx sketches stay in the distributed aggregate over
        // the unchanged scan partitioning
        val li = t(s, dir, "lineitem")
        val ex = graft.analytics.Summary.exactGroupedPercentilesHist(
          li, "l_returnflag",
          Seq("l_quantity" -> Seq(0.5), "l_extendedprice" -> Seq(0.95)))
        val exRows = ex.toSeq.map { case (g, m) =>
          org.apache.spark.sql.Row(g,
            m("l_quantity").head.map(Double.box).orNull,
            m("l_extendedprice").head.map(Double.box).orNull)
        }
        val exSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("l_returnflag",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_e50",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("_e95",
            org.apache.spark.sql.types.DoubleType)))
        val exact = broadcast(s.createDataFrame(
          s.sparkContext.parallelize(exRows, 1), exSchema))
        // (a pre-repartition of the sketch agg was measured and rejected:
        // the 600k-row shuffle + 32-way sketch merges cost more than the
        // 3-split scan saves at sf0.1)
        li.groupBy("l_returnflag")
          .agg(
            percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
              .as("_a50"),
            percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000))
              .as("_a95"))
          .join(exact, Seq("l_returnflag"))
          .select(col("l_returnflag"),
            round(col("_e50"), 6).as("p50_qty"),
            round(col("_e95"), 4).as("p95_price"),
            (abs(col("_a50") - col("_e50")) <= greatest(
              col("_e50") * 0.01, lit(0.5))).as("p50_ok"),
            (abs(col("_a95") - col("_e95")) <= greatest(
              col("_e95") * 0.01, lit(0.5))).as("p95_ok"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
             |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
             |  TRUE AS p50_ok, TRUE AS p95_ok
             |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)
    ),

    // ---- PageRank (3 damped iterations) over the part↔supplier bipartite
    //      graph; contributions DECIMAL-routed so the oracle's unrolled
    //      iterations land on bit-identical doubles
    QueryDef(
      "q99_pagerank",
      (s, dir) => {
        // dedup the pair list ONCE (6M rows -> ~500k), then mirror: the
        // mirrored list is distinct by construction, so pageRank skips its
        // own full-edge-list dedup shuffle
        val pairs = t(s, dir, "lineitem")
          .select(col("l_partkey").as("p"),
            (col("l_suppkey") + 1000000L).as("sn"))
          .distinct()
          .localCheckpoint(true) // consumed by nodes/deg/eDeg — scan once
        val edges = pairs.select(col("p").as("src"), col("sn").as("dst"))
          .unionByName(pairs.select(col("sn").as("src"), col("p").as("dst")))
        graft.ext.Graph.pageRank(edges, "src", "dst", iterations = 3,
          assumeDistinct = true)
          .select(col("node"), round(col("r"), 10).as("rank"))
          .orderBy(col("rank").desc, col("node"))
          .limit(20)
      },
      Some("""WITH e AS (
             |  SELECT DISTINCT l_partkey AS p, l_suppkey + 1000000 AS sn
             |  FROM lineitem),
             |ed AS (SELECT p AS src, sn AS dst FROM e
             |       UNION ALL SELECT sn, p FROM e),
             |deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
             |nodes AS (SELECT DISTINCT src AS node FROM ed),
             |nn AS (SELECT count(*) AS n FROM nodes),
             |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS r
             |       FROM nodes CROSS JOIN nn),
             |c1 AS (SELECT ed.dst, sum(CAST(r0.r / deg.deg AS DECIMAL(28,12))) AS s
             |       FROM ed JOIN deg USING (src) JOIN r0 ON r0.node = ed.src
             |       GROUP BY 1),
             |r1 AS (SELECT node,
             |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
             |           + CAST(0.85 AS DOUBLE) * coalesce(CAST(s AS DOUBLE), 0.0) AS r
             |       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.dst = node),
             |c2 AS (SELECT ed.dst, sum(CAST(r1.r / deg.deg AS DECIMAL(28,12))) AS s
             |       FROM ed JOIN deg USING (src) JOIN r1 ON r1.node = ed.src
             |       GROUP BY 1),
             |r2 AS (SELECT node,
             |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
             |           + CAST(0.85 AS DOUBLE) * coalesce(CAST(s AS DOUBLE), 0.0) AS r
             |       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.dst = node),
             |c3 AS (SELECT ed.dst, sum(CAST(r2.r / deg.deg AS DECIMAL(28,12))) AS s
             |       FROM ed JOIN deg USING (src) JOIN r2 ON r2.node = ed.src
             |       GROUP BY 1),
             |r3 AS (SELECT node,
             |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
             |           + CAST(0.85 AS DOUBLE) * coalesce(CAST(s AS DOUBLE), 0.0) AS r
             |       FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.dst = node)
             |SELECT node, round(r, 10) AS rank
             |FROM r3 ORDER BY rank DESC, node LIMIT 20""".stripMargin)
    ),

    // ---- snapshot diff: derive the CDC feed between two table versions
    //      (inverse of q90's merge; the spec pins cdcMerge∘snapshotDiff
    //      = identity). Output = the full recovered change feed.
    QueryDef(
      "q100_snapshot_diff",
      (s, dir) => {
        val oldS = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        val newPrice = (col("o_totalprice").cast(DecimalType(18, 2))
          * lit(new java.math.BigDecimal("1.05"))).cast("double")
        val newS = oldS.filter(col("o_orderkey") % 13 =!= 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 7 === 0, newPrice)
              .otherwise(col("o_totalprice")).as("o_totalprice"),
            col("o_orderstatus"))
          .unionByName(oldS.filter(col("o_orderkey") % 11 === 0)
            .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
              col("o_totalprice"), lit("N").as("o_orderstatus")))
        LakeOps.snapshotDiff(oldS, newS, "o_orderkey")
          .orderBy("o_orderkey")
      },
      Some("""WITH o AS (
             |  SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS st
             |  FROM orders),
             |n AS (
             |  SELECT k,
             |    CASE WHEN k % 7 = 0
             |         THEN CAST(CAST(p AS DECIMAL(18,2)) * 1.05 AS DOUBLE)
             |         ELSE p END AS p,
             |    st
             |  FROM o WHERE k % 13 <> 0
             |  UNION ALL
             |  SELECT k + 100000000, p, 'N' FROM o WHERE k % 11 = 0),
             |d AS (
             |  SELECT coalesce(n.k, o.k) AS o_orderkey,
             |    CASE WHEN o.k IS NULL THEN 'I'
             |         WHEN n.k IS NULL THEN 'D'
             |         WHEN (n.p IS DISTINCT FROM o.p)
             |           OR (n.st IS DISTINCT FROM o.st) THEN 'U' END AS op,
             |    n.p AS o_totalprice, n.st AS o_orderstatus
             |  FROM o FULL OUTER JOIN n ON o.k = n.k)
             |SELECT o_orderkey, op, o_totalprice, o_orderstatus
             |FROM d WHERE op IS NOT NULL ORDER BY o_orderkey""".stripMargin)
    ),

    // ---- grouping sets (beyond rollup/cube): per-status, per-priority,
    //      and grand-total aggregates in ONE pass with grouping_id
    QueryDef(
      "q101_grouping_sets",
      (s, dir) =>
        t(s, dir, "orders")
          .groupingSets(
            Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(
            count(lit(1)).cast("long").as("n_orders"),
            Q.sumExact(col("o_totalprice")).as("revenue"),
            grouping_id().cast("long").as("gid"))
          .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue,
             |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
             |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin)
    ),

    // ---- point-in-interval join via bucket expansion (no cartesian):
    //      orders falling inside 4-day "maintenance windows"; the oracle
    //      runs the same semantics as a naive non-equi join
    QueryDef(
      "q103_interval_join",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val days = datediff(col("o_orderdate").cast("date"),
          to_date(lit("1970-01-01")))
        // aggregation pushdown THROUGH the range join: the query only
        // needs per-window count/sum, so points pre-aggregate to day
        // grain first (DECIMAL partial sums stay exact under re-
        // aggregation). Joined cardinality becomes days×windows instead
        // of orders×windows — the difference between 4.5 s and 158 s at
        // 100× interval density (PERF.md).
        val dayAgg = o
          .select(days.cast("long").as("d"),
            col("o_totalprice").cast(DecimalType(30, 2)).as("p"))
          .groupBy("d")
          .agg(count(lit(1)).cast("long").as("n_day"),
            sum(col("p")).as("rev_day"))
        val windows = o.filter(col("o_orderkey") % 97 === 0)
          .select(col("o_orderkey").as("window_id"),
            days.cast("long").as("lo"), (days + 3).cast("long").as("hi"))
        graft.etl.Joins
          .intervalJoin(dayAgg, "d", windows, "lo", "hi", bucketWidth = 4L)
          .groupBy("window_id")
          .agg(sum(col("n_day")).as("n_orders"),
            sum(col("rev_day")).cast("double").as("revenue"))
          .orderBy("window_id")
      },
      Some("""WITH p AS (
             |  SELECT o_orderkey AS k, o_totalprice AS price,
             |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d
             |  FROM orders),
             |w AS (SELECT k AS window_id, d AS lo, d + 3 AS hi
             |      FROM p WHERE k % 97 = 0)
             |SELECT window_id, count(*) AS n_orders,
             |  CAST(sum(CAST(price AS DECIMAL(30,2))) AS DOUBLE) AS revenue
             |FROM w JOIN p ON p.d BETWEEN w.lo AND w.hi
             |GROUP BY 1 ORDER BY window_id""".stripMargin)
    ),

    // ---- training export: physically shard the corpus (partitioned
    //      write), read the FILES back, and emit the integrity manifest —
    //      the oracle recomputes it from the source table, so the hash
    //      compare certifies the whole export roundtrip (q39 pattern)
    QueryDef(
      "q104_export_manifest",
      (s, dir) => {
        val out = s"${System.getProperty("java.io.tmpdir")}/graft_export"
        val docs = t(s, dir, "documents")
          .withColumn("shard", LakeOps.shardAssign(col("doc_id"), 8))
        docs.write.mode("overwrite").partitionBy("shard").parquet(out)
        LakeOps.shardManifest(s.read.parquet(out), "shard",
            Seq("doc_id", "text", "lang", "source", "n_chars"))
          .orderBy("shard")
      },
      Some("""WITH sharded AS (
             |  SELECT *,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || chr(1) || text
             |                        || chr(1) || lang || chr(1) || source
             |                        || chr(1) || CAST(n_chars AS VARCHAR)),
             |                    1, 15))::BIGINT % 1000000000 AS rh
             |  FROM documents)
             |SELECT shard, count(*) AS n_rows,
             |  CAST(sum(rh) AS BIGINT) AS content_sum
             |FROM sharded GROUP BY 1 ORDER BY shard""".stripMargin)
    ),

    // ---- key-distribution / skew profile: heavy hitters + skew ratio
    QueryDef(
      "q105_key_profile",
      (s, dir) =>
        LakeOps.keyProfile(t(s, dir, "orders"), "o_custkey", topK = 15),
      Some("""WITH counts AS (
             |  SELECT o_custkey, count(*) AS n_rows FROM orders GROUP BY 1),
             |g AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total,
             |             count(*) AS nkeys, max(n_rows) AS mx FROM counts)
             |SELECT o_custkey, n_rows,
             |  round(n_rows * CAST(100.0 AS DOUBLE) / total, 6) AS pct,
             |  round(mx * CAST(1.0 AS DOUBLE) * nkeys / total, 6) AS skew_ratio
             |FROM counts CROSS JOIN g
             |ORDER BY n_rows DESC, o_custkey LIMIT 15""".stripMargin)
    ),

    // ---- curriculum tiers: quality-quartile binning PER SOURCE (the
    //      window partitions by source, so no global single-task sort; the
    //      training-order curriculum reads tiers in sequence)
    QueryDef(
      "q106_curriculum_tiers",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val scored = docs.select(col("source"), col("doc_id"),
          graft.ext.TextAnalysis.qualityScore(col("text")).as("q"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("q").desc, col("doc_id"))
        scored
          .withColumn("tier", ntile(4).over(w).cast("long"))
          .groupBy("source", "tier")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            round(min(col("q")), 6).as("min_q"),
            round(max(col("q")), 6).as("max_q"))
          .orderBy("source", "tier")
      },
      Some("""WITH m AS (SELECT source, doc_id, text,
             |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS ntok,
             |  CASE WHEN length(text) = 0 THEN 0.0
             |       ELSE length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text) END AS alpha,
             |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS ens,
             |  length(regexp_replace(text, '\s+', '', 'g')) AS nws,
             |  length(text) AS len FROM documents),
             |scored AS (SELECT source, doc_id,
             |  round(
             |    least(len / 500.0, 1.0) * 0.25 + alpha * 0.35 +
             |    least((CASE WHEN ntok = 0 THEN 0.0 ELSE ens::DOUBLE / ntok END) * 5.0, 1.0) * 0.2 +
             |    (CASE WHEN (CASE WHEN ntok = 0 THEN 0.0 ELSE nws::DOUBLE / ntok END)
             |          BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.2, 4) AS q
             |  FROM m),
             |tiers AS (
             |  SELECT source, q,
             |    ntile(4) OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS tier
             |  FROM scored)
             |SELECT source, CAST(tier AS BIGINT) AS tier,
             |  count(*) AS n_docs,
             |  round(min(q), 6) AS min_q, round(max(q), 6) AS max_q
             |FROM tiers GROUP BY 1, 2 ORDER BY source, tier""".stripMargin)
    ),

    // ---- referential-integrity audit: orphan foreign keys across the
    //      star schema (key-only anti joins; a data-quality gate)
    QueryDef(
      "q107_integrity_audit",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val c = t(s, dir, "customer").select(col("c_custkey"))
        val p = t(s, dir, "part").select(col("p_partkey"))
        val orphanLi = li.join(o, col("l_orderkey") === col("o_orderkey"),
          "left_anti").agg(count(lit(1)).cast("long").as("n")).select(
          lit("lineitem_without_order").as("check_name"), col("n"))
        val orphanPart = li.join(p, col("l_partkey") === col("p_partkey"),
          "left_anti").agg(count(lit(1)).cast("long").as("n")).select(
          lit("lineitem_without_part").as("check_name"), col("n"))
        val orphanOrd = o.join(c, col("o_custkey") === col("c_custkey"),
          "left_anti").agg(count(lit(1)).cast("long").as("n")).select(
          lit("order_without_customer").as("check_name"), col("n"))
        orphanLi.unionByName(orphanPart).unionByName(orphanOrd)
          .orderBy("check_name")
      },
      Some("""SELECT 'lineitem_without_order' AS check_name,
             |  (SELECT count(*) FROM lineitem l
             |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n
             |UNION ALL
             |SELECT 'lineitem_without_part',
             |  (SELECT count(*) FROM lineitem l
             |   WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
             |UNION ALL
             |SELECT 'order_without_customer',
             |  (SELECT count(*) FROM orders o
             |   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
             |ORDER BY check_name""".stripMargin)
    ),

    // ---- small-file compaction planning: greedy size-bounded bins
    QueryDef(
      "q96_compaction_plan",
      (s, dir) => {
        val planned = LakeOps.compactionPlan(
          t(s, dir, "documents").select("source", "doc_id", "n_chars"),
          partCol = "source", sizeCol = "n_chars", orderCol = "doc_id",
          targetBytes = BinBytes)
        val bins = planned.groupBy("source", "bin")
          .agg(count(lit(1)).cast("long").as("n_files"),
            sum(col("n_chars")).as("bin_bytes"))
        bins.groupBy("source")
          .agg(
            count(lit(1)).cast("long").as("n_bins"),
            sum(col("n_files")).as("n_files"),
            sum(col("bin_bytes")).as("total_bytes"),
            max(col("bin_bytes")).as("max_bin_bytes"))
          .orderBy("source")
      },
      Some(s"""WITH f AS (
             |  SELECT source, doc_id, n_chars,
             |    coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
             |  FROM documents),
             |a AS (SELECT source,
             |        CAST(floor(before / $BinBytes.0) AS BIGINT) AS bin, n_chars
             |      FROM f),
             |b AS (SELECT source, bin, count(*) AS n_files,
             |        CAST(sum(n_chars) AS BIGINT) AS bin_bytes
             |      FROM a GROUP BY 1, 2)
             |SELECT source, count(*) AS n_bins,
             |  CAST(sum(n_files) AS BIGINT) AS n_files,
             |  CAST(sum(bin_bytes) AS BIGINT) AS total_bytes,
             |  max(bin_bytes) AS max_bin_bytes
             |FROM b GROUP BY 1 ORDER BY source""".stripMargin)
    ),

    // ---- SCD Type 2 dimension build: per-customer order-status history,
    //      change-compressed into versions with effective ranges. Both
    //      passes are key-partitioned windows (narrow per-key sorts); the
    //      key filter sits BELOW the build (pushed to the scan — version
    //      history is a pure per-key function, so filtering first is
    //      semantics-preserving and prunes 99% of the feed)
    QueryDef(
      "q116_scd2_dimension",
      (s, dir) => {
        val feed = t(s, dir, "orders")
          .filter(col("o_custkey") % 10 === 7)
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
            col("o_orderstatus"))
        LakeOps.scd2(feed,
            keyCols = Seq("o_custkey"),
            orderCols = Seq("o_orderdate", "o_orderkey"),
            attrCols = Seq("o_orderstatus"))
          .select(col("o_custkey"), col("version_no"), col("o_orderstatus"),
            col("effective_from"), col("effective_to"), col("is_current"))
          .orderBy("o_custkey", "version_no")
      },
      Some("""WITH f AS (
             |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
             |  FROM orders WHERE o_custkey % 10 = 7),
             |c AS (
             |  SELECT *, lag(o_orderstatus) OVER
             |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |    AS prev
             |  FROM f),
             |k AS (
             |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
             |  FROM c WHERE prev IS DISTINCT FROM o_orderstatus),
             |v AS (
             |  SELECT o_custkey, o_orderstatus,
             |    row_number() OVER w AS version_no,
             |    o_orderdate AS effective_from,
             |    lead(o_orderdate) OVER w AS effective_to
             |  FROM k
             |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
             |SELECT o_custkey, version_no, o_orderstatus,
             |  effective_from, effective_to,
             |  effective_to IS NULL AS is_current
             |FROM v ORDER BY o_custkey, version_no""".stripMargin)
    ),

    // ---- exact triangle census of the quarterly co-purchase graph (parts
    //      appearing in the same order, 1995Q1): degree-ordered orientation
    //      bounds wedge fan-out at O(m^1.5) — see Graph.triangleCensus.
    //      The date predicate prunes at the orders scan; the DuckDB twin
    //      counts triangles with the naive a<b<c triple join (same census,
    //      different algorithm — an algorithmic cross-check, not an unrolled
    //      mirror)
    QueryDef(
      "q117_triangle_census",
      (s, dir) => {
        val ords = t(s, dir, "orders")
          .filter(col("o_orderdate").cast("date")
            .between("1995-01-01", "1995-03-31"))
          .select(col("o_orderkey"))
        val items = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
          .join(ords, col("l_orderkey") === col("o_orderkey"))
          .select("l_orderkey", "l_partkey")
          .distinct()
        val x = items.select(col("l_orderkey").as("k"), col("l_partkey").as("pa"))
        val y = items.select(col("l_orderkey").as("k"), col("l_partkey").as("pb"))
        val pairs = x.join(y, Seq("k")).filter(col("pa") < col("pb"))
          .select(col("pa").as("src"), col("pb").as("dst"))
        graft.ext.Graph.triangleCensus(pairs, "src", "dst")
          .withColumnRenamed("transitivity", "global_clustering")
      },
      Some("""WITH li AS (
             |  SELECT DISTINCT l_orderkey, l_partkey
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE CAST(o_orderdate AS DATE)
             |        BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'),
             |e AS (
             |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
             |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
             |    AND x.l_partkey < y.l_partkey),
             |deg AS (
             |  SELECT node, count(*) AS deg FROM (
             |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
             |  GROUP BY 1),
             |tri AS (
             |  SELECT count(*) AS t
             |  FROM e e1 JOIN e e2 ON e2.a = e1.b
             |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             |w AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS nw,
             |             count(*) AS nn FROM deg)
             |SELECT nn AS n_nodes,
             |  (SELECT count(*) FROM e) AS n_edges,
             |  nw AS n_wedges, t AS n_triangles,
             |  round(CAST(3 AS DOUBLE) * t / nw, 6) AS global_clustering
             |FROM w, tri""".stripMargin)
    ),

    // ---- degree assortativity of the same quarterly co-purchase graph:
    //      do popular parts co-sell with popular parts? DECIMAL-exact
    //      sufficient statistics over the symmetrized edge list, closed
    //      form in a fixed IEEE sequence (q119's regression recipe on a
    //      graph statistic)
    QueryDef(
      "q128_degree_assortativity",
      (s, dir) => {
        val ords = t(s, dir, "orders")
          .filter(col("o_orderdate").cast("date")
            .between("1995-01-01", "1995-03-31"))
          .select(col("o_orderkey"))
        val items = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
          .join(ords, col("l_orderkey") === col("o_orderkey"))
          .select("l_orderkey", "l_partkey")
          .distinct()
        val x = items.select(col("l_orderkey").as("k"), col("l_partkey").as("pa"))
        val y = items.select(col("l_orderkey").as("k"), col("l_partkey").as("pb"))
        val pairs = x.join(y, Seq("k")).filter(col("pa") < col("pb"))
          .select(col("pa").as("src"), col("pb").as("dst"))
        graft.ext.Graph.degreeAssortativity(pairs, "src", "dst")
      },
      Some("""WITH li AS (
             |  SELECT DISTINCT l_orderkey, l_partkey
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE CAST(o_orderdate AS DATE)
             |        BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'),
             |e AS (
             |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
             |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
             |    AND x.l_partkey < y.l_partkey),
             |deg AS (
             |  SELECT node, count(*) AS deg FROM (
             |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
             |  GROUP BY 1),
             |sums AS (
             |  SELECT count(*) AS m,
             |    sum(CAST(da.deg AS DECIMAL(12,0))
             |        + CAST(db.deg AS DECIMAL(12,0))) AS sx,
             |    sum(CAST(da.deg AS DECIMAL(12,0)) * CAST(da.deg AS DECIMAL(12,0))
             |        + CAST(db.deg AS DECIMAL(12,0)) * CAST(db.deg AS DECIMAL(12,0)))
             |      AS sxx,
             |    sum(CAST(2 AS DECIMAL(2,0)) * CAST(da.deg AS DECIMAL(12,0))
             |        * CAST(db.deg AS DECIMAL(12,0))) AS sxy
             |  FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node)
             |SELECT m AS n_edges,
             |  round((CAST(m * 2 AS DOUBLE) * CAST(sxy AS DOUBLE)
             |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |        / (CAST(m * 2 AS DOUBLE) * CAST(sxx AS DOUBLE)
             |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 8)
             |    AS assortativity
             |FROM sums""".stripMargin)
    ),

    // ---- k-core decomposition (k=4) of the quarterly co-purchase graph:
    //      peel-to-fixpoint on the Spark side (degree agg + key-only semi
    //      joins per round); the oracle unrolls 8 peel rounds — peeling is
    //      CONFLUENT, so extra rounds past convergence are no-ops and the
    //      unroll depth only needs to exceed the actual cascade (5 at
    //      sf0.1; kCore throws rather than under-iterate)
    QueryDef(
      "q135_kcore",
      (s, dir) => {
        val ords = t(s, dir, "orders")
          .filter(col("o_orderdate").cast("date")
            .between("1995-01-01", "1995-03-31"))
          .select(col("o_orderkey"))
        val items = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
          .join(ords, col("l_orderkey") === col("o_orderkey"))
          .select("l_orderkey", "l_partkey")
          .distinct()
        val x = items.select(col("l_orderkey").as("k"), col("l_partkey").as("pa"))
        val y = items.select(col("l_orderkey").as("k"), col("l_partkey").as("pb"))
        val pairs = x.join(y, Seq("k")).filter(col("pa") < col("pb"))
          .select(col("pa").as("src"), col("pb").as("dst"))
        graft.ext.Graph.kCore(pairs, "src", "dst", k = 4)
          .orderBy("node")
      },
      Some {
        val rounds = 8
        // every CTE MATERIALIZED: DuckDB inlines plain CTEs, and each
        // round references the previous one 3x — an 8-round unroll would
        // otherwise expand to ~3^8 copies of the base scan (observed as
        // "Too many open files" on the parquet source)
        val peels = (1 to rounds).map { i =>
          s"""d$i AS MATERIALIZED (
             |  SELECT node FROM (
             |    SELECT a AS node FROM e${i - 1}
             |    UNION ALL SELECT b FROM e${i - 1})
             |  GROUP BY 1 HAVING count(*) >= 4),
             |e$i AS MATERIALIZED (
             |  SELECT a, b FROM e${i - 1}
             |  WHERE a IN (SELECT node FROM d$i)
             |    AND b IN (SELECT node FROM d$i))""".stripMargin
        }.mkString(",\n")
        s"""WITH li AS MATERIALIZED (
           |  SELECT DISTINCT l_orderkey, l_partkey
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |  WHERE CAST(o_orderdate AS DATE)
           |        BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'),
           |e0 AS MATERIALIZED (
           |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
           |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
           |    AND x.l_partkey < y.l_partkey),
           |$peels
           |SELECT node, count(*) AS core_degree
           |FROM (SELECT a AS node FROM e$rounds
           |      UNION ALL SELECT b FROM e$rounds)
           |GROUP BY 1 ORDER BY node""".stripMargin
      }
    ),

    // ---- INCREMENTAL SCD2 maintenance: the Spark side builds the
    //      dimension from the pre-1998 feed, then MERGES the 1998+
    //      increment with scd2Merge (history pass-through, increment-only
    //      windows); the oracle is the BATCH REBUILD over the full feed —
    //      a hash match proves incremental maintenance ≡ rebuild
    QueryDef(
      "q120_scd2_incremental_merge",
      (s, dir) => {
        val feed = t(s, dir, "orders")
          .filter(col("o_custkey") % 10 === 3)
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
            col("o_orderstatus"))
        val cut = lit("1998-01-01").cast("date")
        val prefix = feed.filter(col("o_orderdate").cast("date") < cut)
        val incr = feed.filter(col("o_orderdate").cast("date") >= cut)
        val keys = Seq("o_custkey")
        val ord = Seq("o_orderdate", "o_orderkey")
        val att = Seq("o_orderstatus")
        LakeOps.scd2Merge(LakeOps.scd2(prefix, keys, ord, att),
            incr, keys, ord, att)
          .select(col("o_custkey"), col("version_no"), col("o_orderstatus"),
            col("effective_from"), col("effective_to"), col("is_current"))
          .orderBy("o_custkey", "version_no")
      },
      Some("""WITH f AS (
             |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
             |  FROM orders WHERE o_custkey % 10 = 3),
             |c AS (
             |  SELECT *, lag(o_orderstatus) OVER
             |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |    AS prev
             |  FROM f),
             |k AS (
             |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
             |  FROM c WHERE prev IS DISTINCT FROM o_orderstatus),
             |v AS (
             |  SELECT o_custkey, o_orderstatus,
             |    row_number() OVER w AS version_no,
             |    o_orderdate AS effective_from,
             |    lead(o_orderdate) OVER w AS effective_to
             |  FROM k
             |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
             |SELECT o_custkey, version_no, o_orderstatus,
             |  effective_from, effective_to,
             |  effective_to IS NULL AS is_current
             |FROM v ORDER BY o_custkey, version_no""".stripMargin)
    ),

    // ---- POINT-IN-TIME (temporal) join against the SCD2 dimension: each
    //      shipment is enriched with the customer's status version valid
    //      AT SHIP TIME — the lookup every feature-backfill pipeline needs
    //      (training-serving skew dies here). Rides the as-of join (one
    //      key shuffle, latest-from carry-forward — no range explosion);
    //      zero-duration versions (two changes on one date) are dropped
    //      so the as-of match is well-defined in BOTH engines
    QueryDef(
      "q130_temporal_join",
      (s, dir) => {
        val feed = t(s, dir, "orders")
          .filter(col("o_custkey") % 10 === 7)
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
            col("o_orderstatus"))
        val dim = LakeOps.scd2(feed, Seq("o_custkey"),
            Seq("o_orderdate", "o_orderkey"), Seq("o_orderstatus"))
          .filter(col("effective_to").isNull ||
            col("effective_to") =!= col("effective_from"))
          .select(col("o_custkey"), col("effective_from").as("t"),
            col("o_orderstatus"))
        val facts = t(s, dir, "lineitem")
          .join(t(s, dir, "orders").filter(col("o_custkey") % 10 === 7)
              .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey"), col("l_orderkey"), col("l_quantity"),
            col("l_shipdate").as("t"))
        graft.etl.Joins.asOfJoin(facts, dim, Seq("o_custkey"), "t",
            rightValueCols = Seq("o_orderstatus"), suffix = "_at_ship")
          .groupBy(col("o_orderstatus_at_ship").as("status_at_ship"))
          .agg(count(lit(1)).cast("long").as("n_items"),
            countDistinct(col("l_orderkey")).cast("long").as("n_orders"),
            sumExact(col("l_quantity"), 2).as("total_qty"))
          .orderBy("status_at_ship")
      },
      Some(s"""WITH f AS (
             |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
             |  FROM orders WHERE o_custkey % 10 = 7),
             |c AS (
             |  SELECT *, lag(o_orderstatus) OVER
             |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |    AS prev
             |  FROM f),
             |k AS (
             |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
             |  FROM c WHERE prev IS DISTINCT FROM o_orderstatus),
             |v AS (
             |  SELECT o_custkey, o_orderstatus,
             |    o_orderdate AS effective_from,
             |    lead(o_orderdate) OVER w AS effective_to
             |  FROM k
             |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
             |dim AS (
             |  SELECT o_custkey, effective_from AS t, o_orderstatus
             |  FROM v
             |  WHERE effective_to IS NULL OR effective_to <> effective_from),
             |facts AS (
             |  SELECT o.o_custkey, l.l_orderkey, l.l_quantity,
             |    l.l_shipdate AS t
             |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  WHERE o.o_custkey % 10 = 7)
             |SELECT d.o_orderstatus AS status_at_ship,
             |  count(*) AS n_items,
             |  count(DISTINCT facts.l_orderkey) AS n_orders,
             |  ${sqlSumExact("facts.l_quantity", 2)} AS total_qty
             |FROM facts ASOF LEFT JOIN dim d
             |  ON facts.o_custkey = d.o_custkey AND facts.t >= d.t
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // ---- right-to-be-forgotten cascade audit: how far does a customer
    //      blocklist propagate through the star schema? Key-only semi
    //      joins (8 B/row) — the payload tables never shuffle; the counts
    //      are the delete plan a compliance pass would execute
    QueryDef(
      "q131_delete_cascade",
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .filter(col("c_custkey") % 500 === 7).select(col("c_custkey"))
        val orders = t(s, dir, "orders")
          .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
        val li = t(s, dir, "lineitem")
          .join(orders.select("o_orderkey"),
            col("l_orderkey") === col("o_orderkey"), "left_semi")
        cust.agg(count(lit(1)).cast("long").as("n_customers"))
          .crossJoin(orders.agg(
            count(lit(1)).cast("long").as("n_orders"),
            sumExact(col("o_totalprice"), 2).as("order_value_purged")))
          .crossJoin(li.agg(count(lit(1)).cast("long").as("n_lineitems")))
          .crossJoin(t(s, dir, "lineitem").agg(
            count(lit(1)).cast("long").as("n_li_total")))
          .select(col("n_customers"), col("n_orders"),
            col("order_value_purged"), col("n_lineitems"),
            round(col("n_lineitems").cast("double") / col("n_li_total")
              * lit(100.0).cast("double"), 6).as("lineitem_pct"))
      },
      Some(s"""WITH cust AS (
             |  SELECT c_custkey FROM customer WHERE c_custkey % 500 = 7),
             |o AS (SELECT * FROM orders
             |      WHERE o_custkey IN (SELECT c_custkey FROM cust)),
             |l AS (SELECT * FROM lineitem
             |      WHERE l_orderkey IN (SELECT o_orderkey FROM o))
             |SELECT
             |  (SELECT count(*) FROM cust) AS n_customers,
             |  (SELECT count(*) FROM o) AS n_orders,
             |  (SELECT ${sqlSumExact("o_totalprice", 2)} FROM o)
             |    AS order_value_purged,
             |  (SELECT count(*) FROM l) AS n_lineitems,
             |  round(CAST((SELECT count(*) FROM l) AS DOUBLE)
             |        / (SELECT count(*) FROM lineitem)
             |        * CAST(100.0 AS DOUBLE), 6) AS lineitem_pct""".stripMargin)
    ),

    // ---- weighted priority sampling (Duffield–Lund–Thorup): length-
    //      weighted top-k corpus subsample, deterministic via the portable
    //      hash → DuckDB twin replays the identical priorities. Executes
    //      as TakeOrderedAndProject (per-partition top-k, no global sort)
    QueryDef(
      "q121_priority_sample",
      (s, dir) =>
        Sampling.prioritySample(
            t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
            "doc_id", "n_chars", k = 100)
          .select(col("doc_id"), col("n_chars"),
            round(col("priority"), 4).as("priority"))
          .orderBy("doc_id"),
      Some("""WITH p AS (
             |  SELECT doc_id, n_chars,
             |    CAST(n_chars AS DOUBLE) /
             |      (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             |            + 1 AS DOUBLE)
             |       / CAST(1152921504606846976 AS DOUBLE)) AS priority
             |  FROM documents),
             |top AS (
             |  SELECT doc_id, n_chars, priority
             |  FROM p ORDER BY priority DESC, doc_id LIMIT 100)
             |SELECT doc_id, n_chars, round(priority, 4) AS priority
             |FROM top ORDER BY doc_id""".stripMargin)
    ),

    // ---- incremental join-view maintenance: split orders/lineitem into
    //      old + append deltas (key % 10), refresh via the delta-join
    //      identity, aggregate the maintained view. The oracle is the
    //      BATCH join — the hash match proves incremental ≡ batch
    QueryDef(
      "q150_incremental_join_refresh",
      (s, dir) => {
        val orders = t(s, dir, "orders")
          .select(col("o_orderkey").as("k"), col("o_orderpriority"))
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("k"), col("l_extendedprice"),
            col("l_linenumber"))
        // INDEPENDENT delta predicates (key-based vs linenumber×key-based)
        // so all three delta joins of the identity carry rows — and SMALL
        // ones (2% / ~1.7%): the operator's contract is append-only
        // DELTAS, and its broadcast-the-delta plan is only honest when
        // |Δ| ≪ |base| (the original %10 / %3 split broadcast a third of
        // lineitem). The oracle stays the full batch join either way.
        val oldL = orders.filter(col("k") % 50 =!= 0)
        val dL = orders.filter(col("k") % 50 === 0)
        val rIsDelta = col("l_linenumber") % 3 === 0 && col("k") % 20 === 0
        val oldR = li.filter(!rIsDelta).drop("l_linenumber")
        val dR = li.filter(rIsDelta).drop("l_linenumber")
        // the stored-view rebuild (jOld) is the demo's batch part: probe
        // hash-join it (no SMJ sorts on the 40M-row side)
        val refreshed = LakeOps.incrementalJoinRefresh(
          oldL.hint("SHUFFLE_HASH").join(oldR, "k"), oldL, dL, oldR, dR, "k")
        refreshed.groupBy("o_orderpriority")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sumExact(col("l_extendedprice")).as("revenue"),
            min(col("k")).as("min_key"), max(col("k")).as("max_key"))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority,
              |  CAST(count(*) AS BIGINT) AS n_rows,
              |  ${sqlSumExact("l_extendedprice")} AS revenue,
              |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
              |  CAST(max(o_orderkey) AS BIGINT) AS max_key
              |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // ---- skew-salted join (the mitigation q106's keyProfile diagnoses
    //      for), HOT-KEY-TARGETED since r8 (VERDICT r7 #1): only the keys
    //      named hot get salted ×8 (their orders rows replicated ×8); the
    //      cold span — everything else — plain-joins with NO salt and NO
    //      replication. The oracle is the PLAIN join — hash equality
    //      proves the two-span split is row-for-row identity;
    //      SaltedJoinSpec pins that exactly one union branch carries the
    //      salt. The r1-r7 blanket form replicated the ENTIRE 15M-row
    //      orders side ×8 (120M rows at 100×) — the r7 sweep's dominant
    //      shuffle; the targeted form's replication is 8×|hot| rows.
    QueryDef(
      "q187_salted_join",
      (s, dir) => {
        // SHUFFLE_HASH on the big side of both spans (no SMJ sorts of the
        // 60M-row side). Hot keys passed explicitly — a fixed demo set, as
        // a persisted keyProfile run would supply — so both spans exercise
        // deterministically at every scale (keys 1..64 live in replica 0).
        val li = t(s, dir, "lineitem")
          .withColumnRenamed("l_orderkey", "o_orderkey")
          .hint("SHUFFLE_HASH")
        val o = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        LakeOps.saltedJoin(li, o, "o_orderkey",
            rowIdCols = Seq("o_orderkey", "l_linenumber"), salts = 8,
            hotKeys = Some((1L to 64L)))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).cast("long").as("n_items"),
            sumExact(col("l_extendedprice")).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority, count(*) AS n_items,
              |  ${sqlSumExact("l_extendedprice")} AS revenue
              |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)
    ),

    // ---- TIME TRAVEL over a versioned file log: yearly order files
    //      committed across 4 versions — v3 is a compaction REWRITE
    //      (remove f1996+f1997, add their merged copy: v3's census must
    //      equal v2's, proving rewrites preserve content), v4 a retention
    //      DELETE; f2001 exists in storage but in no commit, so it is
    //      invisible at every version (orphan-file isolation). The oracle
    //      folds the same log in SQL — hash equality proves the
    //      manifest-fold semantics, not just the arithmetic.
    QueryDef(
      "q197_time_travel",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val base = o.withColumn("file_id",
          concat(lit("f"), year(col("o_orderdate"))))
        val compacted = o
          .filter(year(col("o_orderdate")).isin(1996, 1997))
          .withColumn("file_id", lit("fc9697"))
        val log = s.createDataFrame(Seq(
          (1, "add", "f1995"), (1, "add", "f1996"), (1, "add", "f1997"),
          (2, "add", "f1998"), (2, "add", "f1999"), (2, "add", "f2000"),
          (3, "remove", "f1996"), (3, "remove", "f1997"),
          (3, "add", "fc9697"),
          (4, "remove", "f1995")))
          .toDF("version", "action", "file_id")
        LakeOps.timeTravelCensus(base.unionByName(compacted), log,
          "file_id", "o_totalprice")
      },
      Some(s"""WITH log(version, action, file_id) AS (VALUES
              |  (1,'add','f1995'), (1,'add','f1996'), (1,'add','f1997'),
              |  (2,'add','f1998'), (2,'add','f1999'), (2,'add','f2000'),
              |  (3,'remove','f1996'), (3,'remove','f1997'),
              |  (3,'add','fc9697'),
              |  (4,'remove','f1995')),
              |data AS (
              |  SELECT 'f' || year(o_orderdate)::VARCHAR AS file_id,
              |    o_totalprice
              |  FROM orders
              |  UNION ALL
              |  SELECT 'fc9697', o_totalprice FROM orders
              |  WHERE year(o_orderdate) IN (1996, 1997)),
              |vs AS (SELECT DISTINCT version FROM log),
              |member AS (SELECT version, file_id FROM (
              |  SELECT vs.version, l.file_id,
              |    row_number() OVER (PARTITION BY vs.version, l.file_id
              |      ORDER BY l.version DESC,
              |        CASE WHEN l.action = 'add' THEN 1 ELSE 0 END DESC)
              |      AS rn,
              |    CASE WHEN l.action = 'add' THEN 1 ELSE 0 END AS isadd
              |  FROM vs JOIN log l ON l.version <= vs.version) t
              |  WHERE rn = 1 AND isadd = 1),
              |f AS (SELECT version, count(*) AS n_files FROM member
              |  GROUP BY 1),
              |r AS (SELECT m.version, count(*) AS n_rows,
              |    ${sqlSumExact("d.o_totalprice")} AS total_value
              |  FROM data d JOIN member m ON m.file_id = d.file_id
              |  GROUP BY 1)
              |SELECT CAST(f.version AS BIGINT) AS version,
              |  CAST(n_files AS BIGINT) AS n_files,
              |  CAST(coalesce(n_rows, 0) AS BIGINT) AS n_rows,
              |  coalesce(total_value, CAST(0 AS DOUBLE)) AS total_value
              |FROM f LEFT JOIN r ON r.version = f.version
              |ORDER BY version""".stripMargin)
    ),

    // ---- COLUMN-PROFILE DRIFT monitor between two snapshot versions
    //      (the data-contract check a lake runs before promoting a
    //      batch): per column, row/null/distinct counts and rendered
    //      min/max for old vs new, plus integer drift flags. One
    //      aggregation pass per side (all columns at once); renderings
    //      chosen engine-portable (dates via explicit format, doubles
    //      via round-2 → DECIMAL string, keys via long → string).
    QueryDef(
      "q201_profile_drift",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val cut = to_timestamp(lit("1999-01-01"))
        def profile(df: org.apache.spark.sql.DataFrame, side: String) = {
          def minMax(c: String,
              render: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = Seq(
            render(min(col(c))).as(s"_min_$c"),
            render(max(col(c))).as(s"_max_$c"))
          val dec = (x: org.apache.spark.sql.Column) =>
            round(x, 2).cast(org.apache.spark.sql.types.DecimalType(18, 2))
              .cast("string")
          val dt = (x: org.apache.spark.sql.Column) => date_format(x, "yyyy-MM-dd")
          val str = (x: org.apache.spark.sql.Column) => x.cast("string")
          // distinct counts as SEPARATE narrow two-level passes — two
          // exact count_distincts in one agg plan as an Expand that
          // multiplies the 15M-row scan ×3 (measured 64 s vs 8 s at 100×)
          val aggs =
            count(lit(1)).cast("long").as("_n") +:
              (minMax("o_custkey", str) ++ minMax("o_orderstatus", str) ++
                minMax("o_totalprice", dec) ++ minMax("o_orderdate", dt))
          val base = df.agg(aggs.head, aggs.tail: _*)
          val ndc = df.select("o_custkey").distinct()
            .agg(count(lit(1)).cast("long").as("_nd_o_custkey"))
          val nds = df.select("o_orderstatus").distinct()
            .agg(count(lit(1)).cast("long").as("_nd_o_orderstatus"))
          base.crossJoin(ndc).crossJoin(nds).withColumn("_side", lit(side))
        }
        // 2 rows; checkpointed because the melt below consumes it from
        // BOTH the old and new branches (otherwise each branch re-runs
        // the multi-distinct aggregation — 4 scans instead of 2)
        val both = profile(o.filter(col("o_orderdate") < cut), "old")
          .unionByName(profile(o, "new"))
          .localCheckpoint(true)
        // melt: one row per profiled column, old/new side by side
        val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate")
        val long = both.select(col("_side"), col("_n"), explode(array(
            cols.map(c => struct(lit(c).as("c"),
              (if (c == "o_custkey" || c == "o_orderstatus")
                col(s"_nd_$c") else lit(-1L)).as("nd"),
              col(s"_min_$c").as("mn"), col(s"_max_$c").as("mx"))): _*))
            .as("_x"))
          .select(col("_side"), col("_n"), col("_x.c").as("column"),
            col("_x.nd").as("nd"), col("_x.mn").as("mn"),
            col("_x.mx").as("mx"))
        val old = long.filter(col("_side") === "old")
          .select(col("column"), col("_n").as("n_old"),
            col("nd").as("distinct_old"), col("mn").as("min_old"),
            col("mx").as("max_old"))
        val neu = long.filter(col("_side") === "new")
          .select(col("column"), col("_n").as("n_new"),
            col("nd").as("distinct_new"), col("mn").as("min_new"),
            col("mx").as("max_new"))
        old.join(neu, Seq("column"))
          .select(col("column"), col("n_old"), col("n_new"),
            col("distinct_old"), col("distinct_new"),
            col("min_old"), col("min_new"), col("max_old"), col("max_new"),
            (col("distinct_old") =!= col("distinct_new")).cast("long")
              .as("distinct_changed"),
            (col("min_old") =!= col("min_new") ||
              col("max_old") =!= col("max_new")).cast("long")
              .as("range_changed"))
          .orderBy("column")
      },
      Some("""WITH oldv AS (SELECT * FROM orders
             |  WHERE o_orderdate < TIMESTAMP '1999-01-01'),
             |prof AS (
             |  SELECT 'old' AS side, 'o_custkey' AS col_, count(*) AS n,
             |    count(DISTINCT o_custkey) AS nd,
             |    CAST(min(o_custkey) AS VARCHAR) AS mn,
             |    CAST(max(o_custkey) AS VARCHAR) AS mx FROM oldv
             |  UNION ALL
             |  SELECT 'old', 'o_orderstatus', count(*),
             |    count(DISTINCT o_orderstatus),
             |    min(o_orderstatus), max(o_orderstatus) FROM oldv
             |  UNION ALL
             |  SELECT 'old', 'o_totalprice', count(*), -1,
             |    CAST(CAST(round(min(o_totalprice), 2) AS DECIMAL(18,2))
             |      AS VARCHAR),
             |    CAST(CAST(round(max(o_totalprice), 2) AS DECIMAL(18,2))
             |      AS VARCHAR) FROM oldv
             |  UNION ALL
             |  SELECT 'old', 'o_orderdate', count(*), -1,
             |    strftime(min(o_orderdate), '%Y-%m-%d'),
             |    strftime(max(o_orderdate), '%Y-%m-%d') FROM oldv
             |  UNION ALL
             |  SELECT 'new', 'o_custkey', count(*),
             |    count(DISTINCT o_custkey),
             |    CAST(min(o_custkey) AS VARCHAR),
             |    CAST(max(o_custkey) AS VARCHAR) FROM orders
             |  UNION ALL
             |  SELECT 'new', 'o_orderstatus', count(*),
             |    count(DISTINCT o_orderstatus),
             |    min(o_orderstatus), max(o_orderstatus) FROM orders
             |  UNION ALL
             |  SELECT 'new', 'o_totalprice', count(*), -1,
             |    CAST(CAST(round(min(o_totalprice), 2) AS DECIMAL(18,2))
             |      AS VARCHAR),
             |    CAST(CAST(round(max(o_totalprice), 2) AS DECIMAL(18,2))
             |      AS VARCHAR) FROM orders
             |  UNION ALL
             |  SELECT 'new', 'o_orderdate', count(*), -1,
             |    strftime(min(o_orderdate), '%Y-%m-%d'),
             |    strftime(max(o_orderdate), '%Y-%m-%d') FROM orders),
             |o AS (SELECT col_, n AS n_old, nd AS distinct_old,
             |    mn AS min_old, mx AS max_old FROM prof WHERE side = 'old'),
             |nw AS (SELECT col_, n AS n_new, nd AS distinct_new,
             |    mn AS min_new, mx AS max_new FROM prof WHERE side = 'new')
             |SELECT o.col_ AS "column",
             |  CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
             |  CAST(distinct_old AS BIGINT) AS distinct_old,
             |  CAST(distinct_new AS BIGINT) AS distinct_new,
             |  min_old, min_new, max_old, max_new,
             |  CAST(distinct_old <> distinct_new AS BIGINT)
             |    AS distinct_changed,
             |  CAST(min_old <> min_new OR max_old <> max_new AS BIGINT)
             |    AS range_changed
             |FROM o JOIN nw ON nw.col_ = o.col_
             |ORDER BY o.col_""".stripMargin)
    ),

    // ---- rendezvous (HRW) reshard census, 8 → 9 shards: per new shard
    //      the old/new row counts and rows moved in from another shard —
    //      the hash gate PROVES minimal movement (moved_in = 0 everywhere
    //      except the new shard). Portable md5 hash family; production
    //      uses xxhash64. All assignment work is scan-side codegen.
    QueryDef(
      "q225_rendezvous_reshard",
      (s, dir) =>
        graft.ext.LakeOps.rendezvousReshardCensus(
          t(s, dir, "documents"), "doc_id", nShardsBefore = 8,
          portable = true),
      Some {
        def h(sd: Int) =
          s"('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':$sd'), 1, 15))::BIGINT AS h$sd"
        val hCols = (0 to 8).map(h).mkString(", ")
        def m(n: Int) =
          s"greatest(${(0 until n).map(i => s"h$i").mkString(", ")})"
        def pick(n: Int, mName: String) =
          "CASE " + (0 until n)
            .map(i => s"WHEN h$i = $mName THEN CAST($i AS BIGINT)")
            .mkString(" ") + " END"
        s"""WITH h AS (SELECT $hCols FROM documents),
           |hm AS (SELECT *, ${m(8)} AS mb, ${m(9)} AS ma FROM h),
           |a AS (SELECT ${pick(8, "mb")} AS before,
           |    ${pick(9, "ma")} AS after FROM hm),
           |af AS (SELECT after AS shard, CAST(count(*) AS BIGINT) AS n_after,
           |    CAST(coalesce(sum(CASE WHEN before <> after THEN 1 END), 0)
           |      AS BIGINT) AS moved_in
           |  FROM a GROUP BY 1),
           |bf AS (SELECT before AS shard, CAST(count(*) AS BIGINT)
           |    AS n_before FROM a GROUP BY 1)
           |SELECT af.shard, CAST(coalesce(bf.n_before, 0) AS BIGINT)
           |    AS n_before, af.n_after, af.moved_in
           |FROM af LEFT JOIN bf USING (shard) ORDER BY af.shard"""
          .stripMargin
      }),

    // ---- VACUUM plan over the q197 transaction log, retention = last 2
    //      versions: f1996/f1997 (compacted away at v3, invisible in both
    //      retained snapshots) are deletable; f1995, removed only at v4,
    //      stays PINNED by the retained v3 snapshot — the hash gate proves
    //      the retention rule, not just the happy path
    QueryDef(
      "q230_vacuum_plan",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val base = o.withColumn("file_id",
          concat(lit("f"), year(col("o_orderdate"))))
        val compacted = o
          .filter(year(col("o_orderdate")).isin(1996, 1997))
          .withColumn("file_id", lit("fc9697"))
        val log = s.createDataFrame(Seq(
          (1, "add", "f1995"), (1, "add", "f1996"), (1, "add", "f1997"),
          (2, "add", "f1998"), (2, "add", "f1999"), (2, "add", "f2000"),
          (3, "remove", "f1996"), (3, "remove", "f1997"),
          (3, "add", "fc9697"),
          (4, "remove", "f1995")))
          .toDF("version", "action", "file_id")
        LakeOps.vacuumPlan(base.unionByName(compacted), log,
          "file_id", "o_totalprice", retainVersions = 2)
      },
      Some(s"""WITH log(version, action, file_id) AS (VALUES
              |  (1,'add','f1995'), (1,'add','f1996'), (1,'add','f1997'),
              |  (2,'add','f1998'), (2,'add','f1999'), (2,'add','f2000'),
              |  (3,'remove','f1996'), (3,'remove','f1997'),
              |  (3,'add','fc9697'),
              |  (4,'remove','f1995')),
              |data AS (
              |  SELECT 'f' || year(o_orderdate)::VARCHAR AS file_id,
              |    o_totalprice
              |  FROM orders
              |  UNION ALL
              |  SELECT 'fc9697', o_totalprice FROM orders
              |  WHERE year(o_orderdate) IN (1996, 1997)),
              |vs AS (SELECT DISTINCT version FROM log),
              |member AS (SELECT version, file_id FROM (
              |  SELECT vs.version, l.file_id,
              |    row_number() OVER (PARTITION BY vs.version, l.file_id
              |      ORDER BY l.version DESC,
              |        CASE WHEN l.action = 'add' THEN 1 ELSE 0 END DESC)
              |      AS rn,
              |    CASE WHEN l.action = 'add' THEN 1 ELSE 0 END AS isadd
              |  FROM vs JOIN log l ON l.version <= vs.version) t
              |  WHERE rn = 1 AND isadd = 1),
              |ret AS (SELECT version FROM vs ORDER BY version DESC LIMIT 2),
              |vis AS (SELECT DISTINCT file_id FROM member
              |  WHERE version IN (SELECT version FROM ret)),
              |verdicts AS (SELECT file_id,
              |    CAST(max(version) AS BIGINT) AS last_action_version
              |  FROM log GROUP BY 1),
              |rc AS (SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
              |    ${sqlSumExact("o_totalprice")} AS total_value
              |  FROM data GROUP BY 1)
              |SELECT v.file_id,
              |  CAST(CASE WHEN vis.file_id IS NULL THEN 1 ELSE 0 END
              |    AS BIGINT) AS deletable,
              |  last_action_version,
              |  CAST(coalesce(rc.n_rows, 0) AS BIGINT) AS n_rows,
              |  coalesce(rc.total_value, CAST(0 AS DOUBLE)) AS total_value
              |FROM verdicts v LEFT JOIN vis USING (file_id)
              |  LEFT JOIN rc USING (file_id)
              |ORDER BY v.file_id""".stripMargin)
    )
  )
}
