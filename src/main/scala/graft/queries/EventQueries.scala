package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.queries.Q._

/** Batch twins of the streaming surface over `events` — same window
  * semantics the Structured Streaming pipelines use (graft.streaming.Events),
  * oracle-checked on the static table.
  */
object EventQueries {

  /** Adjacent-pair (by `event_id` order) out-of-order census over `ev`,
    * without ever sorting the whole table in one task.
    *
    * Decomposition: ordered range buckets on event_id (a broadcast
    * one-row min/max aggregate fixes the range; empty input buckets from
    * (0, 0)), lag() partition-local within each bucket, and the
    * cross-bucket adjacent pairs (last row of the previous non-empty
    * bucket vs first row of the next) reconstructed by folding a
    * per-bucket aggregate — ≤ `nBuckets` tiny structs in a single-group
    * array expression, so NO partition-less window appears anywhere
    * (PlanSpec asserts this).
    */
  def outOfOrderCensus(
      ev0: org.apache.spark.sql.DataFrame,
      nBucketsOverride: Option[Long] = None
  ): org.apache.spark.sql.DataFrame = {
    val ev = ev0.select(col("event_id"), col("ts"))
    val us = (c: org.apache.spark.sql.Column) =>
      unix_micros(c.cast("timestamp"))
    val nBuckets = nBucketsOverride.getOrElse(
      ev0.sparkSession.sessionState.conf.numShufflePartitions.toLong).max(1L)
    val bounds = ev
      .agg(coalesce(min("event_id"), lit(0L)).as("_lo"),
        coalesce(max("event_id"), lit(0L)).as("_hi"))
      .select(col("_lo"),
        (expr(s"(_hi - _lo) DIV $nBuckets") + 1L).as("_width"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("_bucket").orderBy("event_id")
    val perBucket = ev.crossJoin(broadcast(bounds))
      .withColumn("_bucket", expr("(event_id - _lo) DIV _width"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(wLocal))
      .groupBy("_bucket")
      .agg(
        count(when(col("ts") < col("prev_ts"), 1)).as("inv_local"),
        max(us(col("prev_ts")) - us(col("ts"))).as("backstep_local"),
        count(lit(1)).as("n"),
        min_by(col("ts"), col("event_id")).as("first_ts"),
        max_by(col("ts"), col("event_id")).as("last_ts"))
    // one row per non-empty bucket (≤ nBuckets): boundary pairs come from
    // folding the sorted struct array, not from a global window
    val bs = sort_array(collect_list(
      struct(col("_bucket"), col("first_ts"), col("last_ts"))))
    perBucket
      .agg(
        coalesce(sum("inv_local"), lit(0L)).as("inv_local_sum"),
        max("backstep_local").as("backstep_local_max"),
        coalesce(sum("n"), lit(0L)).as("n_total"),
        bs.as("bs"))
      .select(
        (col("inv_local_sum") + when(size(col("bs")) <= 1, lit(0L))
          .otherwise(aggregate(
            sequence(lit(1), size(col("bs")) - 1), lit(0L),
            (acc, i) => acc + when(
              element_at(col("bs"), i + 1)("first_ts") <
                element_at(col("bs"), i)("last_ts"), 1L).otherwise(0L))))
          .cast("long").as("n_inversions"),
        greatest(col("backstep_local_max"),
          when(size(col("bs")) <= 1, lit(null).cast("long"))
            .otherwise(aggregate(
              sequence(lit(1), size(col("bs")) - 1),
              lit(null).cast("long"),
              (acc, i) => greatest(acc,
                us(element_at(col("bs"), i)("last_ts")) -
                  us(element_at(col("bs"), i + 1)("first_ts"))))))
          .as("max_backstep_us"),
        col("n_total").cast("long").as("n_events"))
  }

  val defs: Seq[QueryDef] = Seq(
    // ---- tumbling window counts per event_type (10 min buckets)
    QueryDef(
      "q35_tumbling_window",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(
            window(col("ts"), "10 minutes")("start").cast("timestamp_ntz")
              .as("window_start"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sumExact(col("value"), 2).as("total_value"))
          .orderBy("window_start", "event_type"),
      Some(s"""SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
              |event_type, count(*) AS n_events,
              |${sqlSumExact("value", 2)} AS total_value
              |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),

    // ---- sliding window (15 min window / 5 min slide) — native Spark
    //      sliding window; the oracle expands each event into its 3 windows
    QueryDef(
      "q36_sliding_window",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(window(col("ts"), "15 minutes", "5 minutes")("start")
            .cast("timestamp_ntz").as("window_start"))
          .agg(count(lit(1)).as("n_events"),
            (sumExact(col("value"), 2) / count(lit(1))).as("avg_value"))
          .orderBy("window_start"),
      Some(s"""WITH expanded AS (
              |  SELECT time_bucket(INTERVAL '5 minutes', ts) - (i * INTERVAL '5 minutes') AS window_start,
              |         value
              |  FROM events, (SELECT unnest(range(0, 3)) AS i))
              |SELECT window_start, count(*) AS n_events,
              |${sqlSumExact("value", 2)} / count(*) AS avg_value
              |FROM expanded GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // ---- sessionization (30 min gap) summary: sessions per user via
    //      gaps-and-islands (lag + cumulative flag) — the batch twin of
    //      streaming session_window
    QueryDef(
      "q37_sessionization",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val sessions = t(s, dir, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_session",
            (col("prev_ts").isNull ||
              unix_micros(col("ts").cast("timestamp")) - unix_micros(col("prev_ts").cast("timestamp")) > 1800000000L)
              .cast("long"))
          .withColumn("session_id",
            sum(col("new_session")).over(
              w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            sumExact(col("value"), 2).as("session_value"))
        sessions
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            max(col("n_events")).as("max_session_events"),
            sumExact(col("session_value"), 2).as("total_value"))
          .orderBy("user_id")
      },
      Some(s"""WITH flagged AS (
              |  SELECT user_id, value, ts, event_id,
              |    CASE WHEN lag(ts) OVER w IS NULL
              |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              |         THEN 1 ELSE 0 END AS new_session
              |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              |sess AS (
              |  SELECT user_id, value,
              |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              |  FROM flagged),
              |per_session AS (
              |  SELECT user_id, session_id, count(*) AS n_events,
              |    ${sqlSumExact("value", 2)} AS session_value
              |  FROM sess GROUP BY 1, 2)
              |SELECT user_id, count(*) AS n_sessions,
              |max(n_events) AS max_session_events,
              |${sqlSumExact("session_value", 2)} AS total_value
              |FROM per_session GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // ---- VALUE-DEPENDENT-GAP sessionization, the batch twin of
    //      streaming sessionizeVariableGap (Events.valueGapMs: a
    //      high-value event SHRINKS the allowed idle gap after it to
    //      max(5, 30 - floor(value/10)) minutes — logic session_window
    //      cannot express). Same gaps-and-islands shape as q37 but the
    //      lag-gap threshold depends on the PREVIOUS event's value.
    QueryDef(
      "q76_variable_gap_sessions",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val gapUs = greatest(lit(5L), lit(30L) - floor(col("prev_value") / 10))
          .cast("long") * lit(60000000L)
        val sessions = t(s, dir, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("prev_value", lag(col("value"), 1).over(w))
          .withColumn("new_session",
            (col("prev_ts").isNull ||
              unix_micros(col("ts").cast("timestamp")) -
                unix_micros(col("prev_ts").cast("timestamp")) > gapUs)
              .cast("long"))
          .withColumn("session_id",
            sum(col("new_session")).over(
              w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            sumExact(col("value"), 2).as("session_value"))
        sessions
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            max(col("n_events")).as("max_session_events"),
            sumExact(col("session_value"), 2).as("total_value"))
          .orderBy("user_id")
      },
      Some(s"""WITH flagged AS (
              |  SELECT user_id, value, ts, event_id,
              |    CASE WHEN lag(ts) OVER w IS NULL
              |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >
              |            greatest(5, 30 - CAST(floor(lag(value) OVER w / 10) AS BIGINT)) * 60000000
              |         THEN 1 ELSE 0 END AS new_session
              |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              |sess AS (
              |  SELECT user_id, value,
              |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              |  FROM flagged),
              |per_session AS (
              |  SELECT user_id, session_id, count(*) AS n_events,
              |    ${sqlSumExact("value", 2)} AS session_value
              |  FROM sess GROUP BY 1, 2)
              |SELECT user_id, count(*) AS n_sessions,
              |max(n_events) AS max_session_events,
              |${sqlSumExact("session_value", 2)} AS total_value
              |FROM per_session GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // ---- semi-structured props: JSON extraction + bucketed rollup
    QueryDef(
      "q50_json_props",
      (s, dir) =>
        t(s, dir, "events")
          .withColumn("k",
            get_json_object(col("props"), "$.k").cast("long"))
          .withColumn("k_bucket", expr("k DIV 10") * 10)
          .groupBy("k_bucket")
          .agg(count(lit(1)).as("n"),
            (sumExact(col("value"), 2) / count(lit(1))).as("avg_value"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"))
          .orderBy("k_bucket"),
      Some(s"""WITH p AS (SELECT value,
              |  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
              |  FROM events)
              |SELECT (k // 10) * 10 AS k_bucket, count(*) AS n,
              |${sqlSumExact("value", 2)} / count(*) AS avg_value,
              |min(k) AS min_k, max(k) AS max_k
              |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // ---- DECLARED-SCHEMA nested JSON flattening (r11, VERDICT r10 #6):
    //      q50 stops at a scalar get_json_object; real telemetry is a
    //      nested document with arrays-of-structs that the lake pipeline
    //      flattens via from_json (declared schema — the lake contract,
    //      no per-batch inference) + explode. The nested raw payload is
    //      constructed deterministically in BOTH engines from event
    //      fields around the REAL props key (the q251 synthetic-raw
    //      pattern); the twin replays with json_extract + index unnest.
    //      JsonFlattenSpec pins the scan shape: event_type pushed down,
    //      ReadSchema pruned to the three touched columns.
    QueryDef(
      "q259_json_nested_flatten",
      (s, dir) => {
        val id = col("event_id")
        val raw = concat(
          lit("{\"device\":{\"os\":\""),
          when(id % 3 === 0, lit("android"))
            .when(id % 3 === 1, lit("ios")).otherwise(lit("web")),
          lit("\",\"ver\":"), (id % 5).cast("string"),
          lit("},\"tags\":[\"t"), (id % 4).cast("string"),
          lit("\",\"t"), (id % 7).cast("string"),
          lit("\"],\"metrics\":[{\"name\":\"lat\",\"val\":"),
          (id % 100).cast("string"),
          lit("},{\"name\":\"mem\",\"val\":"), (id % 17).cast("string"),
          lit("}],\"k\":"),
          get_json_object(col("props"), "$.k"),
          lit("}"))
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "device STRUCT<os: STRING, ver: BIGINT>, tags ARRAY<STRING>, " +
            "metrics ARRAY<STRUCT<name: STRING, val: BIGINT>>, k BIGINT")
        t(s, dir, "events")
          .filter(col("event_type") === "click")
          .select(id, col("props"))
          .withColumn("_j", from_json(raw, schema))
          .select(col("_j.device.os").as("os"),
            size(col("_j.tags")).cast("long").as("_ntags"),
            col("_j.k").as("_k"),
            explode(col("_j.metrics")).as("m"))
          .select(col("os"), col("_ntags"), col("_k"),
            col("m.name").as("metric"), col("m.val").as("val"))
          .groupBy("os", "metric")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("val")).cast("long").as("val_sum"),
            sum(col("_ntags")).cast("long").as("tags_sum"),
            sum(col("_k")).cast("long").as("k_sum"))
          .orderBy("os", "metric")
      },
      Some("""WITH raw AS (
             |  SELECT '{"device":{"os":"' ||
             |    (CASE WHEN event_id % 3 = 0 THEN 'android'
             |          WHEN event_id % 3 = 1 THEN 'ios'
             |          ELSE 'web' END) ||
             |    '","ver":' || (event_id % 5) ||
             |    '},"tags":["t' || (event_id % 4) ||
             |    '","t' || (event_id % 7) ||
             |    '"],"metrics":[{"name":"lat","val":' || (event_id % 100) ||
             |    '},{"name":"mem","val":' || (event_id % 17) ||
             |    '}],"k":' || json_extract_string(props, '$.k') || '}'
             |    AS raw
             |  FROM events WHERE event_type = 'click'),
             |m AS (
             |  SELECT json_extract_string(raw, '$.device.os') AS os,
             |    json_array_length(raw, '$.tags') AS ntags,
             |    CAST(json_extract(raw, '$.k') AS BIGINT) AS k,
             |    json_extract_string(raw,
             |      '$.metrics[' || i || '].name') AS metric,
             |    CAST(json_extract(raw,
             |      '$.metrics[' || i || '].val') AS BIGINT) AS val
             |  FROM (SELECT raw,
             |      unnest(range(0, CAST(json_array_length(raw,
             |        '$.metrics') AS BIGINT))) AS i
             |    FROM raw))
             |SELECT os, metric,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(val) AS BIGINT) AS val_sum,
             |  CAST(sum(ntags) AS BIGINT) AS tags_sum,
             |  CAST(sum(k) AS BIGINT) AS k_sum
             |FROM m GROUP BY os, metric ORDER BY os, metric""".stripMargin)
    ),

    // ---- as-of join: each purchase enriched with the user's most recent
    //      prior-or-simultaneous click (DuckDB verifies with native ASOF)
    QueryDef(
      "q51_asof_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        graft.etl.Joins
          .asOfJoin(purchases, clicks, Seq("user_id"), "ts",
            rightValueCols = Seq("click_id", "ts"), suffix = "_asof")
          .select(col("event_id"), col("user_id"),
            col("click_id_asof").as("click_id"),
            (unix_micros(col("ts").cast("timestamp")) -
              unix_micros(col("ts_asof").cast("timestamp"))).as("gap_us"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, c.event_id AS click_id,
             |epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin)
    ),

    // ---- late/ordered-data census: event-time vs arrival-order inversions
    //      (the watermark design signal: how out-of-order is the stream?)
    //
    //      Scale design: a bare `Window.orderBy(event_id)` would sort the
    //      WHOLE table in ONE task (Spark's "No Partition Defined" warning —
    //      the confirmed 100×-fatal plan of round 1). Instead the adjacent-
    //      pair scan is decomposed into ordered range buckets:
    //        1. one column-pruned min/max scan fixes the event_id range;
    //        2. lag() runs partition-local within each bucket (hash shuffle
    //           on the bucket key — every core sorts only its slice);
    //        3. the cross-bucket adjacent pairs (last row of bucket b-1 vs
    //           first row of bucket b) are reconstructed from a per-bucket
    //           aggregate — numBuckets tiny structs folded with array
    //           expressions in a single-group agg, no global window at all.
    QueryDef(
      "q38_out_of_order_census",
      (s, dir) => outOfOrderCensus(t(s, dir, "events")),
      Some("""WITH o AS (SELECT ts, lag(ts) OVER (ORDER BY event_id) AS prev_ts
             |          FROM events)
             |SELECT count(*) FILTER (WHERE ts < prev_ts) AS n_inversions,
             |max(epoch_us(prev_ts) - epoch_us(ts)) AS max_backstep_us,
             |count(*) AS n_events FROM o""".stripMargin)
    ),

    // ---- batch twin of the STREAM-STREAM attribution join
    //      (Events.attributionJoin): clicks attributed to purchases within
    //      the trailing hour per user. Equi-join on user + time-range
    //      filter — never a cartesian; the left join keeps click-less
    //      purchases (the streaming inner join is the state-bounded subset)
    QueryDef(
      "q109_attribution_batch",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts").cast("timestamp")).as("us"))
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("us").as("pus"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("us").as("cus"))
        p.join(c,
            col("p_user") === col("c_user") &&
              col("cus") <= col("pus") &&
              col("cus") >= col("pus") - 3600000000L,
            "left")
          .groupBy("purchase_id")
          .agg(count(col("cus")).cast("long").as("n_clicks_1h"),
            min(col("pus") - col("cus")).as("min_gap_us"))
          .orderBy("purchase_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type,
             |                  epoch_us(ts) AS us FROM events),
             |p AS (SELECT event_id AS purchase_id, user_id, us AS pus
             |      FROM e WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, us AS cus FROM e WHERE event_type = 'click')
             |SELECT purchase_id,
             |  count(cus) AS n_clicks_1h,
             |  min(pus - cus) AS min_gap_us
             |FROM p LEFT JOIN c ON p.user_id = c.user_id
             |  AND cus <= pus AND cus >= pus - 3600000000
             |GROUP BY 1 ORDER BY purchase_id""".stripMargin)
    ),

    // ---- z-score anomaly detection vs the trailing 24 hourly buckets,
    //      engine-exact AND scale-exact: a per-ROW sliding range frame is
    //      O(rows x frame) in Spark (non-retractable window buffers) and
    //      melted down at 100x (1,067 s) — stats instead pre-aggregate per
    //      (type, hour bucket), a tiny bucket-series window derives the
    //      trailing sums, and events broadcast-join their bucket's stats.
    //      Variance from DECIMAL-routed sum(v)/sum(v*v); z is a fixed
    //      sequence of IEEE ops.
    QueryDef(
      "q110_anomaly_zscore",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            col("value").cast(DecimalType(18, 4)).as("v"),
            expr("unix_micros(cast(ts as timestamp)) div 3600000000")
              .as("b"))
        val bstats = ev.groupBy("event_type", "b")
          .agg(count(lit(1)).cast("long").as("nb"),
            sum(col("v")).as("s1b"),
            sum(col("v") * col("v")).as("s2b"))
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("b"))
          .rangeBetween(-24L, -1L)
        val trailing = bstats.select(col("event_type"), col("b"),
          sum(col("nb")).over(wb).cast("long").as("n"),
          sum(col("s1b")).over(wb).as("s1"),
          sum(col("s2b")).over(wb).as("s2"))
        val vD = col("v").cast("double")
        val mean = col("s1").cast("double") / col("n")
        val varS = (col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double") / col("n")) /
          (col("n") - 1)
        ev.join(broadcast(trailing), Seq("event_type", "b"))
          .filter(col("n") >= 8)
          .withColumn("z", (vD - mean) / sqrt(varS))
          .filter(col("z") > 3.0)
          .select(col("event_id"), col("event_type"),
            round(vD, 4).as("value"), round(col("z"), 6).as("zscore"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (
             |  SELECT event_id, event_type, CAST(value AS DECIMAL(18,4)) AS v,
             |    epoch_us(ts) // 3600000000 AS b
             |  FROM events),
             |bs AS (
             |  SELECT event_type, b, count(*) AS nb,
             |    sum(v) AS s1b, sum(v * v) AS s2b
             |  FROM e GROUP BY 1, 2),
             |tr AS (
             |  SELECT event_type, b,
             |    CAST(sum(nb) OVER w AS BIGINT) AS n,
             |    sum(s1b) OVER w AS s1, sum(s2b) OVER w AS s2
             |  FROM bs
             |  WINDOW w AS (PARTITION BY event_type ORDER BY b
             |               RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)),
             |z AS (
             |  SELECT e.event_id, e.event_type, CAST(v AS DOUBLE) AS vd,
             |    (CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
             |      / sqrt((CAST(s2 AS DOUBLE)
             |              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
             |             / (n - 1)) AS zv
             |  FROM e JOIN tr ON e.event_type = tr.event_type AND e.b = tr.b
             |  WHERE n >= 8)
             |SELECT event_id, event_type, round(vd, 4) AS value,
             |  round(zv, 6) AS zscore
             |FROM z WHERE zv > 3.0 ORDER BY event_id""".stripMargin)
    ),

    // ---- ordered event funnel (view → click → purchase): each stage's
    //      first occurrence must FOLLOW the previous stage's. Three
    //      conditional-min aggregations on user — narrow shuffles only,
    //      no per-user sequence materialization
    QueryDef(
      "q111_event_funnel",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts").cast("timestamp")).as("us"))
        val fv = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("us")).as("fv"))
        val fc = ev.filter(col("event_type") === "click")
          .join(fv, Seq("user_id"))
          .filter(col("us") > col("fv"))
          .groupBy("user_id").agg(min(col("us")).as("fc"))
        val fp = ev.filter(col("event_type") === "purchase")
          .join(fc, Seq("user_id"))
          .filter(col("us") > col("fc"))
          .groupBy("user_id").agg(min(col("us")).as("fp"))
        val total = ev.agg(countDistinct(col("user_id")).cast("long")
          .as("n_users"))
        total
          .crossJoin(fv.agg(count(lit(1)).cast("long").as("n_viewed")))
          .crossJoin(fc.agg(count(lit(1)).cast("long").as("n_clicked_after")))
          .crossJoin(fp.agg(count(lit(1)).cast("long").as("n_purchased_after")))
      },
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
             |           FROM events),
             |fv AS (SELECT user_id, min(us) AS fv FROM e
             |       WHERE event_type = 'view' GROUP BY 1),
             |fc AS (SELECT e.user_id, min(us) AS fc FROM e JOIN fv USING (user_id)
             |       WHERE event_type = 'click' AND us > fv GROUP BY 1),
             |fp AS (SELECT e.user_id, min(us) AS fp FROM e JOIN fc USING (user_id)
             |       WHERE event_type = 'purchase' AND us > fc GROUP BY 1)
             |SELECT
             |  (SELECT count(DISTINCT user_id) FROM e) AS n_users,
             |  (SELECT count(*) FROM fv) AS n_viewed,
             |  (SELECT count(*) FROM fc) AS n_clicked_after,
             |  (SELECT count(*) FROM fp) AS n_purchased_after""".stripMargin)
    ),

    // ---- retention cohorts: users grouped by first-activity week, distinct
    //      actives per (cohort, week offset) — the standard retention matrix
    QueryDef(
      "q112_retention_cohorts",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"),
            expr("unix_micros(cast(ts as timestamp)) div 604800000000")
              .as("wk"))
        val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
        ev.join(cohort, Seq("user_id"))
          .groupBy(col("cohort_wk"),
            (col("wk") - col("cohort_wk")).as("week_offset"))
          .agg(countDistinct(col("user_id")).cast("long").as("n_active"))
          .orderBy("cohort_wk", "week_offset")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk
             |           FROM events),
             |c AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1)
             |SELECT cohort_wk, wk - cohort_wk AS week_offset,
             |  count(DISTINCT user_id) AS n_active
             |FROM e JOIN c USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort_wk, week_offset""".stripMargin)
    ),

    // ---- first-order Markov transition matrix over per-user event
    //      sequences: lead() is partition-local (narrow per-user sort), and
    //      the transition table itself is |types|² rows, so its row-
    //      normalizing window runs on a broadcast-scale aggregate. p is a
    //      single long/long IEEE division — engine-exact, no rounding needed
    QueryDef(
      "q113_event_transitions",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val wt = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
        t(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy("event_type", "next_type")
          .agg(count(lit(1)).cast("long").as("n"))
          .withColumn("p", col("n").cast("double") / sum(col("n")).over(wt))
          .orderBy("event_type", "next_type")
      },
      Some("""WITH nx AS (
             |  SELECT event_type,
             |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |      AS next_type
             |  FROM events)
             |SELECT event_type, next_type, count(*) AS n,
             |  CAST(count(*) AS DOUBLE)
             |    / CAST(sum(count(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS p
             |FROM nx WHERE next_type IS NOT NULL
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),

    // ---- top user journeys: each user's first 5 events (by time) joined
    //      into a path string, ranked by user count. row_number is partition-
    //      local per user; the path table is ≤ |types|⁵ but in practice tiny,
    //      and only (user_id, rn≤5) rows survive into the collect — the
    //      sequence never materializes beyond 5 elements per user
    QueryDef(
      "q114_top_paths",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        t(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .groupBy("user_id")
          .agg(array_join(transform(
            sort_array(collect_list(struct(col("rn"), col("event_type")))),
            x => x("event_type")), ">").as("path"))
          .groupBy("path")
          .agg(count(lit(1)).cast("long").as("n_users"))
          .orderBy(col("n_users").desc, col("path"))
          .limit(20)
      },
      Some("""WITH r AS (
             |  SELECT user_id, event_type,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |      AS rn
             |  FROM events),
             |p AS (
             |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
             |  FROM r WHERE rn <= 5 GROUP BY 1)
             |SELECT path, count(*) AS n_users
             |FROM p GROUP BY 1 ORDER BY n_users DESC, path LIMIT 20""".stripMargin)
    ),

    // ---- time-weighted average value per user (each value held until the
    //      user's next event): interval durations from a partition-local
    //      lead(); v·dt DECIMAL-routed (18,4)×(14,0) → (33,4), summed within
    //      the 38-width exact band on BOTH engines, one double division at
    //      the end. Single-event users have no holding interval and drop out
    //      identically in both engines
    QueryDef(
      "q115_time_weighted_avg",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        t(s, dir, "events")
          .select(col("user_id"),
            col("value").cast(DecimalType(18, 4)).as("v"),
            unix_micros(col("ts").cast("timestamp")).as("us"),
            col("ts"), col("event_id"))
          .withColumn("dt", (lead(col("us"), 1).over(w) - col("us"))
            .cast(DecimalType(14, 0)))
          .filter(col("dt").isNotNull)
          .groupBy("user_id")
          .agg(
            round(sum(col("v") * col("dt")).cast("double") /
              sum(col("dt")).cast("double"), 6).as("twa_value"),
            sum(col("dt")).cast("long").as("active_us"),
            count(lit(1)).cast("long").as("n_intervals"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, CAST(value AS DECIMAL(18,4)) AS v,
             |    epoch_us(ts) AS us, ts, event_id
             |  FROM events),
             |d AS (
             |  SELECT user_id, v,
             |    CAST(lead(us) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |      - us AS DECIMAL(14,0)) AS dt
             |  FROM e)
             |SELECT user_id,
             |  round(CAST(sum(v * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE), 6)
             |    AS twa_value,
             |  CAST(sum(dt) AS BIGINT) AS active_us,
             |  count(*) AS n_intervals
             |FROM d WHERE dt IS NOT NULL
             |GROUP BY 1 ORDER BY user_id""".stripMargin)
    ),

    // ---- association rules over sessions-as-baskets (market-basket
    //      mining): support / confidence / lift for every directed
    //      event-type pair co-occurring in a 30-min-gap session (q37's
    //      session definition). The basket→type presence table is
    //      distinct'd FIRST, so the pair self-join fans out ≤ |types|²
    //      per basket no matter how many events a session holds; all
    //      metrics are rational in exact counts
    QueryDef(
      "q127_association_rules",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val present = t(s, dir, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_session",
            (col("prev_ts").isNull ||
              unix_micros(col("ts").cast("timestamp")) -
                unix_micros(col("prev_ts").cast("timestamp")) > 1800000000L)
              .cast("long"))
          .withColumn("session_id",
            sum(col("new_session")).over(w.rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .select(col("user_id"), col("session_id"), col("event_type"))
          .distinct()
        val nBaskets = broadcast(
          present.select("user_id", "session_id").distinct()
            .agg(count(lit(1)).cast("long").as("n_baskets")))
        val cnt = present.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"))
        val pairs = present
          .join(present
              .select(col("user_id"), col("session_id"),
                col("event_type").as("consequent")),
            Seq("user_id", "session_id"))
          .filter(col("event_type") =!= col("consequent"))
          .groupBy(col("event_type").as("antecedent"), col("consequent"))
          .agg(count(lit(1)).cast("long").as("n_both"))
        pairs
          .join(cnt.select(col("event_type").as("antecedent"),
            col("n").as("n_ante")), "antecedent")
          .join(cnt.select(col("event_type").as("consequent"),
            col("n").as("n_cons")), "consequent")
          .crossJoin(nBaskets)
          .select(col("antecedent"), col("consequent"), col("n_both"),
            round(col("n_both").cast("double") / col("n_baskets"), 6)
              .as("support"),
            round(col("n_both").cast("double") / col("n_ante"), 6)
              .as("confidence"),
            round((col("n_both").cast("double") * col("n_baskets"))
              / col("n_ante") / col("n_cons"), 6).as("lift"))
          .orderBy("antecedent", "consequent")
      },
      Some("""WITH flagged AS (
             |  SELECT user_id, event_type, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT user_id, event_type,
             |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM flagged),
             |present AS (
             |  SELECT DISTINCT user_id, session_id, event_type FROM sess),
             |nb AS (
             |  SELECT count(*) AS n_baskets
             |  FROM (SELECT DISTINCT user_id, session_id FROM present)),
             |cnt AS (SELECT event_type, count(*) AS n FROM present GROUP BY 1),
             |p AS (
             |  SELECT a.event_type AS antecedent, b.event_type AS consequent,
             |    count(*) AS n_both
             |  FROM present a JOIN present b
             |    ON a.user_id = b.user_id AND a.session_id = b.session_id
             |    AND a.event_type <> b.event_type
             |  GROUP BY 1, 2)
             |SELECT antecedent, consequent, n_both,
             |  round(CAST(n_both AS DOUBLE) / n_baskets, 6) AS support,
             |  round(CAST(n_both AS DOUBLE) / ca.n, 6) AS confidence,
             |  round(CAST(n_both AS DOUBLE) * n_baskets / ca.n / cc.n, 6)
             |    AS lift
             |FROM p JOIN cnt ca ON p.antecedent = ca.event_type
             |       JOIN cnt cc ON p.consequent = cc.event_type, nb
             |ORDER BY antecedent, consequent""".stripMargin)
    ),

    // ---- time-decayed engagement score (1-day half-life, corpus-anchored):
    //      recency-weighted activity per user. Decays are EXACT 2^-k
    //      constants baked into both plans (no runtime pow); per-user
    //      contributions DECIMAL-routed (order-independent)
    QueryDef(
      "q149_decayed_engagement",
      (s, dir) =>
        graft.analytics.Summary.timeDecayedScore(
          t(s, dir, "events"), "user_id", "ts", "value"),
      Some {
        val decayCase = graft.analytics.Summary.halfLifeDecays(30)
          .map { case (k, _) =>
            val lit = new java.math.BigDecimal(1)
              .divide(new java.math.BigDecimal(1L << k)).toPlainString
            s"WHEN $k THEN CAST($lit AS DOUBLE)"
          }.mkString("\n    ")
        s"""WITH e AS (
           |  SELECT user_id, CAST(value AS DOUBLE) AS x,
           |    epoch_us(ts) // 86400000000 AS day
           |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
           |a AS (SELECT max(day) AS maxday FROM e),
           |c AS (SELECT user_id,
           |  CAST(round(x * (CASE least(maxday - day, 30)
           |    $decayCase END), 9) AS DECIMAL(18,9)) AS contrib
           |  FROM e, a)
           |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           |  round(CAST(sum(contrib) AS DOUBLE), 6) AS engagement
           |FROM c GROUP BY 1 ORDER BY user_id""".stripMargin
      }
    ),

    // ---- TEMPORAL HOLDOUT split (train strictly before a cutoff, test
    //      after): per-split profile plus the two leakage pins a training
    //      pipeline must check — the time boundary is visible as
    //      max(train.ts) < min(test.ts) in the output, and the
    //      user-overlap count quantifies entity leakage across the split.
    //      One scan + tiny aggregates; NTZ timestamps in the output.
    QueryDef(
      "q177_temporal_split",
      (s, dir) => {
        val e = t(s, dir, "events").filter(col("ts").isNotNull)
        val cut = lit("2024-01-25 00:00:00").cast("timestamp_ntz")
        val tagged = e.withColumn("split",
          when(col("ts") < cut, "train").otherwise("test"))
        val per = tagged.groupBy("split").agg(
          count(lit(1)).cast("long").as("n_events"),
          countDistinct(col("user_id")).cast("long").as("n_users"),
          min(col("ts")).as("min_ts"),
          max(col("ts")).as("max_ts"))
        val shared = tagged.select(col("split"), col("user_id")).distinct()
          .groupBy("user_id").agg(count(lit(1)).as("_k"))
          .filter(col("_k") > 1)
          .agg(count(lit(1)).cast("long").as("n_shared_users"))
        per.crossJoin(broadcast(shared)).orderBy("split")
      },
      Some("""WITH e AS (SELECT * FROM events WHERE ts IS NOT NULL),
             |t AS (SELECT CASE WHEN ts < TIMESTAMP '2024-01-25 00:00:00'
             |    THEN 'train' ELSE 'test' END AS split, user_id, ts
             |  FROM e),
             |per AS (SELECT split, CAST(count(*) AS BIGINT) AS n_events,
             |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |    min(ts) AS min_ts, max(ts) AS max_ts
             |  FROM t GROUP BY 1),
             |sh AS (SELECT CAST(count(*) AS BIGINT) AS n_shared_users FROM (
             |  SELECT user_id FROM (SELECT DISTINCT split, user_id FROM t)
             |  GROUP BY user_id HAVING count(*) > 1))
             |SELECT per.split, per.n_events, per.n_users, per.min_ts,
             |  per.max_ts, sh.n_shared_users
             |FROM per, sh ORDER BY split""".stripMargin)
    ),

    // ---- ROLLING-ORIGIN BACKTEST (time-series cross-validation): four
    //      expanding-train folds over the daily revenue series, each
    //      fitting the q119 closed-form OLS trend from DECIMAL-exact
    //      sufficient stats and scoring the first held-out day (one
    //      exact-shape prediction per fold — no order-dependent error
    //      sums). The leakage-safe eval loop a forecasting pipeline runs;
    //      everything downstream of the tiny daily aggregate is
    //      fold-count-sized.
    QueryDef(
      "q199_rolling_origin_backtest",
      (s, dir) => {
        val dec182 = org.apache.spark.sql.types.DecimalType(18, 2)
        val daily = t(s, dir, "events").filter(col("ts").isNotNull)
          .select(to_date(col("ts")).as("d"),
            col("value").cast(dec182).as("v"))
          .groupBy("d").agg(sum(col("v")).cast(dec182).as("y"))
        val b0 = broadcast(daily.agg(min(col("d")).as("d0")))
        val xy = daily.crossJoin(b0)
          .select(datediff(col("d"), col("d0")).cast("long").as("x"),
            col("y"))
          .localCheckpoint(true)
        val folds = broadcast(s.range(1, 5)
          .select(col("id").as("fold"),
            (lit(13L) + (col("id") - 1) * 4).as("c")))
        val st = xy.join(folds, col("x") <= col("c"))
          .groupBy("fold").agg(
            count(lit(1)).cast("long").as("n"),
            sum(col("x")).cast("long").as("sx"),
            sum(col("x") * col("x")).cast("long").as("sxx"),
            sum(col("x").cast(org.apache.spark.sql.types.DecimalType(6, 0))
              * col("y")).cast("double").as("sxy"),
            sum(col("y")).cast("double").as("sy"))
        val te = xy.join(folds, col("x") > col("c") && col("x") <= col("c") + 4)
          .groupBy("fold").agg(
            count(lit(1)).cast("long").as("n_test"),
            min(col("x")).cast("long").as("test_first_x"),
            expr("min_by(y, x)").cast("double").as("test_first_actual"))
        val nD = col("n").cast("double")
        val sxD = col("sx").cast("double")
        val num = nD * col("sxy") - sxD * col("sy")
        val den = nD * col("sxx").cast("double") - sxD * sxD
        val slope = num / den
        val icept = (col("sy") - slope * sxD) / nD
        val pred = icept + slope * col("test_first_x").cast("double")
        st.join(te, Seq("fold"))
          .select(col("fold"), col("n").as("n_train"), col("n_test"),
            round(slope, 8).as("slope_per_day"),
            round(icept, 6).as("intercept"),
            col("test_first_x"), col("test_first_actual"),
            pred.as("test_first_pred"),
            (col("test_first_actual") - pred).as("test_first_err"))
          .orderBy("fold")
      },
      Some("""WITH e AS (SELECT ts::DATE AS d, CAST(value AS DECIMAL(18,2)) AS v
             |  FROM events WHERE ts IS NOT NULL),
             |daily AS (SELECT d, CAST(sum(v) AS DECIMAL(18,2)) AS y
             |  FROM e GROUP BY 1),
             |b0 AS (SELECT min(d) AS d0 FROM daily),
             |xy AS (SELECT CAST(d - d0 AS BIGINT) AS x, y FROM daily, b0),
             |folds AS (SELECT CAST(f AS BIGINT) AS fold,
             |    CAST(13 + (f - 1) * 4 AS BIGINT) AS c
             |  FROM generate_series(1, 4) t(f)),
             |tr AS (SELECT fold, count(*) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(CAST(x AS DECIMAL(6,0)) * y) AS DOUBLE) AS sxy,
             |    CAST(sum(y) AS DOUBLE) AS sy
             |  FROM xy JOIN folds ON x <= c GROUP BY 1),
             |te AS (SELECT fold, CAST(count(*) AS BIGINT) AS n_test,
             |    CAST(min(x) AS BIGINT) AS test_first_x,
             |    CAST(min_by(y, x) AS DOUBLE) AS test_first_actual
             |  FROM xy JOIN folds ON x > c AND x <= c + 4 GROUP BY 1),
             |sl AS (SELECT fold, n, sx, sy,
             |    CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS num,
             |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den
             |  FROM tr),
             |o AS (SELECT s.fold, CAST(s.n AS BIGINT) AS n_train, te.n_test,
             |    num / den AS slope,
             |    (sy - (num / den) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
             |      AS icept,
             |    te.test_first_x, te.test_first_actual
             |  FROM sl s JOIN te ON te.fold = s.fold)
             |SELECT fold, n_train, n_test,
             |  round(slope, 8) AS slope_per_day,
             |  round(icept, 6) AS intercept,
             |  test_first_x, test_first_actual,
             |  icept + slope * CAST(test_first_x AS DOUBLE)
             |    AS test_first_pred,
             |  test_first_actual -
             |    (icept + slope * CAST(test_first_x AS DOUBLE))
             |    AS test_first_err
             |FROM o ORDER BY fold""".stripMargin)
    )
  )
}
