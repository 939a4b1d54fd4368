package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.schema.Schemas

/** Structured Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming (SURVEY.md §2.9) — this is the extension
  * surface for the events fixture: watermarked tumbling/sliding windows,
  * session windows, and custom state via flatMapGroupsWithState. Every
  * streaming transform has a batch twin (same expressions) so correctness is
  * oracle-checkable on the static table.
  */
object Events {

  /** File-stream source over a parquet directory of events. */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(Schemas.events)
      .option("maxFilesPerTrigger", "8")
      .parquet(dir)

  /** Tumbling-window counts/sums per event_type, 30min watermark for state
    * cleanup + late-data tolerance.
    */
  def tumblingCounts(events: DataFrame, window_ : String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Session windows per user (built-in session_window, 30min gap). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  // ---- custom state: flatMapGroupsWithState sessionization ----

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** `gapMs` is the allowed gap AFTER the last event seen — with a
    * value-dependent rule it changes as the session grows, which is
    * exactly what `session_window` cannot express.
    */
  final case class SessionState(
      start: Long, lastTs: Long, n: Long, total: Double, gapMs: Long)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** The demo value-dependent gap rule (shared by the streaming sessionizer,
    * the q76 batch twin, and its DuckDB oracle): a high-value event signals
    * an engaged burst, so the allowed idle gap after it SHRINKS —
    * `max(5, 30 - floor(value/10))` minutes. Pure integer arithmetic after
    * the floor, so every engine computes it identically.
    */
  def valueGapMs(value: Double): Long =
    math.max(5L, 30L - math.floor(value / 10.0).toLong) * 60L * 1000L

  /** Custom sessionization with explicit state + EVENT-TIME timeout — the
    * constant-gap surface; delegates to [[sessionizeVariableGap]].
    */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "30 minutes"
  ): Dataset[SessionOut] =
    sessionizeVariableGap(events, _ => gapMs, watermark)

  /** Sessionization where the allowed gap is a FUNCTION OF THE LAST EVENT —
    * the session logic `session_window` can't express (its gap is fixed per
    * query, or at most a static column expression evaluated per event with
    * no access to session state). `gapMsOf` decides, per event, how long
    * the session stays open after it; the state carries that gap so both
    * the merge decision for the next event and the idle-timeout use it.
    *
    * The event-time timeout is what closes a user's FINAL (or idle)
    * session: once the watermark passes lastTs+gap the state times out,
    * the session is emitted and the state removed — without it, an idle
    * session would be held (and leak) forever waiting for an event that
    * never comes.
    */
  def sessionizeVariableGap(
      events: Dataset[Event],
      gapMsOf: Event => Long,
      watermark: String = "30 minutes"
  ): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastTs+gap with no new events: flush + drop
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.lastTs), s.n, s.total))
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= s.gapMs =>
                  cur = Some(s.copy(lastTs = t, n = s.n + 1,
                    total = s.total + e.value, gapMs = gapMsOf(e)))
                case Some(s) =>
                  out += SessionOut(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.lastTs), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value, gapMsOf(e)))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value, gapMsOf(e)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // never set a timeout behind the watermark (illegal): a
              // session already past its gap flushes on the next batch
              state.setTimeoutTimestamp(
                math.max(s.lastTs + s.gapMs, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  /** Streaming dedup: drop duplicate event_ids arriving within the
    * watermark delay — the streaming twin of the exact-dedup operator
    * (state is bounded by the watermark; late duplicates beyond it are the
    * documented trade-off, exactly as in any streaming dedup).
    */
  def dedupStream(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** STREAM-STREAM join (attribution shape): each purchase joins every
    * click by the same user in the preceding `window_`. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can expire join state — without the time bound the state
    * grows forever. Inner-join semantics; purchases with no attributable
    * click simply produce no row (the oracled batch twin q109 keeps them
    * via a left join — the streaming inner join is the state-bounded
    * subset Structured Streaming supports robustly across triggers).
    */
  def attributionJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      window_ : String = "1 hour",
      watermark: String = "2 hours"
  ): DataFrame =
    attributionJoinImpl(clicks, purchases, window_, watermark, "inner")

  /** LEFT-OUTER stream-stream attribution: the PURCHASES side is
    * preserved — a purchase with no attributable click emits with null
    * click fields, but only once the watermark proves no in-window click
    * can still arrive (Structured Streaming holds outer rows in state
    * until then; the same watermark + time-range bound that expires inner
    * state makes the null emission safe). The organic-vs-attributed
    * revenue split in one streaming query.
    */
  def attributionJoinOuter(
      clicks: DataFrame,
      purchases: DataFrame,
      window_ : String = "1 hour",
      watermark: String = "2 hours"
  ): DataFrame =
    attributionJoinImpl(clicks, purchases, window_, watermark, "leftOuter")

  /** Shared attribution-join builder: purchases always drive the join
    * (they are the preserved side of the outer variant), clicks attach
    * via the user + time-range condition both watermarks bound.
    */
  private def attributionJoinImpl(
      clicks: DataFrame,
      purchases: DataFrame,
      window_ : String,
      watermark: String,
      joinType: String
  ): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
      col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val p = purchases.select(col("user_id").as("p_user"),
      col("ts").as("purchase_ts"), col("event_id").as("purchase_id"),
      col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermark)
    p.join(c, expr(
      s"""c_user = p_user AND
         |click_ts <= purchase_ts AND
         |click_ts >= purchase_ts - INTERVAL $window_""".stripMargin),
      joinType)
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("click_id"), col("click_ts"), col("purchase_ts"),
        col("purchase_value"))
  }

  /** Checkpointed gold-layer stream: watermarked tumbling aggregation →
    * parquet sink with exactly-once file-sink semantics. `AvailableNow`
    * drains everything currently in the source then stops — the same query
    * restarted with the same checkpoint resumes from the recorded offsets
    * (recovery is tested in EventsStreamingSpec).
    */
  def goldStream(
      events: DataFrame,
      outDir: String,
      checkpointDir: String,
      window_ : String = "10 minutes"
  ): org.apache.spark.sql.streaming.StreamingQuery =
    tumblingCounts(events, window_).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
}
