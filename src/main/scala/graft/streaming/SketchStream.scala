package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.Sketches

/** Streaming KMV distinct-count ingest: each micro-batch's (shard, hash)
  * bottom-k sketch merges into the PERSISTED sketch store (one parquet of
  * ≤ k longs per shard) — the streaming half of q178/q186's lifecycle.
  *
  * Exactly-once: unlike the SCD2 stream (which needs an epoch replay
  * guard — CdcIngest.scd2DimStream), KMV merge is IDEMPOTENT — the merge
  * is a set union of hashes followed by bottom-k, so replaying a batch
  * after a mid-commit failure reconverges to the identical sketch. No
  * replay guard is needed; the store is safe under foreachBatch's
  * at-least-once contract.
  *
  * Scale shape: per batch, the only wide op is the distinct on the
  * batch's (shard, hash) pairs; the store side is k longs per shard
  * (read, unioned, re-bottom-k'd, atomically rewritten) — state size is
  * independent of the stream's history.
  */
object SketchStream {

  def start(
      rows: DataFrame,
      shardCol: String,
      keyCol: String,
      sketchPath: String,
      checkpointPath: String,
      k: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    rows.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, shardCol, keyCol, sketchPath, k)
      }
      .start()

  /** One micro-batch: batch sketch ∪ stored sketch → bottom-k → rewrite.
    * Also usable as a batch-mode call (the q186 incremental step).
    */
  def processBatch(
      batch: DataFrame,
      shardCol: String,
      keyCol: String,
      sketchPath: String,
      k: Int
  ): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val batchSketch = Sketches.bottomK(
      Sketches.kmvHashes(batch, shardCol, keyCol), "shard", "h", k)
    val p = new Path(sketchPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (!fs.exists(p)) batchSketch
      else Sketches.bottomK(
        spark.read.parquet(sketchPath).unionByName(batchSketch).distinct(),
        "shard", "h", k)
    // materialize BEFORE overwriting the path the plan reads from
    merged.localCheckpoint(true)
      .write.mode("overwrite").parquet(sketchPath)
  }

  /** One Count-Min micro-batch: delta grid + stored grid → cell-wise sum →
    * new version + pointer swap. The instructive CONTRAST with the KMV
    * stream above: KMV merges by set union (idempotent — replay-safe with
    * no guard), but CMS merges by ADDITION, so a replayed batch would
    * DOUBLE-COUNT. The grid therefore lives in the versioned-snapshot
    * layout (CdcIngest's `v<epoch>` directories + atomic `_latest`
    * pointer) with the scd2-style epoch replay guard: a batch whose epoch
    * is already versioned is skipped.
    */
  def processCountMinBatch(
      batch: DataFrame,
      epochId: Long,
      textCol: String,
      gridDir: String,
      width: Int,
      depth: Int
  ): Unit = {
    if (CdcIngest.versions(gridDir).exists(_.drop(1).toLong >= epochId))
      return // replay guard: addition is NOT idempotent
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val delta = Sketches.cmCells(batch, textCol, width, depth)
    val merged = CdcIngest.readSnapshot(spark, gridDir) match {
      case Some(grid) => grid.unionByName(delta)
        .groupBy("r", "pos").agg(sum(col("cnt")).as("cnt"))
      case None => delta
    }
    merged.localCheckpoint(true)
      .write.mode("overwrite").parquet(s"$gridDir/v$epochId")
    CdcIngest.commit(gridDir, s"v$epochId")
  }

  /** Point estimate for a token from the persisted grid: min over the
    * depth rows of its cells (∞-free: missing cell = 0).
    */
  def countMinEstimate(
      spark: SparkSession,
      gridDir: String,
      token: String,
      width: Int = 16,
      depth: Int = 3
  ): Long =
    CdcIngest.readSnapshot(spark, gridDir) match {
      case None => 0L
      case Some(grid) =>
        val probe = spark.range(depth.toLong).toDF("r")
          .select(col("r"),
            pmod(graft.ext.Dedup.portableHash60(
              concat(lit("cm"), col("r").cast("string"), lit("|"),
                lit(token))), lit(width.toLong)).as("pos"))
        probe.join(grid, Seq("r", "pos"), "left")
          .agg(min(coalesce(col("cnt"), lit(0L))))
          .head().getLong(0)
    }

  /** Streaming HISTOGRAM ingest — the third mergeable family's stream
    * half (KMV idempotent / CMS additive / histogram additive): bucket
    * counters merge by cell-wise ADDITION, so like CMS the grid lives in
    * the versioned-snapshot layout with the epoch replay guard.
    */
  def startHistogram(
      rows: DataFrame,
      valCol: String,
      gridDir: String,
      checkpointPath: String,
      width: Double = 8.0,
      nBuckets: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    rows.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        processHistogramBatch(batch, epochId, valCol, gridDir, width, nBuckets)
      }
      .start()

  /** One histogram micro-batch: delta grid + stored grid → cell-wise sum
    * → new version + pointer swap. Skips already-committed epochs.
    */
  def processHistogramBatch(
      batch: DataFrame,
      epochId: Long,
      valCol: String,
      gridDir: String,
      width: Double,
      nBuckets: Int
  ): Unit = {
    if (CdcIngest.versions(gridDir).exists(_.drop(1).toLong >= epochId))
      return // replay guard: addition is NOT idempotent
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val delta = Sketches.histGrid(batch, valCol, width, nBuckets)
    val merged = CdcIngest.readSnapshot(spark, gridDir) match {
      case Some(grid) => grid.unionByName(delta)
        .groupBy("bucket").agg(sum(col("cnt")).as("cnt"))
      case None => delta
    }
    merged.localCheckpoint(true)
      .write.mode("overwrite").parquet(s"$gridDir/v$epochId")
    CdcIngest.commit(gridDir, s"v$epochId")
  }

  /** P50/P90 lower-bound estimates from the persisted grid: driver walk
    * of the ≤ nBuckets counters with integer ceil-ranks (the q196 rank
    * math; the grid is bounded, so the collect is a metadata read).
    * Returns (n, p50_est, p90_est); (0, 0, 0) when no grid exists.
    */
  def histQuantiles(
      spark: SparkSession,
      gridDir: String,
      width: Double = 8.0
  ): (Long, Double, Double) =
    CdcIngest.readSnapshot(spark, gridDir) match {
      case None => (0L, 0.0, 0.0)
      case Some(grid) =>
        val cells = grid.orderBy("bucket")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val w = cells.map(_._2).sum
        def estAt(rank: Long): Double = {
          var cum = 0L
          val hit = cells.find { case (_, c) => cum += c; cum >= rank }
          hit.map(_._1 * width).getOrElse(0.0)
        }
        (w, estAt((w + 1) / 2), estAt((w * 9 + 9) / 10))
    }

  /** Distinct-count estimates from a persisted sketch store:
    * (shard, kmv_est), plus the merged `~all` row.
    */
  def estimates(spark: SparkSession, sketchPath: String, k: Int = 64): DataFrame = {
    val sk = spark.read.parquet(sketchPath).localCheckpoint(true)
    val all = sk.select(col("h")).distinct()
      .orderBy("h").limit(k)
      .select(lit("~all").as("shard"), col("h"))
    sk.unionByName(all)
      .groupBy("shard")
      .agg(count(lit(1)).cast("long").as("_n"), max(col("h")).as("_hk"))
      .select(col("shard"),
        round(when(col("_n") < k, col("_n").cast("double"))
          .otherwise(lit((k - 1).toDouble) *
            lit(1152921504606846976L.toDouble) / col("_hk").cast("double")),
          1).as("kmv_est"))
      .orderBy("shard")
  }
}
