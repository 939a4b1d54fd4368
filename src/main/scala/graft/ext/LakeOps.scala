package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lake-maintenance operators: CDC merge (upsert/delete), z-order
  * clustering for data skipping, and small-file compaction planning.
  *
  * These are the table-maintenance primitives a 100-TB lake needs around
  * the reference's bronze→silver→gold flow (reference merge stage:
  * python-service/scripts/merge.py — full-snapshot rewrite; at lake scale
  * snapshots are maintained incrementally, hence `cdcMerge`).
  *
  * Scale design notes, per operator:
  *  - `cdcMerge` windows ONLY the change feed (small by definition); the
  *    base table is touched by exactly one equi-join shuffle — never a
  *    window — so the cost is O(|base| shuffle + |changes| sort). With a
  *    small feed AQE broadcasts it and the base doesn't even shuffle.
  *  - `zvalue2` is pure integer bit-math (shift/mask), codegen-friendly,
  *    no UDF; `zorderRepartition` uses `repartitionByRange` — a
  *    distributed range sort (sampled boundaries), NOT a single-task
  *    global window.
  *  - `compactionPlan` assigns files to bins with a per-partition
  *    cumulative-sum window — parallel across table partitions.
  */
object LakeOps {

  // ------------------------------------------------------------ CDC merge

  /** Merge a CDC change feed into a base snapshot, producing the new
    * snapshot. `changes` carries the base's columns plus `opCol`
    * ('I' | 'U' | 'D') and `seqCol` (monotone change sequence; higher wins).
    *
    * Semantics (standard upsert-with-tombstones):
    *  - the latest change per key wins (ties broken by op desc, so a
    *    delete at the same seq beats an insert — deterministic either way);
    *  - latest op 'D' removes the key from the snapshot;
    *  - latest op 'I'/'U' replaces (or creates) the row wholesale;
    *  - keys with no change pass through unchanged.
    *
    * The window runs over `changes` only — at steady state the feed is a
    * tiny fraction of the base. The base's FULL WIDTH is never shuffled:
    * a naive full-outer join would force a sort-merge shuffle of the whole
    * base (Spark cannot broadcast either side of a full outer join), so
    * the merge is decomposed into
    *  - upserts/deletes: base LEFT JOIN feed — broadcastable feed, the
    *    base streams through map-side;
    *  - inserts: feed ANTI JOIN base's KEY COLUMN — only the 8-byte key
    *    of the base ever enters an exchange (column-pruned scan).
    */
  def cdcMerge(
      base: DataFrame,
      changes: DataFrame,
      keyCol: String,
      seqCol: String = "op_seq",
      opCol: String = "op"
  ): DataFrame = {
    val valueCols = base.columns.filterNot(_ == keyCol).toSeq
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(seqCol).desc, col(opCol).desc)
    val feed = changes
      .withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1)
      .select(
        col(keyCol).as("_c_key") +: col(opCol).as("_c_op") +:
          valueCols.map(c => col(c).as(s"_c_$c")): _*)
    val upserted = base
      .join(feed, col(keyCol) === col("_c_key"), "left")
      .filter(col("_c_op").isNull || col("_c_op") =!= "D")
      .select(
        col(keyCol) +:
          valueCols.map(c =>
            when(col("_c_key").isNotNull, col(s"_c_$c"))
              .otherwise(col(c)).as(c)): _*)
    val inserts = feed
      .filter(col("_c_op") =!= "D")
      .join(base.select(col(keyCol)), col("_c_key") === col(keyCol),
        "left_anti")
      .select(
        col("_c_key").as(keyCol) +:
          valueCols.map(c => col(s"_c_$c").as(c)): _*)
    upserted.unionByName(inserts)
  }

  // ------------------------------------------------- z-order clustering

  /** Spread the low 16 bits of `c` to the even bit positions (Morton
    * interleave half). Pure shift/mask integer math — codegen'd, no UDF,
    * and bit-identical in any engine with 64-bit integer ops (the DuckDB
    * oracle computes the same five steps).
    */
  private[graft] def spread16(c: Column): Column = {
    val x0 = c.cast("long").bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton (z-order) value interleaving the low 16 bits of two dimension
    * columns: z = spread(a) | spread(b)<<1, in [0, 2^32). Rows close in z
    * are close in BOTH dimensions, so sorting by z clusters a file layout
    * for min/max skipping on either column — the property a single-column
    * sort only gives its leading column.
    */
  def zvalue2(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Physically cluster `df` by z-order for writing: distributed range
    * partition on the z-value (sampled boundaries — no global single-task
    * sort) + in-partition sort, so each output file covers a tight z-range
    * and therefore tight min/max ranges on both dimensions.
    */
  def zorderRepartition(
      df: DataFrame, a: Column, b: Column, nFiles: Int): DataFrame = {
    val withZ = df.withColumn("_graft_z", zvalue2(a, b))
    withZ
      .repartitionByRange(nFiles, col("_graft_z"))
      .sortWithinPartitions(col("_graft_z"))
      .drop("_graft_z")
  }

  /** Hilbert-curve value of two dimension columns' low 16 bits, in
    * [0, 2^32) — [[zvalue2]]'s better-locality sibling (the native
    * `hilbert_index` expression, graft.functions.HilbertIndex2):
    * consecutive values are ALWAYS adjacent grid cells, where Morton
    * order jumps across quadrant seams, so equal-width value ranges cut
    * tighter min/max file boxes and skip more files for the same box
    * predicate. q242 measures both layouts side by side on the same
    * rows; prefer this for new layouts, keep z-order where a layout
    * already ships.
    */
  def hvalue2(a: Column, b: Column): Column =
    call_function("hilbert_index", a.cast("long"), b.cast("long"))

  /** Per-file min/max skipping stats for a two-dimension box predicate:
    * given a file-id column and the two dimension columns, returns one row
    * per file with its ranges and row count — the footer-stats view a
    * format like parquet keeps, reproduced relationally so skipping
    * effectiveness is queryable (and oracle-checkable).
    */
  def fileStats(df: DataFrame, fileCol: Column, a: Column, b: Column): DataFrame =
    df.groupBy(fileCol.as("file_id"))
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        min(a).as("min_a"), max(a).as("max_a"),
        min(b).as("min_b"), max(b).as("max_b"))

  // ------------------------------------------------------ snapshot diff

  /** Derive the change feed between two snapshot versions — the inverse of
    * [[cdcMerge]]: `cdcMerge(oldSnap, snapshotDiff(oldSnap, newSnap) + seq)`
    * reproduces `newSnap` exactly (LakeOpsSpec pins the round trip). This
    * is how a copy-on-write table surfaces a change-data feed after the
    * fact.
    *
    * Output: key, `op` ('I' new-only | 'U' values differ | 'D' old-only),
    * and the NEW values ('D' rows carry nulls). Unchanged keys are absent.
    *
    * Scale design — the snapshots' full width never enters an exchange:
    *  - each side reduces scan-side to (key, xxhash64(values)) — 16 bytes
    *    per row — and only THAT is full-outer-joined to classify keys
    *    (hash equality stands in for value equality; a cross-engine
    *    oracle compares values directly, so a hash collision would fail
    *    the gate loudly);
    *  - the changed-key set (small at steady state) then broadcast-joins
    *    back against the new snapshot to fetch values map-side.
    */
  def snapshotDiff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      keyCol: String
  ): DataFrame = {
    val valueCols = newSnap.columns.filterNot(_ == keyCol).toSeq
    require(oldSnap.columns.sorted.sameElements(newSnap.columns.sorted),
      "snapshotDiff: snapshots must share a schema")
    def keyed(df: DataFrame, k: String, h: String) =
      df.select(col(keyCol).as(k), xxhash64(valueCols.map(col): _*).as(h))
    val classified = keyed(oldSnap, "_ok", "_oh")
      .join(keyed(newSnap, "_nk", "_nh"), col("_ok") === col("_nk"),
        "full_outer")
      .select(
        coalesce(col("_nk"), col("_ok")).as(keyCol),
        when(col("_ok").isNull, "I")
          .when(col("_nk").isNull, "D")
          .when(col("_oh") =!= col("_nh"), "U")
          .as("op"))
      .filter(col("op").isNotNull)
      // consumed by BOTH the upsert fetch and the delete branch: checkpoint
      // the (small) changed-key set so the narrow classify join runs once
      .localCheckpoint(true)
    val upserts = newSnap
      .join(broadcast(classified.filter(col("op") =!= "D")), Seq(keyCol))
      .select(col(keyCol) +: col("op") +: valueCols.map(col): _*)
    val deletes = classified.filter(col("op") === "D")
      .select(col(keyCol) +: col("op") +:
        valueCols.map(c => lit(null).cast(newSnap.schema(c).dataType).as(c)): _*)
    upserts.unionByName(deletes)
  }

  // ------------------------------------------------- versioned time travel

  /** Resolve each version's ACTIVE FILE SET from a version log of
    * (version, action ∈ add|remove, file_id) commits — the transaction-log
    * fold behind snapshot-isolation time travel: a file is visible AS OF
    * version v iff it was added at some version ≤ v and not removed at any
    * version ≤ v (a compaction rewrite is remove(olds)+add(new) in one
    * commit; a retention delete is a bare remove). Output: one
    * (version, file_id) row per visible file per version in the log.
    *
    * Scale shape: the log is METADATA — thousands of rows for a
    * petabyte table — so the whole fold (lifespan per file, interval
    * membership per version) is dashboard-sized and broadcastable; no
    * data file is touched.
    */
  def activeFilesByVersion(log: DataFrame): DataFrame = {
    val versions = log.select(col("version")).distinct()
    // LATEST-ACTION-WINS: visible at v iff the most recent commit ≤ v
    // touching the file is an add — so remove→re-add cycles resurface
    // the file, and a same-commit remove+add (a rewrite of one path)
    // nets to add (the struct max breaks the version tie on the add).
    versions.select(col("version").as("_v"))
      .join(log, col("version") <= col("_v"))
      .groupBy(col("_v"), col("file_id"))
      .agg(max(struct(col("version"),
        (col("action") === "add").cast("int").as("isAdd"))).as("_last"))
      .filter(col("_last.isAdd") === 1)
      .select(col("_v").as("version"), col("file_id"))
  }

  /** Time-travel CENSUS: what the table contained at every version —
    * rows tagged with their physical `fileIdCol` join the resolved
    * (version, file_id) manifest and aggregate per version. The data is
    * scanned ONCE for all versions (membership is a broadcast join
    * against the tiny manifest), never once per version; rows whose file
    * appears in no commit (orphan/uncommitted files) are invisible, as
    * in a real transaction log.
    */
  def timeTravelCensus(
      data: DataFrame,
      log: DataFrame,
      fileIdCol: String,
      valueCol: String
  ): DataFrame = {
    val member = activeFilesByVersion(log).localCheckpoint(true)
    val files = member.groupBy("version")
      .agg(count(lit(1)).cast("long").as("n_files"))
    val rows = data.join(broadcast(member), Seq(fileIdCol))
      .groupBy("version")
      .agg(count(lit(1)).cast("long").as("n_rows"),
        graft.queries.Q.sumExact(col(valueCol)).as("total_value"))
    // LEFT join: a version whose visible files hold no rows still
    // reports (n_rows = 0), instead of vanishing from the census;
    // the per-version aggregate side is version-count-sized → broadcast
    files.join(broadcast(rows), Seq("version"), "left")
      .select(col("version").cast("long").as("version"), col("n_files"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("total_value"), lit(0.0)).as("total_value"))
      .orderBy("version")
  }

  /** Vacuum/retention plan — the "which files can physically go" decision
    * behind a transaction-log table's VACUUM: with the last
    * `retainVersions` versions retained (time travel must keep working for
    * them), a file is deletable iff it is visible in NONE of them. Removed-
    * then-recompacted files age out (the q197 rewrite), while a file
    * removed only in versions NEWER than the retention horizon stays
    * pinned by the older retained snapshot.
    *
    * Output: the full file manifest with the deletable verdict plus the
    * reclaim census (rows/value the delete frees). Scale shape: the log is
    * metadata-sized, so retained-version resolution and the visibility
    * fold ([[activeFilesByVersion]]) are broadcast-sized; the DATA is
    * touched once, by a broadcast membership join, only to price the
    * reclaim.
    */
  def vacuumPlan(
      data: DataFrame,
      log: DataFrame,
      fileIdCol: String,
      valueCol: String,
      retainVersions: Int
  ): DataFrame = {
    require(retainVersions >= 1, "must retain at least the current version")
    // last R distinct versions: TakeOrdered on the metadata-sized log —
    // never a constant-partition window
    val retained = log.select(col("version")).distinct()
      .orderBy(desc("version")).limit(retainVersions)
    val visibleRetained = activeFilesByVersion(log)
      .join(broadcast(retained), Seq("version"), "left_semi")
      .select(col("file_id")).distinct()
    val verdicts = log.groupBy("file_id")
      .agg(max(col("version")).cast("long").as("last_action_version"))
      .join(visibleRetained.withColumn("_keep", lit(1L)), Seq("file_id"),
        "left")
      .select(col("file_id"), col("last_action_version"),
        (coalesce(col("_keep"), lit(0L)) === 0).cast("long").as("deletable"))
    // per-file totals: one data scan, file-count-sized result; orphan
    // files (in data, never committed) drop at the verdict join below —
    // the timeTravelCensus invisibility rule
    val reclaim = data
      .groupBy(col(fileIdCol).as("file_id"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        graft.queries.Q.sumExact(col(valueCol)).as("total_value"))
    verdicts.join(broadcast(reclaim), Seq("file_id"), "left")
      .select(col("file_id"), col("deletable"), col("last_action_version"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("total_value"), lit(0.0)).as("total_value"))
      .orderBy("file_id")
  }

  // ------------------------------------- incremental aggregate maintenance

  /** Merge a delta's aggregate state into a stored aggregate state —
    * incremental view maintenance for the distributive aggregates
    * (sum/count via "sum", "min", "max"). Both frames carry `keys` plus
    * identically-named state columns; the merged state equals a full
    * recompute over base ∪ delta (q97's oracle proves exactly that), but
    * the base DATA is never re-read — only its (small) aggregate state.
    *
    * This is the steady-state shape for late-arriving data at lake scale:
    * the stored state is keyed and tiny relative to the fact table, the
    * delta aggregates map-side before the merge, and the union-groupBy
    * shuffles state rows only. AVG-style aggregates must be carried as
    * (sum, count) pairs and derived after merging.
    */
  def mergeAggState(
      state: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      how: Map[String, String] = Map.empty
  ): DataFrame = {
    val stateCols = state.columns.filterNot(keys.contains).toSeq
    val aggs = stateCols.map { c =>
      how.getOrElse(c, "sum") match {
        case "sum" => sum(col(c)).as(c)
        case "min" => min(col(c)).as(c)
        case "max" => max(col(c)).as(c)
        case other => throw new IllegalArgumentException(
          s"mergeAggState: '$other' is not a distributive merge (use sum/min/max)")
      }
    }
    state.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  // ------------------------------------------------- skew mitigation

  /** Skew-salted equi-join, HOT-KEY-TARGETED (r7 VERDICT #1): the remedy
    * [[keyProfile]] diagnoses for. The input splits into two spans:
    *
    *  - HOT span (keys in `hotKeys`, or — when None — the keys a
    *    [[keyProfile]] pass shows holding ≥ `hotShareThreshold` of the
    *    rows): big rows get `_salt = hash(rowId) mod salts`, the other
    *    side's HOT rows replicate ×salts via one explode, join on
    *    (key, _salt) — a hot key's rows spread over `salts` reducers.
    *  - COLD span: a plain equi-join, NO salt column, NO replication.
    *
    * The union is row-for-row identical to the plain join for inner/left
    * semantics — each big row lands in exactly one span and meets each
    * matching other-side row exactly once — which is what the q187 oracle
    * (the PLAIN join) proves by hash equality. Null big-side keys route to
    * the cold span (isin is null-safe-coalesced), so left-join rows
    * survive exactly once.
    *
    * Why targeted: the r1-r7 blanket form salted EVERY big row and
    * replicated the ENTIRE other side ×salts — at 100 TB that ×salts
    * probe-side shuffle is the scale-killer (r7's dominant sweep line;
    * SALTEDJOIN_r08.json has both forms' shuffle-write bytes at 100×).
    * Here the replication cost is `salts × |other ∩ hot|` rows — bounded
    * by `maxHotKeys`, not by the table. The profile pass costs one narrow
    * partial-aggregated scan of the key column; pass `hotKeys` explicitly
    * to skip it (e.g. from a persisted profile).
    *
    * Use when AQE's skew split can't engage (static plans, streaming
    * joins, a same-key co-partitioned consumer above the join) — see
    * SkewJoinCompareSpec for the measured adjudication.
    */
  def saltedJoin(
      big: DataFrame,
      other: DataFrame,
      key: String,
      rowIdCols: Seq[String],
      salts: Int = 8,
      joinType: String = "inner",
      hotKeys: Option[Seq[Any]] = None,
      hotShareThreshold: Double = 0.001,
      maxHotKeys: Int = 64
  ): DataFrame = {
    require(salts >= 1)
    require(joinType == "inner" || joinType == "left",
      s"saltedJoin: unsupported joinType '$joinType' — replicating the " +
        "probe side under right/full semantics would duplicate unmatched rows")
    val hot: Seq[Any] = hotKeys.getOrElse {
      keyProfile(big, key, maxHotKeys)
        .filter(col("pct") >= hotShareThreshold * 100.0)
        .select(col(key)).collect().map(_.get(0)).toSeq
    }
    if (hot.isEmpty) return big.join(other, Seq(key), joinType)
    // null keys: isin(null) is NULL → coalesce(false) → cold span, where a
    // left join preserves them exactly once
    val isHot = coalesce(col(key).isin(hot: _*), lit(false))
    val saltExpr = pmod(xxhash64(rowIdCols.map(col): _*), lit(salts.toLong))
    val bHot = big.filter(isHot).withColumn("_salt", saltExpr)
    val oHot = other.filter(isHot)
      .withColumn("_salt", explode(sequence(lit(0L), lit(salts - 1L))))
    val hotJoined = bHot.join(oHot, Seq(key, "_salt"), joinType).drop("_salt")
    val coldJoined =
      big.filter(!isHot).join(other.filter(!isHot), Seq(key), joinType)
    hotJoined.unionByName(coldJoined)
  }

  // ------------------------------------------------- skew diagnostics

  /** Key-distribution profile: the diagnostic run BEFORE picking a join
    * strategy for a key (broadcast? salt? AQE skew split?). Returns the
    * `topK` heaviest keys with their share, plus the global skew ratio
    * max_freq / mean_freq (1.0 = perfectly uniform; the salting threshold
    * in practice sits around tens).
    *
    * One partial-aggregated groupBy on the key (counts shuffle, rows do
    * not) + a 1-row global aggregate broadcast back — profiling cost is
    * O(distinct keys), not O(rows).
    */
  def keyProfile(df: DataFrame, keyCol: String, topK: Int = 15): DataFrame = {
    val counts = df.groupBy(col(keyCol))
      .agg(count(lit(1)).cast("long").as("n_rows"))
    val stats = broadcast(counts.agg(
      sum(col("n_rows")).as("_total"),
      count(lit(1)).cast("long").as("_nkeys"),
      max(col("n_rows")).as("_max")))
    counts.crossJoin(stats)
      .select(col(keyCol), col("n_rows"),
        round(col("n_rows") * 100.0 / col("_total"), 6).as("pct"),
        round(col("_max") * 1.0 * col("_nkeys") / col("_total"), 6)
          .as("skew_ratio"))
      .orderBy(col("n_rows").desc, col(keyCol))
      .limit(topK)
  }

  // ------------------------------------------------- training export

  /** Deterministic shard assignment for a training export: shard =
    * portable-hash(id) mod nShards. Membership depends only on the id, so
    * re-exports are stable, any engine can recompute the mapping, and the
    * shards are size-balanced in expectation regardless of id clustering.
    */
  def shardAssign(idCol: Column, nShards: Int): Column =
    pmod(conv(substring(md5(idCol.cast("string").cast("binary")), 1, 15),
      16, 10).cast("long"), lit(nShards.toLong))

  /** Per-shard integrity manifest: row count plus an ORDER-INDEPENDENT
    * content checksum: the sum of per-row md5-derived hashes REDUCED
    * MOD 1e9, so the int64 sum cannot overflow below ~9e9 rows per shard
    * (engines disagree on overflow: Spark wraps, DuckDB's HUGEINT sum
    * errors on the down-cast — staying exact sidesteps both). Fields are
    * joined with \\u0001 before hashing so adjacent fields cannot alias.
    * Computing the manifest from the exported files and from the source
    * table must agree — that equality is the export's end-to-end
    * integrity check (q104). The shard column is cast to long so a
    * partition-discovered (int-inferred) column and a computed one
    * compare identically.
    */
  def shardManifest(df: DataFrame, shardCol: String, contentCols: Seq[String]): DataFrame = {
    val rowHash = pmod(
      conv(substring(md5(
        concat_ws("\u0001", contentCols.map(c => col(c).cast("string")): _*)
          .cast("binary")), 1, 15), 16, 10).cast("long"),
      lit(1000000000L))
    df.groupBy(col(shardCol).cast("long").as(shardCol))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(rowHash).as("content_sum"))
  }

  // ---------------------------------------------- compaction planning

  /** Small-file compaction plan: within each table partition, assign files
    * (ordered by `orderCol` — deterministic) to sequential bins of at most
    * `targetBytes` (greedy: a file opens a new bin when the bytes before it
    * fill the current one). Returns the input plus `bin` — the rewrite
    * group each file joins.
    *
    * The cumulative sum is a window PARTITIONED by `partCol`, so planning
    * parallelizes across table partitions; no global ordering exists
    * anywhere. This is the maintenance pass that keeps a streaming-ingest
    * lake's file count bounded.
    */
  def compactionPlan(
      files: DataFrame,
      partCol: String,
      sizeCol: String,
      orderCol: String,
      targetBytes: Long
  ): DataFrame = {
    val w = Window.partitionBy(col(partCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("_bytes_before",
        coalesce(sum(col(sizeCol)).over(w), lit(0L)))
      .withColumn("bin",
        floor(col("_bytes_before") / targetBytes.toDouble).cast("long"))
      .drop("_bytes_before")
  }

  /** Slowly-changing-dimension Type 2 build from an observation feed: one
    * row per (key, observation), ordered within each key by `orderCols`
    * (include a unique tiebreaker — determinism is the caller's contract).
    * Rows where the tracked attributes are unchanged vs the previous
    * observation are COMPRESSED away (null-safe struct compare, so
    * null→null is "unchanged" and null→value is a new version); survivors
    * become dimension versions carrying
    * `version_no` / `effective_from` (the head of `orderCols`) /
    * `effective_to` (next version's from, null while current) /
    * `is_current`.
    *
    * Scale design: both passes are windows PARTITIONED by the key — narrow
    * per-key sorts, no global ordering. The second window runs on the
    * POST-compression survivors (for stable dimensions, a small fraction
    * of the feed), so the second shuffle moves only the versions that
    * exist. At 100 TB the feed shuffles exactly twice on the key, and the
    * dimension output is append-friendly: re-running on feed ∪ increment
    * reproduces history (versions are a pure function of the ordered feed).
    */
  def scd2(
      feed: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      attrCols: Seq[String]
  ): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val attrs = struct(attrCols.map(col): _*)
    val effFrom = col(orderCols.head)
    feed
      .withColumn("_prev_attrs", lag(attrs, 1).over(w))
      .filter(col("_prev_attrs").isNull || !(col("_prev_attrs") <=> attrs))
      .drop("_prev_attrs")
      .withColumn("version_no", row_number().over(w).cast("long"))
      .withColumn("effective_from", effFrom)
      .withColumn("effective_to", lead(effFrom, 1).over(w))
      .withColumn("is_current", col("effective_to").isNull)
  }

  /** Incremental SCD2 maintenance: merge a NEW feed increment into an
    * existing [[scd2]] dimension without re-windowing history. Contract:
    * every increment observation sorts strictly AFTER the key's existing
    * feed (the append-only ingest shape); result == `scd2(feed ∪ inc)`
    * (LakeOpsSpec pins it; q120's oracle is the batch rebuild itself).
    *
    * Scale design — why this beats rebuild at 100 TB: the closed history
    * (the bulk of the dimension) is a pure PASS-THROUGH — no shuffle, no
    * window, not even a scan of its attribute payload. Work is windows
    * over the increment (small by definition) plus one equi-join of the
    * increment's versions against the OPEN versions (one row per live
    * key — broadcastable for typical dims). A daily ingest touches
    * O(|increment| + |live keys|), not O(|history|).
    */
  def scd2Merge(
      dim: DataFrame,
      inc: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      attrCols: Seq[String]
  ): DataFrame = {
    val attrs = struct(attrCols.map(col): _*)
    val incV = scd2(inc, keyCols, orderCols, attrCols)
    val open = dim.filter(col("is_current"))
    val openKeyed = open.select(
      keyCols.map(col) :+ attrs.as("_open_attrs")
        :+ col("version_no").as("_open_ver"): _*)
    val joined = incV.join(openKeyed, keyCols, "left")
    // the increment's FIRST version can collapse into the open version
    // when the attributes did not actually change across the boundary
    val absorbedFirst = col("version_no") === 1 &&
      col("_open_attrs").isNotNull && (attrs <=> col("_open_attrs"))
    val newV = joined
      .withColumn("_absorbed",
        max(when(absorbedFirst, 1L).otherwise(0L)).over(
          Window.partitionBy(keyCols.map(col): _*)))
      .filter(!absorbedFirst)
      .withColumn("version_no",
        coalesce(col("_open_ver"), lit(0L)) + col("version_no")
          - col("_absorbed"))
      .drop("_open_attrs", "_open_ver", "_absorbed")
    // close superseded open versions at the first surviving new version
    val closeAt = newV
      .groupBy(keyCols.map(col): _*)
      .agg(min(col("effective_from")).as("_close_at"))
    val stillOpen = open.join(closeAt, keyCols, "left")
      .withColumn("effective_to", col("_close_at"))
      .withColumn("is_current", col("effective_to").isNull)
      .drop("_close_at")
    dim.filter(!col("is_current"))
      .unionByName(stillOpen)
      .unionByName(newV)
  }

  /** Incremental maintenance of a materialized JOIN view (append-only
    * deltas): J_new = J_old ∪ (ΔL ⋈ R_old) ∪ (L_old ⋈ ΔR) ∪ (ΔL ⋈ ΔR) —
    * the classic delta-join identity. Only DELTA rows drive new work:
    * both delta sides are broadcast, so the stored view and the base
    * tables are scanned without reshuffling a single base row (the CDC
    * merge lesson: never let the big side cross an exchange). At 100 TB
    * the stored J_old is read-through (here it rides in as a DataFrame);
    * the three delta joins touch |Δ|-proportional data.
    *
    * `usingKey` must name the join column identically on both sides
    * (rename before calling); inputs must be append-only (no updates or
    * deletes — those need the CDC path, cdcMerge).
    */
  def incrementalJoinRefresh(
      jOld: DataFrame,
      oldLeft: DataFrame,
      deltaLeft: DataFrame,
      oldRight: DataFrame,
      deltaRight: DataFrame,
      usingKey: String
  ): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    jOld
      .unionByName(broadcast(deltaLeft).join(oldRight, usingKey))
      .unionByName(oldLeft.join(broadcast(deltaRight), usingKey))
      .unionByName(broadcast(deltaLeft).join(broadcast(deltaRight), usingKey))
  }

  /** Rendezvous (highest-random-weight) shard assignment: key k goes to
    * argmax over shards s of hash(k ":" s), ties to the LOWEST shard.
    * The consistent-placement scheme for 100-TB lake layout: growing
    * N → N+1 shards moves ONLY the keys whose new winner is the NEW
    * shard — an expected 1/(N+1) of the data — with zero coordination
    * state (no ring, no lookup table to persist).
    *
    * `portable = true` swaps xxhash64 for the md5-derived
    * [[Dedup.portableHash60]] so the full assignment — and the minimal-
    * movement property itself — is DuckDB-hash-checkable (q225 proves
    * `moved_in = 0` for every pre-existing shard through the oracle
    * gate); production keeps xxhash64 (faster, full 64-bit spread).
    * The argmax is a greatest() over nShards scan-side hash columns —
    * pure codegen, no explode, no join.
    */
  def rendezvousShard(
      keyCol: Column,
      nShards: Int,
      portable: Boolean = false
  ): Column = {
    require(nShards >= 1 && nShards <= 64, "shard count out of range")
    def h(s: Int): Column = {
      val tagged = concat(keyCol.cast("string"), lit(s":" + s))
      if (portable) Dedup.portableHash60(tagged) else xxhash64(tagged)
    }
    val hs = (0 until nShards).map(h)
    val m =
      if (hs.length == 1) hs.head else greatest(hs: _*)
    // first shard attaining the max wins (ties → lowest s)
    (0 until nShards)
      .foldRight(lit(null).cast("long")) { (s, acc) =>
        when(h(s) === m, lit(s.toLong)).otherwise(acc)
      }
  }

  /** Reshard census for an N → N+1 rendezvous scale-out: per NEW shard,
    * the row counts under the old and new layouts and how many rows moved
    * IN from a different old shard. Rendezvous guarantees moved_in = 0
    * for every shard except the new one — the minimal-movement theorem,
    * which the q225 oracle hash-verifies from raw keys.
    *
    * Scale shape: both assignments are computed scan-side in the same
    * pass (2·N+1 hash evaluations per row, all codegen); ONE count
    * aggregate on (shard_after) + one on (shard_before), joined on ≤ N+1
    * rows. Rows never shuffle — only per-shard counters do.
    */
  def rendezvousReshardCensus(
      df: DataFrame,
      idCol: String,
      nShardsBefore: Int,
      portable: Boolean = false
  ): DataFrame = {
    val assigned = df.select(
      rendezvousShard(col(idCol), nShardsBefore, portable).as("before"),
      rendezvousShard(col(idCol), nShardsBefore + 1, portable).as("after"))
    val after = assigned
      .groupBy(col("after").as("shard"))
      .agg(count(lit(1)).cast("long").as("n_after"),
        coalesce(sum(when(col("before") =!= col("after"), 1L)), lit(0L))
          .cast("long").as("moved_in"))
    val before = assigned
      .groupBy(col("before").as("shard"))
      .agg(count(lit(1)).cast("long").as("n_before"))
    after
      .join(before, Seq("shard"), "left")
      .select(col("shard"), coalesce(col("n_before"), lit(0L)).as("n_before"),
        col("n_after"), col("moved_in"))
      .orderBy("shard")
  }
}
