package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType, TimestampType}
import graft.analytics.OrderStats

/** Reusable cleaning operators.
  *
  * Semantics mirror the reference's pandas cleaning stages
  * (python-service/scripts/clean_traffic.py:41-148, clean_weather.py:25-109)
  * but the numeric statistics of every column come from one scan instead of
  * pandas' one-scan-per-statistic loop — at 100 TB the difference is ~3
  * scans (modes, statistics, write) vs ~20.
  *
  * Order is part of the semantics (SURVEY.md §3 E2): dedup happens before the
  * timestamp drop; IQR bounds are computed on the post-drop pre-clip column;
  * the median fill uses the post-clip column.
  */
object Cleaning {

  /** Name of the injected file-order column (used for keep-first dedup). */
  val SrcOrder = "_src_order"

  /** pandas keeps implicit row order; Spark needs it materialized.
    *
    * For a file-backed frame the order key is the struct
    * `(_metadata.file_path, _metadata.file_block_start, mid)`, compared
    * lexicographically:
    *  - `file_path` orders files the way `pd.concat(sorted(glob))` does —
    *    Spark's scan bin-packs files by SIZE, so partition order is not
    *    file order and bare `monotonically_increasing_id` is wrong on any
    *    multi-file bronze;
    *  - `file_block_start` orders the splits of one large file by byte
    *    offset;
    *  - `monotonically_increasing_id` breaks ties WITHIN a block: one
    *    block is read by exactly one task in one sequential pass, so ids
    *    are monotone in row order there (their cross-partition values
    *    never matter — the file/block prefix dominates).
    * Works for every file format (CSV has no `_metadata.row_index`, but
    * path/block_start are universal). Frames with no file lineage (joins,
    * aggregates, in-memory test data) fall back to bare
    * `monotonically_increasing_id`, which follows scan order only for a
    * single input partition — carry an explicit order column
    * (`dedupKeepFirstBy`, as q49 does) when that's not enough.
    */
  def withSrcOrder(df: DataFrame): DataFrame =
    if (df.columns.contains(SrcOrder)) df
    else scala.util.Try {
      df.withColumn(SrcOrder, struct(
        col("_metadata.file_path"),
        col("_metadata.file_block_start"),
        monotonically_increasing_id()))
    }.getOrElse(df.withColumn(SrcOrder, monotonically_increasing_id()))

  /** D1/D2: `drop_duplicates(subset=key)` with pandas semantics — keep the
    * FIRST row in file order; null keys compare equal (one survivor).
    * Spark's `dropDuplicates` keeps an arbitrary row, so we use an explicit
    * keep-first window over the source order. See `withSrcOrder` for the
    * single-file ordering assumption; use `dedupKeepFirstBy` when an
    * explicit order column exists.
    * (reference: clean_traffic.py:66-72, clean_weather.py:43-46)
    */
  def dedupKeepFirst(df: DataFrame, key: String): DataFrame =
    if (!df.columns.contains(key)) df.dropDuplicates() // D3 fallback, clean_traffic.py:70-71
    else dedupKeepFirstBy(withSrcOrder(df), key, SrcOrder)

  /** Keep-first dedup with an EXPLICIT order column — the multi-file-safe
    * variant (ingest-time sequence numbers, timestamps, …).
    */
  def dedupKeepFirstBy(df: DataFrame, key: String, orderCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(orderCol))
    df.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1)
      .drop("_graft_rn")
  }

  /** The three timestamp formats the bronze generators emit
    * (generate_traffic_data.py:17-24, generate_weather_data.py:7-24).
    */
  val DefaultTimestampFormats: Seq[String] =
    Seq("yyyy-MM-dd HH:mm", "dd/MM/yyyy hha", "yyyy-MM-dd'T'HH:mm'Z'")

  /** C1: `pd.to_datetime(errors="coerce", dayfirst=True, utc=True)` analog.
    * Each format is tried in turn; anything unparseable coerces to null
    * (ANSI off). `dayfirst` is subsumed by the explicit dd/MM pattern; the
    * formats are mutually unambiguous so the coalesce order is safe.
    * (reference: clean_traffic.py:76-86, clean_weather.py:49-53)
    */
  def parseMessyTimestamp(
      c: Column,
      formats: Seq[String] = DefaultTimestampFormats
  ): Column =
    coalesce(formats.map(f => to_timestamp(c, f)): _*)

  /** All numeric-typed column names, in schema order — the
    * `select_dtypes(include=[np.number])` idiom
    * (factor_analysis.py:178, monte_carlo.py:260).
    */
  def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toSeq

  /** A1: per-column mode with the pandas tie-break (lexicographically
    * smallest among the most frequent; nulls excluded). All requested columns
    * are computed in ONE shuffled pass via melt → count → per-column top-1,
    * instead of a scan per column. The melt multiplies rows × |cols| before
    * the map-side partial count collapses them — the right trade for the
    * handful of categorical columns this serves; for wide frames (hundreds
    * of columns) run per-column `mode_det` aggregates instead
    * (graft.functions.DeterministicMode — one pass, no row multiplication).
    * (reference: clean_traffic.py:89-95, clean_weather.py:56-64)
    */
  def modes(df: DataFrame, cols: Seq[String]): Map[String, String] = {
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) return Map.empty
    val kvs = present.map(c =>
      struct(lit(c).as("c"), col(c).cast(StringType).as("v"))
    )
    val counts = df
      .select(explode(array(kvs: _*)).as("kv"))
      .select(col("kv.c").as("c"), col("kv.v").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("c", "v")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("c").orderBy(desc("cnt"), asc("v"))
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("c", "v")
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
  }

  /** A1+C5: fill null categoricals with the column mode (fallback "Unknown"
    * when a column is entirely null — `mode_val.empty` branch).
    */
  def fillCategoricalsWithMode(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) return df
    val m = modes(df, present)
    present.foldLeft(df) { (d, c) =>
      d.na.fill(Map(c -> m.getOrElse(c, "Unknown")))
    }
  }

  /** C3→P3→A3→C4→A2/C5 numeric pipeline for a set of columns:
    * coerce to double; drop null rows if a column is >50% null; clip to
    * [Q1−1.5·IQR, Q3+1.5·IQR] (exact quantiles, linear interpolation — same
    * definition as pandas); median-fill the post-clip column.
    *
    * The common case (no column exceeds the 50% null threshold, which never
    * fires on the reference's ~5%-null generators) runs ONE statistics scan
    * regardless of column count: one [[OrderStats]] call returns every
    * column's non-null count, the row count (so the null fractions), and
    * the order statistics at the Q1, median and Q3 ranks. The post-clip
    * median needs no second pass: clip is monotone, so the k-th smallest
    * clipped value is clip(k-th smallest value), and the post-clip median
    * is `interpolate(clip(v_lo), clip(v_hi))` over the pre-clip ranks —
    * the same bits as a percentile over the clipped column, on both kernel
    * paths. If a drop does fire, that column is scanned again over the
    * kept rows and every later column gets a scan of its own, because a
    * row drop changes every later column's quantiles (pandas processes
    * columns in order).
    * (reference: clean_traffic.py:101-131, clean_weather.py:66-91)
    *
    * The input is not materialized here: the statistics scan and the
    * consumer each read the caller's lineage ([[clean]] checkpoints it).
    */
  def cleanNumerics(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) df
    else cleanCoerced(coerceNumerics(df, present), present)
  }

  private def coerceNumerics(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, coerceToDouble(col(c))))

  /** [[cleanNumerics]] over already coerced columns. Until a column drops
    * rows, each column's statistics are those of the one scan
    * (clipping and filling other columns changes neither its values nor
    * the row count).
    */
  private[graft] def cleanCoerced(df: DataFrame, cols: Seq[String]): DataFrame = {
    def stats(d: DataFrame, cs: Seq[String]): Seq[OrderStats.Stat] =
      OrderStats(d, None, cs, lit(1L),
        (_, n) => OrderStats.neededRanks(n, Seq(0.25, 0.5, 0.75)))._1(0)
    def sparse(s: OrderStats.Stat): Boolean = 2 * (s.rows - s.n) > s.rows // >50% null
    cols.zip(stats(df, cols)).foldLeft((df, false)) { case ((d, dropped), (c, first)) =>
      val s = if (dropped) stats(d, Seq(c)).head else first
      if (!sparse(s)) (clipAndFill(d, c, s), dropped)
      else {
        val kept = d.na.drop(Seq(c))
        (clipAndFill(kept, c, stats(kept, Seq(c)).head), true)
      }
    }._1
  }

  /** Clip `c` to its IQR fences and fill its nulls with the post-clip
    * median, both from `s` (a column without values is left as it is:
    * pandas' clip(NaN, NaN) is a no-op and its median is NaN).
    */
  private def clipAndFill(df: DataFrame, c: String, s: OrderStats.Stat): DataFrame =
    if (s.n == 0) df
    else {
      val q1 = OrderStats.interpolate(s.n, 0.25, s.at)
      val q3 = OrderStats.interpolate(s.n, 0.75, s.at)
      val iqr = q3 - q1
      val (lo, hi) = (q1 - 1.5 * iqr, q3 + 1.5 * iqr)
      // + 0.0: the kernel reads -0.0 as 0.0, and so would a scan of the
      // clipped column
      val median = OrderStats.interpolate(s.n, 0.5,
        r => math.min(math.max(s.at(r), lo), hi) + 0.0)
      df.withColumn(c, clip(col(c), lo, hi)).na.fill(Map(c -> median))
    }

  /** C3: `pd.to_numeric(errors='coerce')` analog. Plain `cast` almost
    * matches (garbage → null under non-ANSI), EXCEPT the string "NaN", which
    * Spark casts to the NaN VALUE while pandas treats it as missing — and a
    * NaN would poison quantiles/clip/fill downstream. Null it out.
    */
  def coerceToDouble(c: Column): Column = {
    val d = c.cast("double")
    when(isnan(d), lit(null).cast("double")).otherwise(d)
  }

  /** C4: pandas `Series.clip(lo, hi)` — nulls stay null (Spark's
    * least/greatest skip nulls, so the null case must be guarded explicitly).
    */
  def clip(c: Column, lo: Double, hi: Double): Column =
    when(c.isNull, lit(null).cast("double"))
      .otherwise(least(greatest(c, lit(lo)), lit(hi)))

  /** Column-level config for a clean stage. */
  final case class CleanConfig(
      keyCol: String,
      timestampCol: String,
      categoricalCols: Seq[String],
      numericCols: Seq[String]
  )

  /** Full clean stage (E2 trace, SURVEY.md §3): dedup-keep-first → parse
    * timestamps & drop unparseable → mode-fill categoricals → numeric
    * coerce/clip/fill. The deduped, dated frame, numerics already coerced,
    * is materialized once (a lazy local checkpoint) and then read three
    * times: by the modes pass, by the one statistics scan of
    * [[cleanNumerics]] and by the consumer. Coercing before the mode fill
    * is safe because the categorical and numeric column sets are disjoint.
    * The checkpoint keeps AQE's coalesced partitions of the dedup shuffle,
    * so the consumer writes files of AQE's advisory size (one file per
    * table at reference scale) rather than one per shuffle partition.
    */
  def clean(raw: DataFrame, cfg: CleanConfig): DataFrame = {
    require(cfg.categoricalCols.intersect(cfg.numericCols).isEmpty,
      "a column cannot be both categorical and numeric")
    val deduped = dedupKeepFirst(withSrcOrder(raw), cfg.keyCol)
    val parsed =
      if (
        deduped.schema.fields
          .exists(f => f.name == cfg.timestampCol && f.dataType == TimestampType)
      ) deduped
      else
        deduped.withColumn(
          cfg.timestampCol,
          parseMessyTimestamp(col(cfg.timestampCol))
        )
    val numeric = cfg.numericCols.filter(parsed.columns.contains)
    val coerced = coerceNumerics(
      parsed.filter(col(cfg.timestampCol).isNotNull), numeric
    ).localCheckpoint(false)
    val catFilled = fillCategoricalsWithMode(coerced, cfg.categoricalCols)
    val cleaned =
      if (numeric.isEmpty) catFilled
      else cleanCoerced(catFilled, numeric)
    cleaned.drop(SrcOrder)
  }
}
