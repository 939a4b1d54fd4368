package perfbench

/** The benchmark's workloads. README.md says why each query is in its
  * list.
  */
sealed trait Workload {
  def name: String

  /** Nominal time of one pass on a 4-core box; a run of `seconds` makes
    * `seconds / passSeconds` passes (rounded, at least one).
    */
  def passSeconds: Double
}

/** Analyst-style calls: construct `SparkEntry.queries(name)(spark, dir)`
  * over the sf0.1 tables, then force it with a noop write.
  */
final case class QueryWorkload(name: String, ops: Seq[String], passSeconds: Double)
    extends Workload

/** The medallion pipeline, bronze CSV to gold parquet, over `nRows` seeded
  * rows per bronze table.
  */
final case class LakeWorkload(name: String, nRows: Long, passSeconds: Double)
    extends Workload

object Workloads {

  val notebook = QueryWorkload("notebook",
    ops = Seq("q02", "q06", "q07", "q08", "q09", "q12", "q17", "q43", "q48",
      "q57", "q61", "q135", "q224"),
    passSeconds = 12)

  val lakePipeline = LakeWorkload("lake_pipeline", nRows = 1000, passSeconds = 20)

  val all: Seq[Workload] = Seq(notebook, lakePipeline)

  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Silver and gold tables the pipeline writes, in write order, with the
    * stage whose span ends at each table's write and whether the table is
    * checked by profile (the gold tables whose values vary between runs).
    */
  final case class LakeTable(layer: String, table: String, stage: String, profiled: Boolean)

  val lakeTables: Seq[LakeTable] = Seq(
    LakeTable("silver", "traffic_clean.parquet", "etl.clean_traffic", profiled = false),
    LakeTable("silver", "weather_clean.parquet", "etl.clean_weather", profiled = false),
    LakeTable("silver", "merged_data.parquet", "etl.merge", profiled = false),
    LakeTable("gold", "traffic_weather_factors.parquet", "analytics.factor_analysis", profiled = true),
    LakeTable("gold", "factor_loadings.parquet", "analytics.factor_analysis", profiled = true),
    LakeTable("gold", "monte_carlo_scenarios.parquet", "analytics.monte_carlo", profiled = false),
    LakeTable("gold", "monte_carlo_results.parquet", "analytics.bootstrap", profiled = true))

  val lakeStages: Seq[String] = lakeTables.map(_.stage).distinct

  /** Bronze inputs are generated from `seed mod LakeSeeds`; fingerprints
    * are recorded for each of these.
    */
  val LakeSeeds = 8
}
