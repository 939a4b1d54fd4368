package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's canonical configuration.
  *
  * Design notes (scale-first):
  *  - `spark.sql.shuffle.partitions` defaults to the local core count, not 200;
  *    on a real cluster AQE coalesces post-shuffle partitions anyway.
  *  - ANSI mode is OFF: the reference semantics (pandas `errors="coerce"`,
  *    `pd.to_numeric`) are coercion-based — bad casts become null, they never
  *    abort the job. (reference: python-service/scripts/clean_traffic.py:104,
  *    clean_weather.py:71)
  *  - Session timezone pinned to UTC: the reference parses timestamps with
  *    `utc=True` then drops the tz (clean_traffic.py:76-86).
  *  - AQE on: runtime coalescing + skew-join handling is the 100-TB story for
  *    the join fan-out in the merge stage.
  */
object GraftSession {

  def local(appName: String = "graft", cores: String = "*"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", cores)
    configure(
      SparkSession
        .builder()
        .master(s"local[$cpus]")
        .appName(appName)
    ).getOrCreate()
  }

  /** Apply graft's canonical conf to any builder (works for cluster masters
    * too — nothing here is local-mode specific). Also installs graft's
    * native Catalyst functions (graft.functions.GraftExtensions).
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = {
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    b.withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // nanosecond-precision parquet timestamps (events fixture) surface as
      // long nanos instead of a read error; Q.t converts them to µs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // local tier reads single ~20MB files: the default 128MB split puts a
      // whole table in ONE task. 8MB splits parallelize those scans (and the
      // per-partition partial aggregates above them); on a real cluster
      // raise this back toward 128MB via SPARK_GRAFT_SPLIT_BYTES.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_SPLIT_BYTES", (8 * 1024 * 1024).toString))
      .config("spark.ui.enabled", "false")
      // Spark's compiled-class cache (JVM-wide, sized at the first codegen).
      // One pass of the 13 notebook queries compiles ~140 classes, past
      // the default 100 entries, so every warm pass recompiled 120 of them;
      // at 1000 a warm pass compiles none
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // managed tables (the bucketed-layout path) land in tmp, not the
      // project dir; on a cluster point this at the lake root instead
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
          s"${sys.props("java.io.tmpdir")}/graft-warehouse"))
  }

  def quiet(spark: SparkSession): SparkSession = {
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
