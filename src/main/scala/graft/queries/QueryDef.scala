package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One operator/query exposed through SparkEntry: a Spark implementation and
  * (when SQL-expressible) a DuckDB oracle the driver hash-compares against.
  * Oracle-less entries get the driver's weaker rows-only check (stochastic /
  * hash-function-dependent operators).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object Q {

  /** Read a testdata table (one parquet per table, TESTDATA.md).
    * The events fixture stores `ts` as TIMESTAMP(NANOS), which Spark reads
    * as long nanos under `nanosAsLong`; convert with exact integer division
    * (doubles would lose precision at 1e18) — truncation to µs matches how
    * DuckDB reads the same file.
    */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events" &&
      df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts",
        timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz"))
    else df
  }

  /** Exact cross-engine double sum: route through DECIMAL so Spark and the
    * DuckDB oracle aggregate identically regardless of partitioning/order
    * (double summation is order-dependent; decimal is not). The final double
    * is exact for any realistic magnitude (≤ 2^53 scaled units).
    */
  def sumExact(c: Column, scale: Int = 2): Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(30, scale)))
      .cast("double")

  /** DuckDB rendering of sumExact. */
  def sqlSumExact(expr: String, scale: Int = 2): String =
    s"CAST(sum(CAST($expr AS DECIMAL(30,$scale))) AS DOUBLE)"
}
