package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.util.DynamicVariable

/** The one driver byte budget behind every two-path gate (`DriverGraph`,
  * `beamRecallCurve`'s vector read, `Bootstrap`'s count gate, `OrderStats`
  * pass 1): a gate runs on the driver when `rows × bytesPerRow` fits
  * [[bytes]], a thirty-second of the max heap capped at half of
  * `spark.driver.maxResultSize` (0 = unlimited), and distributed otherwise;
  * both paths return the same rows. Specs force a path with the scoped
  * [[withBytes]]; there is no other setting.
  *
  * A collected row is a boxed `Row`: [[rowBytes]]`(v)` for `v` values, an
  * array column counting one plus its elements. Measured as the bytes a
  * `collect()` of a cached frame allocates on the calling thread
  * (`ThreadMXBean`), marginal between 50k and 250k rows, least of 3 warm
  * reps (local[4], 3 GB heap, JDK 17): 159 / 189 / 258 / 397 B for 1 / 2 /
  * 4 / 8 nullable doubles, 272 / 520 / 2,536 B for (long, 1 / 8 / 64 longs,
  * boolean): 124 B + 34–36 B per value, rounded up to 128 + 36 v.
  * [[EdgeBytes]]: a whole `DriverGraph.collect`, id map included, 511 B
  * per edge at 2 nodes per edge (415 B at 1.4). Bootstrap's driver path
  * allocates 906 B per 8-column row in all, but past its rows keeps
  * primitive doubles only, as `OrderStats` pass 1 does (8 B per value).
  */
private[graft] object DriverBudget {

  val EdgeBytes = 512L

  def rowBytes(values: Int): Long = 128L + 36L * values

  private val scoped = new DynamicVariable[Option[Long]](None)

  def bytes: Long = scoped.value.getOrElse {
    val heap = Runtime.getRuntime.maxMemory / 32
    val maxResult = SparkSession.active.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (maxResult > 0) math.min(heap, maxResult / 2) else heap
  }

  /** `df`'s rows when they fit the budget, None past it: the gate and the
    * read are one `limit(n + 1).collect()`, and a budget below one row
    * runs no job.
    */
  def collect(df: DataFrame, bytesPerRow: Long): Option[Array[Row]] = {
    val n = math.min(bytes / bytesPerRow, Int.MaxValue - 2L)
    if (n <= 0) None
    else Some(df.limit(n.toInt + 1).collect()).filter(_.length <= n)
  }

  /** `body` under a budget of `budget` bytes; 0 forces distributed paths. */
  def withBytes[T](budget: Long)(body: => T): T = within(Some(budget))(body)

  /** The caller's scope, for [[within]] on another thread: a pooled
    * thread keeps the scope it was created in, not the submitter's.
    */
  def scope: Option[Long] = scoped.value

  def within[T](scope: Option[Long])(body: => T): T = scoped.withValue(scope)(body)
}
