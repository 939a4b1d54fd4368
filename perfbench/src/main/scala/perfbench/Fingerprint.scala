package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result fingerprints: row count plus an order-independent row hash.
  *
  * Floating-point values are rendered with 9 significant digits before
  * hashing, so a last-bit difference from a different summation order does
  * not read as a wrong answer. Tables whose values legitimately vary from
  * run to run (see README.md, "Open defect") are checked with a profile
  * instead: exact row count, exact hash of the non-floating columns, and the
  * sum of |x| of each floating column within a relative tolerance.
  */
final case class Fp(rows: Long, hash: Long, sums: Seq[(String, Double)] = Nil) {
  def render: String =
    (Seq(rows.toString, hash.toString) ++ sums.map { case (c, v) => s"$c=$v" })
      .mkString("\t")
}

object Fp {
  def parse(fields: Seq[String]): Fp = Fp(fields(0).toLong, fields(1).toLong,
    fields.drop(2).map { f =>
      val i = f.lastIndexOf('=')
      f.take(i) -> f.drop(i + 1).toDouble
    })
}

object Fingerprint {

  /** 64-bit finalizer (SplitMix64), so that summing row hashes does not
    * cancel structured inputs.
    */
  def mix(h: Long): Long = {
    var z = h + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Order-independent combination: wrapping sum of mixed row hashes. */
  def combine(rowHashes: Iterator[Long]): Long =
    rowHashes.foldLeft(0L)((acc, h) => acc + mix(h))

  /** Whether two fingerprints agree: rows and hash exactly, and every
    * profiled sum within `relTol` of the expected one.
    */
  def matches(expected: Fp, actual: Fp, relTol: Double): Boolean =
    expected.rows == actual.rows && expected.hash == actual.hash &&
      expected.sums.map(_._1) == actual.sums.map(_._1) &&
      expected.sums.zip(actual.sums).forall { case ((_, e), (_, a)) =>
        math.abs(a - e) <= relTol * math.max(math.abs(e), 1e-9)
      }

  private def isFloating(t: DataType) = t == DoubleType || t == FloatType

  private def canonical(f: StructField): Column = {
    val c = col(s"`${f.name}`")
    f.dataType match {
      case t if isFloating(t) => format_string("%.9g", c)
      case ArrayType(t, _) if isFloating(t) =>
        transform(c, x => format_string("%.9g", x))
      case t if t.catalogString.contains("map<") => c.cast("string")
      case _ => c
    }
  }

  private def rowHashes(df: DataFrame, fields: Seq[StructField]): Array[Long] = {
    val cols = if (fields.isEmpty) Seq(lit(0)) else fields.map(canonical)
    df.select(xxhash64(cols: _*)).collect().map(_.getLong(0))
  }

  /** Exact fingerprint of a result. */
  def of(df: DataFrame): Fp = {
    val hashes = rowHashes(df, df.schema.fields.toSeq)
    Fp(hashes.length.toLong, combine(hashes.iterator))
  }

  /** Profile of a result whose floating columns vary between runs. */
  def profile(df: DataFrame): Fp = {
    val (floats, others) = df.schema.fields.toSeq.partition(f => isFloating(f.dataType))
    val hashes = rowHashes(df, others)
    val sums =
      if (floats.isEmpty) Nil
      else {
        val r = df.agg(floats.map(f => sum(abs(col(s"`${f.name}`"))).cast("double")).head,
          floats.tail.map(f => sum(abs(col(s"`${f.name}`"))).cast("double")): _*).head()
        floats.indices.map(i => floats(i).name -> (if (r.isNullAt(i)) 0.0 else r.getDouble(i)))
      }
    Fp(hashes.length.toLong, combine(hashes.iterator), sums)
  }
}
