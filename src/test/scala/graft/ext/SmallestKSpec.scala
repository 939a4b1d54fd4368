package graft.ext

import graft.SparkSpec
import graft.util.DriverBudget
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import scala.jdk.CollectionConverters._

/** [[Similarity.smallestK]], the one ranked per-key selection behind the
  * ANN operators: its packed `top_k_longs` form and its window form give
  * the rows of a plain reference window on generated (key, score, id)
  * frames, and the operators that rank through it agree across the
  * driver budget past the packed form's k ≤ 64.
  */
class SmallestKSpec extends SparkSpec {

  private val ScoreMax = 1000L

  /** Per key, the k smallest (score, id) by the bare window definition. */
  private def reference(df: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("score"), col("id"))
    df.filter(col("score").isNotNull && col("id").isNotNull)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("key", "id", "score", "rank")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def plans(df: DataFrame): (Boolean, Boolean) = {
    val p = df.queryExecution.analyzed
    (p.exists(_.isInstanceOf[Aggregate]), p.exists(_.isInstanceOf[Window]))
  }

  /** (key, score, id) rows: few distinct scores (so (score) ties are
    * common, broken by id), some null scores and ids, group sizes from 0
    * up past 65; ids small and non-negative, or spanning negatives, or
    * near 2^62 (neither of the last two packs). */
  private val frames: Gen[(String, Seq[(Long, java.lang.Long, java.lang.Long)])] =
    for {
      idKind <- Gen.oneOf("small", "negative", "near 2^62")
      ids = idKind match {
        case "small" => Gen.choose(0L, 300L)
        case "negative" => Gen.choose(-300L, 300L)
        case _ => Gen.choose(0L, 300L).map(i => (1L << 62) + i)
      }
      keys <- Gen.choose(1L, 4L)
      n <- Gen.choose(0, 240)
      scoreSpan <- Gen.oneOf(3L, ScoreMax)
      rs <- Gen.listOfN(n, for {
        key <- Gen.choose(0L, keys - 1)
        score <- Gen.frequency(20 -> Gen.choose(0L, scoreSpan).map(Long.box),
          1 -> Gen.const(null: java.lang.Long))
        id <- Gen.frequency(20 -> ids.map(Long.box),
          1 -> Gen.const(null: java.lang.Long))
      } yield (key, score, id))
    } yield (idKind, rs)

  private def frame(rs: Seq[(Long, java.lang.Long, java.lang.Long)]): DataFrame = {
    import spark.implicits._
    rs.toDF("key", "score", "id")
  }

  /** Differences between the packed form, the window form and the
    * reference, plus a wrong form choice, at each k. */
  private def differ(df: DataFrame): Seq[String] = {
    val range = Similarity.idRange(df, "id")
    // scores up to ScoreMax take 10 bits: non-negative ids below 2^52 pack
    val packs = range.exists { case (lo, hi) => lo >= 0 && hi < (1L << 52) }
    Seq(1, 2, 64, 65).flatMap { k =>
      val chosen = Similarity.smallestK(df, "key", "score", "id", k,
        BigInt(ScoreMax), range)
      val window = Similarity.smallestK(df, "key", "score", "id", k,
        BigInt(ScoreMax), None)
      val ref = rows(reference(df, k))
      val wantPacked = packs && k <= 64
      Seq(
        if (plans(chosen) != (wantPacked, !wantPacked))
          Some(s"k=$k: packed form expected $wantPacked, plan ${plans(chosen)}")
        else None,
        if (rows(chosen) != ref) Some(s"k=$k: chosen form ${rows(chosen)} vs $ref")
        else None,
        if (rows(window) != ref) Some(s"k=$k: window form ${rows(window)} vs $ref")
        else None).flatten
    }
  }

  test("packed form == window form == reference window on generated frames") {
    val empty = frame(Nil)
    assert(Similarity.idRange(empty, "id").isEmpty)
    assert(differ(empty).isEmpty)
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(8)
        .withInitialSeed(Seed(23L)).withWorkers(1),
      Prop.forAllNoShrink(frames) { case (idKind, rs) =>
        val d = differ(frame(rs))
        Prop(d.isEmpty) :| s"$idKind ids, ${rs.length} rows: ${d.take(3)}"
      })
    assert(result.passed, Pretty.pretty(result))
  }

  test("packBits: pairs pack only below the top_k_longs sentinel, ids non-negative") {
    val ids40 = Some(0L -> ((1L << 40) - 1))
    // (2^23 - 2) << 40 | (2^40 - 1) = 2^63 - 2^40 - 1: fits
    assert(Similarity.packBits(ids40, (BigInt(1) << 23) - 2) == 40)
    // (2^23 - 1) << 40 | (2^40 - 1) = Long.MaxValue, the sentinel itself
    assert(Similarity.packBits(ids40, (BigInt(1) << 23) - 1) == -1)
    assert(Similarity.packBits(Some(-1L -> 5L), BigInt(10)) == -1)
    assert(Similarity.packBits(Some(0L -> 0L), BigInt(0)) == 1)
    assert(Similarity.packBits(None, BigInt(10)) == -1)
  }

  test("beamRecallCurve at k = 65: the driver path == the distributed path") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val e = (0L until 90L).map(i =>
      (i, Array.fill(4)((rng.nextInt(2001) - 1000) / 1000f))).toDF("vec_id", "embedding")
    val graph = Similarity.knnGraphExact(e, "vec_id", "embedding", 4)
      .localCheckpoint()
    def curve(): Seq[String] = rows(Similarity.beamRecallCurve(e, "vec_id",
      "embedding", graph, col("vec_id") < 6, k = 65, efs = Seq(2, 70),
      hops = 3, entryId = 0L))
    val onDriver = curve()
    val distributed = DriverBudget.withBytes(0L)(curve())
    assert(onDriver.length == 2)
    assert(onDriver == distributed)
  }

  test("top_k_longs is called from one place in graft.ext: smallestK") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/ext")
    val sites = java.nio.file.Files.list(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("topKLongs(") &&
              !line.trim.startsWith("//") && !line.trim.startsWith("*") =>
            s"${p.getFileName}:${i + 1}: ${line.trim}"
        }
      }
    assert(sites.length == 1, sites.mkString("top_k_longs sites:\n", "\n", ""))
  }
}
