package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExpandExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** The injected SplitDistinctAggregates rule (the q201 Expand-trap fix
  * generalized): global multi-distinct aggregates split into narrow
  * cross-joined branches; everything outside the conservative scope is
  * left to Spark's RewriteDistinctAggregates.
  */
class SplitDistinctAggregatesSpec extends SparkSpec {
  import spark.implicits._

  private def expands(p: SparkPlan): Seq[ExpandExec] = p match {
    case a: AdaptiveSparkPlanExec => expands(a.executedPlan)
    case q: QueryStageExec => expands(q.plan)
    case e: ExpandExec => Seq(e) ++ e.children.flatMap(expands)
    case o => o.children.flatMap(expands)
  }

  private def hasExpand(df: DataFrame): Boolean = {
    df.write.format("noop").mode("overwrite").save()
    expands(df.queryExecution.executedPlan).nonEmpty
  }

  private lazy val base = Seq(
    (1L, "x", 10.0), (1L, "y", 20.0), (2L, "x", 30.0),
    (2L, "x", 40.0), (3L, "z", 50.0)
  ).toDF("k", "s", "v")

  test("global multi-distinct splits: no Expand, values exact") {
    val df = base.agg(
      count_distinct(col("k")).as("dk"),
      count_distinct(col("s")).as("ds"),
      count(lit(1)).cast("long").as("n"),
      sum(col("v")).as("sv"))
    assert(!hasExpand(df), "multi-distinct global agg still plans an Expand")
    val r = df.as[(Long, Long, Long, Double)].collect().head
    assert(r == ((3L, 3L, 5L, 150.0)))
  }

  test("scalar shells (casts) around a single distinct agg still split") {
    val df = base.agg(
      count_distinct(col("k")).cast("double").as("dk"),
      count_distinct(col("s")).as("ds"))
    assert(!hasExpand(df))
    val r = df.as[(Double, Long)].collect().head
    assert(r == ((3.0, 3L)))
  }

  test("out-of-scope shapes are left to Spark (Expand remains)") {
    // cross-aggregate arithmetic inside one output column stays fused
    assert(hasExpand(base.agg(
      (count_distinct(col("k")) + count_distinct(col("s"))).as("both"))))
    // grouped AUTO gate: a distinct set over a variable-width (string)
    // column keeps Spark's Expand — each extra branch would re-read and
    // re-decompress the wide column (the measured r6 loss case)
    assert(hasExpand(base.groupBy("k")
      .agg(count_distinct(col("s")), count_distinct(col("v")))))
    // ...and with the rule excluded, the all-numeric grouped shape the
    // rule splits (next test) keeps Spark's Expand: the reference plan,
    // and proof that `excludedRules` reaches the injected rule
    spark.conf.set("spark.sql.optimizer.excludedRules",
      SplitDistinctAggregates.ruleName)
    try assert(hasExpand(base.groupBy("k")
      .agg(count_distinct(col("v")), count_distinct(col("k")))))
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("grouped AUTO default: all-fixed-width distinct sets split without " +
    "a flag; alias-derived wide inputs still gate") {
    // numeric distinct inputs AND numeric group key → the r7 cardinality
    // sweep says split wins at EVERY group count (SPLITDISTINCT_r07.json)
    // → auto fires
    val df = base.groupBy("k").agg(
      count_distinct(col("v")).as("dv"),
      count_distinct(col("k")).as("dk"),
      count(lit(1)).cast("long").as("n"))
    assert(!hasExpand(df), "numeric grouped multi-distinct kept its Expand")
    val got = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(1L -> ((2L, 1L, 2L)), 2L -> ((2L, 1L, 2L)),
      3L -> ((1L, 1L, 1L))), s"got $got")
    // a WIDE GROUP KEY gates too (ADVICE r7 #1, measured at 100×:
    // SPLITDISTINCT_r08.json wide-group-key profile — split 1.52 s vs
    // Expand 1.00 s; every branch re-reads, re-ships, and re-joins on
    // the wide key)
    assert(hasExpand(base.groupBy("s")
      .agg(count_distinct(col("k")), count_distinct(col("v")))),
      "wide group key must keep Spark's Expand under auto")
    // a numeric-TYPED alias DERIVED from a wide column resolves through
    // the projection to the string leaf → auto still gates. Needs a
    // parquet-scan child: over a local relation ConvertToLocalRelation
    // folds the projection into literal rows first (r5 note), after which
    // the wide column is genuinely gone and splitting WOULD be cheap.
    val derived = spark.read.parquet(s"${sfDir()}/documents.parquet")
      .select(col("source"), length(col("text")).as("lt"), col("doc_id"))
      .groupBy("source")
      .agg(count_distinct(col("lt")), count_distinct(col("doc_id")))
    assert(hasExpand(derived),
      "alias over a wide leaf column must not split under auto")
  }

  test("grouped multi-distinct splits: no Expand, per-group values exact, " +
    "null keys survive the reassembly join") {
    // all-numeric inputs, so the fixed-width gate lets the split fire
    val withNullKey = Seq(
      (Option(1L), 1L, 10.0), (Option(1L), 2L, 20.0), (None, 1L, 30.0),
      (None, 3L, 40.0), (Option(2L), 1L, 50.0), (Option(2L), 1L, 60.0)
    ).toDF("k", "s", "v")
    val df = withNullKey.groupBy("k").agg(
      count_distinct(col("s")).as("ds"),
      count_distinct(col("v")).as("dv"),
      count(lit(1)).cast("long").as("n"))
    assert(!hasExpand(df), "grouped multi-distinct still plans an Expand")
    val got = df.collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(1L -> ((2L, 2L, 2L)), -1L -> ((2L, 2L, 2L)),
      2L -> ((1L, 2L, 2L))), s"got $got")
    // key column NOT selected: branches still join on hidden key aliases
    val noKey = withNullKey.groupBy("k").agg(
      count_distinct(col("s")).as("ds"),
      count_distinct(col("v")).as("dv"))
      .select("ds", "dv")
    assert(noKey.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .toSeq == Seq((1L, 2L), (2L, 2L), (2L, 2L)))
  }

  test("single distinct set and non-deterministic children are untouched") {
    // one distinct set → Spark's two-stage plan, no split needed: the rule
    // must not fire (still no Expand here — just assert correctness)
    val single = base.agg(count_distinct(col("k")).as("dk"),
      count(lit(1)).cast("long").as("n"))
    assert(single.as[(Long, Long)].collect().head == ((3L, 5L)))
    // a non-deterministic child must not be duplicated across branches:
    // the Expand plan (one evaluation of rand) must survive. A parquet
    // scan child keeps the shape SCAN-SHAPED (so determinism is the guard
    // that blocks) and keeps ConvertToLocalRelation from freezing rand
    // into literal rows first (frozen rows WOULD be legal to split —
    // verified: on a bare local relation the fold runs before this rule)
    val nonDet = spark.read.parquet(s"${sfDir()}/documents.parquet")
      .withColumn("r", rand(7))
      .agg(count_distinct(col("doc_id")).as("dk"),
        count_distinct(col("r")).as("dr"))
    assert(hasExpand(nonDet))
    // a join below the aggregate is out of scope even when deterministic:
    // duplicating it per branch could cost more than the Expand
    val joined = base.as("l").join(base.as("r"), Seq("k"))
      .agg(count_distinct(col("l.s")).as("ds"),
        count_distinct(col("r.v")).as("dv"))
    assert(hasExpand(joined))
  }

  test("split branches carry fresh exprIds and survive plan validation") {
    // re-instanced branches must not share attribute ids (the analyzer's
    // uniqueness invariant for self-joins). Plan-integrity validation is
    // ON suite-wide since r7 (SparkSpec); assert that rather than toggle.
    assert(spark.conf.get("spark.sql.planChangeValidation") == "true")
    val df = spark.read.parquet(s"${sfDir()}/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"))
      .agg(
        count_distinct(col("lang")).as("dl"),
        count_distinct(col("source")).as("ds"),
        count(lit(1)).cast("long").as("n"))
    assert(!hasExpand(df))
    val optimized = df.queryExecution.optimizedPlan
    val leafOutputIds = optimized.collectLeaves().map(_.output.map(_.exprId))
    val all = leafOutputIds.flatten
    assert(all.distinct.size == all.size,
      s"sibling branches share leaf exprIds: $leafOutputIds")
    val r = df.collect().head
    assert(r.getLong(0) > 0 && r.getLong(1) > 0 && r.getLong(2) > 0)
  }

  test("null columns and empty input keep global-aggregate semantics") {
    val withNulls = Seq((Some(1L), Option.empty[String]),
      (None, Some("a")), (Some(1L), Some("a"))).toDF("k", "s")
    val r = withNulls.agg(
      count_distinct(col("k")).as("dk"),
      count_distinct(col("s")).as("ds"),
      count(lit(1)).cast("long").as("n"))
      .as[(Long, Long, Long)].collect().head
    assert(r == ((1L, 1L, 3L)))
    val empty = base.filter(col("k") < 0).agg(
      count_distinct(col("k")).as("dk"),
      count_distinct(col("s")).as("ds"),
      min(col("v")).as("mn"))
    val e = empty.collect().head
    assert(e.getLong(0) == 0L && e.getLong(1) == 0L && e.isNullAt(2))
  }
}
