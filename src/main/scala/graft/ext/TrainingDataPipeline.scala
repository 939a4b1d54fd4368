package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the extension operators composed the
  * way a pretraining data pipeline uses them, as one lazy Spark plan chain:
  *
  *   quality score → language ID → quality/length filter → exact dedup
  *   → MinHash near-dedup → per-document token accounting
  *
  * Each stage is also usable standalone (TextAnalysis / Dedup). The stage
  * order is the cost order: cheap scan-side scoring first (pure expressions,
  * fused into the read), the shuffling dedups last against the already
  * reduced row set. Returns the curated corpus plus a one-row stats frame.
  */
object TrainingDataPipeline {

  /** @param portableHashes route the near-dup stage through the portable
    *   md5-family minhash ([[Dedup.minHashPairsPortable]]) so the WHOLE
    *   funnel has a DuckDB twin — q46's registered form since r6. The
    *   xxhash64 default stays the production path (x46 channel).
    */
  final case class Config(
      minQuality: Double = 0.3,
      minTokens: Long = 5,
      maxTokens: Long = 100000,
      keepLangs: Option[Seq[String]] = None,
      nearDupThreshold: Double = 0.7,
      portableHashes: Boolean = false
  )

  final case class Result(curated: DataFrame, stats: DataFrame)

  def apply(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      config: Config = Config()
  ): Result = {
    // scan-side scoring: all pure column expressions, no shuffle
    val scored = docs
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)))
      .withColumn("quality_score", TextAnalysis.qualityScore(col(textCol)))
      .withColumn("pred_lang", TextAnalysis.langId(col(textCol)))

    val filtered = scored
      .filter(col("quality_score") >= config.minQuality)
      .filter(col("n_tokens").between(config.minTokens, config.maxTokens))
    // regex scoring feeds every later stage; evaluate it once. A lazy
    // local checkpoint (as in Cleaning.clean) materializes on the first
    // job that reads it and, unlike a cache, registers nothing that
    // outlives the plans built on it.
    val langFiltered = (config.keepLangs match {
      case Some(ls) => filtered.filter(col("pred_lang").isin(ls: _*))
      case None => filtered
    }).localCheckpoint(false)

    val exactDeduped = Dedup.exact(langFiltered, idCol, Seq(textCol))
    val curated =
      if (config.portableHashes)
        Dedup.minHashDedupPortable(exactDeduped, idCol, textCol,
          config.nearDupThreshold)
      else
        Dedup.minHashDedup(exactDeduped, idCol, textCol, config.nearDupThreshold)

    // Funnel accounting as ONE lazy plan: each stage contributes a 1-row
    // aggregate, composed with broadcast-of-one-row joins — materializing
    // `stats` is a single job (round 1 ran four eager count() actions plus
    // a head(), a full extra input scan and 5 job launches). The n_input
    // scan reads no columns (parquet row-group counts); the checkpointed
    // filter stage materializes once inside the same job. coalesce()
    // keeps the empty-corpus stats row well-defined instead of null/NPE.
    val stats = docs.agg(count(lit(1)).as("n_input"))
      .crossJoin(langFiltered.agg(count(lit(1)).as("n_after_filters")))
      .crossJoin(exactDeduped.agg(count(lit(1)).as("n_after_exact_dedup")))
      .crossJoin(curated.agg(
        count(lit(1)).as("n_curated"),
        coalesce(sum(col("n_tokens")), lit(0L)).cast("long")
          .as("total_tokens"),
        coalesce(round(avg(col("n_tokens")), 2), lit(0.0))
          .as("mean_tokens")))
    Result(curated, stats)
  }
}
