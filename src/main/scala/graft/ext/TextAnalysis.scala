package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines, over the
  * `documents` table shape (doc_id, text, lang, source, n_chars).
  *
  * Everything here is pure Column expressions (whole-stage codegen, no UDFs)
  * so the operators run at scan speed and push down through Catalyst.
  */
object TextAnalysis {

  /** Whitespace tokens, empty-safe. */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => t =!= "")

  /** Token count (long) — the native one-scan counter (no token-array
    * materialization; see [[graft.functions.TextPieceCounts]]). Same
    * value as `size(tokens(c))`, which the q27 oracle's regex form pins.
    */
  def tokenCount(c: Column): Column =
    call_function("text_piece_counts", c).getField("n_tokens")

  /** BPE-ish subword count estimate: alpha runs, single digits, punctuation
    * marks each count as one piece — a cheap, deterministic stand-in for a
    * real tokenizer's piece count. Native one-scan counter; the regex
    * alternation `[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]` remains the oracle-side
    * definition.
    */
  def bpeishTokenCount(c: Column): Column =
    call_function("text_piece_counts", c).getField("n_pieces")

  /** Character-class ratios for quality scoring. */
  def alphaRatio(c: Column): Column = classRatio(c, "[^a-zA-Z]")
  def digitRatio(c: Column): Column = classRatio(c, "[^0-9]")

  private def classRatio(c: Column, negClass: String): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(
        length(regexp_replace(c, negClass, "")).cast("double") / length(c))

  /** Tiny per-language stopword regexes for the n-gram-heuristic language ID.
    * Word-boundary matches over the lowercased text.
    */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in|is|that|it|was|for)\\b",
    "es" -> "\\b(el|la|de|que|y|los|las|en|un|una)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|ein|eine|zu|mit)\\b",
    "fr" -> "\\b(le|la|les|de|et|un|une|est|que|pour)\\b",
    "zh" -> "[\\u4e00-\\u9fff]"
  )

  /** Language-ID heuristic: count marker hits per language, argmax with a
    * deterministic tie-break (higher score wins; ties go to the
    * alphabetically first language; zero hits → "und").
    */
  def langId(c: Column): Column = {
    val lc = lower(c)
    val scored = langMarkers.map { case (lang, re) =>
      struct(
        (-size(regexp_extract_all(lc, lit(re), lit(0)))).cast("long").as("neg"),
        lit(lang).as("lang"),
        size(regexp_extract_all(lc, lit(re), lit(0))).cast("long").as("score")
      )
    }
    // sort_array ascending on (neg score, lang): first element = best
    val best = element_at(sort_array(array(scored: _*)), 1)
    when(best.getField("score") === 0, lit("und"))
      .otherwise(best.getField("lang"))
  }

  /** Per-language marker hit count (exposed for scoring tables). */
  def langScore(c: Column, lang: String): Column = {
    val re = langMarkers.toMap.apply(lang)
    size(regexp_extract_all(lower(c), lit(re), lit(0))).cast("long")
  }

  /** Stopword ratio: marker-stopword hits / token count (English marker set —
    * a crude "natural prose vs junk" signal).
    */
  def stopwordRatio(c: Column): Column =
    when(tokenCount(c) === 0, lit(0.0))
      .otherwise(langScore(c, "en").cast("double") / tokenCount(c))

  /** Composite quality score in [0,1]: weighted mix of length, alpha ratio,
    * stopword density and mean token length sanity. Deterministic, tunable.
    */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / 500.0, lit(1.0))
    val alpha = alphaRatio(c)
    val stop = least(stopwordRatio(c) * 5.0, lit(1.0))
    val meanTokLen =
      when(tokenCount(c) === 0, lit(0.0))
        .otherwise(length(regexp_replace(c, "\\s+", "")).cast("double") /
          tokenCount(c))
    val tokScore =
      when(meanTokLen.between(3.0, 12.0), 1.0).otherwise(0.3)
    round(lenScore * 0.25 + alpha * 0.35 + stop * 0.2 + tokScore * 0.2, 4)
  }

  /** Normalized text for fingerprinting: lowercase, collapse whitespace. */
  def normalized(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Content fingerprint: md5 of the normalized text (stable across engines). */
  def fingerprintMd5(c: Column): Column =
    md5(normalized(c).cast("binary"))

  /** TF-IDF top terms per document: term frequency × smoothed inverse
    * document frequency (ln((N+1)/(df+1))+1), top `k` terms ranked by
    * (rounded score desc, term asc) — rounding makes the ranking stable
    * across engines/libm implementations. Two shuffles: term stats and the
    * per-doc ranking window.
    */
  def tfidfTopTerms(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3
  ): DataFrame = {
    // N rides the plan as a broadcast 1-row aggregate instead of an eager
    // count() action (one fewer job + input scan per call)
    val n = broadcast(df.agg(count(lit(1)).as("_n_docs")))
    val terms = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = terms
      .groupBy("term")
      .agg(countDistinct(col(idCol)).as("df"))
    val scored = terms
      .join(docFreq, "term")
      .crossJoin(n)
      .withColumn("tfidf",
        round(col("tf") * (log((col("_n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 4))
      .drop("_n_docs")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol)
      .orderBy(desc("tfidf"), asc("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tfidf"), col("rank"))
      .orderBy(col(idCol), col("rank"))
  }

  /** Sequence packing: assign documents to fixed-token-budget packs (the
    * "pack to N-token training sequences" step of an LLM data pipeline).
    * Greedy first-fit in deterministic (sortCol asc) order WITHIN each
    * partition — packs never span partitions, so the operator is
    * embarrassingly parallel and streaming-friendly; pack ids are globally
    * unique via (partition_id << 32 | local_pack). A document larger than
    * the budget gets a pack of its own.
    *
    * Output: input columns + pack_id (long) + pack_tokens (running total of
    * its pack).
    */
  def packSequences(
      df: DataFrame,
      tokenCol: String,
      sortCol: String,
      budget: Long
  ): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema
      .add("pack_id", org.apache.spark.sql.types.LongType)
      .add("pack_tokens", org.apache.spark.sql.types.LongType)
    val tokenIdx = df.schema.fieldIndex(tokenCol)
    val packed = df
      .repartition(spark.sparkContext.defaultParallelism, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var localPack = 0L
        var used = 0L
        it.map { row =>
          val t = row.getLong(tokenIdx)
          if (used > 0 && used + t > budget) { localPack += 1; used = 0L }
          used += t
          org.apache.spark.sql.Row.fromSeq(
            row.toSeq :+ ((pid.toLong << 32) | localPack) :+ used)
        }
      }
    spark.createDataFrame(packed, schema)
  }

  /** Split documents into fixed-size token windows with overlap — the
    * context-window chunking step ahead of embedding/training. Chunk `i`
    * covers tokens `[i·stride, i·stride + maxTokens)` with
    * `stride = maxTokens - overlap`; every document yields ≥ 1 chunk (an
    * empty text yields one empty chunk rather than vanishing).
    *
    * Pure scan-side expressions (tokenize → chunk-count → explode →
    * slice): no shuffle, linear in corpus size. The token array is
    * projected to an attribute BEFORE the per-chunk slice consumes it —
    * an inline tokens() subtree inside the lambda re-tokenizes per chunk
    * (the q84 HOF trap, CLAUDE.md).
    */
  def chunkDocuments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int,
      overlap: Int
  ): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap $overlap must be in [0, maxTokens=$maxTokens)")
    val stride = maxTokens - overlap
    df
      .select(col(idCol), tokens(col(textCol)).as("_t"))
      .withColumn("_nc",
        greatest(lit(1L),
          expr(s"(size(_t) - $overlap + $stride - 1) div $stride")))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("_nc") - 1)))
      .withColumn("_chunk",
        slice(col("_t"), (col("chunk_id") * stride + 1).cast("int"),
          lit(maxTokens)))
      .select(col(idCol), col("chunk_id"),
        size(col("_chunk")).cast("long").as("n_tokens"),
        array_join(col("_chunk"), " ").as("chunk_text"))
  }

  /** Benchmark DECONTAMINATION: find corpus documents sharing ≥ `minOverlap`
    * distinct word n-grams with an evaluation set — the standard guard
    * against test-set leakage into training data (13-gram overlap in
    * published pipelines; parameterized here).
    *
    * Scale shape: the EVAL side (small by nature) collapses to a distinct
    * gram-hash set and broadcasts; the corpus streams scan-side through
    * gram-hash explode → broadcast-join → per-doc count. Corpus text
    * never shuffles — only matched 8-byte hashes reach the aggregation.
    * Gram hashing runs through the native
    * [[graft.functions.WordGramHashes]] expression (each token hashed
    * once, windows combined by a polynomial roll, dedup in-row) — the
    * composable gram-STRING form materialized ~30 bytes per window inside
    * an interpreted higher-order function, which at 98M corpus grams was
    * most of the operator's 100× wall (21.8 → see PERF round 5).
    * Set `broadcastBench = false` for an eval set too big to broadcast
    * (falls back to a shuffle join on the gram hash). The overlap COUNT is
    * hash-function-independent (any collision needs ~1e-15 odds), which is
    * why q79 can oracle these counts against a string-gram DuckDB twin.
    */
  def contamination(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      ngramWords: Int = 8,
      minOverlap: Int = 1,
      broadcastBench: Boolean = true
  ): DataFrame =
    contaminationAgainstGrams(corpus,
      benchGramHashes(bench, textCol, ngramWords), idCol, textCol,
      ngramWords, minOverlap, broadcastBench)

  /** The eval set collapsed to its distinct gram-hash column `_gram` —
    * the reusable half of [[contamination]] (a streaming gate builds it
    * once and checks every micro-batch against it).
    */
  def benchGramHashes(
      bench: DataFrame, textCol: String, ngramWords: Int): DataFrame =
    gramHashes(bench, textCol, ngramWords).distinct()

  /** [[contamination]] against an already-built gram-hash set. */
  def contaminationAgainstGrams(
      corpus: DataFrame,
      benchGrams: DataFrame,
      idCol: String,
      textCol: String,
      ngramWords: Int = 8,
      minOverlap: Int = 1,
      broadcastBench: Boolean = true
  ): DataFrame = {
    val bg = if (broadcastBench) broadcast(benchGrams) else benchGrams
    gramHashes(corpus, textCol, ngramWords, col(idCol))
      .join(bg, Seq("_gram"))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  private def gramHashes(
      df: DataFrame, textCol: String, ngramWords: Int,
      cols: Column*): DataFrame = df
    .select(cols :+ tokens(col(textCol)).as("_t"): _*)
    .select(cols :+ explode(
      call_function("word_gram_hashes", col("_t"), lit(ngramWords)))
      .as("_gram"): _*)

  /** Full per-document metrics table. */
  def metrics(df: DataFrame, textCol: String = "text"): DataFrame = {
    val c = col(textCol)
    df.withColumn("n_tokens", tokenCount(c))
      .withColumn("n_pieces", bpeishTokenCount(c))
      .withColumn("alpha_ratio", round(alphaRatio(c), 4))
      .withColumn("digit_ratio", round(digitRatio(c), 4))
      .withColumn("stopword_ratio", round(stopwordRatio(c), 4))
      .withColumn("quality_score", qualityScore(c))
      .withColumn("pred_lang", langId(c))
      .withColumn("fingerprint", fingerprintMd5(c))
  }

  /** Count-based bigram language model with absolute discounting, learned
    * on the corpus and applied back per document — the "perplexity filter"
    * family of curation signals, restated in rational arithmetic (no
    * log/exp, so no libm parity risk): the reported signals are the
    * minimum bigram probability, the DECIMAL-routed mean probability, and
    * the count of low-probability bigrams, which rank documents like mean
    * log-prob does without ever calling a transcendental.
    *
    *   p(w2|w1) = ((c12 − d) + d · n1p(w1) · (c2 / T)) / c1
    *
    * with d = 0.5 (exact in binary), c12 the bigram count, c1 the count of
    * w1 as a context, n1p(w1) the number of distinct followers of w1
    * (interpolated absolute discounting — sums to exactly 1 over the
    * vocabulary), c2 the unigram count and T the token total. Every scored
    * bigram exists in the LM by construction (trained on the same corpus),
    * so there is no unseen-mass code path for engines to disagree on.
    *
    * Scale shape: the LM is bigram-TYPE-sized (vocabulary-bounded), learned
    * from one token-stream aggregate; scoring joins doc bigrams against the
    * LM on the bigram key — broadcast when the LM fits, hash join on two
    * short strings otherwise. Per-doc sums are routed through round-9
    * DECIMAL so partitioning can never change the reported statistic.
    * Documents with fewer than 2 tokens have no bigrams and are omitted.
    */
  def bigramLmScores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      lowP: Double = 0.01
  ): DataFrame = {
    val d = lit(0.5)
    // token IDENTITY is the xxhash64 of the token for every grouping and
    // join below — counts are identical up to a 64-bit collision (the
    // q140 "any consistent identity" precedent) and the LM-build shuffles
    // move (long, long) keys instead of word strings; the probabilities
    // and all per-doc outputs are hash-independent, which is what keeps
    // the string-gram DuckDB oracle valid.
    val toks = df.select(col(idCol), tokens(lower(col(textCol))).as("_t"))
    val bg = toks
      .filter(size(col("_t")) >= 2)
      .select(col(idCol), col("_t"), explode(sequence(lit(1), size(col("_t")) - 1)).as("_i"))
      .select(col(idCol),
        xxhash64(element_at(col("_t"), col("_i"))).as("h1"),
        xxhash64(element_at(col("_t"), col("_i") + 1)).as("h2"))
    val big = bg.groupBy("h1", "h2").agg(count(lit(1)).as("_c12"))
    val ctx = big.groupBy("h1")
      .agg(sum(col("_c12")).as("_c1"), count(lit(1)).as("_n1p"))
    val uni = toks.select(explode(col("_t")).as("_w"))
      .select(xxhash64(col("_w")).as("h2"))
      .groupBy("h2").agg(count(lit(1)).as("_c2"))
    val total = broadcast(uni.agg(sum(col("_c2")).as("_tot")))
    val lm = big.join(ctx, "h1").join(uni, "h2").crossJoin(total)
      .select(col("h1"), col("h2"),
        (((col("_c12").cast("double") - d)
          + d * col("_n1p").cast("double")
            * (col("_c2").cast("double") / col("_tot").cast("double")))
          / col("_c1").cast("double")).as("_p"))
    bg.join(broadcast(lm), Seq("h1", "h2"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("long").as("n_bigrams"),
        round(min(col("_p")), 6).as("min_p"),
        round(
          sum(round(col("_p"), 9)
            .cast(org.apache.spark.sql.types.DecimalType(18, 9))).cast("double")
            / count(lit(1)), 6).as("avg_p"),
        count(when(col("_p") < lit(lowP), 1)).cast("long").as("n_low"))
      .orderBy(col(idCol))
  }

  /** Feature hashing (the hashing trick): tokens map to `nBuckets` fixed
    * feature slots via the portable 60-bit hash, giving a bounded-width
    * bag-of-words representation with no vocabulary pass. Per-bucket
    * token mass, document frequency, and corpus share.
    *
    * Scale: tokens explode scan-side and aggregate map-side onto an
    * nBuckets-sized key space; the only distinct pass is (bucket, doc)
    * for the document frequency. The hash is [[Dedup.portableHash60]],
    * so a DuckDB twin computes identical bucket ids (q68-q73 family).
    */
  def featureHashBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nBuckets: Int
  ): DataFrame = {
    val tok = df.select(col(idCol).as("_id"),
      explode(tokens(col(textCol))).as("tok"))
    val g = tok
      .select(col("_id"),
        pmod(Dedup.portableHash60(col("tok")), lit(nBuckets.toLong))
          .as("bucket"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).cast("long").as("n_tokens"),
        countDistinct(col("_id")).cast("long").as("n_docs"))
    val tot = broadcast(g.agg(sum(col("n_tokens")).cast("long").as("_tot")))
    g.crossJoin(tot)
      .select(col("bucket"), col("n_tokens"), col("n_docs"),
        round(col("n_tokens").cast("double") / col("_tot").cast("double"), 6)
          .as("share"))
      .orderBy("bucket")
  }

  /** DSIR-flavored DOMAIN SCORE, integer-exact: a linear classifier over
    * hashed token buckets separating a target domain (rows where
    * `isTarget`) from the rest. Per document,
    * `score = Σ_tokens [n_target(bucket)·N_rest − n_rest(bucket)·N_target]`
    * — the sign of each term is the direction of the bucket's target/rest
    * likelihood ratio (cross-multiplied to avoid the division), so a
    * positive sum reads "looks like the target domain". The importance-
    * resampling weights of data-selection pipelines use exactly these
    * bucket marginals; keeping the statistic in cross-multiplied INTEGER
    * form makes the whole readout engine-exact (no libm, no float order).
    *
    * Scale shape: one token scan builds the nBuckets-row marginal table
    * (partial-aggregated); the per-doc pass re-scans tokens and joins the
    * BROADCAST marginals — two scans, zero wide shuffles beyond the
    * per-doc aggregate. Portable hash family → full DuckDB twin (q174).
    */
  def domainScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      nBuckets: Int = 64
  ): DataFrame = {
    val base = df
      .select(col(idCol).as("_id"), isTarget.as("_t"), col(textCol).as("_x"))
      // single-file local inputs = one partition: spread the token explode
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val tok = base
      .select(col("_id"), col("_t"), explode(tokens(col("_x"))).as("tok"))
      .select(col("_id"), col("_t"),
        pmod(Dedup.portableHash60(col("tok")), lit(nBuckets.toLong)).as("_b"))
    val marg = tok.groupBy("_b").agg(
      sum(when(col("_t"), lit(1L)).otherwise(lit(0L))).cast("long").as("_nt"),
      sum(when(col("_t"), lit(0L)).otherwise(lit(1L))).cast("long").as("_nr"))
    val tots = marg.agg(sum(col("_nt")).cast("long").as("_tn"),
      sum(col("_nr")).cast("long").as("_rn"))
    tok.join(broadcast(marg), Seq("_b"))
      .crossJoin(broadcast(tots))
      .groupBy(col("_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("_nt") * col("_rn") - col("_nr") * col("_tn"))
          .cast("long").as("score"))
      .select(col("_id").as("doc_id"), col("n_tokens"), col("score"),
        (col("score") > 0).cast("long").as("predicted_target"))
      .orderBy("doc_id")
  }

  /** Vocabulary coverage cutoff — "how many vocabulary entries cover ≥ p
    * of the token stream" (the tokenizer-vocab sizing decision), for a
    * RATIONAL p = coverNum/coverDen so the cutoff predicate stays in
    * integers end to end.
    *
    * Never a global window over the vocabulary: tokens aggregate to a
    * count-of-counts GRID (O(√T) distinct frequencies), the grid gets
    * cumulative masses via a triangular broadcast self-join (the q203
    * rule), and the boundary frequency class is resolved in closed form —
    * every token inside one class contributes the same count, so the
    * within-class take is pure integer arithmetic, no token-level order
    * needed (the q125/q196 refinement, one level coarser).
    *
    * Integer ranges: predicates multiply masses by coverDen (≤ 20 here) —
    * exact in int64 for token streams up to ~4.6·10¹⁷.
    *
    * Output (one row): total_tokens, distinct_tokens, vocab_size,
    * covered_tokens, boundary_count, oov_rate. Empty corpus → empty frame.
    */
  def vocabCoverage(
      df: DataFrame,
      textCol: String,
      coverNum: Long = 19,
      coverDen: Long = 20
  ): DataFrame = {
    require(coverNum > 0 && coverDen > 0 && coverNum < coverDen,
      "coverage must be a proper fraction")
    val counts = df
      .select(explode(tokens(col(textCol))).as("_tok"))
      .groupBy("_tok").agg(count(lit(1)).cast("long").as("_n"))
    val grid = counts.groupBy("_n")
      .agg(count(lit(1)).cast("long").as("_k"))
      .select(col("_n"), col("_k"), (col("_n") * col("_k")).as("_mass"))
      .localCheckpoint(true)
    val tot = broadcast(grid.agg(sum(col("_mass")).cast("long").as("_t"),
      sum(col("_k")).cast("long").as("_d")))
    val above = grid.as("a")
      .join(broadcast(grid.as("b")), col("b._n") > col("a._n"), "left")
      .groupBy(col("a._n").as("_bn"), col("a._mass").as("_bmass"))
      .agg(coalesce(sum(col("b._mass")), lit(0L)).as("_mAbove"),
        coalesce(sum(col("b._k")), lit(0L)).as("_kAbove"))
    val need = col("_t") * coverNum
    above.crossJoin(tot)
      .filter(col("_mAbove") * coverDen < need &&
        (col("_mAbove") + col("_bmass")) * coverDen >= need)
      // within the boundary class every token adds _bn: smallest j with
      // coverDen·(mAbove + j·bn) ≥ coverNum·T, as an integer ceil
      .withColumn("_j", expr(
        s"(_t * $coverNum - _mAbove * $coverDen + _bn * $coverDen - 1) " +
          s"div (_bn * $coverDen)"))
      .select(col("_t").as("total_tokens"), col("_d").as("distinct_tokens"),
        (col("_kAbove") + col("_j")).as("vocab_size"),
        (col("_mAbove") + col("_j") * col("_bn")).as("covered_tokens"),
        col("_bn").as("boundary_count"),
        round((col("_t") - col("_mAbove") - col("_j") * col("_bn"))
          .cast("double") / col("_t").cast("double"), 6).as("oov_rate"))
  }

  /** Concat-then-chunk packing census — the GPT-style pretraining packer
    * (concatenate documents in a deterministic order, cut every
    * `chunkTokens` tokens) audited per shard: how many chunks the shard
    * yields, how many documents straddle a chunk boundary (and how many
    * boundaries in total they cross), and the fraction that land intact
    * inside a single chunk. Complements [[packSequences]] (first-fit packs,
    * no doc splitting) with the no-padding concatenation layout.
    *
    * Determinism/scale shape: shard = hash(id) mod `nShards`, order within
    * a shard = (hash, id) — the classic distributed prefix-sum layout. The
    * running token offset is a per-shard ROWS window, so each shard is one
    * sorted task (the packer's inherent sequentiality); pick nShards ≈ the
    * cluster's core count and every other step is scan-side or a tiny
    * nShards-row aggregate. No global window, no driver pass.
    *
    * `portable=true` swaps xxhash64 for the md5-derived 60-bit hash so the
    * whole layout (shard, order, offsets, boundary census) is
    * DuckDB-checkable (q226); production uses the faster xxhash64 family.
    *
    * @param df one row per document; `tokenCol` = its token count (long)
    */
  def concatChunkCensus(
      df: DataFrame,
      idCol: String,
      tokenCol: String,
      nShards: Int,
      chunkTokens: Long,
      portable: Boolean = false
  ): DataFrame = {
    require(nShards > 0 && chunkTokens > 0, "nShards and chunkTokens must be positive")
    val h =
      if (portable) Dedup.portableHash60(col(idCol).cast("string"))
      else xxhash64(col(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_shard")
      .orderBy(col("_h"), col("_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(idCol).as("_id"), col(tokenCol).cast("long").as("_tok"),
        h.as("_h"))
      .withColumn("_shard", pmod(col("_h"), lit(nShards.toLong)))
      .withColumn("_cb", coalesce(sum(col("_tok")).over(w), lit(0L)))
      // first / last chunk index the doc's tokens land in; an empty doc
      // sits "at" its offset and crosses nothing
      .withColumn("_fc", expr(s"_cb div $chunkTokens"))
      .withColumn("_lc",
        when(col("_tok") === 0, col("_fc"))
          .otherwise(expr(s"(_cb + _tok - 1) div $chunkTokens")))
      .withColumn("_cross", col("_lc") - col("_fc"))
      .groupBy(col("_shard").as("shard"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("_tok")).cast("long").as("tok_total"),
        expr(s"(sum(_tok) + ${chunkTokens - 1}) div $chunkTokens")
          .cast("long").as("n_chunks"),
        sum((col("_cross") > 0).cast("long")).cast("long").as("boundary_docs"),
        sum(col("_cross")).cast("long").as("total_crossings"))
      .withColumn("intact_frac",
        round((col("n_docs") - col("boundary_docs")).cast("double") /
          col("n_docs").cast("double"), 6))
      .orderBy("shard")
  }
}
