package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: no operator here ever shuffles full document text more than
  * once. Exact dedup shuffles (hash, id) pairs; MinHash shuffles exploded
  * shingle hashes (longs) and then fixed-width signatures; candidate
  * generation is always a bucket-local self-join (LSH bands / simhash
  * chunks), never an all-pairs cross join.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: keep the lowest-id row per identical content (hash
    * compare on md5 of the concatenated content columns). One shuffle,
    * co-locating rows by content hash; survivors keep full row content.
    */
  def exact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    val h = contentHash(contentCols)
    val w = Window.partitionBy("_content_hash").orderBy(col(idCol).asc)
    df.withColumn("_content_hash", h)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_content_hash", "_rn")
  }

  /** md5 over concatenated content columns (null-safe, cross-engine stable). */
  def contentHash(contentCols: Seq[String]): Column =
    md5(concat_ws("", contentCols.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
      .cast("binary"))

  /** 60-bit md5-derived hash with an exact cross-engine twin: DuckDB computes
    * the identical value as `('0x' || substr(md5(x), 1, 15))::BIGINT`. Used by
    * the portable minhash/simhash variants so the REAL operator machinery can
    * be oracle-checked end-to-end (xxhash64 — the default, faster family —
    * has no DuckDB counterpart).
    */
  def portableHash60(c: Column): Column =
    call_function("portable_hash60", c.cast("binary"))

  /** The pre-r11 composable form — kept as the bit-identity cross-check
    * twin of the native expression (the MinHashSignature precedent).
    */
  private[graft] def portableHash60Composable(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Duplicate-group summary: one row per content hash with >1 occurrence. */
  def dupGroups(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame =
    df.select(col(idCol), contentHash(contentCols).as("content_hash"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))
      .filter(col("n_dups") > 1)
      .orderBy("keep_id")

  // ------------------------------------------------------------- shingles

  /** Word n-grams of the text (distinct). Empty text → empty set (so
    * jaccard(empty, empty) = 0, matching set semantics in any engine);
    * shorter-than-n text → one whole-text gram.
    */
  def wordNgrams(c: Column, n: Int = 3): Column =
    wordNgramsOfTokens(TextAnalysis.tokens(c), n)

  /** [[wordNgrams]] over an ALREADY-MATERIALIZED token-array attribute.
    * Call this (with the tokens projected once) whenever the gram array
    * feeds another higher-order function: an inline `tokens(text)` inside
    * the window lambda re-evaluates the whole tokenization per ELEMENT
    * (the q84 rule — O(tokens²)/doc interpreted).
    */
  def wordNgramsOfTokens(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) === 0, array().cast("array<string>"))
        .when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))))

  /** Distinct 64-bit hashes of the word n-grams, in ONE fused native pass
    * (graft's `word_gram_hashes`): no gram strings, no interpreted HOFs.
    * The hash family is the expression's token-polynomial roll, NOT
    * xxhash64-of-the-gram-string — legal exactly for the consumers whose
    * outputs are hash-function-INDEPENDENT (cardinality-only set math:
    * Jaccard/containment values, prefix-filter candidate generation under
    * any consistent total order). The r11 composable form
    * `array_distinct(transform(wordNgrams(text), hash))` additionally
    * re-evaluated the inline gram subtree per element — a ~50× interpreted
    * blowup on every pair-op's scan side.
    */
  private def hashedGramSet(text: Column, n: Int): Column =
    call_function("word_gram_hashes", TextAnalysis.tokens(text), lit(n))

  /** Exact Jaccard similarity between two DISTINCT-element arrays, via
    * graft's native fused expression (one hash-set build, membership
    * COUNTED rather than an intersection array materialized — see
    * graft.functions.JaccardSimilarity). Requires a GraftSession /
    * registered session; `jaccardComposable` is the pure-builtin fallback
    * with identical values.
    */
  def jaccard(a: Column, b: Column): Column =
    call_function("jaccard_similarity", a, b)

  def jaccardComposable(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = (size(a) + size(b)).cast("double") - inter
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** n-gram Jaccard similarity for all pairs within `groupCols` blocks —
    * the blocking keys keep the self-join linear-ish at scale (use LSH
    * bands via minHashPairs when no natural blocking key exists).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCols: Seq[String],
      n: Int = 3,
      minSim: Double = 0.5
  ): DataFrame = {
    // grams are hashed to longs once per document: the O(pairs) intersect/
    // union math then runs on fixed-width longs instead of strings (~5×).
    // A cross-gram hash collision would perturb one jaccard value; at 64
    // bits over ~100-gram unions that chance is ~1e-15 per pair. r11: the
    // hashing is the fused native word_gram_hashes pass, projected ABOVE
    // a round-robin repartition so single-file local inputs don't hash
    // the whole corpus in the one scan task; the pair loop itself runs
    // post-shuffle on the groupCols partitions either way.
    val base = df
      .select((col(idCol) +: groupCols.map(col)) :+ col(textCol): _*)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select((col(idCol) +: groupCols.map(col)) :+
        hashedGramSet(col(textCol), n).as("_grams"): _*)
    val a = base.columns.foldLeft(base)((d, c) => d.withColumnRenamed(c,
      if (c == "_grams") "_grams_a" else if (c == idCol) "id_a" else c))
    val b = base.columns.foldLeft(base)((d, c) => d.withColumnRenamed(c,
      if (c == "_grams") "_grams_b" else if (c == idCol) "id_b" else c))
    a.join(b, groupCols)
      .filter(col("id_a") < col("id_b"))
      // exact prefilter: jaccard ≤ min(|A|,|B|)/max(|A|,|B|), so pairs whose
      // size ratio is below minSim can't pass — skip their set math entirely
      .filter(least(size(col("_grams_a")), size(col("_grams_b"))).cast("double")
        >= lit(minSim) * greatest(size(col("_grams_a")), size(col("_grams_b"))))
      .withColumn("jaccard_sim", round(jaccard(col("_grams_a"), col("_grams_b")), 4))
      .filter(graft.util.PlanHints.noPushdown(col("jaccard_sim") >= minSim))
      .select((Seq(col("id_a"), col("id_b")) ++ groupCols.map(col)) :+
        col("jaccard_sim"): _*)
      .orderBy("id_a", "id_b")
  }

  /** Asymmetric CONTAINMENT pairs within blocks: containment(A→B) =
    * |grams(A) ∩ grams(B)| / |grams(A)| with A the SMALLER gram set (ties
    * break to the lower id). This catches what symmetric Jaccard
    * structurally cannot: a snippet fully quoted inside a much larger
    * document has Jaccard ≈ |A|/|B| (arbitrarily small) but containment
    * 1.0 — the "document wrapped in boilerplate" / "excerpt duplication"
    * shape in crawl curation.
    *
    * No size-ratio prefilter exists for containment (small-inside-large is
    * the signal, not noise), so the blocking keys carry ALL the pair-count
    * control; for an unblocked corpus use minhash-LSH on the SMALLER side's
    * signature as the candidate channel instead (minHashPairs), then verify
    * with this measure. Gram sets are xxhash64-hashed once per doc (set
    * CARDINALITIES are hash-independent, the q24/q79 argument — which is
    * why a string-set DuckDB twin hash-matches). The expensive intersection
    * stays out of the join condition (PlanHints.noPushdown).
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCols: Seq[String],
      n: Int = 1,
      minContainment: Double = 0.8
  ): DataFrame = {
    // r11: fused native gram hashing above a repartition — see
    // ngramJaccardPairs; containment values are cardinality-only too
    val base = df
      .select((col(idCol) +: groupCols.map(col)) :+ col(textCol): _*)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select((col(idCol) +: groupCols.map(col)) :+
        hashedGramSet(col(textCol), n).as("_grams"): _*)
    val a = base.columns.foldLeft(base)((d, c) => d.withColumnRenamed(c,
      if (c == "_grams") "_grams_a" else if (c == idCol) "id_a" else c))
    val b = base.columns.foldLeft(base)((d, c) => d.withColumnRenamed(c,
      if (c == "_grams") "_grams_b" else if (c == idCol) "id_b" else c))
    val ga = col("_grams_a")
    val gb = col("_grams_b")
    val aIsSmall = (size(ga) < size(gb)) ||
      (size(ga) === size(gb) && col("id_a") < col("id_b"))
    a.join(b, groupCols)
      .filter(col("id_a") < col("id_b"))
      .withColumn("_inter", size(array_intersect(ga, gb)))
      .withColumn("contained_id", when(aIsSmall, col("id_a")).otherwise(col("id_b")))
      .withColumn("container_id", when(aIsSmall, col("id_b")).otherwise(col("id_a")))
      .withColumn("n_grams",
        when(aIsSmall, size(ga)).otherwise(size(gb)).cast("long"))
      .withColumn("containment",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(col("_inter").cast("double") / col("n_grams"), 4)))
      .filter(graft.util.PlanHints.noPushdown(col("containment") >= minContainment))
      .select((Seq(col("contained_id"), col("container_id")) ++
        groupCols.map(col)) :+ col("n_grams") :+ col("containment"): _*)
      .orderBy("contained_id", "container_id")
  }

  // -------------------------------------------------------------- minhash

  /** Affine minhash constants — see [[graft.functions.MinHashSignature.affineConsts]]
    * (the native expression owns the family; the oracle SQL builder reads the
    * same values to inline them into the DuckDB twin).
    */
  private[graft] def affineConsts(n: Int, bits: Int = 64): IndexedSeq[(Long, Long)] =
    graft.functions.MinHashSignature.affineConsts(n, bits)

  /** MinHash signatures over word `shingleWords`-grams: one row per id with
    * an `nHashes`-wide array of minhash values.
    *
    * Perf notes: each shingle is hashed ONCE (xxhash64); the `nHashes`
    * functions are derived affinely (a_i·h + b_i over the 64-bit ring) — long
    * arithmetic instead of n string hashes per shingle. The whole signature
    * is computed PER ROW by the native `minhash_signature` expression (one
    * fused long[nHashes] accumulator loop in whole-stage codegen — see
    * graft.functions.MinHashSignature), so signature generation is a pure
    * scan-side map: gram hashes are NEVER shuffled or exploded. (Round 1
    * exploded (id, gramhash) pairs through a 64-aggregate groupBy — same
    * values, one full shuffle of every gram hash.) The only exchange is a
    * narrow repartition of the raw (id, text) rows, needed because
    * single-file local inputs arrive as ONE partition and the per-row work
    * is O(nHashes × grams); on a real multi-split lake scan it is a plain
    * round-robin rebalance. Word shingles (not char shingles) keep baseline
    * similarity between unrelated docs low, which is what keeps LSH
    * candidate counts linear-ish.
    *
    * Documents with no grams (empty text) produce no signature row, as
    * before (explode dropped them; here the null signature is filtered).
    */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nHashes: Int = 64,
      shingleWords: Int = 3,
      gramHash: Column => Column = xxhash64(_),
      constBits: Int = 64
  ): DataFrame =
    df.select(col(idCol), col(textCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      // r11: tokens and grams are MATERIALIZED attributes (one projection
      // each — CollapseProject keeps non-cheap aliases) so neither HOF
      // lambda re-evaluates its input subtree per element; the old inline
      // form re-ran the whole tokenize+gram build per GRAM (q84 rule,
      // ~50× interpreted). Hash values are unchanged — the per-gram
      // gramHash still runs on the identical gram strings.
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_tk"))
      .select(col(idCol), wordNgramsOfTokens(col("_tk"), shingleWords).as("_gr"))
      .select(col(idCol),
        call_function("minhash_signature",
          transform(col("_gr"), g => gramHash(g)),
          lit(nHashes), lit(constBits)).as("signature"))
      // noPushdown barrier (r11): a bare isNotNull here gets predicate-
      // pushed below the repartition WITH THE WHOLE SIGNATURE EXPRESSION
      // substituted in — the scan task then computes every signature a
      // second time, single-threaded (measured 3.4 s of q69's 3.9 s)
      .filter(graft.util.PlanHints.noPushdown(col("signature").isNotNull))

  /** Engine-portable minhash: the SAME signature machinery as
    * [[minHashSignatures]] (word shingles → per-gram hash → per-function
    * affine min, scan-side, zero shuffle) with the hash family swapped for
    * the md5-derived [[portableHash60]] and both hashes and constants
    * confined to 30 bits so `a·h + b` stays exact in engines that error on
    * 64-bit overflow. Exists so the oracle can hash-check the real operator
    * end-to-end; production callers use the xxhash64 default (faster, full
    * 64-bit spread).
    */
  def minHashSignaturesPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nHashes: Int = 16,
      shingleWords: Int = 3
  ): DataFrame =
    minHashSignatures(df, idCol, textCol, nHashes, shingleWords,
      gramHash = g => portableHash60(g).bitwiseAND(lit((1L << 30) - 1)),
      constBits = 30)

  /** Explode an (id, signature) frame into (id, band, bandhash) — one row
    * per LSH band; the join key for candidate generation.
    */
  private def banded(
      sigs: DataFrame, idCol: String, bands: Int, r: Int): DataFrame =
    sigs.select(
      col(idCol),
      posexplode(
        array((0 until bands).map(j =>
          xxhash64(lit(j), concat_ws(",",
            (0 until r).map(i => element_at(col("signature"), j * r + i + 1)): _*))): _*))
        .as(Seq("_band", "_bandhash")))

  /** Minhash estimate of Jaccard from two aligned signatures: matching
    * components / nHashes (the unbiased single-permutation estimator).
    */
  def signatureJaccardEstimate(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x === y).cast("int")),
      lit(0), (acc, m) => acc + m).cast("double") / size(a)

  /** The LSH banding S-CURVE planning table: candidate probability
    * p = 1 − (1 − s^r)^b over a Jaccard-similarity grid for each (bands,
    * rows-per-band) split of the signature — the analytic curve that
    * decides the banding before any corpus pass (every b·r split of the
    * same `nHashes` signature costs the same index, but trades recall at
    * low s against candidate volume). `candidate_majority` marks p ≥ 0.5,
    * whose s-crossing is the effective similarity threshold of the
    * banding ((1/b)^(1/r) in closed form).
    *
    * Engine-portable by construction: both exponents must be powers of
    * two so s^r and (1−s^r)^b evaluate as SQUARING CHAINS — fixed-shape
    * IEEE multiplications with zero libm calls (the q149 exact-dyadics
    * family; pow() would not hash-match across engines). Grid points are
    * i/gridN single divisions. A constant-size planning table — no input
    * data, no shuffle.
    */
  def lshBandingCurve(
      spark: org.apache.spark.sql.SparkSession,
      nHashes: Int = 64,
      bandsOptions: Seq[Int] = Seq(4, 8, 16, 32),
      gridN: Int = 20
  ): DataFrame = {
    def isPow2(x: Int): Boolean = x > 0 && (x & (x - 1)) == 0
    require(isPow2(nHashes), "nHashes must be a power of two")
    bandsOptions.foreach(b => require(isPow2(b) && b < nHashes,
      s"bands=$b must be a power of two dividing nHashes"))
    val grid = spark.range(1, gridN.toLong)
      .select((col("id").cast("double") / lit(gridN.toDouble)).as("s"))
    val perConfig = bandsOptions.map { b =>
      val r = nHashes / b
      def square(c: Column, times: Int): Column =
        (0 until times).foldLeft(c)((acc, _) => acc * acc)
      val log2 = (x: Int) => java.lang.Integer.numberOfTrailingZeros(x)
      val sr = square(col("s"), log2(r))
      val miss = square(lit(1.0) - sr, log2(b))
      grid.select(
        lit(b.toLong).as("bands"),
        lit((nHashes / b).toLong).as("rows_per_band"),
        round(col("s"), 2).as("s"),
        round(lit(1.0) - miss, 6).as("p_candidate"),
        (lit(1.0) - miss >= 0.5).as("candidate_majority"))
    }
    perConfig.reduce(_.unionByName(_)).orderBy("bands", "s")
  }

  /** Incremental near-dup detection of a NEW batch against an EXISTING
    * corpus represented ONLY by its stored signature index — the
    * steady-state ingest shape at lake scale: the historical corpus is one
    * compact (id, nHashes-long) row per document (persist
    * [[minHashSignatures]]' output as parquet, bucketed by id if desired);
    * each arriving batch computes its own signatures scan-side, joins the
    * index on shared LSH bands, and scores candidates with the
    * signature-agreement estimator — corpus TEXT is never re-read and
    * never shuffles. With b bands of r rows the candidate-recall curve is
    * the usual 1-(1-s^r)^b; the estimator's σ is √(s(1-s)/nHashes) ≈ 0.06
    * at s=0.7, nHashes=64, so `threshold` is an estimate cut, not an exact
    * one — tighten it (or re-verify survivors against text) when exactness
    * matters more than index-only operation.
    *
    * Returns (id_new, id_corpus, est_jaccard) pairs with est ≥ threshold.
    */
  def minHashPairsAgainstIndex(
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      corpusSigs: DataFrame,
      threshold: Double = 0.7,
      nHashes: Int = 64,
      bands: Int = 16,
      shingleWords: Int = 3,
      portable: Boolean = false
  ): DataFrame = {
    require(nHashes % bands == 0, "bands must divide nHashes")
    val r = nHashes / bands
    // portable: signatures from the md5-derived 30-bit family and band keys
    // = the band's signature VALUES (exact candidate portability — the q25
    // argument), so an index built with minHashSignaturesPortable plus this
    // probe path hash-matches a DuckDB twin end-to-end (q74's registered
    // form; xxhash64 production stays the x74 channel)
    val newSigs =
      if (portable)
        minHashSignaturesPortable(newDf, idCol, textCol, nHashes, shingleWords)
      else minHashSignatures(newDf, idCol, textCol, nHashes, shingleWords)
    def bandRows(sigs: DataFrame): DataFrame =
      if (portable)
        sigs.select(col(idCol),
          posexplode(array((0 until bands).map(j =>
            concat_ws(",", (0 until r).map(i =>
              element_at(col("signature"), j * r + i + 1).cast("string")): _*))
            : _*)).as(Seq("_band", "_bandhash")))
      else banded(sigs, idCol, bands, r)
    val candidates = bandRows(newSigs).as("x")
      .join(bandRows(corpusSigs).as("y"),
        col("x._band") === col("y._band") &&
          col("x._bandhash") === col("y._bandhash"))
      .select(col(s"x.$idCol").as("id_new"), col(s"y.$idCol").as("id_corpus"))
      .distinct()
    candidates
      .join(newSigs.select(col(idCol).as("id_new"), col("signature").as("_sig_n")),
        "id_new")
      .join(corpusSigs.select(col(idCol).as("id_corpus"),
        col("signature").as("_sig_c")), "id_corpus")
      .withColumn("est_jaccard",
        round(signatureJaccardEstimate(col("_sig_n"), col("_sig_c")), 4))
      .filter(graft.util.PlanHints.noPushdown(col("est_jaccard") >= threshold))
      .select("id_new", "id_corpus", "est_jaccard")
      .orderBy("id_new", "id_corpus")
  }

  /** Candidate pairs from LSH banding (any shared band-hash), verified with
    * exact shingle-set Jaccard ≥ threshold. With b bands of r rows the
    * match-probability curve is 1-(1-s^r)^b — defaults (16×4) catch ~every
    * pair above ≈0.7 similarity.
    */
  def minHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      nHashes: Int = 64,
      bands: Int = 16,
      shingleWords: Int = 3
  ): DataFrame = {
    require(nHashes % bands == 0, "bands must divide nHashes")
    val r = nHashes / bands
    val sigs = minHashSignatures(df, idCol, textCol, nHashes, shingleWords)
    val bandRows = banded(sigs, idCol, bands, r)
    val candidates = bandRows.as("x")
      .join(bandRows.as("y"),
        col("x._band") === col("y._band") &&
          col("x._bandhash") === col("y._bandhash") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
    // verify sets carry gram HASHES, not gram strings: the O(pairs·|set|)
    // jaccard math runs on fixed-width longs (same trick, and the same
    // ~1e-15 per-pair collision odds, as ngramJaccardPairs above); the
    // Jaccard VALUE is a cardinality ratio, so the fused native hash pass
    // is family-legal here (r11)
    val sets = df.select(col(idCol),
      hashedGramSet(col(textCol), shingleWords).as("_set"))
    candidates
      .join(sets.select(col(idCol).as("id_a"), col("_set").as("_set_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("_set").as("_set_b")), "id_b")
      .withColumn("jaccard_sim", round(jaccard(col("_set_a"), col("_set_b")), 4))
      .filter(graft.util.PlanHints.noPushdown(col("jaccard_sim") >= threshold))
      .select("id_a", "id_b", "jaccard_sim")
      .orderBy("id_a", "id_b")
  }

  /** Engine-portable [[minHashPairs]]: the SAME two-stage pipeline
    * (signatures → banded candidates → exact-Jaccard verify) with every
    * hash swapped for the md5-derived portable family so the WHOLE pair
    * output — candidate generation included — hash-matches a DuckDB twin
    * (q25's registered form since r6; the xxhash64 production form is the
    * x25 scale channel):
    *
    *  - signatures: [[minHashSignaturesPortable]] (30-bit hashes/consts);
    *  - band keys: the band's signature VALUES concatenated (no engine
    *    hash in the candidate key — band equality is slice equality, so
    *    the oracle reproduces candidates EXACTLY, not modulo xxhash64
    *    collisions);
    *  - verify sets: portable gram hashes, so the Jaccard values are the
    *    identical rationals in both engines.
    *
    * Scale shape unchanged: banded equi-join (never all-pairs), candidate
    * dedup on bare id pairs, hash-set verify on fixed-width longs. Band
    * keys are short strings instead of one long — the measured price of
    * exact candidate portability; production stays on [[minHashPairs]].
    */
  def minHashPairsPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      nHashes: Int = 16,
      bands: Int = 4,
      shingleWords: Int = 3
  ): DataFrame = {
    require(nHashes % bands == 0, "bands must divide nHashes")
    val r = nHashes / bands
    val sigs = minHashSignaturesPortable(df, idCol, textCol, nHashes, shingleWords)
    val bandRows = sigs.select(
      col(idCol),
      posexplode(array((0 until bands).map(j =>
        concat_ws(",", (0 until r).map(i =>
          element_at(col("signature"), j * r + i + 1).cast("string")): _*)): _*))
        .as(Seq("_band", "_bandkey")))
    val candidates = bandRows.as("x")
      .join(bandRows.as("y"),
        col("x._band") === col("y._band") &&
          col("x._bandkey") === col("y._bandkey") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
    // r11: verify sets use the fused native hash pass — the Jaccard VALUE
    // is a cardinality ratio, identical for ANY injective-enough family
    // (the twin's md5 sets rely on the same argument vs raw string sets:
    // a divergence needs a 60/64-bit collision, ~1e-15/pair). Candidate
    // portability is untouched — band keys stay signature VALUES.
    val sets = df.select(col(idCol),
      hashedGramSet(col(textCol), shingleWords).as("_set"))
    candidates
      .join(sets.select(col(idCol).as("id_a"), col("_set").as("_set_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("_set").as("_set_b")), "id_b")
      .withColumn("jaccard_sim", round(jaccard(col("_set_a"), col("_set_b")), 4))
      .filter(graft.util.PlanHints.noPushdown(col("jaccard_sim") >= threshold))
      .select("id_a", "id_b", "jaccard_sim")
      .orderBy("id_a", "id_b")
  }

  /** Drop near-duplicates found by [[minHashPairsPortable]] (keep the
    * lower id of every verified pair) — the portable twin of
    * [[minHashDedup]], used by the oracled curation funnel (q46).
    */
  def minHashDedupPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7
  ): DataFrame = {
    val dropIds = minHashPairsPortable(df, idCol, textCol, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Connected components over a near-dup pair list: every node gets the
    * MINIMUM id reachable through any chain of pairs as its `cluster_id`
    * (so a–b, b–c cluster together even without an a–c pair).
    *
    * Min-label propagation: each iteration joins labels across edges and
    * keeps the smaller; converges in O(diameter) rounds (≤ log n for the
    * hash-blocked pair graphs dedup produces). Lineage is cut with
    * localCheckpoint each round so 20 iterations don't stack 20 join plans.
    * This is the standard scale-out formulation — label state is one
    * (id, long) pair per node, never the documents themselves.
    */
  def clusterIds(
      pairs: DataFrame,
      maxIterations: Int = 25
  ): DataFrame = {
    val edges0 = pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .distinct()
      .cache()
    // ROUND-0 STAR CONTRACTION (r9, the x77 adjudication): near-dup pair
    // graphs are DENSE — x77's 100× point feeds 10M verified pairs over
    // 2M nodes — and the iterative loop below shuffles the FULL edge list
    // every round (12.4 of x77's 15.5 s warm wall). Contract first:
    // l1(v) = min(v, neighbors(v)) in ONE aggregation, then map every
    // edge through l1 and keep only cross-star edges. Contraction
    // preserves connectivity exactly, each star's center is a real node
    // id, and the component's global minimum m has l1(m) = m — so
    // min-label over the contracted graph IS min-label over the
    // original. Clique-like dedup graphs collapse to a few thousand
    // inter-star edges here, turning the O(edges)-per-round loop into
    // O(edges)-once (x77 23.7 → ~10 s cold).
    val l1 = edges0.groupBy(col("id_a").as("id"))
      .agg(min(col("id_b")).as("_nb"))
      .select(col("id"), least(col("id"), col("_nb")).as("_l1"))
      .localCheckpoint(true)
    val edges = edges0
      // plain SMJ relabel joins: a shuffle_hash hint on the l1 side was
      // measured at the 100× point and did NOT win (8.5 vs 7.9 s closure)
      .join(l1.select(col("id").as("id_a"), col("_l1").as("_la")), Seq("id_a"))
      .join(l1.select(col("id").as("id_b"), col("_l1").as("_lb")), Seq("id_b"))
      .select(col("_la").as("id_a"), col("_lb").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct() // bidirectional by construction: edges0 holds both arcs
      .cache()
    // the contracted graph is TINY by construction on dedup-shaped inputs
    // (cliques collapse into stars; x77's 10M pairs leave ~10^3 inter-star
    // arcs), yet the distributed fixpoint below pays 5+ jobs per round on
    // it. Within the driver gate, min-label union-find runs there and the
    // component minima broadcast back; the distributed pointer-jumping
    // loop stays for graphs the contraction cannot shrink (long chains).
    // The driver reads ids as LONGS, so it is gated on an integral id type:
    // numeric STRINGS would diverge (the l1 contraction picks the
    // lexicographic min), and non-integral ids take the type-generic loop.
    val idsIntegral = edges.schema("id_a").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val onDriver =
      if (!idsIntegral) None
      else DriverGraph.collect(
        edges.select(col("id_a").cast("long"), col("id_b").cast("long")))
    onDriver match {
      case Some(g) =>
        edges.unpersist(false)
        edges0.unpersist(false)
        val parent = Array.tabulate(g.n)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val up = parent(c); parent(c) = r; c = up }
          r
        }
        var p = 0
        while (p < g.m) {
          val ra = find(g.src(p)); val rb = find(g.dst(p))
          // the smaller id becomes the root, so find(x) IS the component min
          if (ra != rb) {
            if (g.ids(ra) < g.ids(rb)) parent(rb) = ra else parent(ra) = rb
          }
          p += 1
        }
        val labelsDf = broadcast(DriverGraph.frame(pairs.sparkSession,
          Seq.tabulate(g.n)(i => Row(g.ids(i), g.ids(find(i)))),
          "_l1l" -> LongType, "cluster_id" -> LongType))
        return l1
          .join(labelsDf, col("_l1").cast("long") === col("_l1l"), "left")
          .select(col("id"),
            coalesce(col("cluster_id"), col("_l1")).as("cluster_id"))
      case None =>
    }
    var labels = edges.select(col("id_a").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .localCheckpoint()
    // the contracted `edges` cache is filled by the eager label init above;
    // the raw bidirectional list is no longer needed
    edges0.unpersist(false)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIterations) {
      // step 1: min label among self and neighbors (one hop per round)
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "id_b")
          .withColumnRenamed("cluster_id", "nb_label"), Seq("id_b"))
        .groupBy(col("id_a").as("id"))
        .agg(min(col("nb_label")).as("nb_min"))
      val hopped = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nb_min"), col("cluster_id")))
            .as("cluster_id"))
      // step 2: pointer jump — adopt my LABEL's label. Neighbor-min alone
      // moves the component minimum ONE HOP per round, so a duplicate
      // chain of diameter > maxIterations would stop early with silently
      // wrong labels; the label-of-label shortcut halves remaining path
      // length every round, making convergence O(log n) on any graph.
      val jumped = hopped.as("x")
        .join(hopped.select(col("id").as("_lid"),
          col("cluster_id").as("_llabel")).as("y"),
          col("x.cluster_id") === col("y._lid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.cluster_id"), coalesce(col("_llabel"),
            col("x.cluster_id"))).as("cluster_id"))
        .localCheckpoint()
      changed = jumped.as("n")
        .join(labels.select(col("id"), col("cluster_id").as("_old")).as("o"),
          Seq("id"))
        .agg(sum((col("cluster_id") < col("_old")).cast("long")))
        .head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
      labels = jumped
      iter += 1
    }
    edges.unpersist(false)
    // a wrong cluster assignment silently corrupts every consumer (dedup
    // would KEEP documents it should drop) — refuse instead. log2(n) rounds
    // suffice with pointer jumping, so 25 covers any realistic graph.
    require(changed == 0,
      s"clusterIds did not converge within $maxIterations iterations")
    // expand the contraction: every original node takes its star center's
    // converged label; a center with no cross-star edge (its star is a
    // whole component) never entered the loop and keeps l1 itself
    l1.join(labels.select(col("id").as("_l1"), col("cluster_id")),
        Seq("_l1"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("_l1")).as("cluster_id"))
  }

  /** Keep-lowest-id survivor set after MinHash near-dup clustering (greedy:
    * any row matched to a lower id is dropped — one pass over the pair list).
    */
  def minHashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7
  ): DataFrame = {
    val dropIds = minHashPairs(df, idCol, textCol, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  // -------------------------------------------------------------- simhash

  /** SimHash over tokens: per bit, sum ±1 weighted by token presence;
    * bit set iff the sum is positive. r12: computed by the fused native
    * [[graft.functions.SimHashVotes]] — one pass over each doc's token
    * array, ZERO exchanges — instead of exploding every token into a row
    * and aggregating nBits vote sums per doc (whose scan stage also ran
    * single-task on single-file local inputs; q26's probe). A repartition
    * spreads the per-token hashing when the source parallelism is
    * degenerate. Docs with no tokens are dropped (the explode-form
    * semantics). Defaults give the production 64-bit xxhash64
    * fingerprint; `portable` swaps the md5-derived 60-bit family for the
    * oracle-backed variants. [[simHashExpandedTwin]] keeps the exploded
    * form as the DedupSpec-pinned bit-identity cross-check.
    */
  def simHash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      portable: Boolean = false,
      nBits: Int = 64
  ): DataFrame =
    df.select(col(idCol), col(textCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_tk"))
      .filter(size(col("_tk")) > 0)
      .select(col(idCol),
        call_function("sim_hash_votes", col("_tk"), lit(nBits), lit(portable))
          .as("simhash"))

  /** The pre-r12 explode/groupBy form — kept as the bit-identity
    * cross-check twin of the native expression (the MinHashSignature
    * precedent; pinned in DedupSpec).
    */
  private[graft] def simHashExpandedTwin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      portable: Boolean = false,
      nBits: Int = 64
  ): DataFrame = {
    val tokenHash: Column => Column =
      if (portable) portableHash60 else xxhash64(_)
    val toks = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("_tok"))
      .withColumn("_th", tokenHash(col("_tok")))
    val bitSums = (0 until nBits).map(k =>
      sum(shiftright(col("_th"), k).bitwiseAND(1) * 2 - 1).as(s"_b$k"))
    val agg = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val hashExpr = (0 until nBits).map(k =>
      shiftleft(when(col(s"_b$k") > 0, 1L).otherwise(0L), k)).reduce(_.bitwiseOR(_))
    agg.select(col(idCol), hashExpr.as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxDist. Candidates must
    * share one of `nChunks` equal-width fingerprint chunks (pigeonhole:
    * distance ≤ nChunks−1 guarantees a shared chunk — recall is exact for
    * maxDist within that bound), then exact popcount verification.
    *
    * Defaults are the 64-bit xxhash64 production fingerprint; the
    * portable-oracle form (q26 since r6) passes `portable = true,
    * nBits = 32` so the fingerprints, the chunk candidate
    * rule AND the verified pairs all have an exact DuckDB twin (with
    * maxDist ≤ nChunks−1 the output is provably ALL pairs within maxDist,
    * so the twin can brute-force the definition).
    */
  def simHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      portable: Boolean = false,
      nBits: Int = 64,
      nChunks: Int = 4
  ): DataFrame = {
    require(nBits % nChunks == 0, "nChunks must divide nBits")
    val chunkBits = nBits / nChunks
    val chunkMask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
    val hashes = simHash(df, idCol, textCol, portable, nBits)
    val chunked = hashes.select(col(idCol), col("simhash"),
      posexplode(array((0 until nChunks).map(c =>
        shiftright(col("simhash"), c * chunkBits).bitwiseAND(chunkMask)): _*))
        .as(Seq("_chunk", "_chunkval")))
    chunked.as("x")
      .join(chunked.as("y"),
        col("x._chunk") === col("y._chunk") &&
          col("x._chunkval") === col("y._chunkval") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .orderBy("id_a", "id_b")
  }

  /** Fuzzy record linkage (entity resolution): pairs (left, right) whose
    * strings are within `maxDist` edits, found WITHOUT a cartesian
    * product.
    *
    * For `maxDist = 1` the candidate channel is DELETION-SIGNATURE
    * blocking (the SymSpell/FastSS construction): each string explodes
    * into the xxhash64 of itself and of each single-character deletion
    * (len+1 8-byte signatures); two strings within one edit ALWAYS share
    * a signature (equal → the identity sig; deletion/insertion → the
    * deleted form; substitution → deleting the substituted position from
    * both), so recall is exact for EVERY length and EVERY value
    * distribution — unlike prefix blocking, which degenerates into
    * quadratic blocks when a corpus shares few distinct prefixes (the
    * q134 part-name profile: 8 distinct 3-char prefixes → 23.7M
    * candidates; signatures → ~the matched set). A hash collision can
    * only ADD a candidate (killed by the verify), never lose one.
    *
    * Scale shape: every signature exchange moves (id, 8-byte hash)
    * longs; candidates dedup as bare (id_l, id_r) pairs; strings join
    * back by id only for the surviving pairs, and the bounded
    * `levenshtein` verify runs map-side on that joined output.
    *
    * For `maxDist >= 2` (k-deletion neighborhoods would fan out
    * combinatorially) the channel is MULTI-PASS BLOCKING — candidates
    * must agree on (prefix `blockLen`, length band) OR (suffix
    * `blockLen`, length band); `maxDist` edits cannot change both the
    * first and the last `blockLen` characters of a string longer than
    * 2·blockLen+maxDist. Each pass verifies INSIDE the pass (map-side
    * on the join output), so the full candidate stream never crosses an
    * exchange; the distinct shuffles only matched pairs.
    */
  def fuzzyLinkPairs(
      left: DataFrame,
      leftId: String,
      leftStr: String,
      right: DataFrame,
      rightId: String,
      rightStr: String,
      maxDist: Int = 1,
      blockLen: Int = 3
  ): DataFrame = {
    // bounded levenshtein: O(len·(2k+1)) banded DP with early exit
    // instead of the full O(len²) table — returns -1 above the bound,
    // and the true distance (identical to the unbounded form) within
    // it, so the kept rows and their edit_distance values are unchanged
    def verify(cands: DataFrame) = cands
      .withColumn("edit_distance", levenshtein(col("s_l"), col("s_r"), maxDist))
      .filter(col("edit_distance") =!= -1)
    val par = left.sparkSession.sparkContext.defaultParallelism
    if (maxDist == 1) {
      val lt = left.select(col(leftId).as("id_l"), col(leftStr).as("s_l"))
      val rt = right.select(col(rightId).as("id_r"), col(rightStr).as("s_r"))
      // sig i=0 is the string itself; i>=1 deletes character i. Hashed at
      // the scan (fused native pass since r11 — the interpreted per-variant
      // substring+concat+hash chain was 2.8 s of q134's 3.1 s; values are
      // bit-identical, DeletionSigSpec pins it), so every downstream
      // exchange moves (id, long) only.
      def sigs(t: DataFrame, id: String, s: String) =
        t.repartition(par)
          .select(col(id),
            call_function("deletion_sig_hashes", col(s)).as("_sigs"))
          .select(col(id), explode(col("_sigs")).as("_sig"))
      val cand = sigs(lt, "id_l", "s_l")
        .join(sigs(rt, "id_r", "s_r"), "_sig")
        .select("id_l", "id_r")
        .distinct()
      verify(cand.join(lt, "id_l").join(rt, "id_r"))
        .select("id_l", "s_l", "id_r", "s_r", "edit_distance")
    } else {
      val l = left.select(col(leftId).as("id_l"), col(leftStr).as("s_l"),
        length(col(leftStr)).as("len_l"))
      val r = right.select(col(rightId).as("id_r"), col(rightStr).as("s_r"),
        length(col(rightStr)).as("len_r"))
      def pass(key: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        l.withColumn("_bk", key(col("s_l")))
          .join(r.withColumn("_bk", key(col("s_r"))), "_bk")
          .filter(abs(col("len_l") - col("len_r")) <= maxDist)
          .select("id_l", "s_l", "id_r", "s_r")
      // each pass verifies map-side on its own join output; the cross-pass
      // dedup then moves (id_l, id_r, edit_distance) — never the string
      // payloads (the maxDist = 1 path's id-pair discipline, r5 verdict
      // item #4). Strings rejoin by id only for the final survivors.
      val byPrefix = verify(pass(s => substring(s, 1, blockLen)))
        .select("id_l", "id_r", "edit_distance")
      val bySuffix = verify(pass(s => substring(s, -blockLen, blockLen)))
        .select("id_l", "id_r", "edit_distance")
      byPrefix.unionByName(bySuffix).distinct()
        .join(l.select("id_l", "s_l"), "id_l")
        .join(r.select("id_r", "s_r"), "id_r")
        .select("id_l", "s_l", "id_r", "s_r", "edit_distance")
    }
  }

  /** Prefix-filtered set-similarity self-join (the SSJoin/PPJoin candidate
    * channel): exact n-gram Jaccard pairs over the WHOLE corpus with no
    * blocking keys and no cartesian product. The prefix-filtering theorem:
    * under any one global total order of grams, if J(A,B) >= t then the
    * first |X| - ceil(t*|X|) + 1 grams of A and of B (in that order) share
    * at least one gram — so only those PREFIX grams need to enter the
    * candidate equi-join. We order grams by (document frequency asc,
    * gram hash asc): prefixes are then each document's RAREST grams, so
    * candidate buckets are bounded by rare-gram df where a naive
    * gram-inverted join explodes on the most common gram (df² pairs).
    *
    * Scale shape: one corpus gram scan feeds a vocabulary-sized df
    * aggregate; grams are xxhash64'd at the scan so the df join, the
    * per-doc canonical re-sort, the prefix equi-join, and the verify
    * intersections all move 8-byte longs, never gram strings. The output
    * is hash-INDEPENDENT (set cardinalities + thresholds only — the q24
    * argument; a cross-gram collision risks ~1e-15 per pair), which is
    * what makes a string-set DuckDB brute-force twin hash-match. The
    * O(pairs) verify math stays out of join conditions (PlanHints).
    */
  def prefixJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minSim: Double = 0.5
  ): DataFrame = {
    // materialize the hashed gram sets ONCE: base feeds the df aggregate,
    // the canonical re-sort AND both verify sides — without the checkpoint
    // the tokenize+gram+hash scan re-runs in every branch (12 scans, no
    // exchange reuse across renamed subtrees). This is the signature table
    // a production pipeline persists anyway (the q74 incremental index).
    // r11: hashing is the fused native word_gram_hashes pass projected
    // ABOVE the repartition — the old select-below-repartition shape ran
    // the (then ~50×-interpreted) gram hashing of the whole corpus in the
    // ONE scan task of a single-file input (measured 6.4 s of q140's
    // 9.2 s at sf0.1). Prefix-filtering is lossless under ANY consistent
    // total gram order and the verify Jaccard is a cardinality ratio, so
    // the hash family is not load-bearing here (the q140 design note).
    val base = df.select(col(idCol).as("_pid"), col(textCol).as("_tx"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("_pid"), hashedGramSet(col("_tx"), n).as("_h"))
      .withColumn("_sz", size(col("_h")))
      .filter(col("_sz") > 0)
      .localCheckpoint()
    val exploded = base.select(col("_pid"), col("_sz"), explode(col("_h")).as("_g"))
    val gramDf = exploded.groupBy("_g")
      .agg(count(lit(1)).cast("long").as("_df"))
    // canonical re-sort: any consistent total order satisfies the theorem,
    // so (df, hash) works and keeps gram strings out of every shuffle
    val prefixes = exploded.join(gramDf, "_g")
      .groupBy("_pid")
      .agg(sort_array(collect_list(struct(col("_df"), col("_g")))).as("_ord"),
        first(col("_sz")).as("_sz"))
      .withColumn("_plen",
        (col("_sz") - ceil(lit(minSim) * col("_sz")) + 1).cast("int"))
      .select(col("_pid"), col("_sz"),
        explode(transform(slice(col("_ord"), lit(1), col("_plen")),
          s => s.getField("_g"))).as("_g"))
      // both sides of the candidate self-join read this — checkpoint so
      // the df-join + per-doc re-sort pipeline runs once, not twice
      .localCheckpoint()
    val cands = prefixes.select(col("_g"), col("_pid").as("id_a"), col("_sz").as("_sa"))
      .join(prefixes.select(col("_g"), col("_pid").as("id_b"), col("_sz").as("_sb")), Seq("_g"))
      .filter(col("id_a") < col("id_b"))
      // size-ratio necessary condition: J >= t forces min/max sizes >= t
      .filter(least(col("_sa"), col("_sb")).cast("double")
        >= lit(minSim) * greatest(col("_sa"), col("_sb")))
      .select("id_a", "id_b").distinct()
    cands
      .join(base.select(col("_pid").as("id_a"), col("_h").as("_ha")), "id_a")
      .join(base.select(col("_pid").as("id_b"), col("_h").as("_hb")), "id_b")
      .withColumn("jaccard_sim", round(jaccard(col("_ha"), col("_hb")), 4))
      .filter(graft.util.PlanHints.noPushdown(col("jaccard_sim") >= minSim))
      .select(col("id_a"), col("id_b"), col("jaccard_sim"))
      .orderBy("id_a", "id_b")
  }

  /** Canonical-document selection per near-duplicate cluster: cluster the
    * verified dup pairs (min-label connected components, pointer-jumping
    * clusterIds) and keep the BEST-quality member of each cluster — max
    * `scoreCol`, ties to the lowest id — instead of the blind lowest-id
    * survivor exact()/minHashDedup use. This is the policy layer of a
    * curation pipeline: "which copy do we train on" (keep the longest /
    * highest-quality variant, drop the rest).
    *
    * Scale shape: `pairs` is the (small) verified-duplicate edge set, so
    * clustering and selection never touch non-duplicate corpus rows; the
    * one join back to `docs` is keyed on the id (8-byte keys), and the
    * per-cluster argmax is a window over that cluster's members only.
    */
  /** EXACT SUBSTRING duplication census (the "dedup training data at the
    * substring level" operator): every length-`k` character window of every
    * document, flagged when the identical window text occurs in ≥ 2
    * DISTINCT documents; per document, the dup-window count and the longest
    * consecutive dup RUN (a run of r dup windows = one shared passage of
    * r+k−1 characters — the span you'd cut).
    *
    * Scale shape: windows are hashed (xxhash64) at the scan, so the
    * multi-doc census and the flag join move 8-byte longs, never window
    * strings; the output is CARDINALITY-only (hash-independent modulo a
    * ~1e-15/pair collision — the q24/q140 argument), which is what lets a
    * string-window DuckDB twin hash-match. Run detection is one per-doc
    * window function over positions (pos − row_number =
    * consecutive-group id). At lake scale, stride-1 windows over every
    * byte are the VERIFY stage; the candidate channel is winnowed
    * fingerprints (local-minimum hashes — robust to alignment), the same
    * ANN-then-verify split as q34/q141.
    */
  def substringDupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 40
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .select(col(idCol).as("_id"), col(textCol).as("_t"))
      .filter(col("_t").isNotNull && length(col("_t")) >= k)
      // single-file local inputs = one partition: spread the window explode
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    // materialize the window-hash table ONCE (the persisted signature-
    // table pattern, q140's base precedent): without the checkpoint the
    // explode+hash scan runs 3× — once per consumer branch (census,
    // flag join, runs) — which tripled the 100× wall clock
    val wins = base
      .select(col("_id"),
        explode(sequence(lit(1), length(col("_t")) - lit(k - 1))).as("_pos"),
        col("_t"))
      .select(col("_id"), col("_pos"),
        xxhash64(expr(s"substring(_t, _pos, $k)")).as("_h"))
      .localCheckpoint()
    // windows whose text occurs in >= 2 distinct docs: min/max doc per
    // hash differs (no countDistinct buffer; partial-aggregates map-side)
    val multi = wins.groupBy("_h")
      .agg((min(col("_id")) =!= max(col("_id"))).as("_multi"))
      .filter(col("_multi"))
      .select(col("_h"))
    val flagged = wins.join(multi, Seq("_h"), "left_semi")
      .select(col("_id"), col("_pos"))
    val runs = flagged
      .withColumn("_grp",
        col("_pos") - row_number().over(
          Window.partitionBy("_id").orderBy("_pos")))
      .groupBy(col("_id"), col("_grp"))
      .agg(count(lit(1)).cast("long").as("_run"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).cast("long").as("_nruns"),
        sum(col("_run")).cast("long").as("_ndup"),
        max(col("_run")).cast("long").as("_maxrun"))
    base.select(col("_id"), (length(col("_t")) - lit(k - 1)).cast("long")
        .as("n_windows"))
      .join(runs, Seq("_id"), "left")
      .select(col("_id").as("doc_id"), col("n_windows"),
        coalesce(col("_ndup"), lit(0L)).as("n_dup_windows"),
        coalesce(col("_nruns"), lit(0L)).as("n_dup_spans"),
        coalesce(col("_maxrun") + lit(k - 1), lit(0L)).as("max_span_chars"))
      .orderBy("doc_id")
  }

  /** WINNOWED FINGERPRINT candidate pairs — the lake-scale candidate
    * channel for [[substringDupSpans]] (Schleimer/Wilkerson/Aiken
    * winnowing, the MOSS fingerprinting scheme): hash every `k`-char
    * window, slide a width-`w` window over the hash stream, keep the
    * MINIMUM hash of each, and fingerprint the doc with the distinct
    * selected values. The winnowing guarantee: any shared passage of
    * ≥ w + k − 1 chars forces both docs to select the same minimum, so a
    * fingerprint equi-join finds every long shared span with ~n/w
    * fingerprints per doc instead of n windows — stride-free robustness
    * to alignment that plain strided windows can't give.
    *
    * Scale shape: windows hash at the scan (strings never shuffle);
    * fingerprints are ~1/w of windows; the pair census is an equi-join on
    * fingerprint hash with a document-frequency cap (`maxDf`) dropping
    * boilerplate fingerprints — the same hot-key guard as q88/q140.
    * `portable = true` swaps xxhash64 for the md5-derived
    * [[portableHash60]] so the whole channel has a DuckDB twin (q172).
    */
  def winnowedCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 40,
      w: Int = 8,
      minShared: Int = 2,
      maxDf: Int = 1000,
      portable: Boolean = false
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashOf: Column => Column =
      if (portable) portableHash60 else (c => xxhash64(c))
    val base = df
      .select(col(idCol).as("_id"), col(textCol).as("_t"))
      .filter(col("_t").isNotNull && length(col("_t")) >= k + w - 1)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val wins = base
      .select(col("_id"), (length(col("_t")) - lit(k - 1)).as("_nw"),
        explode(sequence(lit(1), length(col("_t")) - lit(k - 1))).as("_pos"),
        col("_t"))
      .select(col("_id"), col("_nw"), col("_pos"),
        hashOf(expr(s"substring(_t, _pos, $k)")).as("_h"))
    // sliding min over the NEXT w hashes; only full windows select
    // (bounded O(w) per row — w is small by construction)
    // fingerprints are ~n/w rows and feed THREE consumers (df census +
    // both sides of the pair join): checkpoint so the window explode and
    // sliding min run once
    val fps = wins
      .withColumn("_min", min(col("_h")).over(
        Window.partitionBy("_id").orderBy("_pos").rowsBetween(0, w - 1)))
      .filter(col("_pos") <= col("_nw") - lit(w - 1))
      .select(col("_id"), col("_min").as("_fp"))
      .distinct()
      .localCheckpoint()
    // boilerplate guard: drop fingerprints present in > maxDf docs
    val rare = fps.groupBy("_fp")
      .agg(count(lit(1)).cast("long").as("_df"))
      .filter(col("_df") <= maxDf && col("_df") >= 2)
      .select("_fp")
    val kept = fps.join(rare, Seq("_fp"), "left_semi")
    kept.select(col("_fp"), col("_id").as("id_a"))
      .join(kept.select(col("_fp"), col("_id").as("id_b")), Seq("_fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("id_a", "id_b")
  }

  def canonicalPerCluster(
      docs: DataFrame,
      idCol: String,
      scoreCol: String,
      pairs: DataFrame
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = clusterIds(pairs)
      .join(docs.select(col(idCol).as("id"), col(scoreCol).as("_score")), Seq("id"))
    val w = Window.partitionBy("cluster_id")
    val rank = Window.partitionBy("cluster_id")
      .orderBy(desc("_score"), asc("id"))
    members
      .withColumn("n_members", count(lit(1)).over(w).cast("long"))
      .withColumn("_rn", row_number().over(rank))
      .filter(col("_rn") === 1)
      .select(col("cluster_id"), col("n_members"),
        col("id").as("canonical_id"),
        col("_score").cast("long").as("canonical_score"))
      .orderBy("cluster_id")
  }

  // --------------------------------------------------- ensemble verdict

  /** Merge candidate-pair sets from several dedup CHANNELS (exact hash,
    * normalized hash, n-gram Jaccard, minhash, semantic, …) into one vote
    * table: per (id_a, id_b) a 0/1 flag per channel plus the vote count —
    * the standard precision ladder before an expensive resolution step
    * (majority-gate, human review, canonical selection).
    *
    * Scale shape: each channel is distinct-projected to its id pair (8B +
    * 8B) before the full-outer merge chain, so nothing wider than ids
    * crosses an exchange regardless of what the channels carry; the merge
    * output is candidate-sized, not corpus-sized.
    */
  def ensembleVerdict(channels: Seq[(String, DataFrame)]): DataFrame = {
    require(channels.nonEmpty, "need at least one channel")
    val flagged = channels.map { case (name, df) =>
      df.select(col("id_a"), col("id_b")).distinct()
        .withColumn(s"v_$name", lit(1L))
    }
    val merged = flagged.reduce((a, b) =>
      a.join(b, Seq("id_a", "id_b"), "full_outer"))
    val voteCols = channels.map { case (n, _) => s"v_$n" }
    merged.na.fill(0L, voteCols)
      .withColumn("votes", voteCols.map(col).reduce(_ + _))
      .orderBy("id_a", "id_b")
  }
}
