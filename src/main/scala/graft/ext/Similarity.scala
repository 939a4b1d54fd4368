package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.{DriverBudget, Legs}

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * All distance math is Column-expression arithmetic in double precision
  * (`zip_with` + `aggregate`), sequential over the array — deterministic and
  * bit-identical to an equivalent sequential oracle computation, and fully
  * codegen'd (no UDFs).
  *
  * Scale paths:
  *  - brute force: one scan, O(n·d) — the correctness baseline;
  *  - LSH (random hyperplanes): candidates share a signature bucket —
  *    turns all-pairs near-dup into a bucket-local self-join;
  *  - IVF (KMeans coarse quantizer): probe the `nProbe` nearest centroid
  *    partitions only — the classic ANN layout for billion-row tables,
  *    where cluster id becomes the physical partition key.
  */
object Similarity {

  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(toDouble(a), x => x * x), lit(0.0),
      (acc, x) => acc + x))

  /** Cosine via graft's native fused expression (one codegen'd loop over the
    * unsafe array data — see graft.functions.CosineSimilarity); requires a
    * GraftSession / GraftFunctions.register'd session. Its pure-builtin
    * twin, `dot(a, b) / (norm(a) * norm(b))`, lives in the tests
    * (ScoringTwinsSpec pins the two on generated input).
    */
  def cosine(a: Column, b: Column): Column =
    call_function("cosine_similarity", a, b)

  /** Top-k most similar rows to the vector of `queryId` (excluded), by
    * cosine; deterministic ordering on (rounded sim desc, id asc).
    */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int
  ): DataFrame = {
    val q = broadcast(
      df.filter(col(idCol) === queryId).select(col(vecCol).as("_q_vec")))
    df.filter(col(idCol) =!= queryId)
      .crossJoin(q)
      .select(col(idCol),
        round(cosine(col(vecCol), col("_q_vec")), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)
  }

  /** Reciprocal-rank fusion of per-query cosine rankings: each query id
    * produces a top-`listSize` candidate list (distributed top-k —
    * TakeOrderedAndProject, never a global sort; ranks are assigned by a
    * window over the already-tiny list), and the fused score is
    * Σ 1/(kRrf + rank) over the lists that contain the candidate —
    * the standard multi-query / hybrid-retrieval combiner.
    *
    * Determinism: ranks order by (4-dp cosine desc, id) — the q31-proven
    * cross-engine-exact ordering — and the fused sum adds the per-query
    * terms in query order, so a DuckDB twin replays identical doubles.
    */
  def rrfFuse(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      listSize: Int,
      kRrf: Int = 60,
      topN: Int = 20
  ): DataFrame = {
    require(queryIds.nonEmpty, "rrfFuse needs at least one query id")
    val lists = queryIds.zipWithIndex.map { case (qid, i) =>
      val top = bruteForceTopK(df, idCol, vecCol, qid, listSize)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("cos_sim"), asc(idCol))
      top.select(col(idCol),
        row_number().over(w).cast("long").as(s"rank_$i"))
    }
    val joined = lists.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    def term(i: Int): Column =
      when(col(s"rank_$i").isNull, lit(0.0))
        .otherwise(lit(1.0) / (lit(kRrf.toLong) + col(s"rank_$i")).cast("double"))
    val score = queryIds.indices.map(term).reduce(_ + _)
    val ranksOut = queryIds.indices.map(i =>
      coalesce(col(s"rank_$i"), lit(0L)).as(s"rank_$i"))
    joined
      .select((col(idCol) +: ranksOut :+ round(score, 6).as("rrf")): _*)
      .orderBy(col("rrf").desc, col(idCol))
      .limit(topN)
  }

  /** Deterministic random hyperplanes (seeded), as literal arrays. Pure
    * data (a seeded Gaussian stream), so an oracle can inline the SAME
    * values as SQL literals — q75 pins lshTopK's recall that way.
    */
  private[graft] def hyperplanes(dim: Int, nBits: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-random-projection LSH bucket id (a long of `nBits` sign bits):
    * bit i is set iff dot(vec, plane_i) ≥ 0 with seeded-Gaussian planes.
    * Runs as the native fused `srp_bucket` expression — one codegen'd loop
    * over all planes, zero per-row allocation (the composable
    * aggregate-in-when form evaluates interpreted and measured 136 µs/row
    * at dim=1024/nBits=16; native is the q70/q75-pinned same math). Null
    * vector → null bucket (the hot-bucket-0 hazard guard).
    */
  def lshBucket(vecCol: Column, dim: Int, nBits: Int = 16, seed: Long = 42L): Column =
    call_function("srp_bucket", vecCol,
      typedLit(hyperplanes(dim, nBits, seed).map(_.toSeq).toSeq))

  /** The pure-builtin formulation of [[lshBucket]] (one matrix literal
    * folded with higher-order functions). Kept as the bit-identity
    * cross-check for the native expression — SimilaritySpec asserts
    * equality value-for-value.
    */
  private[graft] def lshBucketComposable(
      vecCol: Column, dim: Int, nBits: Int = 16, seed: Long = 42L): Column = {
    require(nBits <= 63, "bucket must fit a long")
    val m = typedLit(hyperplanes(dim, nBits, seed).map(_.toSeq).toSeq)
    // null vector → null bucket. Without the guard, every per-plane null dot
    // falls through `when`'s otherwise(0) and ALL null embeddings silently
    // pile into bucket 0 — a hot bucket whose self-join explodes at scale.
    when(vecCol.isNotNull,
      aggregate(
        sequence(lit(0), lit(nBits - 1)),
        lit(0L),
        (acc, i) => acc + when(dot(vecCol, element_at(m, i + 1)) >= 0,
          call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))))
  }

  /** SplitMix64-derived integer hyperplane components in [-1000, 1000] —
    * the engine-portable quantized plane family. Deterministic pure data:
    * computed once on the driver and inlined as literals into BOTH engines'
    * plans (Spark typedLit / DuckDB list literals in the oracle SQL).
    */
  private[graft] def quantPlanes(dim: Int, nBits: Int): Array[Array[Long]] =
    Array.tabulate(nBits, dim) { (i, j) =>
      var z = i.toLong * 100003L + j.toLong + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      java.lang.Math.floorMod(z, 2001L) - 1000L
    }

  /** Engine-portable quantized sign-random-projection bucket id: the
    * embedding is quantized to `round(v·1000)` longs and projected onto
    * integer hyperplanes ([[quantPlanes]]), so every dot product is EXACT
    * integer arithmetic with an identical DuckDB twin — unlike
    * [[lshBucket]], whose seeded-Gaussian double planes no other engine can
    * reproduce. Same SRP structure (bit i = sign of projection i); exists
    * so the ANN bucketing machinery is oracle-checkable end-to-end
    * (production ANN keeps lshBucket's full-precision planes).
    */
  def lshBucketQuantized(vecCol: Column, dim: Int, nBits: Int = 8): Column = {
    require(nBits <= 63, "bucket must fit a long")
    // r11: one fused native pass (graft's srp_bucket_q) — the composable
    // nested-HOF form ran interpreted and re-quantized the vector per BIT;
    // bucket values and degenerate cases are identical
    // (lshBucketQuantizedComposable stays as the pinned cross-check twin)
    val m = typedLit(quantPlanes(dim, nBits).map(_.toSeq).toSeq)
    call_function("srp_bucket_q", quantVec(vecCol), m)
  }

  /** The pre-r11 composable form — kept as the bit-identity cross-check
    * twin of the native expression (the MinHashSignature precedent).
    */
  private[graft] def lshBucketQuantizedComposable(
      vecCol: Column, dim: Int, nBits: Int): Column = {
    require(nBits <= 63, "bucket must fit a long")
    val m = typedLit(quantPlanes(dim, nBits).map(_.toSeq).toSeq)
    val vq = transform(vecCol, x => round(x.cast("double") * 1000).cast("long"))
    // null vector → null bucket (same hot-bucket-0 hazard as lshBucket)
    when(vecCol.isNotNull,
      aggregate(
        sequence(lit(0), lit(nBits - 1)),
        lit(0L),
        (acc, i) => acc + when(
          aggregate(zip_with(vq, element_at(m, i + 1), (x, w) => x * w),
            lit(0L), (a, x) => a + x) > 0,
          call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))))
  }

  /** Deterministic hot-bucket skew split for the SRP bucket joins.
    *
    * A clustered corpus concentrates a large share of candidate pairs in a
    * few hot buckets; whether AQE's skew-join split fires on those
    * partitions then depends on COMPRESSED map-output sizes sitting near
    * `skewedPartitionThresholdInBytes` — measured as a literal coin flip on
    * the x141 channel (12.6 / 44 / 104 s across three identical runs).
    * This helper makes the split a deterministic part of the PLAN instead:
    * histogram the probe (exploded, larger) side per bucket, split every
    * bucket holding more than `threshold` probe rows into
    * ceil(n/threshold) salt groups keyed by the probe id's xxhash64, and
    * replicate only the candidate side's hot-bucket rows across the
    * groups. Each (probe, candidate) pair still meets exactly once — the
    * probe's salt group is a function of the probe row, and the candidate
    * copy carrying that salt is unique — so the join OUTPUT multiset is
    * identical (SaltedBucketJoinSpec pins this); only the partitioning of
    * the work changes. Replication cost is bounded: candidate rows are
    * copied only for hot buckets, ×(hot-bucket probe rows / threshold).
    *
    * `threshold <= 0` (the oracle-path default) or no hot buckets → the
    * plain equi-join, byte-for-byte the old plan.
    */
  private def saltedBucketJoin(
      probes: DataFrame,
      cands: DataFrame,
      bucketCol: String,
      probeIdCol: String,
      threshold: Int
  ): DataFrame = {
    if (threshold <= 0) probes.join(cands, Seq(bucketCol))
    else {
      val hot = probes
        .filter(col(bucketCol).isNotNull)
        .groupBy(col(bucketCol))
        .agg(count(lit(1)).as("_n"))
        .filter(col("_n") > threshold)
        .select(col(bucketCol).cast("long"),
          ceil(col("_n").cast("double") / threshold).cast("int").as("_ns"))
        .collect()
        .map(r => r.getLong(0) -> r.getInt(1))
        .toMap
      if (hot.isEmpty) probes.join(cands, Seq(bucketCol))
      else {
        def nsOf(b: Column): Column =
          coalesce(element_at(typedLit(hot), b.cast("long")), lit(1))
        val p = probes.withColumn("_salt",
          pmod(xxhash64(col(probeIdCol)), nsOf(col(bucketCol)).cast("long"))
            .cast("int"))
        val c = cands.withColumn("_salt",
          explode(sequence(lit(0), nsOf(col(bucketCol)) - 1)))
        p.join(c, Seq(bucketCol, "_salt")).drop("_salt")
      }
    }
  }

  /** ANN top-k via LSH: restrict the scan to the query's bucket (plus, with
    * `probeHamming` > 0, every bucket within that Hamming distance — standard
    * multi-probe LSH: an SRP bit flips most easily on the planes the query
    * sits closest to, so neighboring buckets hold most of the missed true
    * neighbors), then exact cosine on the candidates. Recall < 1 by
    * construction; raise probeHamming / lower nBits for higher recall at
    * more scan. The probe set is a pure bit-count predicate on the bucket
    * id, so the candidate filter stays a scan-side codegen'd comparison —
    * no bucket-list explosion. Returns the same schema as bruteForceTopK.
    */
  def lshTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      dim: Int,
      nBits: Int = 12,
      seed: Long = 42L,
      probeHamming: Int = 0
  ): DataFrame = {
    val withBucket = df.withColumn("_bucket", lshBucket(col(vecCol), dim, nBits, seed))
    val q = broadcast(
      withBucket.filter(col(idCol) === queryId)
        .select(col(vecCol).as("_q_vec"), col("_bucket").as("_q_bucket")))
    withBucket
      .crossJoin(q)
      .filter(
        call_function("bit_count",
          col("_bucket").bitwiseXOR(col("_q_bucket"))) <= probeHamming &&
          col(idCol) =!= queryId)
      .select(col(idCol),
        round(cosine(col(vecCol), col("_q_vec")), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)
  }

  // ------------------------------------------- ranked per-key selection

  /** Per `key`, the `k` smallest (score, id) pairs in (score, id) order,
    * as (key, id, score, rank) with rank 1..k: the one ranked selection
    * behind the ANN operators. Scores are longs in [0, `scoreMax`]; a row
    * with a null score or id is never selected.
    *
    * When the pairs pack into one order-preserving long ([[packBits]]) and
    * k ≤ 64, the selection is the native `top_k_longs` aggregate over
    * `shiftleft(score, idBits) + id`: a codegen HashAggregate with
    * map-side combine, so at most k longs per key per partition cross the
    * exchange and no row is sorted. Otherwise (negative, wide or
    * non-integral ids, or a larger k: the aggregate's merge is O(k²)
    * expression nodes) it is a `row_number` window ordered by (score, id),
    * which shuffles and sorts every row. Both forms give the same rows.
    */
  private[graft] def smallestK(scored: DataFrame, key: String, score: String,
      id: String, k: Int, scoreMax: BigInt,
      idRange: Option[(Long, Long)]): DataFrame = {
    val idBits = packBits(idRange, scoreMax)
    if (idBits > 0 && k <= 64) {
      val idType = scored.schema(id).dataType
      scored.groupBy(key)
        .agg(graft.functions.GraftFunctions.topKLongs(
          shiftleft(col(score), idBits) + col(id).cast("long"), k).as("_pk"))
        .select(col(key), posexplode(col("_pk")).as(Seq("_r0", "_p")))
        .select(col(key),
          col("_p").bitwiseAND(lit((1L << idBits) - 1)).cast(idType).as(id),
          shiftright(col("_p"), idBits).as(score),
          (col("_r0") + 1).cast("long").as("rank"))
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(key).orderBy(asc(score), asc(id))
      scored.filter(col(score).isNotNull && col(id).isNotNull)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(key, id, score, "rank")
    }
  }

  /** The id width when every (score, id) with a score in [0, `scoreMax`]
    * and an id in `idRange` packs into `shiftleft(score, idBits) + id`
    * below `top_k_longs`' Long.MaxValue sentinel (smaller packed = smaller
    * (score, id)); -1 when ids are unknown or negative, or the pair does
    * not fit.
    */
  private[graft] def packBits(idRange: Option[(Long, Long)],
      scoreMax: BigInt): Int = idRange match {
    case Some((lo, hi)) if lo >= 0 && scoreMax >= 0 =>
      val idBits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(hi, 1L))
      if (((scoreMax + 1) << idBits) <= BigInt(Long.MaxValue)) idBits else -1
    case _ => -1
  }

  private def integralId(df: DataFrame, idCol: String): Boolean =
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** (min, max) of an integral id column, one tiny aggregate job; None for
    * another id type or no non-null id. */
  private[graft] def idRange(df: DataFrame,
      idCol: String): Option[(Long, Long)] =
    if (!integralId(df, idCol)) None
    else {
      val r = df.agg(min(col(idCol)).cast("long"), max(col(idCol)).cast("long"))
        .head()
      if (r.isNullAt(0)) None else Some(r.getLong(0) -> r.getLong(1))
    }

  /** Batch k-NN similarity JOIN: for EVERY query row, its top-k corpus
    * neighbors by cosine — the retrieval/labeling shape of a training-data
    * pipeline (one-query lookups are [[lshTopK]]).
    *
    * Scale shape: the QUERY side explodes into its multi-probe bucket set
    * (own bucket + the `nBits` Hamming-1 neighbors) and equi-joins the
    * bucketed corpus — the corpus is never replicated and never filtered
    * with a quadratic cross-join predicate; ranking is [[smallestK]] per
    * query by (cos_sim desc, c_id). Each (query, candidate) pair arises from
    * at most one probe bucket (XOR masks are distinct), so no distinct
    * pass is needed.
    *
    * `portable = true` uses the quantized integer plane family so the
    * whole join has a DuckDB twin (q78); production uses the seeded
    * Gaussian planes via the native `srp_bucket`.
    */
  def knnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      nBits: Int = 12,
      probeHamming: Int = 1,
      seed: Long = 42L,
      portable: Boolean = false,
      saltBucketsAbove: Int = 0
  ): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 1,
      "probe masks are enumerated; Hamming 0 or 1 supported")
    def bucketOf(c: Column): Column =
      if (portable) lshBucketQuantized(c, dim, nBits)
      else lshBucket(c, dim, nBits, seed)
    val masks: Seq[Long] =
      0L +: (if (probeHamming >= 1) (0 until nBits).map(i => 1L << i) else Nil)
    // a zero-norm (or NaN-element) vector yields cos NaN, which the
    // packed path would rank as sim 0.0 while the window path's desc()
    // ranks NaN FIRST (Spark SQL ordering) — exclude degenerate vectors
    // PER ROW on both sides so the paths agree. Side-level O(n) guard,
    // not a per-pair filter: a bare !isnan(cos_sim) pair filter measured
    // +60% on q205 (the cosine re-evaluated in the pushed predicate).
    def usableVec(c: Column): Column = {
      val n2 = aggregate(transform(c, x => x.cast("double") * x.cast("double")),
        lit(0.0), (a, x) => a + x)
      c.isNotNull && n2 > 0 && !isnan(n2)
    }
    // r11: repartition BEFORE the guard/bucket projections on both sides —
    // single-file local inputs otherwise evaluate them (and the salted
    // join's extra histogram pass over the probe side) in one scan task
    val sp = corpus.sparkSession.sparkContext.defaultParallelism
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .repartition(sp)
      .filter(usableVec(col("q_vec")))
      .withColumn("_qbucket", bucketOf(col("q_vec")))
      .withColumn("_bucket",
        explode(array(masks.map(m => col("_qbucket").bitwiseXOR(lit(m))): _*)))
      .drop("_qbucket")
    // the salted join replans the hot buckets deterministically; output
    // multiset unchanged, so rank/window results are identical
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .repartition(sp)
      .filter(usableVec(col("c_vec")))
      .withColumn("_bucket", bucketOf(col("c_vec")))
    val scored = saltedBucketJoin(q, c, "_bucket", "q_id", saltBucketsAbove)
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(cosine(col("q_vec"), col("c_vec")), 4).as("cos_sim"))
    // cos_sim is round(·, 4), so 10000 − 10000·cos is an exact integer key
    // in [0, 20000]; unpacking (10000 − key)/10000.0 reproduces round(·,
    // 4)'s double bit for bit (both are the nearest double to the same
    // decimal)
    val ranked = smallestK(
      scored.select(col("q_id"), col("c_id"),
        (lit(10000L) - round(col("cos_sim") * 10000).cast("long")).as("_sk")),
      "q_id", "_sk", "c_id", k, BigInt(20000), idRange(corpus, idCol))
    ranked.select(col("q_id"), col("c_id"),
        ((lit(10000L) - col("_sk")).cast("double") / lit(10000.0))
          .as("cos_sim"),
        col("rank"))
      .orderBy("q_id", "rank")
  }

  /** Label-noise detection by neighborhood disagreement (the confident-
    * learning heuristic): score every labeled point by the fraction of its
    * k nearest neighbors (bucketed [[knnJoin]], never all-pairs) carrying a
    * DIFFERENT label, flag it suspect when a strict majority disagree, and
    * return the per-label census — the "which class's labels are dirty"
    * readout that drives relabeling queues.
    *
    * Scale shape: the kNN channel is the q78 machinery (SRP buckets +
    * multi-probe, one equi-join); the two label lookups join at (q_id) /
    * (c_id) grain on the k·N pair rows — long + label only, never vectors;
    * the census is a tiny per-label aggregate. Points whose probe buckets
    * hold no other vector simply go unscored (n_scored counts them out) —
    * the honest recall trade of the bucketed channel.
    */
  def labelNoiseByNeighbors(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      dim: Int,
      nBits: Int = 12,
      probeHamming: Int = 1,
      seed: Long = 42L,
      portable: Boolean = false,
      saltBucketsAbove: Int = 0
  ): DataFrame = {
    val knn = knnJoin(df, df, idCol, vecCol, k, dim, nBits, probeHamming,
      seed, portable, saltBucketsAbove)
    labelNoiseCensus(knn, df, idCol, labelCol)
  }

  /** The label-noise census over ANY (q_id, c_id) neighbor pair set — the
    * shared tail of q229 (bucketed-kNN channel) and the IVF-PQ production
    * channel (x214's code-only recipe at k=5): only longs + labels cross
    * its exchanges regardless of how the pairs were mined.
    */
  def labelNoiseCensus(
      pairs: DataFrame,
      labeled: DataFrame,
      idCol: String,
      labelCol: String
  ): DataFrame = {
    val lab = labeled.select(col(idCol).as("_lid"), col(labelCol).as("_lab"))
    val per = pairs
      .join(lab.select(col("_lid").as("q_id"), col("_lab").as("label_q")),
        Seq("q_id"))
      .join(lab.select(col("_lid").as("c_id"), col("_lab").as("label_c")),
        Seq("c_id"))
      .groupBy("q_id", "label_q")
      .agg(count(lit(1)).cast("long").as("n_nbrs"),
        sum((col("label_c") =!= col("label_q")).cast("long"))
          .cast("long").as("n_disagree"))
      .withColumn("suspect",
        (col("n_disagree") * 2 > col("n_nbrs")).cast("long"))
    per.groupBy(col("label_q").as("label"))
      .agg(count(lit(1)).cast("long").as("n_scored"),
        sum(col("suspect")).cast("long").as("n_suspect"),
        sum(col("n_disagree")).cast("long").as("_sd"),
        sum(col("n_nbrs")).cast("long").as("_sn"))
      .select(col("label"), col("n_scored"), col("n_suspect"),
        round(col("n_suspect").cast("double") /
          col("n_scored").cast("double"), 6).as("suspect_rate"),
        round(col("_sd").cast("double") /
          col("_sn").cast("double"), 6).as("disagree_rate"))
      .orderBy("label")
  }

  /** Embedding-level near-duplicate DEDUP: bucket (SRP LSH) → verify
    * (rounded cosine ≥ threshold) → connect (min-label components over the
    * verified pairs) → keep the LOWEST id of each cluster. The transitive
    * closure matters: A≈B and B≈C keep only A even when A,C never share a
    * bucket pair — per-pair dedup would emit both A and C's survivors.
    *
    * `portable = true` swaps the seeded-Gaussian planes for the quantized
    * integer family ([[lshBucketQuantized]]), making the ENTIRE pipeline —
    * bucketing, cosine verification, connected components, survivor set —
    * reproducible in DuckDB (q77 hash-checks it end-to-end via a recursive
    * CTE for the closure). Production keeps full-precision planes.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      nBits: Int = 8,
      seed: Long = 42L,
      portable: Boolean = false
  ): DataFrame = {
    val bucket =
      if (portable) lshBucketQuantized(col(vecCol), dim, nBits)
      else lshBucket(col(vecCol), dim, nBits, seed)
    // r11: repartition BEFORE the bucket projection (single-file inputs
    // otherwise bucket the whole corpus in one scan task) and lazily
    // checkpoint — both self-join sides read one computation
    val b = df.select(col(idCol), col(vecCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .withColumn("_bucket", bucket)
      .localCheckpoint(false)
    val a = b.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"), col("_bucket"))
    val c = b.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"), col("_bucket"))
    val pairs = a.join(c, Seq("_bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(cosine(col("vec_a"), col("vec_b")), 4))
      .filter(graft.util.PlanHints.noPushdown(col("cos_sim") >= threshold))
      .select("id_a", "id_b")
    val removed = Dedup.clusterIds(pairs)
      .filter(col("cluster_id") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(removed, Seq(idCol), "left_anti")
  }

  /** Maximal-marginal-relevance selection: from the top-`poolSize` cosine
    * candidates for `queryId`, greedily pick `k` results trading relevance
    * against redundancy — score(c) = λ·rel(c) − μ·max_{s∈S} sim(c, s) —
    * the standard diversity re-rank for retrieval-augmented sampling.
    *
    * Scale shape: the distributed part is the pool top-k
    * (TakeOrderedAndProject — never a global sort); the greedy re-rank
    * runs on the DRIVER over poolSize rows (the documented small-result
    * pattern — poolSize is tens, k·poolSize² cosines ≈ thousands of
    * flops). Every cosine — distributed and driver-side — is the same
    * sequential fold the DuckDB twin's list_sum performs, so selection
    * order (incl. exact-tie → lowest id) hash-matches (q182).
    */
  def mmrSelect(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      poolSize: Int,
      k: Int,
      lam: Double = 0.7,
      mu: Double = 0.3
  ): DataFrame = {
    val spark = df.sparkSession
    val q = broadcast(
      df.filter(col(idCol) === queryId).select(col(vecCol).as("_q_vec")))
    val pool = df.filter(col(idCol) =!= queryId)
      .crossJoin(q)
      .select(col(idCol), col(vecCol),
        cosine(col(vecCol), col("_q_vec")).as("_rel"))
      .orderBy(desc("_rel"), asc(idCol))
      .limit(poolSize)
      .collect()
    final case class Cand(id: Long, v: IndexedSeq[Double], rel: Double)
    val cands = pool.map(r => Cand(r.getLong(0),
      r.getSeq[Float](1).map(_.toDouble).toIndexedSeq, r.getDouble(2)))
    def cosD(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { // sequential — the list_sum shape
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Cand, Double)]
    while (selected.length < math.min(k, cands.length)) {
      val chosen = selected.map(_._1.id).toSet
      val best = cands.iterator.filterNot(c => chosen(c.id)).map { c =>
        val pen =
          if (selected.isEmpty) 0.0
          else selected.iterator.map(s => cosD(c.v, s._1.v)).max
        (c, lam * c.rel - mu * pen)
      }.reduceLeft { (x, y) => // argmax on (score desc, id asc)
        if (y._2 > x._2 || (y._2 == x._2 && y._1.id < x._1.id)) y else x
      }
      selected += best
    }
    import spark.implicits._
    // scores stay UNROUNDED: they can be negative, where Spark and DuckDB
    // round() disagree on exact halves; the raw doubles are bit-identical
    // because every fold shape matches the twin's list_sum
    selected.toSeq.zipWithIndex.map { case ((c, sc), i) =>
      (i + 1L, c.id, sc, c.rel)
    }.toDF("step", "vec_id", "mmr_score", "rel")
  }

  /** Semantic decontamination: flag corpus vectors whose cosine to ANY
    * eval/holdout vector reaches `threshold` — the embedding-level
    * contamination check that complements the n-gram one (q79). Candidates
    * come from the multi-probe SRP bucket join (the q78 shape): the EVAL
    * side — small by nature — explodes its probe masks and BROADCASTS, so
    * the corpus is scanned once, never shuffled, never replicated; only
    * flagged hits reach the (tiny) per-id aggregation. Each (corpus, eval)
    * pair arises from at most one probe mask, so no distinct pass.
    *
    * `portable = true` uses the quantized plane family → full DuckDB twin
    * (q183); production keeps the seeded Gaussian planes.
    */
  def semanticDecontaminate(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      nBits: Int = 8,
      probeHamming: Int = 1,
      seed: Long = 42L,
      portable: Boolean = false
  ): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 1)
    def bucketOf(c: Column): Column =
      if (portable) lshBucketQuantized(c, dim, nBits)
      else lshBucket(c, dim, nBits, seed)
    val masks: Seq[Long] =
      0L +: (if (probeHamming >= 1) (0 until nBits).map(i => 1L << i) else Nil)
    val ev = evalSet
      .select(col(idCol).as("_eval_id"), col(vecCol).as("_e_vec"))
      .withColumn("_ebucket", bucketOf(col("_e_vec")))
      .withColumn("_bucket",
        explode(array(masks.map(m => col("_ebucket").bitwiseXOR(lit(m))): _*)))
      .drop("_ebucket")
    corpus.select(col(idCol), col(vecCol))
      .withColumn("_bucket", bucketOf(col(vecCol)))
      .join(broadcast(ev), Seq("_bucket"))
      .withColumn("cos_sim", round(cosine(col(vecCol), col("_e_vec")), 4))
      .filter(graft.util.PlanHints.noPushdown(col("cos_sim") >= threshold))
      .groupBy(idCol)
      // primitive-buffer argmax (ties to the lowest eval id) keeps this a
      // codegen HashAggregate — max(struct(…)) would SortAggregate the
      // whole hit stream (the q141 lesson)
      .agg(count(lit(1)).cast("long").as("n_eval_hits"),
        graft.functions.GraftFunctions.argMaxTiedLow(
          col("cos_sim"), col("_eval_id").cast("long")).as("_best"))
      .select(col(idCol), col("n_eval_hits"),
        col("_best.ord").as("best_sim"),
        col("_best.id").as("best_eval_id"))
      .orderBy(idCol)
  }

  /** Nearest-centroid assignment against a FIXED quantized centroid set —
    * the ingest-time half of IVF: at 100 TB steady state, new rows are
    * routed into an EXISTING coarse quantizer's cells (then appended to the
    * matching `_ivf_cluster` partitions) without retraining; only
    * [[ivfIndex]]'s KMeans ever trains. Vectors and centroids are quantized
    * to `round(v·1000)` longs, so every squared-L2 distance is exact integer
    * arithmetic with an identical DuckDB twin (the oracle hash-checks the
    * full assignment). Ties break to the LOWEST centroid index; null vector
    * → null cell.
    */
  def ivfAssignQuantized(vecCol: Column, centroids: Seq[Seq[Long]]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    // builtin round keeps Spark's exact HALF_UP double semantics; the native
    // ivf_argmin then does all k distances in one codegen'd integer loop
    // (the nested-HOF form re-evaluated the quantization per centroid and
    // measured 225 µs/row at dim=1024/k=8)
    val vq = transform(vecCol, x => round(x.cast("double") * 1000).cast("long"))
    call_function("ivf_argmin", vq, typedLit(centroids))
  }

  /** Nested-HOF formulation of [[ivfAssignQuantized]] — bit-identity
    * cross-check for the native expression (SimilaritySpec).
    */
  private[graft] def ivfAssignQuantizedComposable(
      vecCol: Column, centroids: Seq[Seq[Long]]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    val m = typedLit(centroids)
    val vq = transform(vecCol, x => round(x.cast("double") * 1000).cast("long"))
    when(vecCol.isNotNull,
      aggregate(
        sequence(lit(0), lit(centroids.length - 1)),
        struct(lit(Long.MaxValue).as("d"), lit(-1L).as("i")),
        (acc, i) => {
          val d = aggregate(
            zip_with(vq, element_at(m, i + 1), (x, c) => (x - c) * (x - c)),
            lit(0L), (a, x) => a + x)
          when(d < acc.getField("d"),
            struct(d.as("d"), i.cast("long").as("i"))).otherwise(acc)
        },
        acc => acc.getField("i")))
  }

  /** Grid-snapped Lloyd k-means over the quantized `round(v·1000)` integer
    * grid — the codebook-training step for IVF/PQ indexes, expressed so
    * EVERY number is exact cross-engine integer math:
    *  - assignment: the native `ivf_argmin` (exact squared-L2 on longs,
    *    ties to the lowest cell — the q72 family);
    *  - update: per-cell integer sums (one map-side-combined groupBy with
    *    d+1 aggregate columns; k·(d+1) longs reach the driver — the
    *    documented codebook-collect pattern), each mean SNAPPED back to
    *    the grid with round-half-toward-+∞: c_d = ⌊(2·S_d + n)/(2·n)⌋,
    *    rendered with the shift-positive trick
    *    `((2·S + n + 2·n·B) div (2·n)) − B` so JVM truncating division and
    *    DuckDB `//` (also truncating) both equal floor (numerator > 0; B
    *    must bound the quantized |value|).
    * Production k-means keeps double centroids (Spark ML KMeans — q53's
    * ivfIndex); this is how the QUANTIZED codebook an IVF/PQ index actually
    * persists trains with a hash-checkable DuckDB twin (q181). Empty cells
    * keep their previous centroid. Runs `iters` assignment passes with an
    * update between consecutive ones (iters−1 updates).
    *
    * Scale shape: `iters` scans of a checkpointed (id, vec, vq) projection;
    * per scan one broadcast k×d matrix inside the argmin expression and one
    * aggregation whose reduced state is k·(d+1) longs. Nothing wider than
    * the vector column ever shuffles, and no iteration grows the lineage.
    */
  def kmeansCodebookQuantized(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      iters: Int,
      bound: Long = 2000L
  ): (DataFrame, IndexedSeq[IndexedSeq[Long]]) = {
    require(iters >= 1 && k >= 1)
    val vq = transform(col(vecCol),
      x => round(x.cast("double") * 1000).cast("long"))
    val base = df.select(col(idCol), col(vecCol), vq.as("_vq"))
      .localCheckpoint(true) // scanned once per iteration
    var cents: IndexedSeq[IndexedSeq[Long]] =
      base.orderBy(idCol).limit(k)
        .select("_vq").collect()
        .map(_.getSeq[Long](0).toIndexedSeq).toIndexedSeq
    require(cents.forall(_.forall(v => math.abs(v) < bound)),
      s"quantized values exceed snap bound $bound")
    for (_ <- 1 until iters) {
      val assigned = base
        .withColumn("_cell", ivfAssignQuantized(col(vecCol), cents))
      val aggs = count(lit(1)).as("_n") +:
        (1 to dim).map(d => sum(element_at(col("_vq"), d)).as(s"_s$d"))
      val byCell = assigned.groupBy("_cell").agg(aggs.head, aggs.tail: _*)
        .collect().map { r =>
          val cell = r.getAs[Number]("_cell").intValue
          val n = r.getLong(1)
          cell -> (1 to dim).map { d =>
            (2L * r.getLong(1 + d) + n + 2L * n * bound) / (2L * n) - bound
          }.toIndexedSeq
        }.toMap
      cents = cents.indices.map(c => byCell.getOrElse(c, cents(c)))
    }
    (base.withColumn("_cell", ivfAssignQuantized(col(vecCol), cents)), cents)
  }

  /** Residual quantization (RQ) encode — the third codebook family next
    * to IVF (q72) and PQ (q80): stage 1 assigns each vector to a coarse
    * centroid, stage 2 quantizes the RESIDUAL vq − C1[cell1] against a
    * second codebook, halving reconstruction error at the cost of one
    * more byte per vector. Everything is exact integer math on the
    * quantized grid: C1 = the k1 lowest-id quantized vectors (the q72
    * fixed-quantizer trick; production trains via
    * [[kmeansCodebookQuantized]]), C2 = the residuals of the k2 lowest-id
    * vectors. Output: per (cell1, cell2) census with the exact integer
    * reconstruction error — fully DuckDB-oracled (q193).
    *
    * Scale shape: two broadcast codebooks inside expressions, one scan,
    * one k1·k2-cell aggregation. The stage-2 argmin runs as the HOF fold
    * (k2·d interpreted ops/row — the native ivf_argmin is the documented
    * swap-in at production dims, as measured for q72).
    */
  def rqEncodeCensus(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k1: Int = 8,
      k2: Int = 16
  ): DataFrame = {
    val vq = transform(col(vecCol),
      x => round(x.cast("double") * 1000).cast("long"))
    val base = df.select(col(idCol), col(vecCol), vq.as("_vq"))
    val c1: IndexedSeq[IndexedSeq[Long]] =
      base.orderBy(idCol).limit(k1).select("_vq").collect()
        .map(_.getSeq[Long](0).toIndexedSeq).toIndexedSeq
    def assign1(v: IndexedSeq[Long]): Int =
      c1.zipWithIndex.map { case (c, i) =>
        (c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.min._2
    val c2: IndexedSeq[IndexedSeq[Long]] =
      base.orderBy(idCol).limit(k2).select("_vq").collect()
        .map(_.getSeq[Long](0).toIndexedSeq)
        .map(v => v.zip(c1(assign1(v))).map { case (x, c) => x - c })
        .toIndexedSeq
    val cell1 = ivfAssignQuantized(col(vecCol), c1)
    val resid = zip_with(col("_vq"),
      element_at(typedLit(c1.map(_.toSeq).toSeq), col("_cell1").cast("int") + 1),
      (x, c) => x - c)
    // stage-2 argmin over long residuals (ties → lowest code)
    val m2 = typedLit(c2.map(_.toSeq).toSeq)
    def distTo(i: Column): Column = aggregate(
      zip_with(col("_r"), element_at(m2, i + 1), (x, c) => (x - c) * (x - c)),
      lit(0L), (a, x) => a + x)
    val cell2 = aggregate(
      sequence(lit(0), lit(k2 - 1)),
      struct(lit(Long.MaxValue).as("d"), lit(-1L).as("i")),
      (acc, i) => {
        val d = distTo(i)
        when(d < acc.getField("d"),
          struct(d.as("d"), i.cast("long").as("i"))).otherwise(acc)
      },
      acc => acc.getField("i"))
    base
      .withColumn("_cell1", cell1)
      .withColumn("_r", resid)
      .withColumn("_cell2", cell2)
      .withColumn("_err", aggregate(
        zip_with(col("_r"),
          element_at(m2, col("_cell2").cast("int") + 1),
          (x, c) => (x - c) * (x - c)),
        lit(0L), (a, x) => a + x))
      .groupBy(col("_cell1").cast("long").as("cell1"),
        col("_cell2").cast("long").as("cell2"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum(col("_err")).cast("long").as("recon_err"))
      .orderBy("cell1", "cell2")
  }

  /** Simplified silhouette over a FIXED quantized centroid set: per
    * vector, a = squared-L2 to its own (nearest) centroid, b = min
    * squared-L2 to any OTHER centroid, s = (b − a)/max(a, b) — the
    * standard clustering-quality score in its centroid form (per-point
    * cost O(k·d) instead of the O(n·d) pairwise definition; this is how
    * silhouette is evaluated at scale). Quantized round(v·1000) integer
    * distances (the q72 family) keep a and b exact, so the one division
    * is engine-portable; duplicate centroids (a = b = 0) guard to 0.
    *
    * Scale shape: one scan; each row meets the k-row broadcast centroid
    * table and partial-aggregates per cell map-side — corpus rows never
    * shuffle, only (cell, partial-stat) rows. Per-cell means are
    * DECIMAL-routed (order-independent).
    */
  def silhouetteQuantized(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Long]]
  ): DataFrame = {
    require(centroids.length >= 2, "silhouette needs at least 2 centroids")
    val spark = df.sparkSession
    import spark.implicits._
    val cents = broadcast(centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("_cid", "_cq"))
    val dists = df.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        transform(col(vecCol), x => round(x.cast("double") * 1000).cast("long"))
          .as("_vq"))
      .crossJoin(cents)
      .select(col(idCol), col("_cid"),
        aggregate(zip_with(col("_vq"), col("_cq"), (x, c) => (x - c) * (x - c)),
          lit(0L), (a, x) => a + x).as("_dist"))
    val perVec = dists
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("_dist"), col("_cid"))))
        .as("_sorted"))
      .select(col(idCol),
        element_at(col("_sorted"), 1).getField("_cid").as("cell"),
        element_at(col("_sorted"), 1).getField("_dist").as("_a"),
        element_at(col("_sorted"), 2).getField("_dist").as("_b"))
      .withColumn("_sil",
        when(greatest(col("_a"), col("_b")) === 0, lit(0.0))
          .otherwise((col("_b").cast("double") - col("_a").cast("double"))
            / greatest(col("_a"), col("_b")).cast("double")))
    perVec
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).cast("long").as("n_vectors"),
        round(
          sum(round(col("_sil"), 9)
            .cast(org.apache.spark.sql.types.DecimalType(18, 9))).cast("double")
            / count(lit(1)), 6).as("mean_sil"),
        round(min(col("_sil")), 6).as("min_sil"),
        round(max(col("_sil")), 6).as("max_sil"))
      .orderBy("cell")
  }

  // ---- Product Quantization (PQ): the byte-budget ANN layout -------------

  /** PQ codebooks from a FIXED rule — codeword j of subspace s is the
    * quantized subvector of row j (the k lowest ids): the same
    * fixed-quantizer trick as q72, making encode/ADC exact integer math
    * with a DuckDB twin. Production codebooks come from [[pqTrain]].
    */
  def pqCodebooksFixed(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      kCodes: Int
  ): IndexedSeq[IndexedSeq[IndexedSeq[Long]]] = {
    require(dim % m == 0, "m must divide dim")
    val d = dim / m
    val rows = df.filter(col(idCol) < kCodes).orderBy(idCol)
      .select(transform(col(vecCol),
        x => round(x.cast("double") * 1000).cast("long")).as("vq"))
      .collect().map(_.getSeq[Long](0).toIndexedSeq).toIndexedSeq
    require(rows.length == kCodes, s"need $kCodes codeword source rows")
    IndexedSeq.tabulate(m)(s => rows.map(v => v.slice(s * d, s * d + d)))
  }

  /** PQ codebooks by per-subspace KMeans (driver-side ML, like
    * [[ivfIndex]]'s coarse quantizer) — centers quantized to the same
    * `round(x·1000)` grid the encoder uses.
    */
  def pqTrain(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      m: Int,
      kCodes: Int = 16,
      seed: Long = 42L
  ): IndexedSeq[IndexedSeq[IndexedSeq[Long]]] = {
    require(dim % m == 0, "m must divide dim")
    val d = dim / m
    IndexedSeq.tabulate(m) { s =>
      val sub = df.select(array_to_vector(
        slice(transform(col(vecCol), _.cast("double")), s * d + 1, d))
        .as("_f"))
      val model = new KMeans().setK(kCodes).setSeed(seed + s)
        .setFeaturesCol("_f").fit(sub)
      model.clusterCenters.map(_.toArray.map(x =>
        java.math.BigDecimal.valueOf(x * 1000)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
        .toIndexedSeq).toIndexedSeq
    }
  }

  /** PQ encode: the vector quantized to `round(x·1000)` longs, each of the
    * `m` subvectors replaced by the index of its nearest codeword (exact
    * integer L2, ties to the lowest index — one native `ivf_argmin` per
    * subspace). 64-dim float → m bytes-worth of codes: the layout that
    * keeps billion-row tables in memory for ANN.
    */
  def pqEncode(
      vecCol: Column,
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]
  ): Column = {
    val m = codebooks.length
    val d = codebooks.head.head.length
    val vq = transform(vecCol, x => round(x.cast("double") * 1000).cast("long"))
    array((0 until m).map { s =>
      call_function("ivf_argmin",
        slice(vq, s * d + 1, d), typedLit(codebooks(s)))
    }: _*)
  }

  /** Asymmetric-distance (ADC) lookup tables for one query vector: entry
    * (s, j) = exact integer L2² between the query's subvector s and
    * codeword j. Computed once on the driver, rides the plan as one
    * literal; scoring a row is `m` array lookups.
    */
  def pqAdcTables(
      queryQuantized: IndexedSeq[Long],
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]
  ): IndexedSeq[IndexedSeq[Long]] = {
    val d = codebooks.head.head.length
    codebooks.zipWithIndex.map { case (cb, s) =>
      val qs = queryQuantized.slice(s * d, s * d + d)
      cb.map(cw => qs.zip(cw).map { case (a, b) => (a - b) * (a - b) }.sum)
    }
  }

  /** ADC score of a PQ code array against one query's lookup tables —
    * the approximate distance used for candidate ranking at scale.
    */
  def pqAdcScore(codesCol: Column, tables: IndexedSeq[IndexedSeq[Long]]): Column = {
    // explicit sum of element_at terms (the pqSdcDist pattern, r11): the
    // old aggregate-HOF fold ran interpreted AND — because codesCol is
    // referenced inside the lambda BODY — re-evaluated the whole inlined
    // encode expression once per subspace after CollapseProject folded the
    // codes alias in (8× full pqEncode per row: 4.5 s of q81's 5.2 s).
    // The multi-referenced form keeps the codes alias materialized and
    // every term codegen-able; the left-associated long sum is exact
    // either way.
    val t = typedLit(tables)
    (0 until tables.length).map { s =>
      element_at(element_at(t, s + 1),
        (element_at(codesCol, s + 1) + 1).cast("int"))
    }.reduce(_ + _)
  }

  /** PQ encode from an ALREADY-quantized `round(v·1000)` long array — lets
    * callers materialize the quantization once and feed every per-subspace
    * argmin (and the cell routing) from the same projected column instead
    * of re-evaluating the transform per consumer (the q84 HOF-input rule).
    */
  def pqEncodeQuantized(
      vqCol: Column,
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]
  ): Column = {
    val m = codebooks.length
    val d = codebooks.head.head.length
    array((0 until m).map { s =>
      call_function("ivf_argmin",
        slice(vqCol, s * d + 1, d), typedLit(codebooks(s)))
    }: _*)
  }

  /** Symmetric-distance (SDC) tables: entry (s, a, b) = exact integer L2²
    * between codewords a and b of subspace s — m·k² longs computed once on
    * the driver, riding the plan as one literal. With SDC, BOTH sides of a
    * PQ join cross the exchange as m codes (vs dim floats): the shuffle-
    * byte budget that makes an all-corpus 1-NN feasible at lake scale.
    */
  def sdcTables(
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]
  ): IndexedSeq[IndexedSeq[IndexedSeq[Long]]] =
    codebooks.map { cb =>
      cb.map(a => cb.map(b =>
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum))
    }

  /** SDC distance between two PQ code arrays: m table lookups, written as
    * an explicit sum of `element_at` terms (plain codegen'd expression —
    * no interpreted fold in the pair-scoring hot path).
    */
  def pqSdcDist(
      qCodes: Column,
      cCodes: Column,
      tables: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]
  ): Column = {
    val t = typedLit(tables)
    (0 until tables.length).map { s =>
      element_at(element_at(element_at(t, s + 1),
        (element_at(qCodes, s + 1) + 1).cast("int")),
        (element_at(cCodes, s + 1) + 1).cast("int"))
    }.reduce(_ + _)
  }

  /** The query-side IVF probe routing: the `nProbe` nearest cell ids by
    * exact integer L2² (native `ivf_topcells`, ties to the lowest cell id).
    */
  def ivfProbeCells(
      vqCol: Column,
      centroids: IndexedSeq[IndexedSeq[Long]],
      nProbe: Int
  ): Column =
    call_function("ivf_topcells", vqCol, typedLit(centroids), lit(nProbe))

  /** [[ivfAssignQuantized]] from an already-quantized long array (shares a
    * materialized `_vq` projection with [[pqEncodeQuantized]]).
    */
  def ivfAssignQuantizedLongs(
      vqCol: Column, centroids: Seq[Seq[Long]]): Column =
    call_function("ivf_argmin", vqCol, typedLit(centroids))

  /** Batch k-NN join over an IVF-PQ layout — the PRODUCTION shape of the
    * all-corpus 1-NN label-imputation channel (x205/x214): the raw-vector
    * form ships dim floats per candidate across the bucket exchange
    * (~25 GB at the 100× point); here the corpus crosses as (cell, m PQ
    * codes) and the query side as (nProbe probe cells, m PQ codes) — a
    * 64-byte-to-8-byte-class reduction on BOTH sides — and candidate
    * scoring is symmetric-distance (SDC): m integer lookups per pair into
    * the driver-built codeword-pair tables, never a vector.
    *
    * Scale shape: corpus rows land in exactly ONE cell (integer argmin);
    * a query probes its `nProbe` nearest cells, so each (q, c) pair meets
    * at most once — no dedup pass. Each query keeps its k nearest via
    * [[smallestK]], whose packed form consumes pairs map-side where the
    * cell join produces them (the q141 argmax rule). Ties break
    * (distance, then lowest c_id) identically in both engines.
    *
    * Quantization and cell/code assignment run off ONE materialized `_vq`
    * projection per side (HOF-input rule). Recall < 1 by construction
    * (coarse routing + 4-bit-per-subspace codes); PqKnnSpec pins label
    * agreement against the exact channel the way q168/q213 pin recall.
    */
  def pqKnnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: IndexedSeq[IndexedSeq[Long]],
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Long]]],
      nProbe: Int = 2
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val tables = sdcTables(codebooks)
    def quantized(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as),
        transform(col(vecCol), x => round(x.cast("double") * 1000).cast("long"))
          .as("_vq"))
    val c = quantized(corpus, "c_id")
      .select(col("c_id"),
        ivfAssignQuantizedLongs(col("_vq"), centroids).as("_cell"),
        pqEncodeQuantized(col("_vq"), codebooks).as("_ccodes"))
      .filter(col("_cell") >= 0)
      // single-file local inputs = one partition: spread the corpus before
      // the cell exchange
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    val q = quantized(queries, "q_id")
      .select(col("q_id"),
        ivfProbeCells(col("_vq"), centroids, nProbe).as("_cells"),
        pqEncodeQuantized(col("_vq"), codebooks).as("_qcodes"))
      .withColumn("_cell", explode(col("_cells")))
      .drop("_cells")
    val scored = q.join(c, Seq("_cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        pqSdcDist(col("_qcodes"), col("_ccodes"), tables).as("sdc_dist"))
    // a window or min(struct(...)) over ~10^8 pair rows sorts every pair
    // row (measured 70 of 95 s at the 100× point); smallestK packs (dist,
    // id) into the HashAggregate form whenever they fit one long — the
    // dist bound is exact driver math over the SDC tables
    val maxDist = tables.map(t => t.map(_.max).max).sum
    smallestK(scored, "q_id", "sdc_dist", "c_id", k, BigInt(maxDist),
        idRange(corpus, idCol))
      .orderBy("q_id", "rank")
  }

  /** IVF index: KMeans coarse quantizer; rows tagged with their centroid id.
    * At lake scale, write the table partitioned by `_ivf_cluster` so a probe
    * prunes partitions at the source.
    */
  final case class IvfIndex(assigned: DataFrame, centroids: Array[Array[Double]])

  def ivfIndex(
      df: DataFrame,
      vecCol: String,
      kClusters: Int = 16,
      seed: Long = 42L
  ): IvfIndex = {
    val vec = df.withColumn("_features", array_to_vector(col(vecCol)))
    val model = new KMeans()
      .setK(kClusters).setSeed(seed).setFeaturesCol("_features")
      .setPredictionCol("_ivf_cluster")
      .fit(vec)
    val assigned = model.transform(vec).drop("_features")
    IvfIndex(assigned, model.clusterCenters.map(_.toArray))
  }

  /** Persist an IVF index PARTITIONED BY `_ivf_cluster` — the billion-row
    * layout where a probe's `_ivf_cluster IN (cells)` filter prunes whole
    * partitions at the source (the scan lists and reads only the nProbe
    * cell directories; PlanSpec asserts the pruned partition count).
    * Centroids go to a sibling `<path>_centroids` parquet.
    */
  def writeIvfIndex(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode("overwrite")
      .partitionBy("_ivf_cluster").parquet(path)
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("_ivf_cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(centroidsPath(path))
  }

  /** Read a persisted IVF index; `assigned` is the partitioned table, so
    * downstream `ivfTopK` probes prune at the source.
    */
  def readIvfIndex(spark: SparkSession, path: String): IvfIndex = {
    val assigned = spark.read.parquet(path)
    val centroids = spark.read.parquet(centroidsPath(path))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    IvfIndex(assigned, centroids)
  }

  private def centroidsPath(path: String): String =
    path.stripSuffix("/") + "_centroids"

  /** IVF probe: search only the `nProbe` centroid cells nearest the query. */
  def ivfTopK(
      index: IvfIndex,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      nProbe: Int = 3
  ): DataFrame = {
    val qVec = index.assigned
      .filter(col(idCol) === queryId)
      .select(vecCol).head().getSeq[Float](0).toArray
    val cells = index.centroids.zipWithIndex
      .map { case (c, i) =>
        val d = c.zip(qVec).map { case (a, b) => (a - b) * (a - b) }.sum
        (i, d)
      }
      .sortBy(_._2).take(nProbe).map(_._1)
    // float literals so the array element type matches the stored vectors
    val qLit = array(qVec.toIndexedSeq.map(lit(_)): _*)
    index.assigned
      .filter(col("_ivf_cluster").isin(cells.toIndexedSeq: _*) && col(idCol) =!= queryId)
      .select(col(idCol), round(cosine(col(vecCol), qLit), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)
  }

  /** ANN top-k against a FIXED-RULE quantized coarse quantizer: centroids
    * are the `kCells` lowest-id vectors quantized to round(v·1000) longs,
    * so assignment and probe-cell selection are EXACT integer math (the
    * q72 family) and the whole query — routing, candidate scan, exact-
    * cosine re-rank — hash-matches a DuckDB twin (q53's registered form
    * since r6; the KMeans-trained quantizer [[ivfIndex]]/[[ivfTopK]] is
    * the production x53 channel — training is driver-ML with no SQL twin,
    * the serving path is identical).
    *
    * Scale shape = [[ivfTopK]]'s: per-row assignment is a scan-side native
    * expression; only the nProbe probed cells' rows reach the top-k.
    */
  def ivfTopKFixed(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      kCells: Int = 16,
      nProbe: Int = 3
  ): DataFrame = {
    val centroids = df.filter(col(idCol) < kCells).orderBy(idCol)
      .select(transform(col(vecCol),
        x => round(x.cast("double") * 1000).cast("long")).as("cq"))
      .collect().map(_.getSeq[Long](0).toIndexedSeq).toIndexedSeq
    val qq = df.filter(col(idCol) === queryId)
      .select(transform(col(vecCol),
        x => round(x.cast("double") * 1000).cast("long")))
      .head().getSeq[Long](0)
    val cells = centroids.zipWithIndex
      .map { case (c, i) =>
        (i, c.zip(qq).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      .sortBy { case (i, d) => (d, i) }.take(nProbe).map(_._1.toLong)
    val qv = broadcast(df.filter(col(idCol) === queryId)
      .select(col(vecCol).as("_q_vec")))
    df.withColumn("_cell", ivfAssignQuantized(col(vecCol), centroids))
      .filter(col("_cell").isin(cells: _*) && col(idCol) =!= queryId)
      .crossJoin(qv)
      .select(col(idCol),
        round(cosine(col(vecCol), col("_q_vec")), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)
  }

  /** Persist an IVF-PQ index: rows partitioned by coarse cell with their PQ
    * codes MATERIALIZED and the raw vectors DROPPED — the serving layout
    * where a probe reads only the nProbe cell directories and ranks rows by
    * ADC without ever touching an embedding (codes are m longs vs dim
    * floats: the byte budget that keeps billion-row indexes scan-cheap).
    * Codebooks and centroids go to sidecar parquets.
    */
  def writeIvfPqIndex(
      index: IvfIndex,
      vecCol: String,
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Long]]],
      path: String
  ): Unit = {
    index.assigned
      .withColumn("_pq_codes", pqEncode(col(vecCol), codebooks))
      .drop(vecCol)
      .write.mode("overwrite").partitionBy("_ivf_cluster").parquet(path)
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("_ivf_cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(centroidsPath(path))
    codebooks.zipWithIndex
      .flatMap { case (cb, s) => cb.zipWithIndex.map { case (cw, c) => (s, c, cw) } }
      .toDF("s_idx", "c_idx", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(s"${path}_codebooks")
  }

  /** ADC top-k against a PERSISTED IVF-PQ index: route the query to its
    * nProbe nearest cells (centroid sidecar, driver math), then rank only
    * those cells' rows by ADC lookups on the stored codes — the scan reads
    * nProbe partition directories and never a vector column
    * (PlanSpec-asserted).
    */
  def ivfPqTopK(
      spark: SparkSession,
      path: String,
      idCol: String,
      queryVec: IndexedSeq[Float],
      k: Int,
      nProbe: Int = 3
  ): DataFrame = {
    val centroids = spark.read.parquet(centroidsPath(path))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val codebooks = spark.read.parquet(s"${path}_codebooks")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toIndexedSeq))
      .groupBy(_._1).toIndexedSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toIndexedSeq)
    val q = queryVec.map(_.toDouble).toArray
    val cells = centroids.zipWithIndex
      .map { case (c, i) =>
        (i, c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      .sortBy { case (i, d) => (d, i) }.take(nProbe).map(_._1)
    val qq = q.map(x => java.math.BigDecimal.valueOf(x * 1000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()).toIndexedSeq
    val tables = pqAdcTables(qq, codebooks)
    spark.read.parquet(path)
      .filter(col("_ivf_cluster").isin(cells.toIndexedSeq: _*))
      .select(col(idCol), pqAdcScore(col("_pq_codes"), tables).as("adc"))
      .orderBy(asc("adc"), asc(idCol))
      .limit(k)
  }

  /** All near-duplicate embedding pairs with cosine ≥ threshold, LSH-bucketed
    * (same-bucket self-join instead of all-pairs), exact-verified.
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      nBits: Int = 8,
      seed: Long = 42L
  ): DataFrame = {
    val b = df.select(col(idCol), col(vecCol))
      .withColumn("_bucket", lshBucket(col(vecCol), dim, nBits, seed))
    val a = b.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"), col("_bucket"))
      // probe side spread across cores (single-file inputs = one partition)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val c = b.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"), col("_bucket"))
    a.join(c, Seq("_bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(cosine(col("vec_a"), col("vec_b")), 4))
      .filter(graft.util.PlanHints.noPushdown(col("cos_sim") >= threshold))
      .select("id_a", "id_b", "cos_sim")
      .orderBy("id_a", "id_b")
  }

  /** Int8 affine-quantization census: per vector, the [min,max] scale an
    * 8-bit (0..255) encoding would use and the reconstruction error it
    * costs — the storage decision for a 100-TB float32 embedding corpus
    * (4 B/dim → 1 B/dim + 8 B of scale per vector).
    *
    * Engine-exact by construction: codes are round((x−lo)/scale) (both
    * engines round half-away-from-zero for the non-negative argument),
    * and per-vector error totals are sums of 9-decimal-rounded
    * per-element errors routed through DECIMAL — order-independent, so
    * partitioning can never change the reported error. Zero-range
    * vectors quantize to code 0 with zero error (CASE-guarded in both
    * engines). One posexplode pass; only (id, element) pairs shuffle.
    */
  def int8QuantizationCensus(
      df: DataFrame,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    val lo = array_min(col(vecCol)).cast("double")
    val hi = array_max(col(vecCol)).cast("double")
    val exploded = df
      .select(col(idCol), col(vecCol).as("_v"), lo.as("_lo"), hi.as("_hi"),
        ((hi - lo) / lit(255.0).cast("double")).as("_scale"))
      .select(col(idCol), col("_lo"), col("_hi"), col("_scale"),
        posexplode(col("_v")).as(Seq("_i", "_e")))
      .withColumn("_x", col("_e").cast("double"))
      .withColumn("_q",
        when(col("_scale") === 0, lit(0.0).cast("double"))
          .otherwise(round((col("_x") - col("_lo")) / col("_scale"), 0)))
      .withColumn("_err",
        abs(col("_x") - (col("_lo") + col("_q") * col("_scale"))))
    exploded
      .groupBy(col(idCol), col("_lo"), col("_hi"))
      .agg(
        count(lit(1)).cast("long").as("n_dims"),
        sum(round(col("_err"), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .cast("double").as("total_abs_err"),
        max(col("_q")).cast("long").as("max_q"))
      .select(col(idCol), round(col("_lo"), 6).as("v_min"),
        round(col("_hi"), 6).as("v_max"), col("n_dims"),
        col("total_abs_err"), col("max_q"))
  }

  /** Hard-negative mining for contrastive training: for every anchor
    * vector, the most-similar vector with a DIFFERENT label (ties on
    * similarity break to the lower candidate id) — the canonical pair-
    * construction step for embedding-model training, where a "hard"
    * negative is a cross-label neighbor the model currently scores high.
    *
    * Scale shape: the candidate side is broadcast and the anchor side
    * scans — an exact O(n²·d) cross product by design at bench scale; at
    * lake scale feed candidates from lshBucket buckets / IVF cells
    * (q33/q53 machinery) and keep this exact ranking as the verify stage,
    * the same ANN-then-verify split q34 uses. The per-anchor argmax runs
    * as max-of-struct AGGREGATION, not a window: partial aggregation
    * collapses every partition to ≤ n_anchors rows map-side, so the
    * O(n²) pair stream is consumed where it is produced and never
    * crosses an exchange (the window form moved every pair row through
    * a full shuffle+sort; 1.6× slower on a 20k-vector / 400M-pair run).
    * Struct max compares (cos, −id) lexicographically = highest
    * similarity, ties to the lowest id; double ordering matches the
    * DuckDB twin because both engines compute the identical sequential
    * IEEE dot/norm sums (the q31 argument). Null/zero-norm vectors are
    * excluded on both sides (cosine undefined there).
    */
  def hardNegatives(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String
  ): DataFrame = {
    val valid = df
      .select(col(idCol), col(vecCol), col(labelCol))
      .filter(col(vecCol).isNotNull && norm(col(vecCol)) > 0)
    val anchors = valid.select(col(idCol).as("vec_id"),
        col(vecCol).as("_va"), col(labelCol).as("label"))
      // single-file local inputs = one partition: spread the pair scan
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val cands = valid.select(col(idCol).as("hard_neg_id"),
      col(vecCol).as("_vb"), col(labelCol).as("hard_neg_label"))
    hardestPerAnchor(
      anchors.crossJoin(broadcast(cands))
        .filter(col("label") =!= col("hard_neg_label")),
      cands.select("hard_neg_id", "hard_neg_label"))
  }

  /** Shared argmax tail of [[hardNegatives]]/[[hardNegativesLsh]]: the
    * per-anchor hardest negative via the PRIMITIVE-buffer argmax
    * ([[graft.functions.ArgMaxTiedLow]]) — a codegen HashAggregate with
    * map-side combine (max(struct(…)) has no hash buffer and plans as a
    * SortAggregate that sorts the whole pair stream; q141's 400M-row sort
    * was 84 s at 10× and spilled past disk at 100×). The negative's label
    * re-joins on the winning id afterwards (one broadcast join against
    * the id→label table — the price of primitive buffers).
    */
  private def hardestPerAnchor(
      pairs: DataFrame,
      labels: DataFrame
  ): DataFrame =
    pairs
      .withColumn("_cs", cosine(col("_va"), col("_vb")))
      .groupBy(col("vec_id"), col("label"))
      .agg(graft.functions.GraftFunctions.argMaxTiedLow(
        col("_cs"), col("hard_neg_id").cast("long")).as("_b"))
      // an anchor whose candidates ALL scored null has no well-defined
      // hardest negative: argMaxTiedLow returns the sentinel id
      // Long.MaxValue for such a group. Drop it EXPLICITLY (per-anchor
      // rows — free) instead of per-pair score filtering (O(pairs) — the
      // q205 lesson), so the label join below can never silently drop a
      // row: callers exclude zero-norm vectors, making NaN unreachable
      .filter(col("_b.id") =!= Long.MaxValue)
      .join(broadcast(labels), col("_b.id") === col("hard_neg_id"))
      .select(col("vec_id"), col("label"), col("hard_neg_id"),
        col("hard_neg_label"), round(col("_b.ord"), 4).as("cos_sim"))
      .orderBy("vec_id")

  /** LAKE-SCALE hard-negative mining: the candidate set comes from the
    * multi-probe SRP bucket join (the q78 knnJoin channel) instead of the
    * full cross product — each anchor only meets candidates in its own
    * bucket plus the `probeHamming`-bit-flip neighbors, then the SAME
    * exact-cosine cross-label argmax as [[hardNegatives]] ranks them
    * (which stays available as the verify stage, the ANN-then-verify
    * split q34 uses).
    *
    * Scale shape: the anchor side explodes into its ≤ nBits+1 probe
    * masks and equi-joins the bucketed candidate side — the corpus is
    * never replicated, no quadratic predicate ever forms, and a given
    * (anchor, candidate) pair meets in at most ONE probe bucket (the
    * matching mask is uniquely anchor⊕candidate), so no dedup pass.
    * Candidate volume is sum of bucket-pair products, not n²: at 100×
    * replication the pair stream shrinks ~2^nBits-fold vs brute force.
    * Anchors whose probe buckets hold no cross-label vector drop out —
    * recall < 1 by construction (q168 pins the recall against the exact
    * miner in both engines). Per-anchor argmax is the same map-side
    * struct-max aggregation as [[hardNegatives]].
    *
    * `portable = true` uses the quantized integer plane family
    * ([[lshBucketQuantized]]) so the whole channel has a DuckDB twin;
    * production keeps the seeded-Gaussian native `srp_bucket`.
    */
  def hardNegativesLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      dim: Int,
      nBits: Int = 8,
      probeHamming: Int = 1,
      seed: Long = 42L,
      portable: Boolean = false,
      saltBucketsAbove: Int = 0
  ): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 1,
      "probe masks are enumerated; Hamming 0 or 1 supported")
    def bucketOf(c: Column): Column =
      if (portable) lshBucketQuantized(c, dim, nBits)
      else lshBucket(c, dim, nBits, seed)
    val valid = df
      .select(col(idCol), col(vecCol), col(labelCol))
      .filter(col(vecCol).isNotNull && norm(col(vecCol)) > 0)
    val masks: Seq[Long] =
      0L +: (if (probeHamming >= 1) (0 until nBits).map(i => 1L << i) else Nil)
    val anchors = valid
      .select(col(idCol).as("vec_id"), col(vecCol).as("_va"),
        col(labelCol).as("label"))
      .withColumn("_abucket", bucketOf(col("_va")))
      .withColumn("_bucket",
        explode(array(masks.map(m => col("_abucket").bitwiseXOR(lit(m))): _*)))
      .drop("_abucket")
    val cands = valid
      .select(col(idCol).as("hard_neg_id"), col(vecCol).as("_vb"),
        col(labelCol).as("hard_neg_label"))
      .withColumn("_bucket", bucketOf(col("_vb")))
      // single-file local inputs = one partition: spread the bucket join
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    // map-side argmax partial agg means the salted split's extra
    // (bucket, salt) groups merge for free at the final aggregation
    hardestPerAnchor(
      saltedBucketJoin(anchors, cands, "_bucket", "vec_id", saltBucketsAbove)
        .filter(col("label") =!= col("hard_neg_label")),
      cands.select("hard_neg_id", "hard_neg_label"))
  }

  /** Embedding CENTROID DRIFT between two corpus snapshots, per group:
    * the monitor a training pipeline runs when the embedding model (or
    * the corpus mix) changes — per group it reports both snapshot sizes
    * and the cosine between the group's mean vectors. cos(c₁, c₂) is
    * SCALE-INVARIANT, so it equals the cosine of the component SUM
    * vectors — no division by n ever happens, and with components
    * quantized to integer `quantScale`-units the sums are exact
    * order-independent longs: dot/norm cross-products run in
    * DECIMAL(18,0)² = width-37 exact arithmetic (the house decimal-width
    * rule), and the single readout is a fixed-shape double expression —
    * which is what makes the q216 DuckDB twin hash-exact.
    *
    * Scale shape: one posexplode + (group, j) partial-aggregated sum per
    * snapshot — shuffled rows are |groups|·dim counters, never vectors —
    * then a |groups|·dim join and a |groups|-row readout. Null groups and
    * null vectors are dropped (monitoring contract: a group must exist in
    * BOTH snapshots to have a drift number — inner join, mirroring the
    * oracle).
    */
  def centroidDrift(
      v1: DataFrame,
      v2: DataFrame,
      groupCol: String,
      vecCol: String,
      quantScale: Int = 1000
  ): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def sums(df: DataFrame, tag: String): DataFrame = df
      .filter(col(groupCol).isNotNull && col(vecCol).isNotNull)
      .select(col(groupCol).cast("long").as("_g"),
        posexplode(col(vecCol)).as(Seq("_j", "_v")))
      .groupBy("_g", "_j")
      .agg(sum(round(col("_v").cast("double") * quantScale).cast("long"))
        .cast(DecimalType(18, 0)).as(s"_s$tag"))
    def counts(df: DataFrame, name: String): DataFrame = df
      .filter(col(groupCol).isNotNull && col(vecCol).isNotNull)
      .groupBy(col(groupCol).cast("long").as("_g"))
      .agg(count(lit(1)).cast("long").as(name))
    val cross = sums(v1, "1").join(sums(v2, "2"), Seq("_g", "_j"))
      .groupBy("_g")
      .agg(sum(col("_s1") * col("_s2")).as("_dot"),
        sum(col("_s1") * col("_s1")).as("_a2"),
        sum(col("_s2") * col("_s2")).as("_b2"))
    cross
      .join(counts(v1, "n_v1"), Seq("_g"))
      .join(counts(v2, "n_v2"), Seq("_g"))
      .select(col("_g").as(groupCol), col("n_v1"), col("n_v2"),
        when(col("_a2") === 0 || col("_b2") === 0, lit(0.0))
          .otherwise(col("_dot").cast("double") /
            (sqrt(col("_a2").cast("double")) * sqrt(col("_b2").cast("double"))))
          .as("centroid_cos"))
      .orderBy(groupCol)
  }

  // ------------------------------------------- graph-based ANN (r11)

  /** Quantized integer vector (the q70/q75 portable family): exact
    * cross-engine distance arithmetic on longs.
    */
  def quantVec(c: Column): Column =
    transform(c, x => round(x.cast("double") * 1000).cast("long"))

  /** Integer squared L2 between two quantized vectors — exact long math
    * (64 dims × (≤4000)² stays far under Long range), via graft's native
    * fused expression (whole-stage codegen; the composable HOF form runs
    * interpreted and allocates per evaluation — r11: the q258 graph
    * build spent its whole budget there). Its HOF twin lives in the tests
    * (ScoringTwinsSpec pins the two on generated input).
    */
  def qdistL2(a: Column, b: Column): Column =
    call_function("qdist_l2", a, b)

  /** Degree-capped EXACT kNN graph over quantized vectors: for every
    * node its `degree` nearest by (integer L2, id) — the ORACLE
    * channel's index build (all-pairs, sf-gated like the q205 family;
    * [[knnGraphBucketed]] is the scale build). Output (s, d).
    *
    * Per-node top-`degree` is [[smallestK]] by (qd, d), packed whenever
    * the [[quantBounds]] of the input fit a long.
    */
  def knnGraphExact(df: DataFrame, idCol: String, vecCol: String,
      degree: Int): DataFrame = {
    val sp = df.sparkSession.sparkContext.defaultParallelism
    val v = df.select(col(idCol).as("s"), quantVec(col(vecCol)).as("_vs"))
      .repartition(sp)
    val w = df.select(col(idCol).as("d"), quantVec(col(vecCol)).as("_vd"))
    val scored = v.crossJoin(w).filter(col("s") =!= col("d"))
      .withColumn("_qd", qdistL2(col("_vs"), col("_vd")))
    val (ids, qdMax) = quantBounds(df, idCol, vecCol)
    smallestK(scored, "s", "_qd", "d", degree, qdMax, ids).select("s", "d")
  }

  /** Production graph build: the bucketed [[knnJoin]] (SRP buckets +
    * multi-probe equi-join, never all-pairs) degree-capped per node.
    * Nodes whose probe buckets hold no other vector get no out-edges —
    * the honest recall trade of every bucketed index build.
    */
  def knnGraphBucketed(df: DataFrame, idCol: String, vecCol: String,
      degree: Int, dim: Int, nBits: Int = 12, probeHamming: Int = 1,
      portable: Boolean = false, saltBucketsAbove: Int = 0): DataFrame =
    knnJoin(df, df, idCol, vecCol, k = degree, dim = dim, nBits = nBits,
      probeHamming = probeHamming, portable = portable,
      saltBucketsAbove = saltBucketsAbove)
      .select(col("q_id").as("s"), col("c_id").as("d"))

  /** SYNCHRONIZED fixed-step beam search over a neighbor graph (the
    * HNSW-class query path, expressed Spark-first): all queries advance
    * together — each hop expands the whole beam's out-edges in ONE
    * equi-join against the edge list, scores candidates in ONE pass
    * over the vector table (broadcast candidate set, vectors never
    * shuffle), and keeps the best `ef` per query by (integer L2, id).
    * `hops` rounds, then top-`k` of the final beam (query itself
    * excluded). Deterministic by construction — quantized distances and
    * id tie-breaks — which is what makes the whole search (graph build
    * included) DuckDB-replayable in q258's unrolled oracle.
    *
    * A per-row plan-payload expression (the Aho-Corasick pattern) was
    * considered and rejected: the graph+vectors payload is the INDEX —
    * data-sized, not constant-sized — and belongs distributed; the
    * synchronized-round join form keeps every hop a bucket-local
    * equi-join at any corpus size. Lineage is cut per hop
    * (localCheckpoint, the house iterative-op rule).
    *
    * Returns (q, v, qd, rank): top-k candidate ids per query.
    */
  def beamSearchTopK(df: DataFrame, idCol: String, vecCol: String,
      graph: DataFrame, queryPred: Column, k: Int, ef: Int,
      hops: Int, entryId: Long): DataFrame = {
    val (ids, qdMax) = quantBounds(df, idCol, vecCol)
    beamSearchTopKWithBounds(df, idCol, vecCol, graph, queryPred, k, ef,
      hops, entryId, packBits(ids, qdMax))
  }

  /** The pack bounds of quantized-vector scores, in one tiny aggregate
    * job: the id range and the largest integer L2² two vectors can reach,
    * dim·(2·maxAbs)². The range is None (callers take the window form)
    * for non-integral ids or when no vector has a component.
    */
  private[graft] def quantBounds(df: DataFrame, idCol: String,
      vecCol: String): (Option[(Long, Long)], BigInt) = {
    if (!integralId(df, idCol)) return (None, BigInt(0))
    val b = df.select(col(idCol).cast("long").as("_i"),
        quantVec(col(vecCol)).as("_q"))
      .agg(min(col("_i")), max(col("_i")),
        max(array_max(transform(col("_q"), x => abs(x)))),
        max(size(col("_q"))))
      .head()
    // all-null/empty vectors aggregate slots 2/3 to null
    if (b.isNullAt(0) || b.isNullAt(2) || b.isNullAt(3)) (None, BigInt(0))
    else {
      val maxAbs = BigInt(b.getLong(2))
      (Some(b.getLong(0) -> b.getLong(1)),
        BigInt(b.getInt(3)) * (2 * maxAbs) * (2 * maxAbs))
    }
  }

  private[graft] def beamSearchTopKWithBounds(df: DataFrame, idCol: String,
      vecCol: String, graph: DataFrame, queryPred: Column, k: Int, ef: Int,
      hops: Int, entryId: Long, idBits: Int): DataFrame = {
    val idType = df.schema(df.schema.fieldIndex(idCol)).dataType
    val vecs = df.select(col(idCol).as("v"), quantVec(col(vecCol)).as("_vv"))
    val queries = df.filter(queryPred)
      .select(col(idCol).as("q"), quantVec(col(vecCol)).as("_qv"))

    if (idBits > 0) {
      // packed path (r11): the beam state is one long per member —
      // shiftleft(qd, idBits) + id preserves the (qd, id) order — so each
      // hop's merge + dedup + top-ef is ONE tiny groupBy (sorted distinct
      // array, sliced to ef) instead of a distinct exchange plus a window
      // exchange, and the final per-query ranking is array arithmetic
      // instead of a re-scoring pass + window. The beam is query-batch-
      // bounded (nq·ef rows) at ANY corpus size, so collect_list here is
      // safe by construction. All checkpoints LAZY: the whole search
      // materializes inside the caller's one action instead of one
      // blocking job per hop (12 hop-jobs across q258's three widths
      // were pure scheduling overhead).
      val mask = (1L << idBits) - 1
      def unpackV(p: Column): Column = p.bitwiseAND(lit(mask)).cast(idType)
      def scorePairs(cand: DataFrame): DataFrame =
        vecs.join(broadcast(cand), Seq("v"))
          .join(broadcast(queries), Seq("q"))
          .select(col("q"),
            (shiftleft(qdistL2(col("_vv"), col("_qv")), idBits) +
              col("v").cast("long")).as("_pk"))
      var beam = scorePairs(
          queries.select(col("q"), lit(entryId).cast(idType).as("v")))
        .localCheckpoint(false)
      var lastSorted: DataFrame = null
      // r12 (ADVICE): hops == 0 never enters the loop — rank the
      // entry-point beam itself instead of NPE-ing on a null lastSorted
      // (matching the window fallback's behavior)
      if (hops == 0)
        lastSorted = beam.groupBy("q")
          .agg(slice(array_sort(array_distinct(collect_list(col("_pk")))),
            1, ef).as("_bs"))
      for (_ <- 1 to hops) {
        val expansion = beam
          .select(col("q"), unpackV(col("_pk")).as("v"))
          .join(graph, col("v") === graph("s"))
          .select(col("q"), graph("d").as("v"))
        val merged = beam.unionByName(scorePairs(expansion))
        lastSorted = merged.groupBy("q")
          .agg(slice(array_sort(array_distinct(collect_list(col("_pk")))),
            1, ef).as("_bs"))
          .localCheckpoint(false)
        beam = lastSorted
          .select(col("q"), explode(col("_bs")).as("_pk"))
      }
      // final top-k of the ef-beam, query itself excluded — array ops on
      // the already-sorted beam, no re-scoring, no window
      lastSorted
        .select(col("q"), posexplode(slice(
          filter(col("_bs"), p => unpackV(p) =!= col("q")), 1, k))
          .as(Seq("_r0", "_pk")))
        .select(col("q"), unpackV(col("_pk")).as("v"),
          shiftright(col("_pk"), idBits).as("qd"),
          (col("_r0") + 1).cast("long").as("rank"))
    } else {
      // general fallback: the windowed definition
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("q").orderBy(col("_qd"), col("v"))
      def score(cand: DataFrame): DataFrame =
        vecs.join(broadcast(cand), Seq("v"))
          .join(broadcast(queries), Seq("q"))
          .withColumn("_qd", qdistL2(col("_vv"), col("_qv")))
      var beam = queries.select(col("q"), lit(entryId).as("v"))
      for (_ <- 1 to hops) {
        val expanded = beam.union(
            beam.join(graph, beam("v") === graph("s"))
              .select(beam("q"), graph("d").as("v")))
          .distinct()
        beam = score(expanded)
          .withColumn("_rn", row_number().over(win))
          .filter(col("_rn") <= ef)
          .select("q", "v")
          .localCheckpoint(false)
      }
      score(beam)
        .filter(col("q") =!= col("v"))
        .withColumn("rank", row_number().over(win).cast("long"))
        .filter(col("rank") <= k)
        .select(col("q"), col("v"), col("_qd").as("qd"), col("rank"))
    }
  }

  /** The q258 readout: recall@k of the beam search against exact brute
    * force, one row per beam width — the operating curve that prices
    * `ef` (the q248 pattern). recall = |beam top-k ∩ exact top-k| /
    * (n_queries·k), exact rational division. On the driver while the
    * vectors and graph fit the one [[graft.util.DriverBudget]].
    */
  def beamRecallCurve(df: DataFrame, idCol: String, vecCol: String,
      graph: DataFrame, queryPred: Column, k: Int, efs: Seq[Int],
      hops: Int, entryId: Long): DataFrame = {
    // the whole search state is |vectors|·dim quantized longs plus the
    // edge list, and the synchronized-round join form pays scheduling
    // latency, not compute. When the QUANTIZED vector table and the graph
    // fit the driver budget, the same integer search runs there:
    // quantization still happens in Spark (quantVec is collected),
    // distances are the same wrapping long arithmetic, and every cut is
    // the (qd, id) signed order of BOTH the packed and the windowed
    // distributed forms — so results are bit-identical. Past the budget
    // (or with non-integral ids or ragged vectors) the distributed
    // machinery below runs.
    locally {
      if (integralId(df, idCol) && DriverBudget.bytes > 0) {
        val table = df.select(col(idCol).cast("long").as("v"),
          quantVec(col(vecCol)).as("_vv"), queryPred.as("_isq"))
        // a row holds the id, the vector and its elements, and the flag;
        // the first row's width prices every row (a ragged or null vector
        // takes the distributed path anyway)
        val width = table.select(size(col("_vv"))).head(1).headOption
          .fold(0)(_.getInt(0))
        val read = if (width < 0) None
          else DriverBudget.collect(table, DriverBudget.rowBytes(3 + width))
        val vrows = read.getOrElse(Array.empty[Row])
        val uniform = read.nonEmpty &&
          vrows.forall(r => !r.isNullAt(0) && !r.isNullAt(1) &&
            !r.getSeq[Any](1).contains(null)) &&
          vrows.map(_.getSeq[Long](1).length).distinct.length <= 1 &&
          vrows.map(_.getLong(0)).distinct.length == vrows.length
        if (uniform) {
          val gcols = graph.columns
          DriverGraph.collect(graph.select(col(gcols(0)).cast("long"),
              col(gcols(1)).cast("long"))) match {
            case Some(g) =>
              val n = vrows.length
              val ids = new Array[Long](n)
              val vv = new Array[Array[Long]](n)
              val isQ = new Array[Boolean](n)
              val idx = new java.util.HashMap[java.lang.Long, Integer](n * 2)
              var i = 0
              while (i < n) {
                val r = vrows(i)
                ids(i) = r.getLong(0)
                vv(i) = r.getSeq[Long](1).toArray
                isQ(i) = !r.isNullAt(2) && r.getBoolean(2)
                idx.put(ids(i), i)
                i += 1
              }
              // CSR out-adjacency (directed, as the join consumed it) over
              // the vector-table index. An edge endpoint with no vector row
              // never scores in the distributed join either — its edge is
              // dropped via the builder's negative sentinel
              val at = g.ids.map { x =>
                val i = idx.get(x); if (i == null) -1 else i.intValue()
              }
              val from = Array.tabulate(g.m)(p =>
                if (at(g.dst(p)) < 0) -1 else at(g.src(p)))
              val (start, adj) = DriverGraph.csr(n, from, g.dst.map(at(_)))
              // same wrapping long arithmetic as the qdist_l2 expression
              def qd(a: Array[Long], b: Array[Long]): Long = {
                var s = 0L
                var j = 0
                while (j < a.length) {
                  val d = a(j) - b(j); s += d * d; j += 1
                }
                s
              }
              // (qd, id) ascending — the shared order of the packed AND
              // windowed forms
              def lt(qd1: Long, v1: Long, qd2: Long, v2: Long): Boolean =
                qd1 < qd2 || (qd1 == qd2 && v1 < v2)
              val qIdx = (0 until n).filter(isQ)
              val nq = qIdx.length.toLong
              val entry = idx.get(entryId)
              val hits = scala.collection.mutable.Map.empty[Int, Long]
              efs.foreach(ef => hits(ef) = 0L)
              for (qi <- qIdx) {
                val qv = vv(qi)
                // brute-force exact top-k by (qd, id), self excluded
                val bqd = new Array[Long](n)
                i = 0
                while (i < n) { bqd(i) = qd(qv, vv(i)); i += 1 }
                val order = (0 until n).filter(_ != qi).sortWith((a, b) =>
                  lt(bqd(a), ids(a), bqd(b), ids(b)))
                val exact = order.take(k).toSet
                for (ef <- efs) {
                  // beam: sorted-distinct (qd, id) member set, cut to ef
                  var beam: Vector[Int] =
                    if (entry == null) Vector.empty else Vector(entry.intValue())
                  for (_ <- 1 to hops) {
                    val cand = scala.collection.mutable.LinkedHashSet.empty[Int]
                    beam.foreach(cand += _)
                    beam.foreach { b =>
                      var e = start(b)
                      while (e < start(b + 1)) { cand += adj(e); e += 1 }
                    }
                    beam = cand.toVector
                      .sortWith((a, b) => lt(bqd(a), ids(a), bqd(b), ids(b)))
                      .take(ef)
                  }
                  val top = beam.filter(_ != qi).take(k)
                  val h = top.count(exact.contains).toLong
                  hits(ef) += h
                }
              }
              val spark = df.sparkSession
              import spark.implicits._
              return efs.map(ef => ef -> hits(ef))
                .toDF("_ef", "_m")
                .select(col("_ef").cast("long").as("beam_width"),
                  lit(nq).as("n_queries"),
                  round(col("_m").cast("double") /
                    lit((nq * k).toDouble), 4).as("recall_at_k"))
                .orderBy("beam_width")
            case None =>
          }
        }
      }
    }
    val vecs = df.select(col(idCol).as("v"), quantVec(col(vecCol)).as("_vv"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val queries = df.filter(queryPred)
      .select(col(idCol).as("q"), quantVec(col(vecCol)).as("_qv"))
    val nq = queries.count()
    // pack bounds computed ONCE and shared by brute force + every width
    val (ids, qdMax) = quantBounds(df, idCol, vecCol)
    val idBits = packBits(ids, qdMax)
    val scored = vecs.crossJoin(broadcast(queries))
      .filter(col("q") =!= col("v"))
      .withColumn("_qd", qdistL2(col("_vv"), col("_qv")))
    val brute = smallestK(scored, "q", "_qd", "v", k, qdMax, ids)
      .select("q", "v")
      .localCheckpoint() // EAGER: shared by the concurrently-driven widths
    // the per-width searches are independent serial chains of tiny stages
    // (hop -> broadcast -> hop ...); driving them from driver threads
    // overlaps those chains (guide-§2.6 back-fill) instead of paying each
    // width's scheduling latency in sequence. Only the hit COUNT (one long
    // per width) is collected; the readout arithmetic stays the identical
    // Spark expressions on a local relation. (r12: a one-plan-per-hop
    // width fusion — _ef as a beam-state column — was measured at 6.3 s
    // vs 3.0 s for this form at sf0.1: it halved the job count but
    // serialized the chains, and scheduling latency, not compute, is the
    // cost; the driver fast path above is what actually removes it.)
    val counts = Legs.concurrently(efs.map { ef => () =>
      ef -> beamSearchTopKWithBounds(df, idCol, vecCol, graph,
          queryPred, k, ef, hops, entryId, idBits)
        .select("q", "v").join(brute, Seq("q", "v"))
        .agg(count(lit(1)).as("_m"))
        .head().getLong(0)
    }: _*)
    val spark = df.sparkSession
    import spark.implicits._
    counts.toDF("_ef", "_m")
      .select(col("_ef").cast("long").as("beam_width"),
        lit(nq).as("n_queries"),
        round(col("_m").cast("double") /
          lit((nq * k).toDouble), 4).as("recall_at_k"))
      .orderBy("beam_width")
  }
}
