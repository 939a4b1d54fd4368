package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextAnalysis}
import graft.queries.Q._

/** Text-analysis + dedup operators over `documents`, oracle-backed where the
  * computation is engine-neutral (md5/regex/set algebra); hash-function-
  * dependent operators (minhash/simhash — xxhash64 has no DuckDB twin) get
  * rows-only checks here and exact-semantics ScalaTest specs.
  */
object TextQueries {

  /** Logical key for the q140-produced / q143-consumed verified pair
    * index (sf dir + gram/threshold operating point + version token —
    * bump "v1" if prefixJaccardPairs semantics ever change, or delete
    * /tmp/graft_artifacts). Producer persists it to the lake
    * (Materialized.putPersistent), so consumers compose from COLD START
    * (a fresh session reads the parquet artifact instead of re-deriving).
    */
  private def pairIndexParts(dir: String): Seq[String] =
    Seq(dir, "prefix_jaccard_pairs", "n=3", "minSim=0.5", "v2")

  /** q171 window width, q172 winnow width. ABOVE `defs` — the oracle SQL
    * interpolates them eagerly while `defs` is constructed (the q75
    * init-order trap).
    */
  private val SubK = 40
  private val WinW = 8

  /** q244 blocklist patterns — deliberately nested ("a"⊂"ta"⊂"tab"⊂
    * "table", "an"⊂"scan", "art"⊂"part", "val"⊂"value") and
    * cross-word ("s s", "e t") to exercise Aho-Corasick output links
    * and overlapping counts. ABOVE `defs` (the q75 init-order trap).
    */
  private val AcPatterns = Seq("a", "ta", "tab", "table", "an", "scan",
    "art", "part", "row", "val", "value", "s s", "e t")

  /** q246 frozen EXTERNAL WordPiece vocabulary (the pieces beyond the
    * printable-ASCII charset floor) — a fixed published-vocab stand-in,
    * inlined identically into the vocab FILE the Spark side loads and
    * the DuckDB VALUES list. Multi-char continuations ("ing", "tion")
    * force genuinely different greedy boundaries than q243's corpus-
    * derived vocabulary. ABOVE `defs` (the q75 init-order trap).
    */
  private val ExtWhole = Seq("the", "and", "data", "with", "that", "for",
    "this", "value", "table", "stream", "part", "pro", "con", "re", "un",
    "in", "de", "ex", "st", "th", "wh", "sh", "ch", "qu")
  private val ExtCont = Seq("ing", "ed", "er", "es", "est", "ly", "tion",
    "ment", "able", "ness", "ous", "al", "ic", "at", "it", "an", "en",
    "on", "le", "re", "te", "se", "nt", "nd")

  /** The 16-step greedy longest-match unroll shared by the q243/q246
    * oracles: per step, join the longest matching piece at the cursor
    * (`m$k`) and advance (`s${k+1}`), carrying the step-weighted
    * portable-md5 checksum. Expects CTEs `vocab(piece, is_cont)` and
    * `s0(word, wlen, pos, n, chk, unk)`; 16 steps cover every ≤16-char
    * word (each step advances ≥1 char). Every chained CTE is
    * MATERIALIZED — DuckDB re-evaluates plain CTE chains exponentially.
    * ABOVE `defs` (the q75 init-order trap).
    */
  private val wpH = (rendered: String) =>
    s"(('0x' || substr(md5($rendered), 1, 15))::BIGINT % 1000000)"
  private val wpUnrollSteps: String = (0 until 16).map { k =>
    s"""m$k AS MATERIALIZED (
       |  SELECT s.word, s.pos, max(len(v.piece)) AS plen
       |  FROM s$k s JOIN vocab v
       |    ON v.is_cont = (s.pos > 0)
       |   AND v.piece = substr(s.word, s.pos + 1, len(v.piece))
       |  WHERE NOT s.unk AND s.pos < s.wlen
       |  GROUP BY 1, 2),
       |s${k + 1} AS MATERIALIZED (
       |  SELECT s.word, s.wlen,
       |    CASE WHEN s.unk OR s.pos >= s.wlen THEN s.pos
       |         ELSE s.pos + m.plen END AS pos,
       |    CASE WHEN s.unk OR s.pos >= s.wlen THEN s.n
       |         ELSE s.n + 1 END AS n,
       |    CASE WHEN s.unk OR s.pos >= s.wlen THEN s.chk
       |         ELSE s.chk + (s.n + 1) * ${wpH(
      "CASE WHEN s.pos = 0 THEN substr(s.word, 1, m.plen) " +
        "ELSE '##' || substr(s.word, s.pos + 1, m.plen) END")} END
       |      AS chk,
       |    s.unk
       |  FROM s$k s LEFT JOIN m$k m
       |    ON s.word = m.word AND s.pos = m.pos)""".stripMargin
  }.mkString(",\n")

  /** Shared tail of the q243/q246 oracles: UNK collapse + per-source
    * occurrence-weighted census. Expects `occ(source, word, occ)` and the
    * unroll's `s16`. ABOVE `defs` (the q75 init-order trap).
    */
  private val wpCensusTail: String =
    """seg AS (
      |  SELECT word,
      |    CASE WHEN unk THEN 1::BIGINT ELSE n END AS n_pieces,
      |    CASE WHEN unk THEN 1::BIGINT ELSE 0::BIGINT END AS unkf,
      |    CASE WHEN unk THEN 0::BIGINT ELSE chk END AS wchk
      |  FROM s16)
      |SELECT o.source,
      |  CAST(sum(o.occ) AS BIGINT) AS n_tokens,
      |  CAST(sum(o.occ * g.n_pieces) AS BIGINT) AS subword_tokens,
      |  CAST(sum(o.occ * g.unkf) AS BIGINT) AS n_unk_tokens,
      |  CAST(sum(o.occ * g.wchk) AS BIGINT) AS chk
      |FROM occ o JOIN seg g USING (word)
      |GROUP BY 1 ORDER BY o.source""".stripMargin

  /** Shared oracle CTEs for q140/q143: 3-gram sets per doc (with the
    * wordNgrams short-text fallback) and the brute-force all-pairs Jaccard
    * table. Declared ABOVE `defs` — oracle strings evaluate eagerly while
    * `defs` is constructed (the q75 init-order trap).
    */
  private val prefixGramPairCtes: String =
    """toks0 AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(w) = 0 THEN []::VARCHAR[]
      |         WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
      |         ELSE list_transform(range(1, len(w) - 1),
      |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END)
      |    AS t
      |  FROM toks0),
      |ppairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    round(CASE WHEN len(list_distinct(a.t || b.t)) = 0 THEN 0.0
      |      ELSE len(list_intersect(a.t, b.t))::DOUBLE /
      |           len(list_distinct(a.t || b.t)) END, 4) AS jaccard_sim
      |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      |  WHERE len(a.t) > 0 AND len(b.t) > 0)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // ---- exact dedup census: md5 content hash (identical in both engines)
    QueryDef(
      "q22_exact_dup_census",
      (s, dir) =>
        t(s, dir, "documents").agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text").cast("binary"))).as("n_unique"),
          (count(lit(1)) - countDistinct(md5(col("text").cast("binary"))))
            .as("n_dups")
        ),
      Some("""SELECT count(*) AS n_docs,
             |count(DISTINCT md5(text)) AS n_unique,
             |count(*) - count(DISTINCT md5(text)) AS n_dups
             |FROM documents""".stripMargin)
    ),

    // ---- exact dedup keep-first: survivors = min doc_id per content hash
    QueryDef(
      "q23_exact_dedup_keep_first",
      (s, dir) => {
        val survivors = Dedup.exact(t(s, dir, "documents"), "doc_id", Seq("text"))
        survivors.agg(
          count(lit(1)).as("n_survivors"),
          sum(col("n_chars")).cast("double").as("total_chars"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id")
        )
      },
      Some("""WITH ranked AS (SELECT doc_id, n_chars,
             |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |  FROM documents)
             |SELECT count(*) AS n_survivors,
             |CAST(sum(n_chars) AS DOUBLE) AS total_chars,
             |min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM ranked WHERE rn = 1""".stripMargin)
    ),

    // ---- word-unigram Jaccard pairs within (lang, source) blocks
    QueryDef(
      "q24_jaccard_pairs",
      (s, dir) =>
        Dedup.ngramJaccardPairs(
          t(s, dir, "documents"), "doc_id", "text",
          groupCols = Seq("lang", "source"), n = 1, minSim = 0.5),
      Some("""WITH toks AS (
             |  SELECT doc_id, lang, source,
             |    list_distinct(list_filter(regexp_split_to_array(trim(text), '\s+'),
             |                  x -> x <> '')) AS t
             |  FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang, a.source,
             |  round(CASE WHEN len(list_distinct(a.t || b.t)) = 0 THEN 0.0
             |        ELSE len(list_intersect(a.t, b.t))::DOUBLE /
             |             len(list_distinct(a.t || b.t)) END, 4) AS jaccard_sim
             |FROM toks a JOIN toks b
             |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
             |WHERE CASE WHEN len(list_distinct(a.t || b.t)) = 0 THEN 0.0
             |      ELSE len(list_intersect(a.t, b.t))::DOUBLE /
             |           len(list_distinct(a.t || b.t)) END >= 0.5
             |ORDER BY id_a, id_b""".stripMargin)
    ),

    // ---- minhash LSH near-dup pairs, REGISTERED in the portable-hash
    //      form since r6 (VERDICT r5 #2): the same signatures → banded
    //      candidates → exact-Jaccard-verify pipeline, md5-derived hashes
    //      and value-keyed bands, so the ENTIRE pair output hash-matches
    //      DuckDB (candidate generation included — not just the verify).
    //      The xxhash64 production form is the x25 scale channel.
    QueryDef(
      "q25_minhash_near_dups",
      (s, dir) =>
        Dedup.minHashPairsPortable(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5, nHashes = 16, bands = 4),
      Some(minHashPairsOracleSql)
    ),

    // ---- simhash hamming-distance pairs, REGISTERED in the portable form
    //      since r6: 32-bit md5-family fingerprints (q68's machinery,
    //      wider), 8-bit chunk blocking, maxDist = 3 ≤ nChunks−1 — so the
    //      output is PROVABLY all pairs within distance 3 (pigeonhole) and
    //      the twin brute-forces the bare definition. 16 bits measured too
    //      loose (28k pairs at sf0.01, 16-value chunk buckets ~quadratic);
    //      32/8-bit chunks give 1.3k true near-dup pairs and 256-value
    //      buckets. The 64-bit xxhash64 production form (maxDist 8) is the
    //      x26 scale channel.
    QueryDef(
      "q26_simhash_pairs",
      (s, dir) =>
        Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text",
          maxDist = 3, portable = true, nBits = 32),
      Some(simHashPairsOracleSql)
    ),

    // ---- the SAME simhash machinery as q26, hash family swapped for the
    //      md5-derived portable hash → the bit-vote aggregation is fully
    //      DuckDB-oracled (q26's xxhash64 fingerprints stay rows-only)
    QueryDef(
      "q68_simhash_portable",
      (s, dir) =>
        Dedup.simHash(t(s, dir, "documents"), "doc_id", "text",
            portable = true, nBits = 16)
          .orderBy("doc_id"),
      Some {
        val bitSums = (0 until 16).map(k =>
          s"sum(CASE WHEN (h >> $k) & 1 = 1 THEN 1 ELSE -1 END) AS b$k")
          .mkString(",\n  ")
        val hashExpr = (0 until 16).map(k =>
          s"(CASE WHEN b$k > 0 THEN 1 ELSE 0 END << $k)").mkString(" | ")
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS tok
           |  FROM documents),
           |th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
           |       FROM toks),
           |bits AS (SELECT doc_id,
           |  $bitSums
           |  FROM th GROUP BY doc_id)
           |SELECT doc_id, CAST($hashExpr AS BIGINT) AS simhash
           |FROM bits ORDER BY doc_id""".stripMargin
      }
    ),

    // ---- the SAME minhash signature machinery as q25 (word 3-shingles →
    //      per-gram hash → affine mins, scan-side), portable hash family +
    //      30-bit constants → every signature value is DuckDB-oracled
    QueryDef(
      "q69_minhash_portable",
      (s, dir) => {
        val sigs = Dedup.minHashSignaturesPortable(
          t(s, dir, "documents"), "doc_id", "text", nHashes = 16)
        sigs.select(col("doc_id") +: (0 until 16).map(i =>
            element_at(col("signature"), i + 1).as(s"h$i")): _*)
          .orderBy("doc_id")
      },
      Some {
        val mins = graft.ext.Dedup.affineConsts(16, 30).zipWithIndex.map {
          case ((a, b), i) =>
            s"list_min(list_transform(h, x -> x * $a + $b)) AS h$i"
        }.mkString(",\n  ")
        s"""WITH toks AS (
           |  SELECT doc_id, list_filter(
           |    regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS tk
           |  FROM documents),
           |grams AS (SELECT doc_id, list_distinct(
           |  CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
           |       WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
           |       ELSE list_transform(generate_series(1, len(tk) - 2),
           |              j -> tk[j] || ' ' || tk[j+1] || ' ' || tk[j+2]) END) AS g
           |  FROM toks),
           |hs AS (SELECT doc_id, list_transform(g,
           |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT & 1073741823) AS h
           |  FROM grams WHERE len(g) > 0)
           |SELECT doc_id,
           |  $mins
           |FROM hs ORDER BY doc_id""".stripMargin
      }
    ),

    // ---- incremental ingest dedup: the last 20% of documents arrive as a
    //      "new batch" and are near-dup-checked against ONLY the stored
    //      signature index of the first 80% (corpus text untouched) — the
    //      steady-state lake shape. REGISTERED in the portable-hash form
    //      since r6: the oracle recomputes BOTH sides' signatures from raw
    //      text in one batch (the q186-style incremental ≡ batch proof —
    //      a hash match certifies the stored index is exactly what a full
    //      rebuild would produce). xxhash64 production = x74 channel;
    //      estimator accuracy stays pinned in DedupSpec.
    QueryDef(
      "q74_incremental_index_dedup",
      (s, dir) => {
        val d = t(s, dir, "documents")
        // scale-proportional split: every 5th doc is the arriving batch
        val corpus = d.filter(col("doc_id") % 5 =!= 4)
        val batch = d.filter(col("doc_id") % 5 === 4)
        val index = Dedup.minHashSignaturesPortable(corpus, "doc_id", "text",
          nHashes = 16)
        Dedup.minHashPairsAgainstIndex(batch, "doc_id", "text", index,
          threshold = 0.5, nHashes = 16, bands = 4, portable = true)
      },
      Some(indexDedupOracleSql)
    ),

    // ---- token counting (whitespace + BPE-ish piece estimate)
    QueryDef(
      "q27_token_counts",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"),
            TextAnalysis.bpeishTokenCount(col("text")).as("n_pieces"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             |     x -> x <> '')) AS BIGINT) AS n_tokens,
             |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
             |     AS BIGINT) AS n_pieces
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // ---- quality scoring (char-class ratios; aggregate so the compare is
    //      compact and numerically stable)
    QueryDef(
      "q28_quality_metrics",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"))
          .withColumn("len_chars", length(col("text")).cast("long"))
          .withColumn("alpha_chars",
            length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long"))
          .withColumn("digit_chars",
            length(regexp_replace(col("text"), "[^0-9]", "")).cast("long"))
          .withColumn("space_chars",
            length(regexp_replace(col("text"), "[^\\s]", "")).cast("long"))
          .groupBy()
          .agg(
            sum(col("len_chars")).cast("long").as("total_chars"),
            sum(col("alpha_chars")).cast("long").as("total_alpha"),
            sum(col("digit_chars")).cast("long").as("total_digit"),
            sum(col("space_chars")).cast("long").as("total_space"),
            round(avg(col("alpha_chars").cast("double") /
              greatest(col("len_chars"), lit(1L))), 6).as("mean_alpha_ratio")
          ),
      Some("""WITH m AS (SELECT
             |  length(text) AS len_chars,
             |  length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
             |  length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit_chars,
             |  length(regexp_replace(text, '[^\s]', '', 'g')) AS space_chars
             |  FROM documents)
             |SELECT CAST(sum(len_chars) AS BIGINT) AS total_chars,
             |CAST(sum(alpha_chars) AS BIGINT) AS total_alpha,
             |CAST(sum(digit_chars) AS BIGINT) AS total_digit,
             |CAST(sum(space_chars) AS BIGINT) AS total_space,
             |round(avg(alpha_chars::DOUBLE / greatest(len_chars, 1)), 6) AS mean_alpha_ratio
             |FROM m""".stripMargin)
    ),

    // ---- language-ID heuristic (regex marker counts, deterministic argmax)
    QueryDef(
      "q29_lang_id",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextAnalysis.langScore(col("text"), "en").as("score_en"),
            TextAnalysis.langScore(col("text"), "es").as("score_es"),
            TextAnalysis.langId(col("text")).as("pred_lang"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, lang,
             |CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS BIGINT) AS score_en,
             |CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|los|las|en|un|una)\b')) AS BIGINT) AS score_es,
             |CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
             |     WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
             |     WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             |     WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
             |     WHEN s_fr >= s_zh THEN 'fr'
             |     ELSE 'zh' END AS pred_lang
             |FROM (SELECT doc_id, lang, text,
             |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS s_en,
             |  len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|los|las|en|un|una)\b')) AS s_es,
             |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|eine|zu|mit)\b')) AS s_de,
             |  len(regexp_extract_all(lower(text), '\b(le|la|les|de|et|un|une|est|que|pour)\b')) AS s_fr,
             |  len(regexp_extract_all(lower(text), '[一-鿿]')) AS s_zh
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)
    ),

    // ---- full curation funnel (filters → exact dedup → minhash dedup),
    //      REGISTERED with the portable minhash stage since r6 (VERDICT
    //      r5 #2): every stage of the funnel — quality/length filters,
    //      keep-first exact dedup, banded near-dup drop — is recomputed by
    //      one composed-CTE DuckDB oracle (the q207 pattern), so the 6
    //      funnel numbers hash-match end-to-end. The xxhash64 production
    //      funnel is the x46 channel; q67 still pins the exact prefix.
    QueryDef(
      "q46_curation_pipeline",
      (s, dir) =>
        graft.ext.TrainingDataPipeline(t(s, dir, "documents"),
          config = graft.ext.TrainingDataPipeline.Config(portableHashes = true))
          .stats,
      Some(curationPipelineOracleSql)
    ),

    // ---- deterministic prefix of the curation funnel (input → quality/
    //      length filters → exact dedup): every count here is hash-function-
    //      free, so the same funnel q46 reports rows-only gets a DuckDB
    //      oracle through its exact stages (quality score mirrored in SQL)
    QueryDef(
      "q67_curation_funnel_exact",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val scored = d
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
          .withColumn("quality_score", TextAnalysis.qualityScore(col("text")))
        val f = scored.filter(col("quality_score") >= 0.3 &&
          col("n_tokens").between(5L, 100000L))
        d.agg(count(lit(1)).as("n_input"))
          .crossJoin(f.agg(
            count(lit(1)).as("n_after_filters"),
            countDistinct(coalesce(col("text"), lit("")))
              .as("n_after_exact_dedup"),
            sum(col("n_tokens")).cast("long").as("total_tokens")))
      },
      Some("""WITH m AS (SELECT text,
             |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS ntok,
             |  CASE WHEN length(text) = 0 THEN 0.0
             |       ELSE length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text) END AS alpha,
             |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS ens,
             |  length(regexp_replace(text, '\s+', '', 'g')) AS nws,
             |  length(text) AS len FROM documents),
             |q AS (SELECT text, ntok,
             |  round(
             |    least(len / 500.0, 1.0) * 0.25 + alpha * 0.35 +
             |    least((CASE WHEN ntok = 0 THEN 0.0 ELSE ens::DOUBLE / ntok END) * 5.0, 1.0) * 0.2 +
             |    (CASE WHEN (CASE WHEN ntok = 0 THEN 0.0 ELSE nws::DOUBLE / ntok END)
             |          BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.2, 4) AS score
             |  FROM m)
             |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_input,
             |CAST(count(*) AS BIGINT) AS n_after_filters,
             |CAST(count(DISTINCT coalesce(text, '')) AS BIGINT) AS n_after_exact_dedup,
             |CAST(sum(ntok) AS BIGINT) AS total_tokens
             |FROM q WHERE score >= 0.3 AND ntok BETWEEN 5 AND 100000""".stripMargin)
    ),

    // ---- edit distance (levenshtein) between adjacent documents — the
    //      string-similarity primitive of fuzzy dedup
    QueryDef(
      "q62_edit_distance",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val a = d.select(col("doc_id"), substring(col("text"), 1, 40).as("ta"))
        val b = d.select((col("doc_id") - 1).as("doc_id"),
          substring(col("text"), 1, 40).as("tb"))
        a.join(b, "doc_id")
          .select(col("doc_id"),
            levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"))
          .orderBy("doc_id")
      },
      Some("""SELECT a.doc_id,
             |CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS BIGINT) AS edit_dist
             |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
             |ORDER BY a.doc_id""".stripMargin)
    ),

    // ---- TF-IDF keyword extraction: top-3 terms per document
    QueryDef(
      "q58_tfidf_top_terms",
      (s, dir) =>
        graft.ext.TextAnalysis.tfidfTopTerms(
          t(s, dir, "documents"), "doc_id", "text", k = 3),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_filter(
             |    regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             |idf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |scored AS (
             |  SELECT doc_id, tf.term,
             |    round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 4) AS tfidf
             |  FROM tf JOIN idf ON tf.term = idf.term, n),
             |ranked AS (
             |  SELECT doc_id, term, tfidf,
             |    row_number() OVER (PARTITION BY doc_id
             |      ORDER BY tfidf DESC, term ASC) AS rank
             |  FROM scored)
             |SELECT doc_id, term, tfidf, rank FROM ranked
             |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)
    ),

    // ---- multimodal plumbing through the engine: documents' utf-8 bytes
    //      stand in for opaque media payloads; batched per-partition
    //      feature extraction (mapPartitions over MediaRow batches — the
    //      vectorized-UDF shape) then aggregate. REGISTERED with the
    //      BYTE-HISTOGRAM census readout since r6: the decoded payloads'
    //      16-bin nibble histogram totals, byte counts and frame samples
    //      are pure integer functions of the bytes, which a DuckDB twin
    //      recomputes via the hex(encode(text)) nibble explode — so the
    //      real mapPartitions decode→feature path hash-matches end-to-end.
    //      The entropy readout (libm log2, no cross-engine twin) is the
    //      x54 channel, spec-checked in MultimodalSpec.
    QueryDef(
      "q54_multimodal_features",
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents")
          .select(col("doc_id").as("media_id"), lit("text").as("kind"),
            col("text").cast("binary").as("bytes"))
          .as[(Long, String, Array[Byte])]
          .map { case (id, kind, bytes) =>
            graft.ext.Multimodal.MediaRow(id, kind, bytes,
              graft.ext.Multimodal.MediaMeta(None, None, None, None, None))
          }
        val aggs =
          sum(col("n_bytes")).as("total_bytes") +:
            sum(col("frames_sampled")).cast("long").as("total_frames") +:
            (0 until 16).map(i =>
              sum(element_at(col("histogram"), i + 1)).as(f"hist_$i%02d"))
        graft.ext.Multimodal.extractFeatures(media)
          .groupBy("kind")
          .agg(count(lit(1)).as("n"), aggs: _*)
      },
      Some(multimodalHistOracleSql)
    ),

    // ---- the deterministic slice of q54's multimodal path, oracled: the
    //      SAME Dataset[MediaRow] → mapPartitions batch pipeline, checked on
    //      its size feature (decoded text payload bytes == DuckDB strlen's
    //      UTF-8 octet count). Entropy/histogram stay spec-checked (byte
    //      math has no tractable SQL twin); this pins the batching plumbing.
    QueryDef(
      "q73_multimodal_sizes",
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents")
          .select(col("doc_id").as("media_id"), lit("text").as("kind"),
            col("text").cast("binary").as("bytes"))
          .as[(Long, String, Array[Byte])]
          .map { case (id, kind, bytes) =>
            graft.ext.Multimodal.MediaRow(id, kind, bytes,
              graft.ext.Multimodal.MediaMeta(None, None, None, None, None))
          }
        graft.ext.Multimodal.extractFeatures(media)
          .select(col("media_id"), col("n_bytes"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes
             |FROM documents ORDER BY media_id""".stripMargin)
    ),

    // ---- REAL video decode (r6, the last stub retired for uncompressed
    //      formats): deterministic RIFF/AVI containers with flat-shade DIB
    //      frames are BUILT from each row's fields, then DEMUXED AND
    //      DECODED by Multimodal.decodeVideoAvi (container walk, stride
    //      padding, bottom-up rows, BT.601 luminance) — the q169/q189
    //      round-trip argument one format deeper: the DuckDB twin predicts
    //      the whole census in closed form, so a drift in either the
    //      builder or the parser breaks the hash. Compressed codecs remain
    //      the documented environment-bound stub.
    QueryDef(
      "q233_video_frame_census",
      (s, dir) => {
        import s.implicits._
        val census = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val w = 8 + (id % 5).toInt * 4
              val h = 8 + (id % 3).toInt * 4
              val nf = 1 + (id % 4).toInt
              val shades = (0 until nf).map(f => ((id * 7 + f * 13) % 251).toInt)
              val bytes = graft.ext.Multimodal.aviDibBytes(w, h, shades)
              val frames = graft.ext.Multimodal.decodeVideoAvi(bytes)
                .getOrElse(Seq.empty)
              val pixels = frames.iterator.map(_.length.toLong).sum
              val luma = frames.iterator
                .map(_.iterator.map(b => (b & 0xff).toLong).sum).sum
              (id, frames.length.toLong, pixels, luma)
            }
          }
          .toDF("media_id", "n_frames", "total_pixels", "luma_sum")
        census.orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(1 + doc_id % 4 AS BIGINT) AS n_frames,
             |  CAST((1 + doc_id % 4) * (8 + (doc_id % 5) * 4)
             |    * (8 + (doc_id % 3) * 4) AS BIGINT) AS total_pixels,
             |  CAST((8 + (doc_id % 5) * 4) * (8 + (doc_id % 3) * 4)
             |    * list_sum(list_transform(range(0, 1 + doc_id % 4),
             |        f -> (doc_id * 7 + f * 13) % 251)) AS BIGINT) AS luma_sum
             |FROM documents ORDER BY media_id""".stripMargin)
    ),

    // ---- COMPRESSED video decode (r7, closing the r6 stub): MJPEG-in-AVI
    //      containers — real RIFF mux of real ImageIO-encoded JPEG frames —
    //      demuxed and decoded per frame by the SAME decodeVideoAvi seam
    //      (q233's sibling one codec deeper). Flat-shade frames are DC-only
    //      in every 8×8 block, so decode returns a uniform plane at
    //      mjpegFlatLuma(shade); the oracle inlines the DRIVER-COMPUTED
    //      64-entry shade→luma table (the q80 ADC pattern) and replays the
    //      census in closed form — a drift in mux, demux, or the JPEG
    //      round-trip breaks the hash.
    QueryDef(
      "q234_video_mjpeg_census",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val w = 16 + (id % 3).toInt * 8
              val h = 8 + (id % 2).toInt * 8
              val nf = 1 + (id % 3).toInt
              val shades =
                (0 until nf).map(f => ((id * 7 + f * 13) % 64).toInt * 4)
              val bytes = graft.ext.Multimodal.aviMjpegBytes(w, h, shades)
              val frames = graft.ext.Multimodal.decodeVideoAvi(bytes)
                .getOrElse(Seq.empty)
              val pixels = frames.iterator.map(_.length.toLong).sum
              val luma = frames.iterator
                .map(_.iterator.map(b => (b & 0xff).toLong).sum).sum
              (id, frames.length.toLong, pixels, luma)
            }
          }
          .toDF("media_id", "n_frames", "total_pixels", "luma_sum")
          .orderBy("media_id")
      },
      Some {
        // driver-computed JPEG DC round-trip table, inlined as a LIST
        // literal the lambda indexes (1-based) — the oracle never runs a
        // codec, and lambdas stay subquery-free for DuckDB
        val lut = (0 until 64)
          .map(q => graft.ext.Multimodal.mjpegFlatLuma(q * 4))
          .mkString("[", ", ", "]")
        s"""SELECT doc_id AS media_id,
           |  CAST(1 + doc_id % 3 AS BIGINT) AS n_frames,
           |  CAST((1 + doc_id % 3) * (16 + (doc_id % 3) * 8)
           |    * (8 + (doc_id % 2) * 8) AS BIGINT) AS total_pixels,
           |  CAST((16 + (doc_id % 3) * 8) * (8 + (doc_id % 2) * 8)
           |    * list_sum(list_transform(range(0, 1 + doc_id % 3),
           |        f -> $lut[CAST(1 + (doc_id * 7 + f * 13) % 64 AS INT)]))
           |    AS BIGINT) AS luma_sum
           |FROM documents ORDER BY media_id""".stripMargin
      }
    ),

    // ---- COMPRESSED audio decode (r8, narrowing the last multimodal stub
    //      to perceptual codecs): real IMA-ADPCM WAV payloads — fmt-0x11
    //      RIFF mux, block headers, fact-chunk trim — are BUILT from each
    //      row's fields and DECODED by Multimodal.decodeImaAdpcmPcm (pure
    //      integer predictor/step-table walk). The signal is a ±1-per-
    //      sample ramp, which IMA-ADPCM reconstructs EXACTLY (diff ±1 at
    //      step 7 → nibble ±1 → delta step>>2 = 1, step index pinned at 0),
    //      so the DuckDB twin replays the decoded stream in closed form —
    //      a drift in mux, demux, nibble packing, predictor update, or the
    //      fact trim breaks the hash. q233/q234's round-trip argument one
    //      modality deeper.
    QueryDef(
      "q235_audio_adpcm_census",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val n = (505 * (1 + id % 3) - id % 7).toInt // non-block-aligned
              val v0 = (8192 + id * 37 % 8192).toInt
              val step = if (id % 2 == 0) 1 else -1
              val pcm = Array.tabulate(n)(i => (v0 + step * i).toShort)
              val bytes =
                graft.ext.Multimodal.imaAdpcmWavBytes(pcm, 16000, 256)
              val decoded = graft.ext.Multimodal.decodeImaAdpcmPcm(bytes)
                .getOrElse(Array.empty[Short])
              val msbSum = { // MSB bytes = the decode-seam waveform
                var s = 0L; var i = 0
                while (i < decoded.length) { s += (decoded(i) >> 8) & 0xff; i += 1 }
                s
              }
              val last = if (decoded.isEmpty) -1L else decoded.last.toLong
              (id, decoded.length.toLong, msbSum, last)
            }
          }
          .toDF("media_id", "n_samples", "msb_sum", "last_sample")
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(505 * (1 + doc_id % 3) - doc_id % 7 AS BIGINT) AS n_samples,
             |  CAST(list_sum(list_transform(
             |    range(0, 505 * (1 + doc_id % 3) - doc_id % 7),
             |    i -> (8192 + doc_id * 37 % 8192
             |          + CASE WHEN doc_id % 2 = 0 THEN i ELSE -i END) // 256))
             |    AS BIGINT) AS msb_sum,
             |  CAST(8192 + doc_id * 37 % 8192
             |    + CASE WHEN doc_id % 2 = 0
             |        THEN 505 * (1 + doc_id % 3) - doc_id % 7 - 1
             |        ELSE -(505 * (1 + doc_id % 3) - doc_id % 7 - 1) END
             |    AS BIGINT) AS last_sample
             |FROM documents ORDER BY media_id""".stripMargin)
    ),

    // ---- STEREO IMA-ADPCM (q235's two-channel sibling): real fmt-0x11
    //      stereo mux — per-block L/R headers, 4-byte channel chunks
    //      alternating — decoded by the SAME decodeImaAdpcmPcm demux.
    //      Left ramps +1, right ramps −1 (both exact under IMA-ADPCM), so
    //      the interleaved output is fully predictable: the twin replays
    //      both channels in closed form. A drift in the chunk round-robin,
    //      header layout, or per-channel fact trim breaks the hash.
    QueryDef(
      "q238_audio_adpcm_stereo",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val n = (249 * (1 + id % 3) - id % 5).toInt // off block grid
              val v0l = (6000 + id * 31 % 4096).toInt
              val v0r = (20000 - id * 17 % 4096).toInt
              val l = Array.tabulate(n)(i => (v0l + i).toShort)
              val r = Array.tabulate(n)(i => (v0r - i).toShort)
              val bytes =
                graft.ext.Multimodal.imaAdpcmWavStereoBytes(l, r, 16000, 256)
              val dec = graft.ext.Multimodal.decodeImaAdpcmPcm(bytes)
                .getOrElse(Array.empty[Short])
              var msbL = 0L
              var msbR = 0L
              var i = 0
              while (i + 1 < dec.length) {
                msbL += (dec(i) >> 8) & 0xff
                msbR += (dec(i + 1) >> 8) & 0xff
                i += 2
              }
              (id, dec.length.toLong, msbL, msbR,
                if (dec.isEmpty) -1L else dec.last.toLong)
            }
          }
          .toDF("media_id", "n_samples", "msb_sum_left", "msb_sum_right",
            "last_sample")
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(2 * (249 * (1 + doc_id % 3) - doc_id % 5) AS BIGINT)
             |    AS n_samples,
             |  CAST(list_sum(list_transform(
             |    range(0, 249 * (1 + doc_id % 3) - doc_id % 5),
             |    i -> (6000 + doc_id * 31 % 4096 + i) // 256))
             |    AS BIGINT) AS msb_sum_left,
             |  CAST(list_sum(list_transform(
             |    range(0, 249 * (1 + doc_id % 3) - doc_id % 5),
             |    i -> (20000 - doc_id * 17 % 4096 - i) // 256))
             |    AS BIGINT) AS msb_sum_right,
             |  CAST(20000 - doc_id * 17 % 4096
             |    - (249 * (1 + doc_id % 3) - doc_id % 5 - 1) AS BIGINT)
             |    AS last_sample
             |FROM documents ORDER BY media_id""".stripMargin)
    ),

    // ---- FLAC decode (r9, the last zero-dependency integer-exact codec
    //      step): real subset-FLAC payloads — fLaC magic, STREAMINFO,
    //      CRC-8/16-checked frames, FIXED-predictor subframes with Rice
    //      residuals plus forced-VERBATIM frames (every 3rd) and CONSTANT
    //      frames on the step-0 docs — are BUILT from each row's fields
    //      (Flac.encodeFlac) and DECODED by Flac.decodeFlac (pure integer
    //      math: zigzag Rice, fixed-order reconstruction). The signal is a
    //      ±1-per-sample ramp (or a constant), so the DuckDB twin replays
    //      the decoded stream in closed form — a drift in the container
    //      walk, frame headers, CRCs, Rice decode, or predictor math
    //      breaks the hash. q235's round-trip argument for the last
    //      losslessly-decodable audio family; the honest stub floor is
    //      now perceptual codecs (mp3/ogg) only.
    QueryDef(
      "q240_audio_flac_census",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val n = (613 * (1 + id % 2) + id % 89).toInt
              val v0 = (4096 + id * 53 % 16384).toInt
              val step =
                if (id % 5 == 0) 0 else if (id % 2 == 0) 1 else -1
              val rate = (16000 + (id % 7) * 1000).toInt
              val pcm = Array.tabulate(n)(i => v0 + step * i)
              val bytes = graft.ext.Flac.encodeFlac(pcm, rate, channels = 1,
                bps = 16, blockSize = 256, verbatimEvery = 3)
              val a = graft.ext.Flac.decodeFlac(bytes)
              val dec = a.map(_.samples).getOrElse(Array.empty[Int])
              var msbSum = 0L
              var i = 0
              while (i < dec.length) { msbSum += (dec(i) >> 8) & 0xff; i += 1 }
              (id, dec.length.toLong, a.map(_.sampleRate.toLong).getOrElse(-1L),
                msbSum, if (dec.isEmpty) -1L else dec.last.toLong)
            }
          }
          .toDF("media_id", "n_samples", "sample_rate", "msb_sum",
            "last_sample")
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(613 * (1 + doc_id % 2) + doc_id % 89 AS BIGINT)
             |    AS n_samples,
             |  CAST(16000 + (doc_id % 7) * 1000 AS BIGINT) AS sample_rate,
             |  CAST(list_sum(list_transform(
             |    range(0, 613 * (1 + doc_id % 2) + doc_id % 89),
             |    i -> (4096 + doc_id * 53 % 16384
             |          + CASE WHEN doc_id % 5 = 0 THEN 0
             |                 WHEN doc_id % 2 = 0 THEN i
             |                 ELSE -i END) // 256))
             |    AS BIGINT) AS msb_sum,
             |  CAST(4096 + doc_id * 53 % 16384
             |    + CASE WHEN doc_id % 5 = 0 THEN 0
             |           WHEN doc_id % 2 = 0
             |             THEN 613 * (1 + doc_id % 2) + doc_id % 89 - 1
             |           ELSE -(613 * (1 + doc_id % 2) + doc_id % 89 - 1) END
             |    AS BIGINT) AS last_sample
             |FROM documents ORDER BY media_id""".stripMargin)
    ),

    // ---- G.711 µ-law/A-law decode (r9): the telephony companding family
    //      (speech corpora ship as fmt-7/6 WAV). Real RIFF mux
    //      (Multimodal.g711WavBytes) of a known code stream per row,
    //      demuxed and expanded by decodeG711Pcm — pure integer
    //      shift/add per ITU-T G.711, so the DuckDB twin replays the
    //      EXPANSION FORMULA itself (not a shared table): µ-law
    //      s·(((m·8)+132)·2^e − 132) on the complemented byte, A-law the
    //      segment form on the 0x55-toggled byte. A drift in mux, chunk
    //      walk, fact trim, or either expansion breaks the hash; the
    //      sample_rate column additionally pins the header-only g711Meta
    //      path. javax.sound hands fmt-6/7 back UNDECODED, so this
    //      decoder is what makes the family real.
    QueryDef(
      "q241_audio_g711_census",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val n = (300 + id % 57).toInt
              val rate = (8000 + (id % 3) * 4000).toInt
              val codes =
                Array.tabulate(n)(i => ((id * 7 + i * 11) % 256).toByte)
              val ub = graft.ext.Multimodal.g711WavBytes(codes, rate,
                aLaw = false)
              val ab = graft.ext.Multimodal.g711WavBytes(codes, rate,
                aLaw = true)
              val up = graft.ext.Multimodal.decodeG711Pcm(ub)
                .getOrElse(Array.empty[Short])
              val ap = graft.ext.Multimodal.decodeG711Pcm(ab)
                .getOrElse(Array.empty[Short])
              val metaRate = graft.ext.Multimodal.audioMeta(ub)
                .map(_._1.toLong).getOrElse(-1L)
              var us = 0L; var as = 0L; var i = 0
              while (i < up.length) { us += up(i); i += 1 }
              i = 0
              while (i < ap.length) { as += ap(i); i += 1 }
              (id, up.length.toLong, metaRate, us, as,
                if (up.isEmpty) 0L else up.last.toLong,
                if (ap.isEmpty) 0L else ap.last.toLong)
            }
          }
          .toDF("media_id", "n_samples", "sample_rate", "ulaw_sum",
            "alaw_sum", "ulaw_last", "alaw_last")
          .orderBy("media_id")
      },
      Some("""WITH codes AS (
             |  SELECT doc_id, 300 + doc_id % 57 AS n,
             |    list_transform(range(0, 300 + doc_id % 57),
             |      i -> 255 - (doc_id * 7 + i * 11) % 256) AS ucodes,
             |    list_transform(range(0, 300 + doc_id % 57),
             |      i -> xor((doc_id * 7 + i * 11) % 256, 85)) AS acodes
             |  FROM documents),
             |expanded AS (
             |  SELECT doc_id, n,
             |    list_transform(ucodes, u ->
             |      (CASE WHEN u >= 128 THEN -1 ELSE 1 END)
             |      * (((u % 16) * 8 + 132)
             |         * (1::BIGINT << ((u // 16) % 8)) - 132)) AS uvals,
             |    list_transform(acodes, a ->
             |      (CASE WHEN a >= 128 THEN 1 ELSE -1 END)
             |      * (CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
             |              ELSE ((a % 16) * 16 + 264)
             |                   * (1::BIGINT << ((a // 16) % 8 - 1))
             |         END)) AS avals
             |  FROM codes)
             |SELECT doc_id AS media_id,
             |  CAST(n AS BIGINT) AS n_samples,
             |  CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
             |  CAST(list_sum(uvals) AS BIGINT) AS ulaw_sum,
             |  CAST(list_sum(avals) AS BIGINT) AS alaw_sum,
             |  CAST(uvals[n] AS BIGINT) AS ulaw_last,
             |  CAST(avals[n] AS BIGINT) AS alaw_last
             |FROM expanded ORDER BY media_id""".stripMargin)
    ),

    // ---- WordPiece subword census (r9): the BERT-family tokenizer rule
    //      next to q137/q139's BPE — greedy LONGEST-match-first per word,
    //      whole pieces at position 0, ##-continuations after, [UNK] for
    //      >16-char or non-printable-ASCII words. The vocabulary derives
    //      deterministically from the corpus (top-40 words → prefixes +
    //      interior substrings + the printable charset), so the DuckDB
    //      twin REBUILDS it relationally and replays the greedy walk as
    //      16 unrolled join-the-longest-piece steps; the chk column is
    //      the step-weighted portable-md5 checksum of every matched piece
    //      — a drift in vocabulary construction, match order, UNK rule,
    //      or a single piece boundary breaks the hash. Spark side:
    //      native `wordpiece_stats` (vocab rides the plan as a payload
    //      map) over DISTINCT words only, occurrence counts joined back —
    //      segmentation cost is vocabulary-bound, not corpus-bound.
    QueryDef(
      "q243_wordpiece_census",
      (s, dir) => graft.ext.Wordpiece.encodeCensus(
        t(s, dir, "documents"), "text", "source"),
      Some {
        s"""WITH toks AS MATERIALIZED (
           |  SELECT source, x AS word
           |  FROM documents, unnest(list_filter(
           |    regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))
           |    AS t(x)),
           |occ AS MATERIALIZED (SELECT source, word, count(*) AS occ FROM toks
           |        GROUP BY 1, 2),
           |topw AS MATERIALIZED (
           |  SELECT word FROM (
           |    SELECT word, count(*) AS cnt FROM toks
           |    WHERE len(word) <= 16 AND strlen(word) = len(word)
           |    GROUP BY 1)
           |  ORDER BY cnt DESC, word ASC LIMIT 40),
           |chars AS (SELECT chr(i::INT) AS piece FROM range(33, 127) t(i)),
           |wholep AS (
           |  SELECT DISTINCT substr(word, 1, l) AS piece
           |  FROM topw, range(1, 17) t(l) WHERE l <= len(word)
           |  UNION SELECT piece FROM chars),
           |contp AS (
           |  SELECT DISTINCT substr(word, i + 1, l) AS piece
           |  FROM topw, range(1, 16) t(i), range(1, 16) u(l)
           |  WHERE i + l <= len(word)
           |  UNION SELECT piece FROM chars),
           |vocab AS MATERIALIZED (
           |  SELECT piece, FALSE AS is_cont FROM wholep
           |  UNION ALL SELECT piece, TRUE FROM contp),
           |s0 AS MATERIALIZED (
           |  SELECT word, len(word) AS wlen, 0 AS pos,
           |    0::BIGINT AS n, 0::BIGINT AS chk,
           |    (len(word) > 16 OR NOT regexp_matches(word, '^[!-~]+$$'))
           |      AS unk
           |  FROM (SELECT DISTINCT word FROM occ)),
           |$wpUnrollSteps,
           |$wpCensusTail""".stripMargin
      }
    ),

    // ---- WordPiece under an EXTERNAL vocabulary (r10, VERDICT r9 #4):
    //      real pipelines tokenize against a fixed PUBLISHED vocab file
    //      (30k pieces), not a corpus-derived one. The query WRITES the
    //      frozen vocab as a BERT-style vocab.txt (specials, ## prefix),
    //      LOADS it back through Wordpiece.loadVocabFile (the Hadoop-FS
    //      path any cluster vocab distribution uses), and runs the same
    //      distinct-word-bound census; the DuckDB twin inlines the
    //      identical frozen piece list as VALUES and replays the greedy
    //      walk — a drift in file parsing (## stripping, special-token
    //      skipping) or segmentation breaks the hash. The 30k-piece
    //      scale point is x246 in the 100x sweep.
    QueryDef(
      "q246_wordpiece_ext_vocab",
      (s, dir) => {
        val whole = (ExtWhole ++ graft.ext.Wordpiece.Charset).distinct
        val cont = (ExtCont ++ graft.ext.Wordpiece.Charset).distinct
        val path = graft.util.ArtifactFiles.writeAtomic(
          "graft_q246_vocab.txt",
          graft.ext.Wordpiece.vocabFileLines(whole, cont))
        val (w, c) = graft.ext.Wordpiece.loadVocabFile(s, path.toString)
        require(w.toSet == whole.toSet && c.toSet == cont.toSet,
          "vocab file round trip drifted")
        graft.ext.Wordpiece.encodeCensusPieces(
          t(s, dir, "documents"), "text", "source", w, c)
      },
      Some {
        val wVals = ExtWhole.map(p => s"('$p')").mkString(", ")
        val cVals = ExtCont.map(p => s"('$p')").mkString(", ")
        s"""WITH toks AS MATERIALIZED (
           |  SELECT source, x AS word
           |  FROM documents, unnest(list_filter(
           |    regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))
           |    AS t(x)),
           |occ AS MATERIALIZED (SELECT source, word, count(*) AS occ FROM toks
           |        GROUP BY 1, 2),
           |chars AS (SELECT chr(i::INT) AS piece FROM range(33, 127) t(i)),
           |extw(piece) AS (VALUES $wVals),
           |extc(piece) AS (VALUES $cVals),
           |vocab AS MATERIALIZED (
           |  SELECT piece, FALSE AS is_cont
           |  FROM (SELECT piece FROM extw UNION SELECT piece FROM chars)
           |  UNION ALL
           |  SELECT piece, TRUE
           |  FROM (SELECT piece FROM extc UNION SELECT piece FROM chars)),
           |s0 AS MATERIALIZED (
           |  SELECT word, len(word) AS wlen, 0 AS pos,
           |    0::BIGINT AS n, 0::BIGINT AS chk,
           |    (len(word) > 16 OR NOT regexp_matches(word, '^[!-~]+$$'))
           |      AS unk
           |  FROM (SELECT DISTINCT word FROM occ)),
           |$wpUnrollSteps,
           |$wpCensusTail""".stripMargin
      }
    ),

    // ---- Aho-Corasick multi-pattern blocklist scan (r9): per-pattern
    //      OVERLAPPING substring counts in ONE text pass, pattern-count-
    //      independent — the scan-speed blocklist/PII primitive
    //      (`contains` per pattern is one full scan each). The pattern
    //      set nests patterns inside patterns and crosses word
    //      boundaries, so dictionary-suffix output links and overlap
    //      handling are all load-bearing; the DuckDB twin brute-forces
    //      every (position, pattern) pair — a drift in fail links,
    //      output links, or overlap counting breaks the hash. Output is
    //      per (source, pattern): every count is pinned exactly, no
    //      checksum needed.
    QueryDef(
      "q244_substring_blocklist_census",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("source"),
            // coalesce on BOTH engines: posexplode would DROP null-text
            // docs here while the twin emits cnt=0 rows — the parity must
            // be structural, not an accident of a non-null corpus
            posexplode(call_function("multi_pattern_counts",
              coalesce(col("text"), lit("")),
              typedLit(AcPatterns))).as(Seq("pattern_idx", "cnt")))
          .groupBy("source", "pattern_idx")
          .agg(sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("n_docs_hit"),
            sum(col("cnt")).cast("long").as("total_hits"))
          .withColumn("pattern",
            element_at(typedLit(AcPatterns), col("pattern_idx") + 1))
          .withColumn("pattern_idx", col("pattern_idx").cast("long"))
          .select("source", "pattern_idx", "pattern", "n_docs_hit",
            "total_hits")
          .orderBy("source", "pattern_idx"),
      Some {
        val vals = AcPatterns.zipWithIndex
          .map { case (p, i) => s"($i, '$p')" }.mkString(", ")
        s"""WITH p(i, pat) AS (VALUES $vals),
           |cnts AS (
           |  SELECT d.source, p.i, p.pat,
           |    coalesce(list_sum(list_transform(
           |      range(0, greatest(len(coalesce(d.text, '')) - len(p.pat) + 1, 0)),
           |      j -> CASE WHEN substr(coalesce(d.text, ''), j + 1, len(p.pat)) = p.pat
           |           THEN 1 ELSE 0 END)), 0) AS cnt
           |  FROM documents d CROSS JOIN p)
           |SELECT source, CAST(i AS BIGINT) AS pattern_idx,
           |  pat AS pattern,
           |  CAST(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_docs_hit,
           |  CAST(sum(cnt) AS BIGINT) AS total_hits
           |FROM cnts GROUP BY 1, 2, 3
           |ORDER BY source, pattern_idx""".stripMargin
      }
    ),

    // ---- Unicode NFC normalization census (r9): composed vs decomposed
    //      spellings ("é" vs "e"+U+0301) must hash/dedup/tokenize the
    //      same, so normalization is a standard pretraining-cleanup
    //      step. Spark has no built-in; the native `nfc_normalize`
    //      expression wraps the JDK's UAX#15-conformant implementation,
    //      and the DuckDB twin runs ITS OWN independent implementation
    //      (ICU) on the same deterministically-built decomposed text —
    //      two conformant NFC engines must agree codepoint for
    //      codepoint, which the position-weighted codepoint checksum
    //      pins. The text mixes composable pairs (vowel+diaeresis,
    //      letter+acute), NON-composable ones (consonant+diaeresis stays
    //      two codepoints), and double-mark sequences (base+0308+0301 →
    //      composed base + residual acute). All codepoints are BMP, so
    //      JVM UTF-16 indexing and DuckDB codepoint indexing coincide.
    QueryDef(
      "q245_unicode_nfc_census",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              // decomposed synthetic text — generation only, the
              // normalization happens in the COLUMN expression below
              val n = (40 + id % 23).toInt
              val sb = new StringBuilder
              var j = 0
              while (j < n) {
                sb.append((97 + (id * 3 + j * 5) % 26).toInt.toChar)
                if (j % 7 == 0) sb.append('\u0308') // combining diaeresis
                if (j % 3 == 0) sb.append('\u0301') // combining acute
                j += 1
              }
              (id, sb.toString)
            }
          }
          .toDF("doc_id", "raw")
          .withColumn("nfc", call_function("nfc_normalize", col("raw")))
          .select(col("doc_id"),
            length(col("raw")).cast("long").as("len_raw"),
            length(col("nfc")).cast("long").as("len_nfc"),
            expr("""aggregate(
                 |  transform(sequence(1, length(nfc)),
                 |    i -> CAST(i AS LONG) * ascii(substring(nfc, i, 1))),
                 |  0L, (a, x) -> a + x)""".stripMargin).as("nfc_chk"))
          .orderBy("doc_id")
      },
      Some("""WITH built AS (
             |  SELECT doc_id,
             |    array_to_string(list_transform(
             |      range(0, 40 + doc_id % 23),
             |      j -> chr((97 + (doc_id * 3 + j * 5) % 26)::INT)
             |        || CASE WHEN j % 7 = 0 THEN chr(776) ELSE '' END
             |        || CASE WHEN j % 3 = 0 THEN chr(769) ELSE '' END),
             |      '') AS raw
             |  FROM documents),
             |normalized AS (
             |  SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM built)
             |SELECT doc_id,
             |  CAST(len(raw) AS BIGINT) AS len_raw,
             |  CAST(len(nfc) AS BIGINT) AS len_nfc,
             |  CAST(coalesce(list_sum(list_transform(
             |    range(1, len(nfc) + 1),
             |    i -> i * unicode(substr(nfc, i, 1)))), 0) AS BIGINT)
             |    AS nfc_chk
             |FROM normalized ORDER BY doc_id""".stripMargin)
    ),

    // ---- diacritic stripping census (r10, q245's sibling): the
    //      `strip_accents=True` step of BERT-family lowercasing and of
    //      accent-insensitive dedup keys — NFD + remove combining marks,
    //      recompose. The native `strip_accents` expression wraps the
    //      JDK recipe; the DuckDB twin runs ITS OWN ICU `strip_accents`
    //      over the same deterministically-built text. The mix covers
    //      every path: combining marks on decomposed letters (removed),
    //      a PRECOMPOSED é (decomposes, mark removed), cedilla (a
    //      non-ASCII Mn mark), and ø (NO canonical decomposition —
    //      passes through in BOTH implementations). All BMP, so JVM
    //      UTF-16 and DuckDB codepoint indexing coincide.
    QueryDef(
      "q252_strip_accents_census",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val n = (40 + id % 23).toInt
              val sb = new StringBuilder
              var j = 0
              while (j < n) {
                sb.append((97 + (id * 3 + j * 5) % 26).toInt.toChar)
                if (j % 7 == 0) sb.append('\u0308') // combining diaeresis
                if (j % 3 == 0) sb.append('\u0301') // combining acute
                if (j % 5 == 0) sb.append('\u0327') // combining cedilla
                if (j % 11 == 0) sb.append('\u00e9') // precomposed e-acute
                if (j % 13 == 0) sb.append('\u00f8') // o-slash: no decomposition
                j += 1
              }
              (id, sb.toString)
            }
          }
          .toDF("doc_id", "raw")
          .withColumn("stripped",
            call_function("strip_accents", col("raw")))
          .select(col("doc_id"),
            length(col("raw")).cast("long").as("len_raw"),
            length(col("stripped")).cast("long").as("len_stripped"),
            expr("""aggregate(
                 |  transform(sequence(1, length(stripped)),
                 |    i -> CAST(i AS LONG) * ascii(substring(stripped, i, 1))),
                 |  0L, (a, x) -> a + x)""".stripMargin).as("strip_chk"))
          .orderBy("doc_id")
      },
      Some("""WITH built AS (
             |  SELECT doc_id,
             |    array_to_string(list_transform(
             |      range(0, 40 + doc_id % 23),
             |      j -> chr((97 + (doc_id * 3 + j * 5) % 26)::INT)
             |        || CASE WHEN j % 7 = 0 THEN chr(776) ELSE '' END
             |        || CASE WHEN j % 3 = 0 THEN chr(769) ELSE '' END
             |        || CASE WHEN j % 5 = 0 THEN chr(807) ELSE '' END
             |        || CASE WHEN j % 11 = 0 THEN chr(233) ELSE '' END
             |        || CASE WHEN j % 13 = 0 THEN chr(248) ELSE '' END),
             |      '') AS raw
             |  FROM documents),
             |st AS (
             |  SELECT doc_id, raw, strip_accents(raw) AS stripped
             |  FROM built)
             |SELECT doc_id,
             |  CAST(len(raw) AS BIGINT) AS len_raw,
             |  CAST(len(stripped) AS BIGINT) AS len_stripped,
             |  CAST(coalesce(list_sum(list_transform(
             |    range(1, len(stripped) + 1),
             |    i -> i * unicode(substr(stripped, i, 1)))), 0) AS BIGINT)
             |    AS strip_chk
             |FROM st ORDER BY doc_id""".stripMargin)
    ),

    // ---- media HEADER parsing, oracled as an encode→parse ROUND TRIP:
    //      deterministic PNG/JPEG/GIF header bytes are built from each
    //      row's fields (real container structure: IHDR / SOF0 marker
    //      scan / logical screen descriptor), then Multimodal.headerMeta
    //      recovers (format, w, h) by PURE byte parsing — no codec — and
    //      the DuckDB twin replays the closed-form dimensions. A parser
    //      or builder drift in either direction breaks the hash. This is
    //      the petabyte-lake metadata pass: dimensions from ≤ 64 header
    //      bytes per object, never rasterizing.
    QueryDef(
      "q169_media_header_census",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .filter(col("n_chars").isNotNull)
          .select(col("doc_id"), col("n_chars"))
          .as[(Long, Long)]
          .map { case (id, nc) =>
            val w = (nc % 1000 + 1).toInt
            val h = (id % 500 + 1).toInt
            val bytes = (id % 3) match {
              case 0 => graft.ext.Multimodal.pngHeaderBytes(w, h)
              case 1 => graft.ext.Multimodal.jpegHeaderBytes(w, h)
              case _ => graft.ext.Multimodal.gifHeaderBytes(w, h)
            }
            val p = graft.ext.Multimodal.headerMeta(bytes)
            (id, p.map(_._1).getOrElse("unknown"),
              p.map(_._2.toLong).getOrElse(-1L),
              p.map(_._3.toLong).getOrElse(-1L))
          }
          .toDF("media_id", "format", "width", "height")
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
             |    ELSE 'gif' END AS format,
             |  CAST(n_chars % 1000 + 1 AS BIGINT) AS width,
             |  CAST(doc_id % 500 + 1 AS BIGINT) AS height
             |FROM documents WHERE n_chars IS NOT NULL
             |ORDER BY media_id""".stripMargin)
    ),

    // ---- MP4/ISO-BMFF container metadata (r10, VERDICT r9 #5): video
    //      training corpora ship as MP4 — the q169 header-only census
    //      one container deeper. Each row builds a structurally valid
    //      moov-only MP4 (ftyp + mvhd + video trak with tkhd 16.16 dims
    //      + hdlr + stsd sample entry, even rows add an mp4a audio
    //      trak), then Mp4.meta recovers brand/timescale/duration/
    //      per-track codec+dims by a GUARDED box walk (untrusted sizes,
    //      depth cap — the r9 RIFF sz<0 lesson) and headerMeta's mp4
    //      dispatch re-derives the dimensions. The DuckDB twin replays
    //      the closed forms — a builder or parser drift in either
    //      direction breaks the hash.
    QueryDef(
      "q247_mp4_container_census",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select(col("doc_id")).as[Long]
          .map { id =>
            val w = (id % 640 + 16).toInt
            val h = (id % 360 + 16).toInt
            val ts = 600L * (id % 5 + 1)
            val dur = (id % 7200 + 1) * 100L
            val vcodec = (id % 3) match {
              case 0 => "avc1"; case 1 => "hev1"; case _ => "av01"
            }
            val audio = if (id % 2 == 0) Some("mp4a") else None
            val brand = if (id % 2 == 0) "isom" else "mp42"
            val bytes = graft.ext.Mp4.mp4Bytes(brand, ts, dur, w, h,
              vcodec, audio)
            val m = graft.ext.Mp4.meta(bytes).get
            val hdr = graft.ext.Multimodal.headerMeta(bytes)
            (id, m.brand, m.timescale, m.duration, m.tracks.size.toLong,
              m.video.map(_.width.toLong).getOrElse(-1L),
              m.video.map(_.height.toLong).getOrElse(-1L),
              m.video.map(_.codec).getOrElse(""),
              m.audio.map(_.codec).getOrElse(""),
              hdr.map(_._1).getOrElse("unknown"))
          }
          .toDF("media_id", "brand", "timescale", "duration", "n_tracks",
            "width", "height", "video_codec", "audio_codec", "hdr_format")
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END
             |    AS brand,
             |  CAST(600 * (doc_id % 5 + 1) AS BIGINT) AS timescale,
             |  CAST((doc_id % 7200 + 1) * 100 AS BIGINT) AS duration,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT)
             |    AS n_tracks,
             |  CAST(doc_id % 640 + 16 AS BIGINT) AS width,
             |  CAST(doc_id % 360 + 16 AS BIGINT) AS height,
             |  CASE doc_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1'
             |    ELSE 'av01' END AS video_codec,
             |  CASE WHEN doc_id % 2 = 0 THEN 'mp4a' ELSE '' END
             |    AS audio_codec,
             |  'mp4' AS hdr_format
             |FROM documents ORDER BY media_id""".stripMargin)
    ),

    // ---- MP4 sample-table stats (r10, q247 one box deeper): stts
    //      (decoding time-to-sample — media duration as Σ count·delta
    //      over UNTRUSTED entry counts) and stsz in BOTH real layouts
    //      (constant-size and per-sample u32 table) — the header-only
    //      frame-count/bitrate pass a video-corpus datasheet needs,
    //      media data never read. Even rows exercise the constant-size
    //      path, odd rows the table path; the DuckDB twin replays the
    //      closed forms including the table sum.
    QueryDef(
      "q250_mp4_sample_tables",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select(col("doc_id")).as[Long]
          .map { id =>
            val n1 = id % 50 + 1
            val n2 = id % 30 + 1
            val n = n1 + n2
            val dur = n1 * 512 + n2 * 1024
            val sizes: Either[(Long, Long), Seq[Long]] =
              if (id % 2 == 0) Left((id % 900 + 100, n))
              else Right((0L until n).map(j => (id * 7 + j * 13) % 1000 + 1))
            val bytes = graft.ext.Mp4.mp4Bytes("isom", 600, dur, 320, 240,
              "avc1", None, sttsEntries = Seq((n1, 512L), (n2, 1024L)),
              stszSizes = Some(sizes))
            val v = graft.ext.Mp4.meta(bytes).get.video.get
            (id, if (id % 2 == 0) "const" else "table",
              v.nSamples, v.sttsDuration, v.sampleBytes,
              v.sampleBytes / math.max(v.nSamples, 1L))
          }
          .toDF("media_id", "size_mode", "n_samples", "stts_duration",
            "total_sample_bytes", "avg_sample_bytes")
          .orderBy("media_id")
      },
      Some("""WITH s AS (
             |  SELECT doc_id, doc_id % 50 + 1 AS n1, doc_id % 30 + 1 AS n2
             |  FROM documents),
             |t AS (
             |  SELECT doc_id, n1 + n2 AS n,
             |    n1 * 512 + n2 * 1024 AS dur,
             |    CASE WHEN doc_id % 2 = 0
             |      THEN (doc_id % 900 + 100) * (n1 + n2)
             |      ELSE list_sum(list_transform(range(0, n1 + n2),
             |           j -> (doc_id * 7 + j * 13) % 1000 + 1)) END AS tot
             |  FROM s)
             |SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'const' ELSE 'table' END
             |    AS size_mode,
             |  CAST(n AS BIGINT) AS n_samples,
             |  CAST(dur AS BIGINT) AS stts_duration,
             |  CAST(tot AS BIGINT) AS total_sample_bytes,
             |  CAST(tot // n AS BIGINT) AS avg_sample_bytes
             |FROM t ORDER BY media_id""".stripMargin)
    ),

    // ---- image perceptual-hash dedup census (q169's sibling, one level
    //      deeper): REAL PNG encode → REAL JDK decode → integer box-average
    //      aHash → hash census. Generated stripe images make the hash
    //      analytically predictable, so the whole decode→hash→dedup path
    //      is DuckDB-oracled: k white columns of 8 → (2^k−1)·0x0101…01,
    //      with the flat images (k=0 and k=8) landing in aHash's canonical
    //      all-zero collision class.
    QueryDef(
      "q189_image_ahash_dedup",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select(col("doc_id")).as[Long]
          .map { id =>
            val k = (id % 9).toInt
            val bytes = graft.ext.Multimodal.syntheticPng(8, 8, k)
            (id, graft.ext.Multimodal.aHash64(bytes).getOrElse(-1L))
          }
          .toDF("doc_id", "ahash")
          .groupBy("ahash")
          .agg(count(lit(1)).cast("long").as("n_images"),
            min(col("doc_id")).as("first_id"))
          .orderBy("ahash")
      },
      Some("""WITH h AS (SELECT doc_id,
             |    CASE WHEN doc_id % 9 IN (0, 8) THEN 0
             |      ELSE ((1::BIGINT << (doc_id % 9)) - 1) * 72340172838076673
             |    END AS ahash
             |  FROM documents)
             |SELECT ahash, count(*) AS n_images, min(doc_id) AS first_id
             |FROM h GROUP BY ahash ORDER BY ahash""".stripMargin)
    ),

    // ---- deterministic hash split (train/holdout membership must be
    //      engine-portable: md5-bucket arithmetic verified against DuckDB)
    QueryDef(
      "q52_deterministic_split",
      (s, dir) =>
        graft.ext.Sampling
          .deterministicSplit(t(s, dir, "documents"), "doc_id", trainPct = 80)
          .groupBy("split")
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).cast("double").as("total_chars"))
          .orderBy("split"),
      Some("""SELECT CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100) < 80
             |  THEN 'train' ELSE 'holdout' END AS split,
             |count(*) AS n, CAST(sum(n_chars) AS DOUBLE) AS total_chars
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // ---- benchmark DECONTAMINATION: corpus docs sharing >=2 distinct
    //      word 3-grams with the "eval set" (stand-in: the 10 lowest ids).
    //      The overlap count is hash-independent, so Spark's xxhash64-gram
    //      join oracles directly against DuckDB's string-gram join.
    QueryDef(
      "q79_decontamination",
      (s, dir) => {
        val d = t(s, dir, "documents")
        graft.ext.TextAnalysis.contamination(
            d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10),
            "doc_id", "text", ngramWords = 3, minOverlap = 2)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
             |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS tk
             |  FROM documents),
             |g AS (SELECT doc_id, unnest(list_distinct(
             |  CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
             |       WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
             |       ELSE list_transform(range(1, len(tk) - 1),
             |         i -> array_to_string(list_slice(tk, i, i + 2), ' ')) END))
             |  AS gram FROM t),
             |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
             |FROM g JOIN bg USING (gram) WHERE g.doc_id >= 10
             |GROUP BY doc_id HAVING count(*) >= 2 ORDER BY doc_id""".stripMargin)
    ),

    // ---- document fingerprinting (md5 of normalized text)
    QueryDef(
      "q30_fingerprints",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.fingerprintMd5(col("text")).as("fp"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // ---- context-window chunking: 64-token windows, 16-token overlap
    //      (chunk text fingerprinted so the compare stays compact)
    QueryDef(
      "q102_chunk_documents",
      (s, dir) =>
        TextAnalysis.chunkDocuments(t(s, dir, "documents"),
            "doc_id", "text", maxTokens = 64, overlap = 16)
          .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
            md5(col("chunk_text").cast("binary")).as("chunk_md5"))
          .orderBy("doc_id", "chunk_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(trim(text), '\s+'),
             |                x -> x <> '') AS t
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, t,
             |    greatest(1, (len(t) - 16 + 47) // 48) AS nc
             |  FROM toks),
             |x AS (
             |  SELECT doc_id, t, unnest(range(0, nc)) AS chunk_id FROM p),
             |c AS (
             |  SELECT doc_id, chunk_id,
             |    t[chunk_id * 48 + 1 : chunk_id * 48 + 64] AS ch
             |  FROM x)
             |SELECT doc_id, chunk_id,
             |  CAST(len(ch) AS BIGINT) AS n_tokens,
             |  md5(array_to_string(ch, ' ')) AS chunk_md5
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)
    ),

    // ---- vocabulary richness per source: type-token ratio + hapax rate
    //      (the "is this source template spam?" signal — low TTR = heavy
    //      repetition). One (source, token) count aggregate; ratios are
    //      single exact divisions of longs
    QueryDef(
      "q129_vocab_richness",
      (s, dir) => {
        val tok = t(s, dir, "documents")
          .select(col("source"),
            explode(graft.ext.TextAnalysis.tokens(lower(col("text"))))
              .as("w"))
        tok.groupBy("source", "w")
          .agg(count(lit(1)).cast("long").as("c"))
          .groupBy("source")
          .agg(sum(col("c")).cast("long").as("n_tokens"),
            count(lit(1)).cast("long").as("n_types"),
            count(when(col("c") === 1, 1)).cast("long").as("n_hapax"))
          .select(col("source"), col("n_tokens"), col("n_types"),
            col("n_hapax"),
            round(col("n_types").cast("double") / col("n_tokens"), 6)
              .as("type_token_ratio"),
            round(col("n_hapax").cast("double") / col("n_types"), 6)
              .as("hapax_rate"))
          .orderBy("source")
      },
      Some("""WITH tok AS (
             |  SELECT source, unnest(list_filter(
             |    regexp_split_to_array(trim(lower(text)), '\s+'),
             |    x -> x <> '')) AS w
             |  FROM documents),
             |tw AS (
             |  SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2)
             |SELECT source,
             |  CAST(sum(c) AS BIGINT) AS n_tokens,
             |  count(*) AS n_types,
             |  count(*) FILTER (WHERE c = 1) AS n_hapax,
             |  round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT), 6)
             |    AS type_token_ratio,
             |  round(CAST(count(*) FILTER (WHERE c = 1) AS DOUBLE) / count(*), 6)
             |    AS hapax_rate
             |FROM tw GROUP BY 1 ORDER BY source""".stripMargin)
    ),

    // ---- fuzzy record linkage (entity resolution): planted one-char
    //      deletions of unique part names relinked to their originals via
    //      multi-pass blocking (prefix ∪ suffix, length band) + a
    //      levenshtein verify on candidates only — never a cartesian. A
    //      1-char edit can't break both blocks, so recall is structural;
    //      precision < 100% is REAL (keys like '…#12'→'…#1' collide) and
    //      both engines agree on it exactly
    QueryDef(
      "q134_record_linkage",
      (s, dir) => {
        val originals = t(s, dir, "part").selectExpr("p_partkey AS oid",
          "concat(p_name, '#', CAST(p_partkey AS STRING)) AS oname")
        val perturbed = originals
          .selectExpr("oid", "oname", "(oid % length(oname)) + 1 AS pos1")
          .selectExpr("oid AS pid",
            """concat(substring(oname, 1, pos1 - 1),
              |substring(oname, pos1 + 1, length(oname) - pos1)) AS pname"""
              .stripMargin.replace("\n", " "))
        val pairs = graft.ext.Dedup.fuzzyLinkPairs(
          perturbed, "pid", "pname", originals, "oid", "oname",
          maxDist = 1, blockLen = 3)
        pairs.agg(
            count(lit(1)).cast("long").as("n_pairs"),
            count(when(col("id_l") === col("id_r"), 1)).cast("long")
              .as("n_correct"))
          .crossJoin(broadcast(originals.agg(
            count(lit(1)).cast("long").as("n_entities"))))
          .select(col("n_pairs"), col("n_correct"), col("n_entities"),
            round(col("n_correct").cast("double") / col("n_entities")
              * lit(100.0).cast("double"), 6).as("recall_pct"),
            round(col("n_correct").cast("double") / col("n_pairs")
              * lit(100.0).cast("double"), 6).as("precision_pct"))
      },
      Some("""WITH o AS (
             |  SELECT p_partkey AS oid,
             |    p_name || '#' || CAST(p_partkey AS VARCHAR) AS oname
             |  FROM part),
             |p AS (
             |  SELECT oid AS pid,
             |    substr(oname, 1, pos1 - 1)
             |      || substr(oname, pos1 + 1, length(oname) - pos1) AS pname
             |  FROM (SELECT oid, oname,
             |          (oid % length(oname)) + 1 AS pos1 FROM o)),
             |cand AS (
             |  SELECT DISTINCT pid, pname, oid, oname FROM (
             |    SELECT pid, pname, oid, oname
             |    FROM p JOIN o ON substr(pname, 1, 3) = substr(oname, 1, 3)
             |      AND abs(length(pname) - length(oname)) <= 1
             |    UNION ALL
             |    SELECT pid, pname, oid, oname
             |    FROM p JOIN o ON substr(pname, -3, 3) = substr(oname, -3, 3)
             |      AND abs(length(pname) - length(oname)) <= 1)),
             |m AS (SELECT * FROM cand WHERE levenshtein(pname, oname) <= 1)
             |SELECT count(*) AS n_pairs,
             |  count(*) FILTER (WHERE pid = oid) AS n_correct,
             |  (SELECT count(*) FROM o) AS n_entities,
             |  round(CAST(count(*) FILTER (WHERE pid = oid) AS DOUBLE)
             |        / (SELECT count(*) FROM o)
             |        * CAST(100.0 AS DOUBLE), 6) AS recall_pct,
             |  round(CAST(count(*) FILTER (WHERE pid = oid) AS DOUBLE)
             |        / count(*) * CAST(100.0 AS DOUBLE), 6) AS precision_pct
             |FROM m""".stripMargin)
    ),

    // ---- asymmetric containment dedup: planted 25-token snippets of every
    //      10th doc relink to their parents with containment 1.0 even
    //      though their Jaccard vs the parent is tiny — the excerpt/
    //      boilerplate-wrap duplication shape symmetric measures miss.
    //      Blocked (lang, source) pair scan, gram sets hashed once;
    //      intersections run on longs and stay out of the join condition
    QueryDef(
      "q138_containment_pairs",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
        val snippets = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            array_join(slice(TextAnalysis.tokens(col("text")), 1, 25), " ")
              .as("text"),
            col("lang"), col("source"))
        Dedup.containmentPairs(docs.unionByName(snippets), "doc_id", "text",
          groupCols = Seq("lang", "source"), n = 1, minContainment = 0.8)
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text, lang, source FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000,
             |    array_to_string(list_filter(
             |      regexp_split_to_array(trim(text), '\s+'),
             |      x -> x <> '')[1:25], ' '),
             |    lang, source
             |  FROM documents WHERE doc_id % 10 = 0),
             |toks AS (
             |  SELECT doc_id, lang, source,
             |    list_distinct(list_filter(
             |      regexp_split_to_array(trim(text), '\s+'),
             |      x -> x <> '')) AS t
             |  FROM corpus),
             |pairs AS (
             |  SELECT a.lang, a.source,
             |    CASE WHEN len(a.t) < len(b.t)
             |           OR (len(a.t) = len(b.t) AND a.doc_id < b.doc_id)
             |      THEN a.doc_id ELSE b.doc_id END AS contained_id,
             |    CASE WHEN len(a.t) < len(b.t)
             |           OR (len(a.t) = len(b.t) AND a.doc_id < b.doc_id)
             |      THEN b.doc_id ELSE a.doc_id END AS container_id,
             |    CAST(least(len(a.t), len(b.t)) AS BIGINT) AS n_grams,
             |    len(list_intersect(a.t, b.t)) AS inter
             |  FROM toks a JOIN toks b
             |    ON a.lang = b.lang AND a.source = b.source
             |    AND a.doc_id < b.doc_id),
             |m AS (
             |  SELECT contained_id, container_id, lang, source, n_grams,
             |    CASE WHEN n_grams = 0 THEN 0.0
             |      ELSE round(CAST(inter AS DOUBLE) / n_grams, 4) END
             |      AS containment
             |  FROM pairs)
             |SELECT contained_id, container_id, lang, source, n_grams,
             |  containment
             |FROM m WHERE containment >= 0.8
             |ORDER BY contained_id, container_id""".stripMargin)
    ),

    // ---- EXACT SUBSTRING duplication census (substring-level training-
    //      data dedup): every 40-char window flagged when its text recurs
    //      in >= 2 distinct docs; per doc, dup-window count + longest
    //      consecutive dup run (shared-passage length). Spark hashes
    //      windows (longs shuffle, never strings); output is cardinality-
    //      only, so the string-window DuckDB twin hash-matches (q24/q140
    //      argument)
    QueryDef(
      "q171_substring_dup_spans",
      (s, dir) =>
        Dedup.substringDupSpans(t(s, dir, "documents"), "doc_id", "text",
          k = SubK),
      Some(s"""WITH base AS (SELECT doc_id, text FROM documents
              |  WHERE text IS NOT NULL AND length(text) >= $SubK),
              |w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
              |    substr(text, CAST(i AS INT), $SubK) AS win
              |  FROM (SELECT doc_id, text,
              |      unnest(range(1, length(text) - ${SubK - 2})) AS i
              |    FROM base)),
              |dh AS (SELECT win FROM w GROUP BY win
              |  HAVING min(doc_id) <> max(doc_id)),
              |f AS (SELECT w.doc_id, w.pos FROM w JOIN dh USING (win)),
              |g AS (SELECT doc_id, pos,
              |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
              |      AS grp
              |  FROM f),
              |runs AS (SELECT doc_id, grp, count(*) AS run
              |  FROM g GROUP BY doc_id, grp),
              |agg AS (SELECT doc_id,
              |    CAST(count(*) AS BIGINT) AS nruns,
              |    CAST(sum(run) AS BIGINT) AS ndup,
              |    CAST(max(run) AS BIGINT) AS maxrun
              |  FROM runs GROUP BY doc_id)
              |SELECT b.doc_id,
              |  CAST(length(b.text) - ${SubK - 1} AS BIGINT) AS n_windows,
              |  coalesce(a.ndup, 0) AS n_dup_windows,
              |  coalesce(a.nruns, 0) AS n_dup_spans,
              |  coalesce(a.maxrun + ${SubK - 1}, 0) AS max_span_chars
              |FROM base b LEFT JOIN agg a USING (doc_id)
              |ORDER BY doc_id""".stripMargin)
    ),

    // ---- REPRODUCIBLE EPOCH SHUFFLE: the deterministic per-epoch data
    //      order a training run must be able to replay (portable hash of
    //      epoch:id as the sort key). Per epoch the first 10 ids emit via
    //      a distributed top-k (TakeOrderedAndProject) — NEVER a global
    //      permutation sort; rank is a window over the 30 collected rows.
    QueryDef(
      "q175_epoch_shuffle",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val frames = (0 until 3).map { e =>
          docs.select(lit(e.toLong).as("epoch"), col("doc_id"),
            Dedup.portableHash60(
              concat_ws(":", lit(e.toLong), col("doc_id"))).as("_h"))
            .orderBy(col("_h"), col("doc_id")).limit(10)
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("epoch").orderBy(col("_h"), col("doc_id"))
        frames.reduce(_ unionAll _)
          .withColumn("rank", row_number().over(w).cast("long"))
          .select(col("epoch"), col("rank"), col("doc_id"))
          .orderBy("epoch", "rank")
      },
      Some("""WITH h AS (SELECT e.epoch, d.doc_id,
             |    ('0x' || substr(md5(CAST(e.epoch AS VARCHAR) || ':' ||
             |      CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
             |  FROM documents d, (SELECT unnest(range(0, 3)) AS epoch) e),
             |r AS (SELECT epoch, doc_id,
             |    row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id)
             |      AS rank
             |  FROM h)
             |SELECT CAST(epoch AS BIGINT) AS epoch, CAST(rank AS BIGINT)
             |  AS rank, doc_id
             |FROM r WHERE rank <= 10 ORDER BY epoch, rank""".stripMargin)
    ),

    // ---- ZIPF VOCABULARY PROFILE: top-20 tokens with exact counts,
    //      cumulative coverage, and share — the tokenizer-budget readout.
    //      Token counts partial-aggregate; top-k is TakeOrderedAndProject;
    //      the cumsum window runs over 20 rows.
    QueryDef(
      "q176_zipf_profile",
      (s, dir) => {
        val tok = t(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        val counts = tok.groupBy("token")
          .agg(count(lit(1)).cast("long").as("n"))
        val tot = broadcast(counts.agg(sum(col("n")).cast("long").as("_tot")))
        val top = counts.orderBy(desc("n"), asc("token")).limit(20)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(desc("n"), asc("token"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        top.crossJoin(tot)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(desc("n"), asc("token"))).cast("long"))
          .withColumn("cum_n", sum(col("n")).over(w).cast("long"))
          .select(col("rank"), col("token"), col("n"), col("cum_n"),
            round(col("cum_n").cast("double") / col("_tot").cast("double"), 6)
              .as("cum_share"))
          .orderBy("rank")
      },
      Some("""WITH tk AS (SELECT unnest(list_filter(
             |    regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))
             |      AS token
             |  FROM documents),
             |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n
             |  FROM tk GROUP BY 1),
             |tt AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
             |top AS (SELECT token, n,
             |    row_number() OVER (ORDER BY n DESC, token) AS rank
             |  FROM c ORDER BY n DESC, token LIMIT 20)
             |SELECT CAST(rank AS BIGINT) AS rank, token, n,
             |  CAST(sum(n) OVER (ORDER BY rank) AS BIGINT) AS cum_n,
             |  round(CAST(sum(n) OVER (ORDER BY rank) AS DOUBLE)
             |    / CAST(tt.tot AS DOUBLE), 6) AS cum_share
             |FROM top, tt ORDER BY rank""".stripMargin)
    ),

    // ---- WINNOWED FINGERPRINTS (MOSS scheme): the lake-scale candidate
    //      channel for q171 — sliding-min selection over k-gram hashes
    //      (any shared passage >= w+k-1 chars forces a shared selection),
    //      df-capped fingerprint equi-join, shared-count census. Portable
    //      md5 hash family → full DuckDB twin including the window min.
    QueryDef(
      "q172_winnowed_candidates",
      (s, dir) =>
        Dedup.winnowedCandidatePairs(t(s, dir, "documents"), "doc_id",
          "text", k = SubK, w = WinW, portable = true),
      Some(s"""WITH base AS (SELECT doc_id, text FROM documents
              |  WHERE text IS NOT NULL AND length(text) >= ${SubK + WinW - 1}),
              |w AS (SELECT doc_id,
              |    CAST(length(text) - ${SubK - 1} AS BIGINT) AS nw,
              |    CAST(i AS BIGINT) AS pos,
              |    ('0x' || substr(md5(substr(text, CAST(i AS INT), $SubK)),
              |        1, 15))::BIGINT AS h
              |  FROM (SELECT doc_id, text,
              |      unnest(range(1, length(text) - ${SubK - 2})) AS i
              |    FROM base)),
              |m AS (SELECT doc_id, pos, nw,
              |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
              |      ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS mn
              |  FROM w),
              |fp AS (SELECT DISTINCT doc_id, mn AS fp FROM m
              |  WHERE pos <= nw - ${WinW - 1}),
              |rare AS (SELECT fp FROM fp GROUP BY fp
              |  HAVING count(*) BETWEEN 2 AND 1000),
              |kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp))
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  CAST(count(*) AS BIGINT) AS n_shared
              |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |GROUP BY 1, 2 HAVING count(*) >= 2
              |ORDER BY id_a, id_b""".stripMargin)
    ),

    // ---- prefix-filtered set-similarity self-join (PPJoin candidate
    //      channel): same exact 3-gram Jaccard answer as a brute-force
    //      all-pairs scan, but candidates come from an equi-join on each
    //      doc's RAREST grams only (prefix-filtering theorem) — no
    //      blocking keys, no cartesian. The oracle IS the brute force,
    //      so the hash match doubles as a no-false-negatives proof
    QueryDef(
      "q140_prefix_jaccard_pairs",
      (s, dir) =>
        // producing stage: ALWAYS re-derives, then registers the verified
        // pair set as a materialized artifact for downstream policy stages
        // (q143) — the pipeline derives pairs ONCE, like a production
        // curation run that persists this table (the q74 index pattern)
        graft.util.Materialized.putPersistent(s, pairIndexParts(dir),
          Dedup.prefixJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
            n = 3, minSim = 0.5)),
      Some(s"""WITH $prefixGramPairCtes
              |SELECT id_a, id_b, jaccard_sim
              |FROM ppairs WHERE jaccard_sim >= 0.5
              |ORDER BY id_a, id_b""".stripMargin)
    ),

    // ---- canonical selection per near-dup cluster: q140's verified pairs
    //      → min-label connected components → keep the LONGEST member
    //      (ties to lowest id). The policy layer of dedup: "which copy do
    //      we train on". Oracle clusters via the q77 recursive-CTE pattern
    QueryDef(
      "q143_canonical_selection",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // consuming stage: reuse q140's materialized pair index (derive it
        // only if the producer never ran in this session) — identical rows
        // either way, so the oracle hash is path-independent
        val pairs = graft.util.Materialized.getOrBuildPersistent(s, pairIndexParts(dir))(
          Dedup.prefixJaccardPairs(docs, "doc_id", "text",
            n = 3, minSim = 0.5))
        Dedup.canonicalPerCluster(docs, "doc_id", "n_chars", pairs)
      },
      Some(s"""WITH RECURSIVE $prefixGramPairCtes,
              |pairs AS (SELECT id_a, id_b FROM ppairs WHERE jaccard_sim >= 0.5),
              |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              |  UNION SELECT id_b, id_a FROM pairs),
              |reach(node, label) AS (
              |  SELECT src, src FROM edges
              |  UNION
              |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
              |labels AS (SELECT node, min(label) AS cl FROM reach GROUP BY node),
              |m AS (SELECT l.cl AS cluster_id, l.node, d.n_chars
              |      FROM labels l JOIN documents d ON d.doc_id = l.node),
              |r2 AS (SELECT cluster_id, node, n_chars,
              |  count(*) OVER (PARTITION BY cluster_id) AS n_members,
              |  row_number() OVER (PARTITION BY cluster_id
              |    ORDER BY n_chars DESC, node) AS rn
              |  FROM m)
              |SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
              |  node AS canonical_id, CAST(n_chars AS BIGINT) AS canonical_score
              |FROM r2 WHERE rn = 1 ORDER BY cluster_id""".stripMargin)
    ),

    // ---- per-SOURCE duplication profile: consumes the q140 pair index
    //      (the Materialized composition q143 uses) and joins dup
    //      membership + intra-source pair counts back to the docs table —
    //      the "which sources are polluting the corpus" curation readout.
    //      The dup end-set is tiny; every join is keyed on 8-byte ids.
    QueryDef(
      "q173_source_dup_profile",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = graft.util.Materialized.getOrBuildPersistent(s, pairIndexParts(dir))(
          Dedup.prefixJaccardPairs(docs, "doc_id", "text",
            n = 3, minSim = 0.5))
        val ends = pairs.select(col("id_a").as("doc_id"))
          .union(pairs.select(col("id_b").as("doc_id")))
          .distinct()
          .withColumn("_dup", lit(1L))
        val bySrc = docs.join(ends, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(coalesce(col("_dup"), lit(0L))).cast("long").as("n_dup_docs"))
        val intra = pairs
          .join(docs.select(col("doc_id").as("id_a"),
            col("source").as("_sa")), Seq("id_a"))
          .join(docs.select(col("doc_id").as("id_b"),
            col("source").as("_sb")), Seq("id_b"))
          .filter(col("_sa") === col("_sb"))
          .groupBy(col("_sa").as("source"))
          .agg(count(lit(1)).cast("long").as("n_intra_pairs"))
        bySrc.join(intra, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("n_dup_docs"),
            coalesce(col("n_intra_pairs"), lit(0L)).as("n_intra_pairs"))
          .orderBy("source")
      },
      Some(s"""WITH $prefixGramPairCtes,
              |p AS (SELECT id_a, id_b FROM ppairs WHERE jaccard_sim >= 0.5),
              |ends AS (SELECT DISTINCT doc_id FROM (
              |  SELECT id_a AS doc_id FROM p
              |  UNION ALL SELECT id_b AS doc_id FROM p)),
              |bysrc AS (SELECT d.source,
              |    CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_dup_docs
              |  FROM documents d LEFT JOIN ends e USING (doc_id)
              |  GROUP BY 1),
              |intra AS (SELECT da.source,
              |    CAST(count(*) AS BIGINT) AS n_intra_pairs
              |  FROM p
              |  JOIN documents da ON da.doc_id = p.id_a
              |  JOIN documents db ON db.doc_id = p.id_b
              |  WHERE da.source = db.source GROUP BY 1)
              |SELECT b.source, b.n_docs, b.n_dup_docs,
              |  coalesce(i.n_intra_pairs, 0) AS n_intra_pairs
              |FROM bysrc b LEFT JOIN intra i USING (source)
              |ORDER BY source""".stripMargin)
    ),

    // ---- DSIR-flavored hashed-token DOMAIN SCORE: cross-multiplied
    //      integer likelihood-ratio sum per doc over a broadcast 64-row
    //      bucket-marginal table — the data-selection scorer, fully
    //      engine-exact (addend ≤ N_t·N_r ≈ 1.2e10 at sf0.1, doc sums
    //      ≪ 2^63 even at 100×; DuckDB sums via HUGEINT, cast back)
    QueryDef(
      "q174_domain_score",
      (s, dir) =>
        TextAnalysis.domainScore(t(s, dir, "documents"), "doc_id", "text",
          col("source").isin("src0", "src1", "src2", "src3", "src4")),
      Some("""WITH tk AS (SELECT doc_id,
             |    source IN ('src0','src1','src2','src3','src4') AS t,
             |    unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
             |      x -> x <> '')) AS tok
             |  FROM documents),
             |b AS (SELECT doc_id, t,
             |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS bk
             |  FROM tk),
             |m AS (SELECT bk,
             |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             |    CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS nr
             |  FROM b GROUP BY 1),
             |tt AS (SELECT CAST(sum(nt) AS BIGINT) AS tn,
             |    CAST(sum(nr) AS BIGINT) AS rn FROM m)
             |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(m.nt * tt.rn - m.nr * tt.tn) AS BIGINT) AS score,
             |  CAST(CAST(sum(m.nt * tt.rn - m.nr * tt.tn) AS BIGINT) > 0
             |    AS BIGINT) AS predicted_target
             |FROM b JOIN m ON m.bk = b.bk, tt
             |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin)
    ),

    // ---- ensemble dedup verdict: three channels — exact content hash,
    //      normalized-text hash, 3-gram prefix-Jaccard (the q140 pair
    //      index, reused via Materialized) — full-outer merged into one
    //      vote table. The precision ladder a curation pipeline gates on
    //      before canonical selection / review.
    QueryDef(
      "q188_ensemble_dedup",
      (s, dir) => {
        import graft.ext.{Dedup, TextAnalysis}
        val docs = t(s, dir, "documents")
        def pairsOn(h: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
          val withH = docs.select(col("doc_id"), h.as("_h"))
          withH.select(col("doc_id").as("id_a"), col("_h"))
            .join(withH.select(col("doc_id").as("id_b"), col("_h")), Seq("_h"))
            .filter(col("id_a") < col("id_b"))
            .select("id_a", "id_b")
        }
        val exact = pairsOn(Dedup.contentHash(Seq("text")))
        val norm = pairsOn(TextAnalysis.fingerprintMd5(col("text")))
        val jac = graft.util.Materialized.getOrBuildPersistent(s, pairIndexParts(dir))(
          Dedup.prefixJaccardPairs(docs, "doc_id", "text",
            n = 3, minSim = 0.5))
        Dedup.ensembleVerdict(Seq(
          "exact" -> exact, "norm" -> norm, "jaccard" -> jac))
      },
      Some(s"""WITH $prefixGramPairCtes,
             |jac AS (SELECT id_a, id_b FROM ppairs WHERE jaccard_sim >= 0.5),
             |ex AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM documents a JOIN documents b
             |  ON a.doc_id < b.doc_id AND md5(a.text) = md5(b.text)),
             |nrm AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM documents a JOIN documents b
             |  ON a.doc_id < b.doc_id
             |  AND md5(trim(regexp_replace(lower(a.text), '\\s+', ' ', 'g'))) =
             |      md5(trim(regexp_replace(lower(b.text), '\\s+', ' ', 'g')))),
             |u AS (SELECT id_a, id_b FROM jac
             |  UNION SELECT id_a, id_b FROM ex
             |  UNION SELECT id_a, id_b FROM nrm)
             |SELECT u.id_a, u.id_b,
             |  (CASE WHEN EXISTS (SELECT 1 FROM ex e
             |    WHERE e.id_a = u.id_a AND e.id_b = u.id_b)
             |    THEN 1 ELSE 0 END)::BIGINT AS v_exact,
             |  (CASE WHEN EXISTS (SELECT 1 FROM nrm n
             |    WHERE n.id_a = u.id_a AND n.id_b = u.id_b)
             |    THEN 1 ELSE 0 END)::BIGINT AS v_norm,
             |  (CASE WHEN EXISTS (SELECT 1 FROM jac j
             |    WHERE j.id_a = u.id_a AND j.id_b = u.id_b)
             |    THEN 1 ELSE 0 END)::BIGINT AS v_jaccard,
             |  ((CASE WHEN EXISTS (SELECT 1 FROM ex e
             |    WHERE e.id_a = u.id_a AND e.id_b = u.id_b) THEN 1 ELSE 0 END) +
             |   (CASE WHEN EXISTS (SELECT 1 FROM nrm n
             |    WHERE n.id_a = u.id_a AND n.id_b = u.id_b) THEN 1 ELSE 0 END) +
             |   (CASE WHEN EXISTS (SELECT 1 FROM jac j
             |    WHERE j.id_a = u.id_a AND j.id_b = u.id_b) THEN 1 ELSE 0 END)
             |  )::BIGINT AS votes
             |FROM u ORDER BY id_a, id_b""".stripMargin)
    ),

    // ---- dedup THRESHOLD SWEEP: the knob-tuning readout a curation run
    //      publishes before fixing minSim — per candidate threshold, the
    //      surviving pair count, affected-doc count, and corpus share,
    //      all from the ONE materialized q140 pair index (derived once
    //      per session; the sweep itself only rescans the tiny pair set
    //      per threshold). Left joins keep zero-pair thresholds visible.
    QueryDef(
      "q200_dedup_threshold_sweep",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = graft.util.Materialized.getOrBuildPersistent(s, pairIndexParts(dir))(
          Dedup.prefixJaccardPairs(docs, "doc_id", "text",
            n = 3, minSim = 0.5))
        val th = broadcast(s.createDataFrame(Seq(
          ("0.5", 0.5), ("0.6", 0.6), ("0.7", 0.7), ("0.8", 0.8),
          ("0.9", 0.9))).toDF("threshold", "_thr"))
        val pt = th.join(pairs, col("jaccard_sim") >= col("_thr"), "left")
        val nPairs = pt.groupBy("threshold")
          .agg(count(col("id_a")).cast("long").as("n_pairs"))
        val nDocs = pt
          .select(col("threshold"),
            explode(array(col("id_a"), col("id_b"))).as("_id"))
          .groupBy("threshold")
          .agg(countDistinct(col("_id")).cast("long").as("n_docs_in_pairs"))
        val total = broadcast(docs.agg(count(lit(1)).cast("long").as("_nd")))
        nPairs.join(nDocs, Seq("threshold")).crossJoin(total)
          .select(col("threshold"), col("n_pairs"), col("n_docs_in_pairs"),
            round(lit(100.0) * col("n_docs_in_pairs").cast("double") /
              col("_nd").cast("double"), 4).as("pct_docs"))
          .orderBy("threshold")
      },
      Some(s"""WITH $prefixGramPairCtes,
              |th(threshold, thr) AS (VALUES ('0.5', 0.5), ('0.6', 0.6),
              |  ('0.7', 0.7), ('0.8', 0.8), ('0.9', 0.9)),
              |pt AS (SELECT t.threshold, p.id_a, p.id_b
              |  FROM th t LEFT JOIN ppairs p ON p.jaccard_sim >= t.thr),
              |np AS (SELECT threshold, CAST(count(id_a) AS BIGINT) AS n_pairs
              |  FROM pt GROUP BY 1),
              |nd AS (SELECT threshold,
              |    CAST(count(DISTINCT id) AS BIGINT) AS n_docs_in_pairs
              |  FROM (SELECT threshold, unnest([id_a, id_b]) AS id FROM pt)
              |  GROUP BY 1),
              |tot AS (SELECT count(*) AS ndocs FROM documents)
              |SELECT np.threshold, np.n_pairs, nd.n_docs_in_pairs,
              |  round(CAST(100.0 AS DOUBLE) *
              |    CAST(nd.n_docs_in_pairs AS DOUBLE) /
              |    CAST(tot.ndocs AS DOUBLE), 4) AS pct_docs
              |FROM np JOIN nd USING (threshold), tot
              |ORDER BY threshold""".stripMargin)
    ),

    // ---- the LSH banding S-curve planning table: candidate probability
    //      1−(1−s^r)^b for every power-of-two split of the 64-hash
    //      signature, via SQUARING CHAINS (zero libm; the q149 exact-
    //      dyadics discipline). Constant-size — decides q25/q74's banding
    //      before any corpus pass.
    QueryDef(
      "q223_lsh_banding_curve",
      (s, _) => graft.ext.Dedup.lshBandingCurve(s),
      Some {
        val configs = Seq(4, 8, 16, 32).map(b => (b, 64 / b))
        def log2(x: Int): Int = java.lang.Integer.numberOfTrailingZeros(x)
        // s^r and (1 − s^r)^b as squaring-chain CTEs: each step exposes
        // (s, x) / (s, y), one squaring per step, names unique per config
        val perConfig = configs.map { case (b, r) =>
          val srSteps = (0 until log2(r)).map(t =>
            s"x${t + 1}_$b AS (SELECT s, x * x AS x FROM x${t}_$b)")
          val missSteps = (0 until log2(b)).map(t =>
            s"y${t + 1}_$b AS (SELECT s, y * y AS y FROM y${t}_$b)")
          val chain = Seq(
            s"grid_$b AS (SELECT CAST(range AS DOUBLE) " +
              s"/ CAST(20.0 AS DOUBLE) AS s FROM range(1, 20))",
            s"x0_$b AS (SELECT s, s AS x FROM grid_$b)") ++ srSteps ++ Seq(
            s"y0_$b AS (SELECT s, CAST(1.0 AS DOUBLE) - x AS y " +
              s"FROM x${log2(r)}_$b)") ++ missSteps
          val last = s"y${log2(b)}_$b"
          (chain.mkString(",\n"),
            s"SELECT CAST($b AS BIGINT) AS bands, " +
              s"CAST($r AS BIGINT) AS rows_per_band, round(s, 2) AS s, " +
              s"round(CAST(1.0 AS DOUBLE) - y, 6) AS p_candidate, " +
              s"(CAST(1.0 AS DOUBLE) - y) >= CAST(0.5 AS DOUBLE) " +
              s"AS candidate_majority FROM $last")
        }
        s"WITH ${perConfig.map(_._1).mkString(",\n")}\n" +
          s"${perConfig.map(_._2).mkString(" UNION ALL ")} ORDER BY bands, s"
      }),

    // ---- concat-then-chunk packing census (GPT-style pretraining packer):
    //      shard by portable hash, order by (hash, id), running token
    //      offset = per-shard ROWS window (distributed prefix sum), then
    //      per shard the chunk count and the boundary-straddling census.
    //      The hash gate pins the whole layout — shard assignment, packing
    //      order, offsets and crossings — not just the totals
    QueryDef(
      "q226_concat_chunk_packing",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("doc_id"),
            graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tok"))
        graft.ext.TextAnalysis.concatChunkCensus(
          toks, "doc_id", "n_tok", nShards = 8, chunkTokens = 256,
          portable = true)
      },
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             |      x -> x <> '')) AS BIGINT) AS n_tok,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             |      AS h
             |  FROM documents),
             |s AS (SELECT doc_id, n_tok, h, h % 8 AS shard FROM tok),
             |c AS (SELECT shard, n_tok,
             |    coalesce(sum(n_tok) OVER (PARTITION BY shard
             |      ORDER BY h, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
             |  FROM s),
             |d AS (SELECT shard, n_tok, cb, cb // 256 AS fc,
             |    CASE WHEN n_tok = 0 THEN cb // 256
             |         ELSE (cb + n_tok - 1) // 256 END AS lc
             |  FROM c)
             |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_tok) AS BIGINT) AS tok_total,
             |  CAST((sum(n_tok) + 255) // 256 AS BIGINT) AS n_chunks,
             |  CAST(coalesce(sum(CASE WHEN lc > fc THEN 1 END), 0) AS BIGINT)
             |    AS boundary_docs,
             |  CAST(sum(lc - fc) AS BIGINT) AS total_crossings,
             |  round(CAST(count(*) -
             |      coalesce(sum(CASE WHEN lc > fc THEN 1 END), 0) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE), 6) AS intact_frac
             |FROM d GROUP BY shard ORDER BY shard""".stripMargin)
    ),

    // ---- tokenizer-vocab sizing: smallest vocabulary covering ≥ 95% of
    //      the token stream. The engine resolves the cutoff on the
    //      count-of-counts GRID (no global vocab window — q125/q196
    //      refinement one level coarser); the oracle is the bare
    //      definition, a full-vocab cumulative window. Equal hash =
    //      the grid decomposition is exact
    QueryDef(
      "q231_vocab_coverage",
      (s, dir) =>
        graft.ext.TextAnalysis.vocabCoverage(
          t(s, dir, "documents"), "text", coverNum = 19, coverDen = 20),
      Some("""WITH tok AS (
             |  SELECT unnest(list_filter(
             |    regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))
             |    AS token
             |  FROM documents),
             |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n
             |  FROM tok GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS tt,
             |    CAST(count(*) AS BIGINT) AS d FROM c),
             |o AS (SELECT n,
             |    sum(n) OVER (ORDER BY n DESC, token
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    row_number() OVER (ORDER BY n DESC, token) AS rk
             |  FROM c),
             |hit AS (SELECT rk, cum, n FROM o, t
             |  WHERE 20 * cum >= 19 * tt ORDER BY rk LIMIT 1)
             |SELECT t.tt AS total_tokens, t.d AS distinct_tokens,
             |  CAST(hit.rk AS BIGINT) AS vocab_size,
             |  CAST(hit.cum AS BIGINT) AS covered_tokens,
             |  CAST(hit.n AS BIGINT) AS boundary_count,
             |  round(CAST(t.tt - hit.cum AS DOUBLE) / CAST(t.tt AS DOUBLE), 6)
             |    AS oov_rate
             |FROM t, hit""".stripMargin)
    )
  )

  /** Shared CTE prefix for the portable minhash oracles (q25/q46/q74):
    * 3-gram sets (wordNgrams semantics incl. short-text fallback),
    * 30-bit-masked portable gram hashes, and the 16-wide signature
    * columns h0..h15 — exactly
    * [[graft.ext.Dedup.minHashSignaturesPortable]]'s math, over `src`.
    */
  private[queries] def portableSigCtes(src: String = "documents"): String = {
    val mins = graft.ext.Dedup.affineConsts(16, 30).zipWithIndex.map {
      case ((a, b), i) =>
        s"list_min(list_transform(h, x -> x * $a + $b)) AS h$i"
    }.mkString(",\n  ")
    s"""toks AS (
       |  SELECT doc_id, list_filter(
       |    regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS tk
       |  FROM $src),
       |grams AS (SELECT doc_id, list_distinct(
       |  CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
       |       WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
       |       ELSE list_transform(generate_series(1, len(tk) - 2),
       |              j -> tk[j] || ' ' || tk[j+1] || ' ' || tk[j+2]) END) AS g
       |  FROM toks),
       |hs AS (SELECT doc_id, list_transform(g,
       |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT & 1073741823) AS h
       |  FROM grams WHERE len(g) > 0),
       |sigs AS (SELECT doc_id,
       |  $mins
       |  FROM hs)""".stripMargin
  }

  /** Band-key UNION for a 16-hash / 4-band signature table `src`:
    * (doc_id, band, bk) with bk = the band's 4 signature VALUES — the
    * value-keyed banding [[graft.ext.Dedup.minHashPairsPortable]] uses.
    */
  private[queries] def bandKeySql(src: String): String =
    (0 until 4).map { j =>
      val parts = (0 until 4).map(i => s"h${j * 4 + i}::VARCHAR")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $j AS band, $parts AS bk FROM $src"
    }.mkString("\n  UNION ALL ")

  /** q25's oracle: portable signatures → value-keyed banded candidates →
    * exact Jaccard on (full-width) portable gram hashes ≥ threshold.
    */
  private def minHashPairsOracleSql: String =
    s"""WITH ${portableSigCtes()},
       |bands AS (
       |  ${bandKeySql("sigs")}),
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
       |hsets AS (SELECT doc_id, list_distinct(list_transform(g,
       |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS st
       |  FROM grams WHERE len(g) > 0),
       |scored AS (SELECT id_a, id_b,
       |  round(CASE WHEN len(list_distinct(a.st || b.st)) = 0 THEN 0.0
       |    ELSE len(list_intersect(a.st, b.st))::DOUBLE /
       |         len(list_distinct(a.st || b.st)) END, 4) AS jaccard_sim
       |  FROM cand JOIN hsets a ON a.doc_id = cand.id_a
       |            JOIN hsets b ON b.doc_id = cand.id_b)
       |SELECT id_a, id_b, jaccard_sim FROM scored
       |WHERE jaccard_sim >= CAST(0.5 AS DOUBLE)
       |ORDER BY id_a, id_b""".stripMargin

  /** q26's oracle: 32-bit portable simhashes (q68's machinery, wider) +
    * the BARE definition — all pairs within Hamming 3 (pigeonhole makes
    * the chunk channel's output exactly this set). Shifts go through
    * 1::BIGINT (DuckDB's bare `1 << 31` overflows INT32).
    */
  private def simHashPairsOracleSql: String = {
    val bitSums = (0 until 32).map(k =>
      s"sum(CASE WHEN (h >> $k) & 1 = 1 THEN 1 ELSE -1 END) AS b$k")
      .mkString(",\n  ")
    val hashExpr = (0 until 32).map(k =>
      s"(CASE WHEN b$k > 0 THEN (1::BIGINT << $k) ELSE 0::BIGINT END)")
      .mkString(" | ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(
       |    regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS tok
       |  FROM documents),
       |th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
       |       FROM toks),
       |bits AS (SELECT doc_id,
       |  $bitSums
       |  FROM th GROUP BY doc_id),
       |sh AS (SELECT doc_id, CAST($hashExpr AS BIGINT) AS simhash FROM bits)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q54's oracle: the byte census of the decoded payloads (text kind →
    * the utf-8 bytes themselves) — nibble histogram via hex(encode(text))
    * odd-position chars, byte totals via strlen, frame samples via the
    * 1 + (n−1)//1024 stride rule. Pure integer math in both engines.
    */
  private def multimodalHistOracleSql: String = {
    val hexDigit = "0123456789ABCDEF"
    val hists = (0 until 16).map(i =>
      s"CAST(coalesce((SELECT n FROM cnt WHERE c = '${hexDigit(i)}'), 0) " +
        f"AS BIGINT) AS hist_$i%02d").mkString(",\n  ")
    s"""WITH hx AS (SELECT strlen(text) AS nb, hex(encode(text)) AS h
       |  FROM documents),
       |nib AS (SELECT unnest(list_transform(range(1, (strlen(h) // 2) + 1),
       |    i -> substr(h, 2*i - 1, 1))) AS c FROM hx),
       |cnt AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM nib GROUP BY c)
       |SELECT 'text' AS kind,
       |  (SELECT CAST(count(*) AS BIGINT) FROM hx) AS n,
       |  (SELECT CAST(sum(nb) AS BIGINT) FROM hx) AS total_bytes,
       |  (SELECT CAST(sum(CASE WHEN nb = 0 THEN 0 ELSE 1 + (nb - 1) // 1024 END)
       |     AS BIGINT) FROM hx) AS total_frames,
       |  $hists""".stripMargin
  }

  /** q46's oracle — the whole curation funnel as one composed CTE chain:
    * q67's quality/length filter stages, keep-first exact dedup
    * (row_number over coalesce(text,''), the contentHash grouping), then
    * the portable banded minhash drop (q25's machinery over the exact-
    * dedup survivors at threshold 0.7), and the 6 funnel readouts.
    */
  private def curationPipelineOracleSql: String =
    s"""WITH m AS (SELECT doc_id, text,
       |  len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS ntok,
       |  CASE WHEN length(text) = 0 THEN 0.0
       |       ELSE length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text) END AS alpha,
       |  len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it|was|for)\\b')) AS ens,
       |  length(regexp_replace(text, '\\s+', '', 'g')) AS nws,
       |  length(text) AS len FROM documents),
       |sc AS (SELECT doc_id, text, ntok,
       |  round(
       |    least(len / 500.0, 1.0) * 0.25 + alpha * 0.35 +
       |    least((CASE WHEN ntok = 0 THEN 0.0 ELSE ens::DOUBLE / ntok END) * 5.0, 1.0) * 0.2 +
       |    (CASE WHEN (CASE WHEN ntok = 0 THEN 0.0 ELSE nws::DOUBLE / ntok END)
       |          BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.2, 4) AS score
       |  FROM m),
       |f AS (SELECT doc_id, text, ntok FROM sc
       |  WHERE score >= 0.3 AND ntok BETWEEN 5 AND 100000),
       |ex AS (SELECT doc_id, text, ntok FROM (
       |  SELECT *, row_number() OVER (PARTITION BY coalesce(text, '')
       |    ORDER BY doc_id) AS rn FROM f) WHERE rn = 1),
       |${portableSigCtes("ex")},
       |bands AS (
       |  ${bandKeySql("sigs")}),
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
       |hsets AS (SELECT doc_id, list_distinct(list_transform(g,
       |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS st
       |  FROM grams WHERE len(g) > 0),
       |dropids AS (SELECT DISTINCT id_b FROM (
       |  SELECT id_a, id_b,
       |    round(CASE WHEN len(list_distinct(a.st || b.st)) = 0 THEN 0.0
       |      ELSE len(list_intersect(a.st, b.st))::DOUBLE /
       |           len(list_distinct(a.st || b.st)) END, 4) AS jaccard_sim
       |    FROM cand JOIN hsets a ON a.doc_id = cand.id_a
       |              JOIN hsets b ON b.doc_id = cand.id_b)
       |  WHERE jaccard_sim >= CAST(0.7 AS DOUBLE)),
       |cur AS (SELECT * FROM ex
       |  WHERE doc_id NOT IN (SELECT id_b FROM dropids))
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_input,
       |  (SELECT CAST(count(*) AS BIGINT) FROM f) AS n_after_filters,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_after_exact_dedup,
       |  CAST(count(*) AS BIGINT) AS n_curated,
       |  CAST(coalesce(sum(ntok), 0) AS BIGINT) AS total_tokens,
       |  coalesce(round(CAST(sum(ntok) AS DOUBLE) / count(*), 2), 0.0)
       |    AS mean_tokens
       |FROM cur""".stripMargin

  /** q74's oracle — the incremental ≡ batch proof: BOTH the stored corpus
    * index and the arriving batch's signatures are recomputed from raw
    * text in one pass, banded with the same value keys, and scored with
    * the signature-agreement estimator; a hash match certifies the
    * incremental probe path returns exactly what a full rebuild would.
    */
  private def indexDedupOracleSql: String = {
    val matches = (0 until 16).map(i =>
      s"(CASE WHEN a.h$i = c.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH ${portableSigCtes()},
       |cb AS (SELECT * FROM sigs WHERE doc_id % 5 <> 4),
       |bt AS (SELECT * FROM sigs WHERE doc_id % 5 = 4),
       |bandsc AS (
       |  ${bandKeySql("cb")}),
       |bandsb AS (
       |  ${bandKeySql("bt")}),
       |cand AS (SELECT DISTINCT b.doc_id AS id_new, c.doc_id AS id_corpus
       |  FROM bandsb b JOIN bandsc c ON b.band = c.band AND b.bk = c.bk),
       |est AS (SELECT id_new, id_corpus,
       |  round(($matches)::DOUBLE / 16, 4) AS est_jaccard
       |  FROM cand JOIN bt a ON a.doc_id = cand.id_new
       |            JOIN cb c ON c.doc_id = cand.id_corpus)
       |SELECT id_new, id_corpus, est_jaccard FROM est
       |WHERE est_jaccard >= CAST(0.5 AS DOUBLE)
       |ORDER BY id_new, id_corpus""".stripMargin
  }
}
