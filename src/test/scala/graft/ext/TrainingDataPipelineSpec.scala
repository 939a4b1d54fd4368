package graft.ext

import graft.SparkSpec
import graft.queries.Q
import org.apache.spark.sql.functions._

class TrainingDataPipelineSpec extends SparkSpec {

  test("curation funnel on the documents fixture is monotone and consistent") {
    val docs = Q.t(spark, sfDir("0.01"), "documents")
    val r = TrainingDataPipeline(docs)
    val s = r.stats.head()
    val (n0, nf, ne, nc) =
      (s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3))
    assert(n0 == 500)
    assert(n0 >= nf && nf >= ne && ne >= nc, s"funnel not monotone: $s")
    assert(nc > 0)
    assert(r.curated.count() == nc)
    assert(s.getLong(4) > 0) // total tokens
  }

  test("near-duplicates are gone from the curated output") {
    val docs = Q.t(spark, sfDir("0.01"), "documents")
    val r = TrainingDataPipeline(docs)
    val pairs = Dedup.minHashPairs(r.curated, "doc_id", "text", threshold = 0.7)
    assert(pairs.count() == 0, "curated corpus still has near-dup pairs")
  }

  test("empty corpus yields a zero-count stats row, not a crash") {
    import spark.implicits._
    val r = TrainingDataPipeline(
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val s = r.stats.head()
    assert((0 until 5).map(s.getLong) == Seq(0L, 0L, 0L, 0L, 0L), s.toString)
    assert(s.getDouble(5) == 0.0)
    assert(r.curated.count() == 0)
  }

  test("every doc filtered away still yields a well-defined stats row") {
    import spark.implicits._
    val r = TrainingDataPipeline(Seq((1L, "x"), (2L, "yy")).toDF("doc_id", "text"))
    val s = r.stats.head()
    assert(s.getLong(0) == 2L && s.getLong(3) == 0L && s.getLong(4) == 0L)
    assert(s.getDouble(5) == 0.0)
  }

  test("chunkDocuments: coverage, overlap, and degenerate docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 200).map(i => s"w$i").mkString(" ")), // 200 tokens → 4+ chunks
      (2L, (1 to 64).map(i => s"x$i").mkString(" ")), // exactly one window
      (3L, "solo"), // single token
      (4L, "") // empty text → one empty chunk, doc not dropped
    ).toDF("doc_id", "text")
    val chunks = TextAnalysis
      .chunkDocuments(docs, "doc_id", "text", maxTokens = 64, overlap = 16)
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap

    // doc 1: stride 48 → chunks at 0,48,96,144 → 4 chunks; last = 200-144=56
    assert(chunks(1L).map(_._3).toSeq == Seq(64L, 64L, 64L, 56L))
    // consecutive chunks overlap by exactly 16 tokens
    val c0 = chunks(1L)(0)._4.split(" ")
    val c1 = chunks(1L)(1)._4.split(" ")
    assert(c0.takeRight(16).sameElements(c1.take(16)))
    // every token covered, in order, no loss: stitching chunks (dropping
    // each successor's overlap) reproduces the document
    val stitched = chunks(1L).map(_._4.split(" ").toSeq)
      .reduceLeft((acc, next) => acc ++ next.drop(16))
    assert(stitched == (1 to 200).map(i => s"w$i"))
    assert(chunks(2L).map(_._3).toSeq == Seq(64L))
    assert(chunks(3L).map(_._3).toSeq == Seq(1L))
    assert(chunks(4L).map(_._3).toSeq == Seq(0L))
  }

  test("packSequences: budget respected, all docs packed, deterministic") {
    val docs = Q.t(spark, sfDir("0.01"), "documents")
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
    val packed = TextAnalysis.packSequences(docs, "n_tokens", "doc_id", 256L)
    assert(packed.count() == docs.count())
    val packs = packed.groupBy("pack_id")
      .agg(sum(col("n_tokens")).as("tot"), count(lit(1)).as("n"))
    // every multi-doc pack fits the budget (single oversized docs exempt)
    assert(packs.filter(col("n") > 1 && col("tot") > 256).count() == 0)
    // packing is deterministic across runs
    val again = TextAnalysis.packSequences(docs, "n_tokens", "doc_id", 256L)
      .select("doc_id", "pack_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = packed.select("doc_id", "pack_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(first == again)
  }

  test("concatChunkCensus: hand-computed boundary crossings") {
    import spark.implicits._
    // one shard, equal-sized docs → the census is layout-order-invariant:
    // offsets 0/100/200 against 150-token chunks — only the middle doc
    // straddles a boundary; an empty doc crosses nothing
    val docs = Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 0L))
      .toDF("id", "n_tok")
    val r = TextAnalysis
      .concatChunkCensus(docs, "id", "n_tok", nShards = 1, chunkTokens = 150)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
    assert(r.length == 1)
    val (shard, nDocs, tok, chunks, bdocs, cross, intact) = r.head
    assert(shard == 0L && nDocs == 4L && tok == 300L && chunks == 2L)
    assert(bdocs == 1L && cross == 1L)
    assert(intact == 0.75)
    // a document wider than several chunks crosses each boundary it spans
    val wide = Seq((1L, 400L)).toDF("id", "n_tok")
    val w = TextAnalysis
      .concatChunkCensus(wide, "id", "n_tok", nShards = 1, chunkTokens = 150)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().head
    assert(w._4 == 3L && w._5 == 1L && w._6 == 2L)
    // shard totals partition the corpus for any shard count
    val many = (1L to 100L).map(i => (i, i % 7)).toDF("id", "n_tok")
    val census = TextAnalysis
      .concatChunkCensus(many, "id", "n_tok", nShards = 8, chunkTokens = 10)
    val agg = census.agg(sum("n_docs"), sum("tok_total")).head()
    assert(agg.getLong(0) == 100L)
    assert(agg.getLong(1) == (1L to 100L).map(_ % 7).sum)
  }

  test("vocabCoverage: hand-computed grid cutoff, boundary class partial") {
    import spark.implicits._
    // counts a:4 b:2 c:1 d:1, T=8; 3/4 coverage needs cum ≥ 6 → {a, b}:
    // boundary class is count 2, one token taken from it
    val docs = Seq("a a a a b b c d").toDF("text")
    val r = TextAnalysis.vocabCoverage(docs, "text", coverNum = 3,
      coverDen = 4)
      .as[(Long, Long, Long, Long, Long, Double)].collect().head
    assert(r == ((8L, 4L, 2L, 6L, 2L, 0.25)))
    // 19/20 coverage needs cum ≥ 7.6 → the whole vocab, oov 0
    val full = TextAnalysis.vocabCoverage(docs, "text")
      .as[(Long, Long, Long, Long, Long, Double)].collect().head
    assert(full._3 == 4L && full._6 == 0.0)
    // empty corpus → empty frame, not a crash
    assert(TextAnalysis.vocabCoverage(Seq.empty[String].toDF("text"), "text")
      .collect().isEmpty)
  }

  test("planted junk and duplicates are removed, clean prose kept") {
    import spark.implicits._
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders into the quiet village where people gather for the morning " +
      "market under clear skies with fresh bread and warm coffee for everyone"
    val docs = Seq(
      (1L, prose),
      (2L, prose), // exact dup
      (3L, prose.replace("coffee", "tea")), // near dup
      (4L, "x"), // too short
      (5L, "0101 1010 0101 1010 0101 1010 0101 1010 0101 1010") // junk digits
    ).toDF("doc_id", "text")
    val r = TrainingDataPipeline(docs)
    val kept = r.curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"kept $kept")
  }
}
