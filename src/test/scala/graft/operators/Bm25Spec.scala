package graft.operators

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** BM25 scoring: the defining properties (rare-term reward, tf
  * saturation, length normalization, the k1/b degenerate forms) on
  * constructed fixtures, plus determinism and the hot-token cap. The
  * cross-engine bit-exactness of the full chain is the
  * `bm25_rank_documents` oracle lane.
  */
class Bm25Spec extends AnyFunSuite with SparkSpec {

  private def scores(docsSeq: Seq[(Long, String)],
      qids: Seq[Long] = Seq(0L),
      topN: Int = 100,
      k1Milli: Int = 1200,
      bMilli: Int = 750,
      maxTokenDf: Long = 0L): Map[(Long, Long), Long] = {
    import spark.implicits._
    Bm25.rank(docsSeq.toDF("doc_id", "text"), qids, topN,
      k1Milli, bMilli, maxTokenDf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
  }

  test("rare terms outscore common terms (IDF): same tf, same lengths") {
    // query shares "rare" with doc 1 and "common" with doc 2; "common"
    // also appears in eight filler docs. Identical tf and lengths, so
    // only IDF separates the two candidates.
    val filler = (10L to 17L).map(i => (i, s"common pad$i x$i y$i"))
    val s = scores(Seq(
      (0L, "rare common qa qb"),
      (1L, "rare aa ab ac"),
      (2L, "common ba bb bc")) ++ filler)
    assert(s((0L, 1L)) > s((0L, 2L)),
      s"rare-term match must outscore common-term match: $s")
  }

  test("tf saturation: more occurrences score higher but sublinearly") {
    val s = scores(Seq(
      (0L, "term qa qb qc qd qe qf qg"),
      (1L, "term f1 f2 f3 f4 f5 f6 f7"),
      (2L, "term term f1 f2 f3 f4 f5 f6"),
      (3L, "term term term term f1 f2 f3 f4"),
      (9L, "unrelated filler words here pad pad2 pad3 pad4")))
    val (s1, s2, s4) = (s((0L, 1L)), s((0L, 2L)), s((0L, 3L)))
    assert(s1 < s2 && s2 < s4, s"tf must increase score: $s1 $s2 $s4")
    // saturation: doubling tf twice gains less each time
    assert(s4 - s2 < s2 - s1, s"tf gain must saturate: $s1 $s2 $s4")
    // and the whole curve stays below the tf=1 score times (k1+1)
    assert(s4 < s1 * 22 / 10 + 1, "tfpart is bounded by k1+1")
  }

  test("length normalization: same tf, longer document scores lower; b=0 disables it") {
    val docs = Seq(
      (0L, "term qa qb qc"),
      (1L, "term s1 s2 s3"),
      (2L, "term l1 l2 l3 l4 l5 l6 l7 l8 l9 l10 l11 l12 l13 l14 l15"),
      (9L, "unrelated filler pad"))
    val s = scores(docs)
    assert(s((0L, 1L)) > s((0L, 2L)),
      s"longer doc with the same tf must score lower: $s")
    val s0 = scores(docs, bMilli = 0)
    assert(s0((0L, 1L)) == s0((0L, 2L)),
      s"b=0 must make score length-independent: $s0")
  }

  test("k1=0 degenerates to a pure per-term IDF sum, tf-independent") {
    val docs = Seq(
      (0L, "alpha beta qa qb"),
      (1L, "alpha x1 x2 x3"),
      (2L, "alpha alpha alpha x1"),
      (3L, "alpha beta x1 x2"),
      (9L, "noise pad filler words"))
    val s = scores(docs, k1Milli = 0)
    assert(s((0L, 1L)) == s((0L, 2L)),
      "with k1=0, tf must not matter")
    assert(s((0L, 3L)) > s((0L, 1L)),
      "with k1=0, matching MORE terms must still add their idf")
  }

  test("deterministic; self-excluded; only shared-token candidates exist") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = Bm25.rank(docs, 0L to 4L, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val b = Bm25.rank(docs, 0L to 4L, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(a.toSet == b.toSet, "identical inputs must rank identically")
    assert(a.forall(t => t._1 != t._2), "self-exclusion")
    assert(a.groupBy(_._1).values.forall(g =>
      g.map(_._4).sorted.toSeq == (1 to g.length)), "ranks are 1..n per query")
  }

  test("maxTokenDf drops boilerplate tokens loudly, keeping rare signal") {
    // "hot" appears in every doc; only doc 2 shares the rare token
    val filler = (10L to 29L).map(i => (i, s"hot pad$i x$i"))
    val docs = Seq(
      (0L, "hot rare qa"),
      (1L, "hot b1 b2"),
      (2L, "rare c1 c2")) ++ filler
    val uncapped = scores(docs)
    assert(uncapped.contains((0L, 1L)), "uncapped: hot-only doc is a candidate")
    val capped = scores(docs, maxTokenDf = 5L)
    assert(!capped.contains((0L, 1L)),
      "capped: a doc sharing only the hot token must not be a candidate")
    assert(capped.contains((0L, 2L)), "capped: rare-signal doc survives")
    // generous cap = bit-identical to no cap
    assert(scores(docs, maxTokenDf = 1000L) == uncapped)
  }

  test("hybrid with sparseSystem=bm25 fuses; unknown system fails loudly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Hybrid.retrieve(docs, emb, 0L to 4L, k = 5, topN = 20,
      sparseSystem = "bm25")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 25 && out.forall { case (q, n, s) => q != n && s > 0 })
    intercept[IllegalArgumentException] {
      Hybrid.retrieve(docs, emb, 0L to 4L, k = 5, sparseSystem = "tfidf")
    }
  }
}
