package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hybrid dense+sparse RRF retrieval: the fused ordering is exact
  * integer arithmetic over the two systems' ranks, so a hand-computed
  * fixture pins every score, and the real-corpus run pins shape and
  * determinism (the full replay against DuckDB is the
  * `hybrid_retrieval_documents` oracle lane).
  */
class HybridSpec extends AnyFunSuite with SparkSpec {

  test("RRF fusion reproduces the hand-computed fixture exactly") {
    import spark.implicits._
    // query = id 0. Dense ranking (cosine to v0, ties by id):
    //   1 (.9939), 2 (.9701), 5 (.7071), 3 (0), 4 (0) → ranks 1,2,3,4,5
    // Sparse ranking (3-gram Jaccard to doc 0, ties by id):
    //   2 (.5), 3 (.5), 4 (.2) → ranks 1,2,3; docs 1 and 5 share no
    //   shingle and therefore do not exist for the sparse system.
    val emb = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.9, 0.1, 0.0, 0.0)),
      (2L, Seq(0.8, 0.2, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0)),
      (4L, Seq(0.0, 0.9, 0.1, 0.0)),
      (5L, Seq(0.5, 0.5, 0.0, 0.0))).toDF("vec_id", "embedding")
    val docs = Seq(
      (0L, "a b c d e"),
      (1L, "z z1 z2 z3"),
      (2L, "b c d e f"),
      (3L, "a b c d x"),
      (4L, "a b c q r"),
      (5L, "x y z w v")).toDF("doc_id", "text")
    val got = Hybrid.retrieve(docs, emb, Seq(0L), k = 5, topN = 20)
      .orderBy(col("rrf_micro").desc, col("neighbor_id").asc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // round(1e6/(60+r)): r1→16393, r2→16129, r3→15873, r4→15625, r5→15385
    val expected = Seq(
      (0L, 2L, 16129L + 16393L), // dense r2 + sparse r1
      (0L, 3L, 15625L + 16129L), // dense r4 + sparse r2
      (0L, 4L, 15385L + 15873L), // dense r5 + sparse r3
      (0L, 1L, 16393L),          // dense r1 only
      (0L, 5L, 15873L))          // dense r3 only
    assert(got == expected, s"got $got")
  }

  test("real corpus: shape, determinism, self-exclusion, per-system membership") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Hybrid.retrieve(docs, emb, 0L to 9L, k = 5, topN = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 50, s"10 queries x k=5, got ${out.length}")
    assert(out.forall { case (q, n, s) => q != n && s > 0 })
    assert(out.groupBy(_._1).forall(_._2.length == 5))
    // a fused neighbor must come from at least one system's top-20 —
    // equivalently its score must be at least the minimum single-system
    // contribution round(1e6/(60+20))
    assert(out.forall(_._3 >= 12500L))
    val again = Hybrid.retrieve(docs, emb, 0L to 9L, k = 5, topN = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSet == out.toSet, "identical inputs must fuse identically")
  }

  test("weighted RRF: milli-weights skew the blend; defaults are bit-identical to unweighted") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.9, 0.1, 0.0, 0.0)),
      (2L, Seq(0.8, 0.2, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0)),
      (4L, Seq(0.0, 0.9, 0.1, 0.0)),
      (5L, Seq(0.5, 0.5, 0.0, 0.0))).toDF("vec_id", "embedding")
    val docs = Seq(
      (0L, "a b c d e"),
      (1L, "z z1 z2 z3"),
      (2L, "b c d e f"),
      (3L, "a b c d x"),
      (4L, "a b c q r"),
      (5L, "x y z w v")).toDF("doc_id", "text")
    def order(dw: Int, sw: Int): Seq[Long] =
      Hybrid.retrieve(docs, emb, Seq(0L), k = 5, topN = 20,
        denseWeightMilli = dw, sparseWeightMilli = sw)
        .orderBy(col("rrf_micro").desc, col("neighbor_id").asc)
        .collect().map(_.getLong(1)).toSeq
    // explicit default weights = the pinned unweighted fixture ordering
    assert(order(1000, 1000) == Seq(2L, 3L, 4L, 1L, 5L))
    // sparse weight 0 → pure dense ordering (ranks 1..5 = docs 1,2,5,3,4)
    assert(order(1000, 0) == Seq(1L, 2L, 5L, 3L, 4L))
    // dense weight 0 → pure sparse ordering (2,3,4 ranked; 1,5 zero-score
    // tail by id)
    assert(order(0, 1000) == Seq(2L, 3L, 4L, 1L, 5L))
    intercept[IllegalArgumentException] {
      Hybrid.retrieve(docs, emb, Seq(0L), k = 5,
        denseWeightMilli = 0, sparseWeightMilli = 0)
    }
  }

  test("guards: empty queries and topN below k fail loudly") {
    import spark.implicits._
    val docs = Seq((0L, "a b c")).toDF("doc_id", "text")
    val emb = Seq((0L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Hybrid.retrieve(docs, emb, Seq.empty, k = 5)
    }
    intercept[IllegalArgumentException] {
      Hybrid.retrieve(docs, emb, Seq(0L), k = 5, topN = 3)
    }
  }

  test("maxShingleDf drops hot query shingles: candidates bounded, rare signal preserved") {
    import spark.implicits._
    // query doc 0 carries TWO hot shingles ("h1 h2 h3", "h2 h3 h4" —
    // present in 20 boilerplate docs and in doc 100) and one rare
    // shingle ("r1 r2 r3", shared only with doc 200). Identical
    // embeddings make the dense ranks a pure id ascent, so the fused
    // order isolates the sparse side's behavior.
    val boiler = (1L to 20L).map(i => (i, s"h1 h2 h3 h4 filler$i"))
    val docs = (Seq(
      (0L, "h1 h2 h3 h4 r1 r2 r3"),
      (100L, "h1 h2 h3 h4 other words here"),
      (200L, "r1 r2 r3 unrelated tail words")) ++ boiler)
      .toDF("doc_id", "text")
    val emb = docs.select(col("doc_id").as("vec_id"))
      .withColumn("embedding", array(lit(1.0), lit(0.0)))
    // without the cap, the boilerplate shingles dominate: doc 100
    // (sharing BOTH hot shingles, small overlap union) outranks the
    // rare-signal doc 200 in the sparse system
    def sparsePick(maxDf: Long): Seq[Long] =
      Hybrid.retrieve(docs, emb, Seq(0L), k = 22, topN = 22, maxShingleDf = maxDf)
        .orderBy(col("rrf_micro").desc, col("neighbor_id").asc)
        .collect().map(_.getLong(1)).toSeq
    val uncapped = sparsePick(0L)
    // hot shingles live in 22 docs; a cap of 5 drops them from the
    // query representation, so ONLY the rare shingle ranks: doc 200
    // becomes the top sparse candidate and the boilerplate crowd
    // contributes nothing sparse
    val capped = sparsePick(5L)
    assert(capped.head == 200L,
      s"rare-signal doc must lead once boilerplate is capped, got $capped")
    assert(uncapped.head != 200L,
      s"fixture must be hot-shingle-dominated without the cap, got $uncapped")
    // a generous cap (nothing exceeds it) is bit-identical to no cap
    assert(sparsePick(1000L) == uncapped)
  }

  test("maxShingleDf with no hot shingles is bit-identical on the real corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plain = Hybrid.retrieve(docs, emb, 0L to 4L, k = 5, topN = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val capped = Hybrid.retrieve(docs, emb, 0L to 4L, k = 5, topN = 20,
      maxShingleDf = 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped == plain)
  }
}
