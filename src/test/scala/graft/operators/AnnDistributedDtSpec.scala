package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The large-batch ANN serving path (executor-side distance tables /
  * probe sets, forced via `spark.graft.ann.localDtMaxQueries = -1`)
  * must be BIT-EQUAL to the driver-side path across every serving
  * lane: pqTopK and ivfAdcTopK, with and without exact re-rank. The two paths share the same
  * codegen kernels (graft_l2sq / graft_cosine accumulate in the same
  * order as the driver loops), the same integer-nano rounding, and the
  * same (adc asc, neighbor_id asc) tie-breaks — so results agree
  * exactly, not just in recall.
  */
class AnnDistributedDtSpec extends AnyFunSuite with SparkSpec {

  private val Conf = "spark.graft.ann.localDtMaxQueries"

  private lazy val emb: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def distributed[A](body: => A): A = {
    spark.conf.set(Conf, "-1")
    try body finally spark.conf.unset(Conf)
  }

  test("pqTopK: distributed dt path is bit-equal to the driver path, incl. rerank") {
    val local = pairs(Ann.pqTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5))
    val dist = distributed(
      pairs(Ann.pqTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5)))
    assert(dist == local)
    val localR = pairs(Ann.pqTopK(emb, "vec_id", "embedding", 0L to 9L,
      k = 5, rerank = 40))
    val distR = distributed(pairs(Ann.pqTopK(emb, "vec_id", "embedding", 0L to 9L,
      k = 5, rerank = 40)))
    assert(distR == localR)
  }

  test("ivfAdcTopK: distributed dt path is bit-equal to the driver path, incl. rerank") {
    val local = pairs(Ann.ivfAdcTopK(emb, "vec_id", "embedding", 0L to 9L,
      k = 5, nLists = 16, nProbe = 4))
    val dist = distributed(pairs(Ann.ivfAdcTopK(emb, "vec_id", "embedding", 0L to 9L,
      k = 5, nLists = 16, nProbe = 4)))
    assert(dist == local)
    val localR = pairs(Ann.ivfAdcTopK(emb, "vec_id", "embedding", 0L to 9L,
      k = 5, nLists = 16, nProbe = 4, rerank = 40))
    val distR = distributed(pairs(Ann.ivfAdcTopK(emb, "vec_id", "embedding", 0L to 9L,
      k = 5, nLists = 16, nProbe = 4, rerank = 40)))
    assert(distR == localR)
  }

  test("AnnIndex.topK plain layout: distributed path bit-equal, incl. rerank") {
    // the name is kept from the removed persisted-index serving path;
    // its plain layout (global codebook, non-residual codes) is the
    // layout ivfAdcTopK builds inline, so the case now pins that layout
    // at full probe, where every list is probed and the ranking must
    // also reproduce pqTopK's exhaustive ADC scan
    def full(rerank: Int): Set[(Long, Long)] = pairs(Ann.ivfAdcTopK(emb, "vec_id",
      "embedding", 0L to 9L, k = 5, nLists = 16, nProbe = 16, rerank = rerank))
    val local = full(0)
    assert(distributed(full(0)) == local)
    assert(local == pairs(Ann.pqTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5)))
    val localR = full(50)
    assert(distributed(full(50)) == localR)
  }

  test("distributed path: empty batch is empty, ragged query dim fails loudly") {
    def ivfAdc(corpus: DataFrame, ids: Seq[Long]): DataFrame =
      Ann.ivfAdcTopK(corpus, "vec_id", "embedding", ids, k = 5, nLists = 16, nProbe = 4)
    distributed {
      assert(ivfAdc(emb, Seq(-1L)).count() == 0)
      // queries come from the corpus, so the ragged vector rides in as
      // a corpus row. The coarse assignment — literal argmax below the
      // maxUnrolledLists cut, unrolled greatest() at or above it — and
      // the PQ encoder both disqualify it (null cid/codes), so training
      // skips it; the query frame's dim guard must not
      import spark.implicits._
      val bad = Seq((100000L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
      def messages(t: Throwable): String =
        if (t == null) "" else t.getMessage + " | " + messages(t.getCause)
      // nLists = 16: 15 takes the literal path, 16 the unrolled one
      for (maxUnrolled <- Seq("15", "16")) {
        spark.conf.set("spark.graft.ann.maxUnrolledLists", maxUnrolled)
        val ex =
          try intercept[Exception] {
            ivfAdc(emb.select("vec_id", "embedding").union(bad), Seq(100000L)).collect()
          } finally spark.conf.unset("spark.graft.ann.maxUnrolledLists")
        assert(messages(ex).contains("index expects 64"),
          s"maxUnrolledLists=$maxUnrolled: want the dim-guard message, got: ${messages(ex)}")
      }
    }
  }

  test("threshold semantics: batches at the threshold stay local, above it go distributed") {
    // pin the decision boundary itself: with the threshold set to the
    // batch size the driver path runs (no probed-cid job needed), one
    // above it the distributed path runs — both bit-equal anyway, so
    // assert on results while exercising both sides of the boundary
    def ivfAdc(): Set[(Long, Long)] = pairs(Ann.ivfAdcTopK(emb, "vec_id", "embedding",
      0L to 9L, k = 5, nLists = 16, nProbe = 4))
    val expected = ivfAdc()
    spark.conf.set(Conf, "10")
    try assert(ivfAdc() == expected) finally spark.conf.unset(Conf)
    spark.conf.set(Conf, "9")
    try assert(ivfAdc() == expected) finally spark.conf.unset(Conf)
  }
}
