package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The ANN serving path must give the same ranking however the corpus
  * is distributed over partitions: the distance tables and probe sets
  * are built once per query batch, and the scan that uses them runs per
  * partition, so one partition and many must agree bit for bit.
  */
class AnnDistributedDtSpec extends AnyFunSuite with SparkSpec {

  private lazy val emb: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("AnnIndex.topK plain layout: distributed path bit-equal, incl. rerank") {
    // the name is kept from the removed persisted-index serving path;
    // its plain layout (global codebook, non-residual codes) is the
    // layout ivfAdcTopK builds inline. At full probe every list is
    // probed, so the ranking must also reproduce pqTopK's exhaustive scan
    val single = emb.coalesce(1)
    val spread = emb.repartition(7)
    def full(corpus: DataFrame, rerank: Int): Set[(Long, Long)] =
      pairs(Ann.ivfAdcTopK(corpus, "vec_id", "embedding", 0L to 9L, k = 5,
        nLists = 16, nProbe = 16, rerank = rerank))
    for (rerank <- Seq(0, 50)) {
      val local = full(single, rerank)
      assert(local.size == 50, s"rerank $rerank: 10 queries × k=5, got ${local.size}")
      assert(full(spread, rerank) == local,
        s"rerank $rerank: 7 partitions must rank as 1 does")
      assert(local == pairs(Ann.pqTopK(single, "vec_id", "embedding", 0L to 9L,
        k = 5, rerank = rerank)), s"rerank $rerank: full probe must equal pqTopK")
    }
  }
}
