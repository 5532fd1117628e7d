package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid dense+sparse retrieval with reciprocal-rank fusion — the
  * production retrieval shape for training-data curation: a vector
  * ranking catches paraphrases the keyword ranking misses, the keyword
  * ranking catches exact terms the embedding blurs, and RRF (Cormack
  * et al., SIGIR 2009: score = Σ 1/(k0 + rank), k0 = 60) fuses the two
  * WITHOUT score calibration — only RANKS cross systems, so the fusion
  * is deterministic integer arithmetic and a relational oracle replays
  * it end to end.
  *
  * [[retrieve]] ranks the dense side EXACTLY — one broadcast of the
  * query batch against the full corpus. This is the oracle-replayable
  * baseline and the recall reference; its dense cost is a full corpus
  * scan per batch. The dense side only meets the sparse side as
  * `(qid, id, rank)` rows in the fusion.
  *
  * The sparse ranking is the dedup family's inverted 3-gram shingle
  * join (only nonzero-overlap candidates are ever materialized — a
  * zero-overlap document cannot rank), never an all-pairs pass; both
  * rankings truncate at `topN` per query before the (tiny) full-outer
  * fusion join. Driver state is O(query batch).
  *
  * Hot-shingle bound (`maxShingleDf`): a single high-document-frequency
  * query shingle ("in the the", boilerplate headers) makes every
  * query's candidate set corpus-sized and funnels it through one
  * rank-window partition. When `maxShingleDf > 0`, query shingles whose
  * corpus document frequency exceeds the cap are DROPPED from the query
  * representation before the candidate join (the standard
  * impact-ordering move — a shingle half the corpus shares carries no
  * ranking signal anyway), and the drop is logged loudly like
  * redundancy_score's width cap. The df probe is one map-side-combined
  * count over the inverted scan restricted to the query's shingles —
  * tiny shuffle, no corpus-sized groupBy. `maxShingleDf <= 0` disables
  * the cap (bit-compatible with the pre-cap operator and its oracle).
  *
  * Determinism: ranks break ties by id; the RRF contribution is
  * `round(1e6 / (k0 + rank))` in integer micro-units summed as longs,
  * so the fused ordering (score desc, id asc) is bit-stable across
  * engines and partitionings.
  */
object Hybrid {

  /** Per-query top-`k` over the fused ranking, dense side EXACT.
    * `docs` supplies the sparse (text) side keyed by `docIdCol`, `emb`
    * the dense (vector) side keyed by `vecIdCol` — the same id space
    * (the join key of the fusion). Queries are corpus members named by
    * id, as in the ANN lanes. Returns `(query_id, neighbor_id,
    * rrf_micro)`.
    */
  def retrieve(
      docs: DataFrame,
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int = 5,
      topN: Int = 20,
      k0: Int = 60,
      maxShingleDf: Long = 0L,
      sparseSystem: String = "jaccard",
      denseWeightMilli: Int = 1000,
      sparseWeightMilli: Int = 1000,
      docIdCol: String = "doc_id",
      textCol: String = "text",
      vecIdCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(queryIds.nonEmpty, "hybrid retrieval needs at least one query id")
    require(topN >= k, s"per-system depth topN=$topN must cover the fused k=$k")
    graft.functions.GraftFunctions.register(docs.sparkSession)

    // dense system: exact cosine ranking of the corpus per query (the
    // brute baseline the ANN lanes gate against)
    val q = emb.filter(col(vecIdCol).isInCollection(queryIds))
      .select(col(vecIdCol).cast("long").as("qid"),
        col(vecCol).cast("array<double>").as("qv"))
    val dense = emb
      .select(col(vecIdCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .crossJoin(broadcast(q))
      .filter(col("id") =!= col("qid"))
      .withColumn("sim", Ann.cosine(col("qv"), col("v")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("id").asc)))
      .filter(col("rnk") <= topN)
      .select(col("qid"), col("id"), col("rnk").as("dense_rank"))

    fuse(dense,
      sparseRanks(docs, queryIds, topN, maxShingleDf, sparseSystem,
        docIdCol, textCol),
      k, k0, denseWeightMilli, sparseWeightMilli)
  }

  /** The sparse system, selected by `sparseSystem`: `"jaccard"` = word
    * 3-gram Jaccard via the inverted shingle join (near-duplicate
    * phrasing), `"bm25"` = [[Bm25]] term relevance (rare-term match
    * with tf saturation + length normalization). Both only ever
    * materialize candidates sharing a kept token/shingle with the
    * query and both honor the df cap. Returns `(qid, id, sparse_rank)`.
    */
  private def sparseRanks(
      docs: DataFrame,
      queryIds: Seq[Long],
      topN: Int,
      maxShingleDf: Long,
      sparseSystem: String,
      docIdCol: String,
      textCol: String): DataFrame = {
    require(sparseSystem == "jaccard" || sparseSystem == "bm25",
      s"sparseSystem must be jaccard|bm25, got $sparseSystem")
    if (sparseSystem == "bm25")
      return Bm25.rank(docs, queryIds, topN, maxTokenDf = maxShingleDf,
        docIdCol = docIdCol, textCol = textCol)
        .select(col("qid"), col("id"), col("rank").as("sparse_rank"))
    val sh = Dedup.shingles(docs, docIdCol, textCol, 3)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val qsh0 = sh.filter(col("id").isInCollection(queryIds))
      .select(col("id").as("qid"), col("shingle"))
    val qsh =
      if (maxShingleDf <= 0L) qsh0
      else {
        // corpus document frequency of the QUERY's shingles only: the
        // inverted scan is restricted by a broadcast semi-join and the
        // count is map-side combined, so the shuffle is bounded by the
        // query batch's shingle vocabulary, not the corpus
        val hot = sh
          .join(broadcast(qsh0.select("shingle").distinct()), "shingle")
          .groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf)
          .collect()
        if (hot.nonEmpty) {
          System.err.println(
            s"[graft] hybrid: dropping ${hot.length} query shingle(s) with " +
              s"document frequency > $maxShingleDf from the sparse ranking: " +
              hot.sortBy(-_.getLong(1)).take(5)
                .map(r => s"'${r.getString(0)}'(df=${r.getLong(1)})")
                .mkString(", "))
          val hotSet = hot.map(_.getString(0)).toSeq
          qsh0.filter(!col("shingle").isInCollection(hotSet))
        } else qsh0
      }
    val qn = qsh.groupBy("qid").agg(count(lit(1)).as("qn"))
    sh.join(broadcast(qsh), "shingle")
      .filter(col("id") =!= col("qid"))
      .groupBy("qid", "id").agg(count(lit(1)).as("inter"))
      .join(sizes, "id")
      .join(broadcast(qn), "qid")
      .withColumn("j",
        col("inter").cast("double") / (col("n") + col("qn") - col("inter")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("j").desc, col("id").asc)))
      .filter(col("rnk") <= topN)
      .select(col("qid"), col("id"), col("rnk").as("sparse_rank"))
  }

  /** WEIGHTED RRF fusion in integer micro-units: each system
    * contributes `round(w_milli · 1000 / (k0 + rank))` — at the default
    * milli-weight 1000 this is bit-identical to unweighted RRF's
    * `round(1e6 / (k0 + rank))`, so the existing oracles replay
    * unchanged; other weights express the production dense-heavy /
    * sparse-heavy blends while staying exact integer arithmetic. A
    * document missing from one system simply contributes 0 from it
    * (full outer join).
    */
  private def fuse(
      dense: DataFrame, sparse: DataFrame, k: Int, k0: Int,
      denseWeightMilli: Int = 1000, sparseWeightMilli: Int = 1000): DataFrame = {
    require(denseWeightMilli >= 0 && sparseWeightMilli >= 0 &&
      denseWeightMilli + sparseWeightMilli > 0,
      s"weights must be >= 0 and not both zero, got dense=$denseWeightMilli sparse=$sparseWeightMilli")
    dense.join(sparse, Seq("qid", "id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(round(lit(denseWeightMilli * 1000.0) / (lit(k0) + col("dense_rank")))
          .cast("long"), lit(0L)) +
          coalesce(round(lit(sparseWeightMilli * 1000.0) / (lit(k0) + col("sparse_rank")))
            .cast("long"), lit(0L)))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("rrf_micro").desc, col("id").asc)))
      .filter(col("rk") <= k)
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        col("rrf_micro"))
  }
}
