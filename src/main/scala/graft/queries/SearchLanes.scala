package graft.queries

import graft.operators.{Ann, Bm25, Hybrid}

/** Similarity-search family: exact and approximate top-k over the
  * embeddings (brute force, IVF, PQ, IVFADC, OPQ), BM25 over the
  * documents, and dense+sparse hybrid retrieval.
  */
object SearchLanes {

  /** Exact top-5 cosine neighbors for query ids 0-9 — oracle for both
    * the brute-force query and the full-probe IVF query (probing every
    * list is exhaustive search, so both must match this exactly).
    */
  private lazy val annBruteOracle: String =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      |           FROM embeddings WHERE vec_id < 10),
      |s AS (SELECT qid, vec_id AS neighbor_id,
      |             list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS sim
      |      FROM q, embeddings WHERE vec_id <> qid),
      |r AS (SELECT qid AS query_id, neighbor_id,
      |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC) AS rk
      |      FROM s)
      |SELECT query_id, neighbor_id FROM r WHERE rk <= 5""".stripMargin

  /** The BM25 replay CTE chain (ends at `br` = ranked scores) shared by
    * the bm25 lane and the bm25-hybrid fusion lane. Arithmetic order
    * mirrors [[graft.operators.Bm25.rank]] token for token — the
    * contribution is micro-rounded per (query, candidate, term) BEFORE
    * the sum, so aggregation order cannot move a bit on either engine.
    */
  private lazy val bm25Ctes: String =
    """WITH btoks AS (SELECT doc_id AS id,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      |  FROM documents),
      |btf AS MATERIALIZED (SELECT id, token, count(*) AS tf FROM btoks GROUP BY 1, 2),
      |bdl AS MATERIALIZED (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM btf GROUP BY 1),
      |bst AS MATERIALIZED (SELECT
      |    CAST((SELECT count(DISTINCT doc_id) FROM documents) AS DOUBLE) AS n,
      |    CAST((SELECT sum(dl) FROM bdl) AS DOUBLE) AS t),
      |bdf AS MATERIALIZED (SELECT token, count(*) AS df FROM btf GROUP BY 1),
      |bq AS (SELECT id AS qid, token FROM btf WHERE id < 10),
      |bsc AS MATERIALIZED (
      |  SELECT bq.qid, c.id,
      |         CAST(sum(CAST(round(
      |           ln((n - df + 0.5) / (df + 0.5) + 1.0)
      |           * ((CAST(c.tf AS DOUBLE) * 2.2) /
      |              (CAST(c.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n / t))))
      |           * 1000000.0) AS BIGINT)) AS BIGINT) AS bm25_micro
      |  FROM bq JOIN btf c ON bq.token = c.token AND c.id <> bq.qid
      |       JOIN bdf ON bdf.token = c.token JOIN bdl ON bdl.id = c.id, bst
      |  GROUP BY 1, 2),
      |br AS (SELECT qid, id, bm25_micro,
      |              row_number() OVER (PARTITION BY qid
      |                ORDER BY bm25_micro DESC, id ASC) AS rank
      |       FROM bsc)
      |""".stripMargin

  /** DuckDB replay of Ann.pqTopK's exhaustive integer ADC at the
    * default 4×16 config: per-subspace Lloyd with the same init (first
    * 16 vectors by id, sliced), the same argmin tie-break (distance
    * ASC, code DESC), and the same EXPLICIT left-to-right summation the
    * Spark fold uses — so the per-subspace distances are bit-identical,
    * the nano-unit rounding lands on the same integers, and the
    * integer-ADC top-k is exact, not merely similar.
    */
  private lazy val pqAdcOracle: String = {
    val subspaces = 4; val sub = 16; val cb = 16
    def dist(a: String, b: String): String =
      (1 to sub).map(i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])").mkString(" + ")
    def assign(from: String, cents: String): String =
      s"""SELECT vec_id, sv, cid FROM (
         |  SELECT s.vec_id, s.sv, c.cid,
         |         row_number() OVER (PARTITION BY s.vec_id
         |           ORDER BY ${dist("s.sv", "c.cv")} ASC, c.cid DESC) AS rn
         |  FROM $from s, $cents c) t WHERE rn = 1""".stripMargin
    // centroid means replay the trainer's integer formulation
    // (operators/Ann.scala lloydMeans): nano-quantized member
    // coordinates summed exactly, then the one fixed double expression
    // sumNanos/count/1e9 — an ulp of centroid drift could flip the
    // 1e9-rounded ADC integers. The replay trains on the whole corpus,
    // the trainer on its first Ann.TrainSample vectors by id: the same
    // model up to that many vectors, which covers every shipped scale
    def means(a: String): String =
      s"""SELECT cid, list(mv ORDER BY pos) AS cv FROM (
         |  SELECT cid, pos,
         |         CAST(sum(CAST(round(val * 1e9) AS BIGINT)) AS DOUBLE) / count(*) / 1e9 AS mv
         |  FROM (
         |    SELECT cid, unnest(sv) AS val, unnest(range(1, len(sv) + 1)) AS pos
         |    FROM $a) u
         |  GROUP BY cid, pos) g GROUP BY cid""".stripMargin
    val perSub = (0 until subspaces).flatMap { m =>
      val lo = m * sub + 1; val hi = (m + 1) * sub
      Seq(
        s"s$m AS (SELECT vec_id, v[$lo:$hi] AS sv FROM e)",
        s"""c0_$m AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
           |                 sv AS cv
           |  FROM (SELECT vec_id, sv FROM s$m ORDER BY vec_id LIMIT $cb))""".stripMargin,
        s"a0_$m AS (${assign(s"s$m", s"c0_$m")})",
        s"c1_$m AS (${means(s"a0_$m")})",
        s"a1_$m AS (${assign(s"s$m", s"c1_$m")})",
        s"c2_$m AS (${means(s"a1_$m")})",
        s"a2_$m AS (${assign(s"s$m", s"c2_$m")})",
        s"q$m AS (SELECT vec_id AS qid, sv AS qv FROM s$m WHERE vec_id < 10)",
        s"""d$m AS (SELECT q.qid, a.vec_id,
           |  CAST(round((${dist("q.qv", "c.cv")}) * 1e9) AS BIGINT) AS dd
           |  FROM a2_$m a JOIN c2_$m c USING (cid) CROSS JOIN q$m q)""".stripMargin)
    }
    val adcJoins = (1 until subspaces)
      .map(m => s"JOIN d$m ON d$m.qid = d0.qid AND d$m.vec_id = d0.vec_id")
      .mkString(" ")
    val adcSum = (0 until subspaces).map(m => s"d$m.dd").mkString(" + ")
    (Seq("e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)") ++ perSub)
      .mkString("WITH ", ",\n", ",\n") +
      s"""adc AS (SELECT d0.qid AS query_id, d0.vec_id AS neighbor_id, $adcSum AS adc
         |        FROM d0 $adcJoins WHERE d0.vec_id <> d0.qid),
         |r AS (SELECT query_id, neighbor_id,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY adc ASC, neighbor_id ASC) AS rk
         |      FROM adc)
         |SELECT query_id, neighbor_id FROM r WHERE rk <= 5""".stripMargin
  }

  val lanes: Seq[Lane] = Seq(
    Lane("ann_topk_brute", (s, d) =>
      Ann.bruteForceTopK(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", 0L to 9L, k = 5),
      annBruteOracle),
    // hybrid dense+sparse retrieval with reciprocal-rank fusion (RRF,
    // k0=60): cosine ranking over embeddings fused with a word-3-gram
    // Jaccard ranking over documents (inverted shingle join — only
    // nonzero-overlap candidates exist). Only RANKS cross systems and
    // the fusion is integer micro-units, so DuckDB replays the whole
    // chain — both rankings, truncation, fusion, final top-5 — exactly.
    // This is the EXACT-fusion baseline (dense = corpus crossJoin)
    Lane("hybrid_retrieval_documents", (s, d) =>
      Hybrid.retrieve(
        s.read.parquet(s"$d/documents.parquet"),
        s.read.parquet(s"$d/embeddings.parquet"),
        0L to 9L, k = 5, topN = 20),
      // full RRF replay: dense cosine ranks, sparse 3-gram Jaccard ranks
      // (same shingle formulation as the dedup oracle), per-system top-20
      // truncation, integer micro-unit fusion, fused top-5
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |dsim AS (SELECT qid, vec_id AS id,
        |                list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS sim
        |         FROM q, embeddings WHERE vec_id <> qid),
        |dr AS (SELECT qid, id,
        |              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id ASC) AS rnk
        |       FROM dsim),
        |dtop AS (SELECT qid, id, rnk FROM dr WHERE rnk <= 20),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |sh AS (SELECT doc_id,
        |       unnest(list_distinct([array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)])) AS shingle
        |       FROM toks WHERE len(ts) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |qsh AS (SELECT doc_id AS qid, shingle FROM sh WHERE doc_id < 10),
        |inter AS (SELECT qs.qid, s.doc_id AS id, count(*) AS i
        |          FROM qsh qs JOIN sh s ON qs.shingle = s.shingle AND s.doc_id <> qs.qid
        |          GROUP BY 1, 2),
        |sr AS (SELECT i.qid, i.id,
        |              row_number() OVER (PARTITION BY i.qid
        |                ORDER BY CAST(i.i AS DOUBLE) / (sa.n + sq.n - i.i) DESC, i.id ASC) AS rnk
        |       FROM inter i JOIN sizes sa ON i.id = sa.doc_id
        |                    JOIN sizes sq ON i.qid = sq.doc_id),
        |stop AS (SELECT qid, id, rnk FROM sr WHERE rnk <= 20),
        |fused AS (SELECT COALESCE(d.qid, st.qid) AS qid, COALESCE(d.id, st.id) AS id,
        |                 COALESCE(CAST(round(1000000.0 / (60 + d.rnk)) AS BIGINT), 0)
        |                 + COALESCE(CAST(round(1000000.0 / (60 + st.rnk)) AS BIGINT), 0) AS rrf_micro
        |          FROM dtop d FULL OUTER JOIN stop st ON d.qid = st.qid AND d.id = st.id),
        |r AS (SELECT qid, id, rrf_micro,
        |             row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, id ASC) AS rk
        |      FROM fused)
        |SELECT qid AS query_id, id AS neighbor_id, rrf_micro FROM r WHERE rk <= 5""".stripMargin),
    // BM25 term relevance (Robertson/Zaragoza) — the standard sparse
    // system of production hybrid retrieval. Every arithmetic step is
    // IEEE double over exact integer corpus statistics except the IDF
    // log; the per-term contribution is rounded to integer micro-units
    // BEFORE the order-independent long sum, so DuckDB replays the full
    // chain — tokenize, tf/dl/df/N/T, score, rank, top-10 — exactly
    Lane("bm25_rank_documents", (s, d) =>
      Bm25.rank(s.read.parquet(s"$d/documents.parquet"), 0L to 9L, topN = 10),
      // full BM25 replay: tokenize, tf/dl/df and the N/T corpus stats,
      // per-term micro-rounded contributions (rounding BEFORE the sum
      // makes aggregation order irrelevant on both engines), rank, top-10.
      // Arithmetic order mirrors the Spark expression token for token —
      // IEEE doubles make every step but ln() bit-exact, and the micro
      // rounding absorbs a last-ulp ln() difference
      bm25Ctes +
        """SELECT qid, id, bm25_micro, CAST(rank AS INT) AS rank
          |FROM br WHERE rank <= 10""".stripMargin),
    // hybrid fusion with BM25 as the sparse system: same RRF integer
    // fusion, dense cosine replay, BM25 replay — end-to-end exact
    Lane("hybrid_retrieval_bm25", (s, d) =>
      Hybrid.retrieve(
        s.read.parquet(s"$d/documents.parquet"),
        s.read.parquet(s"$d/embeddings.parquet"),
        0L to 9L, k = 5, topN = 20, sparseSystem = "bm25"),
      // dense cosine replay (as in hybrid_retrieval_documents) fused with
      // the BM25 replay above via the same integer micro-unit RRF
      bm25Ctes +
        """, q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
          |           FROM embeddings WHERE vec_id < 10),
          |dsim AS (SELECT qid, vec_id AS id,
          |                list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS sim
          |         FROM q, embeddings WHERE vec_id <> qid),
          |dr AS (SELECT qid, id,
          |              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id ASC) AS rnk
          |       FROM dsim),
          |dtop AS (SELECT qid, id, rnk FROM dr WHERE rnk <= 20),
          |stop AS (SELECT qid, id, rank AS rnk FROM br WHERE rank <= 20),
          |fused AS (SELECT COALESCE(d.qid, st.qid) AS qid, COALESCE(d.id, st.id) AS id,
          |                 COALESCE(CAST(round(1000000.0 / (60 + d.rnk)) AS BIGINT), 0)
          |                 + COALESCE(CAST(round(1000000.0 / (60 + st.rnk)) AS BIGINT), 0) AS rrf_micro
          |          FROM dtop d FULL OUTER JOIN stop st ON d.qid = st.qid AND d.id = st.id),
          |r AS (SELECT qid, id, rrf_micro,
          |             row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, id ASC) AS rk
          |      FROM fused)
          |SELECT qid AS query_id, id AS neighbor_id, rrf_micro FROM r WHERE rk <= 5""".stripMargin),
    // IVF at the approximate config (nProbe=4 of 16 lists) cannot match
    // brute force row-for-row by design; the correctness contract is the
    // reference one for ANN indexes — recall vs exhaustive search — so
    // the query RETURNS the recall gate itself (overlap with the brute
    // top-k, both computed in Spark) and the oracle pins it to true.
    Lane("ann_topk_ivf", (s, d) => {
      import s.implicits._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val ivf = Ann.ivfTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5)
      val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5)
      val overlap = ivf.join(brute, Seq("query_id", "neighbor_id")).count()
      val total = brute.count()
      Seq(total > 0 && overlap.toDouble / total >= 0.9).toDF("recall_ge_090")
    },
      // the query computes the recall gate itself (IVF@nProbe=4 vs brute
      // top-5, both Spark-side); the oracle pins the gate
      "SELECT true AS recall_ge_090"),
    // probing every list makes IVF exhaustive, so the full index
    // machinery (centroid training, assignment, probe join, ranking)
    // must reproduce brute force exactly — the oracle-checkable IVF lane
    Lane("ann_topk_ivf_full_probe", (s, d) =>
      Ann.ivfTopK(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", 0L to 9L,
        k = 5, nLists = 16, nProbe = 16),
      annBruteOracle),
    // PQ compressed index (4×16 codebooks = 16-bit codes): the
    // exhaustive integer-ADC ranking is fully deterministic, so the
    // oracle replays the whole machinery — per-subspace Lloyd,
    // encoding, nano-unit distance tables, integer ADC top-k — exactly
    Lane("ann_topk_pq", (s, d) =>
      Ann.pqTopK(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", 0L to 9L,
        k = 5),
      pqAdcOracle),
    // the production PQ layout: the compressed scan only SHORTLISTS,
    // exact similarity re-ranks the candidates — approximate vs brute
    // force by design, so the query RETURNS the recall gate (the same
    // contract as ann_topk_ivf); 1.0 at sf0.01, 0.86 at sf0.1
    Lane("ann_topk_pq_rerank", (s, d) => {
      import s.implicits._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val pq = Ann.pqTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5,
        subspaces = 8, codebook = 16, rerank = 200)
      val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5)
      val overlap = pq.join(brute, Seq("query_id", "neighbor_id")).count()
      val total = brute.count()
      Seq(total > 0 && overlap.toDouble / total >= 0.8).toDF("recall_ge_080")
    },
      "SELECT true AS recall_ge_080"),
    // IVFADC at exhaustive probing: with every list probed the candidate
    // set equals the whole corpus, so the full index machinery — coarse
    // Lloyd + native-argmax assignment + probe + PQ encode + integer
    // ADC — must reproduce the exhaustive ADC scan bit-for-bit; the
    // oracle is therefore the SAME DuckDB replay as ann_topk_pq
    Lane("ann_topk_ivfadc_full", (s, d) =>
      Ann.ivfAdcTopK(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", 0L to 9L,
        k = 5, nLists = 16, nProbe = 16),
      // exhaustive probing ≡ the exhaustive ADC scan — same replay
      pqAdcOracle),
    // the production IVFADC config: probe half the lists, ADC-shortlist
    // the compressed codes found there, exact re-rank the candidates —
    // approximate vs brute force by design, so the query RETURNS the
    // recall gate (same contract as ann_topk_ivf / pq_rerank);
    // 0.96 at sf0.01, 0.88 at sf0.1
    Lane("ann_topk_ivfadc", (s, d) => {
      import s.implicits._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val a = Ann.ivfAdcTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5,
        nLists = 16, nProbe = 8, subspaces = 8, codebook = 16, rerank = 200)
      val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5)
      val overlap = a.join(brute, Seq("query_id", "neighbor_id")).count()
      val total = brute.count()
      Seq(total > 0 && overlap.toDouble / total >= 0.8).toDF("recall_ge_080")
    },
      "SELECT true AS recall_ge_080"),
    // OPQ (Ge et al., CVPR 2013): the learned rotation must LOWER the
    // PQ quantization objective it optimizes (measured ~0.88× on this
    // corpus — gated at a real margin, not noise) and the rotated
    // serving path with exact re-rank must hold the recall gate. Both
    // halves computed Spark-side like the other approximate-ANN gates;
    // the oracle pins the booleans.
    Lane("ann_topk_opq", (s, d) => {
      import s.implicits._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val errPq = Ann.pqQuantizationError(emb, "vec_id", "embedding")
      val rot = Ann.opqFit(emb, "vec_id", "embedding", opqIters = 3)
      val errOpq = Ann.pqQuantizationError(emb, "vec_id", "embedding",
        rotation = Some(rot))
      val a = Ann.opqTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5,
        opqIters = 3, rerank = 200)
      val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5)
      val overlap = a.join(brute, Seq("query_id", "neighbor_id")).count()
      val total = brute.count()
      Seq((errOpq < errPq * 0.97,
        total > 0 && overlap.toDouble / total >= 0.8))
        .toDF("opq_err_le_pq", "recall_ge_080")
    },
      "SELECT true AS opq_err_le_pq, true AS recall_ge_080"),
  )
}
