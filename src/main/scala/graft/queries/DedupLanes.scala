package graft.queries

import graft.operators.Dedup
import graft.queries.Lane.duckHash
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dedup family: exact, line, substring, n-gram, MinHash, SimHash,
  * embedding and semantic near-duplicate detection over the documents
  * and embeddings corpora, plus pair resolution and incremental
  * admission.
  */
object DedupLanes {

  /** Memoized exact 3-gram Jaccard pairs over documents — consumed by
    * BOTH the pair lane and the resolution lane (a real dedup session
    * computes pairs once and resolves them, so the registry does too).
    * ngramJaccardPairs localCheckpoints its (small) verified output, so
    * the memo holds materialized pairs, not lineage.
    */
  private def ngramPairs(s: SparkSession, d: String): DataFrame =
    Memo(("ngramPairs", d))(
      Dedup.ngramJaccardPairs(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text", n = 3, threshold = 0.8))

  /** DuckDB replay of Dedup.semanticDedup's exact model: deterministic
    * Lloyd (init = first 10 ids, 2 rounds) spelled out as chained CTEs —
    * assignment = argmax cosine with the larger-cid tie-break, means per
    * (cid, dim) via positionally-zipped unnests — then the greedy
    * min-id verdict at cosine ≥ 0.5. Clusters that lose all members
    * drop out of the next round's centroid set, as in the Scala model.
    */
  private lazy val semanticDedupOracle: String = {
    // closest-centroid assignment of `e` against centroid CTE `c`
    def assign(from: String, cents: String): String =
      s"""SELECT vec_id, v, cid FROM (
         |  SELECT $from.vec_id, $from.v, $cents.cid,
         |         row_number() OVER (PARTITION BY $from.vec_id
         |           ORDER BY list_cosine_similarity($from.v, $cents.cv) DESC,
         |                    $cents.cid DESC) AS rn
         |  FROM $from, $cents) t WHERE rn = 1""".stripMargin
    // per-cid dimension means of assignment CTE `a` as the next
    // centroids — the trainer's integer formulation (Ann.lloydMeans:
    // nano-quantized sums, then sum/count/1e9). The replay trains on
    // the whole corpus, the trainer on its first Ann.TrainSample
    // vectors by id: the same model up to that many vectors
    def means(a: String): String =
      s"""SELECT cid, list(mv ORDER BY pos) AS cv FROM (
         |  SELECT cid, pos,
         |         CAST(sum(CAST(round(val * 1e9) AS BIGINT)) AS DOUBLE) / count(*) / 1e9 AS mv
         |  FROM (
         |    SELECT cid, unnest(v) AS val, unnest(range(1, len(v) + 1)) AS pos
         |    FROM $a) u
         |  GROUP BY cid, pos) m GROUP BY cid""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
       |              v AS cv
       |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 10)),
       |a0 AS (${assign("e", "c0")}),
       |c1 AS (${means("a0")}),
       |a1 AS (${assign("e", "c1")}),
       |c2 AS (${means("a1")}),
       |a2 AS (${assign("e", "c2")})
       |SELECT a.vec_id, a.cid,
       |       NOT EXISTS (SELECT 1 FROM a2 b
       |                   WHERE b.cid = a.cid AND b.vec_id < a.vec_id
       |                     AND list_cosine_similarity(a.v, b.v) >= 0.5) AS kept
       |FROM a2 a""".stripMargin
  }

  /** Exact 3-gram-shingle Jaccard pairs at threshold 0.8 — DuckDB form of
    * Dedup.ngramJaccardPairs (1-based inclusive list slicing).
    */
  private lazy val ngramJaccardOracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |sh AS (SELECT doc_id,
      |       unnest(list_distinct([array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)])) AS shingle
      |       FROM toks WHERE len(ts) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT a_id, b_id
      |FROM pairs JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8""".stripMargin

  /** Survivors of Dedup.resolvePairs over the ngram pair list: the
    * recursive CTE enumerates (node, reachable-start) pairs of the
    * undirected pair graph — bounded by component sizes, which are tiny
    * for this corpus — so min(start) per node is the component's min id,
    * exactly the representative the Spark side keeps.
    */
  private lazy val dedupResolveOracle: String =
    s"""WITH RECURSIVE p AS ($ngramJaccardOracle),
       |e AS (SELECT a_id AS src, b_id AS dst FROM p
       |      UNION SELECT b_id, a_id FROM p),
       |reach(node, lab) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node),
       |comp AS (SELECT node, min(lab) AS comp FROM reach GROUP BY node)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> comp)""".stripMargin

  /** DuckDB form of Dedup.simHash + simHashPairs: 60-bit simhash over
    * all whitespace tokens, 15-bit chunk banding, hamming ≤ 3.
    */
  private lazy val simhashOracle: String = {
    val bits = graft.operators.Dedup.SimHashBits
    val bsums = (0 until bits)
      .map(j => s"SUM(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val sig = (0 until bits)
      .map(j => s"CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents),
       |h AS (
       |  SELECT doc_id, ${duckHash("tok")} AS h FROM toks WHERE length(tok) > 0),
       |bits AS (SELECT doc_id, $bsums FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sig AS simhash FROM bits),
       |chunks AS (
       |  SELECT doc_id, simhash, c AS chunk, (simhash >> (c * 15)) & 32767 AS v
       |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk = b.chunk AND a.v = b.v AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3""".stripMargin
  }

  val lanes: Seq[Lane] = Seq(
    Lane("dedup_exact_documents", (s, d) =>
      Dedup.exact(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text"),
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, md5(text) AS content_hash,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin),
    // C4-style corpus-level line dedup: every non-blank line occurring
    // >= 2 times across the corpus is removed from every document, line
    // order preserved. The driver corpus is single-line, so the query
    // builds a deterministic multi-line view — a license line shared by
    // every document (removed everywhere), a cookie line in even docs
    // (removed from those), and the doc's own text and 30-char prefix
    // (corpus-unique, kept) — and the md5 of the reconstructed text pins
    // the order-preserving rebuild bit-exactly against the SQL oracle.
    Lane("dedup_lines_documents", (s, d) => {
      val paged = s.read.parquet(s"$d/documents.parquet").selectExpr(
        "doc_id",
        """concat_ws(chr(10), text,
          |  'LICENSE: corpus-wide boilerplate',
          |  CASE WHEN doc_id % 2 = 0 THEN 'COOKIE: accept our cookies' END,
          |  substring(text, 1, 30)) AS text""".stripMargin)
      val out = Dedup.lineDedup(paged, "doc_id", "text")
      out.selectExpr("doc_id", "lines_total", "lines_removed",
        "md5(cast(clean_text AS binary)) AS clean_md5")
    },
      // zipped unnests align positionally in DuckDB, giving each line its
      // 1-based position for the order-preserving string_agg rebuild; the
      // paged CTE mirrors the query's deterministic multi-line view
      """WITH paged AS (
        |  SELECT doc_id,
        |         concat_ws(chr(10), text,
        |           'LICENSE: corpus-wide boilerplate',
        |           CASE WHEN doc_id % 2 = 0 THEN 'COOKIE: accept our cookies' END,
        |           substr(text, 1, 30)) AS text
        |  FROM documents
        |), l AS (
        |  SELECT doc_id,
        |         unnest(string_split(text, chr(10))) AS line,
        |         unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
        |  FROM paged
        |), dup AS (
        |  SELECT line, true AS is_dup FROM l
        |  WHERE trim(line) <> '' GROUP BY line HAVING count(*) >= 2
        |), flags AS (
        |  SELECT l.doc_id, l.pos, l.line,
        |         (coalesce(dup.is_dup, false) AND trim(l.line) <> '') AS removed
        |  FROM l LEFT JOIN dup ON l.line = dup.line
        |)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS lines_total,
        |       CAST(count(*) FILTER (WHERE removed) AS BIGINT) AS lines_removed,
        |       md5(coalesce(string_agg(CASE WHEN NOT removed THEN line END,
        |                               chr(10) ORDER BY pos), '')) AS clean_md5
        |FROM flags GROUP BY doc_id""".stripMargin),
    // EXACT substring dedup (span excision): every token covered by a
    // 13-gram occurring in >= 2 distinct documents is removed; the
    // sf0.01 corpus naturally carries ~900 such cross-doc grams, so
    // real spans get excised. n_tokens/n_removed plus the md5 of the
    // rebuilt text pin the position-ordered excision bit-exactly.
    Lane("dedup_substring_documents", (s, d) =>
      Dedup.exactSubstringDedup(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text"),
      // same span-excision replay: inverted gram index -> distinct-doc
      // dup set -> covered positions -> ordered rebuild; md5('') for a
      // fully-excised document on both sides
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(trim(text), ' '), t -> length(t) > 0) AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, i, t[i] AS tok
        |        FROM toks CROSS JOIN UNNEST(range(1, len(t) + 1)) r(i)),
        |grams AS (SELECT doc_id, i, array_to_string(t[i:i+12], ' ') AS g
        |          FROM toks CROSS JOIN UNNEST(range(1, len(t) - 11)) r(i)
        |          WHERE len(t) >= 13),
        |dup AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT grams.doc_id, p
        |        FROM grams JOIN dup USING (g)
        |        CROSS JOIN UNNEST(range(grams.i, grams.i + 13)) rr(p)),
        |flags AS (SELECT pos.doc_id, pos.i, pos.tok, cov.p IS NOT NULL AS removed
        |          FROM pos LEFT JOIN cov ON cov.doc_id = pos.doc_id AND cov.p = pos.i)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  md5(coalesce(string_agg(CASE WHEN NOT removed THEN tok END, ' ' ORDER BY i), ''))
        |    AS clean_md5
        |FROM flags GROUP BY doc_id""".stripMargin),
    // Incremental near-dup ADMISSION (continuous ingestion): odd doc_ids
    // arrive as the new shard, even doc_ids are the admitted corpus; a
    // new doc survives iff no admitted doc reaches 3-gram Jaccard ≥ 0.8.
    // Candidates come from a NEW×OLD band-bucket equi-join against the
    // old side's reusable LSH index — the corpus never self-joins — and
    // are exact-verified, so the SQL cross-Jaccard oracle is exact.
    Lane("dedup_incremental_documents", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = s.read.parquet(s"$d/documents.parquet")
      graft.operators.Dedup.incrementalNearDupFilter(
          docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text")
        .select("doc_id")
    },
      // exact cross-corpus Jaccard: odd (new) ids that no even (old) id
      // matches at >= 0.8
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |sh AS (SELECT doc_id,
        |       unnest(list_distinct([array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)])) AS shingle
        |       FROM toks WHERE len(ts) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS inter
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle
        |          WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |          GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT new_id
        |        FROM pairs JOIN sizes sa ON new_id = sa.doc_id
        |                   JOIN sizes sb ON old_id = sb.doc_id
        |        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT new_id FROM dup)""".stripMargin),
    Lane("dedup_ngram_documents", (s, d) => ngramPairs(s, d), ngramJaccardOracle),
    Lane("dedup_minhash_documents", (s, d) =>
      Dedup.minHashLshPairs(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text", n = 3, threshold = 0.8),
      // MinHash-LSH with b=32, r=4 has miss probability ~5e-8 at j ≥ 0.8,
      // and candidates are verified with exact Jaccard — so the oracle is
      // the same exact-pair SQL as the n-gram query.
      ngramJaccardOracle),
    // pair list → surviving corpus: duplicate clusters = connected
    // components of the pair graph (computed only over paired ids),
    // min id survives per cluster; checked against a recursive-CTE
    // transitive closure over the same exact-Jaccard pair SQL
    Lane("dedup_resolve_documents", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      Dedup.resolvePairs(docs, "doc_id", ngramPairs(s, d))
        .select("doc_id")
    },
      dedupResolveOracle),
    Lane("dedup_simhash_documents", (s, d) =>
      Dedup.simHashPairs(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text"),
      // SimHash is fully SQL-expressible now that the token hash is the
      // portable md5-prefix (TextAnalysis.portableHash).
      simhashOracle),
    // threshold 0.5 and r=4/b=64 are tuned to this corpus: the synthetic
    // embeddings are near-orthogonal (max pairwise cosine 0.513), so a
    // realistic 0.9 threshold has an empty answer; at 0.5 the band miss
    // probability is ~5e-7, so the LSH+verify output equals brute force.
    Lane("dedup_embedding_cosine", (s, d) =>
      Dedup.embeddingCosinePairs(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding",
        threshold = 0.5, bands = 64, rowsPerBand = 4),
      // sign-LSH + exact-verify ≡ brute force w.h.p. (miss ~5e-7 at the
      // registered band config); NaN (zero-norm) pairs excluded both sides
      // because DuckDB, like Spark, orders NaN above every double.
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.5
        |  AND NOT isnan(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))""".stripMargin),
    // SemDeDup-style semantic dedup: deterministic k-means (init =
    // first 10 ids, 2 Lloyd rounds) + greedy min-id pruning at cosine
    // ≥ 0.5 within each cluster, full (vec_id, cid, kept) verdict
    // table. The oracle replays the IDENTICAL model in SQL — each
    // Lloyd round a chained CTE — so every assignment and every verdict is
    // cross-engine-checked. Double-precision safety measured on this
    // corpus: min argmax margin 1.2e-4, min |cos−τ| 1.1e-3 (sf0.1) —
    // 9+ orders above cross-engine summation-order noise.
    Lane("dedup_semantic_embeddings", (s, d) =>
      Dedup.semanticDedup(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", k = 10, iters = 2, threshold = 0.5),
      semanticDedupOracle),
  )
}
