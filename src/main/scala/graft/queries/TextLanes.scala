package graft.queries

import graft.operators.{Decontaminate, LmScore, Mixture, Pii, TextAnalysis, Tokenizer}
import graft.queries.Lane.duckHash
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Text-analysis family: per-document statistics, language id,
  * quality scoring, tokenization, PII, decontamination, and the
  * corpus-curation lanes (mixture, packing, ranking, quantiles,
  * sketches, sampling, validation, chunking, sharding).
  */
object TextLanes {

  /** Memoized 10-merge BPE training table — consumed by BOTH the train
    * lane and the encode lane (a real pipeline trains once and encodes
    * many shards, so the registry does too). The table is a tiny
    * driver-built frame (10 rows), safe to hold.
    */
  private def bpeMergeTable(s: SparkSession, d: String): DataFrame =
    Memo(("bpeMerges", d))(
      Tokenizer.trainBpeOnCorpus(s, s.read.parquet(s"$d/documents.parquet"), numMerges = 10))

  /** BPE training-replay CTE chain shared by the bpe_train and
    * bpe_encode oracles. Every CTE is MATERIALIZED: with default
    * inlining the b_i/v_i references expand the v_{i-1} subtree
    * exponentially (≈4^10 parquet scans — "too many open files");
    * materialization makes the replay linear, like the Spark side's
    * per-iteration persist.
    */
  private def bpeTrainCtes(k: Int): Seq[String] = {
    val head =
      """w AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                                  t -> regexp_matches(t, '^[a-z]+$'))) AS word
        |        FROM documents)
        |  GROUP BY word),
        |v0 AS MATERIALIZED (SELECT cnt, trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seq FROM w)""".stripMargin
    val iters = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (SELECT s[i] || ' ' || s[i + 1] AS pair, sum(cnt) AS n
         |  FROM (SELECT string_split(seq, ' ') AS s, cnt FROM v${i - 1})
         |  CROSS JOIN UNNEST(range(1, len(s))) AS r(i)
         |  GROUP BY 1),
         |b$i AS MATERIALIZED (SELECT pair, n FROM p$i ORDER BY n DESC, pair ASC LIMIT 1),
         |v$i AS MATERIALIZED (SELECT cnt, trim(replace(' ' || seq || ' ',
         |    ' ' || (SELECT pair FROM b$i) || ' ',
         |    ' ' || replace((SELECT pair FROM b$i), ' ', '') || ' ')) AS seq FROM v${i - 1})""".stripMargin
    }
    head +: iters
  }

  private def sqlList(lang: String): String =
    TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(", ")

  /** DuckDB form of TextAnalysis.fingerprint (window=4, k=8): k-min
    * sketch of portable-hashed distinct 4-token shingles, re-hashed.
    */
  private lazy val fingerprintOracle: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |sh AS (SELECT doc_id,
       |       unnest(list_distinct([array_to_string(ts[i:i+3], ' ') for i in range(1, len(ts) - 2)])) AS shingle
       |       FROM toks WHERE len(ts) >= 4),
       |h AS (SELECT doc_id, ${duckHash("shingle")} AS h FROM sh),
       |sk AS (SELECT doc_id, list_sort(list(DISTINCT h))[1:8] AS sketch FROM h GROUP BY doc_id)
       |SELECT doc_id, ${duckHash("array_to_string(sketch, ',')")} AS fingerprint
       |FROM sk""".stripMargin

  val lanes: Seq[Lane] = Seq(
    Lane("text_stats_documents", (s, d) =>
      TextAnalysis.stats(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text"),
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT) AS n_distinct_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')) AS BIGINT) AS n_punct,
        |  (CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END) < 10 AS is_short
        |FROM documents""".stripMargin),
    Lane("lang_id_documents", (s, d) =>
      TextAnalysis.langId(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text"),
      s"""WITH t AS (SELECT doc_id, text,
         |    list_distinct(string_split(lower(trim(text)), ' ')) AS toks,
         |    length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS cjk
         |  FROM documents),
         |h AS (SELECT doc_id, text, cjk,
         |    len(list_intersect(toks, [${sqlList("en")}])) AS he,
         |    len(list_intersect(toks, [${sqlList("es")}])) AS hs,
         |    len(list_intersect(toks, [${sqlList("fr")}])) AS hf,
         |    len(list_intersect(toks, [${sqlList("de")}])) AS hd
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN cjk * 10 > length(text) * 3 THEN 'zh'
         |       WHEN he > 0 AND he >= hs AND he >= hf AND he >= hd THEN 'en'
         |       WHEN hs > 0 AND hs >= he AND hs >= hf AND hs >= hd THEN 'es'
         |       WHEN hf > 0 AND hf >= he AND hf >= hs AND hf >= hd THEN 'fr'
         |       WHEN hd > 0 AND hd >= he AND hd >= hs AND hd >= hf THEN 'de'
         |       ELSE 'und' END AS lang_pred
         |FROM h""".stripMargin),
    Lane("quality_score_documents", (s, d) =>
      TextAnalysis.qualityScore(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text"),
      """SELECT doc_id, CAST(
        |  (CASE WHEN nt BETWEEN 10 AND 100000 THEN 25 ELSE 0 END) +
        |  (CASE WHEN np*10 <= nc THEN 20 ELSE 0 END) +
        |  (CASE WHEN nd*5 <= nc THEN 20 ELSE 0 END) +
        |  (CASE WHEN sh >= 2 THEN 20 ELSE 0 END) +
        |  (CASE WHEN ndt*100 >= nt*30 THEN 15 ELSE 0 END) AS INT) AS quality_score
        |FROM (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS nc,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS BIGINT) AS nt,
        |  CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT) AS ndt,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS nd,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')) AS BIGINT) AS np,
        |  CAST(len(list_intersect(list_distinct(string_split(lower(trim(text)), ' ')),
        |       ['the','a','and','of','to','in','is','that','it','for'])) AS BIGINT) AS sh
        |FROM documents)""".stripMargin),
    Lane("quality_classifier_documents", (s, d) =>
      graft.operators.QualityClassifier.score(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text"),
      // hashed-bag-of-words linear scorer, integer milli-weights: the
      // bucket/weight arithmetic is interpolated from QualityClassifier's
      // own constants so model and oracle cannot desynchronize
      {
        import graft.operators.QualityClassifier.{DefaultThresholdMilli, Dim, Mix}
        s"""SELECT doc_id, n_tokens, sum_milliweight,
           |  sum_milliweight > $DefaultThresholdMilli * n_tokens AS is_quality
           |FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           |  CAST(coalesce(list_sum(list_transform(toks, t ->
           |    ((${duckHash("t")} % $Dim) * $Mix) % 2001 - 1000)), 0) AS BIGINT) AS sum_milliweight
           |  FROM (SELECT doc_id,
           |    list_filter(string_split(coalesce(text, ''), ' '), t -> t <> '') AS toks
           |    FROM documents))""".stripMargin
      }),
    // the trained-model swap-in EXECUTED: label rule count("join") >
    // count("scan") is exactly a hashed-BoW linear decision, MLlib LR
    // learns it on the corpus, and the INTEGER milli-weight serving
    // path (same codegen'd projection, weights as one array literal)
    // must reproduce it — the query returns the agreement gate, the
    // same contract as the ANN recall lanes
    Lane("quality_classifier_trained_documents", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val docs = s.read.parquet(s"$d/documents.parquet")
      def cnt(t: String) =
        size(filter(split(coalesce(col("text"), lit("")), " "), x => x === lit(t)))
      val labeled = docs.select(col("doc_id"), col("text"),
        (cnt("join") > cnt("scan")).cast("int").as("label"))
      val w = graft.operators.QualityClassifier.train(labeled, "doc_id", "text", "label")
      val scored = graft.operators.QualityClassifier.scoreWith(docs, "doc_id", "text", w)
      val joined = scored.join(labeled.select("doc_id", "label"), "doc_id")
      // ONE aggregation job for the gate (agree + total were two full
      // scan+join actions); count(when(cond,1)) counts exactly the rows
      // the old filter(cond).count() kept
      val gate = joined.agg(
        count(lit(1)).as("total"),
        count(when(col("is_quality") === (col("label") === 1), 1)).as("agree")).head
      val (total, agree) = (gate.getLong(0), gate.getLong(1))
      Seq(total > 0 && agree.toDouble / total >= 0.9).toDF("accuracy_ge_090")
    },
      // the query computes the train→serve agreement gate itself (MLlib
      // training is not SQL-replayable); the oracle pins the gate — the
      // same contract as ann_topk_ivf's recall lane
      "SELECT true AS accuracy_ge_090"),
    Lane("fingerprint_documents", (s, d) =>
      TextAnalysis.fingerprint(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text"),
      fingerprintOracle),
    Lane("token_count_documents", (s, d) =>
      TextAnalysis.bpeTokenCount(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text"),
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin),
    Lane("repetition_stats_documents", (s, d) =>
      TextAnalysis.repetitionStats(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text"),
      """SELECT doc_id,
        |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(list_distinct(string_split(text, chr(10)))) AS BIGINT) AS n_distinct_lines,
        |  CAST(len(string_split(text, chr(10))) - len(list_distinct(string_split(text, chr(10)))) AS BIGINT) AS n_dup_lines,
        |  (len(string_split(text, chr(10))) - len(list_distinct(string_split(text, chr(10))))) * 10
        |    > len(string_split(text, chr(10))) * 3 AS is_repetitive
        |FROM documents""".stripMargin),
    Lane("vocabulary_documents", (s, d) =>
      TextAnalysis.vocabulary(s.read.parquet(s"$d/documents.parquet"), "text", topK = 100),
      """SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM (SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token
        |ORDER BY n_occurrences DESC, token ASC
        |LIMIT 100""".stripMargin),
    // Unicode NFC canonicalization: the corpus is ASCII-clean, so the
    // query injects a deterministic denormalized suffix (combining
    // acute + diaeresis sequences) into every document; after
    // normalization every row must flag changed and the md5 of the
    // canonical text must match DuckDB's independent nfc_normalize.
    Lane("normalize_nfc_documents", (s, d) => {
      import org.apache.spark.sql.functions._
      val denorm = s.read.parquet(s"$d/documents.parquet").select(
        col("doc_id"),
        concat(col("text"),
          // decomposed on purpose: e+COMBINING ACUTE (U+0301) and
          // i+COMBINING DIAERESIS (U+0308) — NFC must compose both
          lit(" cafe\u0301 nai\u0308ve")).as("text"))
      TextAnalysis.normalizeNfc(denorm, "doc_id", "text")
        .selectExpr("doc_id", "changed", "md5(cast(norm_text AS binary)) AS norm_md5")
    },
      // independent NFC via DuckDB's ICU-backed nfc_normalize over the
      // same decomposed injection (chr(769)=U+0301, chr(776)=U+0308)
      """WITH denorm AS (
        |  SELECT doc_id,
        |         text || ' cafe' || chr(769) || ' nai' || chr(776) || 've' AS text
        |  FROM documents)
        |SELECT doc_id,
        |       nfc_normalize(text) <> text AS changed,
        |       md5(nfc_normalize(text)) AS norm_md5
        |FROM denorm""".stripMargin),
    // Corpus heavy hitters (boilerplate/template detection): top word
    // bigrams, counted with a map-side-combined aggregation; the
    // (count desc, gram asc) top-k plans as TakeOrderedAndProject — no
    // global sort, k rows to the driver.
    Lane("top_ngrams_documents", (s, d) =>
      TextAnalysis.topNgrams(s.read.parquet(s"$d/documents.parquet"), "text", n = 2, topK = 50),
      // same single-space tokenization; bigrams via list_transform over
      // the filtered token list
      """WITH toks AS (
        |  SELECT list_filter(string_split(trim(text), ' '), t -> length(t) > 0) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT unnest(list_transform(range(1, len(t)),
        |                               i -> t[i] || ' ' || t[i + 1])) AS ngram
        |  FROM toks WHERE len(t) >= 2)
        |SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM grams GROUP BY ngram
        |ORDER BY n_occurrences DESC, ngram ASC
        |LIMIT 50""".stripMargin),
    // Distributed BPE tokenizer TRAINING: corpus -> word-frequency table
    // (the only corpus-wide shuffle) -> 10 deterministic pair merges,
    // each a vocab-sized count + TakeOrdered(1) arg-max + broadcast
    // literal replace. The oracle replays the exact loop in chained
    // DuckDB CTEs (same tie-break, same non-overlapping left-to-right
    // `replace` merge semantics), so every learned merge and its
    // weighted count must agree integer-for-integer.
    Lane("bpe_train_documents", (s, d) => bpeMergeTable(s, d),
      // replays the full BPE training loop: v0 = char-split word-frequency
      // table, then per merge i: pair counts (p_i) -> deterministic
      // arg-max (b_i) -> left-to-right non-overlapping merge (v_i) via
      // the same literal `replace` over the space-padded symbol string
      {
        val k = 10
        val sel = (1 to k)
          .map(i => s"SELECT $i AS merge_rank, pair, replace(pair, ' ', '') AS merged, " +
            s"CAST(n AS BIGINT) AS n_occurrences FROM b$i")
          .mkString("\nUNION ALL\n")
        bpeTrainCtes(k).mkString("WITH ", ",\n", "\n") + sel
      }),
    // BPE ENCODING with the lane above's learned merges (train once,
    // encode every shard): the 10-merge chain compiles to ONE nested
    // codegen'd replace projection — identical non-overlapping
    // left-to-right semantics as training — and the only shuffle is the
    // per-document aggregation. The oracle replays training AND encode.
    Lane("bpe_encode_documents", (s, d) => {
      val merges = bpeMergeTable(s, d)
        .orderBy("merge_rank").collect().map(_.getAs[String]("pair")).toSeq
      Tokenizer.encodeBpe(s.read.parquet(s"$d/documents.parquet"), merges)
    },
      // replays training (shared CTE chain), then re-encodes every
      // document word through the same 10 replace steps
      {
        val k = 10
        val encodeHead =
          """dw AS MATERIALIZED (
            |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
            |                                    t -> regexp_matches(t, '^[a-z]+$'))) AS word
            |  FROM documents),
            |e0 AS MATERIALIZED (SELECT doc_id, trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seq FROM dw)""".stripMargin
        // coalesce the pattern to an unmatchable NUL so a degenerate corpus
        // with < k learnable merges (empty b_i -> NULL scalar subquery)
        // leaves seq untouched, exactly like encodeBpe applying only the
        // merges actually learned — instead of replace(seq, NULL, NULL)
        // nullifying every row
        val encodeIters = (1 to k).map { i =>
          s"""e$i AS MATERIALIZED (SELECT doc_id, trim(replace(' ' || seq || ' ',
             |    coalesce(' ' || (SELECT pair FROM b$i) || ' ', chr(0)),
             |    coalesce(' ' || replace((SELECT pair FROM b$i), ' ', '') || ' ', chr(0)))) AS seq FROM e${i - 1})""".stripMargin
        }
        (bpeTrainCtes(k) ++ (encodeHead +: encodeIters)).mkString("WITH ", ",\n", "\n") +
          s"""SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             |       CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS n_bpe_tokens
             |FROM e$k GROUP BY doc_id""".stripMargin
      }),
    // CCNet-style bigram-LM surprisal filter: unigram/bigram corpus
    // counts + add-one smoothing, per-transition cost rounded to integer
    // tenth-milli-nats BEFORE summation (order-independent totals). The
    // oracle retrains the same model relationally and re-scores every
    // document; sums, counts, and keep-flags must match exactly.
    Lane("lm_surprisal_documents", (s, d) =>
      LmScore.bigramSurprisal(s, s.read.parquet(s"$d/documents.parquet")),
      // retrains the bigram model relationally: same tokenization, same
      // add-one smoothing, same ×10⁴ per-transition rounding before any sum
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                             t -> regexp_matches(t, '^[a-z]+$')) AS t
        |  FROM documents),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
        |        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
        |bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |       FROM toks CROSS JOIN UNNEST(range(1, len(t))) AS r(i)),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY w1, w2),
        |ts AS (SELECT w1, w2,
        |         CAST(round(ln(CAST(c1 + v AS DOUBLE) / CAST(cb + 1 AS DOUBLE)) * 10000) AS BIGINT) AS s_e4
        |       FROM bc JOIN uni ON uni.w = bc.w1 CROSS JOIN v),
        |per AS (SELECT bg.doc_id, CAST(sum(ts.s_e4) AS BIGINT) AS sum_e4,
        |               CAST(count(*) AS BIGINT) AS n_bigrams
        |        FROM bg JOIN ts ON ts.w1 = bg.w1 AND ts.w2 = bg.w2
        |        GROUP BY bg.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(p.sum_e4, 0) AS BIGINT) AS surprisal_e4_sum,
        |  coalesce(p.sum_e4, 0) <= 50000 * coalesce(p.n_bigrams, 0) AS kept
        |FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id""".stripMargin),
    // Fixed-SIZE reproducible sampling: the k=25 smallest portable
    // content hashes per language — exactly min(k, |stratum|) rows,
    // stable across runs and (mostly) across corpus versions.
    Lane("sample_fixed_documents", (s, d) =>
      graft.operators.Sampling
        .fixedSizePerStratum(s.read.parquet(s"$d/documents.parquet"), "lang", "doc_id", k = 25)
        .select("doc_id", "lang", "sample_rank"),
      {
        val h = duckHash("coalesce(lang, '') || ':' || CAST(doc_id AS VARCHAR)")
        s"""WITH r AS (
           |  SELECT doc_id, lang,
           |    CAST(row_number() OVER (PARTITION BY lang ORDER BY $h ASC, doc_id ASC) AS INT)
           |      AS sample_rank
           |  FROM documents)
           |SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 25""".stripMargin
      }),
    // Integer-rational TF-IDF keywords: score_ppm = tf·10⁶ div df ranks
    // identically to tf·(N/df) within a document — no logarithm, no
    // float, top-3 per doc with a deterministic term tie-break.
    Lane("tfidf_keywords_documents", (s, d) =>
      TextAnalysis.tfidfKeywords(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text", topK = 3),
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(trim(text), ' '), t -> length(t) > 0) AS t
        |  FROM documents),
        |tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |        FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
        |s AS (SELECT tfc.doc_id, tfc.term, tfc.tf, dfc.df,
        |        CAST((tfc.tf * 1000000) // dfc.df AS BIGINT) AS score_ppm,
        |        CAST(row_number() OVER (PARTITION BY tfc.doc_id
        |             ORDER BY (tfc.tf * 1000000) // dfc.df DESC, tfc.term ASC) AS INT) AS rank
        |      FROM tfc JOIN dfc USING (term))
        |SELECT doc_id, rank, term, tf, df, score_ppm FROM s WHERE rank <= 3""".stripMargin),
    // PII redaction round trip (the masking stage of a pretraining
    // pipeline). The synthetic corpus carries no PII, so the query
    // injects a deterministic email/IP/phone/account quartet derived
    // from (doc_id, source) into every document, counts each category
    // in redaction order, and re-counts on the redacted text —
    // n_residual must be 0 for every row. The oracle replays the same
    // injection and the same RE2-subset patterns through DuckDB's
    // regexp functions, so the two engines must agree match-for-match.
    Lane("pii_redaction_documents", (s, d) => {
      import org.apache.spark.sql.functions._
      val injected = s.read.parquet(s"$d/documents.parquet").select(col("doc_id"), concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@"), col("source"), lit(".example.com or call +1 (555) 010-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 200).cast("string"), lit(".0."),
        ((col("doc_id") * 7) % 250).cast("string"),
        lit(" ref "), (col("doc_id") * 1000003L + 10000000L).cast("string")).as("text"))
      val stats = Pii.stats(injected, "doc_id", "text")
      val residual = injected.select(col("doc_id"),
        Pii.Patterns.map { case (_, p, _) =>
          regexp_count(Pii.redactExpr(col("text")), lit(p))
        }.reduce(_ + _).cast("long").as("n_residual"))
      stats.join(residual, "doc_id")
    },
      // the same injection + the same patterns as the Spark side, staged
      // through one CTE per category so counts honor the redaction order
      {
        val inj =
          """inj AS (SELECT doc_id,
            |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' || source ||
            |  '.example.com or call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
            |  ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 250 AS VARCHAR) ||
            |  ' ref ' || CAST(doc_id * 1000003 + 10000000 AS VARCHAR) AS t
            |FROM documents)""".stripMargin
        val stages = graft.operators.Pii.Patterns.zipWithIndex.map { case ((name, p, r), i) =>
          val prev = if (i == 0) "inj" else s"s$i"
          s"s${i + 1} AS (SELECT * EXCLUDE (t), " +
            s"CAST(len(regexp_extract_all(t, '$p')) AS BIGINT) AS n_$name, " +
            s"regexp_replace(t, '$p', '$r', 'g') AS t FROM $prev)"
        }
        val residual = graft.operators.Pii.Patterns
          .map { case (_, p, _) => s"len(regexp_extract_all(t, '$p'))" }
          .mkString(" + ")
        (inj +: stages).mkString("WITH ", ",\n", "\n") +
          s"SELECT * EXCLUDE (t), CAST($residual AS BIGINT) AS n_residual " +
          s"FROM s${graft.operators.Pii.Patterns.size}"
      }),
    // Benchmark decontamination: flag corpus documents sharing any
    // 13-gram with the (hash-deterministic) held-out fifth of the
    // corpus standing in for a benchmark set. The inverted-index
    // semi-join never materializes doc×doc; the oracle recomputes the
    // same distinct-13-gram overlap with DuckDB list slicing.
    Lane("decontaminate_documents", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = s.read.parquet(s"$d/documents.parquet")
      Decontaminate.overlap(
        docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 20 === 0), "text", n = 13)
    },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(t[i:i+12], ' ') AS g
        |  FROM toks CROSS JOIN UNNEST(range(1, len(t) - 11)) AS r(i)
        |  WHERE len(t) >= 13),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
        |corp AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 20 <> 0)
        |SELECT corp.doc_id, CAST(count(*) AS BIGINT) AS n_matched_ngrams
        |FROM corp JOIN bench USING (g)
        |GROUP BY 1""".stripMargin),
    // Mixture rebalance (the data-mixing stage): per-language token
    // totals and the integer-basis-point keep-fractions that level
    // every language to the smallest one's token budget. Bit-exact by
    // construction (integer division only), ready to feed the
    // deterministic sampler.
    Lane("mixture_rebalance_documents", (s, d) =>
      Mixture.uniformRebalance(s.read.parquet(s"$d/documents.parquet"), "lang", "text"),
      """WITH s AS (SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1)
        |SELECT stratum, n_docs, n_tokens,
        |  CAST(10000 * (SELECT min(n_tokens) FROM s) // n_tokens AS BIGINT) AS keep_bp
        |FROM s""".stripMargin),
    // temperature (α = 0.5) mixture over the source strata: the oracle
    // replays the exact-isqrt weight, the integer quota min, and both
    // integer divisions — every intermediate is a BIGINT on both sides
    Lane("mixture_temperature_documents", (s, d) =>
      Mixture.temperatureRebalance(s.read.parquet(s"$d/documents.parquet"), "source", "text"),
      // temperature mixture: same share CTE, then the exact integer sqrt
      // (double seed + the two ±1 corrections — identical to the Spark
      // expression, so libm rounding can't diverge the engines), the
      // per-weight quota min, and the two integer divisions
      """WITH s AS (SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |w0 AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS x0 FROM s),
        |w1 AS (SELECT *, x0 - (CASE WHEN x0 * x0 > n_tokens THEN 1 ELSE 0 END) AS x1 FROM w0),
        |w2 AS (SELECT *, x1 + (CASE WHEN (x1 + 1) * (x1 + 1) <= n_tokens THEN 1 ELSE 0 END) AS wgt FROM w1),
        |q AS (SELECT min(n_tokens // wgt) AS quota FROM w2 WHERE n_tokens > 0)
        |SELECT stratum, n_docs, n_tokens,
        |  CAST(CASE WHEN n_tokens > 0 THEN wgt * (SELECT quota FROM q) ELSE 0 END AS BIGINT) AS target_tokens,
        |  CAST(CASE WHEN n_tokens > 0 THEN (10000 * wgt * (SELECT quota FROM q)) // n_tokens
        |       ELSE 10000 END AS BIGINT) AS keep_bp
        |FROM w2""".stripMargin),
    // token-balanced training shards: assignment is a pure integer
    // function of the corpus prefix sums, so the oracle replays it with
    // a window scan; the returned summary is read BACK from the written
    // Hive-partitioned layout, proving the files
    Lane("shard_export_documents", (s, d) => {
      import org.apache.spark.sql.functions.col
      val base = java.nio.file.Files.createTempDirectory("graft_shard_q").toString
      graft.sinks.ShardedStore.write(
        s.read.parquet(s"$d/documents.parquet"), "doc_id",
        TextAnalysis.tokenCountExpr(col("text")), nShards = 8, path = s"$base/out")
    },
      // shard = min(((excl + max(n,1) − 1) · 8) div T, 7) — the document's
      // last-token position over the corpus prefix sum, all-BIGINT
      """WITH t AS (SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS BIGINT) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, n,
        |  sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS excl
        |  FROM t),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS T FROM t)
        |SELECT CAST(shard AS INTEGER) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM (SELECT n, least(((excl + greatest(n, 1) - 1) * 8) // T, 7) AS shard FROM c, tot)
        |GROUP BY 1""".stripMargin),
    // Sliding-window chunking (the long-document counterpart of budget
    // packing): overlapping maxLen=64/stride=48 token windows per
    // document, emitted by a codegen'd scan-level projection — no
    // shuffle, no UDF. Chunk count, spans, and window text are all
    // closed-form over the whitespace token list, so the SQL oracle
    // recomputes every output column including the chunk text itself.
    Lane("chunk_documents", (s, d) =>
      graft.operators.Chunking.slidingWindows(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        maxLen = 64, stride = 48),
      // window starts at multiples of the stride; count is
      // ceil(max(n - maxLen, 0) / stride) + 1; list slicing rebuilds the
      // exact chunk text
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |base AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    ((greatest(len(toks) - 64, 0) + 47) // 48 + 1) AS n_chunks
        |  FROM docs)
        |SELECT doc_id,
        |  CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * 48 AS BIGINT) AS start_token,
        |  CAST(least(64, n - i * 48) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text
        |FROM base CROSS JOIN UNNEST(range(n_chunks)) AS r(i)""".stripMargin),
    // Curriculum ordering: global contiguous rank over (length, id) via
    // the two-phase parallel scan — never the single-task global window
    // (plan pinned in RankingSpec); output is partitioning-independent,
    // so the one-window SQL oracle checks the distributed path exactly.
    Lane("curriculum_rank_documents", (s, d) =>
      graft.operators.Ranking.globalRank(
          s.read.parquet(s"$d/documents.parquet"), "doc_id", "n_chars")
        .selectExpr("id AS doc_id", "ord AS n_chars", "rank"),
      """SELECT doc_id, n_chars,
        |       CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rank
        |FROM documents""".stripMargin),
    // Sequence packing (pretraining chunk assignment): global token
    // prefix sum in doc_id order via the two-phase parallel scan
    // (range partition → per-partition running sum → partition-count-
    // sized offset join), then chunk = prefix div budget. The output is
    // partitioning-independent, so the single-window SQL oracle checks
    // the distributed path exactly.
    Lane("pack_sequences_documents", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = s.read.parquet(s"$d/documents.parquet")
      graft.operators.Packing.packByTokenBudget(
        docs, "doc_id", graft.operators.TextAnalysis.tokenCountExpr(col("text")), budget = 1000L)
    },
      """WITH t AS (
        |  SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS excl
        |  FROM t)
        |SELECT doc_id AS id, n_tokens,
        |  CAST(coalesce(excl, 0) // 1000 AS BIGINT) AS chunk
        |FROM s""".stripMargin),
    // Corpus length profile (cutoff calibration): exact nearest-rank
    // length percentiles per language. Integer-only rank arithmetic
    // ((n·p+99) div 100) over one window sort per language — the value
    // at a rank is tie-stable, so the result is bit-reproducible by any
    // SQL engine (no interpolation, no floating point).
    Lane("quantiles_documents", (s, d) =>
      graft.operators.Stats.nearestRankQuantiles(
          s.read.parquet(s"$d/documents.parquet"), "lang", "n_chars", Seq(50, 90, 99))
        .selectExpr("lang", "n_rows AS n_docs", "min_value AS min_chars",
          "max_value AS max_chars", "p50", "p90", "p99"),
      // same nearest-rank definition, same integer rank arithmetic
      """WITH r AS (
        |  SELECT lang, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |       max(CASE WHEN rn = (cnt * 50 + 99) // 100 THEN n_chars END) AS p50,
        |       max(CASE WHEN rn = (cnt * 90 + 99) // 100 THEN n_chars END) AS p90,
        |       max(CASE WHEN rn = (cnt * 99 + 99) // 100 THEN n_chars END) AS p99
        |FROM r GROUP BY lang""".stripMargin),
    // Count-min-sketch frequency gate (same contract shape as the HLL
    // gate): a fixed-size mergeable counter grid replaces the full
    // token groupBy; the lane checks the CMS invariants on the top-25
    // exact tokens — estimate never under-counts (structural, always
    // true), and stays within ceil(eps*N) of exact. The eps bound is
    // only PROBABILISTIC (>= 1-delta per token); pinning it true is a
    // fixed-seed canary valid for this corpus — a new dataset or scale
    // factor can legitimately flip a row and must re-validate the pin
    // (demote within_eps from the oracle if it ever does).
    Lane("cms_tokens_documents", (s, d) =>
      graft.operators.Sketches.cmsTokenGate(
        s.read.parquet(s"$d/documents.parquet"), "text", topK = 25),
      // exact top-25 recomputed relationally; the sketch gates pinned
      // true — `overestimates` is a structural CMS invariant, but
      // `within_eps` is a fixed-seed canary (probabilistic bound that
      // happens to hold on this corpus; re-validate on new datasets)
      """WITH toks AS (
        |  SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents),
        |top AS (
        |  SELECT token, count(*) AS exact_count FROM toks
        |  WHERE len(token) > 0 GROUP BY token
        |  ORDER BY exact_count DESC, token ASC LIMIT 25)
        |SELECT token, CAST(exact_count AS BIGINT) AS exact_count,
        |       true AS overestimates, true AS within_eps
        |FROM top""".stripMargin),
    // Data-quality validation gate (Deequ-style constraint suite, VLDB'18
    // shape): the whole suite compiles into ONE aggregation pass (plus
    // one expand per exact-distinct check); metrics are integer ppm
    // (truncating div) so every verdict row is bit-reproducible. The
    // o_custkey distinctness threshold is deliberately unreachable so
    // the FAIL path is exercised end to end (passed=false row).
    Lane("validate_orders", (s, d) => {
      import graft.operators.Validation, Validation.Check._
      Validation.validate(
        s.read.parquet(s"$d/orders.parquet"),
        Seq(
          Completeness("o_custkey", 1000000L),
          Distinctness("o_orderkey", 1000000L),
          Distinctness("o_custkey", 500000L),
          Satisfies("totalprice_nonneg", "o_totalprice", "o_totalprice >= 0", 1000000L),
          Satisfies("status_domain", "o_orderstatus",
            "o_orderstatus IN ('O','F','P')", 1000000L),
          Satisfies("priority_shape", "o_orderpriority",
            "o_orderpriority RLIKE '^[1-5]-'", 1000000L),
        ))
    },
      // same one-pass metrics, same truncating-integer ppm arithmetic;
      // passed recomputed independently from the oracle's own metric
      """WITH t AS (SELECT
        |    count(*) AS total,
        |    count(o_custkey) AS m0,
        |    count(DISTINCT o_orderkey) AS m1,
        |    count(DISTINCT o_custkey) AS m2,
        |    count(CASE WHEN o_totalprice >= 0 THEN 1 END) AS m3,
        |    count(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 END) AS m4,
        |    count(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 END) AS m5
        |  FROM orders),
        |v AS (
        |  SELECT 'completeness(o_custkey)' AS chk, 'o_custkey' AS col,
        |         m0 * 1000000 // total AS metric_ppm, 1000000 AS threshold_ppm FROM t
        |  UNION ALL
        |  SELECT 'distinctness(o_orderkey)', 'o_orderkey', m1 * 1000000 // total, 1000000 FROM t
        |  UNION ALL
        |  SELECT 'distinctness(o_custkey)', 'o_custkey', m2 * 1000000 // total, 500000 FROM t
        |  UNION ALL
        |  SELECT 'totalprice_nonneg', 'o_totalprice', m3 * 1000000 // total, 1000000 FROM t
        |  UNION ALL
        |  SELECT 'status_domain', 'o_orderstatus', m4 * 1000000 // total, 1000000 FROM t
        |  UNION ALL
        |  SELECT 'priority_shape', 'o_orderpriority', m5 * 1000000 // total, 1000000 FROM t)
        |SELECT chk AS "check", col AS "column",
        |       CAST(metric_ppm AS BIGINT) AS metric_ppm,
        |       CAST(threshold_ppm AS BIGINT) AS threshold_ppm,
        |       metric_ppm >= threshold_ppm AS passed
        |FROM v""".stripMargin),
    // Deterministic stratified sampling (corpus rebalancing): keep 40%
    // of the dominant language, 90% of zh, 75% of everything else —
    // membership is a pure function of (lang, doc_id) via the portable
    // md5-prefix hash, so the exact sample is reproducible by any SQL
    // engine and stable across partitioning/retries.
    Lane("sample_stratified_documents", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = s.read.parquet(s"$d/documents.parquet")
      graft.operators.Sampling.stratified(
          docs, "lang", "doc_id", Map("en" -> 0.4, "zh" -> 0.9), defaultFraction = 0.75)
        .select(col("doc_id"), col("lang"))
    },
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${duckHash("coalesce(lang, '') || ':' || CAST(doc_id AS VARCHAR)")} % 10000 <
         |  CASE lang WHEN 'en' THEN 4000 WHEN 'zh' THEN 9000 ELSE 7500 END""".stripMargin),
  )
}
