package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite with SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("exact dedup keeps min id per content and counts copies") {
    val df = docs(3L -> "a b c", 1L -> "a b c", 2L -> "x y z")
    val out = Dedup.exact(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(out == Set((1L, 2L), (2L, 1L)))
  }

  test("shingles: distinct word 3-grams; short texts yield none") {
    val sh = Dedup.shingles(docs(1L -> "a b c d", 2L -> "a b"), "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sh == Set((1L, "a b c"), (1L, "b c d")))
  }

  test("ngram jaccard pairs: near-identical docs pair, distinct ones don't") {
    val df = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog tonight",
      3L -> "completely different words here nothing shared at all")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("prefix-filtered ngram pairs equal brute force despite a hot shared shingle") {
    // every doc ends with the same boilerplate (hot shingles shared by
    // all) — the prefix filter must keep those out of the join without
    // losing the one true near-duplicate pair
    // doc 6 is short and shingle-contained in doc 1: exercises the
    // per-record prefix length with UNEQUAL set sizes (|Sa| != |Sb|)
    val texts = Map(
      1L -> "alpha beta gamma delta epsilon zeta shared common tail",
      2L -> "alpha beta gamma delta epsilon eta shared common tail",
      3L -> "one two three four five six shared common tail",
      4L -> "seven eight nine ten eleven twelve shared common tail",
      5L -> "red green blue cyan magenta yellow shared common tail",
      6L -> "alpha beta gamma delta epsilon")
    val df = docs(texts.toSeq: _*)
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = texts.map { case (id, s) =>
        id -> s.split(" ").sliding(3).map(_.mkString(" ")).toSet
      }
      val want = (for {
        a <- texts.keys; b <- texts.keys if a < b
        j = (sets(a) & sets(b)).size.toDouble / (sets(a) | sets(b)).size
        if j >= t
      } yield (a, b)).toSet
      assert(got == want, s"threshold $t")
    }
  }

  test("minhash-LSH pairs equal the exact ngram pairs on sf0.001 documents") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(df, "doc_id", "text", 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty) // the corpus plants near-duplicates
    assert(lsh == exact)
  }

  test("incremental admission drops new docs matching the corpus, equals brute force") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val newDocs = df.filter(col("doc_id") % 2 === 1)
    val oldDocs = df.filter(col("doc_id") % 2 === 0)
    val kept = Dedup.incrementalNearDupFilter(newDocs, oldDocs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // brute force via the exact pair operator over the union: a new doc
    // survives iff it pairs with no old doc
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dropped = pairs.collect {
      case (a, b) if a % 2 == 1 && b % 2 == 0 => a
      case (a, b) if a % 2 == 0 && b % 2 == 1 => b
    }.toSet
    val expect = newDocs.select("doc_id").collect().map(_.getLong(0)).toSet -- dropped
    assert(dropped.nonEmpty) // the corpus plants cross-parity near-dups
    assert(kept == expect)
  }

  test("incremental admission against a persisted (parquet round-trip) index matches inline") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val newDocs = df.filter(col("doc_id") % 2 === 1)
    val oldDocs = df.filter(col("doc_id") % 2 === 0)
    val inline = Dedup.incrementalNearDupFilter(newDocs, oldDocs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // build once, persist to parquet, reload — the deployment shape
    val built = Dedup.buildNearDupIndex(oldDocs, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-ndindex").toString
    built.shingles.write.parquet(s"$dir/shingles")
    built.buckets.write.parquet(s"$dir/buckets")
    built.sizes.write.parquet(s"$dir/sizes")
    built.shingles.unpersist()
    val loaded = Dedup.NearDupIndex(
      spark.read.parquet(s"$dir/shingles"),
      spark.read.parquet(s"$dir/buckets"),
      spark.read.parquet(s"$dir/sizes"),
      built.n, built.bands, built.rowsPerBand)
    val viaIndex = Dedup.incrementalNearDupFilter(newDocs, loaded, "doc_id", "text", 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaIndex == inline)
  }

  test("incremental admission keeps within-shard duplicates (out of scope)") {
    val newDocs = docs(1L -> "a b c d e f", 3L -> "a b c d e f")
    val oldDocs = docs(2L -> "zz yy xx ww vv")
    val kept = Dedup.incrementalNearDupFilter(newDocs, oldDocs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("simhash: identical docs at hamming 0; near boost") {
    val df = docs(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta", 3L -> "qq ww ee rr")
    val sig = Dedup.simHash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
    val pairs = Dedup.simHashPairs(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("text stats golden") {
    val out = TextAnalysis.stats(docs(7L -> "ab cd, 12 ef!"), "doc_id", "text").head
    assert(out.getLong(0) == 7L)
    assert(out.getLong(1) == 13L) // n_chars
    assert(out.getLong(2) == 4L) // n_tokens
    assert(out.getLong(3) == 4L) // distinct
    assert(out.getLong(4) == 2L) // digits
    assert(out.getLong(5) == 2L) // punct , !
    assert(out.getBoolean(6)) // short
  }

  test("quality score: each flag contributes its weight") {
    // 12 tokens, of which 2 distinct en stopwords; no digits/punct;
    // all-distinct tokens → every flag fires: 25+20+20+20+15 = 100
    val good = "the quick brown fox jumps over a lazy dog near riverbank today"
    // 4 tokens (< 10) of one distinct value (TTR 0.25 < 0.3), digit and
    // punct ratios over their caps, no stopwords → no flag fires
    val bad = "!1! !1! !1! !1!"
    val out = TextAnalysis.qualityScore(
      docs(1L -> good, 2L -> bad), "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) == 100)
    assert(out(2L) == 0)
  }

  test("lang id heuristic: en / es / zh / und") {
    val df = docs(
      1L -> "the cat is in the house and it is warm",
      2L -> "el gato es de la casa y no es gris",
      3L -> "这是一个中文句子的测试文本",
      4L -> "zzz qqq www")
    val out = TextAnalysis.langId(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "zh", 4L -> "und"))
  }

  test("resolvePairs keeps the min id per duplicate component, unpaired docs survive") {
    import spark.implicits._
    val df = docs(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e")
    // component {1,2,3} via the 1-2 and 2-3 edges (no 1-3 edge needed:
    // near-dup similarity is not transitive, the cluster still merges),
    // plus the pair {4,5}
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val kept = Dedup.resolvePairs(df, "doc_id", pairs).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
  }

  test("repetition stats: duplicate lines counted beyond first occurrence") {
    val df = docs(
      1L -> "a\nb\na\na", // 4 lines, 2 distinct -> 2 dups, frac 0.5 > 0.3
      2L -> "x\ny", // no dups
      3L -> "") // one empty line, no dups
    val out = TextAnalysis.repetitionStats(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(out(1L) == ((4L, 2L, 2L, true)))
    assert(out(2L) == ((2L, 2L, 0L, false)))
    assert(out(3L) == ((1L, 1L, 0L, false)))
  }

  test("vocabulary: frequency order with ascending-token tie-break, capped at k") {
    val df = docs(1L -> "b a b c a b", 2L -> "c a d")
    val out = TextAnalysis.vocabulary(df, "text", topK = 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // a and b tie at 3 -> a first; c (2) third; d cut by the cap
    assert(out == Seq(("a", 3L), ("b", 3L), ("c", 2L)))
  }

  test("topNgrams: bigram counts across docs, tie-break, short docs contribute nothing") {
    val df = docs(1L -> "to be or not to be", 2L -> "to be", 3L -> "be", 4L -> "  ")
    val out = TextAnalysis.topNgrams(df, "text", n = 2, topK = 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // "to be" 3× (twice in doc 1, once in doc 2); "be or"/"not to"/"or not"
    // tie at 1 -> ascending gram order; doc 3 (< n tokens) and the
    // all-whitespace doc 4 contribute nothing
    assert(out == Seq(("to be", 3L), ("be or", 1L), ("not to", 1L)))
  }

  test("topNgrams at n=1 matches vocabulary") {
    val df = docs(1L -> "b a  b c a b", 2L -> "c a d")
    val uni = TextAnalysis.topNgrams(df, "text", n = 1, topK = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val voc = TextAnalysis.vocabulary(df, "text", topK = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(uni == voc)
  }

  test("fingerprint: identical docs share it, different ones don't") {
    val df = docs(1L -> "a b c d e f g h", 2L -> "a b c d e f g h", 3L -> "t u v w x y z q")
    val fp = TextAnalysis.fingerprint(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("brute-force ANN: nearest vector by cosine, ties by id") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Ann.bruteForceTopK(emb, "vec_id", "embedding", Seq(0L), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 1L), (0L, 2L)))
  }

  test("IVF ANN achieves >=0.8 recall vs brute force on sf0.001") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bf = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L to 9L, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(emb, "vec_id", "embedding", 0L to 9L, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf.size == 50)
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("IVF literal-path assignment preserves rows with duplicate ids") {
    import spark.implicits._
    // two rows share id=7 with different vectors (unioned shards) —
    // assignment is per-row, so both must survive with their own cid
    val corpus = Seq(
      (7L, Seq(1.0, 0.0)), (7L, Seq(0.0, 1.0)), (8L, Seq(1.0, 1.0)),
    ).toDF("id", "v")
    val cents = Array((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
    graft.functions.GraftFunctions.register(spark)
    val viaLit = Ann.assignToCentroids(corpus, cents)
      .select("id", "cid").collect().map(r => (r.getLong(0), r.getInt(1)))
      .toSeq.sorted
    assert(viaLit.size == 3, s"literal path dropped a duplicate-id row: $viaLit")
    val entries = cents.map { case (cid, cv) => (cid, cv.toArray) }
    val viaKernel = corpus.collect().toSeq.map { r =>
      val v = r.getSeq[Double](1).toArray
      (r.getLong(0), entries(graft.functions.ArgmaxCosine.nearest(v, entries))._1)
    }.sorted
    assert(viaLit == viaKernel, "assignment disagrees with the kernel on a duplicate-id corpus")
  }

  test("PQ: codes are deterministic, bounded, and the top-k is stable across runs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def run(): Seq[(Long, Long)] =
      Ann.pqTopK(emb, "vec_id", "embedding", 0L to 4L, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val first = run()
    assert(first.size == 15, s"5 queries × k=3 expected, got ${first.size}")
    assert(first.forall { case (q, n) => q != n }, "self-match leaked into PQ top-k")
    assert(run() == first, "PQ ADC ranking must be deterministic (integer distance tables)")
  }

  test("PQ codebooks: one per subspace, codes within range, subDim slices") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val model = Ann.trainPq(Ann.trainSample(corpus, Ann.TrainSample),
      subspaces = 4, codebook = 16, iters = 2).codebooks
    assert(model.length == 4)
    model.foreach { cb =>
      assert(cb.nonEmpty && cb.length <= 16, s"codebook size ${cb.length}")
      assert(cb.forall { case (cid, cv) => cid >= 0 && cid < 16 && cv.size == 16 })
    }
  }

  test("PQ rerank recovers recall the raw ADC scan loses") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bf = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L to 9L, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(rr: Int): Double = {
      val pq = Ann.pqTopK(emb, "vec_id", "embedding", 0L to 9L, 5,
        subspaces = 8, codebook = 16, rerank = rr)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (bf & pq).size.toDouble / bf.size
    }
    // shortlist 100 of 500 then exact re-rank: near-exhaustive quality
    val reranked = recall(100)
    assert(reranked >= 0.9, s"reranked recall $reranked")
    assert(reranked >= recall(0), "re-ranking must not lose recall vs the raw ADC scan")
  }

  test("IVFADC: exhaustive probing reproduces the exhaustive ADC scan bit-for-bit") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def collectSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // with and without re-rank, at a few and at many coarse lists
    for (rerank <- Seq(0, 50)) {
      val pq = collectSet(Ann.pqTopK(emb, "vec_id", "embedding", 0L to 9L, 5, rerank = rerank))
      for (nLists <- Seq(16, 65)) {
        val full = collectSet(Ann.ivfAdcTopK(emb, "vec_id", "embedding", 0L to 9L, 5,
          nLists = nLists, nProbe = nLists, rerank = rerank))
        assert(full == pq,
          s"nProbe = nLists = $nLists, rerank $rerank must equal the exhaustive ADC ranking")
      }
    }
  }

  test("IVFADC: probed shortlist + exact re-rank recovers recall; deterministic; empty queries") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def collectSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = collectSet(Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L to 9L, 5))
    def run() = collectSet(Ann.ivfAdcTopK(emb, "vec_id", "embedding", 0L to 9L, 5,
      nLists = 16, nProbe = 8, subspaces = 8, rerank = 100))
    val first = run()
    assert(first.size == 50, s"10 queries × k=5 expected, got ${first.size}")
    val recall = (brute & first).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVFADC reranked recall $recall")
    assert(run() == first, "IVFADC must be deterministic")
    assert(Ann.ivfAdcTopK(emb, "vec_id", "embedding", Seq(-1L), 5).count() == 0)
  }

  test("ADC query batches: an empty batch is empty, a query of the wrong dim fails loudly") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    // queries come from the corpus, so the wrong-dim vectors ride in as
    // corpus rows; training disqualifies them, the query check must not
    val bad = Seq((100000L, Seq.fill(2)(1.0f)), (100001L, Seq.fill(70)(1.0f)))
      .toDF("vec_id", "embedding")
    val corpus = emb.union(bad)
    val ops: Seq[(String, Seq[Long] => org.apache.spark.sql.DataFrame)] = Seq(
      "pqTopK" -> (ids => Ann.pqTopK(corpus, "vec_id", "embedding", ids, 5)),
      "ivfAdcTopK, 16 lists" -> (ids =>
        Ann.ivfAdcTopK(corpus, "vec_id", "embedding", ids, 5, nLists = 16, nProbe = 4)),
      "ivfAdcTopK, 65 lists" -> (ids =>
        Ann.ivfAdcTopK(corpus, "vec_id", "embedding", ids, 5, nLists = 65, nProbe = 8)))
    ops.foreach { case (name, op) =>
      assert(op(Seq(-1L)).count() == 0, s"$name: an empty batch must give no rows")
      for ((qid, qdim) <- Seq(100000L -> 2, 100001L -> 70)) {
        val ex = intercept[IllegalArgumentException](op(Seq(qid)))
        assert(ex.getMessage.contains(s"query id=$qid has dim $qdim, index expects 64"),
          s"$name: want the query dim check, got: ${ex.getMessage}")
      }
    }
  }

  test("quality classifier: linear, deterministic, bounded; empty docs fail") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha alpha"),        // doubled token → exactly double its weight
      (3L, "alpha"),
      (4L, ""),                   // token-free → (0, 0, false)
      (5L, "   "),
      (6L, "alpha  beta"),        // double space must not hash an empty token
      (7L, null),                 // NULL text scores like empty, not NULL
    ).toDF("doc_id", "text")
    val out = QualityClassifier.score(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap

    val (n1, s1, _) = out(1L)
    assert(n1 == 3 && math.abs(s1) <= 3000, "3 tokens, each milli-weight within ±1000")
    assert(out(2L)._2 == 2 * out(3L)._2, "the model must be linear in token counts")
    assert(out(4L) == ((0L, 0L, false)) && out(5L) == ((0L, 0L, false))
        && out(7L) == ((0L, 0L, false)),
      "token-free and NULL documents score 0 and are not quality")
    assert(out(6L)._1 == 2, "consecutive separators must not produce empty-token features")
    // deterministic: a second evaluation is bit-identical
    val again = QualityClassifier.score(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(again == out)
  }

  test("quality classifier: trained weights recover a BoW-linear rule through the integer path") {
    import spark.implicits._
    // 40 docs whose label is `count(good) > count(bad)` — exactly a
    // hashed-BoW linear decision, so LR must recover it and the
    // quantized integer serving path must reproduce it doc-for-doc.
    // Filler tokens appear identically in both classes (≈0 weight).
    val docs = (0 until 40).map { i =>
      val good = i % 5
      val bad = (i / 5) % 4
      val text = (Seq.fill(good)("good") ++ Seq.fill(bad)("bad") ++
        Seq("filler", s"pad${i % 3}")).mkString(" ")
      (i.toLong, text, if (good > bad) 1 else 0)
    }.toDF("doc_id", "text", "label")
    val w = QualityClassifier.train(docs, "doc_id", "text", "label")
    assert(w.length == QualityClassifier.Dim)
    // the learned decision mass sits on the marker buckets, with signs
    def bucket(tok: String): Int = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md5.take(15), 16) % QualityClassifier.Dim).toInt
    }
    assert(w(bucket("good")) > 0, "the positive marker's bucket must carry positive weight")
    assert(w(bucket("bad")) < 0, "the negative marker's bucket must carry negative weight")
    // serve through the INTEGER projection: agreement with the rule on
    // every document (training data is cleanly separable up to ties;
    // ties have label 0 and w_good ≈ -w_bad keeps them at/below 0)
    val served = QualityClassifier.scoreWith(docs, "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val labels = docs.collect().map(r => r.getLong(0) -> (r.getInt(2) == 1)).toMap
    val agree = labels.count { case (id, l) => served(id) == l }
    assert(agree >= 38, s"integer serving path agrees on $agree/40 docs")
    // a wrongly-sized weight vector must fail loudly, not mis-index
    intercept[IllegalArgumentException] {
      QualityClassifier.scoreWith(docs, "doc_id", "text", Array(1L, 2L))
    }
  }

  test("embedding-cosine LSH pairs equal brute-force cosine pairs; NaN/zero vectors excluded") {
    import spark.implicits._
    // planted structure: 0~1 near-identical, 2 scaled copy of 0 (cosine
    // 1), 3 orthogonal-ish, 4 zero vector (NaN cosine — must NOT pair),
    // 5 a different-dimension vector (must be excluded, not truncated)
    val emb = Seq(
      (0L, Array(1.0f, 0.2f, 0.1f, 0.0f)),
      (1L, Array(1.0f, 0.21f, 0.1f, 0.0f)),
      (2L, Array(2.0f, 0.4f, 0.2f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 2.0f)),
      (4L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
      .union(Seq((5L, Array(1.0f, 0.2f))).toDF("vec_id", "embedding"))

    val lsh = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding",
      threshold = 0.9, bands = 64, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // brute-force reference over the uniform-dimension, nonzero vectors
    val uniform = Seq(
      0L -> Array(1.0, 0.2, 0.1, 0.0), 1L -> Array(1.0, 0.21, 0.1, 0.0),
      2L -> Array(2.0, 0.4, 0.2, 0.0), 3L -> Array(0.0, 0.0, 1.0, 2.0))
    val brute = (for {
      (i, a) <- uniform; (j, b) <- uniform if i < j
      dot = a.zip(b).map { case (x, y) => x * y }.sum
      sim = dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      if sim >= 0.9
    } yield (i, j)).toSet
    assert(brute == Set((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(lsh == brute)
  }

  test("portable hash matches the DuckDB hex-prefix contract") {
    import spark.implicits._
    // md5("hello") = 5d41402abc4b2a76...; first 15 hex digits as int =
    // 0x5d41402abc4b2a7 = 419982666956583591 (pinned against DuckDB)
    val h = Seq("hello").toDF("s")
      .select(TextAnalysis.portableHash(col("s"))).head.getLong(0)
    assert(h == 419982666956583591L)
  }
}
