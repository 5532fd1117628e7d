package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora.
  *
  * Scale design: nothing here materializes all pairs. Exact dedup is a
  * hash groupBy; n-gram Jaccard uses an inverted-index (shingle) join so
  * only pairs sharing a shingle are generated; MinHash-LSH bands the
  * signature so only bucket-colliding pairs are generated; SimHash bands
  * 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ one of 4 chunks equal).
  */
object Dedup {

  /** Exact duplicate groups by content hash: one row per distinct
    * content, keeping the smallest id as canonical.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "content_hash", "n_copies")

  /** Distinct word n-gram shingles per document: (id, shingle). */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // shingle i = tokens[i..i+n); expr-based so codegen survives. Spark's
    // sequence(a, b) counts DOWN when b < a, so the short-text case needs
    // an explicit guard rather than an empty sequence.
    val sh = expr(
      s"CASE WHEN size(split($textCol, ' ')) >= $n THEN " +
        s"transform(sequence(0, size(split($textCol, ' ')) - $n), " +
        s"i -> concat_ws(' ', slice(split($textCol, ' '), i + 1, $n))) " +
        s"ELSE array() END")
    df.select(col(idCol).as("id"), explode(array_distinct(sh)).as("shingle"))
      .filter(length(col("shingle")) > 0)
  }

  /** Exact n-gram Jaccard near-duplicate pairs (a < b) with similarity ≥
    * threshold, via a PREFIX-FILTERED inverted-index self-join (the
    * All-Pairs/PPJoin candidate rule): each document's shingles are
    * ordered by ascending global document frequency, and only the first
    * |S| − ⌈t·|S|⌉ + 1 ("prefix") shingles enter the join. Any pair with
    * Jaccard ≥ t must share a prefix shingle under a global order, so
    * candidates are exact — and a boilerplate shingle shared by K
    * documents no longer fans out K²/2 pairs (it sorts to the END of
    * every ordering and stays out of prefixes), which is the hot-shingle
    * skew killer at corpus scale. Candidates are then verified with the
    * full intersection, so the output is identical to the unfiltered
    * join: no false negatives, no false positives.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
  ): DataFrame = {
    val sh = shingles(df, idCol, textCol, n).cache()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    // global document frequency orders each prefix rarest-first
    val docFreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val rankWin = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("shingle"))
    val sizeWin = org.apache.spark.sql.expressions.Window.partitionBy("id")
    // minimum overlap ⌈t·|S|⌉, with a RELATIVE shrink factor erring
    // toward a LARGER prefix: the product's fp rounding error is
    // relative (~ulps), so an absolute epsilon stops protecting once
    // t·|S| grows past ~2^30 — 1e-12 relative dominates the few-ulp
    // error at any |S| while loosening the bound by at most one rank
    // (a too-small prefix would silently drop true pairs; a too-large
    // one just verifies a few extra candidates). |S| comes from a
    // second window over the same partitioning — no extra shuffle, no
    // join against the sizes aggregate on this hot path.
    val prefix = sh.join(docFreq, "shingle")
      .withColumn("rank", row_number().over(rankWin))
      .withColumn("sz", count(lit(1)).over(sizeWin))
      .filter(col("rank") <=
        col("sz") - ceil(lit(threshold * (1.0 - 1e-12)) * col("sz")) + 1)
      .select("id", "shingle")
    val candidates = prefix.as("a")
      .join(prefix.as("b"), col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    val out = verifiedJaccard(candidates, sh, sizes, threshold)
    sh.unpersist()
    out
  }

  /** Exact Jaccard verification of candidate pairs against the full
    * shingle index; returns pairs with true Jaccard ≥ threshold.
    */
  private def verifiedJaccard(
      candidates: DataFrame,
      sh: DataFrame,
      sizes: DataFrame,
      threshold: Double,
  ): DataFrame = {
    val inter = candidates
      .join(sh.withColumnRenamed("id", "a_id").withColumnRenamed("shingle", "sa"), "a_id")
      .join(sh.withColumnRenamed("id", "b_id").withColumnRenamed("shingle", "sb"), "b_id")
      .filter(col("sa") === col("sb"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("id", "b_id").withColumnRenamed("n", "nb"), "b_id")
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id")
      .localCheckpoint(true)
  }

  /** MinHash signature + banded LSH candidate generation, then exact
    * Jaccard verification of the candidates. Output = candidate pairs
    * whose true shingle Jaccard ≥ threshold.
    *
    * Hash family: h_i(s) = xxhash64(i, xxhash64(s)) — deterministic,
    * seedless; the variable-length shingle is hashed once and the
    * family permutes its fixed-width 64-bit base.
    * With numHashes = bands·rowsPerBand, a pair with Jaccard j collides
    * in ≥1 band with p = 1 − (1 − j^r)^b; at j ≥ 0.8, b=32, r=4 the miss
    * probability is ~5e-8, so the verified output matches the exact
    * operator w.h.p. while scanning far fewer pairs.
    */
  def minHashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 32,
      rowsPerBand: Int = 4,
      threshold: Double = 0.8,
  ): DataFrame = {
    val sh = shingles(df, idCol, textCol, n).cache()
    val buckets = lshBuckets(sh, bands, rowsPerBand)

    val candidates = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()

    // exact verification of candidates only
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val out = verifiedJaccard(candidates, sh, sizes, threshold)
    sh.unpersist()
    out
  }

  /** (id, band, bucket) LSH band buckets from a shingle table — the
    * reusable minhash index shape. Each shingle string is hashed ONCE to
    * a 64-bit base; the hash family then re-hashes the fixed-width base
    * (h_i = xxhash64(i, base) mixes 12 bytes) instead of re-hashing the
    * variable-length string numHashes times per shingle — the dominant
    * CPU cost of the signature stage at corpus scale. Family quality is
    * unchanged (independent-ish permutations of a 64-bit universe);
    * candidates are exact-verified downstream, so outputs are identical
    * w.h.p.
    *
    * Public so deployments can persist the bucket table (it IS the
    * near-dup index — see [[NearDupIndex]]) instead of recomputing it
    * per admitted shard.
    */
  def lshBuckets(sh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sigCols: Seq[Column] =
      (0 until numHashes).map(i => min(xxhash64(lit(i), col("base"))).as(s"h$i"))
    val sig = sh.withColumn("base", xxhash64(col("shingle")))
      .groupBy("id").agg(sigCols.head, sigCols.tail: _*)
    val bandCols: Seq[Column] = (0 until bands).map { b =>
      val hs = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(hs: _*).as("bucket"))
    }
    sig
      .select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
  }

  /** Incremental near-dup ADMISSION — the continuous-ingestion shape:
    * dedupe an incoming shard against the already-admitted corpus
    * without ever joining the corpus to itself. The old side's band
    * buckets are the persistent index (computed once per corpus in a
    * real deployment and appended as shards land); candidates come from
    * a NEW×OLD band-bucket equi-join only, and each candidate is
    * verified with the exact cross-corpus shingle Jaccard. A new doc
    * survives iff NO admitted doc matches at ≥ threshold.
    *
    * Duplicates WITHIN the incoming shard are deliberately out of
    * scope — run [[minHashLshPairs]] + [[resolvePairs]] on the shard
    * first; this operator answers only "is it new vs the corpus".
    *
    * Returns the surviving rows of `newDocs` (original schema).
    */
  def incrementalNearDupFilter(
      newDocs: DataFrame,
      oldDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 32,
      rowsPerBand: Int = 4,
      threshold: Double = 0.8,
  ): DataFrame = {
    val index = buildNearDupIndex(oldDocs, idCol, textCol, n, bands, rowsPerBand)
    try incrementalNearDupFilter(newDocs, index, idCol, textCol, threshold)
    finally index.shingles.unpersist()
  }

  /** The persistent old-corpus side of [[incrementalNearDupFilter]]:
    * shingle table (for exact verification), band buckets (for
    * candidate generation) and per-doc shingle counts. In a deployment
    * these three frames are written once per corpus and APPENDED as
    * shards are admitted — `n`/`bands`/`rowsPerBand` must match between
    * index build and query, so they travel with the index.
    */
  final case class NearDupIndex(
      shingles: DataFrame,
      buckets: DataFrame,
      sizes: DataFrame,
      n: Int,
      bands: Int,
      rowsPerBand: Int)

  /** Build (and cache the shingle table of) a [[NearDupIndex]] for
    * `docs`. Persist the three frames to parquet to reuse across jobs;
    * to admit a shard into the index, union the shard's own
    * shingles/buckets/sizes (same builder over the surviving rows).
    */
  def buildNearDupIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 32,
      rowsPerBand: Int = 4,
  ): NearDupIndex = {
    val sh = shingles(docs, idCol, textCol, n).cache()
    NearDupIndex(sh, lshBuckets(sh, bands, rowsPerBand),
      sh.groupBy("id").agg(count(lit(1)).as("n")), n, bands, rowsPerBand)
  }

  /** [[incrementalNearDupFilter]] against a precomputed (possibly
    * loaded-from-parquet) old-side index — the shape that makes the
    * admitted side's cost O(shard), not O(corpus), per ingestion batch.
    */
  def incrementalNearDupFilter(
      newDocs: DataFrame,
      index: NearDupIndex,
      idCol: String,
      textCol: String,
      threshold: Double,
  ): DataFrame = {
    val shNew = shingles(newDocs, idCol, textCol, index.n).cache()
    val candidates = lshBuckets(shNew, index.bands, index.rowsPerBand).as("a")
      .join(index.buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("new_id"), col("b.id").as("old_id"))
      .distinct()
    val inter = candidates
      .join(shNew.withColumnRenamed("id", "new_id").withColumnRenamed("shingle", "sn"), "new_id")
      .join(index.shingles.withColumnRenamed("id", "old_id").withColumnRenamed("shingle", "so"), "old_id")
      .filter(col("sn") === col("so"))
      .groupBy("new_id", "old_id")
      .agg(count(lit(1)).as("inter"))
    val sizesNew = shNew.groupBy("id").agg(count(lit(1)).as("n"))
    val dupNewIds = inter
      .join(sizesNew.withColumnRenamed("id", "new_id").withColumnRenamed("n", "na"), "new_id")
      .join(index.sizes.withColumnRenamed("id", "old_id").withColumnRenamed("n", "nb"), "old_id")
      .filter(col("inter").cast("double") / (col("na") + col("nb") - col("inter")) >= threshold)
      .select(col("new_id"))
      .distinct()
      .localCheckpoint(true)
    shNew.unpersist()
    newDocs.join(dupNewIds, newDocs(idCol) === dupNewIds("new_id"), "left_anti")
  }

  /** SimHash bit width. 60 (not 64) so the per-token hash is
    * TextAnalysis.portableHash — reproducible in the DuckDB oracle —
    * and the signature still fits a signed long.
    */
  val SimHashBits = 60

  /** 60-bit SimHash per document over whitespace tokens (all
    * occurrences, not distinct — token frequency weights the bits).
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(
      col(idCol).as("id"),
      explode(split(col(textCol), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", TextAnalysis.portableHash(col("tok")))
    val bitSums: Seq[Column] = (0 until SimHashBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val agg = toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until SimHashBits).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("id"), sim.as("simhash"))
  }

  /** Embedding-cosine near-duplicate pairs (a < b) with cosine ≥
    * threshold, via random-hyperplane (sign) LSH + exact verification.
    *
    * Scale design: each vector gets `bands` bucket keys (one per band of
    * `rowsPerBand` sign bits against seeded Gaussian hyperplanes); only
    * bucket-colliding pairs are generated and then verified with the
    * exact cosine — no all-pairs. A pair at angle θ shares one bit with
    * p = 1 − θ/π, so it collides in ≥1 band with 1 − (1 − p^r)^b: at
    * cosine 0.95 and the default r=8, b=24 the miss probability is
    * ~1.6e-6 (and exact-duplicate / scaled vectors collide with
    * probability 1 — their sign signatures are identical).
    *
    * The signature kernel is a per-partition matrix multiply (b·r dot
    * products per row) — plain loops, since Spark's higher-order array
    * expressions are interpreted, not codegen'd.
    */
  def embeddingCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.9,
      bands: Int = 24,
      rowsPerBand: Int = 8,
      seed: Long = 42L,
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // ids must be numeric (cast to long); null ids / null vectors are
    // dropped up front rather than NPE-ing in the signature kernel.
    val vecs = df
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), Ann.asDouble(col(vecCol)).as("v"))
      .filter(col("id").isNotNull)
      .cache()

    // dim inference must be deterministic across runs (a bare limit(1)
    // picks an arbitrary partition's row): take the lowest-id row, the
    // same one every time for a given input
    val first = vecs.orderBy(col("id")).limit(1).collect()
    if (first.isEmpty)
      return spark.emptyDataFrame
        .withColumn("a_id", lit(0L)).withColumn("b_id", lit(0L)).limit(0)
    val dim = first(0).getSeq[Double](1).size
    val rnd = new java.util.Random(seed)
    val hp: Array[Array[Double]] =
      Array.fill(bands * rowsPerBand)(Array.fill(dim)(rnd.nextGaussian()))
    val nb = bands
    val rpb = rowsPerBand

    // vectors of a different length than the first row would be silently
    // signature-truncated — exclude them (uniform dimension is the
    // operator's contract, as in any ANN index).
    val uniform = vecs.filter(size(col("v")) === dim)

    val buckets = uniform.as[(Long, Seq[Double])].mapPartitions { it =>
      it.flatMap { case (id, v) =>
        val arr = v.toArray
        (0 until nb).iterator.map { b =>
          var bucket = 0L
          var r = 0
          while (r < rpb) {
            val w = hp(b * rpb + r)
            var s = 0.0
            var i = 0
            val n = math.min(arr.length, w.length)
            while (i < n) { s += arr(i) * w(i); i += 1 }
            bucket = (bucket << 1) | (if (s >= 0) 1L else 0L)
            r += 1
          }
          (id, b, bucket)
        }
      }
    }.toDF("id", "band", "bucket")

    val candidates = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()

    // NaN guard: a zero-norm vector makes cosine 0/0 = NaN, and Spark
    // orders NaN above every double — so `>= threshold` would be TRUE.
    // Zero vectors all share the all-ones sign signature, so without the
    // guard they surface as false-positive pairs.
    val sim = Ann.cosine(col("va"), col("vb"))
    val out = candidates
      .join(uniform.select(col("id").as("a_id"), col("v").as("va")), "a_id")
      .join(uniform.select(col("id").as("b_id"), col("v").as("vb")), "b_id")
      .filter(!isnan(sim) && sim >= threshold)
      .select("a_id", "b_id")
      // materialize the (small) verified pairs so the input cache can be
      // released instead of leaking for the session lifetime
      .localCheckpoint(true)
    vecs.unpersist()
    out
  }

  /** SemDeDup-style semantic deduplication: k-means-cluster the
    * embedding space (the IVF coarse quantizer, [[Ann.ivfCentroids]],
    * trained on the driver over the first [[Ann.TrainSample]] vectors by
    * id), then within each cluster drop every vector that has a
    * smaller-id neighbor at cosine ≥ `threshold`. Output is the full
    * verdict table — (vec_id, cid, kept) for every input row — so
    * downstream keeps `kept` and the whole model (assignment AND
    * pruning) is checkable.
    *
    * Scale: the corpus-wide centroid assignment is the IVF index's
    * per-row codegen'd graft_cosine_argmax over one centroid literal
    * (plan size O(1) in k); the only quadratic step is the
    * within-cluster pair join, bounded by cluster size — SemDeDup's own
    * design knob: pick k so clusters stay small (the paper uses
    * ~10⁴–10⁵ clusters at web scale, keeping clusters in the
    * thousands). The pair join is a hash equi-join on cid, never an
    * all-pairs blob.
    *
    * Greedy min-id pruning (not connected components): a vector
    * survives iff no SMALLER-id same-cluster neighbor is within
    * threshold. Deterministic, one join; transitive chains keep their
    * local minima (use [[resolvePairs]] on the pair output when
    * global-component semantics are wanted).
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 16,
      iters: Int = 2,
      threshold: Double = 0.9,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val corpus = semanticCorpus(df, idCol, vecCol).cache()
    val centroids = Ann.ivfCentroids(Ann.trainSample(corpus, Ann.TrainSample), k, iters)
    val assigned = Ann.assignToCentroids(corpus, centroids).cache()

    // same NaN guard as embeddingCosinePairs: a zero-norm vector's
    // cosine is NaN, which Spark orders above every double
    val sim = Ann.cosine(col("v"), col("ov"))
    val dropped = assigned
      .join(
        assigned.select(col("id").as("oid"), col("v").as("ov"), col("cid")),
        Seq("cid"))
      .filter(col("oid") < col("id"))
      .filter(!isnan(sim) && sim >= threshold)
      .select(col("id"))
      .distinct()
      .withColumn("graft_dropped", lit(true))

    val out = assigned
      .join(dropped, Seq("id"), "left")
      .select(
        col("id").as("vec_id"),
        col("cid"),
        col("graft_dropped").isNull.as("kept"))
      .localCheckpoint(true)
    assigned.unpersist()
    corpus.unpersist()
    out
  }

  /** semanticDedup's (id, v) corpus: rows with an id and a vector,
    * widened to array<double> by one codegen'd cast.
    */
  private[operators] def semanticCorpus(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), Ann.asDouble(col(vecCol)).as("v"))

  /** Near-duplicate pairs by SimHash hamming distance ≤ maxDistance
    * (≤ 3 with the default 4 chunks, by pigeonhole). Banded on 15-bit
    * chunks: only pairs agreeing on at least one chunk are compared.
    */
  def simHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3,
  ): DataFrame = {
    val sig = simHash(df, idCol, textCol).cache()
    val chunkBits = SimHashBits / 4
    val chunks = sig.select(
      col("id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * chunkBits)
            .bitwiseAND((1L << chunkBits) - 1).as("v"))): _*)).as("cc"))
      .select(col("id"), col("simhash"), col("cc.chunk"), col("cc.v"))
    val out = chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.v") === col("b.v") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
      .localCheckpoint(true)
    sig.unpersist()
    out
  }

  /** Resolve a near-duplicate PAIR list into the surviving corpus: group
    * pairs into duplicate clusters (connected components of the pair
    * graph — near-dup similarity is not transitive, but dropping the
    * whole cluster behind one representative is the standard
    * conservative policy) and keep the minimum id of each cluster.
    * Documents in no pair survive untouched.
    *
    * Scale: the component computation runs only over the PAIRED ids —
    * a small fraction of any real corpus — and the final step is one
    * anti-join of the corpus against the non-representative ids, so
    * nothing driver-side scales with data size.
    */
  def resolvePairs(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
  ): DataFrame = {
    val nodes = pairs.select(col(aCol).as("node"))
      .union(pairs.select(col(bCol).as("node"))).distinct()
    val labels = graft.util.Graph.connectedComponents(
      nodes, pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    val dropped = labels.filter(col("node") =!= col("comp"))
      .select(col("node").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Corpus-level LINE deduplication (the C4/RefinedWeb preprocessing
    * step): a non-blank line occurring at least `minOccurrences` times
    * across the WHOLE corpus — boilerplate headers, cookie banners,
    * license blurbs — is removed from every document containing it;
    * blank lines are document structure and always survive. Occurrences
    * count per appearance, so a line repeated inside one document counts
    * toward its own removal.
    *
    * Returns one row per input document: the cleaned text with the
    * original line order preserved, plus total/removed line counts.
    *
    * Scale design: one exploded (id, pos, line) pass; global frequencies
    * are a map-side-combined groupBy on the line itself (the shuffle key
    * Spark hashes anyway — a separate 64-bit fingerprint would save no
    * bytes but add a collision mode that silently deletes unique lines);
    * the duplicate set joins back by line key; reconstruction is one
    * aggregation per document sorting its surviving (pos, line) pairs
    * locally. No step is driver-side or all-pairs; the heaviest shuffle
    * is corpus-text-sized, the same order as reading the input.
    */
  /** EXACT substring deduplication (the "dedup training data at the
    * substring level" operator): remove every token covered by some
    * `n`-gram that occurs in at least `minDocs` DISTINCT documents.
    * Cross-document boilerplate — licence footers, navigation chrome,
    * templated intros — is excised from every document carrying it,
    * while within-document repetition is untouched (that is
    * [[lineDedup]]'s and the repetition-stats lane's job).
    *
    * Pipeline: token positions → n-gram inverted index → the duplicate
    * gram set (map-side-combined distinct-doc counts) → covered
    * positions (each dup occurrence expands to its n positions,
    * de-duplicated) → conditional ordered rebuild, the same
    * sort-inside-the-aggregation trick as [[lineDedup]]. Every join is
    * a hash equi-join on gram or (doc, position) — nothing is
    * all-pairs, and coverage expansion is a bounded ×n explode.
    * Documents with zero tokens drop out (nothing to keep or remove).
    */
  def exactSubstringDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      minDocs: Int = 2,
  ): DataFrame = {
    require(n >= 2, s"n must be >= 2: $n")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val toks = df.select(col(idCol).as("id"),
      filter(split(trim(col(textCol)), " "), t => length(t) > 0).as("t"))
    val pos = toks.select(col("id"), posexplode(col("t")).as(Seq("pos", "tok")))
    val grams = toks
      .where(size(col("t")) >= n)
      .select(col("id"), explode(expr(
        s"transform(sequence(0, size(t) - $n), " +
          s"i -> struct(i AS gpos, array_join(slice(t, i + 1, $n), ' ') AS g))")).as("gr"))
      .select(col("id"), col("gr.gpos").as("gpos"), col("gr.g").as("g"))
    val dup = grams
      .groupBy("g").agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("g")
    val covered = grams.join(dup, "g")
      .select(col("id"), explode(expr(s"sequence(gpos, gpos + ${n - 1})")).as("pos"))
      .distinct()
    pos
      .join(covered.withColumn("c", lit(true)), Seq("id", "pos"), "left")
      .withColumn("removed", col("c").isNotNull)
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(!col("removed"), struct(col("pos"), col("tok"))))),
            s => s.getField("tok")),
          " ").cast("binary")).as("clean_md5"))
  }

  def lineDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minOccurrences: Int = 2,
  ): DataFrame = {
    require(minOccurrences >= 2, "minOccurrences below 2 would delete every non-blank line")
    // re-derived (not cached) by both branches: a pruned scan plus a
    // codegen'd split is cheaper than materializing corpus-sized text
    val lines = df
      .select(col(idCol).as("id"), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val blank = trim(col("line")) === ""
    val dupLines = lines
      .filter(!blank)
      .groupBy("line").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minOccurrences)
      .select("line")
    val flagged = lines
      .join(dupLines.withColumn("dup", lit(true)), Seq("line"), "left")
      .withColumn("removed", col("dup").isNotNull && !blank)
    flagged
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("lines_total"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("lines_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(!col("removed"), struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          "\n").as("clean_text"))
  }
}
