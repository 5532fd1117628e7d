package graft.operators

import graft.functions.{ArgmaxCosine, PqAssignCode}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * never pairs corpus rows with each other — cost O(|queries|·N), the
  * correct baseline and the oracle-checkable one. The indexes (IVF, PQ,
  * IVFADC, OPQ) split the work in two:
  * - the MODEL — IVF centroids, PQ codebooks, the OPQ rotation — is
  *   bounded by its parameters, so ONE deterministic Lloyd trainer
  *   ([[lloyd]]) fits it on the driver over the first [[TrainSample]]
  *   vectors by id, fetched with one collect (the training-subset
  *   protocol of Ge et al., CVPR 2013). Up to that many vectors the
  *   sample IS the corpus, so the model is the full-corpus Lloyd model;
  * - the CORPUS-WIDE work — assigning every vector to its list,
  *   encoding it, scanning codes — stays distributed, as per-row
  *   codegen'd expressions over the model embedded in one literal
  *   (graft_cosine_argmax, graft_pq_assign). The trainer assigns its
  *   sample with the same kernels ([[ArgmaxCosine.nearest]],
  *   [[PqAssignCode.nearest]]), so training and serving agree bit for
  *   bit.
  */
object Ann {

  /** Cosine similarity between two array<double> columns — the codegen'd
    * graft_cosine Catalyst expression (sequential summation, so the
    * result is deterministic). A zero-norm side yields NaN — callers
    * must NaN-guard threshold filters, since Spark orders NaN above
    * every double. Callers in this object register the function on the
    * input's session first.
    */
  def cosine(a: Column, b: Column): Column = graft.functions.GraftFunctions.cosine(a, b)

  // array<float> -> array<double> as ONE codegen'd Cast — not
  // transform(_.cast(...)), whose lambda layer is CodegenFallback
  private[operators] def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact top-k neighbors for each query id (query rows are taken from
    * the corpus itself). Self-matches excluded; ties broken by neighbor
    * id ascending for determinism.
    */
  def bruteForceTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int = 5,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val corpus = emb.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("vb"))
    val queries = emb
      .filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("va"))
    val scored = queries
      .join(corpus, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("va"), col("vb")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id")
  }

  /** How many vectors the trainer fits a model on: the first
    * `TrainSample` by id. Every shipped corpus is within it (500 vectors
    * at sf0.01, 2,000 at sf0.1), so their models are full-corpus models.
    */
  val TrainSample = 2048

  /** The training sample: the first `n` (`id`, `v`) rows by id, in one
    * collect — O(n·dim) on the driver, bounded by `n`, never by the
    * corpus. A null vector, or one with a null element, is `null`: no
    * entry qualifies for it, as the Spark expressions give null for it.
    */
  private[operators] def trainSample(corpus: DataFrame, n: Int): Array[Array[Double]] =
    corpus.orderBy("id").limit(n).collect().map { r =>
      val v = r.getSeq[Any](1)
      if (v == null || v.contains(null)) null else v.map(_.asInstanceOf[Double]).toArray
    }

  /** The vector length of a sample: that of its first non-null vector. */
  private def dimOf(xs: Array[Array[Double]]): Int = {
    val first = xs.find(_ != null)
    require(first.isDefined, "cannot train a model on an empty corpus")
    first.get.length
  }

  /** The one deterministic Lloyd trainer, on the driver over sample
    * `xs` (in id order). Init: the first `k` vectors, cid = position.
    * Each of `iters` rounds assigns every vector with `nearest` (a
    * driver kernel: the entry's index, -1 when none qualifies) and
    * recomputes each cluster as [[lloydMeans]] of its members. A vector
    * no entry qualifies for (ragged or null) is left out of the means;
    * a cluster left with no members drops out; a round that assigns
    * nothing keeps the previous model. Centroids come back by cid.
    */
  private[operators] def lloyd(
      xs: Array[Array[Double]],
      k: Int,
      iters: Int,
      nearest: (Array[Double], ArgmaxCosine.Entries) => Int): Array[(Int, Seq[Double])] = {
    var cents: ArgmaxCosine.Entries =
      xs.take(k).zipWithIndex.collect { case (x, i) if x != null => (i, x) }
    (1 to iters).foreach { _ =>
      val members = xs.flatMap { x =>
        val j = nearest(x, cents)
        if (j < 0) None else Some((cents(j)._1, x))
      }
      if (members.nonEmpty)
        cents = lloydMeans(members.toSeq).map { case (cid, cv) => (cid, cv.toArray) }
    }
    cents.map { case (cid, cv) => (cid, cv.toSeq) }
  }

  /** Cluster means of (cid, member) pairs, by cid, in the fixed
    * integer formulation every SQL replay of a Lloyd model repeats:
    * each coordinate is rounded to nano-units with Spark's
    * `round(x * 1e9)` (BigDecimal HALF_UP, so -k.5 rounds away from
    * zero, as DuckDB's `round` does), summed exactly (no long
    * overflow), then the mean is the one double expression
    * sum / count / 1e9. Members of one cluster share its length.
    */
  private[operators] def lloydMeans(assigned: Seq[(Int, Array[Double])]): Array[(Int, Seq[Double])] =
    assigned.groupBy(_._1).toArray.sortBy(_._1).map { case (cid, ms) =>
      (cid, (0 until ms.head._2.length).map { i =>
        ms.foldLeft(java.math.BigInteger.ZERO) { case (acc, (_, v)) =>
          acc.add(java.math.BigDecimal.valueOf(v(i) * 1e9)
            .setScale(0, java.math.RoundingMode.HALF_UP).toBigInteger)
        }.doubleValue / ms.size / 1e9
      })
    }

  /** IVF coarse quantizer: `nLists` centroids by cosine argmax. */
  private[operators] def ivfCentroids(
      xs: Array[Array[Double]],
      nLists: Int,
      iters: Int): Array[(Int, Seq[Double])] =
    lloyd(xs, nLists, iters, ArgmaxCosine.nearest)

  /** The centroid set as ONE literal column: array<struct<cid,cv>> in a
    * single `typedLit` — a constant-size plan node carrying the data,
    * not an O(nLists) expression tree.
    */
  private def centroidsLit(cents: Array[(Int, Seq[Double])]): Column =
    typedLit(cents.toSeq).cast("array<struct<cid:int,cv:array<double>>>")

  /** (id, v, cid): closest centroid per corpus vector (columns `id`,
    * `v`), by the native graft_cosine_argmax expression
    * (functions/ArgmaxCosine.scala) over the centroid set embedded as a
    * single literal — plan size O(1) in nLists and fully codegen'd. A
    * per-row map-side expression: zero shuffle, no join, no row-identity
    * key, deterministic under task retry, and a corpus with duplicate
    * ids keeps every row with identical multiplicity. A row no centroid
    * qualifies for gets a null cid. Package-private so
    * PlanGuardrailSpec can pin its physical shape directly (the public
    * API checkpoints its result, hiding the plan).
    */
  private[operators] def assignToCentroids(
      corpus: DataFrame,
      cents: Array[(Int, Seq[Double])]): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    corpus.withColumn(
      "cid",
      graft.functions.GraftFunctions.cosineArgmax(col("v"), centroidsLit(cents)))
  }

  /** IVF index: assign every vector to its closest of `nLists` centroids
    * ([[ivfCentroids]]: init from the first ids, `iters` Lloyd rounds on
    * the training sample); queries probe the `nProbe` closest lists
    * only. Approximate — recall measured against bruteForceTopK in
    * tests.
    *
    * Scale: the corpus-wide assignment is graft_cosine_argmax over the
    * centroid set in ONE literal — plan size O(1) in `nLists` at the
    * 10³–10⁵ lists a large corpus needs, a pure per-row map-side
    * expression: no join, no shuffle, nothing non-deterministic under
    * task retry. The probe scores the (few) queries against the same
    * literal.
    */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int = 5,
      nLists: Int = 16,
      nProbe: Int = 4,
      iters: Int = 2,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val corpus = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")).cache()
    val centroids = ivfCentroids(trainSample(corpus, TrainSample), nLists, iters)
    val assigned = assignToCentroids(corpus, centroids).cache()
    val queries = assigned
      .filter(col("id").isInCollection(queryIds))
      .select(col("id").as("query_id"), col("v").as("va"))

    // probe lists: nProbe closest centroids per query, descending by
    // (similarity, cid)
    val scoredCentroids = transform(
      centroidsLit(centroids),
      c => struct(cosine(col("va"), c.getField("cv")).as("s"), c.getField("cid").as("cid")))
    val probed = queries
      .withColumn("probe", slice(reverse(array_sort(scoredCentroids)), 1, nProbe))
      .select(col("query_id"), col("va"), explode(col("probe.cid")).as("cid"))

    val scored = probed
      .join(assigned.select(col("id").as("neighbor_id"), col("v").as("vb"), col("cid")), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("va"), col("vb")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    // materialize the (tiny) top-k so the working caches can be released
    // instead of leaking for the session lifetime
    val out = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id")
      .localCheckpoint(true)
    assigned.unpersist()
    corpus.unpersist()
    out
  }

  // ---- Product quantization (PQ) ----------------------------------------

  /** Per-subspace argmin code: the closest codebook centroid to this
    * row's `m`-th sub-vector, ties to the larger code (the same struct
    * argmax convention as the IVF assignment, with negated distance).
    * A single literal carries the codebook, so the plan is O(1) in the
    * codebook size — a pure map-side expression, zero shuffle. The
    * argmin is the native codegen'd graft_pq_assign expression
    * (functions/PqAssignCode.scala): same sequential-sum distances and
    * larger-cid tie-break as the trainer's, so the PQ oracles replay it.
    */
  private[operators] def pqCodeExpr(
      m: Int,
      subDim: Int,
      cb: Array[(Int, Seq[Double])]): Column =
    graft.functions.GraftFunctions.pqAssign(slice(col("v"), m * subDim + 1, subDim), centroidsLit(cb))

  /** A product quantizer: vector length `dim`, `subDim` = dim /
    * subspaces, and one codebook per subspace.
    */
  private[operators] case class Pq(dim: Int, subDim: Int, codebooks: Array[Array[(Int, Seq[Double])]])

  /** Per-subspace Lloyd training of the PQ codebooks
    * (Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011 — public) on sample `xs`: split each vector
    * into `subspaces` contiguous sub-vectors (slices, so a short vector
    * yields short sub-vectors that no code qualifies for) and run
    * [[lloyd]] on each subspace with the L2 argmin. Init: the first
    * `codebook` vectors by id, sliced.
    */
  private[operators] def trainPq(
      xs: Array[Array[Double]],
      subspaces: Int,
      codebook: Int,
      iters: Int): Pq = {
    val dim = dimOf(xs)
    require(dim % subspaces == 0, s"dim $dim not divisible into $subspaces subspaces")
    val subDim = dim / subspaces
    Pq(dim, subDim, Array.tabulate(subspaces) { m =>
      val slices = xs.map(x => if (x == null) null else x.slice(m * subDim, (m + 1) * subDim))
      lloyd(slices, codebook, iters, PqAssignCode.nearest)
    })
  }

  // ---- Optimized Product Quantization (OPQ) ------------------------------

  /** Fit the OPQ rotation (Ge/He/Ke/Sun, "Optimized Product
    * Quantization", CVPR 2013, §3.2 non-parametric solution — public):
    * alternate (a) PQ-train on the rotated data, (b) solve the
    * orthogonal Procrustes problem `min ‖XR − X̂‖F` via one SVD of
    * `XᵀX̂` (R = UVᵀ), so the subspace decomposition aligns with the
    * data's correlation structure and the same 16-bit code budget loses
    * less information.
    *
    * The rotation is a dim×dim MODEL, so it fits on the training sample
    * (the first [[TrainSample]] vectors by id — the paper's
    * training-subset protocol), with [[trainPq]] as its inner PQ fit and
    * its reconstruction: driver state is O(sample·dim + dim²), bounded
    * by parameters, never by the corpus. Corpus-wide work — applying R
    * and encoding — stays distributed ([[graft.functions.MatVec]] is a
    * codegen'd map-side kernel). The SVD is LAPACK via breeze (on
    * Spark's own classpath), deterministic for identical input bits.
    * `opqIters = 0` returns the identity, which
    * [[graft.functions.MatVec]] applies bit-losslessly — anchoring
    * OPQ ≡ PQ equivalence in the spec.
    */
  def opqFit(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      subspaces: Int = 4,
      codebook: Int = 16,
      iters: Int = 2,
      opqIters: Int = 3): Array[Array[Double]] = {
    val X = trainSample(emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")), TrainSample)
    val dim = dimOf(X)
    require(dim % subspaces == 0, s"dim $dim not divisible into $subspaces subspaces")
    val identity = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var rot = identity
    (1 to opqIters).foreach { _ =>
      val xr = X.map { v =>
        Array.tabulate(dim) { i =>
          var s = 0.0; var j = 0
          while (j < dim) { s += rot(i)(j) * v(j); j += 1 }
          s
        }
      }
      val pq = trainPq(xr, subspaces, codebook, iters)
      val cbs = pq.codebooks.map(_.map { case (cid, cv) => (cid, cv.toArray) })
      // X̂ = reconstruction of the rotated sample from its codes
      val xh = xr.map { v =>
        val out = new Array[Double](dim)
        cbs.indices.foreach { m =>
          val best = PqAssignCode.nearest(v.slice(m * pq.subDim, (m + 1) * pq.subDim), cbs(m))
          System.arraycopy(cbs(m)(best)._2, 0, out, m * pq.subDim, pq.subDim)
        }
        out
      }
      // Procrustes for the COLUMN convention this code applies
      // (v' = R·v): minimize Σ‖Rv − v̂'‖² = maximize tr(R·M) with
      // M = Σ v·v̂'ᵀ, solved by R = V·Uᵀ from M = U·S·Vᵀ (the row
      // convention's familiar U·Vᵀ is its transpose). M accumulates in
      // fixed sample order (deterministic); the SVD is deterministic
      // per input bits.
      val g = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
      X.indices.foreach { r =>
        var i = 0
        while (i < dim) {
          var j = 0
          while (j < dim) { g(i, j) += X(r)(i) * xh(r)(j); j += 1 }
          i += 1
        }
      }
      val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(g)
      val ruv = (u * vt).t
      rot = Array.tabulate(dim, dim)((i, j) => ruv(i, j))
    }
    rot
  }

  /** OPQ-rotated exhaustive ADC top-k: [[opqFit]]'s rotation applied
    * corpus-wide by the codegen'd graft_matvec kernel, then the entire
    * [[pqTopK]] machinery unchanged in the rotated space (orthogonal
    * rotations preserve L2 distances and cosine, so ranking semantics
    * are those of pqTopK with a better-conditioned code budget).
    * `opqIters = 0` is bit-equal to [[pqTopK]].
    */
  def opqTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int = 5,
      subspaces: Int = 4,
      codebook: Int = 16,
      iters: Int = 2,
      opqIters: Int = 3,
      rerank: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val rot = opqFit(emb, idCol, vecCol, subspaces, codebook, iters, opqIters)
    val rLit = typedLit(rot.map(_.toSeq).toSeq).cast("array<array<double>>")
    val rotated = emb
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("v", graft.functions.GraftFunctions.matVec(rLit, col("v")))
    pqTopK(rotated, "id", "v", queryIds, k, subspaces, codebook, iters, rerank)
  }

  /** Total PQ quantization error of the corpus under an optional
    * rotation: Σ over rows and subspaces of the squared distance to the
    * assigned code's centroid — the objective OPQ minimizes, computed
    * with the same codegen kernels as serving. The measurable "was the
    * rotation worth it" number (and the [[opqTopK]] gate's substrate).
    */
  def pqQuantizationError(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      subspaces: Int = 4,
      codebook: Int = 16,
      iters: Int = 2,
      rotation: Option[Array[Array[Double]]] = None): Double = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val base = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val corpus = rotation.fold(base) { r =>
      val rLit = typedLit(r.map(_.toSeq).toSeq).cast("array<array<double>>")
      base.withColumn("v", graft.functions.GraftFunctions.matVec(rLit, col("v")))
    }.cache()
    try {
      val pq = trainPq(trainSample(corpus, TrainSample), subspaces, codebook, iters)
      val subDim = pq.subDim
      val errCol = (0 until subspaces).map { m =>
        val cb = pq.codebooks(m)
        val dense: Seq[Option[Seq[Double]]] =
          (0 to cb.map(_._1).max).map(c => cb.toMap.get(c).map(_.toSeq))
        val denseLit = typedLit(dense).cast("array<array<double>>")
        val sub = slice(col("v"), m * subDim + 1, subDim)
        graft.functions.GraftFunctions.l2sq(
          sub, element_at(denseLit, pqCodeExpr(m, subDim, cb) + 1))
      }.reduce(_ + _)
      corpus.agg(sum(errCol)).head.getDouble(0)
    } finally corpus.unpersist()
  }

  /** One integer nano-unit ADC distance table: dt(m)(cid) =
    * round(1e9 · ||q_m − c_m,cid||²), Long.MaxValue for dropped codes
    * (never referenced — no row encodes to a vanished code). Shared by
    * the exhaustive and IVF-probed ADC scans.
    */
  private[operators] def nanoDistanceTable(
      qv: Seq[Double],
      model: Array[Array[(Int, Seq[Double])]],
      subspaces: Int,
      subDim: Int): Seq[Seq[Long]] =
    (0 until subspaces).map { m =>
      val cb = model(m)
      val arr = Array.fill(cb.map(_._1).max + 1)(Long.MaxValue)
      cb.foreach { case (cid, cv) =>
        var s = 0.0
        var i = 0
        while (i < subDim) { val d = qv(m * subDim + i) - cv(i); s += d * d; i += 1 }
        arr(cid) = math.round(s * 1e9)
      }
      arr.toIndexedSeq
    }

  /** The integer-ADC score column over an `encoded` frame's `codes`
    * array, reading the distance table from a `dt` COLUMN (one row per
    * query from the broadcast query table) — ONE plan branch however
    * many queries are batched, instead of a per-query union arm.
    */
  private[operators] def adcColExpr(subspaces: Int): Column =
    (0 until subspaces).map(m =>
      element_at(element_at(col("dt"), m + 1), element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _)

  /** The query vectors, sorted by id, collected to the driver: the
    * state is O(|queryIds|·dim). A query whose length is not the
    * trained `dim` fails loudly here, before a distance table could
    * silently score a prefix of it or a probe could mis-rank.
    */
  private def queryVectors(
      corpus: DataFrame,
      queryIds: Seq[Long],
      dim: Int): Array[(Long, Seq[Double])] = {
    val qRows = corpus.filter(col("id").isInCollection(queryIds))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    qRows.foreach { case (qid, qv) =>
      require(qv.size == dim, s"query id=$qid has dim ${qv.size}, index expects $dim")
    }
    qRows
  }

  /** Top-k per query of an ADC-scored (query_id, neighbor_id, adc)
    * frame, shared by the exhaustive and IVF-probed scans. `rerank > 0`
    * is the production ADC pattern: the compressed scan only SHORTLISTS
    * (top `rerank` by integer ADC), then the k winners are re-ranked by
    * exact similarity over full vectors, loaded for the
    * |queries|·rerank candidates only (a broadcast-sized join), never
    * for the corpus.
    */
  private def adcTopK(
      scored: DataFrame,
      corpus: DataFrame,
      qRows: Array[(Long, Seq[Double])],
      k: Int,
      rerank: Int): DataFrame = {
    val byAdc = Window.partitionBy("query_id").orderBy(col("adc").asc, col("neighbor_id").asc)
    val shortlisted = scored
      // a null ADC (row with a null code) must not outrank real scores
      // — ascending sort puts nulls FIRST in Spark
      .filter(col("adc").isNotNull)
      .withColumn("rank", row_number().over(byAdc))
      .filter(col("rank") <= math.max(k, rerank))
      .select("query_id", "neighbor_id")
    if (rerank <= 0) shortlisted
    else {
      val bySim = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
      val qMapLit = typedLit(qRows.toMap)
      corpus
        .join(broadcast(shortlisted), col("id") === col("neighbor_id"))
        .withColumn("sim", cosine(element_at(qMapLit, col("query_id")), col("v")))
        .withColumn("rank", row_number().over(bySim))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id")
    }
  }

  /** PQ-compressed exhaustive ANN (asymmetric distance computation):
    * encode every corpus vector as `subspaces` small codes — 4 bytes
    * replacing a 256-byte float vector at the defaults, a 64× index
    * compression — then rank neighbors by the sum of per-subspace
    * query-to-centroid distances looked up by code.
    *
    * Scale design: the `codes` column is the stored index (at 100 TB
    * the compressed index fits where raw vectors cannot — that is the
    * operator's point); encoding and scoring are pure map-side
    * expressions (zero shuffle, plan size O(1) in corpus and codebook),
    * queries are collected driver-side bounded by `queryIds` and ship
    * back as ONE broadcast (qid, distance-table) frame — a single
    * corpus × queries plan branch at any batch size — and the only
    * shuffle is the top-k window per query.
    * Distance tables are rounded to integer nano-units so the ADC sort
    * is exact-integer — deterministic under any summation order and
    * replayable by a relational oracle. Combine with the IVF probe
    * (ivfTopK) for the IVFADC layout when exhaustive code scans are too
    * slow; here the exhaustive scan IS the oracle-checkable contract.
    * Approximate by construction — recall vs bruteForceTopK is the
    * quality gate, measured in AnnSpec and pinned by the recall lane.
    */
  def pqTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int = 5,
      subspaces: Int = 4,
      codebook: Int = 16,
      iters: Int = 2,
      rerank: Int = 0,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val corpus = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")).cache()
    val Pq(dim, subDim, model) = trainPq(trainSample(corpus, TrainSample), subspaces, codebook, iters)
    val qRows = queryVectors(corpus, queryIds, dim)

    val encoded = corpus.withColumn(
      "codes",
      array((0 until subspaces).map(m => pqCodeExpr(m, subDim, model(m))): _*)).cache()

    // one integer nano-unit distance table per query, shipped back as
    // ONE broadcast query table (qid, dt), so the ADC scan is a single
    // corpus × queries plan branch at ANY batch size (a per-query union
    // would grow the plan linearly in |queryIds|). A batch with no id in
    // the corpus is an empty table and gives no rows
    val qTable = {
      import corpus.sparkSession.implicits._
      qRows.toSeq.map { case (qid, qv) =>
        (qid, nanoDistanceTable(qv, model, subspaces, subDim))
      }.toDF("query_id", "dt")
    }
    val scored = encoded
      .crossJoin(broadcast(qTable))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"), adcColExpr(subspaces).as("adc"))
    val result = adcTopK(scored, corpus, qRows, k, rerank)
    val out = result.localCheckpoint(true)
    encoded.unpersist()
    corpus.unpersist()
    out
  }

  /** Driver-side probe selection, ordered exactly like ivfTopK's
    * slice(reverse(array_sort(scored))): cosine similarity descending
    * with Spark's double ordering (NaN above all), ties to the larger
    * cid. The query's dim is the centroids' ([[queryVectors]]).
    */
  private[operators] def probeOrder(
      centroids: Array[(Int, Seq[Double])],
      qv: Seq[Double],
      nProbe: Int): Seq[Int] = {
    def cmpD(a: Double, b: Double): Int =
      if (a == b) 0 else java.lang.Double.compare(a, b)
    centroids.toSeq.map { case (cid, cv) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = cv.size
      while (i < n) { val x = qv(i); val y = cv(i); dot += x * y; na += x * x; nb += y * y; i += 1 }
      (dot / (math.sqrt(na) * math.sqrt(nb)), cid)
    }.sortWith { case ((s1, c1), (s2, c2)) =>
      val c = cmpD(s1, s2)
      c > 0 || (c == 0 && c1 > c2)
    }.take(nProbe).map(_._2)
  }

  /** IVFADC's two models — the coarse quantizer and the product
    * quantizer — trained on ONE training sample, so one collect.
    */
  private[operators] def ivfAdcModels(
      corpus: DataFrame,
      nLists: Int,
      subspaces: Int,
      codebook: Int,
      iters: Int): (Array[(Int, Seq[Double])], Pq) = {
    val xs = trainSample(corpus, TrainSample)
    (ivfCentroids(xs, nLists, iters), trainPq(xs, subspaces, codebook, iters))
  }

  /** IVFADC — the production compressed-index layout (Jégou/Douze/
    * Schmid, TPAMI 2011, §IV): the IVF coarse quantizer partitions the
    * corpus into `nLists` inverted lists AND every vector is
    * PQ-encoded; a query probes only its `nProbe` closest lists and
    * ADC-scores the compressed codes found there — the scan touches
    * `nProbe/nLists` of the corpus and reads codes, not vectors.
    *
    * This is the non-residual variant: codes quantize the RAW vectors
    * with one global codebook set (the paper's residual encoding —
    * codes over `v − centroid` with per-list distance tables — is not
    * implemented). Non-residual keeps an exact
    * equivalence oracle: probing every list makes the candidate set
    * exhaustive, so `nProbe = nLists` must reproduce [[pqTopK]]'s
    * integer-ADC ranking bit-for-bit — which is what lets a relational
    * oracle check the full index machinery (coarse training,
    * assignment, probe, encode, ADC) end to end, while the approximate
    * config carries the standard recall gate.
    *
    * Scale design: everything [[pqTopK]] says, plus the coarse
    * assignment is the native codegen'd graft_cosine_argmax over ONE
    * centroid literal, the per-query probe set is computed driver-side
    * from the (model-sized) centroid array with the same (sim, cid)
    * descending order as [[ivfTopK]]'s probe expression, and the list
    * filter is a scan-level `cid IN (...)` predicate — at 100 TB with
    * the index stored cid-partitioned, that predicate is partition
    * pruning, and the scan reads `nProbe` directories of codes.
    */
  def ivfAdcTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int = 5,
      nLists: Int = 16,
      nProbe: Int = 4,
      subspaces: Int = 4,
      codebook: Int = 16,
      iters: Int = 2,
      rerank: Int = 0,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val corpus = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")).cache()
    val (centroids, Pq(dim, subDim, model)) = ivfAdcModels(corpus, nLists, subspaces, codebook, iters)
    val qRows = queryVectors(corpus, queryIds, dim)

    // the stored index: (id, cid, codes) — at scale THIS is the table
    // that persists (cid-partitioned), raw vectors are only re-read by
    // the optional exact re-rank
    val encoded = assignToCentroids(corpus, centroids)
      .withColumn("codes",
        array((0 until subspaces).map(m => pqCodeExpr(m, subDim, model(m))): _*))
      .select("id", "cid", "codes")
      .cache()

    // ONE broadcast query table (qid, dt, probe set) — single
    // corpus × queries plan branch at any batch size; the probed-list
    // restriction is a per-pair `cid IN probe` predicate on the scan
    val perQuery = qRows.toSeq.map { case (qid, qv) =>
      (qid, nanoDistanceTable(qv, model, subspaces, subDim), probeOrder(centroids, qv, nProbe))
    }
    val qTable = {
      import corpus.sparkSession.implicits._
      perQuery.toDF("query_id", "dt", "probe")
    }
    // scan-level pruning first: the UNION of every query's probed lists
    // as a plain `cid IN (...)` predicate — with a cid-partitioned
    // stored index that is partition pruning, so the scan reads only
    // the probed directories; the per-(row, query) membership check
    // then runs on the surviving fraction
    val allProbed = perQuery.flatMap(_._3).distinct
    val scored = encoded
      .filter(col("cid").isInCollection(allProbed))
      .crossJoin(broadcast(qTable))
      .filter(array_contains(col("probe"), col("cid")) && col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"), adcColExpr(subspaces).as("adc"))
    val result = adcTopK(scored, corpus, qRows, k, rerank)
    val out = result.localCheckpoint(true)
    encoded.unpersist()
    corpus.unpersist()
    out
  }
}
