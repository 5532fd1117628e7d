package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * never pairs corpus rows with each other — cost O(|queries|·N), the
  * correct baseline and the oracle-checkable one. The IVF path clusters
  * the corpus once (k-means over sampled centroids) and probes only the
  * closest `nProbe` partitions per query — the 100 TB path.
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
  private def asDouble(c: Column): Column = c.cast("array<double>")

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

  /** How many centroids the IVF assignment/probe may express as ONE
    * unrolled Catalyst expression before switching to the
    * single-literal `array_max(transform(…))` formulation. The unrolled
    * argmax is codegen'd, but its plan grows linearly with `nLists`:
    * past a few hundred it blows codegen's 64KB method limit (falling
    * back to interpreted) and eventually planning itself.
    */
  private[operators] val MaxUnrolledLists = 64

  /** The centroid set as ONE literal column: array<struct<cid,cv>> in a
    * single `typedLit` — a constant-size plan node carrying the data,
    * not an O(nLists) expression tree.
    */
  private def centroidsLit(cents: Array[(Int, Seq[Double])]): Column =
    typedLit(cents.toSeq).cast("array<struct<cid:int,cv:array<double>>>")

  /** (id, v, cid): closest centroid per corpus vector (columns `id`,
    * `v`). Unrolled: one codegen'd greatest() argmax, plan size
    * O(nLists). Large path: the native graft_cosine_argmax expression
    * (functions/ArgmaxCosine.scala) over the centroid set embedded as a
    * single literal — plan size O(1) in nLists AND fully codegen'd; the
    * previous `array_max(transform(centroidsLit, …))` formulation was
    * CodegenFallback at the `transform` layer, paying interpreted
    * lambda dispatch per row × centroid in the corpus-wide assignment
    * scan (THE 100 TB stage of the index). Same sequential cosine fold
    * and the same (s, cid) larger-cid tie-break as greatest(), so the
    * two paths stay bit-identical (pinned by the equivalence spec).
    * Both paths are per-row map-side expressions: zero shuffle, no join,
    * no row-identity key, deterministic under task retry, and a corpus
    * with duplicate ids keeps every row with identical multiplicity.
    * Package-private so PlanGuardrailSpec can pin the large path's
    * physical shape directly (the public API checkpoints its result,
    * hiding the plan).
    */
  private[operators] def assignToCentroids(
      corpus: DataFrame,
      cents: Array[(Int, Seq[Double])],
      unrolled: Boolean): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    if (cents.length == 1)
      // degenerate but legal (k=1 = "one global cluster"): greatest()
      // needs two arguments, and no argmax is needed anyway
      corpus.withColumn("cid", lit(cents.head._1))
    else if (unrolled) {
      // argmax over centroid dot products, unrolled per centroid. A
      // null cosine (dim-mismatched row) sorts below every score, so the
      // winner's score is null only when no centroid qualifies: that row
      // gets a null cid, as on the literal path. Two projections, so the
      // argmax is planned once
      val scored = cents.map { case (cid, vec) =>
        val cArr = array(vec.map(lit): _*)
        struct(cosine(col("v"), cArr).as("s"), lit(cid).as("cid"))
      }
      corpus.withColumn("cid", greatest(scored.toIndexedSeq: _*))
        .withColumn("cid", when(col("cid.s").isNotNull, col("cid.cid")))
    } else
      corpus.withColumn(
        "cid",
        graft.functions.GraftFunctions.cosineArgmax(col("v"), centroidsLit(cents)))
  }

  /** Deterministic Lloyd iteration over an (`id`, `v`) corpus: init =
    * the first `k` vectors by id (driver collect bounded by k·dim — the
    * k-means model, not the data), then `iters` assign/recompute-mean
    * rounds. A cluster that loses all members drops out (its cid simply
    * stops appearing), matching the per-cid mean recomputation. Shared
    * by the IVF index and semantic dedup so both train the identical
    * model for identical inputs.
    */
  private[operators] def lloydCentroids(
      corpus: DataFrame,
      k: Int,
      iters: Int,
      unrolled: Boolean): Array[(Int, Seq[Double])] = {
    var centroids: Array[(Int, Seq[Double])] = corpus
      .orderBy("id").limit(k).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }
    (1 to iters).foreach { _ =>
      // a row the argmax disqualifies entirely (dim-mismatched vector
      // against every centroid) carries cid = null — exclude it from
      // the means instead of crashing the model collect
      val assigned = assignToCentroids(corpus, centroids, unrolled)
        .filter(col("cid").isNotNull)
      // ORDER-INDEPENDENT integer means ([[nanoMeans]]): float avg
      // exposed Spark's partial-agg summation order, a latent
      // flaky-oracle risk for every SQL replay of this model
      val means = nanoMeans(assigned, centroids.head._2.size)
      if (means.nonEmpty) centroids = means
    }
    centroids
  }

  /** The shared order-independent integer centroid means: nano-quantized
    * coordinate sums as longs, then the one fixed double expression
    * sumNanos/count/1e9 — partial-aggregation order cannot shift the
    * mean by an ulp, so every SQL replay of a Lloyd model is exact.
    * Returns means in collect order (assignment and probing are
    * order-independent).
    */
  private[operators] def nanoMeans(
      assigned: DataFrame,
      dim: Int): Array[(Int, Seq[Double])] = {
    // TIERED sums: each member coordinate quantizes to a nano-unit
    // integer as before, but the accumulator is decimal(20,0) → Spark
    // sums it exactly in 128-bit (decimal(30,0)), so the ~1e9-members-
    // per-cluster bound of a raw long sum is gone (capacity ~1e21
    // members at unit scale). The value is bit-identical where a long
    // would not overflow — both are exact integers and both convert to
    // double by correct rounding — so every SQL replay (DuckDB sums to
    // HUGEINT, also exact) is unchanged.
    val sumCols = (0 until dim).map(i =>
      sum(round(col("v").getItem(i) * 1e9).cast("decimal(20,0)")).as(s"d$i"))
    val aggCols = sumCols :+ count(lit(1)).as("cnt")
    assigned
      .groupBy("cid")
      .agg(aggCols.head, aggCols.tail: _*)
      .collect()
      .map { r =>
        val cnt = r.getLong(dim + 1)
        (r.getInt(0), (0 until dim).map(i =>
          r.getDecimal(i + 1).toBigInteger.doubleValue / cnt / 1e9): Seq[Double])
      }
  }

  /** IVF index: assign every vector to its closest of `nLists` centroids
    * (k-means initialized from the lexicographically-first ids, `iters`
    * Lloyd rounds); queries probe the `nProbe` closest lists only.
    * Approximate — recall measured against bruteForceTopK in tests.
    *
    * Scale: at the `nLists` a 100 TB corpus needs (10³–10⁵) the argmax
    * runs as `array_max(transform(…))` over the centroid set embedded in
    * ONE literal — plan size O(1) in `nLists`, still a pure per-row
    * map-side expression: no join, no shuffle, nothing non-deterministic
    * under task retry. Small `nLists` keeps the unrolled
    * whole-stage-codegen expression. Both paths are exact argmax with
    * the same (sim, cid) tie-break, so the output is bit-identical
    * either way.
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
  ): DataFrame =
    ivfTopK(emb, idCol, vecCol, queryIds, k, nLists, nProbe, iters,
      unrolled = nLists <= MaxUnrolledLists)

  /** [[ivfTopK]] with the argmax formulation picked by the caller, so a
    * spec can run both at the same `nLists`.
    */
  private[operators] def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      nLists: Int,
      nProbe: Int,
      iters: Int,
      unrolled: Boolean,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val corpus = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")).cache()
    val centroids = lloydCentroids(corpus, nLists, iters, unrolled)
    val assigned = assignToCentroids(corpus, centroids, unrolled).cache()
    val queries = assigned
      .filter(col("id").isInCollection(queryIds))
      .select(col("id").as("query_id"), col("v").as("va"))

    // probe lists: nProbe closest centroids per query, descending by
    // (similarity, cid). Same sort/slice in both formulations; only the
    // scored-centroid array's construction differs (unrolled structs vs
    // transform over the single centroid literal).
    val scoredCentroids =
      if (unrolled)
        array(centroids.toIndexedSeq.map { case (cid, vec) =>
          struct(cosine(col("va"), array(vec.map(lit): _*)).as("s"), lit(cid).as("cid"))
        }: _*)
      else
        transform(
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
    * codebook size — a pure map-side expression, zero shuffle.
    *
    * The argmin itself is the native codegen'd graft_pq_assign
    * expression (functions/PqAssignCode.scala) — the previous
    * `array_max(transform(cbLit, c -> struct(-l2sq(sub, cv), cid)))`
    * formulation was CodegenFallback at the `transform` layer, paying
    * interpreted lambda dispatch per row × centroid in the corpus-wide
    * encode scan. Output is identical (same sequential-sum distances,
    * same larger-cid tie-break), so the PQ oracles replay unchanged.
    */
  private[operators] def pqCodeExpr(
      m: Int,
      subDim: Int,
      cb: Array[(Int, Seq[Double])]): Column = {
    val cbLit = typedLit(cb.toSeq).cast("array<struct<cid:int,cv:array<double>>>")
    val sub = slice(col("v"), m * subDim + 1, subDim)
    graft.functions.GraftFunctions.pqAssign(sub, cbLit)
  }

  /** Deterministic per-subspace Lloyd training of the PQ codebooks
    * (Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011 — public): split each vector into `subspaces`
    * contiguous sub-vectors and k-means each subspace independently.
    * Init mirrors [[lloydCentroids]]: the first `codebook` vectors by
    * id, sliced. ALL subspaces train in the same Spark jobs — each
    * iteration is one map-side code assignment plus ONE shuffle
    * (`groupBy (m, code)` with partial aggregation), not a shuffle per
    * subspace. Driver state is the model only: subspaces × codebook ×
    * subDim doubles. A code that loses all members drops out, exactly
    * like the IVF centroid behavior.
    */
  private[operators] def pqTrain(
      corpus: DataFrame,
      subDim: Int,
      subspaces: Int,
      codebook: Int,
      iters: Int): Array[Array[(Int, Seq[Double])]] = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val initRows = corpus.orderBy("id").limit(codebook).collect()
    var codebooks: Array[Array[(Int, Seq[Double])]] = (0 until subspaces).map { m =>
      initRows.zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Double](1).slice(m * subDim, (m + 1) * subDim))
      }.toArray
    }.toArray
    (1 to iters).foreach { _ =>
      val coded = corpus.select(explode(array((0 until subspaces).map(m =>
        struct(
          lit(m).as("m"),
          pqCodeExpr(m, subDim, codebooks(m)).as("code"),
          slice(col("v"), m * subDim + 1, subDim).as("sv"))): _*)).as("x"))
        .select(col("x.m").as("m"), col("x.code").as("code"), col("x.sv").as("sv"))
        // null code = the argmin disqualified every entry (degenerate
        // sub-vector) — exclude from the means, don't crash the collect
        .filter(col("code").isNotNull)
      // centroid means via ORDER-INDEPENDENT integer sums: each member
      // coordinate quantizes to nano-units (round(x·1e9) as an exact
      // integer) before the sum, so Spark's partial aggregation order
      // cannot shift the mean by an ulp — float avg here was a latent
      // flaky-oracle risk (a last-ulp centroid drift can flip the
      // 1e9-rounded ADC integer near a .5 boundary, and partial-agg
      // order varies run to run). The mean is then the one fixed
      // expression sumNanos/count/1e9 replayed verbatim by the DuckDB
      // oracle. The accumulator is decimal(20,0) — an exact 128-bit sum
      // like DuckDB's HUGEINT, bit-identical to the former long sum
      // wherever that didn't overflow, without its ~1e9-members-per-
      // cluster capacity bound.
      val sumCols = (0 until subDim).map(i =>
        sum(round(col("sv").getItem(i) * 1e9).cast("decimal(20,0)")).as(s"d$i"))
      val aggCols = sumCols :+ count(lit(1)).as("cnt")
      val means = coded.groupBy("m", "code").agg(aggCols.head, aggCols.tail: _*).collect()
      val next = Array.fill(subspaces)(
        scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Double])])
      means.foreach { r =>
        val cnt = r.getLong(subDim + 2)
        next(r.getInt(0)) += ((r.getInt(1),
          (0 until subDim).map(i =>
            r.getDecimal(i + 2).toBigInteger.doubleValue / cnt / 1e9)))
      }
      codebooks = next.map(_.sortBy(_._1).toArray)
    }
    codebooks
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
    * The rotation is a dim×dim MODEL, so it fits on a deterministic
    * bounded sample (first `sampleN` vectors by id — the paper's
    * training-subset protocol): driver state is O(sample·dim + dim²),
    * bounded by parameters, never by the corpus; the sample's Lloyd
    * replicates [[pqTrain]]'s exact deterministic protocol (first-k
    * init, L2 argmin with larger-cid ties, integer-nano means) one
    * level down. Corpus-wide work — applying R and training the final
    * codebooks — stays distributed ([[graft.functions.MatVec]] is a
    * codegen'd map-side kernel; [[pqTrain]] unchanged). The SVD is
    * LAPACK via breeze (on Spark's own classpath), deterministic for
    * identical input bits. `opqIters = 0` returns the identity, which
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
      opqIters: Int = 3,
      sampleN: Int = 2048): Array[Array[Double]] = {
    val corpus = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val dim = corpus.select(size(col("v"))).head.getInt(0)
    require(dim % subspaces == 0, s"dim $dim not divisible into $subspaces subspaces")
    val subDim = dim / subspaces
    val identity = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    if (opqIters <= 0) return identity

    val X: Array[Array[Double]] = corpus.orderBy("id").limit(sampleN)
      .collect().map(_.getSeq[Double](1).toArray)
    require(X.nonEmpty, "cannot fit an OPQ rotation on an empty corpus")

    // deterministic local PQ trainer over the (rotated) sample —
    // pqTrain's exact protocol, driver-side
    def trainLocal(xs: Array[Array[Double]]): Array[Array[(Int, Array[Double])]] =
      (0 until subspaces).map { m =>
        val slices = xs.map(_.slice(m * subDim, (m + 1) * subDim))
        var cb: Array[(Int, Array[Double])] =
          slices.take(codebook).zipWithIndex.map { case (s, i) => (i, s.clone()) }
        (1 to iters).foreach { _ =>
          def code(s: Array[Double]): Int = {
            var best = -1; var bestD = Double.PositiveInfinity
            cb.foreach { case (cid, cv) =>
              var d = 0.0; var i = 0
              while (i < subDim) { val t = s(i) - cv(i); d += t * t; i += 1 }
              if (d < bestD || (d == bestD && cid > best)) { best = cid; bestD = d }
            }
            best
          }
          val sums = scala.collection.mutable.Map.empty[Int, (Array[Long], Long)]
          slices.foreach { s =>
            val c = code(s)
            val (acc, _) = sums.getOrElseUpdate(c, (new Array[Long](subDim), 0L))
            var i = 0
            while (i < subDim) { acc(i) += math.round(s(i) * 1e9); i += 1 }
            sums(c) = (acc, sums(c)._2 + 1)
          }
          cb = sums.toArray.sortBy(_._1).map { case (cid, (acc, cnt)) =>
            (cid, acc.map(_.toDouble / cnt / 1e9))
          }
        }
        cb
      }.toArray

    var rot = identity
    (1 to opqIters).foreach { _ =>
      val xr = X.map { v =>
        Array.tabulate(dim) { i =>
          var s = 0.0; var j = 0
          while (j < dim) { s += rot(i)(j) * v(j); j += 1 }
          s
        }
      }
      val cbs = trainLocal(xr)
      // X̂ = reconstruction of the rotated sample from its codes
      val xh = xr.map { v =>
        val out = new Array[Double](dim)
        (0 until subspaces).foreach { m =>
          val s = v.slice(m * subDim, (m + 1) * subDim)
          var best = -1; var bestD = Double.PositiveInfinity; var bestCv: Array[Double] = null
          cbs(m).foreach { case (cid, cv) =>
            var d = 0.0; var i = 0
            while (i < subDim) { val t = s(i) - cv(i); d += t * t; i += 1 }
            if (d < bestD || (d == bestD && cid > best)) { best = cid; bestD = d; bestCv = cv }
          }
          System.arraycopy(bestCv, 0, out, m * subDim, subDim)
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
      sampleN: Int = 2048,
      rerank: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val rot = opqFit(emb, idCol, vecCol, subspaces, codebook, iters, opqIters, sampleN)
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
      val dim = corpus.select(size(col("v"))).head.getInt(0)
      require(dim % subspaces == 0, s"dim $dim not divisible into $subspaces subspaces")
      val subDim = dim / subspaces
      val model = pqTrain(corpus, subDim, subspaces, codebook, iters)
      val errCol = (0 until subspaces).map { m =>
        val cb = model(m)
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
    val dim = corpus.select(size(col("v"))).head.getInt(0)
    require(dim % subspaces == 0, s"dim $dim not divisible into $subspaces subspaces")
    val subDim = dim / subspaces
    val qRows = queryVectors(corpus, queryIds, dim)
    val model = pqTrain(corpus, subDim, subspaces, codebook, iters)

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
    val dim = corpus.select(size(col("v"))).head.getInt(0)
    require(dim % subspaces == 0, s"dim $dim not divisible into $subspaces subspaces")
    val subDim = dim / subspaces
    val unrolled = nLists <= MaxUnrolledLists
    val qRows = queryVectors(corpus, queryIds, dim)

    val centroids = lloydCentroids(corpus, nLists, iters, unrolled)
    val model = pqTrain(corpus, subDim, subspaces, codebook, iters)
    // the stored index: (id, cid, codes) — at scale THIS is the table
    // that persists (cid-partitioned), raw vectors are only re-read by
    // the optional exact re-rank
    val encoded = assignToCentroids(corpus, centroids, unrolled)
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
