package graft.operators

import graft.SparkSpec
import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver Lloyd trainer: one Spark job per model (the sample
  * collect), a model that only the first `n` vectors by id decide, and,
  * for a corpus within the sample, exactly the model the full-corpus
  * Spark loop trained before it.
  */
class AnnTrainerSpec extends AnyFunSuite with SparkSpec {

  private lazy val corpus: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))

  // the corpus frame is built first: reading the parquet footer is a job
  private def jobs[A](body: => A): Seq[String] = { corpus; jobsDuring(body)._2 }

  private def sameModel(a: Array[(Int, Seq[Double])], b: Array[(Int, Seq[Double])]): Boolean =
    a.map { case (c, v) => (c, v.toList) }.toList == b.map { case (c, v) => (c, v.toList) }.toList

  // ---- the full-corpus Spark loops the trainer replaced, as reference --

  /** Per-cid nano-integer means of `vCol` over an assigned frame. */
  private def sparkMeans(assigned: DataFrame, keys: Seq[String], vCol: String, dim: Int) = {
    val sums = (0 until dim).map(i =>
      sum(round(col(vCol).getItem(i) * 1e9).cast("decimal(20,0)")).as(s"d$i"))
    val aggs = sums :+ count(lit(1)).as("cnt")
    assigned.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*).collect().map { r =>
      val cnt = r.getLong(keys.size + dim)
      (keys.indices.map(r.getInt), (0 until dim).map(i =>
        r.getDecimal(keys.size + i).toBigInteger.doubleValue / cnt / 1e9): Seq[Double])
    }
  }

  private def setLit(cents: Array[(Int, Seq[Double])]) =
    typedLit(cents.toSeq).cast("array<struct<cid:int,cv:array<double>>>")

  private def sparkIvf(df: DataFrame, k: Int, iters: Int): Array[(Int, Seq[Double])] = {
    GraftFunctions.register(spark)
    var cents = df.orderBy("id").limit(k).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }
    (1 to iters).foreach { _ =>
      val assigned = df.withColumn("cid", GraftFunctions.cosineArgmax(col("v"), setLit(cents)))
        .filter(col("cid").isNotNull)
      val means = sparkMeans(assigned, Seq("cid"), "v", cents.head._2.size)
        .map { case (ks, cv) => (ks.head, cv) }
      if (means.nonEmpty) cents = means
    }
    cents.sortBy(_._1)
  }

  private def sparkPq(df: DataFrame, subDim: Int, subspaces: Int, codebook: Int, iters: Int) = {
    GraftFunctions.register(spark)
    val init = df.orderBy("id").limit(codebook).collect()
    var cbs = Array.tabulate(subspaces)(m => init.zipWithIndex.map { case (r, i) =>
      (i, r.getSeq[Double](1).slice(m * subDim, (m + 1) * subDim))
    })
    (1 to iters).foreach { _ =>
      val coded = df.select(explode(array((0 until subspaces).map(m =>
        struct(
          lit(m).as("m"),
          GraftFunctions.pqAssign(slice(col("v"), m * subDim + 1, subDim), setLit(cbs(m))).as("code"),
          slice(col("v"), m * subDim + 1, subDim).as("sv"))): _*)).as("x"))
        .select(col("x.m").as("m"), col("x.code").as("code"), col("x.sv").as("sv"))
        .filter(col("code").isNotNull)
      val means = sparkMeans(coded, Seq("m", "code"), "sv", subDim)
      cbs = Array.tabulate(subspaces)(m =>
        means.collect { case (ks, cv) if ks.head == m => (ks(1), cv) }.sortBy(_._1))
    }
    cbs
  }

  // ---- job budgets -----------------------------------------------------

  test("IVF training runs exactly 1 Spark job") {
    val sites = jobs(Ann.ivfCentroids(Ann.trainSample(corpus, Ann.TrainSample), 16, 2))
    assert(sites.size == 1, s"IVF training ran ${sites.size} jobs: $sites")
  }

  test("PQ training runs exactly 1 Spark job") {
    val sites = jobs(Ann.trainPq(Ann.trainSample(corpus, Ann.TrainSample), 4, 16, 2))
    assert(sites.size == 1, s"PQ training ran ${sites.size} jobs: $sites")
  }

  test("ivfAdcTopK's two models together run exactly 1 Spark job") {
    val sites = jobs(Ann.ivfAdcModels(corpus, nLists = 16, subspaces = 8, codebook = 16, iters = 2))
    assert(sites.size == 1, s"IVFADC training ran ${sites.size} jobs: $sites")
  }

  // ---- the sample bound ------------------------------------------------

  test("vectors past the sample, by id, do not change the model") {
    val n = 60
    val head = corpus.orderBy("id").limit(n)
    // the same first n vectors with a different tail: the corpus's own
    // tail, and that tail with every vector negated
    val flipped = head.union(corpus.orderBy("id").offset(n)
      .select(col("id"), transform(col("v"), x => -x).as("v")))
    val fromHead = Ann.trainSample(head, n)
    for (tail <- Seq(corpus, flipped)) {
      val xs = Ann.trainSample(tail, n)
      assert(sameModel(Ann.ivfCentroids(xs, 8, 2), Ann.ivfCentroids(fromHead, 8, 2)))
      val pq = Ann.trainPq(xs, 4, 8, 2).codebooks
      val pqHead = Ann.trainPq(fromHead, 4, 8, 2).codebooks
      assert(pq.indices.forall(m => sameModel(pq(m), pqHead(m))))
    }
    // ... while the full corpus itself, trained whole, gives another one
    assert(!sameModel(Ann.ivfCentroids(Ann.trainSample(corpus, Ann.TrainSample), 8, 2),
      Ann.ivfCentroids(fromHead, 8, 2)))
  }

  test("a corpus within the sample trains the full-corpus Spark loop's model, bit for bit") {
    val n = 120
    val small = corpus.orderBy("id").limit(n).cache()
    try {
      for ((df, bound) <- Seq(small -> n, corpus -> Ann.TrainSample)) {
        val xs = Ann.trainSample(df, bound)
        assert(sameModel(Ann.ivfCentroids(xs, 16, 2), sparkIvf(df, 16, 2)),
          s"IVF model differs at bound $bound")
        val pq = Ann.trainPq(xs, 4, 16, 2)
        val ref = sparkPq(df, pq.subDim, 4, 16, 2)
        assert(pq.codebooks.indices.forall(m => sameModel(pq.codebooks(m), ref(m))),
          s"PQ model differs at bound $bound")
      }
    } finally small.unpersist()
  }
}
