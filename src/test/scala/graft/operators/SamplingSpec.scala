package graft.operators

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

class SamplingSpec extends AnyFunSuite with SparkSpec {

  test("stratified sampling is deterministic, honors per-stratum rates, prunes columns") {
    import spark.implicits._
    val docs = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "de", s"text $i"))
      .toDF("doc_id", "lang", "text")
    val sample = Sampling.stratified(docs, "lang", "doc_id",
      Map("en" -> 0.1), defaultFraction = 0.8)
    val rows = sample.select("doc_id", "lang").collect().map(r => (r.getLong(0), r.getString(1)))
    val byLang = rows.groupBy(_._2).view.mapValues(_.length).toMap
    // 1000 docs per stratum; hash-bucket rates land within a few percent
    assert(byLang("en") > 50 && byLang("en") < 150, s"en=${byLang("en")}")
    assert(byLang("de") > 700 && byLang("de") < 900, s"de=${byLang("de")}")
    // deterministic: the same call yields the identical sample
    val again = Sampling.stratified(docs, "lang", "doc_id",
      Map("en" -> 0.1), defaultFraction = 0.8)
      .select("doc_id", "lang").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSet == again.toSet)
  }

  test("fixed-size sampling keeps exactly min(k, stratum size), nested across k") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, if (i < 98) "en" else "de", s"text $i"))
      .toDF("doc_id", "lang", "text")
    def kept(k: Int): Map[String, Set[Long]] = Sampling
      .fixedSizePerStratum(docs, "lang", "doc_id", k)
      .select("doc_id", "lang").collect()
      .map(r => (r.getString(1), r.getLong(0))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val k10 = kept(10)
    assert(k10("en").size == 10)
    assert(k10("de").size == 2) // stratum smaller than k -> whole stratum
    // nested: smaller k is always a prefix of the same hash ordering
    val k5 = kept(5)
    assert(k5("en").subsetOf(k10("en")))
    // ranks are contiguous from 1
    val ranks = Sampling.fixedSizePerStratum(docs, "lang", "doc_id", 10)
      .where($"lang" === "en").select("sample_rank").as[Int].collect().sorted
    assert(ranks.toSeq == (1 to 10))
  }

  test("fraction bounds: 0 keeps nothing, 1 keeps everything") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, "en")).toDF("doc_id", "lang")
    assert(Sampling.stratified(docs, "lang", "doc_id", Map("en" -> 0.0)).count() == 0)
    assert(Sampling.stratified(docs, "lang", "doc_id", Map("en" -> 1.0)).count() == 100)
  }

  test("named splits draw independent samples") {
    import spark.implicits._
    val docs = (0L until 1000L).map(i => (i, "x")).toDF("doc_id", "lang")
    val a = Sampling.deterministic(docs, "doc_id", 0.5, "train").collect().map(_.getLong(0)).toSet
    val b = Sampling.deterministic(docs, "doc_id", 0.5, "valid").collect().map(_.getLong(0)).toSet
    assert(a != b)
    // ~25% expected overlap for independent halves
    val overlap = (a & b).size
    assert(overlap > 150 && overlap < 350, s"overlap=$overlap")
  }
}
