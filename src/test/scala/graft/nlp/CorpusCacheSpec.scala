package graft.nlp

import graft.SparkSpec
import graft.core.ArchiTree
import graft.model.{Forest, TreeRow}
import org.scalatest.funsuite.AnyFunSuite

class CorpusCacheSpec extends AnyFunSuite with SparkSpec {

  test("cache key is deterministic and settings-sensitive") {
    val k1 = CorpusCache.cacheKey("corpus.tar.gz:123:456", Map("parser" -> "x", "lang" -> "en"))
    val k2 = CorpusCache.cacheKey("corpus.tar.gz:123:456", Map("lang" -> "en", "parser" -> "x"))
    val k3 = CorpusCache.cacheKey("corpus.tar.gz:123:456", Map("lang" -> "fr", "parser" -> "x"))
    assert(k1 == k2) // order-insensitive
    assert(k1 != k3) // settings-sensitive
    assert(k1.matches("[0-9a-f]{32}"))
  }

  test("getOrParse parses once, then serves the cached parquet") {
    val dir = java.nio.file.Files.createTempDirectory("corpus-cache").toString
    val tree = ArchiTree.fromString("(ROOT (ENT::word hello))")
    var parses = 0
    def parse(): org.apache.spark.sql.Dataset[TreeRow] = {
      parses += 1
      Forest.fromTrees(spark, Seq(tree))
    }
    val key = CorpusCache.cacheKey("test", Map.empty)
    val first = CorpusCache.getOrParse(spark, dir, key)(parse()).collect()
    val second = CorpusCache.getOrParse(spark, dir, key)(parse()).collect()
    assert(parses == 1) // second call never invoked the parser
    assert(first.map(_.tree).toSeq == second.map(_.tree).toSeq)
    assert(first.head.tree == tree)
  }
}
