package graft.queries

import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** The one memo store behind the registered lanes. The lanes model a
  * real session — derive a forest, schema, pair list or trained model
  * once, consume it many times — so each derived value is kept here
  * under a key naming what it is and what it was derived from.
  *
  * One store is what lets [[reset]] drop every memo: a benchmark
  * measuring the same lane twice in one JVM must reset at the pass
  * boundary, or a later pass times a memo read instead of the operator
  * (extract lanes read 0.08 s against a 28 s calm band when a hand-kept
  * reset list missed one memo).
  */
object Memo {

  private val store = TrieMap.empty[Any, Any]

  /** The value memoized under `key`, built on first use. A key names
    * one kind of value, so the cast back cannot fail.
    */
  def apply[A](key: Any)(build: => A): A =
    store.getOrElseUpdate(key, build).asInstanceOf[A]

  /** Drop every memo, and every table cached in the session. */
  def reset(spark: SparkSession): Unit = {
    store.clear()
    spark.catalog.clearCache()
  }

  private[queries] def size: Int = store.size
}
