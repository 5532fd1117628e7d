package graft.nlp

import graft.model.TreeRow
import org.apache.spark.sql.{Dataset, SparkSession}

/** Content-keyed corpus cache (reference architxt/nlp/__init__.py:45-76,
  * 168-178: MD5 of archive + settings keys a ZODB cache of parsed
  * forests). Spark re-expression: the cache is a parquet directory keyed
  * by the same hash — idempotent to re-runs, shared across sessions.
  * Concurrent writers each stage into a private temp directory and
  * commit with an atomic filesystem rename: the first rename wins, a
  * loser discards its staging copy and reads the winner's.
  */
object CorpusCache {

  /** Deterministic cache key for (corpus content identity, pipeline
    * settings). Callers pass a stable content fingerprint (file path +
    * size + mtime, or a content digest) plus whatever settings change
    * the parse output.
    */
  def cacheKey(contentId: String, settings: Map[String, String]): String = {
    // length-prefix every component so the encoding is injective — a
    // plain `k=v;...` join would collide for values containing the
    // separators (e.g. {"a": "1;b=2"} vs {"a": "1", "b": "2"})
    val parts = contentId +: settings.toSeq.sorted.flatMap { case (k, v) => Seq(k, v) }
    val canonical = parts.map(p => s"${p.length}:$p").mkString("|")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(canonical.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** Load the forest for `key` from the cache, or compute + cache it.
    * The parse runs only on a cache miss; the cached parquet is the
    * durable artifact (same role as the reference's bucket cache).
    */
  def getOrParse(
      spark: SparkSession,
      cacheDir: String,
      key: String,
  )(parse: => Dataset[TreeRow]): Dataset[TreeRow] = {
    import org.apache.hadoop.fs.Path
    val target = new Path(s"$cacheDir/$key")
    // Path(...).getFileSystem accepts raw local paths (spaces included),
    // unlike FileSystem.get(new URI(...))
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // directory existence IS the commit marker (the rename below is
    // atomic) — do not rely on _SUCCESS, which cloud committers may be
    // configured not to write
    if (!fs.exists(target)) {
      val staging = new Path(s"$cacheDir/.tmp-$key-${java.util.UUID.randomUUID()}")
      parse.write.mode("overwrite").parquet(staging.toString)
      // first committer wins; a concurrent loser cleans up its staging
      // copy and reads the winner's directory
      if (!fs.rename(staging, target)) fs.delete(staging, true)
      else {
        // posix-style filesystems rename onto an EXISTING directory by
        // moving the source INSIDE it — a loser's "successful" rename
        // nests its staging copy in the winner's directory. The dot
        // prefix keeps parquet readers from seeing it; still remove it.
        val nested = new Path(target, staging.getName)
        if (fs.exists(nested)) fs.delete(nested, true)
      }
    }
    graft.model.Forest.readParquet(spark, target.toString)
  }
}
