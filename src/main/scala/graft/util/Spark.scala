package graft.util

import org.apache.spark.sql.{Dataset, SparkSession}

/** Shared Spark-session helpers. */
object Spark {

  /** The session the mains run in: `local[n]` with one shuffle
    * partition per core, UTC session time, no UI and WARN logging, where
    * n is `SPARK_GRAFT_CPUS` or else `defaultCpus`.
    */
  def localSession(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // phase timing to stderr when SPARK_GRAFT_PROFILE is set — dev aid only
  private val profile = sys.env.contains("SPARK_GRAFT_PROFILE")

  /** One-line profile note (sizes, counts) when profiling is enabled. */
  @inline def note(prefix: String, msg: => String): Unit =
    if (profile) System.err.println(s"[$prefix] $msg")

  /** Time `body` under `[prefix] label` when profiling is enabled. */
  @inline def timed[A](prefix: String, label: String)(body: => A): A =
    if (!profile) body
    else {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(f"[$prefix] $label%-24s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

  /** Break lineage: reliable checkpoint when a checkpoint dir is
    * configured (an executor loss must not kill a long lineage on a real
    * cluster), eager localCheckpoint otherwise.
    */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint(true)
    else ds.localCheckpoint(true)

  /** A [[checkpoint]] of `ds` and its row count. Without a checkpoint
    * dir this is one job: the count over a lazy local checkpoint
    * materializes it, so a caller can pick a driver or Dataset path by
    * size at the cost of the checkpoint alone.
    */
  def checkpointCounted[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val ck =
      if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint(true)
      else ds.localCheckpoint(false)
    (ck, rowCount(ck))
  }

  /** Row count in one job with no shuffle: `Dataset.count` aggregates
    * through an exchange, which adaptive execution runs as two jobs.
    * Rows are counted in their internal form, never deserialized.
    */
  def rowCount(ds: Dataset[_]): Long = ds.queryExecution.toRdd.count()

  /** Release the block storage behind a [[checkpoint]]ed dataset NOW.
    * `Dataset.unpersist` only drops plan-level caches, so a finished
    * intermediate checkpoint otherwise holds its blocks until the RDD
    * reference is GC'd and the ContextCleaner gets to it — across a
    * long session those orphans pile into storage memory and tax every
    * later job's eviction/GC. Callers release exactly the intermediates
    * THEY created once their consumers have materialized.
    */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
}
