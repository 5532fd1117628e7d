package graft.util

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD

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

  /** Break lineage: reliable checkpoint when a checkpoint dir is
    * configured (an executor loss must not kill a long lineage on a real
    * cluster), a localCheckpoint otherwise, lazy unless `eager`.
    */
  def checkpoint[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint(true)
    else ds.localCheckpoint(eager)

  /** A stage's input as [[placed]] gives it. */
  sealed trait Placed[T]
  final case class OnDriver[T](rows: Array[T]) extends Placed[T]

  /** `release` frees `ds` if [[placed]] made it (`owned`), never a caller's checkpoint. */
  final case class InSpark[T](ds: Dataset[T], count: Long, owned: Boolean) extends Placed[T] {
    def release(): Unit = if (owned) Spark.release(ds)
  }

  /** The driver-or-Dataset decision of the forest and node-set stages:
    * at most `localMax` rows come to the driver, more stay a Dataset that
    * can be read more than once. The decision reads the optimized plan,
    * where a filter or projection of a local relation is folded into a
    * local relation. A local relation is collected with no job
    * (checkpointed above the bound, so a bound of 0 still reaches the
    * Dataset path); a checkpoint is counted, then collected or read in
    * place; anything else is checkpointed and counted in one job.
    */
  def placed[T](ds: Dataset[T], localMax: Long): Placed[T] = ds.queryExecution.optimizedPlan match {
    case lr: LocalRelation =>
      if (lr.data.size <= localMax) OnDriver(ds.collect())
      else InSpark(checkpoint(ds), lr.data.size.toLong, owned = true)
    case plan =>
      val (in, owned) = plan match {
        case _: LogicalRDD => (ds, false)
        case _ => (checkpoint(ds, eager = false), true)
      }
      val spread = InSpark(in, rowCount(in), owned)
      if (spread.count > localMax) spread
      else try OnDriver(in.collect()) finally spread.release()
  }

  /** Row count in one job with no shuffle: `Dataset.count` aggregates
    * through an exchange, which adaptive execution runs as two jobs.
    * Rows are counted in their internal form, never deserialized.
    */
  private def rowCount(ds: Dataset[_]): Long = ds.queryExecution.toRdd.count()

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
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
}
