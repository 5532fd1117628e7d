package graft.model

import graft.util.Spark
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The operations the rewrite loop, the clusterer's fit and the metrics
  * snapshot run over a forest: map every tree, and run a function per
  * partition and collect what it returns. `materialize` marks rows that
  * later steps read more than once. [[Trees.of]] picks one of two
  * instances by size:
  *
  *   - the Dataset instance: `map` is a lazy row map, `collectPartitions`
  *     one Spark job, and `materialize` a checkpoint that releases the one
  *     it supersedes;
  *   - the driver instance holds a small forest as a driver `Vector`, cut
  *     into `defaultParallelism` chunks that run on the global execution
  *     context: no Spark job, no encoder, no tree (de)serialization. Its
  *     `toDataset` is a local relation, which the next stage reads with
  *     no Spark job either.
  *
  * Both see the rows in the forest's order, so a computation whose
  * result does not depend on where the partition boundaries fall gives
  * the same answer on both.
  */
private[graft] sealed trait Trees {
  val spark: SparkSession

  /** `f` applied to every row. */
  def map(f: TreeRow => TreeRow): Trees

  /** `f`'s output for each partition's rows, partitions in order. */
  def collectPartitions[B: Encoder](f: Iterator[TreeRow] => Iterator[B]): Seq[B]

  /** The same rows, ready to be read more than once. */
  def materialize(): Trees

  /** The rows as a Dataset: the held Dataset, or a local relation. */
  def toDataset: Dataset[TreeRow]

  /** Free the checkpoint this instance's chain holds, if any. */
  def release(): Unit
}

private[graft] object Trees {

  /** The Dataset instance. Checkpoints made by `materialize` on it and
    * on the instances derived from it supersede each other: each new one
    * releases the previous, and the last one is the caller's.
    */
  def apply(forest: Dataset[TreeRow]): Trees = new Distributed(forest, new Held(null))

  /** `Spark.placed`'s pick and the row count; `materialize` supersedes a checkpoint made here. */
  def of(forest: Dataset[TreeRow], localMaxTrees: Long): (Trees, Long) =
    Spark.placed(forest, localMaxTrees) match {
      case Spark.OnDriver(rows) => (new Local(forest.sparkSession, rows.toVector), rows.length.toLong)
      case Spark.InSpark(ds, n, owned) => (new Distributed(ds, new Held(if (owned) ds else null)), n)
    }

  private final class Held(var ckpt: Dataset[TreeRow])

  private final class Distributed(ds: Dataset[TreeRow], held: Held) extends Trees {
    val spark: SparkSession = ds.sparkSession

    def map(f: TreeRow => TreeRow): Trees = {
      import spark.implicits._
      new Distributed(ds.map(f), held)
    }

    def collectPartitions[B: Encoder](f: Iterator[TreeRow] => Iterator[B]): Seq[B] =
      ds.mapPartitions(f).collect().toSeq

    def materialize(): Trees =
      if (ds eq held.ckpt) this
      else {
        val c = Spark.checkpoint(ds)
        release()
        held.ckpt = c
        new Distributed(c, held)
      }

    def toDataset: Dataset[TreeRow] = ds

    def release(): Unit = if (held.ckpt != null) Spark.release(held.ckpt)
  }

  private final class Local(val spark: SparkSession, rows: Vector[TreeRow]) extends Trees {

    private def chunked[B](f: Vector[TreeRow] => B): Vector[B] = {
      val n = math.max(1, spark.sparkContext.defaultParallelism)
      val chunks = rows.grouped(math.max(1, (rows.size + n - 1) / n)).toVector
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.traverse(chunks)(c => Future(f(c))), Duration.Inf)
    }

    def map(f: TreeRow => TreeRow): Trees = new Local(spark, chunked(_.map(f)).flatten)

    def collectPartitions[B: Encoder](f: Iterator[TreeRow] => Iterator[B]): Seq[B] =
      chunked(c => f(c.iterator).toVector).flatten

    def materialize(): Trees = this

    def toDataset: Dataset[TreeRow] = {
      import spark.implicits._
      rows.toDS()
    }

    def release(): Unit = ()
  }
}
