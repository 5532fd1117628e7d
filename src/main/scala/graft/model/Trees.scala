package graft.model

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The operations the rewrite loop and the clusterer's fit run over a
  * forest: map every tree, and run a function per partition and collect
  * what it returns. `materialize` marks rows that later steps read more
  * than once. Two instances:
  *
  *   - [[Trees.apply]] keeps the forest a `Dataset[TreeRow]`: `map` is a
  *     lazy row map, `collectPartitions` one Spark job, and `materialize`
  *     a checkpoint that releases the one it supersedes;
  *   - [[Trees.local]] holds a small forest as a driver `Vector`, cut
  *     into `defaultParallelism` chunks that run on the global execution
  *     context: no Spark job, no encoder, no tree (de)serialization.
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

  /** The rows as a Dataset: the held Dataset, or a checkpoint of the
    * driver rows.
    */
  def toDataset: Dataset[TreeRow]
}

private[graft] object Trees {

  /** The Dataset instance. Checkpoints made by `materialize` on it and
    * on the instances derived from it supersede each other: each new one
    * releases the previous, and the last one is the caller's.
    */
  def apply(forest: Dataset[TreeRow]): Trees = new Distributed(forest, new Held)

  /** The driver instance over rows already collected. */
  def local(spark: SparkSession, rows: Vector[TreeRow]): Trees = new Local(spark, rows)

  private final class Held { var ckpt: Dataset[TreeRow] = null }

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
        val c = graft.util.Spark.checkpoint(ds)
        if (held.ckpt != null) graft.util.Spark.release(held.ckpt)
        held.ckpt = c
        new Distributed(c, held)
      }

    def toDataset: Dataset[TreeRow] = ds
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
      graft.util.Spark.checkpoint(rows.toDS())
    }
  }
}
