package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Global contiguous ranking — "sort the whole corpus and number every
  * row" — the curriculum-ordering / global-shard-assignment step of a
  * training-data pipeline (easy→hard schedules, deterministic
  * round-robin sharding, reproducible corpus ordering).
  *
  * A naive `row_number() over (ORDER BY …)` funnels the entire corpus
  * through ONE task (Spark warns WindowExec "No Partition Defined") —
  * the classic 100 TB cliff. This is the same two-phase parallel scan
  * as [[Packing.packByTokenBudget]], with per-row weight 1:
  * range-partition by the sort key (every partition ranks in
  * parallel), per-partition local row numbering in one pass, then a
  * partitions-count-sized offset scan broadcast back. Output is
  * bit-identical to the single-task window for ANY partitioning.
  *
  * The rank order is `(orderCol asc, idCol asc)`; `idCol` must be
  * unique, making the total order — and therefore every rank — well
  * defined. Descending curricula pass a negated order column.
  */
object Ranking {

  /** (id, order value, rank) for every row, rank 1-based contiguous in
    * `(orderCol, idCol)` order.
    */
  def globalRank(
      df: DataFrame,
      idCol: String,
      orderCol: String,
      partitions: Int = 0,
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val parts =
      if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = df
      .select(col(idCol).cast("long").as("id"), col(orderCol).cast("long").as("ord"))
      .repartitionByRange(parts, col("ord"), col("id"))
      .sortWithinPartitions("ord", "id")
      .as[(Long, Long)]

    // same pid-freeze rationale as Packing: the runtime partition id is
    // only the range-shuffle index while this stage shape executes, so
    // the local numbering is checkpointed before anything downstream
    // can fuse or re-task the stage
    val localScanned = graft.util.Spark.checkpoint(
      ranged.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var n = 0L
        it.map { case (id, ord) =>
          n += 1
          (pid, id, ord, n)
        }
      }).toDF("pid", "id", "ord", "local_rank")

    val counts = localScanned.groupBy("pid").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offs = counts.map(_._2).scanLeft(0L)(_ + _).init
    val offsets = counts.map(_._1).zip(offs).toSeq.toDF("pid", "offset")

    localScanned
      .join(broadcast(offsets), "pid")
      .select(
        col("id"),
        col("ord"),
        (col("local_rank") + col("offset")).as("rank"))
  }
}
