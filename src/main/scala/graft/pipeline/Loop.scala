package graft.pipeline

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.execution.LogicalRDD

/** The one materialization discipline for iterative operators (the
  * Pregelix superstep: every round is the same dataflow step, materialized
  * the same way). Each loop-carried generation goes through [[materialize]]
  * and is released with [[free]] once the next generation supersedes it.
  */
object Loop {

  /** Compute `df` now (eager localCheckpoint) and read it back through a
    * BARE LogicalRDD over the checkpointed InternalRow RDD: fresh attribute
    * ids and no carried statistics, partitioning or ordering.
    *
    * Dropping the statistics is what matters. A plain localCheckpoint
    * carries the origin plan's sizeInBytes, and in a self-join loop those
    * estimates multiply — pointer-doubling squares them every step, and
    * within a few rounds the driver sat in million-digit BigInteger
    * products inside SizeInBytesOnlyStatsPlanVisitor (22 min of driver CPU
    * on a 160-node Borůvka graph). The bare relation falls back to
    * `spark.sql.defaultSizeInBytes`, so every product stays word-sized and
    * each round's plan is one leaf, whatever the round count. Reading the
    * InternalRow RDD directly, rather than `ck.rdd` through
    * `createDataFrame`, skips a Row decode/re-encode on every read.
    */
  def materialize(df: DataFrame): DataFrame = {
    val lr = df.localCheckpoint().queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    GraftColumnBridge.ofRows(df.sparkSession,
      LogicalRDD(lr.output.map(_.newInstance()), lr.rdd)(session))
  }

  /** Release the block-store blocks behind a SUPERSEDED generation. An eager
    * localCheckpoint persists its RDD (MEMORY_AND_DISK) and nothing else
    * unpersists it, so a fixpoint that never frees keeps one resident
    * snapshot per round; at the 100× rung those overflow the storage
    * fraction and every later round pays eviction and spill (gr_scc
    * t100/t60 = 1.95 against a linear 1.67). Every LogicalRDD in `df`'s
    * plan is unpersisted, so call it on a [[materialize]]d frame, never on
    * a frame derived from one that is still live.
    */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ =>
    }
}
