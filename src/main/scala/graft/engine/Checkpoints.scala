package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Frames pinned by `localCheckpoint` are released by their owner as soon
  * as nothing reads them, instead of waiting for a driver GC to let Spark's
  * ContextCleaner drop the blocks. */
object Checkpoints {
  /** Drops the blocks of a frame pinned by `localCheckpoint`: its plan is a
    * `LogicalRDD` over the checkpointed RDD. */
  def release(pinned: DataFrame): Unit =
    pinned.queryExecution.logical.collectFirst {
      case r: LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = true))
}
